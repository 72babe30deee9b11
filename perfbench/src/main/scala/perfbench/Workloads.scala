package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import graft.{QueryDef, Tables}
import graft.graph.{Communities, KCore, PageRank, Triangles}
import graft.ml.Recommend
import graft.ops.Statistics
import graft.pipeline.Curation
import graft.streaming.{Rescoring, StreamPipeline}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One closed-loop operation's result: outputs to check, invariant
  * violations, and (traced reps only) work to time after the rep,
  * traced under its own unit `<rep>-after` so that the rep's engine
  * figures do not count it.
  */
final case class Rep(outputs: Seq[Output], violations: Seq[String],
    after: () => Unit = () => ())

/** The three workloads. Each calls only the program's public layer
  * functions and forces every result with `collect` or a write.
  */
final class Workloads(spark: SparkSession, o: Opts, cores: Int) {
  private val sc = spark.sparkContext
  private val tracer = new Tracer(sc)
  private def span[T](name: String)(body: => T): T = tracer.span(name)(body)
  def traceJson: Json.V = tracer.toJson

  /** Generator lateness (p99, ms) above which an open-loop run counts
    * as failed: the offered load was not the load the benchmark claims.
    */
  val MaxLateMsP99 = 100.0
  /** Micro-batches fed before the stream's open loop starts. */
  val PrimeBatches = 2

  private def collect(q: QueryDef, d: String, kind: String = "oracle")
      : Output = {
    val df = q.fn(spark, d)
    Output(q.name, df.collect(), df.schema, kind, q.oracle.getOrElse(""))
  }

  private def spanS(u: String, name: String): Double =
    tracer.spansOf(u).filter(_.name == name)
      .map(s => (s.endMs - s.startMs) / 1000.0).sum

  private def spanJobs(u: String, name: String): Seq[JobRec] =
    tracer.jobsWhere(j => j.unit == u && j.span == name)

  private def jobS(js: Seq[JobRec]): Double =
    js.map(j => j.endMs - j.startMs).filterNot(_.isNaN).sum / 1000.0

  /** Drive `body` as a closed loop with one client for a fixed number
    * of reps, whatever their speed: one untraced, four traced
    * (`o.seconds` applies only to the stream). There is no warmup: each
    * workload is a batch job that a user starts as a new application per
    * snapshot, so the first rep in a fresh JVM is what the user waits
    * for. With tracing on, the reps are traced, untraced, traced, untraced:
    * per-layer numbers come from the first (the same cold rep the
    * end-to-end run measures), and the tracing overhead is the third
    * minus the mean of its neighbours, which cancels a linear warming
    * trend.
    */
  private def closedLoop(body: String => Rep,
      layers: String => Map[String, Double]): Report = {
    var reference: Option[Seq[(String, Int)]] = None
    val errors = Seq.newBuilder[String]
    val walls = Seq.newBuilder[(Double, Boolean)]
    val traced = Seq.newBuilder[Map[String, Double]]
    var failed = 0L
    var checked = Seq.empty[Output]
    var peak = 0.0
    val measureStart = Clock.ms()
    val reps = if (o.trace) 4 else 1
    for (i <- 0 until reps) {
      val trace = o.trace && i % 2 == 0
      val unit = s"rep-$i"
      val dir = Inputs.copy(o.input, s"${o.work}/$unit")
      if (trace) tracer.begin(unit)
      val t0 = Clock.ms()
      val res =
        try Right(span("rep")(body(dir)))
        catch { case e: Exception => Left(e) }
      val wall = Clock.ms() - t0
      if (trace) {
        tracer.end()
        val engine = tracer.engine(tracer.jobsWhere(_.unit == unit), t0,
          wall, cores)
        tracer.begin(s"$unit-after")
        res.foreach(_.after())
        tracer.end()
        traced += engine ++ layers(unit)
      }
      walls += ((wall, trace))
      val bad = res match {
        case Left(e) => Seq(s"$unit: ${e.getClass.getSimpleName}: " +
          e.getMessage)
        case Right(r) =>
          val digest = r.outputs.map(x => x.name -> x.digest)
          if (reference.isEmpty) { reference = Some(digest); checked = r.outputs }
          r.violations.map(v => s"$unit: $v") ++
            (if (reference.contains(digest)) Nil
             else Seq(s"$unit: output differs from the checked rep"))
      }
      if (bad.nonEmpty) { failed += 1; errors ++= bad }
      peak = math.max(peak, Heap.liveMbAfterGc())
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      Inputs.delete(dir)
    }
    val all = walls.result()
    val layer = traced.result().headOption.getOrElse(Map.empty)
    val overhead = if (all.size < 4) 0.0
      else all(2)._1 - (all(1)._1 + all(3)._1) / 2
    Report((measureStart - o.t0Ms) / 1000.0, all.filterNot(_._2).map(_._1),
      all.size, failed, errors.result(), peak,
      layer + ("trace.overhead_ms" -> overhead), checked, Nil)
  }

  // ---- refresh: statistics batch job + offline ALS job ---------------

  def refresh(): Report = closedLoop(d => {
    span("sources.ratings")(Tables.cachedRatings(spark, d))
    val stats = span("ops.stats")(Seq(Statistics.rateMoreProducts,
      Statistics.rateMoreRecently, Statistics.averageScore)
      .map(collect(_, d)))
    span("ml.fit")(Recommend.model(spark, d))
    val recs = span("ml.recs")(collect(Recommend.userRecs, d))
    val sims = span("ml.sims")(collect(Recommend.itemSims, d))
    Rep(stats, userRecsViolations(recs.rows) ++ itemSimsViolations(sims.rows))
  }, u => Map(
    "sources.ratings_s" -> spanS(u, "sources.ratings"),
    "ops.stats_s" -> spanS(u, "ops.stats"),
    "ops.stats_jobs" -> spanJobs(u, "ops.stats").size.toDouble,
    "ml.fit_s" -> spanS(u, "ml.fit"),
    "ml.fit_jobs" -> spanJobs(u, "ml.fit").size.toDouble,
    "ml.recs_s" -> spanS(u, "ml.recs"),
    "ml.sims_s" -> spanS(u, "ml.sims")))

  /** The q20 gate: at most TopK recs per user, scores non-increasing in
    * rank. Rows are (user_id, rank, product_id, score) in user/rank order.
    */
  private def userRecsViolations(rows: Array[Row]): Seq[String] = {
    val byUser = rows.groupBy(_.getLong(0))
    val over = byUser.count(_._2.length > Recommend.TopK)
    val disorder = byUser.values.map(_.sortBy(_.getInt(1)).map(_.getDouble(3))
      .sliding(2).count(p => p.length == 2 && p(1) > p(0) + 1e-6)).sum
    if (rows.isEmpty) Seq("q20: no recommendations")
    else if (over + disorder > 0)
      Seq(s"q20: $over users over top-k, $disorder score-order breaks")
    else Nil
  }

  /** The q22 gate: every sim in (threshold, 1], at most TopK per product.
    * Rows are (product_id, sim_product_id, sim, rank).
    */
  private def itemSimsViolations(rows: Array[Row]): Seq[String] = {
    val bad = rows.count { r =>
      val s = r.getDouble(2)
      s <= Recommend.SimThreshold || s > 1.0 + 1e-9
    }
    val over = rows.groupBy(_.getLong(0)).count(_._2.length > Recommend.TopK)
    if (bad + over > 0) Seq(s"q22: $bad sims off threshold, $over over top-k")
    else Nil
  }

  // ---- curate_graph: q153 curation spine, then the graph pass -------

  /** One rep is q153 (dedup span removal, text perplexity, DSIR
    * sampling and the localCheckpoint spine) followed by the graph pass
    * (edge build, q126 k-core, q148 label propagation, q81 PageRank).
    */
  def curateGraph(): Report = closedLoop(d => {
    val cur = span("pipeline.q153")(
      collect(Curation.pipelineV3, d, "curation"))
    span("graph.edges") {
      Triangles.cachedWeightedEdges(spark, d)
      Triangles.cachedUndirectedEdges(spark, d)
    }
    val kc = span("graph.kcore")(collect(KCore.kCoreQ, d, "kcore"))
    val lpa = span("graph.lpa")(collect(Communities.labelPropagationQ, d))
    val pr = span("graph.pagerank")(collect(PageRank.pageRankQ, d))
    val outs = Seq(cur, kc, lpa, pr)
    Rep(outs, outs.filter(_.rows.isEmpty).map(x => s"${x.name}: empty"),
      // the span-removal layer q153 starts with, timed on its own on
      // the same input: q153 calls it lazily, so none of q153's jobs is
      // attributed to it
      () => span("dedup.spans") {
        graft.dedup.Dedup.removeSharedSpansCore(
          Tables.documents(spark, d).select("doc_id", "text"))
          .localCheckpoint()
      })
  }, u => {
    val js = spanJobs(u, "pipeline.q153")
    val text = jobS(js.filter(_.layer == "text"))
    val ml = jobS(js.filter(_.layer == "ml"))
    val dedup = spanS(s"$u-after", "dedup.spans")
    Map("dedup.span_s" -> dedup, "text.ppl_s" -> text, "ml.sampling_s" -> ml,
      "pipeline.jobs" -> js.size.toDouble,
      "pipeline.checkpoint_mb" -> tracer.spansOf(u)
        .filter(_.name == "pipeline.q153").map(tracer.storedMb).sum,
      "pipeline.self_s" -> math.max(0.0,
        spanS(u, "pipeline.q153") - text - ml - dedup),
      "graph.edges_s" -> spanS(u, "graph.edges"),
      "graph.kcore_s" -> spanS(u, "graph.kcore"),
      "graph.kcore_jobs" -> spanJobs(u, "graph.kcore").size.toDouble,
      "graph.lpa_s" -> spanS(u, "graph.lpa"),
      "graph.lpa_jobs" -> spanJobs(u, "graph.lpa").size.toDouble,
      "graph.pagerank_s" -> spanS(u, "graph.pagerank"),
      "graph.pagerank_jobs" -> spanJobs(u, "graph.pagerank").size.toDouble)
  })

  // ---- rescore_stream: open-loop streaming rescorer -------------------

  /** Seeded wire events sent at `o.rate` per second by one generator
    * thread into a MemoryStream feeding `StreamPipeline.start`. Each
    * event is timed from its due time to the commit of the micro-batch
    * that upserted its user's recs.
    */
  def rescoreStream(): Report = {
    import spark.implicits._
    val d = o.input
    val ratings = Tables.cachedRatings(spark, d)
    val capped = Rescoring.cappedRecent(ratings).localCheckpoint()
    val sims = Rescoring.coocSimsFromCapped(
      capped.select("userId", "productId")).localCheckpoint()
    val rated = ratings.select("userId", "productId").distinct()
      .localCheckpoint()
    val recsDir = s"${o.work}/recs"
    // full-size recs table before the first batch, so every upsert
    // rewrites a table of the serving size
    def prepopulated: DataFrame = Rescoring.rescore(capped, sims, rated)
    prepopulated.write.parquet(recsDir)
    val lines = Files.readAllLines(Paths.get(d, "stream.txt")).asScala
      .filter(_.nonEmpty).toIndexedSeq

    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val input = MemoryStream[String](spark)
    val query = StreamPipeline.start(spark, input.toDF(), sims, rated,
      recsDir, s"${o.work}/checkpoint")

    val n = lines.size
    val dueMs = new Array[Double](n)
    val sentMs = new Array[Double](n)
    val offset = new Array[Long](n)
    // The first micro-batches of a fresh JVM take about 5 s against the
    // 2 s trigger; sent open-loop, their backlog runs on into the
    // measured window. Feed them first, one trigger's worth at a time,
    // and start the open loop after.
    val perTrigger = (2 * o.rate).toInt
    val primed = math.min(PrimeBatches * perTrigger, n)
    for (k <- 0 until primed by perTrigger) {
      lines.slice(k, math.min(k + perTrigger, primed)).foreach(input.addData(_))
      query.processAllAvailable()
    }
    val startMs = Clock.ms() + 100
    val measureFrom = startMs + o.streamWarmupS * 1000
    val endMs = measureFrom + o.seconds * 1000
    val traceFrom = measureFrom + o.seconds * 500
    @volatile var sent = primed
    @volatile var genError: Option[Throwable] = None
    val gen = new Thread(() => {
      try {
        var i = primed
        var due = startMs
        while (i < n && due < endMs) {
          var now = Clock.ms()
          while (now < due) {
            LockSupport.parkNanos(((due - now) * 1e6).toLong)
            now = Clock.ms()
          }
          offset(i) = input.addData(lines(i)).json().toLong
          sentMs(i) = Clock.ms()
          dueMs(i) = due
          i += 1
          sent = i
          due = startMs + (i - primed) * 1000.0 / o.rate
        }
      } catch { case e: Throwable => genError = Some(e) }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    while (gen.isAlive) {
      if (o.trace && !tracer.active && Clock.ms() >= traceFrom)
        tracer.begin("stream")
      Thread.sleep(20)
    }
    val errors = Seq.newBuilder[String]
    genError.foreach(e => errors += s"generator: $e")
    try query.processAllAvailable()
    catch { case e: Exception => errors += s"stream: $e" }
    // live data with the stream's state and sims still held
    val heapPeak = Heap.liveMbAfterGc()
    if (tracer.active) tracer.end()
    query.stop()
    org.apache.spark.graft.ListenerBridge.drain(sc, 10000)
    spark.streams.removeListener(listener)

    // commit time of each batch, and the first batch holding each event
    val batches = progress.asScala.toSeq
      .filter(p => p.sources.nonEmpty && p.sources.head.endOffset != null &&
        p.numInputRows > 0)
      .sortBy(_.batchId)
    def startOf(p: StreamingQueryProgress): Double =
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val commits = batches.map(p =>
      (p.sources.head.endOffset.trim.toLong, startOf(p) + p.batchDuration))
    val total = sent
    val measured = (0 until total).filter(i => dueMs(i) >= measureFrom)
    def commitOf(i: Int): Option[Double] =
      commits.find(_._1 >= offset(i)).map(_._2)
    val latency = measured.map(i => i -> commitOf(i).map(_ - dueMs(i)))
    val late = measured.map(i => sentMs(i) - dueMs(i))
    val lateP99 = Stats.quantile(late, 0.99)

    // correctness: the final table equals the rescore over each user's
    // final recent-K of every event sent, over the prepopulated table
    val ev = Rescoring.extractRatings(lines.take(total).toDF("value"))
    val recent = ev.withColumn("rn", row_number().over(
        Window.partitionBy("userId").orderBy(desc("ts"), desc("productId"))))
      .filter(col("rn") <= Rescoring.RecentK)
      .select("userId", "productId", "score")
    val fresh = Rescoring.rescore(recent, sims, rated)
    val expected = prepopulated
      .join(fresh.select("userId").distinct(), Seq("userId"), "left_anti")
      .unionByName(fresh)
    val got = spark.read.parquet(recsDir)
    val badUsers = expected.exceptAll(got).select("userId")
      .union(got.exceptAll(expected).select("userId")).distinct()
      .collect().map(_.getInt(0)).toSet
    if (badUsers.nonEmpty)
      errors += s"recs table differs from the rescore for ${badUsers.size} users"
    val userOf = ev.select("userId").collect().map(_.getInt(0))
    val failedEvents = latency.count { case (i, l) =>
      l.isEmpty || badUsers(userOf(i)) }
    val uncommitted = latency.count(_._2.isEmpty)
    if (uncommitted > 0) errors += s"$uncommitted events never committed"
    val tooLate = lateP99 > MaxLateMsP99
    if (tooLate) errors += f"generator fell behind: late p99 $lateP99%.1f ms"
    val failed = if (tooLate || genError.isDefined) measured.size.toLong
      else failedEvents.toLong

    val inWindow = batches.filter(p => startOf(p) >= measureFrom)
    def med(f: StreamingQueryProgress => Double): Double =
      Stats.median(inWindow.map(f))
    def dur(k: String)(p: StreamingQueryProgress): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double)
        (p: StreamingQueryProgress): Double =
      p.stateOperators.headOption.map(f).getOrElse(0.0)
    val perBatch = inWindow.filter(p => startOf(p) >= traceFrom).map { p =>
      val js = tracer.jobsWhere(_.batch.contains(p.batchId))
      tracer.engine(js, startOf(p), p.batchDuration.toDouble, cores) +
        ("streaming.jobs_per_batch" -> js.size.toDouble)
    }
    val engine = Stats.medians(perBatch)
    val lat = latency.flatMap { case (i, l) => l.map(dueMs(i) -> _) }
    def latIn(lo: Double, hi: Double) =
      Stats.median(lat.filter(x => x._1 >= lo && x._1 < hi).map(_._2))
    val layer = engine ++ Map(
      "streaming.write_mb_per_batch" -> engine.getOrElse("engine.write_mb", 0.0),
      "streaming.batch_ms" -> med(_.batchDuration.toDouble),
      "streaming.addbatch_ms" -> med(dur("addBatch")),
      "streaming.wal_ms" -> med(dur("walCommit")),
      "streaming.state_rows" -> med(state(_.numRowsTotal.toDouble)),
      "streaming.state_mb" -> med(state(_.memoryUsedBytes / 1e6)),
      "streaming.state_commit_ms" -> med(state(_.commitTimeMs.toDouble)),
      "streaming.rows_per_batch" -> med(_.numInputRows.toDouble),
      "gen.late_ms_p99" -> lateP99,
      "trace.overhead_ms" -> (latIn(traceFrom, endMs) -
        latIn(measureFrom, traceFrom)))
    Report((measureFrom - o.t0Ms) / 1000.0,
      if (o.trace) lat.filter(_._1 < traceFrom).map(_._2) else lat.map(_._2),
      measured.size.toLong, failed, errors.result(), heapPeak, layer, Nil,
      Seq("stream" -> Json.obj("events_sent" -> total,
        "rate_per_s" -> o.rate,
        "batch_ms" -> Json.arr(batches.map(p => Json.num(p.batchDuration))),
        "batch_rows" -> Json.arr(batches.map(p => Json.num(p.numInputRows))),
        "batch_start_s" -> Json.arr(batches.map(p =>
          Json.num((startOf(p) - measureFrom) / 1000.0))))))
  }
}
