package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a benchmark-side call into a layer. `unit` names the rep
  * (closed loop) the span belongs to; `parent` is the enclosing span's
  * id, or -1.
  */
final case class Span(id: Int, name: String, parent: Int, unit: String,
    startMs: Double, endMs: Double)

final class JobRec(val id: Int, val unit: String, val span: String,
    val layer: String, val batch: Option[Long], val startMs: Double) {
  var endMs: Double = Double.NaN
  var failed = false
}

final case class TaskRec(stageId: Int, runMs: Long, durMs: Long,
    shuffleWriteBytes: Long, spillBytes: Long, inputBytes: Long,
    outputBytes: Long, ok: Boolean)

/** Span recorder plus a `SparkListener` that keeps every job, stage and
  * task record in memory. Jobs carry the enclosing rep and span through
  * local properties, and are attributed to a layer by the innermost
  * `graft.<module>` frame of their call site. Nothing is written until
  * [[toJson]] is called at exit.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val lock = new Object
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val tasks = ArrayBuffer[TaskRec]()
  private val stagesDone = ArrayBuffer[Int]()
  // (arrival ms, bytes) of each RDD block stored: checkpoints and caches
  private val rddBlocks = ArrayBuffer[(Double, Long)]()
  private val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var unit = ""
  @volatile var active = false

  /** Attach the listener and tag jobs of the calling thread with `u`. */
  def begin(u: String): Unit = {
    unit = u
    sc.setLocalProperty(Tracer.UnitProp, u)
    sc.addSparkListener(this)
    active = true
  }

  /** Detach after every queued event of the traced interval arrived. */
  def end(): Unit = {
    active = false
    sc.setLocalProperty(Tracer.UnitProp, null)
    org.apache.spark.graft.ListenerBridge.drain(sc, 10000)
    sc.removeSparkListener(this)
  }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = lock.synchronized(spans.size)
      val parent = stack.headOption.getOrElse(-1)
      val prevProp = sc.getLocalProperty(Tracer.SpanProp)
      lock.synchronized(spans += Span(id, name, parent, unit, Clock.ms(),
        Double.NaN))
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanProp, name)
      try body
      finally {
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp, prevProp)
        lock.synchronized(spans(id) = spans(id).copy(endMs = Clock.ms()))
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val site = if (e.stageInfos.isEmpty) ""
      else e.stageInfos.maxBy(_.stageId).details
    val rec = new JobRec(e.jobId, prop(Tracer.UnitProp).getOrElse(""),
      prop(Tracer.SpanProp).getOrElse(""), Tracer.layerOf(site),
      prop("streaming.sql.batchId").map(_.toLong), e.time.toDouble)
    lock.synchronized {
      jobs(e.jobId) = rec
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time.toDouble
      j.failed = e.jobResult != JobSucceeded
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    lock.synchronized(stagesDone += e.stageInfo.stageId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val rec = if (m == null)
        TaskRec(e.stageId, 0, e.taskInfo.duration, 0, 0, 0, 0, ok = false)
      else TaskRec(e.stageId, m.executorRunTime, e.taskInfo.duration,
        m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled + m.memoryBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
        e.taskInfo.successful)
    lock.synchronized(tasks += rec)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      lock.synchronized(rddBlocks += ((Clock.ms(), b.memSize + b.diskSize)))
  }

  /** Megabytes of RDD blocks stored while span `s` ran. */
  def storedMb(s: Span): Double = lock.synchronized(
    rddBlocks.collect { case (t, n) if t >= s.startMs && t <= s.endMs => n }
      .sum / 1e6)

  def spansOf(u: String): Seq[Span] = lock.synchronized(
    spans.filter(_.unit == u).toSeq)

  def jobsWhere(f: JobRec => Boolean): Seq[JobRec] = lock.synchronized(
    jobs.values.filter(f).toSeq)

  /** Engine counters over `js`, for an interval of `wallMs` starting at
    * `startMs`, on `cores` task slots.
    */
  def engine(js: Seq[JobRec], startMs: Double, wallMs: Double,
      cores: Int): Map[String, Double] = lock.synchronized {
    val ids = js.map(_.id).toSet
    val stageIds = stageJob.collect { case (s, j) if ids(j) => s }.toSet
    val ts = tasks.filter(t => stageIds(t.stageId))
    val byStage = ts.groupBy(_.stageId)
    val skew = byStage.values.filter(_.size >= 2).map { st =>
      val d = st.map(_.durMs.toDouble)
      d.max / math.max(d.sum / d.size, 1.0)
    }
    val taskS = ts.map(_.runMs).sum / 1000.0
    Map(
      "engine.jobs" -> js.size.toDouble,
      "engine.stages" -> stagesDone.count(stageIds).toDouble,
      "engine.tasks" -> ts.size.toDouble,
      "engine.task_s" -> taskS,
      "engine.busy_frac" -> taskS / math.max(wallMs / 1000.0 * cores, 1e-9),
      "engine.driver_s" -> (wallMs - Tracer.covered(js, startMs,
        startMs + wallMs)) / 1000.0,
      "engine.shuffle_write_mb" -> ts.map(_.shuffleWriteBytes).sum / 1e6,
      "engine.spill_mb" -> ts.map(_.spillBytes).sum / 1e6,
      "engine.skew_max" -> (if (skew.isEmpty) 1.0 else skew.max),
      "engine.failed_tasks" -> ts.count(!_.ok).toDouble,
      "sources.scan_mb" -> ts.map(_.inputBytes).sum / 1e6,
      "engine.write_mb" -> ts.map(_.outputBytes).sum / 1e6)
  }

  /** Every span and job, for the trace file written at exit. */
  def toJson: Json.V = lock.synchronized {
    Json.obj(
      "spans" -> Json.arr(spans.toSeq.map(s => Json.obj(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "unit" -> s.unit, "start_ms" -> s.startMs, "end_ms" -> s.endMs))),
      "jobs" -> Json.arr(jobs.values.toSeq.map(j => Json.obj(
        "id" -> j.id, "unit" -> j.unit, "span" -> j.span, "layer" -> j.layer,
        "batch" -> j.batch.map(b => b.toDouble: Json.V).getOrElse(Json.Null),
        "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "failed" -> j.failed))))
  }
}

object Tracer {
  val UnitProp = "perfbench.unit"
  val SpanProp = "perfbench.span"

  private val Frame = """^\s*(?:at\s+)?graft\.([A-Za-z]+)[.$].*""".r

  /** Layer of a job: the innermost `graft.<module>` frame of its call
    * site. Root objects map to their layer: `Tables` is the source layer.
    */
  def layerOf(callSite: String): String =
    callSite.split("\n").collectFirst { case Frame(m) => m } match {
      case Some("Tables") => "sources"
      case Some(m) if m.head.isLower => m
      case Some(_) => "graft"
      case None => "other"
    }

  /** Milliseconds of [lo, hi) during which at least one job ran. */
  def covered(js: Seq[JobRec], lo: Double, hi: Double): Double = {
    val iv = js.map(j => (math.max(j.startMs, lo),
        math.min(if (j.endMs.isNaN) hi else j.endMs, hi)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    for ((a, b) <- iv) {
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, the
  * time base Spark's listener events use.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}
