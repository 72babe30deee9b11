package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Command-line options, passed by `run.py`. */
final case class Opts(workload: String, input: String, work: String,
    seconds: Double, trace: Boolean, t0Ms: Double, rate: Double,
    streamWarmupS: Double, result: String, traceOut: String)

/** A collected query result kept for the check `run.py` makes: `kind`
  * "oracle" compares with the query's DuckDB oracle SQL, "kcore" with a
  * k-core peeled to its fixpoint, "curation" checks q153's invariants.
  */
final case class Output(name: String, rows: Array[Row], schema: StructType,
    kind: String, oracle: String) {
  def digest: Int = scala.util.hashing.MurmurHash3.orderedHash(
    rows.iterator.map(_.toString))
}

/** What one workload reports back to [[Main]]. */
final case class Report(setupS: Double, opsMs: Seq[Double],
    attempted: Long, failed: Long, errors: Seq[String],
    peakHeapMb: Double, perLayer: Map[String, Double],
    outputs: Seq[Output], extra: Seq[(String, Json.V)])

/** Benchmark entry point: one workload in one Spark session, measured
  * from outside through the program's public layer functions.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val o = Opts(a("--workload"), a("--input"), a("--work"),
      a("--seconds").toDouble, a("--trace") == "1", a("--t0-ms").toDouble,
      a("--rate").toDouble, a("--stream-warmup").toDouble, a("--result"),
      a("--trace-out"))
    val load0 = Host.loadavg()
    val calib0 = Host.calibrate()
    val host0 = Json.obj("loadavg" -> load0, "calibration_s" -> calib0)
    // the provenance loop is harness time, not the system's set-up
    val opts = o.copy(t0Ms = o.t0Ms + calib0 * 1000)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.Scale.sessionBuilder("perfbench", cores.toString)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (Clock.ms() - opts.t0Ms) / 1000.0
    val w = new Workloads(spark, opts, cores)
    val report = o.workload match {
      case "refresh" => w.refresh()
      case "curate_graph" => w.curateGraph()
      case "rescore_stream" => w.rescoreStream()
      case other => sys.error(s"unknown workload $other")
    }
    if (o.trace) Files.write(Paths.get(o.traceOut),
      w.traceJson.render.getBytes("UTF-8"))
    writeChecks(spark, o, report.outputs)
    val host1 = Host.snapshot()
    spark.stop()
    val rec = Json.obj(
      (Seq[(String, Json.V)](
        "workload" -> o.workload,
        "setup_s" -> report.setupS,
        "session_ready_s" -> sessionS,
        "ops_ms" -> Json.arr(report.opsMs.map(Json.num)),
        "attempted" -> report.attempted,
        "failed" -> report.failed,
        "errors" -> Json.arr(report.errors.map(Json.str)),
        "peak_live_heap_mb" -> report.peakHeapMb,
        "per_layer" -> Json.nums(report.perLayer),
        "checks" -> Json.arr(report.outputs.map(out => Json.obj(
          "name" -> out.name, "dir" -> s"${o.work}/check/${out.name}",
          "kind" -> out.kind, "oracle" -> out.oracle,
          "limit" -> graft.pipeline.Curation.SelectNV3))),
        "host" -> Json.obj("nproc" -> cores,
          "before" -> host0, "after" -> host1)) ++ report.extra): _*)
    Files.write(Paths.get(o.result), rec.render.getBytes("UTF-8"))
  }

  /** Write each checked output as parquet (outside every timed region)
    * for the DuckDB comparison `run.py` makes.
    */
  private def writeChecks(spark: SparkSession, o: Opts,
      outs: Seq[Output]): Unit =
    outs.foreach { out =>
      spark.createDataFrame(java.util.Arrays.asList(out.rows: _*), out.schema)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${o.work}/check/${out.name}")
    }
}

/** Host provenance: load average and a fixed single-core calibration
  * loop, taken before and after the run so host drift can be told
  * apart from a code change.
  */
object Host {
  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8")
      .trim.split(" ").take(3).mkString(" ")
    catch { case _: Exception => "unknown" }

  /** Seconds for 3e8 steps of a 64-bit LCG (0.4-0.5 s on one core of
    * a 4-core x86 VM); compare values across runs, not absolutes.
    */
  def calibrate(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < 300000000L) {
      x = x * 6364136223846793005L + 1442695040888963407L
      i += 1
    }
    val s = (System.nanoTime() - t0) / 1e9
    if (x == 42L) System.err.print("")
    s
  }

  def snapshot(): Json.V =
    Json.obj("loadavg" -> loadavg(), "calibration_s" -> calibrate())

}

/** Live heap: old-generation occupancy right after a collection. */
object Heap {
  private def oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP &&
      (p.getName.contains("Old") || p.getName.contains("Tenured")))

  /** Force a full collection, then read what survived it. Later
    * collections follow Spark's ContextCleaner, which releases the
    * blocks of objects an earlier one found unreachable.
    */
  def liveMbAfterGc(): Double = {
    System.gc()
    for (_ <- 1 to 2) {
      Thread.sleep(200)
      System.gc()
    }
    oldPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6
  }
}

/** Per-rep input copies, so the program's (session, dir) caches miss on
  * every rep as they would on a new snapshot.
  */
object Inputs {
  def copy(from: String, to: String): String = {
    val dst = new File(to)
    dst.mkdirs()
    new File(from).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.copy(f.toPath, new File(dst, f.getName).toPath,
        StandardCopyOption.REPLACE_EXISTING))
    dst.getCanonicalPath
  }

  def delete(path: String): Unit = {
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(path))
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Per-key median over a sequence of metric maps. */
  def medians(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatMap(_.keys).distinct.map(k =>
      k -> median(ms.flatMap(_.get(k)))).toMap
}
