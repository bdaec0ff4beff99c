package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Attempted and failed operations of one measured segment, and the
  * timings of the ones that succeeded. A failed operation contributes no
  * timing: time-to-crash is not a measurement. */
final class Ops {
  var attempted = 0L
  var failed = 0L
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val counters = mutable.LinkedHashMap.empty[String, Double]

  def add(kind: String, v: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty[Double]) += v

  /** Run one operation; its wall time in ms goes to `kind`. */
  def run[T](kind: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      add(kind, (System.nanoTime() - t0) / 1e6)
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] $kind failed: $e")
        None
    }
  }

  def toMap: Map[String, Any] = Map("attempted" -> attempted, "failed" -> failed,
    "samples" -> samples.map { case (k, v) => k -> v.toSeq }.toMap,
    "counters" -> counters.toMap)
}

/** One workload: the program's set-up (run several times, each on its
  * own), a warm-up, the measured closed loop, and the data its output
  * check needs. */
trait Workload {
  def setup(): Unit
  def warmup(ops: Ops): Unit
  /** The measured closed loop: a fixed amount of work sized to take
    * about `seconds` here, so that runs compare like for like. */
  def measure(ops: Ops, seconds: Double): Unit
  /** Per-layer counts taken after the traced segment, outside any span. */
  def probe(ops: Ops): Unit = ()
  def check: Map[String, Any]
}

/** Runs one workload in one JVM and writes every raw measurement as JSON;
  * `run.py` checks the outputs and derives the metrics.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --cpus N
  *       --data DIR (generated inputs) --work DIR (scratch) --out FILE */
object Main {
  private def session(cpus: Int, work: String): SparkSession = {
    // the engine's bench session shape (graft.Bench), with warehouse and
    // spill directories inside the benchmark's scratch directory
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak resident set of this JVM in MB (VmHWM), or -1 where unreadable. */
  private def peakRssMb(): Double =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    } catch { case NonFatal(_) => -1.0 }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    def phase(what: String, t0: Long): Unit =
      System.err.println(f"[perfbench] $what: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val tSession = System.nanoTime()
    val spark = session(opt("cpus").toInt, work)
    phase("session", tSession)
    val tracer = new Tracer(spark)
    val w: Workload = name match {
      case "pageview_skew" => new PageviewSkew(spark, seed, work, tracer)
      case "catalog_sweep" => new CatalogSweep(spark, opt("data"), work, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tWarm = System.nanoTime()
    val warm = new Ops
    w.warmup(warm)
    phase("warm-up", tWarm)
    // set-up is timed in the warm JVM, so JIT compilation does not sit in
    // the first of its repetitions
    val tSetup = System.nanoTime()
    val setupS = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      w.setup()
      (System.nanoTime() - t0) / 1e9
    }
    phase("set-up x5", tSetup)
    // one segment: the untraced run gives the end-to-end numbers, the
    // traced run the per-layer ones
    val seg = if (traced) "traced" else "untraced"
    val ops = new Ops
    if (traced) tracer.start()
    val t0 = System.nanoTime()
    w.measure(ops, seconds)
    ops.counters("wall_s") = (System.nanoTime() - t0) / 1e9
    // what the run leaves live on the heap: full collections first, so the
    // figure does not depend on when the last one happened; the pause lets
    // Spark's ContextCleaner release what the first one found unreachable
    System.gc()
    Thread.sleep(500)
    System.gc()
    val retainedMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    if (traced) { tracer.stop(); w.probe(ops) }
    val segments = Map(seg -> ops.toMap)
    val tCheck = System.nanoTime()
    val check = w.check
    phase("check data", tCheck)
    val out = Map(
      "workload" -> name,
      "cpus" -> opt("cpus").toInt,
      "setup_s" -> setupS,
      "warmup" -> warm.toMap,
      "segments" -> segments,
      "check" -> check,
      "peak_rss_mb" -> peakRssMb(),
      "retained_heap_mb" -> retainedMb,
      "trace" -> (if (traced) tracer.records else Map.empty))
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new java.io.File(opt("out")), out)
    spark.stop()
  }
}
