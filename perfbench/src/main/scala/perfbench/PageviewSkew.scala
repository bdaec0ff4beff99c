package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.{Pageview, PageviewGen}
import graft.streaming.WatermarkPipeline

/** The reference dataflow: two pageview inputs at one event per second of
  * event time, skewed by one day (input A covers days 1-2, input B days
  * 2-3), unioned under min-of-inputs watermarks into hourly counts per
  * url. The closed loop adds one hour of each input (one "chunk") and
  * waits for every trigger it causes before adding the next; a pass is
  * the 48 chunks of the two inputs, on a fresh query. */
final class PageviewSkew(spark: SparkSession, seed: Long, work: String, tr: Tracer)
    extends Workload {
  import spark.implicits._

  private val Hour = 3600000L
  private val Start = java.time.Instant.parse("2016-02-01T00:00:00Z").toEpochMilli
  private val Chunks = 48

  private def generate(): (IndexedSeq[Seq[Pageview]], IndexedSeq[Seq[Pageview]]) = {
    def input(from: Long, s: Long) =
      PageviewGen.randomPageviews(from, from + Chunks * Hour, 1000L, s).grouped(3600).toIndexedSeq
    (input(Start, 2 * seed + 1), input(Start + 24 * Hour, 2 * seed + 2))
  }
  private lazy val (inA, inB) = generate()

  private final case class Emitted(pass: Int, batch: Long, arrivalNs: Long,
                                   start: Long, end: Long, url: String, cnt: Long)
  private val emitted = new ConcurrentLinkedQueue[Emitted]()
  private val chunkLog = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val sinkMs = new ConcurrentLinkedQueue[java.lang.Double]()
  private var passes = 0
  private var dropped = 0L

  private def startQuery(pass: Int): (MemoryStream[Pageview], MemoryStream[Pageview], StreamingQuery) = {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val a = MemoryStream[Pageview]
    val b = MemoryStream[Pageview]
    val sink: (DataFrame, Long) => Unit = (df, batch) => {
      val t0 = System.nanoTime()
      val rows = df.collect()
      val at = System.nanoTime()
      rows.foreach { r =>
        emitted.add(Emitted(pass, batch, at, r.getTimestamp(0).getTime,
          r.getTimestamp(1).getTime, r.getString(2), r.getLong(3)))
      }
      sinkMs.add((System.nanoTime() - t0) / 1e6)
    }
    val q = WatermarkPipeline.windowedCounts(Seq(a.toDS(), b.toDS()))
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$work/checkpoints/pass-$pass-${System.nanoTime()}")
      .foreachBatch(sink)
      .start()
    (a, b, q)
  }

  /** The program's set-up: generate both inputs and bring a query up. */
  def setup(): Unit = {
    generate()
    val (_, _, q) = startQuery(-1)
    q.processAllAvailable()
    q.stop()
  }

  /** One pass of `n` chunks on a fresh query. */
  private def pass(ops: Ops, n: Int, measured: Boolean): Unit = {
    val p = passes
    passes += 1
    val (a, b, q) = startQuery(p)
    try {
      var c = 0
      while (c < n) {
        val addNs = System.nanoTime()
        val ok = ops.run("chunk") {
          tr.span("streaming", "source_add") { a.addData(inA(c)); b.addData(inB(c)) }
          tr.span("streaming", "wait") { q.processAllAvailable() }
        }.isDefined
        chunkLog.add(Map("pass" -> p, "chunk" -> c, "add_ns" -> addNs,
          "done_ns" -> System.nanoTime(), "ok" -> ok, "measured" -> measured,
          "events" -> (inA(c).size + inB(c).size),
          "max_ts_a" -> inA(c).last.ts.getTime, "max_ts_b" -> inB(c).last.ts.getTime))
        c += 1
      }
    } finally q.stop()
    dropped += q.recentProgress.iterator.flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum
  }

  /** Half a pass: the JIT keeps improving for several passes, so this
    * only takes the first, steepest part of warm-up off the clock. */
  def warmup(ops: Ops): Unit = pass(ops, Chunks / 2, measured = false)

  /** Whole passes, one per 20 s of `seconds` (a pass takes about 20 s at
    * local[4]), so every run does the same work. */
  def measure(ops: Ops, seconds: Double): Unit = {
    sinkMs.clear()
    (1 to math.max(1, math.round(seconds / 20).toInt)).foreach(_ => pass(ops, Chunks, measured = true))
    sinkMs.asScala.foreach(v => ops.add("sink", v))
  }

  def check: Map[String, Any] = {
    val all = (inA.flatten ++ inB.flatten).toDF()
    val expected = WatermarkPipeline.windowedCountsBatch(all).collect().map { r =>
      Map("start" -> r.getTimestamp(0).getTime, "end" -> r.getTimestamp(1).getTime,
        "url" -> r.getString(2), "cnt" -> r.getLong(3))
    }.toSeq
    Map("chunks" -> chunkLog.asScala.toSeq,
      "emitted" -> emitted.asScala.toSeq.map(e => Map("pass" -> e.pass,
        "batch" -> e.batch, "arrival_ns" -> e.arrivalNs, "start" -> e.start,
        "end" -> e.end, "url" -> e.url, "cnt" -> e.cnt)),
      "expected" -> expected,
      "rows_dropped_by_watermark" -> dropped)
  }
}
