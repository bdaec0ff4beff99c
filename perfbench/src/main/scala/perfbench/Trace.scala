package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder.
  *
  * Spans are taken on the benchmark's side of each layer boundary (the
  * calls it makes into the engine's modules): layer, name, start, end and
  * the enclosing span. Spark's public listeners supply what happens
  * beneath them — task metrics, job and stage boundaries, planning phases
  * and streaming trigger progress — as timestamped records that are
  * attributed to spans by time after the run. Everything stays in memory
  * and is written out once, at exit. While `on` is false nothing is
  * recorded and no listener is registered, so the untraced run pays for
  * none of it. */
final class Tracer(spark: SparkSession) {
  private val baseNanos = System.nanoTime()
  private val baseMicros = System.currentTimeMillis() * 1000L

  /** Wall-clock microseconds on a monotonic base, comparable with the
    * epoch-millisecond timestamps Spark's listeners report. */
  def nowUs: Long = baseMicros + (System.nanoTime() - baseNanos) / 1000L

  final class Span(val id: Int, val layer: String, val name: String,
                   val parent: Int, val startUs: Long) {
    var endUs: Long = -1L
    def toMap: Map[String, Any] = Map("id" -> id, "layer" -> layer,
      "name" -> name, "parent" -> parent, "start_us" -> startUs, "end_us" -> endUs)
  }

  @volatile private var on = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val tasks = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val plans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()

  /** Time `body` as a span of `layer` when tracing is on; otherwise just
    * run it. Spans nest on the calling (benchmark) thread only. */
  def span[T](layer: String, name: String = "")(body: => T): T =
    if (!on) body
    else {
      val s = new Span(spans.size, layer, if (name.isEmpty) layer else name,
        stack.headOption.fold(-1)(_.id), nowUs)
      spans += s
      stack = s :: stack
      try body
      finally { s.endUs = nowUs; stack = stack.tail }
    }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(Map("id" -> e.jobId, "start_us" -> e.time * 1000L))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.add(Map("id" -> e.jobId, "end_us" -> e.time * 1000L))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(Map("at_us" -> e.stageInfo.completionTime.getOrElse(0L) * 1000L,
        "tasks" -> e.stageInfo.numTasks))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(Map(
        "launch_us" -> e.taskInfo.launchTime * 1000L,
        "at_us" -> e.taskInfo.finishTime * 1000L,
        "run_ms" -> m.executorRunTime,
        "cpu_ms" -> m.executorCpuTime / 1e6,
        "gc_ms" -> m.jvmGCTime,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "input_bytes" -> m.inputMetrics.bytesRead,
        "input_rows" -> m.inputMetrics.recordsRead))
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Double = ph.get(p).fold(0.0)(_.durationMs.toDouble)
      val at = ph.values.map(_.endTimeMs).foldLeft(0L)(math.max)
      plans.add(Map("at_us" -> at * 1000L, "analysis_ms" -> ms("analysis"),
        "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      progress.add(Map(
        "at_us" -> Instant.parse(p.timestamp).toEpochMilli * 1000L,
        "input_rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_rows" -> ops.map(_.numRowsTotal).sum,
        "state_memory_bytes" -> ops.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
        "rows_dropped_by_watermark" -> ops.map(_.numRowsDroppedByWatermark).sum))
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  /** Stop recording: drain the listener bus so every event of the traced
    * segment has arrived, then detach the listeners. */
  def stop(): Unit = {
    on = false
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(planListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def records: Map[String, Any] = Map(
    "spans" -> spans.map(_.toMap),
    "tasks" -> tasks.asScala.toSeq,
    "jobs" -> jobs.asScala.toSeq,
    "stages" -> stages.asScala.toSeq,
    "plans" -> plans.asScala.toSeq,
    "progress" -> progress.asScala.toSeq)
}
