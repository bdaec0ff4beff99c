package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.hadoop.fs.{ChecksumException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.model.Pageview

/** The production half of the reference's exactly-once claim (O8): a query
  * killed mid-stream and restarted from its checkpoint must emit each
  * (url, window) exactly once ACROSS runs, and the union of both runs'
  * output must equal the batch replay. The reference's README transcript is
  * one uninterrupted run; Structured Streaming's checkpoint (offsets +
  * watermark + state store) plus the file sink's commit log is what turns
  * "append emits once per run" into "exactly once, period."
  *
  * The checkpoint is also portable between file managers: a checkpoint
  * written by Spark's default manager resumes under the engine's
  * [[LocalCheckpointFileManager]] and the other way round, and Hadoop's
  * `.crc` verification still catches a corrupted WAL entry.
  */
class CheckpointRecoverySpec extends SparkSpec {

  private def ts(s: String): Timestamp =
    new Timestamp(java.time.Instant.parse(s).toEpochMilli)

  private def pv(url: String, at: String, id: String): Pageview =
    Pageview(url, ts(at), id)

  private val managerKey = LocalCheckpointFileManager.ConfKey
  private val sparkManager = classOf[FileContextBasedCheckpointFileManager]

  /** Run `body` with `manager` set explicitly as the session's
    * checkpoint file manager, or under the session default when None. */
  private def withManager(manager: Option[Class[_]], ckpt: String)(body: => Unit): Unit = {
    manager.foreach(c => spark.conf.set(managerKey, c.getName))
    try {
      val resolved = CheckpointFileManager
        .create(new Path(ckpt), spark.sessionState.newHadoopConf()).getClass
      assert(resolved == manager.getOrElse(classOf[LocalCheckpointFileManager]))
      body
    } finally spark.conf.unset(managerKey)
  }

  test("restart from checkpoint resumes watermark/state and emits exactly once") {
    resumesExactlyOnce(None, None)
  }

  test("a checkpoint written by Spark's default manager resumes under the engine manager") {
    resumesExactlyOnce(Some(sparkManager), None)
  }

  test("a checkpoint written by the engine manager resumes under Spark's default manager") {
    resumesExactlyOnce(None, Some(sparkManager))
  }

  test("a corrupted offsets file fails its Hadoop checksum on read") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val ckpt = Files.createTempDirectory("graft-ckpt-crc")
    try {
      val ms = MemoryStream[Pageview]
      val q = WatermarkPipeline.windowedCounts(Seq(ms.toDS()))
        .writeStream.outputMode("append").format("memory")
        .queryName("ckpt_crc").option("checkpointLocation", ckpt.toString)
        .start()
      try { ms.addData(pv("u/0", "2016-02-01T00:10:00Z", "a")); q.processAllAvailable() }
      finally q.stop()
      spark.sql("DROP VIEW IF EXISTS ckpt_crc")

      val offsets = ckpt.resolve("offsets/0")
      assert(Files.exists(ckpt.resolve("offsets/.0.crc")))
      val raf = new java.io.RandomAccessFile(offsets.toFile, "rw")
      try {
        raf.seek(raf.length / 2)
        val b = raf.read()
        raf.seek(raf.length / 2)
        raf.write(b ^ 0x01)
      } finally raf.close()

      val fm = CheckpointFileManager.create(
        new Path(ckpt.toUri), spark.sessionState.newHadoopConf())
      assert(fm.isInstanceOf[LocalCheckpointFileManager])
      val in = fm.open(new Path(offsets.toUri))
      try intercept[ChecksumException](in.readAllBytes()) finally in.close()
    } finally StreamGate.deleteRecursively(ckpt)
  }

  /** Run 1 kills the query mid-stream, run 2 restarts it from the same
    * checkpoint; each run's checkpoint file manager is set explicitly or
    * left to the session default (None). */
  private def resumesExactlyOnce(run1: Option[Class[_]], run2: Option[Class[_]]): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val outPath = Files.createTempDirectory("graft-ckpt-out").toString
    val ms = MemoryStream[Pageview]
    def start() = WatermarkPipeline.windowedCounts(Seq(ms.toDS()))
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("checkpointLocation", ckpt)
      .option("path", outPath)
      .start()

    // Run 1: hour-0 data, then an hour-1 row that pushes the watermark past
    // 01:00 so hour-0 windows commit to the sink; then KILL the query.
    val batch1 = Seq(
      pv("u/0", "2016-02-01T00:10:00Z", "a"), pv("u/0", "2016-02-01T00:40:00Z", "b"),
      pv("u/1", "2016-02-01T00:20:00Z", "c"),
      pv("u/0", "2016-02-01T01:10:00Z", "d"))
    withManager(run1, ckpt) {
      val q1 = start()
      try { ms.addData(batch1: _*); q1.processAllAvailable() } finally q1.stop()
    }

    val afterRun1 = s.read.parquet(outPath)
      .select("window_start", "url", "cnt").collect()
      .map(r => (r.getTimestamp(0).toInstant.toString, r.getString(1), r.getLong(2)))
    assert(afterRun1.toSet == Set(
      ("2016-02-01T00:00:00Z", "u/0", 2L), ("2016-02-01T00:00:00Z", "u/1", 1L)),
      s"run 1 must commit exactly the hour-0 windows: ${afterRun1.toSeq}")

    // Run 2: restart from the same checkpoint with more data. The hour-1
    // window's one-long count state and the 01:10 watermark must have been
    // recovered — the new hour-1 row joins the recovered state, and pushing
    // the watermark past 02:00 fires hour-1 with BOTH rows' counts.
    val batch2 = Seq(
      pv("u/0", "2016-02-01T01:20:00Z", "e"),
      pv("u/2", "2016-02-01T02:30:00Z", "f"))
    ms.addData(batch2: _*)
    withManager(run2, ckpt) {
      val q2 = start()
      try { q2.processAllAvailable() } finally q2.stop()
    }

    val finalRows = s.read.parquet(outPath)
      .select("window_start", "url", "cnt").collect()
      .map(r => (r.getTimestamp(0).toInstant.toString, r.getString(1), r.getLong(2)))

    // exactly once across runs: no (url, window) appears twice
    val dups = finalRows.groupBy(r => (r._1, r._2)).filter(_._2.length > 1)
    assert(dups.isEmpty, s"duplicate emissions across restart: $dups")

    // union of both runs == batch replay of all data restricted to windows
    // the final watermark (02:30) has passed (hour-2 is still open)
    val expected = WatermarkPipeline
      .windowedCountsBatch((batch1 ++ batch2).toDF())
      .filter($"window_end" <= ts("2016-02-01T02:00:00Z"))
      .collect()
      .map(r => (r.getTimestamp(0).toInstant.toString, r.getString(2), r.getLong(3)))
      .toSet
    assert(finalRows.toSet == expected,
      s"restart output ${finalRows.toSeq.sorted} != batch replay ${expected.toSeq.sorted}")
  }
}
