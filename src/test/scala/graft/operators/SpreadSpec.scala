package graft.operators

import graft.SparkSpec

/** The round-19 scan-spreading + footer-metadata contracts:
  *
  *  - [[Spread]] must widen a narrow (single-row-group) scan to the
  *    cluster's parallelism WITHOUT changing its rows, and must be a
  *    NO-OP on a frame that is already at least half as wide as the
  *    cluster — the condition that keeps it from injecting a
  *    full-corpus shuffle at production scan widths;
  *  - [[ParquetFooter.rowCount]] must agree with `df.count()` for both
  *    layouts the fixture state machines read (a single parquet file
  *    and a Spark-written directory of part files), since the state
  *    machines' entry decisions now ride on it. */
class SpreadSpec extends SparkSpec {
  import spark.implicits._

  test("Spread widens a narrow scan to defaultParallelism, rows unchanged") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    assume(docs.rdd.getNumPartitions * 2 <=
      spark.sparkContext.defaultParallelism,
      "fixture scan must be narrow for this test to bite")
    val spreadK = Spread.byKey(docs, "doc_id")
    val spreadR = Spread.any(docs)
    assert(spreadK.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    assert(spreadR.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    // content identical (order-insensitive)
    assert(spreadK.orderBy("doc_id").collect()
      .sameElements(docs.orderBy("doc_id").collect()))
  }

  test("Spread is a no-op on an already-wide frame") {
    val n = spark.sparkContext.defaultParallelism
    val wide = spark.range(1000).repartition(n).toDF("doc_id")
    assert(Spread.byKey(wide, "doc_id") eq wide)
    assert(Spread.any(wide) eq wide)
  }

  test("plan-free width probe decides like the physical probe on scan-rooted frames") {
    val target = spark.sparkContext.defaultParallelism
    // single-file fixture scans (narrow), with and without narrow ops on top
    val frames = Seq(
      graft.sources.Tables.documents(spark, sfDir),
      graft.sources.Tables.documents(spark, sfDir)
        .select("doc_id", "text").filter($"doc_id" > 10),
      graft.sources.Tables.lineitem(spark, sfDir))
    frames.foreach { df =>
      val fast = Spread.byKey(df, df.columns.head)
      val physicalNarrow = df.rdd.getNumPartitions * 2 <= target
      // the fast path must fire the repartition exactly when the
      // physical probe would have
      assert((fast ne df) == physicalNarrow)
    }
    // a multi-file directory exercises the packing arm
    val dir = java.nio.file.Files.createTempDirectory("spread-width")
    try {
      spark.range(1000).toDF("doc_id").repartition(5)
        .write.mode("overwrite").parquet(dir.toString)
      val df = spark.read.parquet(dir.toString)
      val fast = Spread.byKey(df, "doc_id")
      assert((fast ne df) == (df.rdd.getNumPartitions * 2 <= target))
    } finally graft.streaming.StreamGate.deleteRecursively(dir)
  }

  test("plan-free width equals the physical width on single- and multi-file scans") {
    // single-file fixture tables: one split each, so the repartition fires
    Seq(graft.sources.Tables.documents(spark, sfDir),
        graft.sources.Tables.lineitem(spark, sfDir)).foreach { df =>
      assert(Spread.fileScanWidth(df) == Some(1))
      assert(df.rdd.getNumPartitions == 1)
    }
    val dir = java.nio.file.Files.createTempDirectory("spread-multi")
    val keys = Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    try {
      spark.range(20000).selectExpr("id AS doc_id", "uuid() AS text")
        .repartition(6).write.mode("overwrite").parquet(dir.toString)
      // (max partition bytes, open cost): files split into several
      // pieces; pieces packed several to a partition; Spark's defaults
      val widths = Seq(("16k", "1k"), ("64k", "8k"), (null, null)).map {
        case (maxBytes, openCost) =>
          keys.zip(Seq(maxBytes, openCost)).foreach {
            case (k, null) => spark.conf.unset(k)
            case (k, v) => spark.conf.set(k, v)
          }
          // a fresh frame per setting: Dataset.rdd is memoized
          val df = spark.read.parquet(dir.toString)
          val physical = df.rdd.getNumPartitions
          assert(Spread.fileScanWidth(df) == Some(physical),
            s"maxPartitionBytes=$maxBytes openCost=$openCost")
          physical
      }
      assert(widths.head > 6, s"files must split at the lowest setting: $widths")
    } finally {
      keys.foreach(spark.conf.unset)
      graft.streaming.StreamGate.deleteRecursively(dir)
    }
  }

  test("ParquetFooter.rowCount matches df.count for file and directory layouts") {
    val file = s"$sfDir/documents.parquet"
    val expected = spark.read.parquet(file).count()
    assert(ParquetFooter.rowCount(file) == expected)
    val dir = java.nio.file.Files.createTempDirectory("footer-spec")
    try {
      // Spark-written dir: several part files plus a _SUCCESS marker
      spark.read.parquet(file).repartition(3)
        .write.mode("overwrite").parquet(dir.toString)
      assert(ParquetFooter.rowCount(dir.toString) == expected)
      // append lands more part files — the count must track them (the
      // ingest fixtures' staleness handshake rides on this)
      spark.read.parquet(file).limit(7)
        .write.mode("append").parquet(dir.toString)
      assert(ParquetFooter.rowCount(dir.toString) == expected + 7)
    } finally graft.streaming.StreamGate.deleteRecursively(dir)
  }
}
