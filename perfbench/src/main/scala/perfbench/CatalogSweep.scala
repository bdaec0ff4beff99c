package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkEntry
import graft.functions.{Bpe, PortableHash}
import graft.operators.{CacheScope, Dedup, InvertedIndex, KMeans, MinHashLSH, Pq}

/** Sweeps of a fixed slice of `SparkEntry.queries` over the generated
  * catalog tables, each query sent to a noop sink as graft.Bench does,
  * then one ingest step on the same documents.
  *
  * Fixed per-query floors dominate at this size: query planning, job
  * launch and index `ensure` probes. The slice takes 2-8 queries from
  * each query family, every one with a DuckDB oracle: plain scans and
  * joins, text and JSON functions, the MinHash and IVF kernels, and three
  * searches served from the persisted inverted index. The whole catalog
  * (198 queries, about a minute warm) does not fit one run. StreamQueries
  * is left out: its gate stages inputs under a fixed root of its own
  * (graft.streaming.Staging.root), outside the directory the benchmark
  * may write to.
  *
  * The ingest step is the index family's write side next to its reads:
  * rebuild the inverted index over the documents, land a generated batch
  * through `append`/`appendPositions`, run a BM25, a phrase and a prefix
  * search on the fresh index, and run the verified near-duplicate
  * pipeline over the documents. */
final class CatalogSweep(spark: SparkSession, data: String, work: String, tr: Tracer)
    extends Workload {

  val Queries: Seq[String] = Seq(
    "q_window_count_hourly", "q_keyed_count", "q_asof_last_purchase",
    "q_tpch_pricing", "q_join_segment_revenue", "q_rollup_region_nation",
    "q_window_rank_orders", "q_anti_dormant_customers",
    "q_text_tfidf", "q_json_extract", "q_decontaminate", "q_text_tokens_bpe_real",
    "q_pack_bins",
    "q_dedup_minhash_banded", "q_dedup_exact", "q_search_phrase",
    "q_search_conjunctive", "q_search_prefix", "q_sim_ivf",
    "q_sql_window_count", "q_window_sliding")

  private val families: Map[String, String] = Seq(
    "CoreQueries" -> graft.CoreQueries.queries, "RelationalQueries" -> graft.RelationalQueries.queries,
    "TextQueries" -> graft.TextQueries.queries, "DedupQueries" -> graft.DedupQueries.queries,
    "WindowQueries" -> graft.WindowQueries.queries)
    .flatMap { case (f, qs) => qs.keys.map(_ -> f) }.toMap

  private val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val batchDir = s"$data/ingest"
  private final case class Search(kind: String, terms: Seq[String])
  private val searches: Seq[Search] =
    Files.readAllLines(Paths.get(s"$batchDir/searches.txt")).asScala.toSeq.map { l =>
      val f = l.split(" ")
      Search(f(0), f.drop(1).toSeq)
    }
  private val DedupQuery = "q_corpus_dedup_verified"
  private val K = 10
  private var searched = Seq.empty[(Search, Seq[String], Seq[Seq[Any]])]

  /** Release what one query leaves behind, as graft.Bench does between
    * runs, so no query is timed against another's cached frames. */
  private def release(): Unit = {
    spark.catalog.clearCache()
    CacheScope.releaseAll()
    KMeans.clearModels()
    Pq.clearModels()
  }

  /** The program's set-up: open every catalog table through the engine's
    * loader and scan it once. (The persisted index families the search
    * queries serve from are built by their first query, in the warm-up;
    * rebuilding them three times here would cost more than the measured
    * sweeps.) */
  def setup(): Unit = Tables.foreach { t =>
    graft.sources.Tables.load(spark, data, t).write.mode("overwrite").format("noop").save()
  }

  /** One sweep that writes every result where the output check reads it
    * (and builds the persisted index families), then one more sweep for
    * the JIT. */
  def warmup(ops: Ops): Unit = {
    checkSweep(ops)
    sweep(ops)
  }

  private def checkSweep(ops: Ops): Unit = Queries.foreach { name =>
    ops.run("query") {
      val out = SparkEntry.queries(name)(spark, data)
      // naive timestamps, as the DuckDB oracle returns them (graft.Verify)
      val ntz = out.schema.fields.foldLeft(out) { (d, f) =>
        if (f.dataType == TimestampType) d.withColumn(f.name, d(f.name).cast(TimestampNTZType))
        else d
      }
      ntz.repartition(1).write.mode("overwrite").parquet(s"$work/results/$name")
    }
    release()
  }

  private def sweep(ops: Ops): Unit = Queries.foreach { name =>
    ops.run(name) {
      tr.span(families(name), name) {
        val df = tr.span("SparkEntry", "build") { SparkEntry.queries(name)(spark, data) }
        df.write.mode("overwrite").format("noop").save()
      }
    }
    release()
  }

  private def served(s: Search): DataFrame = s.kind match {
    case "bm25" => InvertedIndex.searchBm25(spark, data, s.terms, K)
    case "phrase" => InvertedIndex.searchPhrase(spark, data, s.terms, K)
    case "prefix" => InvertedIndex.searchPrefix(spark, data, s.terms.head, K)
  }

  /** The same search computed from the documents alone, with no index. */
  private def replayed(s: Search, docs: DataFrame): DataFrame = {
    val canon = s.terms.map(InvertedIndex.canonicalTerm)
    def bm25(terms: Seq[String]) = InvertedIndex.bm25FromPostings(
      InvertedIndex.postings(docs).filter(col("term").isin(terms: _*)),
      InvertedIndex.corpusStats(docs), K)
    s.kind match {
      case "bm25" => bm25(canon)
      case "phrase" => InvertedIndex.phraseFromPositions(
        InvertedIndex.positions(docs).filter(col("term").isin(canon.distinct: _*)), canon, K)
      case "prefix" => bm25(InvertedIndex.vocab(docs)
        .filter(col("term").startsWith(canon.head))
        .orderBy(col("df").desc, col("term").asc).limit(16)
        .collect().map(_.getString(0)).toSeq)
    }
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map((r: Row) => r.toSeq)

  private def ingest(ops: Ops): Unit = {
    ops.run("index_build") {
      tr.span("operators", "index_build") {
        InvertedIndex.drop(spark, data)
        InvertedIndex.ensure(spark, data)
        InvertedIndex.ensurePositions(spark, data)
      }
    }
    ops.run("index_append") {
      tr.span("operators", "index_append") {
        val batch = graft.sources.Tables.documents(spark, batchDir)
        InvertedIndex.append(spark, data, batch, 1L)
        InvertedIndex.appendPositions(spark, data, batch, 1L)
      }
    }
    ops.run("ensure_probe") {
      tr.span("operators", "index_ensure_probe") { InvertedIndex.ensurePositions(spark, data) }
    }
    searches.foreach { s =>
      ops.run("search") {
        val (cols, got) = tr.span("operators", "index_search") {
          val df = served(s)
          (df.columns.toSeq, rows(df))
        }
        searched :+= ((s, cols, got))
      }
    }
    ops.run("dedup") {
      tr.span("operators", "dedup") {
        val df = tr.span("SparkEntry", "build") { SparkEntry.queries(DedupQuery)(spark, data) }
        df.write.mode("overwrite").format("noop").save()
      }
    }
    release()
  }

  /** Rounds of three sweeps and the ingest step, one round per 20 s of
    * `seconds` (a round takes about 20 s at local[4]), so every run does
    * the same work. */
  def measure(ops: Ops, seconds: Double): Unit =
    (1 to math.max(1, math.round(seconds / 20).toInt)).foreach { _ =>
      (1 to 3).foreach(_ => sweep(ops))
      ingest(ops)
    }

  private def indexBytesAndFiles(): (Long, Long) = {
    val root = Paths.get(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    val files = Files.walk(root).iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && p.toString.contains("inv_index_") &&
        !n.startsWith(".") && !n.startsWith("_")
    }.toSeq
    (files.map(Files.size).sum, files.size.toLong)
  }

  private def nsPer[T](items: Array[T])(f: T => Long): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var sink = 0L
      items.foreach(x => sink ^= f(x))
      if (sink == 42L) System.err.println("")
      (System.nanoTime() - t0).toDouble / items.length
    }
    once() // the JIT's pass
    once()
  }

  override def probe(ops: Ops): Unit = {
    val docs = graft.sources.Tables.documents(spark, data)
    val batch = graft.sources.Tables.documents(spark, batchDir)
    val nDocs = docs.count() + batch.count()
    val (bytes, files) = indexBytesAndFiles()
    ops.counters("operators.index_bytes_per_doc") = bytes.toDouble / nDocs
    ops.counters("operators.index_files") = files.toDouble
    val candidates = SparkEntry.queries("q_dedup_minhash_banded")(spark, data).count()
    val verified = Dedup.dedupPipelineFrom(Dedup.canonicalByText(docs, "doc_id", "text", "lang"),
      threshold = 0.4, numBands = MinHashLSH.BandedBands,
      rowsPerBand = MinHashLSH.BandedRows).count()
    ops.counters("operators.minhash_candidates") = candidates.toDouble
    ops.counters("operators.verified_pairs") = verified.toDouble
    ops.counters("operators.verify_yield") =
      if (candidates == 0) 0.0 else verified.toDouble / candidates
    ops.counters("sources.load_ms") = Tables.map { t =>
      val t0 = System.nanoTime()
      graft.sources.Tables.load(spark, data, t).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e6
    }.sum
    // functions timed on the workload's own documents
    val texts = docs.select("text").collect().map(_.getString(0))
    ops.counters("functions.bpe_count_ns_per_doc") =
      nsPer(texts.map(UTF8String.fromString))(Bpe.countTokens)
    ops.counters("functions.hash60_ns_per_call") =
      nsPer(texts.flatMap(_.split(" ")))(PortableHash.hash60String)
  }

  def check: Map[String, Any] = {
    val docs = graft.sources.Tables.documents(spark, data)
      .unionByName(graft.sources.Tables.documents(spark, batchDir))
    Map(
      "results" -> s"$work/results",
      "oracle_sql" -> Queries.map(q => q -> SparkEntry.oracleSql.get(q)).toMap,
      "searches" -> searched.map { case (s, cols, got) =>
        Map("kind" -> s.kind, "terms" -> s.terms, "columns" -> cols,
          "served" -> got, "replayed" -> rows(replayed(s, docs)))
      })
  }
}
