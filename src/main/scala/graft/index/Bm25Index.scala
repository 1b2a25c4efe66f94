package graft.index

import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.bm25.Bm25

/** Persistent BM25 inverted index — the reference builds its index once at
  * collection load and maintains it incrementally per added document
  * (jcolano/fastpyvectordb `hybrid_search.py:77-117`); graft materializes
  * the same three relations as Parquet tables under an [[IndexStore]]
  * path and searches them without ever re-tokenizing the corpus:
  *
  *   postings/  (term, doc_id, tf)   partitioned by term_bucket
  *   doclens/   (doc_id, dl)
  *   stats/     (n_docs, avgdl)      single row
  *
  * `term_bucket = crc32(term) % 64` is a partition column, so a query's
  * scan prunes to the buckets of its own terms (PartitionFilters — pinned
  * in IndexSpec). df/idf are computed per query from the pruned
  * postings (they are corpus-global aggregates over a handful of terms),
  * which keeps incremental [[append]] cheap: new postings rows change df
  * implicitly, no stored weight goes stale — the same reason the
  * reference recomputes idf at query time from its df dict.
  *
  * df is a `count(1)` window over the term on the one pruned scan, so
  * postings must be unique per (term, doc_id): [[build]] groups tokens by
  * (doc_id, term), [[append]] takes new doc ids only, and summing weights
  * per doc relies on the same uniqueness. The single stats row is read
  * once per index path into [[IndexStore.cachedState]] and applied as
  * literals; every path that drops the index's opened tables drops it
  * too, [[append]] after its stats write.
  *
  * At 100 TB: postings is the big relation; bucket pruning bounds a query
  * to terms/64 of the files, and within a bucket Parquet min/max on the
  * sorted term column skips row groups. doclens/stats are doc-count-sized
  * and a single row respectively.
  */
object Bm25Index {
  val TermBuckets = 64

  /** Driver-side twin of [[termBucketCol]] (java.util.zip.CRC32 ==
    * Spark's crc32 on UTF-8 bytes). */
  def termBucket(term: String): Int = {
    val crc = new java.util.zip.CRC32()
    crc.update(term.getBytes(StandardCharsets.UTF_8))
    (crc.getValue % TermBuckets).toInt
  }

  def termBucketCol: Column =
    (crc32(col("term").cast("binary")) % TermBuckets).cast("int")

  /** Write the index tables for a (doc_id, text) corpus into `path`.
    * Caller wraps in IndexStore.ensure for marker/crash handling.
    *
    * Postings rows carry the document length (dl is per-doc constant, so
    * denormalizing it is append-safe): an unfiltered query then needs NO
    * doclens join — at corpus scale that join would shuffle a
    * doc-count-sized relation per query. doclens persists separately for
    * filtered-search stats recomputation and append bookkeeping. */
  def build(spark: SparkSession, docs: DataFrame, path: String): Unit = {
    IndexStore.invalidateState(path)
    val toks = Bm25.tokenized(docs).persist()
    // doclens aggregate computed ONCE and shared by its three consumers
    // — the doclens write, the stats aggregate, and the postings join
    // (r18: the lazy form re-ran the groupBy for the join, and stats
    // re-read the just-written parquet). Values identical: the parquet
    // round-trip it replaces is lossless.
    val dls = Bm25.docLensFromToks(toks).persist()
    try {
      dls.write.mode("overwrite").parquet(s"$path/doclens")
      statsOf(dls).write.mode("overwrite").parquet(s"$path/stats")
      Bm25.postingsFromToks(toks)
        .join(dls, "doc_id")
        .withColumn("term_bucket", termBucketCol)
        .repartition(col("term_bucket"))
        .sortWithinPartitions("term")
        .write.mode("overwrite").partitionBy("term_bucket")
        .parquet(s"$path/postings")
    } finally { dls.unpersist(); toks.unpersist(); () }
  }

  /** Incremental maintenance (`hybrid_search.py:105-117`): append the new
    * documents' postings and lengths, refresh the single-row stats. The
    * caller guarantees new doc_ids; wrap in IndexStore.mutate so a crash
    * mid-append invalidates the index instead of serving half an update. */
  def append(spark: SparkSession, newDocs: DataFrame, path: String): Unit = {
    val toks = Bm25.tokenized(newDocs).persist()
    try {
      Bm25.docLensFromToks(toks)
        .write.mode("append").parquet(s"$path/doclens")
      Bm25.postingsFromToks(toks)
        .join(Bm25.docLensFromToks(toks), "doc_id")
        .withColumn("term_bucket", termBucketCol)
        .repartition(col("term_bucket"))
        .sortWithinPartitions("term")
        .write.mode("append").partitionBy("term_bucket")
        .parquet(s"$path/postings")
      spark.catalog.refreshByPath(s"$path/doclens")
      writeStats(spark, path)
    } finally {
      // after the writes, failed or not: a table opened, or stats
      // memoized, before or during the append describe another corpus
      IndexStore.invalidateState(path)
      toks.unpersist(); ()
    }
  }

  /** stats = one-row aggregate of doclens; doubles over integer-valued
    * token counts, so the value is exact and order-independent. */
  private def statsOf(doclens: DataFrame): DataFrame =
    doclens
      .agg(count(lit(1)).cast("double").as("n_docs"), avg("dl").as("avgdl"))
      .coalesce(1)

  /** [[statsOf]] over the STORED doclens table — append() must fold the
    * pre-existing rows in, so it reads the table back where build()
    * aggregates the frame it just wrote. */
  private def writeStats(spark: SparkSession, path: String): Unit =
    statsOf(spark.read.parquet(s"$path/doclens"))
      .write.mode("overwrite").parquet(s"$path/stats")

  /** Query-term postings with partition + row-group pruning. */
  private def prunedPostings(spark: SparkSession, path: String,
      terms: Seq[String]): DataFrame = {
    val buckets = terms.map(termBucket).distinct
    IndexStore.table(spark, s"$path/postings")
      .filter(col("term_bucket").isin(buckets: _*) &&
        col("term").isin(terms: _*))
      .select("term", "doc_id", "tf", "dl")
  }

  /** (n_docs, avgdl) of the index at `path`, read once per path (avgdl
    * is null for an empty index). */
  private def corpusStats(spark: SparkSession, path: String): (Double, Any) =
    IndexStore.cachedState(s"$path/stats#bm25") {
      val r = IndexStore.table(spark, s"$path/stats").head()
      (r.getDouble(0), r.get(1))
    }

  /** df of each query term, counted by a window on the same pruned rows,
    * so the postings are scanned once. */
  private def withDocFreq(qPost: DataFrame): DataFrame =
    qPost.withColumn("df",
      count(lit(1)).over(Window.partitionBy("term")).cast("double"))

  /** BM25 top-k against the prebuilt index: one pruned postings scan
    * (rows carry tf AND dl), df from a window on it, memoized corpus stats
    * as literals, score, top-k — no doclens join, no tokenization, no
    * corpus scan. */
  def search(spark: SparkSession, path: String, terms: Seq[String], k: Int)
      : DataFrame = {
    val (nDocs, avgdl) = corpusStats(spark, path)
    Bm25.scoreTopK(withDocFreq(prunedPostings(spark, path, terms.distinct))
      .withColumn("n_docs", lit(nDocs))
      .withColumn("avgdl", lit(avgdl).cast("double")), k)
  }

  /** Filtered search with filter-before-scoring semantics: df, doc count
    * and avgdl are recomputed over the allowed subset (exactly what
    * building the index over the filtered corpus would give), but from the
    * prebuilt postings — still no tokenization. `allowed` is a (doc_id)
    * relation, typically a pushed-down metadata filter on the doc table. */
  def searchFiltered(spark: SparkSession, path: String, allowed: DataFrame,
      terms: Seq[String], k: Int): DataFrame = {
    // distinct: a duplicated allowed id (e.g. from a join against a
    // many-valued attribute) would double-count postings and n_docs
    val ids = allowed.select("doc_id").distinct()
    // doclens is only needed to recompute the filtered corpus stats (one
    // aggregate); per-row dl comes from the postings rows themselves
    val stats = IndexStore.table(spark, s"$path/doclens").join(ids, "doc_id")
      .agg(count(lit(1)).cast("double").as("n_docs"), avg("dl").as("avgdl"))
    Bm25.scoreTopK(
      withDocFreq(prunedPostings(spark, path, terms.distinct).join(ids, "doc_id"))
        .crossJoin(broadcast(stats)), k)
  }

  /** Per-term index stats (df, total tf) from the postings table. */
  def termStats(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/postings")
      .groupBy("term")
      .agg(countDistinct("doc_id").as("df"),
        sum("tf").cast("long").as("total_tf"))

  /** One-row build summary (n_docs, avgdl, n_terms, n_postings) — the
    * oracle recomputes the same four scalars from the raw corpus, pinning
    * every index table. */
  def buildSummary(spark: SparkSession, path: String): DataFrame = {
    val stats = spark.read.parquet(s"$path/stats")
      .select(col("n_docs").cast("long").as("n_docs"),
        round(col("avgdl"), 6).as("avgdl"))
    spark.read.parquet(s"$path/postings")
      .agg(countDistinct("term").as("n_terms"),
        count(lit(1)).as("n_postings"))
      .crossJoin(broadcast(stats))
      .select("n_docs", "avgdl", "n_terms", "n_postings")
  }
}
