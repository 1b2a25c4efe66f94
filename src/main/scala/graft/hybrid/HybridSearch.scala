package graft.hybrid

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.bm25.Bm25
import graft.functions.VectorFunctions
import graft.text.TextAnalysis.wordTokensSql

/** Hybrid vector + keyword retrieval with the reference's blend semantics
  * (jcolano/fastpyvectordb `hybrid_search.py:360-477`):
  *
  *  1. fetch k·5 candidates from each branch (vector: cosine distance
  *     ascending; keyword: BM25 descending),
  *  2. per-branch max normalization: v = 1 − d/max_d, kw = s/max_s
  *     (`:427-441` — scores are *query-relative*),
  *  3. union of candidate ids, a missing side contributes 0 (`:444-450`),
  *  4. combined = α·v + (1−α)·kw, sort desc, top-k (`:453-477`).
  *
  * Spark shape: two independent top-k branches (each TakeOrderedAndProject),
  * each max-normalized by a single-partition window over its ≤ k·5 rows,
  * full-outer join on id, coalesce(.., 0), weighted sum, final top-k.
  * Both branch top-ks order by
  * (score, id) so the candidate SETS are deterministic — the full-outer
  * join and blend then commute with any execution order at scale.
  */
object HybridSearch {
  val FetchFactor = 5

  /** Explicit weight parameters override alpha: α = vw/(vw+kw), or 0.5
    * when the weights sum to zero (`hybrid_search.py:393-396`). */
  def resolveAlpha(vectorWeight: Option[Double], keywordWeight: Option[Double],
      alpha: Double): Double =
    (vectorWeight, keywordWeight) match {
      case (Some(vw), Some(kw)) =>
        val t = vw + kw; if (t > 0) vw / t else 0.5
      case _ => alpha
    }

  /** No-text fallback (`hybrid_search.py:397-411`): pure vector search —
    * score is the RAW similarity (not max-normalized, unlike the blended
    * path), keyword_score is 0. `vecs` = (doc_id, embedding). */
  private def vectorOnly(vecs: DataFrame, queryVec: Seq[Double], k: Int)
      : DataFrame = {
    val qv = typedlit(queryVec)
    vecs
      .withColumn("sim", round(
        lit(1.0) - VectorFunctions.cosineDistance(col("embedding"), qv), 6))
      .select(col("doc_id"), col("sim").as("vector_score"),
        lit(0.0).as("keyword_score"), col("sim").as("score"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(k)
  }

  /** DuckDB oracle for the no-text fallback. */
  def vectorOnlySql(queryVecKey: Long, dim: Int, k: Int): String = {
    val dist = VectorFunctions.cosineDistanceSql("c.embedding", "q.v", dim)
    s"""WITH corpus AS (
       |  SELECT d.doc_id, e.embedding
       |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
       |q AS (SELECT ${VectorFunctions.hashVectorSql(queryVecKey.toString, dim)} AS v),
       |scored AS (SELECT c.doc_id, round(1.0 - $dist, 6) AS s FROM corpus c, q)
       |SELECT doc_id, s AS vector_score, 0.0::DOUBLE AS keyword_score, s AS score
       |FROM scored ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  /** Normalize both branch top-ks and blend (steps 2–4 above): shared by
    * the in-query [[search]] and the prebuilt-index [[searchIndexed]].
    * vecTop = (doc_id, d) cosine distances; kwTop = (doc_id, score) BM25.
    */
  def blend(vecTop: DataFrame, kwTop: DataFrame, k: Int, alpha: Double)
      : DataFrame = {
    // per-branch max via a global window: the branch top-k is ≤ fetch
    // rows, so one single-partition window beats a separate broadcast
    // aggregation job per branch (2 fewer jobs per query)
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy()
      .rowsBetween(Long.MinValue, Long.MaxValue)
    // guard max_d == 0 (every candidate identical to the query): the
    // reference assigns similarity 1 (`hybrid_search.py:430-433`); an
    // unguarded 0/0 would yield NaN and poison the blended ordering
    val vecNorm = vecTop
      .select(col("doc_id"),
        when(max("d").over(all) === 0.0, lit(1.0))
          .otherwise(lit(1.0) - col("d") / max("d").over(all)).as("vscore"))
    // symmetric guard for the keyword branch: every BM25 score rounding
    // to 0 (e.g. a term present in nearly all docs at corpus scale drives
    // idf → 0) would make 0/0 = NaN, which Spark sorts ABOVE all numbers;
    // the reference's `max(...) or 1` yields 0 in that case
    // (`hybrid_search.py:437-441`)
    val kwNorm = kwTop
      .select(col("doc_id"),
        when(max("score").over(all) === 0.0, lit(0.0))
          .otherwise(col("score") / max("score").over(all)).as("kscore"))
    vecNorm
      .join(kwNorm, Seq("doc_id"), "full_outer")
      .select(
        col("doc_id"),
        round(coalesce(col("vscore"), lit(0.0)), 6).as("vector_score"),
        round(coalesce(col("kscore"), lit(0.0)), 6).as("keyword_score"),
        round(lit(alpha) * coalesce(col("vscore"), lit(0.0)) +
          lit(1.0 - alpha) * coalesce(col("kscore"), lit(0.0)), 6).as("score"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(k)
  }

  def search(
      spark: SparkSession,
      corpus: DataFrame, // (doc_id, text, embedding)
      queryTerms: Seq[String],
      queryVec: Seq[Double],
      k: Int,
      alpha: Double,
      vectorWeight: Option[Double] = None,
      keywordWeight: Option[Double] = None): DataFrame = {
    val a = resolveAlpha(vectorWeight, keywordWeight, alpha)
    if (queryTerms.isEmpty)
      return vectorOnly(corpus.select("doc_id", "embedding"), queryVec, k)
    val fetch = k * FetchFactor
    // both branches scan the corpus; checkpoint (GC-scoped) not persist
    // (CacheManager-held until unpersist) so ad-hoc queries don't leak
    val c = corpus.localCheckpoint()
    val kwTop = Bm25.search(spark, c.select("doc_id", "text"), queryTerms, fetch)
    blend(vectorTop(c, queryVec, fetch), kwTop, k, a)
  }

  /** The vector branch's candidates: the `fetch` nearest (doc_id, d)
    * cosine distances of `vecs`, ordered by (d, doc_id). */
  private def vectorTop(vecs: DataFrame, queryVec: Seq[Double], fetch: Int)
      : DataFrame =
    vecs
      .withColumn("d",
        VectorFunctions.cosineDistance(col("embedding"), typedlit(queryVec)))
      .select("doc_id", "d")
      .orderBy(col("d"), col("doc_id"))
      .limit(fetch)

  /** Hybrid search against prebuilt state: the vector branch scans the
    * (doc_id, embedding) relation `vecs` exactly, the keyword branch
    * probes the persistent BM25 postings at `bm25Path`
    * (graft.index.Bm25Index) — nothing is tokenized or joined at query
    * time. This is what the reference's own benchmarks time: search
    * against an already-built index (`hybrid_search.py:77-117`). The
    * testdata corpus index (graft.index.Indexes.hybrid) holds both
    * branches; a collection passes its own vectors and its text index. */
  def searchIndexed(
      spark: SparkSession,
      vecs: DataFrame,
      bm25Path: String,
      queryTerms: Seq[String],
      queryVec: Seq[Double],
      k: Int,
      alpha: Double,
      vectorWeight: Option[Double] = None,
      keywordWeight: Option[Double] = None): DataFrame = {
    val a = resolveAlpha(vectorWeight, keywordWeight, alpha)
    if (queryTerms.isEmpty) return vectorOnly(vecs, queryVec, k)
    val fetch = k * FetchFactor
    val kwTop = graft.index.Bm25Index.search(spark, bm25Path, queryTerms, fetch)
    blend(vectorTop(vecs, queryVec, fetch), kwTop, k, a)
  }

  /** Reciprocal-rank fusion (Cormack et al., SIGIR 2009) over the same
    * two indexed branches as [[searchIndexed]] — the rank-based blend a
    * retrieval stack reaches for when the branch score SCALES don't
    * compare (RRF needs no normalization at all): score =
    * Σ_branch 1/(rrfK + rank). The rank windows run over the two
    * bounded top-`fetch` lists (≤ k·FetchFactor rows — the same
    * bounded-window shape as [[blend]]'s normalization). */
  def searchIndexedRrf(
      spark: SparkSession,
      vecs: DataFrame,
      bm25Path: String,
      queryTerms: Seq[String],
      queryVec: Seq[Double],
      k: Int,
      rrfK: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fetch = k * FetchFactor
    val vecTop = vectorTop(vecs, queryVec, fetch)
    val kwTop = graft.index.Bm25Index.search(spark, bm25Path, queryTerms, fetch)
    val v = vecTop
      .withColumn("rv", row_number().over(Window.orderBy(col("d"), col("doc_id"))))
      .select("doc_id", "rv")
    val w = kwTop
      .withColumn("rk",
        row_number().over(Window.orderBy(desc("score"), col("doc_id"))))
      .select("doc_id", "rk")
    v.join(w, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        round(
          coalesce(lit(1.0) / (lit(rrfK) + col("rv")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(rrfK) + col("rk")), lit(0.0)), 6)
          .as("score"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(k)
  }

  /** DuckDB twin of [[searchIndexedRrf]]. */
  def searchRrfSql(
      queryTerms: Seq[String],
      queryVecKey: Long,
      dim: Int,
      k: Int,
      rrfK: Int = 60): String = {
    val fetch = k * FetchFactor
    val dist = VectorFunctions.cosineDistanceSql("c.embedding", "q.v", dim)
    val bm25 = Bm25.searchSql(queryTerms, fetch, relation = "corpus")
    s"""WITH corpus AS (SELECT d.doc_id, d.text, e.embedding
       |                FROM documents d
       |                JOIN embeddings e ON e.vec_id = d.doc_id),
       |q AS (SELECT ${VectorFunctions.hashVectorSql(queryVecKey.toString, dim)} AS v),
       |vec_top AS (
       |  SELECT c.doc_id, $dist AS d
       |  FROM corpus c, q
       |  ORDER BY d, doc_id LIMIT $fetch),
       |vec_rank AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY d, doc_id) AS rv
       |  FROM vec_top),
       |kw_top AS (SELECT * FROM ($bm25)),
       |kw_rank AS (
       |  SELECT doc_id,
       |         row_number() OVER (ORDER BY score DESC, doc_id) AS rk
       |  FROM kw_top)
       |SELECT coalesce(v.doc_id, w.doc_id) AS doc_id,
       |       round(coalesce(CAST(1.0 AS DOUBLE) / ($rrfK + v.rv), 0.0) +
       |             coalesce(CAST(1.0 AS DOUBLE) / ($rrfK + w.rk), 0.0), 6)
       |         AS score
       |FROM vec_rank v FULL OUTER JOIN kw_rank w ON v.doc_id = w.doc_id
       |ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  /** DuckDB oracle; default corpus = documents ⋈ embeddings on
    * doc_id = vec_id. `corpusSql` must yield (doc_id, text, embedding);
    * `idAlias` renames the output id (collection searches return `id`,
    * and a VARCHAR doc_id in the corpus makes every tiebreak
    * string-ordered to match). */
  def searchSql(
      queryTerms: Seq[String],
      queryVecKey: Long,
      dim: Int,
      k: Int,
      alpha: Double,
      corpusSql: String = "SELECT d.doc_id, d.text, e.embedding " +
        "FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id",
      idAlias: String = "doc_id"): String = {
    val fetch = k * FetchFactor
    val dist = VectorFunctions.cosineDistanceSql("c.embedding", "q.v", dim)
    // BM25 runs over the same joined corpus as the vector branch (inner
    // WITH referencing the outer `corpus` CTE).
    val bm25 = Bm25.searchSql(queryTerms, fetch, relation = "corpus")
    s"""WITH corpus AS ($corpusSql),
       |q AS (SELECT ${VectorFunctions.hashVectorSql(queryVecKey.toString, dim)} AS v),
       |vec_top AS (
       |  SELECT c.doc_id, $dist AS d
       |  FROM corpus c, q
       |  ORDER BY d, doc_id LIMIT $fetch),
       |vec_norm AS (
       |  SELECT doc_id,
       |         CASE WHEN (SELECT max(d) FROM vec_top) = 0 THEN 1.0
       |              ELSE 1.0 - d / (SELECT max(d) FROM vec_top) END AS vscore
       |  FROM vec_top),
       |kw_top AS (SELECT * FROM ($bm25)),
       |kw_norm AS (
       |  SELECT doc_id,
       |         CASE WHEN (SELECT max(score) FROM kw_top) = 0 THEN 0.0
       |              ELSE score / (SELECT max(score) FROM kw_top) END AS kscore
       |  FROM kw_top)
       |SELECT coalesce(v.doc_id, w.doc_id) AS $idAlias,
       |       round(coalesce(v.vscore, 0.0), 6) AS vector_score,
       |       round(coalesce(w.kscore, 0.0), 6) AS keyword_score,
       |       round($alpha * coalesce(v.vscore, 0.0)
       |             + ${1.0 - alpha} * coalesce(w.kscore, 0.0), 6) AS score
       |FROM vec_norm v FULL OUTER JOIN kw_norm w ON v.doc_id = w.doc_id
       |ORDER BY score DESC, $idAlias LIMIT $k""".stripMargin
  }
}
