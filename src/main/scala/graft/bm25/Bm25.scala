package graft.bm25

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.TextAnalysis.{wordTokens, wordTokensSql}

/** BM25 keyword retrieval as declarative DataFrames — the reference's
  * inverted index (jcolano/fastpyvectordb `hybrid_search.py:60-179`)
  * re-expressed as three derived relations instead of mutable dicts:
  *
  *   postings(doc_id, term, tf)   — explode + groupBy (one shuffle)
  *   docLens(doc_id, dl)          — token counts per doc
  *   stats(n_docs, avgdl)         — single-row corpus aggregate
  *
  * Scoring (`_score_document:130-154`): idf · tf·(k1+1) /
  * (tf + k1·(1 − b + b·dl/avgdl)) with k1=1.5, b=0.75, and the BM25+-style
  * idf = ln((N − df + 0.5)/(df + 0.5) + 1).
  *
  * Scale shape: postings build is a single explode+partial-agg shuffle
  * keyed by (doc_id, term); a query touches only the posting rows of its
  * terms (broadcast the tiny term list), then one groupBy(doc_id) — the
  * classic distributed term-at-a-time plan. Corpus stats are one scalar
  * row, broadcast-joined.
  */
object Bm25 {
  val K1 = 1.5
  val B = 0.75

  /** (doc_id, toks) — tokenize once; postings, lengths, and stats all
    * derive from this relation (persist it when several are needed). */
  def tokenized(docs: DataFrame): DataFrame =
    docs.selectExpr("doc_id", s"${wordTokens("text")} as toks")

  def postings(docs: DataFrame): DataFrame = postingsFromToks(tokenized(docs))

  def postingsFromToks(toks: DataFrame): DataFrame =
    toks
      .selectExpr("doc_id", "explode(toks) as term")
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("double").as("tf"))

  def docLensFromToks(toks: DataFrame): DataFrame =
    toks.selectExpr("doc_id", "cast(size(toks) as double) as dl")

  /** idf = ln((N − df + 0.5)/(df + 0.5) + 1) over (df, n_docs) columns. */
  def idfCol: org.apache.spark.sql.Column =
    log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)

  /** Per-(term, doc) BM25 weight over (idf, tf, dl, avgdl) columns. */
  def weightCol: org.apache.spark.sql.Column =
    col("idf") * col("tf") * (K1 + 1.0) /
      (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / col("avgdl")))

  /** Score + top-k over query-term posting rows that carry
    * (doc_id, tf, dl, df, n_docs, avgdl): the per-term weights summed per
    * doc, ties broken on doc_id. Shared by the build-on-the-fly [[search]]
    * and the prebuilt index (graft.index.Bm25Index). */
  def scoreTopK(rows: DataFrame, k: Int): DataFrame =
    rows
      .withColumn("idf", idfCol)
      .withColumn("w", weightCol)
      .groupBy("doc_id")
      .agg(round(sum("w"), 6).as("score"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(k)

  /** BM25 top-k for a bag of query terms, tokenizing the corpus in-query.
    * Returns (doc_id, score). For repeated queries over the same corpus
    * use graft.index.Bm25Index — build once, search many times.
    * The tokenized corpus is localCheckpoint'ed (feeds postings + lengths
    * + stats): the storage is GC-scoped, so repeated ad-hoc searches in a
    * long-lived session stay bounded without explicit unpersist calls.
    */
  def search(spark: SparkSession, docs: DataFrame, terms: Seq[String], k: Int)
      : DataFrame = {
    import spark.implicits._
    val q = broadcast(terms.distinct.toDF("term"))
    val toks = tokenized(docs).localCheckpoint()
    val lens = docLensFromToks(toks)
    val stats = lens.agg(
      count(lit(1)).cast("double").as("n_docs"), avg("dl").as("avgdl"))
    val qPost = postingsFromToks(toks).join(q, "term")
    val docFreq = qPost.groupBy("term")
      .agg(countDistinct("doc_id").cast("double").as("df"))
    scoreTopK(qPost
      .join(broadcast(docFreq), "term")
      .join(lens, "doc_id")
      .crossJoin(broadcast(stats)), k)
  }

  /** DuckDB oracle for [[search]] over `relation(doc_id, text)`.
    * `idAlias` renames the output id column (collection-level searches
    * return `id`); a relation supplying a VARCHAR doc_id makes the ORDER
    * BY tiebreak string-ordered on both engines by construction. */
  def searchSql(terms: Seq[String], k: Int, relation: String = "documents",
      idAlias: String = "doc_id"): String = {
    val termList = terms.distinct.map(t => s"'$t'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(${wordTokensSql("text")}) AS term FROM $relation),
       |tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
       |stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
       |qpost AS (SELECT * FROM tf WHERE term IN ($termList)),
       |df AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM qpost GROUP BY term),
       |scored AS (
       |  SELECT p.doc_id,
       |         sum(ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
       |             * p.tf * ($K1 + 1.0)
       |             / (p.tf + $K1 * (1.0 - $B + $B * dl.dl / s.avgdl))) AS score
       |  FROM qpost p
       |  JOIN df ON df.term = p.term
       |  JOIN dl ON dl.doc_id = p.doc_id
       |  CROSS JOIN stats s
       |  GROUP BY p.doc_id)
       |SELECT doc_id AS $idAlias, round(score, 6) AS score FROM scored
       |ORDER BY score DESC, $idAlias LIMIT $k""".stripMargin
  }
}
