package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Q
import graft.core.Tables
import graft.bm25.Bm25
import graft.hybrid.HybridSearch
import graft.index.{Bm25Index, Indexes, IndexStore}
import graft.functions.VectorFunctions
import graft.text.TextAnalysis.wordTokensSql

/** BM25 keyword search, the persistent inverted index, and the hybrid
  * blend — all searches run against the prebuilt index tables
  * (graft.index.Bm25Index): build once, search many times, exactly the
  * regime the reference benchmarks (`hybrid_search.py:77-117` builds its
  * index at load and maintains it incrementally).
  */
object Bm25Queries {
  private val QueryTerms = Seq("spark", "join", "filter")
  private val K = 10
  private val D = Tables.EmbeddingDim

  val qs: Seq[Q] = Seq(
    // dedicated index build: force-rebuilds the documents BM25 index and
    // returns a one-row summary pinning every index table (the oracle
    // recomputes the same four scalars from the raw corpus)
    Q(
      "bm25_index_build",
      (s, dir) => {
        val p = IndexStore.path(s, dir, "bm25docs", Seq(s"$dir/documents.parquet"))
        IndexStore.invalidate(s, p)
        Bm25Index.buildSummary(s, Indexes.bm25Docs(s, dir))
      },
      Some(
        s"""WITH tok AS (
           |  SELECT doc_id, unnest(${wordTokensSql("text")}) AS term FROM documents),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
           |dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1)
           |SELECT (SELECT count(*) FROM dl) AS n_docs,
           |       (SELECT round(avg(dl), 6) FROM dl) AS avgdl,
           |       (SELECT count(DISTINCT term) FROM tf) AS n_terms,
           |       (SELECT count(*) FROM tf) AS n_postings""".stripMargin)
    ),
    Q(
      "bm25_search",
      (s, dir) => Bm25Index.search(s, Indexes.bm25Docs(s, dir), QueryTerms, K),
      Some(Bm25.searchSql(QueryTerms, K)),
      bench = true
    ),
    Q(
      "bm25_index_stats",
      (s, dir) =>
        Bm25Index.termStats(s, Indexes.bm25Docs(s, dir))
          .orderBy(desc("df"), col("term"))
          .limit(20),
      Some(
        s"""WITH tok AS (
           |  SELECT doc_id, unnest(${wordTokensSql("text")}) AS term FROM documents)
           |SELECT term, count(DISTINCT doc_id) AS df, count(*) AS total_tf
           |FROM tok GROUP BY term
           |ORDER BY df DESC, term LIMIT 20""".stripMargin)
    ),
    // keyword search + metadata filter (reference keyword_search,
    // hybrid_search.py:318-358 — but filtered BEFORE scoring: df and
    // corpus stats recomputed over the allowed subset, served from the
    // prebuilt postings)
    Q(
      "bm25_filtered",
      (s, dir) => {
        val allowed = Tables.documents(s, dir)
          .filter(graft.filter.Eq("lang", "en").column)
          .select("doc_id")
        Bm25Index.searchFiltered(s, Indexes.bm25Docs(s, dir), allowed,
          QueryTerms, K)
      },
      Some(Bm25.searchSql(QueryTerms, K,
        relation = "(SELECT * FROM documents WHERE lang = 'en')")),
    ),
    Q(
      "hybrid_search",
      (s, dir) => hybrid(s, dir, QueryTerms, alpha = 0.6),
      Some(HybridSearch.searchSql(QueryTerms, 5L, D, K, alpha = 0.6)),
      bench = true
    ),
    // alpha sweep (the reference's own test matrix, test_comprehensive
    // suite 5 runs 0.2/0.5/0.8): keyword-dominant and vector-dominant
    hybridAlpha(0.2), hybridAlpha(0.8),
    // explicit weight params: α = vw/(vw+kw) (hybrid_search.py:393-396)
    Q(
      "hybrid_search_weighted",
      (s, dir) => hybrid(s, dir, QueryTerms, alpha = 0.5,
        vectorWeight = Some(3.0), keywordWeight = Some(1.0)),
      Some(HybridSearch.searchSql(QueryTerms, 5L, D, K, alpha = 0.75))
    ),
    // serving-side snippet extraction: for each BM25 hit, the 7-token
    // window starting at max(0, first-match-pos − 3) — the highlight a
    // search UI shows under every result. Window arithmetic is pure
    // integer position math (the substring-scrub discipline), so every
    // snippet is oracle-recomputable.
    Q(
      "bm25_snippets",
      (s, dir) => {
        import graft.text.TextAnalysis
        val base = Bm25Index.search(s, Indexes.bm25Docs(s, dir), QueryTerms, K)
        val tokp = Tables.documents(s, dir)
          .join(base.select("doc_id"), "doc_id")
          .selectExpr("doc_id", s"${TextAnalysis.wordTokens("text")} as ws")
        val firstPos = tokp
          .selectExpr("doc_id", "posexplode(ws) as (pos, t)")
          .filter(col("t").isin(QueryTerms: _*))
          .groupBy("doc_id").agg(min("pos").as("p"))
        tokp.join(firstPos, "doc_id")
          .selectExpr("doc_id", "p",
            "array_join(slice(ws, greatest(p - 3, 0) + 1, 7), ' ') as snippet")
          .orderBy("doc_id")
      },
      Some {
        import graft.bm25.Bm25.{K1, B}
        import graft.text.TextAnalysis
        val lit0 = QueryTerms.map(t => s"'$t'").mkString(", ")
        s"""WITH tok AS (
           |  SELECT doc_id, unnest(${TextAnalysis.wordTokensSql("text")})
           |           AS term
           |  FROM documents),
           |tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf
           |       FROM tok GROUP BY 1, 2),
           |dl AS (SELECT doc_id, count(*)::DOUBLE AS dl
           |       FROM tok GROUP BY 1),
           |stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl
           |          FROM dl),
           |qpost AS (SELECT * FROM tf WHERE term IN ($lit0)),
           |df AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
           |       FROM qpost GROUP BY term),
           |scored AS (
           |  SELECT p.doc_id,
           |         sum(ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
           |             * p.tf * ($K1 + 1.0)
           |             / (p.tf + $K1 * (1.0 - $B + $B * dl.dl / s.avgdl)))
           |           AS score
           |  FROM qpost p
           |  JOIN df ON df.term = p.term
           |  JOIN dl ON dl.doc_id = p.doc_id
           |  CROSS JOIN stats s
           |  GROUP BY p.doc_id),
           |base AS (SELECT doc_id FROM scored
           |         ORDER BY round(score, 6) DESC, doc_id LIMIT $K),
           |w AS MATERIALIZED (
           |      SELECT doc_id, ${TextAnalysis.wordTokensSql("text")} AS ws
           |      FROM documents JOIN base USING (doc_id)),
           |wp0 AS (SELECT doc_id, ws, unnest(range(0, len(ws))) AS pos
           |        FROM w),
           |fp AS (
           |  SELECT doc_id, CAST(min(pos) AS INT) AS p
           |  FROM wp0 WHERE ws[pos + 1] IN ($lit0) GROUP BY doc_id)
           |SELECT w.doc_id, fp.p,
           |       array_to_string(
           |         ws[greatest(p - 3, 0) + 1 : greatest(p - 3, 0) + 7], ' ')
           |         AS snippet
           |FROM w JOIN fp USING (doc_id) ORDER BY doc_id""".stripMargin
      }
    ),
    // pseudo-relevance feedback (the RM3 shape): BM25 top-k feedback
    // docs → top-3 expansion terms by feedback-set term frequency
    // (original terms and stopwords excluded, ties lexicographic) →
    // expanded re-search against the SAME prebuilt postings. The
    // expansion collect is 3 bounded rows (the learnFromWords
    // discipline); both searches probe the index, nothing re-tokenizes
    // at query time.
    Q(
      "bm25_prf_expand",
      (s, dir) => {
        import graft.text.TextAnalysis
        val base = Bm25Index.search(s, Indexes.bm25Docs(s, dir), QueryTerms, K)
        val excluded = QueryTerms ++ TextAnalysis.Stopwords
        val exp = Tables.documents(s, dir)
          .join(base.select("doc_id"), "doc_id")
          .selectExpr(s"explode(${TextAnalysis.wordTokens("text")}) as term")
          .filter(!col("term").isin(excluded: _*))
          .groupBy("term").agg(count(lit(1)).as("c"))
          .orderBy(desc("c"), col("term")).limit(3)
          .collect().map(_.getString(0)).toSeq
        Bm25Index.search(s, Indexes.bm25Docs(s, dir), QueryTerms ++ exp, K)
      },
      Some {
        import graft.bm25.Bm25.{K1, B}
        import graft.text.TextAnalysis
        val lit0 = QueryTerms.map(t => s"'$t'").mkString(", ")
        val excl = (QueryTerms ++ TextAnalysis.Stopwords)
          .map(t => s"'$t'").mkString(", ")
        def scored(qpost: String, out: String) =
          s"""$out AS (
             |  SELECT p.doc_id,
             |         sum(ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
             |             * p.tf * ($K1 + 1.0)
             |             / (p.tf + $K1 * (1.0 - $B + $B * dl.dl / s.avgdl)))
             |           AS score
             |  FROM $qpost p
             |  JOIN df_$qpost df ON df.term = p.term
             |  JOIN dl ON dl.doc_id = p.doc_id
             |  CROSS JOIN stats s
             |  GROUP BY p.doc_id)""".stripMargin
        s"""WITH tok AS (
           |  SELECT doc_id, unnest(${TextAnalysis.wordTokensSql("text")})
           |           AS term
           |  FROM documents),
           |tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf
           |       FROM tok GROUP BY 1, 2),
           |dl AS (SELECT doc_id, count(*)::DOUBLE AS dl
           |       FROM tok GROUP BY 1),
           |stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl
           |          FROM dl),
           |q0 AS (SELECT * FROM tf WHERE term IN ($lit0)),
           |df_q0 AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
           |          FROM q0 GROUP BY term),
           |${scored("q0", "s0")},
           |base AS (SELECT doc_id FROM s0
           |         ORDER BY round(score, 6) DESC, doc_id LIMIT $K),
           |exp AS (
           |  SELECT term FROM tok JOIN base USING (doc_id)
           |  WHERE term NOT IN ($excl)
           |  GROUP BY term ORDER BY count(*) DESC, term LIMIT 3),
           |q1 AS (SELECT * FROM tf
           |       WHERE term IN ($lit0)
           |          OR term IN (SELECT term FROM exp)),
           |df_q1 AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
           |          FROM q1 GROUP BY term),
           |${scored("q1", "s1")}
           |SELECT doc_id, round(score, 6) AS score FROM s1
           |ORDER BY score DESC, doc_id LIMIT $K""".stripMargin
      }
    ),
    // reciprocal-rank fusion (Cormack et al. 2009): the rank-based
    // blend that needs no score normalization at all — the standard
    // alternative to the reference's max-norm α-blend when branch score
    // scales don't compare
    Q(
      "hybrid_search_rrf",
      (s, dir) => {
        val p = Indexes.hybrid(s, dir)
        HybridSearch.searchIndexedRrf(s, IndexStore.table(s, s"$p/vectors"),
          p, QueryTerms, VectorFunctions.hashVectorValues(5L, D), K)
      },
      Some(HybridSearch.searchRrfSql(QueryTerms, 5L, D, K))
    ),
    // no query text → pure vector fallback with raw similarity scores
    // (hybrid_search.py:397-411)
    Q(
      "hybrid_search_notext",
      (s, dir) => hybrid(s, dir, Seq.empty, alpha = 0.6),
      Some(HybridSearch.vectorOnlySql(5L, D, K))
    )
  )

  private def hybridAlpha(alpha: Double): Q = Q(
    f"hybrid_search_a${(alpha * 10).toInt}%02d",
    (s, dir) => hybrid(s, dir, QueryTerms, alpha),
    Some(HybridSearch.searchSql(QueryTerms, 5L, D, K, alpha))
  )

  /** Blended search over the corpus hybrid index (graft.index.Indexes
    * .hybrid): its own `vectors` table and its BM25 postings. */
  private def hybrid(s: SparkSession, dir: String, terms: Seq[String],
      alpha: Double, vectorWeight: Option[Double] = None,
      keywordWeight: Option[Double] = None): DataFrame = {
    val p = Indexes.hybrid(s, dir)
    HybridSearch.searchIndexed(s, IndexStore.table(s, s"$p/vectors"), p,
      terms, VectorFunctions.hashVectorValues(5L, D), K, alpha,
      vectorWeight, keywordWeight)
  }
}
