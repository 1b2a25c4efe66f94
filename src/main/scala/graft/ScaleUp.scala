package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool (VERDICT r8 #6): materialize a key-shifted N× copy of a
  * testdata scale dir so the empirical scale curve extends one decade
  * past sf0.1 without a generator. Every key column is offset by
  * copy·5·10⁷ — each copy is a disjoint, FK-consistent replica (the graph
  * becomes N disjoint components; joins and aggregations see N× rows
  * with the SAME per-key cardinalities, which is the scale shape being
  * tested, not a hot-key stress). Embeddings are circularly shifted per
  * copy so the vector corpus is N× DISTINCT points — identical copies
  * would turn every LSH bucket into a 100× duplicate cluster and
  * measure the dedup guard, not the 10× scan/join path. Document text
  * is copied as-is: the RAG path's cost is per-row kernels + top-k and
  * never compares documents to each other.
  *
  * Usage: runMain graft.ScaleUp <srcDir> <dstDir> [copies=10]
  */
object ScaleUp {
  private val KeyCols: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"),
    "nation" -> Seq("n_nationkey", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_nationkey"),
    "supplier" -> Seq("s_suppkey", "s_nationkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))
  // far above every base key (max ≈ 1.5M at sf0.1) and inside int32
  // range for c ≤ 42 — the INT key columns cast back without overflow
  private val Offset = 50000000L
  // dense offset for the 100× draw (VERDICT r14 #5): 42 < copies ≤ 100
  // needs 99·offset + maxKey ≤ Int.MaxValue, so the stride drops to
  // 2·10⁷ (still ≥13× above the sf0.1 key ceiling; a runtime max-key
  // scan below proves disjointness against the REAL corpus instead of
  // assuming it). copies ≤ 42 keeps the original stride so every
  // cached fingerprint-keyed 10×/30× corpus stays byte-identical.
  private val OffsetDense = 20000000L
  private def offsetFor(copies: Int): Long =
    if (copies <= 42) Offset else OffsetDense

  /** The tables a scale dir consists of, in stable order — the bench's
    * per-round decade probe materializes all of them. */
  def tables: Seq[String] = KeyCols.keys.toSeq.sorted

  def scaled(spark: SparkSession, srcDir: String, table: String,
      copies: Int): DataFrame = {
    // past the per-stride bound the non-ANSI cast back to the INT key
    // columns silently wraps → corrupt FKs in the generated corpus
    // (ADVICE r9). Enforce the documented bounds.
    require(copies >= 1 && copies <= 100,
      s"copies must be in [1, 100] (int32 key headroom), got $copies")
    val offset = offsetFor(copies)
    val src = spark.read.parquet(s"$srcDir/$table.parquet")
    val keys = KeyCols(table)
    if (copies > 42) {
      // dense stride: prove copy-disjointness (max base key < stride)
      // and int32 headroom against the actual corpus — one cheap 1-row
      // agg on the base table, instead of trusting the doc comment
      val aggs = keys.map(k => max(col(k).cast("long")))
      val mx = src.agg(aggs.head, aggs.tail: _*).head
        .toSeq.map(_.asInstanceOf[Long]).max
      require(mx < offset && (copies - 1).toLong * offset + mx <= Int.MaxValue,
        s"$table: max key $mx breaks the dense stride $offset at $copies copies")
    }
    (0 until copies).map { c =>
      var df = src
      keys.foreach { k =>
        val t = src.schema(k).dataType
        df = df.withColumn(k, (col(k) + lit(c * offset)).cast(t))
      }
      if (table == "embeddings" && c > 0) {
        // circular shift by c: a distinct valid vector per copy, same
        // norm/coordinate distribution — spreads LSH buckets instead of
        // cloning them
        val d = src.selectExpr("size(embedding) as d").head.getInt(0)
        // 1 + (c-1) % (d-1) keeps the shift in [1, d-1] for EVERY copy —
        // a plain c % d degenerates to 0 (identical vectors, violating
        // the LSH-spread invariant above) whenever c is a multiple of
        // the embedding dim (ADVICE r9)
        val s = 1 + (c - 1) % (d - 1)
        df = df.withColumn("embedding",
          concat(slice(col("embedding"), s + 1, d - s),
            slice(col("embedding"), 1, s)))
      }
      df
    }.reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val dstDir = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = LocalSpark.session()
    KeyCols.keys.toSeq.sorted.foreach { t =>
      scaled(spark, srcDir, t, copies)
        .write.mode("overwrite").parquet(s"$dstDir/$t.parquet")
      println(s"[scaleup] $t x$copies -> $dstDir")
    }
    spark.stop()
  }
}
