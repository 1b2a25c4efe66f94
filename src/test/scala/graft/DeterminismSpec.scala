package graft

import org.scalatest.funsuite.AnyFunSuite

/** Results must be identical under different shuffle layouts — the
  * invariant that makes the engine's answers stable across cluster sizes,
  * retries, and AQE decisions (every score is rounded and every LIMIT
  * follows a total order). The graph probes plan in a per-call
  * non-adaptive clone of the session, so they also check that the clone
  * takes the caller's current partition count.
  */
class DeterminismSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  private val probes = Seq(
    "knn_batch", "dedup_minhash_lsh", "hybrid_search", "bm25_search",
    "graph_shortest_paths", "events_sessions", "ann_lsh_batch",
    "ann_ivf_partitioned", "dedup_components", "sq_index_search",
    "graph_pagerank", "graph_ppr", "semantic_graph_search", "graph_rerank")

  test("representative queries are invariant to shuffle partition count") {
    val key = "spark.sql.shuffle.partitions"
    val original = spark.conf.get(key)
    def runAll(): Map[String, Seq[String]] =
      probes.map { name =>
        val df = Catalog.byName(name).run(spark, sf)
        assert(df.sparkSession.conf.get(key) == spark.conf.get(key),
          s"$name planned with another partition count")
        name -> df.collect().map(_.toString).toSeq
      }.toMap
    try {
      spark.conf.set(key, "5")
      val a = runAll()
      spark.conf.set(key, "17")
      val b = runAll()
      probes.foreach { name =>
        assert(a(name) == b(name), s"$name diverged across partitionings")
      }
    } finally spark.conf.set(key, original)
  }

  test("index builds are invariant to input partitioning") {
    import graft.index.{Bm25Index, IndexStore}
    val docs = graft.core.Tables.documents(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("graft_det_idx").toString
    val p3 = s"$tmp/p3"; val p11 = s"$tmp/p11"
    IndexStore.ensure(spark, p3)(p =>
      Bm25Index.build(spark, docs.repartition(3), p))
    IndexStore.ensure(spark, p11)(p =>
      Bm25Index.build(spark, docs.repartition(11), p))
    val terms = Seq("spark", "join", "filter")
    val a = Bm25Index.search(spark, p3, terms, 10).collect().toSeq
    val b = Bm25Index.search(spark, p11, terms, 10).collect().toSeq
    assert(a == b && a.nonEmpty)
  }
}
