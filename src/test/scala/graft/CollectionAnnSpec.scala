package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.VectorDb
import graft.filter.Eq
import graft.functions.VectorFunctions
import graft.index.IndexStore
import graft.knn.Ann

/** Collection-integrated ANN: a VectorCollection owns its persistent LSH
  * index — searches probe it, every mutation invalidates it through the
  * data-generation fingerprint (no manual invalidation anywhere), and a
  * pure insert maintains it incrementally instead of rebuilding
  * (reference behavior: index maintained across mutations,
  * jcolano/fastpyvectordb `vectordb_optimized.py:337-365, 467-501`).
  */
class CollectionAnnSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val D = 8

  private def rows(ids: (String, Int)*) =
    ids.toSeq.toDF("id", "k")
      .withColumn("vector", VectorFunctions.hashVector(col("k"), D))
      .withColumn("tag", concat(lit("t"), col("k") % 2))

  private def mkColl() = {
    val root = Files.createTempDirectory("graft_collann").toString
    new VectorDb(spark, root).createCollection("c", dimensions = D)
  }

  test("searchAnn equals in-query LSH over the collection data") {
    val coll = mkColl()
    coll.insertBatch(rows((1 to 40).map(i => s"id$i" -> i): _*))
    val qv = VectorFunctions.hashVectorValues(3L, D)
    val a = coll.searchAnn(qv, 5).collect().toSeq
    val b = Ann.lshSearch(coll.df, "vector", "id", qv, D, 5).collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("filtered searchAnn == LSH over the filtered data, filter pushed") {
    val coll = mkColl()
    coll.insertBatch(rows((1 to 40).map(i => s"id$i" -> i): _*))
    val qv = VectorFunctions.hashVectorValues(3L, D)
    val q = coll.searchAnn(qv, 5, filter = Some(Eq("tag", "t1")))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.contains("PushedFilters: [") && plan.contains("tag"), plan)
    val a = q.collect().toSeq
    val b = Ann.lshSearch(coll.df.filter(col("tag") === "t1"),
      "vector", "id", qv, D, 5).collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("upsert then searchAnn sees fresh results, no manual invalidation") {
    val coll = mkColl()
    coll.insertBatch(rows((1 to 20).map(i => s"id$i" -> i): _*))
    val qv = VectorFunctions.hashVectorValues(99L, D)
    val before = coll.searchAnn(qv, 1).collect()(0)
    // move id5 exactly onto the query vector — it must become the top hit
    coll.upsert(rows("id5" -> 99))
    val after = coll.searchAnn(qv, 1).collect()(0)
    assert(after.getString(0) == "id5" && after.getDouble(1) == 0.0)
    assert(before.getString(0) != "id5" || before.getDouble(1) != 0.0)
    // and a delete drops the hit
    coll.deleteIds(Seq("id5"))
    assert(coll.searchAnn(qv, 1).collect()(0).getString(0) != "id5")
  }

  test("searchText/searchHybrid serve from the collection's indexes and follow inserts") {
    import graft.bm25.Bm25
    import graft.hybrid.HybridSearch
    val root = Files.createTempDirectory("graft_colltext").toString
    val coll = new VectorDb(spark, root).createCollection("t", dimensions = D)
    def docRows(rows: (String, Int, String)*) =
      rows.toSeq.toDF("id", "k", "text")
        .withColumn("vector", VectorFunctions.hashVector(col("k"), D))
        .select("id", "text", "vector", "k")
    coll.insertBatch(docRows(
      ("a", 1, "spark joins filter the corpus quickly"),
      ("b", 2, "graph traversal with pattern filters"),
      ("c", 3, "vector search and keyword search blend"),
      ("e", 6, "a filter before the search keeps search exact")))
    // keyword top-k equals ad-hoc BM25 over the same rows
    val terms = Seq("search", "filter")
    val a = coll.searchText(terms, 3).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    val b = Bm25.search(spark,
        coll.df.select(col("id").as("doc_id"), col("text")), terms, 3)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(a == b && a.nonEmpty)
    // hybrid equals the ad-hoc reference blend over the collection's own
    // rows, with and without terms, after every kind of mutation
    val qv = VectorFunctions.hashVectorValues(2L, D)
    def blended(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toSeq
    def checkHybrid(step: String): Unit =
      Seq(terms, Seq.empty[String]).foreach { t =>
        val h = coll.searchHybrid(t, qv, 3)
        assert(h.columns.toSeq ==
          Seq("id", "vector_score", "keyword_score", "score"))
        val corpus = coll.df.select(col("id").as("doc_id"), col("text"),
          col("vector").as("embedding"))
        val want = blended(HybridSearch.search(spark, corpus, t, qv, 3, 0.6))
        val got = blended(h)
        assert(got == want && got.size == 3, s"after $step, terms $t")
      }
    checkHybrid("first insert")
    // an insert is visible to the next keyword search with no manual
    // invalidation (text index advanced or rebuilt via the fingerprint)
    coll.insertBatch(docRows(("d", 4, "zanzibar zanzibar zanzibar")))
    val hit = coll.searchText(Seq("zanzibar"), 1).collect()(0)
    assert(hit.getString(0) == "d")
    checkHybrid("insertBatch")
    coll.upsert(docRows(("a", 5, "search filter search"),
      ("f", 7, "keyword filter")))
    checkHybrid("upsert")
    assert(coll.deleteIds(Seq("c")) == 1)
    checkHybrid("deleteIds")
    // one ANN and one BM25 index: the hybrid blend keeps no copy
    coll.ensureAnnIndex(); coll.ensureTextIndex(); coll.ensureHybridIndex()
    val kinds = new java.io.File(
        s"${IndexStore.root}/${IndexStore.slug(s"$root/t")}")
      .list().toSeq.map(_.takeWhile(_ != '_')).sorted
    assert(kinds == Seq("collbm25", "colllsh"), kinds)
  }

  test("reading an empty collection reports the contract, not a path error") {
    val root = Files.createTempDirectory("graft_empty").toString
    val coll = new VectorDb(spark, root).createCollection("e", dimensions = D)
    val ex = intercept[IllegalArgumentException] {
      coll.searchAnn(VectorFunctions.hashVectorValues(1L, D), 3).collect()
    }
    assert(ex.getMessage.contains("empty"))
    assert(coll.count() == 0) // count() stays 0, not an error
  }

  test("ip collection: ANN probes MIPS augmented cells, maintains incrementally") {
    val root = Files.createTempDirectory("graft_collann_ip").toString
    val coll = new VectorDb(spark, root)
      .createCollection("c", dimensions = D, metric = "ip")
    coll.insertBatch(rows((1 to 30).map(i => s"id$i" -> i): _*))
    val qv = VectorFunctions.hashVectorValues(7L, D)
    val q = coll.searchAnn(qv, 5)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("cell#"),
      plan)
    assert(!plan.contains("band_idx"), plan)
    // exhaustive probe over the SAME index equals the exact ip search —
    // the order-embedding identity of the MIPS→L2 augmentation
    val a = graft.index.MipsIndex.search(spark, coll.ensureAnnIndex(),
      "vector", "id", qv, nprobe = 16, k = 5)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val b = coll.search(qv, 5).select("id", "score")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(a == b && a.nonEmpty)
    // filtered probe: predicate pushed into the pruned cell scan
    val f = coll.searchAnn(qv, 5, filter = Some(Eq("tag", "t1")))
    val fplan = f.queryExecution.executedPlan.toString
    assert(fplan.contains("PushedFilters: [") && fplan.contains("tag"), fplan)
    assert(f.collect().forall(_.getString(0).stripPrefix("id").toInt % 2 == 1))
    // a pure insert advances the MIPS index (moved dir), no rebuild, and
    // the frozen m2 still serves the appended rows
    val p1 = coll.ensureAnnIndex()
    assert(new java.io.File(s"$p1/SENTINEL").createNewFile())
    coll.insertBatch(rows("id31" -> 31, "id32" -> 32))
    val p2 = coll.ensureAnnIndex()
    assert(p2 != p1 && IndexStore.ready(spark, p2))
    assert(new java.io.File(s"$p2/SENTINEL").exists(),
      "insert must append to the moved MIPS index, not rebuild it")
    // (under ip the self-match need not win — a larger-norm vector can
    // out-dot it — so the right invariant is exhaustive-probe equality
    // with the exact search over the GROWN collection)
    val qv31 = VectorFunctions.hashVectorValues(31L, D)
    val a2 = graft.index.MipsIndex.search(spark, p2, "vector", "id",
      qv31, nprobe = 16, k = 3)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val b2 = coll.search(qv31, 3).select("id", "score")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(a2 == b2 && a2.nonEmpty)
  }

  test("l2 collection: ANN probes IVF cells, reranks true l2, maintains incrementally") {
    val root = Files.createTempDirectory("graft_collann_l2").toString
    val coll = new VectorDb(spark, root)
      .createCollection("c", dimensions = D, metric = "l2")
    coll.insertBatch(rows((1 to 30).map(i => s"id$i" -> i): _*))
    val qv = VectorFunctions.hashVectorValues(7L, D)
    val q = coll.searchAnn(qv, 5)
    // the probe is a cell partition filter, never an LSH bucket scan
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("cell#"),
      plan)
    assert(!plan.contains("band_idx"), plan)
    val res = q.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(res.size == 5 && res.map(_._2) == res.map(_._2).sorted)
    // id7's own vector sits in the query's nearest cell — always found,
    // with the TRUE l2 distance (0), not a cosine score
    assert(res.head == ("id7", 0.0))
    // multi-probe doubles nprobe: top-1 is at least as close
    val mp = coll.searchAnn(qv, 5, multiProbe = true)
      .collect().map(_.getDouble(1)).toSeq
    assert(mp.head <= res.head._2)
    // filtered probe: predicate pushed into the cell scan, results obey it
    val f = coll.searchAnn(qv, 5, filter = Some(Eq("tag", "t1")))
    val fplan = f.queryExecution.executedPlan.toString
    assert(fplan.contains("PartitionFilters: [") &&
      fplan.contains("PushedFilters: [") && fplan.contains("tag"), fplan)
    assert(f.collect().forall(_.getString(0).stripPrefix("id").toInt % 2 == 1))
    // a pure insert advances the IVF index (moved dir), no rebuild
    val p1 = coll.ensureAnnIndex()
    assert(new java.io.File(s"$p1/SENTINEL").createNewFile())
    coll.insertBatch(rows("id31" -> 31, "id32" -> 32))
    val p2 = coll.ensureAnnIndex()
    assert(p2 != p1 && IndexStore.ready(spark, p2))
    assert(new java.io.File(s"$p2/SENTINEL").exists(),
      "insert must append to the moved IVF index, not rebuild it")
    val hit = coll.searchAnn(
      VectorFunctions.hashVectorValues(31L, D), 1).collect()(0)
    assert(hit.getString(0) == "id31" && hit.getDouble(1) == 0.0)
  }

  test("l2 batch ANN: distributed probe with a literal cell partition filter") {
    val root = Files.createTempDirectory("graft_collann_l2b").toString
    val coll = new VectorDb(spark, root)
      .createCollection("c", dimensions = D, metric = "l2")
    coll.insertBatch(rows((1 to 40).map(i => s"id$i" -> i): _*))
    val queries = Seq(3L, 9L, 17L).toDF("qid")
      .withColumn("qvec", VectorFunctions.hashVector(col("qid"), D))
    val q = coll.searchAnnBatch(queries, 5)
    val plan = q.queryExecution.executedPlan.toString
    // the probed-cell union must reach the corpus scan as a LITERAL
    // partition filter (file pruning independent of DPP heuristics)
    assert(plan.contains("PartitionFilters: [cell#") ||
      plan.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("cell#") &&
          l.contains(" IN (")), plan)
    val res = q.collect()
    // per-query top-k: each query's own vector is its nearest neighbor
    val byQ = res.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(3L, 9L, 17L))
    for ((qid, rs) <- byQ) {
      assert(rs.length == 5)
      assert(rs.head.getString(1) == s"id$qid" && rs.head.getDouble(2) == 0.0)
    }
  }

  test("a pure insert advances the index incrementally, not by rebuild") {
    val coll = mkColl()
    coll.insertBatch(rows((1 to 20).map(i => s"id$i" -> i): _*))
    val p1 = coll.ensureAnnIndex()
    // sentinel survives only if the index dir is MOVED (advance+append),
    // not rebuilt from scratch
    assert(new java.io.File(s"$p1/SENTINEL").createNewFile())
    coll.insertBatch(rows("id21" -> 21, "id22" -> 22))
    val p2 = coll.ensureAnnIndex()
    assert(p2 != p1 && IndexStore.ready(spark, p2))
    assert(new java.io.File(s"$p2/SENTINEL").exists(),
      "insert must append to the moved index, not rebuild it")
    // the appended rows are searchable: id21's own vector is its top hit
    val hit = coll.searchAnn(
      VectorFunctions.hashVectorValues(21L, D), 1).collect()(0)
    assert(hit.getString(0) == "id21" && hit.getDouble(1) == 0.0)
  }
}
