package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{VectorCollection, VectorDb}
import graft.filter.Eq
import graft.functions.VectorFunctions
import graft.index.{Bm25Index, IndexStore, LshIndex}

/** Tables opened once per session ([[IndexStore.table]]) must never be
  * served stale: after every operation that rewrites what lies under a
  * path, a search in the long-lived session equals the same search from
  * a fresh session, which opens every table anew. Opened tables are
  * per session and are not CacheManager state.
  */
class OpenTablesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val D = 16
  private val Words = Seq("spark", "join", "filter", "vector", "index",
    "query", "table", "graph", "rank", "scan", "cell", "bucket")
  private val q = VectorFunctions.hashVectorValues(7L, D)
  private val terms = Seq("spark", "vector", "graph")

  private def docs(ids: Range, shift: Int = 0): DataFrame =
    ids.map { i =>
      val r = new scala.util.Random(i + shift)
      (f"id$i%04d", i + shift, s"c${i % 4}",
        Seq.fill(5)(Words(r.nextInt(Words.size))).mkString(" "))
    }.toDF("id", "k", "category", "text")
      .withColumn("vector", VectorFunctions.hashVector(col("k"), D))
      .drop("k")

  private def answers(c: VectorCollection): Seq[Seq[Row]] = Seq(
    c.searchAnn(q, 10).collect().toSeq,
    c.searchAnn(q, 10, Some(Eq("category", "c1"))).collect().toSeq,
    c.search(q, 10, Some(Eq("category", "c1"))).collect().toSeq,
    c.searchText(terms, 10).collect().toSeq,
    c.searchHybrid(terms, q, 10).collect().toSeq)

  private def relationOf(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r
    }.get

  test("after every collection mutation a search equals a fresh session's") {
    val root = Files.createTempDirectory("graft_open_tables").toString
    val coll = new VectorDb(spark, root).createCollection("docs", D, "cosine")
    coll.insertBatch(docs(0 until 200))
    def fresh(): Seq[Seq[Row]] = answers(
      new VectorDb(spark.newSession(), root).getCollection("docs").get)
    def check(step: String): Unit = {
      val got = answers(coll)
      assert(got == fresh(), s"stale answer after $step")
      assert(got.forall(_.nonEmpty), s"empty answer after $step")
    }
    check("first insert")
    coll.insertBatch(docs(200 until 260))
    check("insertBatch (index advance)")
    coll.upsert(docs(0 until 40, shift = 1000))
    check("upsert (rebuild)")
    assert(coll.deleteIds((40 until 80).map(i => f"id$i%04d")) == 40)
    check("deleteIds (rebuild)")
    coll.compact(2)
    check("compact")
    IndexStore.invalidate(spark, coll.ensureAnnIndex())
    IndexStore.invalidate(spark, coll.ensureTextIndex())
    check("IndexStore.invalidate")
  }

  test("a direct build or append at a reused path drops the opened tables") {
    def emb(ids: Range, shift: Int) = ids.map(i => (i.toLong, i + shift))
      .toDF("vec_id", "k")
      .withColumn("embedding", VectorFunctions.hashVector(col("k"), D))
      .drop("k")
    def text(ids: Range, shift: Int) = ids.map { i =>
      val r = new scala.util.Random(i + shift)
      (i.toLong, Seq.fill(6)(Words(r.nextInt(Words.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val base = Files.createTempDirectory("graft_open_reuse").toString
    val lsh = s"$base/lsh"
    val bm25 = s"$base/bm25"
    // the vector of row 160, which only the append below adds
    val qa = VectorFunctions.hashVectorValues(160L, D)
    def lshHits(s: SparkSession) =
      LshIndex.search(s, lsh, "embedding", "vec_id", qa, D, 10).collect().toSeq
    def bm25Hits(s: SparkSession) =
      Bm25Index.search(s, bm25, terms, 10).collect().toSeq

    LshIndex.build(spark, emb(0 until 150, 0), "embedding", "vec_id", D, lsh)
    Bm25Index.build(spark, text(0 until 150, 0), bm25)
    lshHits(spark); bm25Hits(spark) // opens both tables in this session

    LshIndex.build(spark, emb(0 until 150, 5000), "embedding", "vec_id", D, lsh)
    Bm25Index.build(spark, text(0 until 150, 5000), bm25)
    assert(lshHits(spark) == lshHits(spark.newSession()), "LSH rebuild")
    assert(bm25Hits(spark) == bm25Hits(spark.newSession()), "BM25 rebuild")

    LshIndex.append(spark, emb(150 until 300, 0), "embedding", "vec_id", D, lsh)
    Bm25Index.append(spark, text(150 until 300, 0), bm25)
    val lshAfter = lshHits(spark)
    assert(lshAfter == lshHits(spark.newSession()), "LSH append")
    assert(bm25Hits(spark) == bm25Hits(spark.newSession()), "BM25 append")
    assert(lshAfter.head.getLong(0) == 160L,
      "the appended rows are visible to the probe")
  }

  test("ensure drops the opened tables of the stale siblings it deletes") {
    val base = Files.createTempDirectory("graft_open_siblings").toString
    val (p1, p2) = (s"$base/okind_1", s"$base/okind_2")
    val corpus = (0 until 50).map(i => (i.toLong, i)).toDF("vec_id", "k")
      .withColumn("embedding", VectorFunctions.hashVector(col("k"), D))
    def build(p: String) =
      IndexStore.ensure(spark, p)(LshIndex.build(spark, corpus, "embedding",
        "vec_id", D, _))
    def search(p: String) =
      LshIndex.search(spark, p, "embedding", "vec_id", q, D, 5).collect().toSeq
    build(p1)
    val want = search(p1)
    assert(IndexStore.openTables(spark).exists(_.startsWith(p1)))
    build(p2) // deletes p1 as a stale sibling of the same kind
    assert(!IndexStore.openTables(spark).exists(_.startsWith(p1)))
    // p1 is gone from disk, so ensure must build it again, not trust a memo
    build(p1)
    assert(IndexStore.ready(spark, p1) && search(p1) == want)
  }

  test("sessions never share an opened table, and it is not cached data") {
    spark.catalog.clearCache()
    val base = Files.createTempDirectory("graft_open_sessions").toString
    val p = s"$base/t"
    (0 until 10).toDF("x").write.parquet(p)
    val other = spark.newSession()
    val a1 = IndexStore.table(spark, p)
    val a2 = IndexStore.table(spark, p)
    val b = IndexStore.table(other, p)
    assert(relationOf(a1) eq relationOf(a2), "opened once per session")
    assert(a1.queryExecution.analyzed.output.map(_.exprId) !=
      a2.queryExecution.analyzed.output.map(_.exprId),
      "every call gets its own attribute ids")
    assert(relationOf(b) ne relationOf(a1), "a sibling session opens its own")
    assert(relationOf(a1).sparkSession eq spark)
    assert(relationOf(b).sparkSession eq other)
    assert(IndexStore.openTables(other).exists(_.startsWith(p)))
    assert(a1.join(a2, "x").count() == 10, "two reads self-join")
    assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty, "opened tables are not cached data")
    IndexStore.invalidateState(p)
    assert(!IndexStore.openTables(spark).exists(_.startsWith(p)))
    assert(!IndexStore.openTables(other).exists(_.startsWith(p)))
  }
}
