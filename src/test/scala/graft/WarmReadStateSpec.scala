package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.bm25.Bm25
import graft.core.{VectorCollection, VectorDb}
import graft.functions.VectorFunctions
import graft.hybrid.HybridSearch
import graft.index.{Bm25Index, IndexStore}

/** The driver-side state a warm read keeps between calls. A BM25 probe
  * applies the index's corpus stats (n_docs, avgdl) from a per-path memo,
  * so every change to the index must drop it: keyword and hybrid answers
  * equal the in-query scorers over the live corpus after each mutation.
  * Collection data and index paths are keyed by the data fingerprint, a
  * `listStatus` walk that must mix the same digest as the `listFiles`
  * walk it replaced, or every persisted index would move.
  */
class WarmReadStateSpec extends AnyFunSuite {
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

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  test("keyword and hybrid answers follow every collection mutation") {
    val root = Files.createTempDirectory("graft_warm_state").toString
    val coll = new VectorDb(spark, root).createCollection("docs", D, "cosine")
    coll.insertBatch(docs(0 until 200))
    def check(step: String): Unit = {
      val got = Seq(rows(coll.searchText(terms, 10)),
        rows(coll.searchHybrid(terms, q, 10)))
      val data = coll.df
      val inQuery = Seq(
        rows(Bm25.search(spark,
          data.select(col("id").as("doc_id"), col("text")), terms, 10)),
        rows(HybridSearch.search(spark,
          data.select(col("id").as("doc_id"), col("text"),
            col("vector").as("embedding")), terms, q, 10, 0.6)))
      val fresh: VectorCollection =
        new VectorDb(spark.newSession(), root).getCollection("docs").get
      assert(got == inQuery, s"answers differ from the in-query scorers after $step")
      assert(got == Seq(rows(fresh.searchText(terms, 10)),
        rows(fresh.searchHybrid(terms, q, 10))),
        s"answers differ from a fresh session's after $step")
      assert(got.forall(_.nonEmpty), s"empty answer after $step")
    }
    check("first insert")
    val before = coll.ensureTextIndex()
    coll.insertBatch(docs(200 until 260))
    assert(!IndexStore.ready(spark, before) && IndexStore.ready(spark,
      coll.ensureTextIndex()), "the insert advanced the text index")
    check("insertBatch (text index advanced by append)")
    coll.upsert(docs(0 until 40, shift = 1000))
    check("upsert")
    assert(coll.deleteIds((40 until 80).map(i => f"id$i%04d")) == 40)
    check("deleteIds")
  }

  test("a direct append at a reused path scores against the new corpus") {
    def text(ids: Range) = ids.map { i =>
      val r = new scala.util.Random(i)
      (i.toLong, Seq.fill(3 + i / 50)(Words(r.nextInt(Words.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val path = s"${Files.createTempDirectory("graft_bm25_append")}/bm25"
    Bm25Index.build(spark, text(0 until 100), path)
    def hits(s: SparkSession) = rows(Bm25Index.search(s, path, terms, 10))
    assert(hits(spark) == rows(Bm25.search(spark, text(0 until 100), terms, 10)))
    // the appended docs are longer, so n_docs and avgdl both change: a
    // memo kept across the append mis-scores
    Bm25Index.append(spark, text(100 until 250), path)
    val want = rows(Bm25.search(spark, text(0 until 250), terms, 10))
    assert(hits(spark) == want, "the long-lived session after append")
    assert(hits(spark.newSession()) == want, "a fresh session after append")
  }

  test("the listStatus fingerprint equals the former listFiles digest") {
    val dir = s"${Files.createTempDirectory("graft_fp")}/t"
    // a Spark write leaves _SUCCESS, .crc sidecars and partition subdirs
    (0 until 40).map(i => (i, i % 3)).toDF("x", "part")
      .write.partitionBy("part").parquet(dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed = {
      val it = fs.listFiles(new Path(dir), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.getName).toSeq
    }
    assert(listed.contains("_SUCCESS") && listed.exists(_.startsWith("part-")))
    assert(Files.list(java.nio.file.Paths.get(dir, "part=0")).toArray
      .exists(_.toString.endsWith(".crc")), "the fixture holds .crc sidecars")

    /** The digest as `IndexStore.fingerprint` computed it over `listFiles`. */
    def listFilesDigest(sources: Seq[String]): String = {
      var h = 1125899906842597L
      sources.foreach { s =>
        val p = new Path(s)
        if (fs.exists(p)) {
          val base = fs.makeQualified(p).toString
          val entries = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
          val it = fs.listFiles(p, true)
          while (it.hasNext) {
            val st = it.next()
            entries += ((st.getPath.toString.stripPrefix(base),
              st.getLen, st.getModificationTime))
          }
          entries.sortInPlaceBy(_._1).foreach { case (rel, len, mtime) =>
            h = h * 31 + rel.hashCode
            h = h * 31 + len
            h = h * 31 + mtime
          }
        }
      }
      java.lang.Long.toHexString(h)
    }
    val single = s"$dir/part=1/${
      fs.listStatus(new Path(dir, "part=1")).map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).head}"
    for (sources <- Seq(Seq(dir), Seq(dir, s"$dir/part=2"), Seq(single),
        Seq(s"$dir/absent")))
      assert(IndexStore.fingerprint(spark, sources) == listFilesDigest(sources),
        sources)
  }
}
