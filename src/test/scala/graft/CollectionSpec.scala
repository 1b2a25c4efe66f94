package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.VectorDb
import graft.filter.Eq
import graft.functions.VectorFunctions

/** Lifecycle test of the parquet-backed collection store: create, batch
  * insert (dup rejection), upsert, delete, point lookup, persistence
  * across catalog instances.
  */
class CollectionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def rows(ids: (String, Int)*) =
    ids.toSeq.toDF("id", "k")
      .withColumn("vector", VectorFunctions.hashVector(col("k"), 8))
      .withColumn("tag", concat(lit("t"), col("k") % 2))

  test("full CRUD lifecycle with persistence round-trip") {
    val root = Files.createTempDirectory("graft_vdb").toString
    val db = new VectorDb(spark, root)

    val coll = db.createCollection("docs", dimensions = 8)
    assert(db.listCollections() == Seq("docs"))
    assert(coll.count() == 0)

    coll.insertBatch(rows("a" -> 1, "b" -> 2, "c" -> 3))
    assert(coll.count() == 3)

    // duplicate id in a second batch → whole batch rejected
    assertThrows[IllegalArgumentException] {
      coll.insertBatch(rows("c" -> 9, "d" -> 4))
    }
    assert(coll.count() == 3)

    // upsert replaces b, adds d
    coll.upsert(rows("b" -> 20, "d" -> 4))
    assert(coll.count() == 4)
    val bk = coll.get(Seq("b")).select("k").head().getInt(0)
    assert(bk == 20)

    // delete by filter-DSL predicate
    val deleted = coll.deleteWhere(Eq("id", "a"))
    assert(deleted == 1 && coll.count() == 3)

    assert(coll.listIds(limit = 2, offset = 1) == Seq("c", "d"))
    assert(coll.peek(2).select("id").collect().map(_.getString(0)).toSeq
      == Seq("b", "c"))

    // reopen from disk through a fresh catalog
    val db2 = new VectorDb(spark, root)
    val reopened = db2.getCollection("docs").get
    assert(reopened.config.dimensions == 8)
    assert(reopened.count() == 3)

    // deleteIds must not CDC-log ids that never existed
    assert(reopened.deleteIds(Seq("nosuchid")) == 0)

    // CDC changelog recorded every mutation
    val log = reopened.changelog
      .groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(log("insert") == 3L, s"changelog: $log")
    assert(log("upsert") == 2L)
    assert(log("delete") == 1L)

    assert(db2.dropCollection("docs"))
    assert(db2.listCollections().isEmpty)
  }

  test("getWhere retrieves by metadata predicate with reference null semantics") {
    val root = Files.createTempDirectory("graft_vdb").toString
    val db = new VectorDb(spark, root)
    val coll = db.createCollection("gw", dimensions = 8)
    // row "c" is missing the nullable meta field entirely
    coll.insertBatch(
      rows("a" -> 1, "b" -> 2, "c" -> 3)
        .withColumn("grade", when(col("id") =!= "c", col("k") * 10)))

    def ids(p: graft.filter.Pred) =
      coll.getWhere(p).select("id").collect().map(_.getString(0)).sorted.toSeq
    assert(ids(Eq("tag", "t1")) == Seq("a", "c"))
    assert(ids(graft.filter.Gte("grade", 20)) == Seq("b"))
    // reference evaluate(): a missing field fails EVERY leaf — ne/nin
    // require presence-with-a-different-value, so "c" never matches
    assert(ids(graft.filter.Ne("grade", 10)) == Seq("b"))
    assert(ids(graft.filter.Nin("grade", Seq(10, 20))) == Seq())
    // ...but Not(Eq) is two-valued and accepts the missing-field row
    assert(ids(graft.filter.Not(Eq("grade", 10))) == Seq("b", "c"))
  }

  test("upsert rejects intra-batch duplicate ids") {
    val root = Files.createTempDirectory("graft_vdb_dup").toString
    val db = new VectorDb(spark, root)
    val coll = db.createCollection("dups", dimensions = 8)
    coll.insertBatch(rows("a" -> 1))
    assertThrows[IllegalArgumentException] {
      coll.upsert(rows("b" -> 2).unionByName(rows("b" -> 3)))
    }
    assert(coll.count() == 1) // batch rejected atomically
  }

  test("recover() refuses a partial staging dir without _SUCCESS") {
    val root = Files.createTempDirectory("graft_vdb_rec").toString
    val db = new VectorDb(spark, root)
    val coll = db.createCollection("crashy", dimensions = 8)
    // simulate a first-commit crash mid-write: staging has data files but
    // no _SUCCESS marker, and no live/old generation exists
    val staging = java.nio.file.Paths.get(root, "crashy", "data_staging")
    Files.createDirectories(staging)
    Files.write(staging.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
    assert(coll.isEmpty) // partial staging was NOT promoted
    assert(!Files.exists(staging)) // and was torn down
    // a real insert afterwards works and survives reopen
    coll.insertBatch(rows("a" -> 1))
    assert(coll.count() == 1)
  }

  test("a swap that crashed reads back exactly the old or the new generation") {
    import org.apache.spark.sql.DataFrame
    val root = Files.createTempDirectory("graft_vdb_swap")
    val db = new VectorDb(spark, root.toString)
    val oldIds = Seq("a", "b")
    val newIds = Seq("c", "d", "e")
    def events(ids: Seq[String]) = ids.toDF("id").select(
      lit("c").as("collection"), lit("insert").as("event_type"), col("id"),
      current_timestamp().as("ts"))
    // the two swapped dirs: (live, staging, retired, a generation holding
    // `ids`, how the collection reads it back)
    val dirs = Seq[(String, String, String, Seq[String] => DataFrame,
        graft.core.VectorCollection => DataFrame)](
      ("data", "data_staging", "data_old",
        ids => rows(ids.zipWithIndex: _*), _.df),
      ("changelog", "changelog.staging", "changelog.old", events, _.changelog))
    // every state a swap can die in with no live dir: (retired generation
    // present, staging present and whether its _SUCCESS marker is, the
    // generation that must read back — None: nothing, staging torn down)
    val states = Seq(
      ("unmarked staging only", false, Some(false), None),
      ("marked staging only", false, Some(true), Some(newIds)),
      ("retired only", true, None, Some(oldIds)),
      ("retired plus marked staging", true, Some(true), Some(oldIds)))
    for ((live, staging, retired, gen, read) <- dirs;
         ((state, hasRetired, stagingMarked, want), i) <- states.zipWithIndex) {
      val name = s"$live$i"
      val coll = db.createCollection(name, dimensions = 8)
      val dir = root.resolve(name)
      if (hasRetired) gen(oldIds).write.parquet(dir.resolve(retired).toString)
      stagingMarked.foreach { marked =>
        gen(newIds).write.parquet(dir.resolve(staging).toString)
        if (!marked) Files.delete(dir.resolve(staging).resolve("_SUCCESS"))
      }
      want match {
        case Some(ids) =>
          assert(read(coll).select("id").as[String].collect().sorted.toSeq ==
            ids, s"$live, $state")
        case None =>
          intercept[Exception](read(coll).collect())
          assert(!Files.exists(dir.resolve(staging)),
            s"$live, $state: the unmarked staging dir was left behind")
      }
      assert(Files.exists(dir.resolve(live)) == want.isDefined,
        s"$live, $state")
    }
  }

  test("collection-level search honors config metric and pre-score filter") {
    val root = Files.createTempDirectory("graft_vdb_search").toString
    val db = new VectorDb(spark, root)
    val coll = db.getOrCreateCollection("s", dimensions = 8)
    val data = rows("a" -> 1, "b" -> 2, "c" -> 3, "d" -> 4)
      .withColumnRenamed("vector", "vector")
    coll.insertBatch(data)
    val q = VectorFunctions.hashVectorValues(2L, 8)
    val top = coll.search(q, k = 2).collect()
    assert(top.length == 2)
    // b embeds key 2 — it must be its own nearest neighbor
    assert(top.head.getAs[String]("id") == "b")
    // filter BEFORE scoring: restricting to tag t1 excludes b (k=2 even)
    val filtered = coll.search(q, k = 2, Some(Eq("tag", "t1")))
      .select("id").collect().map(_.getString(0)).toSet
    assert(!filtered.contains("b") && filtered.nonEmpty)
    // batch: top-1 per query
    import spark.implicits._
    val qs = Seq((1L, VectorFunctions.hashVectorValues(1L, 8)),
      (3L, VectorFunctions.hashVectorValues(3L, 8))).toDF("query_id", "qvec")
    val batch = coll.searchBatch(qs, k = 1)
      .select("query_id", "id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(batch == Map(1L -> "a", 3L -> "c"))
    // getOrCreate returns the existing collection (stored config wins)
    assert(db.getOrCreateCollection("s", dimensions = 99).config.dimensions == 8)
  }

  test("collection names are validated (path + JSON safety)") {
    val root = Files.createTempDirectory("graft_vdb_name").toString
    val db = new VectorDb(spark, root)
    assertThrows[IllegalArgumentException] {
      db.createCollection("""bad"name""", dimensions = 8)
    }
    assertThrows[IllegalArgumentException] {
      db.createCollection("bad/name", dimensions = 8)
    }
  }

  test("an unknown metric is rejected at create, naming the allowed four") {
    val root = Files.createTempDirectory("graft_vdb_metric").toString
    val db = new VectorDb(spark, root)
    val ex = intercept[IllegalArgumentException] {
      db.createCollection("c", dimensions = 8, metric = "cosin")
    }
    Seq("'cosin'", "cosine", "l2", "ip", "none").foreach(m =>
      assert(ex.getMessage.contains(m), ex.getMessage))
    assert(db.getCollection("c").isEmpty)
    // create-only: a stored config with any metric still opens
    val cfg = java.nio.file.Paths.get(root, "old", "config.json")
    Files.createDirectories(cfg.getParent)
    Files.writeString(cfg,
      """{"name": "old", "dimensions": 8, "metric": "euclid"}""")
    assert(db.getCollection("old").map(_.config.metric) == Some("euclid"))
  }

  test("searchAnn on a 'none' collection fails naming the metric") {
    val root = Files.createTempDirectory("graft_vdb_none").toString
    val coll = new VectorDb(spark, root)
      .createCollection("n", dimensions = 8, metric = "none")
    coll.insertBatch(rows(("a", 1), ("b", 2)))
    val ex = intercept[IllegalArgumentException] {
      coll.searchAnn(VectorFunctions.hashVectorValues(1L, 8), 1).collect()
    }
    assert(ex.getMessage.contains("'none'"), ex.getMessage)
  }

  test("compact merges mutation-era files and preserves content") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_vdb_compact").toString
    val db = new VectorDb(spark, root)
    val coll = db.createCollection("c", dimensions = 0, metric = "none")
    // three commits → three file sets in the live generation
    for (b <- 0 until 3)
      coll.insertBatch((0 until 10)
        .map(i => (s"id_${b}_$i", b * 10 + i)).toDF("id", "v"))
    val before = coll.df.orderBy("id").collect().toSeq
    val filesBefore = coll.df.inputFiles.length
    coll.compact(targetFiles = 1)
    assert(coll.df.inputFiles.length == 1)
    assert(coll.df.inputFiles.length < filesBefore)
    assert(coll.df.orderBy("id").collect().toSeq == before)
    assert(coll.count() == 30)
    // point get still works on the compacted layout
    assert(coll.get(Seq("id_1_5")).count() == 1)
    // changelog trim: 3 inserts logged 30 insert events; keep last 10
    val before30 = coll.changelog.count()
    assert(before30 == 30L)
    assert(coll.trimChangelog(10) == 20L)
    assert(coll.changelog.count() == 10L)
    // idempotent when already within budget
    assert(coll.trimChangelog(10) == 0L)
    // reset() drops everything under the root
    db.reset()
    assert(db.listCollections().isEmpty)
  }
}
