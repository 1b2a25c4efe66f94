package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.VectorDb
import graft.expr.CosineDistance
import graft.filter.Eq
import graft.functions.VectorFunctions
import graft.knn.Ann
import graft.plans.{AnnTopK, IndexedTables}

/** Structural job counts of the warm collection read path. Tables under a
  * ready index path (and the collection's data generation) are opened
  * once per session, so a warm search launches only its own query jobs:
  * no file-listing job and no Parquet schema-inference job. The per-call
  * counts are pinned so that a per-query `spark.read.parquet` creeping
  * back into a search path fails here on any box, independent of its
  * wall time; a keyword probe is one pruned postings scan (df from a
  * window on it, corpus stats memoized), 3 jobs. A warm read also starts
  * no OS process: a file listing that forks per file (Hadoop's local
  * filesystem loading permissions through `ls`) fails the second case.
  * And a warm ANN probe compiles no class for a new query vector: its
  * band values are partition filters of the pruned bucket layout,
  * evaluated on the driver, not literals in generated code.
  */
class WarmSearchJobsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val D = 16
  // enough distinct terms to fill all 64 BM25 term buckets: a table with
  // more than 32 partition dirs is listed by a Spark job when opened
  private val Words = Seq("spark", "vector", "graph") ++
    (0 until 300).map(i => s"w$i")

  /** (job group, what the job ran) per started job. */
  private final class JobLog extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[(String, String)]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) =
        Option(e.properties).flatMap(p => Option(p.getProperty(k)))
          .getOrElse("")
      jobs.add((prop("spark.jobGroup.id"),
        (prop("spark.job.description") +: e.stageInfos.map(_.details))
          .mkString("\n")))
    }
  }

  /** A listing job names itself in its description; a listing or
    * schema-inference job launched while a table is opened carries the
    * reader in its call site. */
  private def isMetadataJob(what: String): Boolean =
    what.contains("Listing leaf files") || what.contains("DataFrameReader")

  private val q = VectorFunctions.hashVectorValues(7L, D)

  /** A 400-row indexed collection and its five warm read calls. */
  private lazy val (coll, calls) = {
    val n = 400
    val rows = (0 until n).map { i =>
      val r = new scala.util.Random(i)
      (f"id$i%04d", i, s"c${i % 4}",
        Seq.fill(5)(Words(r.nextInt(Words.size))).mkString(" "))
    }.toDF("id", "k", "category", "text")
      .withColumn("vector", VectorFunctions.hashVector(col("k"), D))
      .drop("k")
    val root = Files.createTempDirectory("graft_warm_jobs").toString
    val coll = new VectorDb(spark, root).createCollection("docs", D, "cosine")
    coll.insertBatch(rows)
    coll.ensureAnnIndex(); coll.ensureTextIndex(); coll.ensureHybridIndex()

    val terms = Seq("spark", "vector", "graph")
    val calls: Seq[(String, () => Unit)] = Seq(
      "searchAnn" -> (() => coll.searchAnn(q, 10).collect()),
      "searchAnn_filter" ->
        (() => coll.searchAnn(q, 10, Some(Eq("category", "c1"))).collect()),
      "search" ->
        (() => coll.search(q, 10, Some(Eq("category", "c1"))).collect()),
      "searchText" -> (() => coll.searchText(terms, 10).collect()),
      "searchHybrid" -> (() => coll.searchHybrid(terms, q, 10).collect()))
    calls.foreach(_._2()) // cold: opens every table once
    (coll, calls)
  }

  test("warm collection searches launch no listing or schema job") {
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    try {
      calls.foreach { case (name, run) =>
        spark.sparkContext.setJobGroup(s"warm:$name", name)
        try run() finally spark.sparkContext.clearJobGroup()
      }
      org.apache.spark.sql.graft.bridge.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(log)

    val byCall = log.jobs.asScala.toSeq.groupBy(_._1)
    def jobs(name: String) = byCall.getOrElse(s"warm:$name", Nil).map(_._2)
    calls.foreach { case (name, _) =>
      val meta = jobs(name).filter(isMetadataJob)
      assert(meta.isEmpty,
        s"$name launched ${meta.size} listing/schema job(s):\n" +
          meta.mkString("\n----\n"))
    }
    val counts = calls.map { case (name, _) => name -> jobs(name).size }.toMap
    assert(counts == Map("searchAnn" -> 2, "searchAnn_filter" -> 2,
      "search" -> 1, "searchText" -> 3, "searchHybrid" -> 3), counts)
  }

  /** Runs `body` with the collection's data registered as the view
    * `warm_docs`, whose SQL cosine top-k the AnnTopK rule serves from the
    * collection's LSH index; `body` gets that top-k for a query vector. */
  private def withSqlTopK(body: (Seq[Double] => DataFrame) => Unit): Unit = {
    calls.size // builds and warms the collection
    val data = s"${coll.root}/docs/data"
    AnnTopK.install(spark)
    IndexedTables.register(spark, data, "vector", "id", D, coll.ensureAnnIndex())
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
      .functionRegistry.createOrReplaceTempFunction("vec_cosine_distance",
        es => CosineDistance(es(0), es(1)), "scala_udf")
    spark.read.parquet(data).createOrReplaceTempView("warm_docs")
    def sqlTopK(qv: Seq[Double]) = {
      val v = qv.map(x => s"${x}D").mkString("array(", ", ", ")")
      spark.sql(
        s"SELECT id FROM warm_docs ORDER BY vec_cosine_distance(vector, $v), id LIMIT 10")
    }
    try {
      assert(sqlTopK(q).queryExecution.executedPlan.toString.contains("band_idx"),
        "the SQL top-k is served from the collection's LSH index")
      sqlTopK(q).collect() // cold
      body(sqlTopK)
    } finally IndexedTables.clear()
  }

  test("warm reads and an index-served SQL top-k start no OS process") {
    withSqlTopK { sqlTopK =>
      val (_, procs) = ProcessStarts.during {
        calls.foreach(_._2())
        sqlTopK(q).collect()
      }
      if (procs.nonEmpty)
        fail(s"${procs.size} process(es) started:\n" + procs.mkString("\n"))
    }
  }

  test("warm ANN probes over new query vectors compile no class") {
    // a query whose band value differs from the warm-up query's in every
    // band: a probe that inlined its band values into generated code
    // would compile new classes for it
    val qb = Ann.bandValues(q, D)
    val q2 = Iterator.from(8).map(VectorFunctions.hashVectorValues(_, D))
      .find(v => Ann.bandValues(v, D).zip(qb).forall { case (a, b) => a != b })
      .get
    withSqlTopK { sqlTopK =>
      val probes: Seq[(String, Seq[Double] => Unit)] = Seq(
        "searchAnn" -> (v => coll.searchAnn(v, 10).collect()),
        "searchAnn_filter" ->
          (v => coll.searchAnn(v, 10, Some(Eq("category", "c1"))).collect()),
        "sqlTopK" -> (v => sqlTopK(v).collect()))
      // Spark's generated-class cache is 100 entries in 4 LRU segments,
      // keyed partly by a class loader's identity hash, so the fixture's
      // calls together can overflow a segment and evict each other's
      // classes. A call with the warm-up query right before the new one
      // makes its classes the most recently used: what the new query
      // compiles then is code that depends on the query
      val compiled = probes.map { case (name, probe) =>
        probe(q)
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        probe(q2)
        name -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
      }
      assert(compiled == probes.map(_._1 -> 0L), "classes compiled")
    }
  }
}
