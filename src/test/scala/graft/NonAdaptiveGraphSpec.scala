package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graft.bridge
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.{CypherLite, Graph, GraphOps}
import graft.gv.GraphVector

/** The graph operator specs' test graph: 30 nodes (every third id
  * labelled `T`), random directed edges, persisted and counted like a
  * built graph (`TpchGraph.build`), and 4-d embeddings on every other
  * node. */
object TestGraph {
  private lazy val spark = SparkTestSession.spark

  val ids: Seq[String] = (0 until 30).map(i => s"v$i")
  private val edgeList = {
    val rnd = new scala.util.Random(11)
    (0 until 90).map { _ =>
      (ids(rnd.nextInt(ids.size)), ids(rnd.nextInt(ids.size)))
    }.distinct.filter { case (a, b) => a != b }
  }

  lazy val g: Graph = {
    import spark.implicits._
    val graph = Graph(
      ids.map(i => (i, if (i.last.isDigit && i.last.asDigit % 3 == 0) "T" else "V",
        i, 0.0, "s")).toDF("id", "label", "name", "num", "seg").persist(),
      edgeList.map { case (a, b) => (a, b, "E") }.toDF("src", "dst", "type")
        .persist())
    graph.nodeCount; graph.edgeCount; graph.dictCount; graph.edgesOd.count()
    graph
  }

  lazy val emb: DataFrame = {
    import spark.implicits._
    ids.zipWithIndex.filter(_._2 % 2 == 0).map { case (i, k) =>
      (i, Seq(math.sin(k), math.cos(k), k % 5 - 2.0, 1.0))
    }.toDF("id", "embedding").persist()
  }

  val q: Seq[Double] = Seq(0.3, -0.2, 1.0, 0.5)
}

/** The graph operators (traverse, bfsPaths, pagerank, personalized
  * pagerank, semantic graph search, graph rerank) plan every query
  * without adaptive execution, the caller's action on their result
  * included, while the caller's own session keeps AQE and every setting
  * it had. Warm job counts per call are pinned so that a loop falling
  * back to per-stage adaptive jobs fails here on any box. Their answers,
  * and a CypherLite var-length match's, do not depend on the caller's
  * conf.
  */
class NonAdaptiveGraphSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Aqe = "spark.sql.adaptive.enabled"
  private val Parts = "spark.sql.shuffle.partitions"
  private val IdInClassName = "spark.sql.codegen.useIdInClassName"

  import TestGraph.{emb, g, q}

  /** Each operator's call; graph rerank's traversal input is built
    * outside its call, as a pipeline hands it over. */
  private def calls: Seq[(String, () => DataFrame)] = Seq(
    "traverse" -> (() => GraphOps.traverse(g, "v0", 3)),
    "bfsPaths" -> (() => GraphOps.bfsPaths(g, "v0", 3, Some("T"))),
    "pagerank" -> (() => GraphOps.pagerank(g, 4)),
    "personalizedPagerank" -> (() => GraphOps.personalizedPagerank(g, "v1", 3)),
    "semanticGraphSearch" ->
      (() => GraphVector.semanticGraphSearch(g, emb, q, 3, 2, 0.7, 0.3)),
    "graphRerank" -> {
      val paths = GraphOps.traverse(g, "v2", 2)
      () => GraphVector.graphRerank(paths, emb, q, 5)
    })

  /** Jobs (by job group) and SQL executions (with their plan root)
    * started while it is registered. */
  private final class Log extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[String]()
    val roots = new ConcurrentLinkedQueue[String]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => roots.add(s.sparkPlanInfo.nodeName)
      case _ =>
    }
  }

  /** What `body` starts. */
  private def during(body: => Unit): Log = {
    val log = new Log
    spark.sparkContext.addSparkListener(log)
    try {
      body
      bridge.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(log)
    log
  }

  /** Runs each call plus a collect of its result under a job group. */
  private def logged(run: Seq[(String, () => DataFrame)]): Log = during {
    run.foreach { case (name, call) =>
      spark.sparkContext.setJobGroup(s"na:$name", name)
      try call().collect() finally spark.sparkContext.clearJobGroup()
    }
  }

  test("graph operators plan without AQE and leave the caller's session adaptive") {
    assert(spark.conf.get(Aqe) == "true")
    calls.foreach { case (name, call) =>
      call().collect() // cold: the test graph's caches fill
      val log = logged(Seq(name -> call))
      val roots = log.roots.asScala.toSeq
      assert(roots.nonEmpty, s"$name ran no SQL execution")
      assert(!roots.contains("AdaptiveSparkPlan"),
        s"$name planned adaptively: ${roots.mkString(", ")}")
    }
    assert(spark.conf.get(Aqe) == "true")
    val join = spark.range(10).toDF("a").join(spark.range(10).toDF("b"),
      $"a" === $"b")
    assert(join.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
  }

  test("each result is bound to a session with the caller's current conf") {
    val original = spark.conf.get(Parts)
    try {
      val before = calls.map(_._2().sparkSession)
      assert(before.distinct.size == 1, "one conf, one non-adaptive session")
      spark.conf.set(Parts, "7")
      calls.foreach { case (name, call) =>
        val df = call()
        assert(!(df.sparkSession eq spark), s"$name returned a caller-bound frame")
        assert(!(df.sparkSession eq before.head), s"$name kept a stale conf")
        assert(df.sparkSession.conf.get(Parts) == "7", name)
        assert(df.sparkSession.conf.get(Aqe) == "false", name)
        assert(df.sparkSession.conf.get(IdInClassName) == "false", name)
      }
      assert(spark.conf.get(Aqe) == "true")
      assert(spark.conf.get(IdInClassName) == "true")
    } finally spark.conf.set(Parts, original)
  }

  test("warm jobs per call are pinned") {
    calls.foreach(_._2().collect()) // cold
    val byCall = logged(calls).jobs.asScala.toSeq.groupBy(identity)
    val counts = calls.map { case (name, _) =>
      name -> byCall.get(s"na:$name").fold(0)(_.size)
    }.toMap
    // with AQE on these were 10, 17, 6, 21, 13 and 7: adaptive execution
    // runs every shuffle and broadcast stage as a job of its own; a
    // checkpointed hop is counted in the job that materializes it
    val pinned = Map("traverse" -> 6, "bfsPaths" -> 10, "pagerank" -> 6,
      "personalizedPagerank" -> 6, "semanticGraphSearch" -> 8,
      "graphRerank" -> 3)
    assert(counts == pinned, counts)
    // SQL executions per warm call, the collect of its result included:
    // a rank loop is one plan, PPR's seed lookup inside it
    val sqlExecs = Seq("pagerank", "personalizedPagerank").map { name =>
      name -> logged(calls.filter(_._1 == name)).roots.size
    }.toMap
    assert(sqlExecs("pagerank") == 1 && sqlExecs("personalizedPagerank") == 1, sqlExecs)
    val building = during(GraphOps.personalizedPagerank(g, "v1", 3)).jobs
    assert(building.isEmpty, s"building PPR's frame started ${building.size} jobs")
  }

  test("answers stay the same while the caller switches partitions and AQE between calls") {
    val ops = calls :+ ("cypherVarLength" ->
      (() => CypherLite.query(g, "MATCH (s:T)-[*1..3]->(t) RETURN s.id, t.id")))
    def sorted(df: DataFrame) = df.collect().map(_.toString).toSeq.sorted
    val want = ops.map { case (name, call) => name -> sorted(call()) }.toMap
    assert(want.values.forall(_.nonEmpty), want)
    val settings = for (parts <- Seq(1, 7, 2 * spark.sparkContext.defaultParallelism);
                        aqe <- Seq(true, false)) yield (parts, aqe)
    val (parts0, aqe0) = (spark.conf.get(Parts), spark.conf.get(Aqe))
    try {
      // each call runs under another setting than the call before it,
      // and every operator meets every setting
      for (round <- settings.indices; ((name, call), i) <- ops.zipWithIndex) {
        val (parts, aqe) = settings((round + i) % settings.size)
        spark.conf.set(Parts, parts.toString)
        spark.conf.set(Aqe, aqe.toString)
        assert(sorted(call()) == want(name), s"$name parts=$parts aqe=$aqe")
      }
    } finally {
      spark.conf.set(Parts, parts0)
      spark.conf.set(Aqe, aqe0)
    }
  }

  /** The six operators' answers, as sorted rows, for a caller on session
    * `s`: the test graph and embeddings rebound to `s`, each result
    * paired with the session it is bound to. */
  private def answers(s: SparkSession): Seq[(String, SparkSession, Seq[String])] = {
    val gs = Graph(bridge.rebind(s, g.nodes), bridge.rebind(s, g.edges))
    val es = bridge.rebind(s, emb)
    Seq(
      "traverse" -> GraphOps.traverse(gs, "v0", 3),
      "bfsPaths" -> GraphOps.bfsPaths(gs, "v0", 3, Some("T")),
      "pagerank" -> GraphOps.pagerank(gs, 4),
      "personalizedPagerank" -> GraphOps.personalizedPagerank(gs, "v1", 3),
      "semanticGraphSearch" -> GraphVector.semanticGraphSearch(gs, es, q, 3, 2, 0.7, 0.3),
      "graphRerank" -> GraphVector.graphRerank(GraphOps.traverse(gs, "v2", 2), es, q, 5)
    ).map { case (name, df) =>
      (name, df.sparkSession, df.collect().map(_.toString).toSeq.sorted)
    }
  }

  test("a caller with AQE off gets the answers of an AQE-on caller; with id-free class names too, its own frames") {
    for (parts <- Seq("1", "7")) {
      def caller(aqe: String, idInClassName: String = "true") = {
        val s = spark.newSession()
        s.conf.set(Aqe, aqe)
        s.conf.set(Parts, parts)
        s.conf.set(IdInClassName, idInClassName)
        s
      }
      val off = caller("false")
      val byOff = answers(off)
      byOff.foreach { case (name, session, _) =>
        assert(!(session eq off), s"$name parts=$parts returned a frame of the caller's session")
        assert(session.conf.get(IdInClassName) == "false" &&
          session.conf.get(Parts) == parts, s"$name parts=$parts")
      }
      val plain = caller("false", idInClassName = "false")
      val byPlain = answers(plain)
      byPlain.foreach { case (name, session, _) =>
        assert(session eq plain, s"$name parts=$parts returned a frame of another session")
      }
      val byOn = answers(caller("true"))
      assert(byOn.forall(_._3.nonEmpty), byOn)
      Seq(byOff, byPlain).foreach(_.zip(byOn).foreach { case ((name, _, a), (_, _, b)) =>
        assert(a == b, s"$name parts=$parts")
      })
      assert(off.conf.get(Aqe) == "false" && off.conf.get(Parts) == parts &&
        off.conf.get(IdInClassName) == "true")
    }
  }
}
