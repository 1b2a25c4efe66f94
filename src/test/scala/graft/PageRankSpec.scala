package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.{Graph, GraphOps}
import RankReference.{refPagerank, refPpr}

/** Fixed-point PageRank: hand-computed ranks on a star graph, the
  * integer-arithmetic invariants (determinism across partition layouts,
  * sinks keep the base rank), the rule for graphs past the broadcast
  * ceiling, and one analysis per rank loop. */
class PageRankSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def graph(edges: (String, String)*): Graph = {
    import spark.implicits._
    val ns = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(id => (id, "N", id, 0.0, "")).toDF("id", "label", "name", "num", "seg")
    Graph(ns, edges.map { case (s, d) => (s, d, "E") }.toDF("src", "dst", "type"))
  }

  test("star graph ranks match the hand formula") {
    // a→b, c→b: contrib(b) = 1e6 + 1e6; r1(b) = 150000 + (2e6·17) div 20
    val g = graph("a" -> "b", "c" -> "b")
    val r1 = GraphOps.pagerank(g, 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r1("b") == 150000L + 2000000L * 17 / 20)
    assert(r1("a") == 150000L && r1("c") == 150000L)
    // iteration 2: a,c now hold 150000 → contrib(b) = 2·150000;
    // b's own mass flows nowhere (sink, no redistribution)
    val r2 = GraphOps.pagerank(g, 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r2("b") == 150000L + 300000L * 17 / 20)
  }

  test("personalized PageRank pins mass to the seed's reachable set") {
    // a→b, a→c, c→d; seed a. r1: a=teleport 150000; b,c each get
    // (1e6 div 2)·17 div 20 = 425000; d = 0. r2: d gets
    // (425000 div 1)·17 div 20 = 361250; b,c get (150000 div 2)·17 div 20
    // = 63750; unreachable-from-a nodes stay 0 forever.
    val g = graph("a" -> "b", "a" -> "c", "c" -> "d", "x" -> "y")
    val r = GraphOps.personalizedPagerank(g, "a", 2).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r("a") == 150000L)
    assert(r("b") == 63750L && r("c") == 63750L)
    assert(r("d") == 361250L)
    assert(r("x") == 0L && r("y") == 0L)
  }

  test("random graphs match a driver-side reference") {
    val rnd = new scala.util.Random(5)
    for (trial <- 1 to 3) {
      val nodes = (0 until 20).map(i => s"n$i")
      val edges = (0 until 60).map { _ =>
        (nodes(rnd.nextInt(20)), nodes(rnd.nextInt(20)))
      }.distinct
      val iters = 3
      // reference: same integer fixed-point recurrence, computed naively
      val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size }
      var r = nodes.map(_ -> 1000000L).toMap
      for (_ <- 1 to iters) {
        val contrib = scala.collection.mutable.Map.empty[String, Long]
        for ((s, d) <- edges)
          contrib(d) = contrib.getOrElse(d, 0L) + r(s) / outdeg(s)
        r = nodes.map(n =>
          n -> (150000L + contrib.getOrElse(n, 0L) * 17 / 20)).toMap
      }
      val got = GraphOps.pagerank(graph(edges: _*), iters).collect()
        .map(x => x.getString(0) -> x.getLong(1)).toMap
      // the DF graph only carries nodes that appear in an edge
      val present = edges.flatMap(e => Seq(e._1, e._2)).distinct.toSet
      assert(got == r.filter(kv => present(kv._1)), s"trial=$trial")
    }
  }

  test("cycle conserves symmetric ranks; result is repartition-invariant") {
    val g = graph("a" -> "b", "b" -> "c", "c" -> "a")
    val r = GraphOps.pagerank(g, 5).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    // symmetric 1-regular cycle: every node keeps exactly 1e6 micro-units
    // under r' = 0.15e6 + 0.85·r (in exact integer arithmetic the
    // fixed point of x -> 150000 + x·17 div 20 from 1e6 stays 1e6)
    assert(r.values.toSet == Set(1000000L))
    val g2 = Graph(g.nodes.repartition(7), g.edges.repartition(5))
    val r2 = GraphOps.pagerank(g2, 5).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r2 == r)
  }

  private def ranks(df: DataFrame): Map[String, Long] =
    df.collect().map(x => x.getString(0) -> x.getLong(1)).toMap

  test("past the broadcast ceiling pagerank and PPR match the references") {
    import spark.implicits._
    // one node more than the ceiling: pagerank checkpoints its 5th of 6
    // hops, PPR checkpoints and counts each hop but the last
    val n = GraphOps.FrontierHintRows.toInt + 1
    val rnd = new scala.util.Random(29)
    val ns = (0 until n).map(i => s"n$i")
    val es = Seq.fill(2 * n)((ns(rnd.nextInt(n)), ns(rnd.nextInt(n)))).distinct
    val g = Graph(
      spark.range(n).selectExpr("concat('n', id) AS id", "'N' AS label",
        "concat('n', id) AS name", "0.0 AS num", "'' AS seg"),
      spark.sparkContext.parallelize(es, 4).toDF("src", "dst").withColumn("type", lit("E")))
    try {
      assert(g.dictCount > GraphOps.FrontierHintRows)
      // the result plan reads the last checkpoint as its leaf
      def cuts(df: DataFrame) = df.queryExecution.analyzed.collect { case l: LogicalRDD => l }.size
      val pr = GraphOps.pagerank(g, 6)
      assert(cuts(pr) == 1)
      assert(ranks(pr) == refPagerank(ns, es, 6))
      val seed = es.head._1
      val ppr = GraphOps.personalizedPagerank(g, seed, 3)
      assert(cuts(ppr) == 1)
      assert(ranks(ppr) == refPpr(ns, es.map { case (s, d) => (s, d, "E") }, seed, 3))
    } finally {
      g.edgesOd.unpersist()
      g.dict.unpersist()
    }
  }

  test("one construction analyzes the rank loop once, whatever its length") {
    val g = graph("a" -> "b", "b" -> "c", "c" -> "a", "c" -> "d")
    // catalyst rule runs while `build` makes its frame, after a warm
    // construction (the first fills the graph's caches and counts). The
    // metering is JVM-wide, so the least of three draws is taken: any
    // other query running meanwhile only adds runs.
    def ruleRuns(build: => DataFrame): Long = {
      build
      (1 to 3).map { _ =>
        val before = RuleExecutor.getCurrentMetrics().numRuns
        build
        RuleExecutor.getCurrentMetrics().numRuns - before
      }.min
    }
    val runs = Seq[(String, Int => DataFrame)](
        "pagerank" -> (k => GraphOps.pagerank(g, k)),
        "personalizedPagerank" -> (k => GraphOps.personalizedPagerank(g, "a", k))).map {
      case (name, op) =>
        val (at2, at10) = (ruleRuns(op(2)), ruleRuns(op(10)))
        assert(at10 <= at2 + 10, s"$name: $at2 rule runs at k = 2, $at10 at k = 10")
        name -> Seq(at2, at10)
    }.toMap
    // PPR's seed resolves inside its one plan, so it costs about what
    // pagerank's plan costs to analyze, not a second query's planning
    runs("personalizedPagerank").zip(runs("pagerank")).foreach { case (ppr, pr) =>
      assert(ppr <= 2 * pr, runs)
    }
  }
}
