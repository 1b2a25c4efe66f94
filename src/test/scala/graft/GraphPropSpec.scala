package graft

import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.{CypherLite, Graph, GraphOps}
import graft.gv.GraphVector
import RankReference.refPpr

/** Differential test of the iterative graph operators against in-memory
  * reference implementations over random graphs (cycles included; the
  * personalized pagerank and semantic graph search cases also carry
  * self-loops, parallel edges and two edge types).
  */
class GraphPropSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val rnd = new Random(7)
  private val n = 25
  private val ids = (0 until n).map(i => s"v$i")
  private val edges: Seq[(String, String)] = (0 until 70).map { _ =>
    (ids(rnd.nextInt(n)), ids(rnd.nextInt(n)))
  }.distinct.filter { case (a, b) => a != b }

  private lazy val g = Graph(
    nodes = ids.map(i => (i, "V", i, 0.0, "s")).toDF("id", "label", "name", "num", "seg"),
    edges = edges.map { case (a, b) => (a, b, "E") }.toDF("src", "dst", "type"))

  private val adj: Map[String, Seq[String]] =
    edges.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap

  /** Reference: all cycle-free out-paths ≤ depth. */
  private def refTraverse(start: String, depth: Int): Set[String] = {
    def go(path: List[String], d: Int): Seq[List[String]] =
      if (d == 0) Nil
      else adj.getOrElse(path.head, Nil).filterNot(path.contains).flatMap { nxt =>
        Seq(nxt :: path) ++ go(nxt :: path, d - 1)
      }
    go(List(start), depth).map(_.reverse.mkString("->")).toSet
  }

  /** Reference: minimal depth + lexicographically-least minimal path. */
  private def refBfs(start: String, maxDepth: Int): Map[String, (Int, String)] = {
    var best = Map.empty[String, (Int, String)]
    var frontier = Map(start -> start) // node -> min path
    var visited = Set(start)
    for (d <- 1 to maxDepth) {
      val nextPaths = frontier.toSeq.flatMap { case (node, path) =>
        adj.getOrElse(node, Nil).filterNot(visited).map(nxt => nxt -> s"$path->$nxt")
      }
      val next = nextPaths.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      next.foreach { case (node, path) => best += node -> (d, path) }
      visited ++= next.keySet
      frontier = next
    }
    best
  }

  test("traverse matches the reference path set at depths 1..3") {
    for (start <- Seq("v0", "v3", "v7"); depth <- 1 to 3) {
      val got = GraphOps.traverse(g, start, depth)
        .select("path").collect().map(_.getString(0)).toSet
      assert(got == refTraverse(start, depth), s"start=$start depth=$depth")
    }
  }

  test("bfsPaths matches the reference minimal-depth canonical paths") {
    for (start <- Seq("v0", "v5")) {
      val got = GraphOps.bfsPaths(g, start, 4)
        .collect().map(r => r.getString(0) -> (r.getInt(1), r.getString(2))).toMap
      assert(got == refBfs(start, 4), s"start=$start")
    }
  }

  test("neighbors matches adjacency in all directions") {
    val node = "v2"
    val out = adj.getOrElse(node, Nil).toSet
    val in = edges.filter(_._2 == node).map(_._1).toSet
    def ids(dir: String) = GraphOps.neighbors(g, node, dir)
      .select("id").collect().map(_.getString(0)).toSet
    assert(ids("out") == out)
    assert(ids("in") == in)
    assert(ids("both") == (out ++ in))
  }

  /** A random multigraph: cycles, self-loops, parallel edges, edge types
    * A and B, and an isolated node. */
  private def multigraph(seed: Int): (Seq[String], Seq[(String, String, String)]) = {
    val r = new Random(seed)
    val ms = (0 until 14).map(i => s"m$i")
    val random = (0 until 36).map { _ =>
      (ms(r.nextInt(ms.size)), ms(r.nextInt(ms.size)), if (r.nextBoolean()) "A" else "B")
    }
    val loops = Seq(("m0", "m0", "A"), ("m5", "m5", "B"))
    val cycle = Seq(("m1", "m2", "A"), ("m2", "m3", "A"), ("m3", "m1", "A"))
    (ms :+ "iso", random ++ random.take(6) ++ loops ++ cycle ++ cycle.take(1))
  }

  private def toGraph(ns: Seq[String], es: Seq[(String, String, String)]): Graph =
    Graph(ns.map(i => (i, "V", i, 0.0, "s")).toDF("id", "label", "name", "num", "seg"),
      es.toDF("src", "dst", "type"))

  test("personalizedPagerank matches the reference on random multigraphs") {
    for (trial <- 1 to 2) {
      val (ns, es) = multigraph(100 + trial)
      val g = toGraph(ns, es)
      for (seed <- Seq("m0", "m1", "m5", "absent"); iters <- 1 to 3) {
        val got = GraphOps.personalizedPagerank(g, seed, iters).collect()
          .map(x => x.getString(0) -> x.getLong(1)).toMap
        assert(got == refPpr(ns, es, seed, iters),
          s"trial=$trial seed=$seed iters=$iters")
      }
    }
  }

  /** Reference var-length match: the (a, b) pairs joined by a walk (nodes
    * and edges may repeat) of `lo` to `hi` edges of type `edgeType`, or of
    * any type, from a start node in `starts`. */
  private def refVarLength(es: Seq[(String, String, String)], starts: Seq[String],
      lo: Int, hi: Int, edgeType: Option[String]): Set[(String, String)] = {
    val next = es.filter(e => edgeType.forall(_ == e._3))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val byLength = Iterator.iterate(starts.map(a => (a, a)).toSet) { walks =>
      walks.flatMap { case (a, c) => next.getOrElse(c, Set.empty).map(a -> _) }
    }.take(hi + 1).toSeq
    byLength.drop(lo).flatten.toSet
  }

  test("cypher var-length matches the reference walk pairs on random multigraphs") {
    for (trial <- 1 to 2) {
      val (ns, es) = multigraph(400 + trial)
      val g = toGraph(ns, es)
      for ((lo, hi) <- Seq((0, 2), (1, 1), (1, 3), (2, 3)); edgeType <- Seq(None, Some("A"));
           (start, starts) <- Seq(("(s:V {id: 'm1'})", Seq("m1")), ("(s:V)", ns))) {
        val rel = edgeType.fold("")(t => s":$t") + s"*$lo..$hi"
        val got = CypherLite.query(g, s"MATCH $start-[$rel]->(t) RETURN s.id, t.id")
          .collect().map(x => (x.getString(0), x.getString(1))).toSeq
        val want = refVarLength(es, starts, lo, hi, edgeType)
        assert(got.size == got.toSet.size && got.toSet == want,
          s"trial=$trial $start-[$rel]->(t)")
      }
    }
  }

  /** Spark's `round(x, 6)` on a double: HALF_UP on its decimal form. */
  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Reference semantic graph search: top-2k seeds by (similarity desc,
    * id), then BFS over both edge directions of the typed edges with a
    * visited set. The hop score is the formula text the operator and the
    * DuckDB oracle share, evaluated on one row. */
  private def refSemantic(es: Seq[(String, String, String)],
      emb: Seq[(String, Seq[Double])], q: Seq[Double], k: Int, hops: Int,
      vw: Double, gw: Double, edgeType: Option[String]): Seq[(String, Double, Int)] = {
    def sim(v: Seq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      v.zip(q).foreach { case (x, y) => dot += x * y; na += x * x; nb += y * y }
      1.0 - (1.0 - dot / (math.sqrt(na) * math.sqrt(nb)))
    }
    val seeds = emb.map { case (id, v) => id -> sim(v) }
      .sortBy { case (id, s) => (-s, id) }.take(2 * k)
    val maxSim = seeds.map(_._2).max
    val und = es.filter(e => edgeType.forall(_ == e._3))
      .flatMap { case (s, d, _) => Seq(s -> d, d -> s) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var visited = seeds.map(_._1).toSet
    var frontier = visited
    var res = seeds.map { case (id, s) => (id, round6(s), 0) }
    for (h <- 1 to hops) {
      val next = frontier.flatMap(und.getOrElse(_, Nil)) -- visited
      val score = Seq(maxSim).toDF("max_sim")
        .selectExpr(s"round(${GraphVector.hopScore(vw, gw, h)}, 6)").head.getDouble(0)
      res ++= next.toSeq.map(id => (id, score, h))
      visited ++= next
      frontier = next
    }
    res.sortBy { case (id, s, _) => (-s, id) }.take(k)
  }

  test("semanticGraphSearch matches the reference, similarity ties and edge types included") {
    val q = Seq(0.4, -0.1, 0.8)
    // four vectors over ten nodes, assigned cyclically: q itself (3
    // nodes), (1,0,0.5) (3), one pointing away (2) and (0,0,1) (2). By
    // similarity to q the ties run 3, 2, 3, 2 nodes, so the 2k-seed cut
    // falls inside a tie for k = 2 and k = 3 and the id order decides it.
    val pool = Seq(Seq(0.4, -0.1, 0.8), Seq(1.0, 0.0, 0.5), Seq(-0.3, 0.9, 0.2),
      Seq(0.0, 0.0, 1.0))
    for (trial <- 1 to 2) {
      val (ns, es) = multigraph(200 + trial)
      val g = toGraph(ns, es)
      val emb = new Random(300 + trial).shuffle(ns.take(10)).zipWithIndex
        .map { case (id, i) => id -> pool(i % pool.size) }
      val embDf = emb.toDF("id", "embedding")
      // with gw = 1 every hop-1 node outscores every seed, so the
      // result shows which nodes the chosen seeds reach
      for (hops <- 1 to 3; edgeType <- Seq(None, Some("A")); k <- Seq(2, 3);
           (vw, gw) <- Seq((0.7, 0.3), (0.2, 1.0))) {
        val got = GraphVector.semanticGraphSearch(g, embDf, q, k, hops, vw, gw, edgeType)
          .collect().map(x => (x.getString(0), x.getDouble(1), x.getInt(2))).toSeq
        assert(got == refSemantic(es, emb, q, k, hops, vw, gw, edgeType),
          s"trial=$trial hops=$hops edgeType=$edgeType k=$k vw=$vw gw=$gw")
      }
    }
  }
}
