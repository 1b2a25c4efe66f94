package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.bridge
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.{CypherLite, Graph, GraphOps}

class GraphSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Tiny diamond + cycle graph: a→b→d, a→c→d, d→a (cycle back). */
  private lazy val g = Graph(
    nodes = Seq(
      ("a", "X", "na", 1.0, "s1"), ("b", "Y", "nb", 2.0, "s1"),
      ("c", "Y", "nc", 3.0, "s2"), ("d", "Z", "nd", 4.0, "s2"))
      .toDF("id", "label", "name", "num", "seg"),
    edges = Seq(
      ("a", "b", "T"), ("a", "c", "T"), ("b", "d", "T"),
      ("c", "d", "U"), ("d", "a", "T"))
      .toDF("src", "dst", "type"))

  test("neighbors: direction and type filters") {
    def ids(dir: String, t: Option[String]) =
      GraphOps.neighbors(g, "d", dir, t).select("id")
        .collect().map(_.getString(0)).toSet
    assert(ids("out", None) == Set("a"))
    assert(ids("in", None) == Set("b", "c"))
    assert(ids("both", None) == Set("a", "b", "c"))
    assert(ids("in", Some("U")) == Set("c"))
  }

  test("traverse avoids cycles and caps depth") {
    val paths = GraphOps.traverse(g, "a", 3)
      .select("path").collect().map(_.getString(0)).toSet
    assert(paths.contains("a->b->d"))
    assert(paths.contains("a->c->d"))
    // d->a would revisit start: excluded
    assert(!paths.exists(_.contains("d->a")))
  }

  test("bfsPaths: minimal depth with canonical min path") {
    val rows = GraphOps.bfsPaths(g, "a", 3)
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getString(2))).toMap
    assert(rows("b") == (1, "a->b"))
    assert(rows("d") == (2, "a->b->d"), "lexicographically least of the two depth-2 paths")
    assert(!rows.contains("a"), "start is never re-reported")
  }

  test("hyperedges: any/all membership, create validation, delete") {
    import graft.graph.Hyperedges._
    val mem = Seq(
      ("h1", "a"), ("h1", "b"), ("h2", "b"), ("h2", "c"), ("h3", "a"))
      .toDF("he_id", "node")

    assert(byNode(mem, "a").collect().map(_.getString(0)).toSet == Set("h1", "h3"))

    val any = byNodes(mem, Seq("a", "c"), "any")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(any == Map("h1" -> 1L, "h2" -> 1L, "h3" -> 1L))

    val all = byNodes(mem, Seq("a", "b"), "all")
      .collect().map(_.getString(0)).toSet
    assert(all == Set("h1"))

    val grown = create(g, mem, "h4", Seq("c", "d"))
    assert(grown.filter($"he_id" === "h4").count() == 2)
    assertThrows[IllegalArgumentException] {
      create(g, mem, "h5", Seq("a", "ghost"))
    }
    assert(delete(grown, "h1").filter($"he_id" === "h1").count() == 0)
  }

  test("cypher: node pattern with props + where") {
    val out = CypherLite.query(g,
      "MATCH (v:Y) WHERE v.num > 2.5 RETURN v.id, v.name")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.toSeq == Seq(("c", "nc")))
  }

  test("cypher: relationship with type filter") {
    val out = CypherLite.query(g,
      "MATCH (x:X)-[:T]->(y) RETURN x.id, y.id ORDER BY y.id")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.toSeq == Seq(("a", "b"), ("a", "c")))
  }

  test("graph mutations: create/update/delete with cascade and FK check") {
    import graft.graph.GraphMutations._
    var g2 = createNode(g, "e", "W", "ne", Some(9.0), None)
    assert(g2.nodes.filter($"id" === "e").count() == 1)

    g2 = createEdge(g2, "e", "a", "T")
    assert(g2.edges.filter($"src" === "e").count() == 1)
    assertThrows[IllegalArgumentException] {
      createEdge(g2, "e", "nosuch", "T") // FK check
    }

    g2 = updateNode(g2, "e", num = Some(42.0))
    assert(g2.nodes.filter($"id" === "e").head().getDouble(3) == 42.0)

    // cascade delete removes the node AND its incident edges
    g2 = deleteNode(g2, "d")
    assert(g2.nodes.filter($"id" === "d").count() == 0)
    assert(g2.edges.filter($"src" === "d" || $"dst" === "d").count() == 0)

    g2 = deleteEdge(g2, "a", "b", "T")
    assert(g2.edges.filter($"src" === "a" && $"dst" === "b").count() == 0)
  }

  test("cypher: WHERE conjunction filters on both variables") {
    val out = CypherLite.query(g,
      "MATCH (x:X)-[:T]->(y) WHERE x.num >= 1.0 AND y.num > 2.5 " +
        "RETURN x.id, y.id ORDER BY y.id")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.toSeq == Seq(("a", "c")))
  }

  test("cypher: var-length reaches 2 hops") {
    val out = CypherLite.query(g,
      "MATCH (s {id: 'a'})-[*1..2]->(t) RETURN t.id ORDER BY t.id")
      .collect().map(_.getString(0))
    assert(out.toSeq == Seq("b", "c", "d"))
  }

  test("cypher: *0..N includes the zero-length path") {
    val out = CypherLite.query(g,
      "MATCH (s {id: 'a'})-[*0..1]->(t) RETURN t.id ORDER BY t.id")
      .collect().map(_.getString(0))
    assert(out.toSeq == Seq("a", "b", "c"))
  }

  test("cypher: an empty hop range is rejected before any job starts") {
    val jobs = new AtomicInteger
    val log = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(log)
    try {
      val err = intercept[IllegalArgumentException] {
        CypherLite.query(g, "MATCH (s {id: 'a'})-[*3..2]->(t) RETURN t.id")
      }
      assert(err.getMessage.contains("*3..2"), err.getMessage)
      bridge.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(log)
    assert(jobs.get == 0, s"${jobs.get} jobs started")
  }
}
