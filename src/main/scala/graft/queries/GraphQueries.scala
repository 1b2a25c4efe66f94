package graft.queries

import org.apache.spark.sql.functions._
import graft.Q
import graft.graph.{CypherLite, GraphOps, TpchGraph}

/** Graph catalog queries over the TPC-H-derived property graph:
  * neighbors, bounded traversal, BFS minimal-depth paths, hyperedge
  * membership, and three Cypher-lite shapes. Oracles rebuild the same
  * nodes/edges relations as DuckDB CTEs.
  */
object GraphQueries {
  private val C = TpchGraph.ctesSql

  val qs: Seq[Q] = Seq(
    Q(
      "graph_neighbors",
      (s, dir) =>
        GraphOps.neighbors(TpchGraph.build(s, dir), "n:0", "in", Some("IN_NATION"))
          .groupBy("label").agg(count(lit(1)).as("cnt"))
          .orderBy("label"),
      Some(
        s"""WITH $C
           |SELECT n.label, count(*) AS cnt
           |FROM edges e JOIN nodes n ON n.id = e.src
           |WHERE e.dst = 'n:0' AND e.type = 'IN_NATION'
           |GROUP BY n.label ORDER BY n.label""".stripMargin),
      bench = true
    ),
    Q(
      "graph_traverse",
      (s, dir) =>
        GraphOps.traverse(TpchGraph.build(s, dir), "o:1", 2)
          .orderBy("depth", "path").limit(50),
      Some(
        s"""WITH $C,
           |d1 AS (SELECT 1 AS depth, 'o:1->' || dst AS path, dst AS end_id
           |       FROM edges WHERE src = 'o:1'),
           |d2 AS (SELECT 2 AS depth, d1.path || '->' || e.dst AS path,
           |              e.dst AS end_id
           |       FROM d1 JOIN edges e ON e.src = d1.end_id
           |       WHERE e.dst <> 'o:1' AND e.dst <> d1.end_id)
           |SELECT * FROM (SELECT * FROM d1 UNION ALL SELECT * FROM d2)
           |ORDER BY depth, path LIMIT 50""".stripMargin)
    ),
    Q(
      "graph_shortest_paths",
      (s, dir) =>
        GraphOps.bfsPaths(TpchGraph.build(s, dir), "o:1", 3, Some("Nation"))
          .orderBy("target"),
      Some(
        s"""WITH $C,
           |p1 AS (SELECT dst AS target, 'o:1->' || dst AS path
           |       FROM edges WHERE src = 'o:1'),
           |r1 AS (SELECT target, min(path) AS path FROM p1 GROUP BY target),
           |p2 AS (SELECT e.dst AS target, r1.path || '->' || e.dst AS path
           |       FROM r1 JOIN edges e ON e.src = r1.target
           |       WHERE e.dst <> 'o:1'
           |         AND e.dst NOT IN (SELECT target FROM r1)),
           |r2 AS (SELECT target, min(path) AS path FROM p2 GROUP BY target),
           |p3 AS (SELECT e.dst AS target, r2.path || '->' || e.dst AS path
           |       FROM r2 JOIN edges e ON e.src = r2.target
           |       WHERE e.dst <> 'o:1'
           |         AND e.dst NOT IN (SELECT target FROM r1)
           |         AND e.dst NOT IN (SELECT target FROM r2)),
           |r3 AS (SELECT target, min(path) AS path FROM p3 GROUP BY target),
           |res AS (
           |  SELECT target, 1 AS depth, path FROM r1
           |  UNION ALL SELECT target, 2, path FROM r2
           |  UNION ALL SELECT target, 3, path FROM r3)
           |SELECT res.target, res.depth, res.path
           |FROM res JOIN nodes n ON n.id = res.target
           |WHERE n.label = 'Nation'
           |ORDER BY res.target""".stripMargin)
    ),
    Q(
      "graph_hyperedge_membership",
      (s, dir) => {
        val g = TpchGraph.build(s, dir)
        // Hyperedge = an order spanning its parts (HAS_PART membership);
        // query nodes = the 2 most-referenced parts; any-mode match with
        // per-hyperedge matched count ("all" mode ⇔ n_matched = 2).
        val mem = g.edges.filter(col("type") === "HAS_PART")
          .select(col("src").as("he"), col("dst").as("node"))
        val top2 = mem.groupBy("node").agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), col("node")).limit(2).select("node")
        mem.join(broadcast(top2), "node")
          .groupBy("he").agg(count(lit(1)).as("n_matched"))
          .orderBy(desc("n_matched"), col("he")).limit(20)
      },
      Some(
        s"""WITH $C,
           |mem AS (SELECT src AS he, dst AS node FROM edges
           |        WHERE type = 'HAS_PART'),
           |top2 AS (SELECT node FROM mem GROUP BY node
           |         ORDER BY count(*) DESC, node LIMIT 2)
           |SELECT he, count(*) AS n_matched
           |FROM mem WHERE node IN (SELECT node FROM top2)
           |GROUP BY he ORDER BY n_matched DESC, he LIMIT 20""".stripMargin)
    ),
    // graph DML end-to-end, oracled (promoting node/edge CRUD + cascade
    // from spec-only): create a node + an edge to it, merge-update a
    // property, delete one edge by its exact triple (looked up in-plan —
    // each customer has exactly ONE IN_NATION edge, so the oracle can
    // replay the delete relationally), then delete a supplier node with
    // CASCADE (every incident edge goes too). The report is per-label /
    // per-type counts plus the updated property value — each mutation
    // shifts at least one reported number, so a silently-skipped rewrite
    // fails the hash.
    Q(
      "graph_mutations",
      (s, dir) => {
        import graft.graph.GraphMutations
        var g = TpchGraph.build(s, dir)
        g = GraphMutations.createNode(g, "x:1", "Hub", "HUB_1",
          num = Some(42.0), seg = Some("NEW"))
        g = GraphMutations.createEdge(g, "x:1", "n:0", "LINKED")
        g = GraphMutations.updateNode(g, "c:1", num = Some(4242.5))
        // the oracle replays this delete as ALL (c:1, IN_NATION) edges,
        // which is only equivalent when there is exactly one — assert it,
        // so a schema-invariant violation fails with a message instead of
        // a hash mismatch downstream (ADVICE r8)
        val nDsts = g.edges
          .filter(col("src") === "c:1" && col("type") === "IN_NATION")
          .select("dst").limit(3).collect() // ≤3-row bounded action
        require(nDsts.length == 1,
          s"graph_mutations: expected exactly one (c:1, IN_NATION) edge, " +
            s"got ${nDsts.length} — the oracle's relational replay assumes " +
            "the customer→nation schema invariant")
        val nDst = nDsts.head.getString(0)
        g = GraphMutations.deleteEdge(g, "c:1", nDst, "IN_NATION")
        g = GraphMutations.deleteNode(g, "s:1", cascade = true)
        val nodeCounts = g.nodes
          .groupBy(col("label").as("key"))
          .agg(count(lit(1)).cast("double").as("n"))
          .withColumn("kind", lit("node"))
        val edgeCounts = g.edges
          .groupBy(col("type").as("key"))
          .agg(count(lit(1)).cast("double").as("n"))
          .withColumn("kind", lit("edge"))
        val prop = g.nodes.filter(col("id") === "c:1")
          .select(lit("c:1").as("key"), col("num").as("n"),
            lit("prop").as("kind"))
        nodeCounts.unionByName(edgeCounts).unionByName(prop)
          .select("kind", "key", "n").orderBy("kind", "key")
      },
      Some(
        s"""WITH $C,
           |nodes1 AS (
           |  SELECT * FROM nodes UNION ALL
           |  SELECT 'x:1', 'Hub', 'HUB_1', CAST(42.0 AS DOUBLE), 'NEW'),
           |nodes2 AS (
           |  SELECT id, label, name,
           |         CASE WHEN id = 'c:1' THEN CAST(4242.5 AS DOUBLE)
           |              ELSE num END AS num, seg
           |  FROM nodes1),
           |nodes3 AS (SELECT * FROM nodes2 WHERE id <> 's:1'),
           |edges1 AS (
           |  SELECT * FROM edges UNION ALL SELECT 'x:1', 'n:0', 'LINKED'),
           |edges2 AS (
           |  SELECT * FROM edges1
           |  WHERE NOT (src = 'c:1' AND type = 'IN_NATION')),
           |edges3 AS (
           |  SELECT * FROM edges2 WHERE src <> 's:1' AND dst <> 's:1')
           |SELECT 'node' AS kind, label AS key, CAST(count(*) AS DOUBLE) AS n
           |FROM nodes3 GROUP BY 2
           |UNION ALL
           |SELECT 'edge', type, CAST(count(*) AS DOUBLE)
           |FROM edges3 GROUP BY 2
           |UNION ALL
           |SELECT 'prop', 'c:1', num FROM nodes3 WHERE id = 'c:1'
           |ORDER BY kind, key""".stripMargin)
    ),
    // hyperedge CRUD end-to-end, oracled (the n-ary companion of
    // graph_mutations): membership derived from HAS_PART edges, one
    // hyperedge created (member-existence FK check), one deleted; the
    // report's four aggregates each move under exactly one mutation.
    Q(
      "graph_hyperedge_mutations",
      (s, dir) => {
        import graft.graph.Hyperedges
        val g = TpchGraph.build(s, dir)
        val m0 = Hyperedges.fromEdges(g, "HAS_PART")
        val m1 = Hyperedges.create(g, m0, "hx:1", Seq("p:1", "p:2", "p:3"))
        val m2 = Hyperedges.delete(m1, "o:1")
        val tot = m2.agg(count(lit(1)).as("n_rows"),
          countDistinct("he_id").as("n_hyperedges"))
        val hx = m2.filter(col("he_id") === "hx:1")
          .agg(count(lit(1)).as("hx_members"))
        val p1 = m2.filter(col("node") === "p:1")
          .agg(countDistinct("he_id").as("he_with_p1"))
        tot.crossJoin(broadcast(hx)).crossJoin(broadcast(p1))
      },
      Some(
        s"""WITH $C,
           |m0 AS (SELECT src AS he_id, dst AS node FROM edges
           |       WHERE type = 'HAS_PART'),
           |m1 AS (SELECT * FROM m0 UNION ALL
           |       SELECT 'hx:1', x
           |       FROM (VALUES ('p:1'), ('p:2'), ('p:3')) t(x)),
           |m2 AS (SELECT * FROM m1 WHERE he_id <> 'o:1')
           |SELECT CAST(count(*) AS BIGINT) AS n_rows,
           |       CAST(count(DISTINCT he_id) AS BIGINT) AS n_hyperedges,
           |       CAST((SELECT count(*) FROM m2 WHERE he_id = 'hx:1')
           |         AS BIGINT) AS hx_members,
           |       CAST((SELECT count(DISTINCT he_id) FROM m2
           |             WHERE node = 'p:1') AS BIGINT) AS he_with_p1
           |FROM m2""".stripMargin)
    ),
    Q(
      "graph_stats",
      (s, dir) => {
        val g = TpchGraph.build(s, dir)
        // counts + distinct labels/types (reference graph.py:917-926)
        val n = g.nodes.agg(
          count(lit(1)).as("n_nodes"),
          countDistinct("label").as("n_labels"))
        val e = g.edges.agg(
          count(lit(1)).as("n_edges"),
          countDistinct("type").as("n_edge_types"))
        n.crossJoin(e)
      },
      Some(
        s"""WITH $C,
           |ns AS (SELECT count(*) AS n_nodes,
           |              count(DISTINCT label) AS n_labels FROM nodes),
           |es AS (SELECT count(*) AS n_edges,
           |              count(DISTINCT type) AS n_edge_types FROM edges)
           |SELECT * FROM ns, es""".stripMargin)
    ),
    Q(
      "cypher_node",
      (s, dir) =>
        CypherLite.query(TpchGraph.build(s, dir),
          "MATCH (c:Customer {seg: 'BUILDING'}) WHERE c.num > 1000 " +
            "RETURN c.id, c.name ORDER BY c.id LIMIT 20"),
      Some(
        s"""WITH $C
           |SELECT id AS c_id, name AS c_name FROM nodes
           |WHERE label = 'Customer' AND seg = 'BUILDING' AND num > 1000
           |ORDER BY c_id LIMIT 20""".stripMargin)
    ),
    // bare-var RETURN yields the node WITH its properties (the reference
    // returns node.to_dict(), graph.py:1094-1111)
    Q(
      "cypher_return_node",
      (s, dir) =>
        CypherLite.query(TpchGraph.build(s, dir),
          "MATCH (n:Nation) WHERE n.name <= 'NATION_3' " +
            "RETURN n ORDER BY n.id"),
      Some(
        s"""WITH $C
           |SELECT id AS n_id, label AS n_label, name AS n_name,
           |       num AS n_num, seg AS n_seg
           |FROM nodes
           |WHERE label = 'Nation' AND name <= 'NATION_3'
           |ORDER BY n_id""".stripMargin)
    ),
    // WHERE-op breadth (VERDICT r8 #8): the reference parser accepts all
    // six comparison ops (graph.py:1061-1092) — this entry exercises the
    // three no other cypher entry covers (`<>`, `>=`, `<`) in one AND
    // chain, plus a multi-property RETURN; CypherBreadthSpec pins the
    // full ×6 table. `<>` requires presence (null seg never matches),
    // mirrored by IS NOT NULL in the oracle.
    Q(
      "cypher_where_ops",
      (s, dir) =>
        CypherLite.query(TpchGraph.build(s, dir),
          "MATCH (c:Customer) WHERE c.seg <> 'BUILDING' AND c.num >= 2000 " +
            "AND c.num < 6000 RETURN c.id, c.seg, c.num ORDER BY c.id LIMIT 20"),
      Some(
        s"""WITH $C
           |SELECT id AS c_id, seg AS c_seg, num AS c_num FROM nodes
           |WHERE label = 'Customer' AND seg IS NOT NULL
           |  AND seg <> 'BUILDING' AND num >= 2000 AND num < 6000
           |ORDER BY c_id LIMIT 20""".stripMargin)
    ),
    Q(
      "cypher_edge",
      (s, dir) =>
        CypherLite.query(TpchGraph.build(s, dir),
          "MATCH (c:Customer)-[:IN_NATION]->(n:Nation) " +
            "WHERE n.name = 'NATION_3' " +
            "RETURN c.id, n.name ORDER BY c.id LIMIT 20"),
      Some(
        s"""WITH $C
           |SELECT a.id AS c_id, b.name AS n_name
           |FROM nodes a
           |JOIN edges e ON e.src = a.id AND e.type = 'IN_NATION'
           |JOIN nodes b ON b.id = e.dst
           |WHERE a.label = 'Customer' AND b.label = 'Nation'
           |  AND b.name = 'NATION_3'
           |ORDER BY c_id LIMIT 20""".stripMargin)
    ),
    Q(
      "cypher_varlength",
      (s, dir) =>
        CypherLite.query(TpchGraph.build(s, dir),
          "MATCH (o:Order {id: 'o:1'})-[*1..2]->(x) " +
            "RETURN x.id, x.label ORDER BY x.id"),
      Some(
        s"""WITH $C,
           |r AS (
           |  SELECT dst FROM edges WHERE src = 'o:1'
           |  UNION
           |  SELECT e2.dst FROM edges e1
           |  JOIN edges e2 ON e2.src = e1.dst
           |  WHERE e1.src = 'o:1')
           |SELECT n.id AS x_id, n.label AS x_label
           |FROM r JOIN nodes n ON n.id = r.dst
           |ORDER BY x_id""".stripMargin)
    ),
    // whole-graph analytics: 5-iteration fixed-point PageRank (integer
    // micro-unit ranks — see GraphOps.pagerank for why that makes the
    // result engine- and partition-order-exact), top-20 hubs
    Q(
      "graph_pagerank",
      (s, dir) =>
        GraphOps.pagerank(TpchGraph.build(s, dir), 5)
          .select(col("id"), round(col("r6") / 1000000.0, 6).as("rank"))
          .orderBy(desc("rank"), col("id"))
          .limit(20),
      Some(
        s"""WITH $C,
           |${GraphOps.rankCtesSql(None, 5)}
           |SELECT id, round(r6 / 1000000.0, 6) AS rank
           |FROM r5 ORDER BY rank DESC, id LIMIT 20""".stripMargin),
      bench = true
    ),
    // personalized PageRank: relevance-to-o:1 over 4 hops (restart mass
    // pinned to the seed; sparse reached-set iteration — see
    // GraphOps.personalizedPagerank)
    Q(
      "graph_ppr",
      (s, dir) =>
        GraphOps.personalizedPagerank(TpchGraph.build(s, dir), "o:1", 4)
          .filter(col("r6") > 0)
          .select(col("id"), round(col("r6") / 1000000.0, 6).as("rank"))
          .orderBy(desc("rank"), col("id"))
          .limit(20),
      Some(
        s"""WITH $C,
           |${GraphOps.rankCtesSql(Some("o:1"), 4)}
           |SELECT id, round(r6 / 1000000.0, 6) AS rank
           |FROM r4 WHERE r6 > 0 ORDER BY rank DESC, id LIMIT 20""".stripMargin)
    )
  )
}
