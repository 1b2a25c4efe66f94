package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, Coalesce, EqualTo,
  IntegralDivide, Literal, Multiply}
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, UsingJoin}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST, Filter, HintInfo,
  Join, JoinHint, LogicalPlan, Project, Repartition, ResolvedHint, Union}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge.{analyzedOnce, countedLocalCheckpoint, leaf,
  nonAdaptive, rebind}
import graft.core.Tables

/** Property graph over two DataFrames — the reference's GraphDB
  * (jcolano/fastpyvectordb `graph.py`) re-expressed relationally:
  *
  *   nodes(id, label, name, num, seg)  — uniform typed property columns
  *   edges(src, dst, type)             — directed
  *
  * The reference maintains five hash indexes (label/property/adjacency/
  * edge-type/hyperedge-node, `graph.py:253-488`); in Spark those are just
  * join/filter keys — Catalyst picks broadcast vs shuffle joins and the
  * scans prune on pushed filters. Traversals are bounded driver-side
  * loops of joins (depth ≤ 3/10 like the reference defaults).
  */
final case class Graph(nodes: DataFrame, edges: DataFrame) {
  /** Memoized exact sizes: `edgeCount` sizes [[edgesOd]]'s partitions.
    * Both relations are persisted by the builder and TpchGraph memoizes
    * the Graph per (session, dir), so each count is one job per built
    * graph rather than one per query. */
  lazy val nodeCount: Long = nodes.count()
  lazy val edgeCount: Long = edges.count()

  /** Node-id dictionary — (id STRING, nid LONG) over every id appearing
    * as a node or an edge endpoint (superset of nodes, so encoding edges
    * through it never drops an endpoint and out-degrees stay exact on
    * graphs whose edges reference missing nodes). The rank loops join
    * and group on these 8-byte longs instead of strings, which is
    * narrower to hash, shuffle and compare. Ids are sorted before the
    * id assignment, so nid values are deterministic under partition
    * recompute (range boundaries and in-partition order are functions
    * of the data). The encoding is a bijection — results never depend
    * on the nid values themselves. Its exact size [[dictCount]] bounds
    * every nid-keyed table, so it is the rank loops' broadcast gate. */
  lazy val dict: DataFrame = {
    nodes.select(col("id"))
      .union(edges.select(col("src").as("id")))
      .union(edges.select(col("dst").as("id")))
      .distinct()
      .orderBy("id")
      .select(col("id"), monotonically_increasing_id().as("nid"))
      .persist()
  }
  lazy val dictCount: Long = dict.count()

  /** Materialized adjacency-with-degree — (src, dst, od) with src/dst
    * as [[dict]] nids, the GraphX trade of carrying the out-degree in
    * long-keyed edge storage — persisted once per built graph and
    * shared by every rank iteration of pagerank and PPR, so neither loop
    * derives out-degrees per call or joins a node-sized degree table per
    * hop. Partition count sized by DATA, not core count: the loops
    * re-scan this table `iters` times, and on a small graph the fixed
    * cost per task outweighs the work a task does. ~128k edge rows per
    * task; saturates at defaultParallelism when the graph is big
    * enough, so cluster-scale runs keep one task per core. Lazy: only
    * the rank loops pay it (the bench build phase touches it alongside
    * the counts). */
  lazy val edgesOd: DataFrame = {
    val spark = edges.sparkSession
    val loopParts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong,
      edgeCount / 131072L + 1L)).toInt
    val e = edges
      .join(GraphOps.hinted(dict.select(col("id"), col("nid").as("srcN")), dictCount),
        col("src") === col("id")).drop("id")
      .join(GraphOps.hinted(dict.select(col("id"), col("nid").as("dstN")), dictCount),
        col("dst") === col("id")).drop("id")
      .select(col("srcN").as("src"), col("dstN").as("dst"))
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("od"))
    // hash-partitioned on dst and persisted WITH that partitioning
    // (InMemoryRelation preserves it — canChangeCachedPlanOutputPartitioning
    // is off by default): every rank hop ends in groupBy(dst), so the
    // hop's aggregation needs NO exchange — one stage per hop: operations
    // keyed the same way share the one exchange, paid here once at build
    // time.
    e.join(GraphOps.hinted(outdeg, dictCount), "src").select(col("src"), col("dst"), col("od"))
      .repartition(loopParts, col("dst")).persist()
  }
}

/** Derives the test graph from the TPC-H-ish tables:
  * Customer/Supplier/Nation/Part/Order nodes; edges PLACED_BY (o→c),
  * IN_NATION (c→n, s→n), HAS_PART (o→p), SUPPLIED_BY (p→s).
  */
object TpchGraph {
  // One graph build per (session, sf-dir): every catalog query calls
  // build(), and without memoization each pays the lineitem-distinct
  // shuffles again even though the persisted DFs already exist.
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Graph]()

  /** Drop all memoized graphs (pairs with spark.catalog.clearCache():
    * clearing the cache alone would leave memoized Graphs whose persist
    * markers are gone, silently losing the one-build-per-session
    * invariant — the next build() re-persists instead). */
  def invalidate(): Unit = cache.clear()

  def build(spark: SparkSession, dir: String): Graph =
    // applicationId is unique per SparkContext, so a new context never
    // collides with a stopped one's cached (and now invalid) Graph
    cache.computeIfAbsent(s"${spark.sparkContext.applicationId}:$dir",
      _ => buildUncached(spark, dir))

  private def buildUncached(spark: SparkSession, dir: String): Graph = {
    val c = Tables.customer(spark, dir).selectExpr(
      "concat('c:', c_custkey) as id", "'Customer' as label",
      "c_name as name", "c_acctbal as num", "c_mktsegment as seg")
    val s = Tables.supplier(spark, dir).selectExpr(
      "concat('s:', s_suppkey) as id", "'Supplier' as label",
      "s_name as name", "s_acctbal as num", "cast(null as string) as seg")
    val n = Tables.nation(spark, dir).selectExpr(
      "concat('n:', n_nationkey) as id", "'Nation' as label",
      "n_name as name", "cast(null as double) as num", "cast(null as string) as seg")
    val p = Tables.part(spark, dir).selectExpr(
      "concat('p:', p_partkey) as id", "'Part' as label",
      "p_name as name", "p_retailprice as num", "p_brand as seg")
    val o = Tables.orders(spark, dir).selectExpr(
      "concat('o:', o_orderkey) as id", "'Order' as label",
      "o_orderpriority as name", "o_totalprice as num", "o_orderstatus as seg")
    val nodes = c.union(s).union(n).union(p).union(o)

    val li = Tables.lineitem(spark, dir)
    val placedBy = Tables.orders(spark, dir).selectExpr(
      "concat('o:', o_orderkey) as src", "concat('c:', o_custkey) as dst",
      "'PLACED_BY' as type")
    val custNation = Tables.customer(spark, dir).selectExpr(
      "concat('c:', c_custkey) as src", "concat('n:', c_nationkey) as dst",
      "'IN_NATION' as type")
    val suppNation = Tables.supplier(spark, dir).selectExpr(
      "concat('s:', s_suppkey) as src", "concat('n:', s_nationkey) as dst",
      "'IN_NATION' as type")
    // distinct on the numeric key pairs BEFORE string concat: the shuffle
    // moves 16-byte pairs instead of concatenated strings
    val hasPart = li.select("l_orderkey", "l_partkey").distinct().selectExpr(
      "concat('o:', l_orderkey) as src", "concat('p:', l_partkey) as dst",
      "'HAS_PART' as type")
    val suppliedBy = li.select("l_partkey", "l_suppkey").distinct().selectExpr(
      "concat('p:', l_partkey) as src", "concat('s:', l_suppkey) as dst",
      "'SUPPLIED_BY' as type")
    // Both relations are re-joined several times by every traversal
    // (each BFS hop, both var-length directions); persist so the
    // lineitem-distinct shuffles run once per query, not once per hop.
    // Fewer, larger partitions for the persisted edge list: the raw
    // union carries the two distinct shuffles' full width plus the scan
    // splits, and every graph query re-scans it (pagerank once per
    // iteration) at a fixed cost per task. Core count is the
    // scale-adaptive floor for one-wave scheduling; at cluster scale the
    // same expression keeps one task per core.
    // range-repartition on (type, src), not coalesce and not round-robin:
    // coalesce packs whole union children into merged partitions (one
    // partition = all PLACED_BY rows, another a near-empty distinct
    // output), and the skewed wave time shows up in every downstream
    // scan; round-robin evens the sizes but interleaves the five
    // relations, which destroys the columnar cache's clustering (type
    // stops being RLE-runs, src loses prefix locality) and slows every
    // scan's decode. Range partitioning keeps rows clustered by
    // (type, src) — the read-side locality the union had — while the
    // range sampler splits the dominant type across partitions for even
    // sizes. One build-time shuffle either way.
    val np = spark.sparkContext.defaultParallelism
    Graph(nodes.coalesce(np).persist(),
      placedBy.union(custNation).union(suppNation).union(hasPart)
        .union(suppliedBy)
        .repartitionByRange(np, col("type"), col("src")).persist())
  }

  /** DuckDB CTEs defining the same nodes/edges relations. */
  val ctesSql: String =
    """nodes AS MATERIALIZED (
      |  SELECT 'c:' || c_custkey AS id, 'Customer' AS label, c_name AS name,
      |         c_acctbal AS num, c_mktsegment AS seg FROM customer
      |  UNION ALL
      |  SELECT 's:' || s_suppkey, 'Supplier', s_name, s_acctbal, NULL FROM supplier
      |  UNION ALL
      |  SELECT 'n:' || n_nationkey, 'Nation', n_name, NULL, NULL FROM nation
      |  UNION ALL
      |  SELECT 'p:' || p_partkey, 'Part', p_name, p_retailprice, p_brand FROM part
      |  UNION ALL
      |  SELECT 'o:' || o_orderkey, 'Order', o_orderpriority, o_totalprice,
      |         o_orderstatus FROM orders),
      |edges AS MATERIALIZED (
      |  SELECT 'o:' || o_orderkey AS src, 'c:' || o_custkey AS dst,
      |         'PLACED_BY' AS type FROM orders
      |  UNION ALL
      |  SELECT 'c:' || c_custkey, 'n:' || c_nationkey, 'IN_NATION' FROM customer
      |  UNION ALL
      |  SELECT 's:' || s_suppkey, 'n:' || s_nationkey, 'IN_NATION' FROM supplier
      |  UNION ALL
      |  SELECT DISTINCT 'o:' || l_orderkey, 'p:' || l_partkey, 'HAS_PART' FROM lineitem
      |  UNION ALL
      |  SELECT DISTINCT 'p:' || l_partkey, 's:' || l_suppkey, 'SUPPLIED_BY' FROM lineitem)"""
      .stripMargin
}

/** Graph loops: traversal, BFS paths, pagerank and personalized pagerank.
  *
  * Every loop picks broadcast or shuffle for each hop from an exact size,
  * measured or, for the rank loops, the dictionary's bound on their
  * tables, so adaptive execution has nothing left to decide there and only
  * adds a stage wait, a re-optimization and a plan-string render per
  * broadcast. Each loop therefore builds all of its frames — its inputs
  * rebound, its per-hop checkpoints and its result — in
  * `nonAdaptive(caller's session)`, a clone with AQE off that carries the
  * caller's current conf. The caller's own action on the result is
  * planned by that clone too; the caller's session is never changed. The
  * clone also names generated classes without their codegen stage id, so
  * stages alike but for that id (the hops of one loop, equal stages of
  * two operators) share one compiled class: a cycle of pagerank, PPR,
  * semantic search and traverse + rerank then fits Spark's cache of
  * generated classes instead of compiling its classes again on every
  * call, and the loops keep each stage's generated code free of per-call
  * values (a hop's number, a query's norm) for the same reason. The
  * graph's persisted relations are rebound, not re-derived: the clone
  * shares the caller's cache. `CypherLite`'s var-length match runs
  * [[expand]] in the caller's own session: its final joins have no
  * measured size, so it leaves them to adaptive execution.
  */
object GraphOps {

  /** Broadcast-hint ceiling for measured frontier/visited sizes: sets
    * whose EXACT materialized row count is at or below this are hinted
    * (a few MB of ids); larger sets shuffle. */
  val FrontierHintRows = 200000L

  /** `df` hinted broadcast when its measured size `rows` is at or below
    * [[FrontierHintRows]]; a larger `df` is left to shuffle, the right
    * plan at that size. */
  private[graft] def hinted(df: DataFrame, rows: Long): DataFrame =
    if (rows <= FrontierHintRows) broadcast(df) else df

  /** `edges` of type `edgeType` only, or all of them. */
  private[graft] def ofType(edges: DataFrame, edgeType: Option[String]): DataFrame =
    edgeType.fold(edges)(t => edges.filter(col("type") === t))

  /** The hop loop of [[traverse]], [[bfsPaths]],
    * `GraphVector.semanticGraphSearch` and `CypherLite`'s var-length
    * match. `hop(frontier, visited)` builds a hop's frame from the
    * frontier (`seed`, of `seedRows` rows, for hop 1, else the previous
    * hop's frame) and, for a caller that
    * keeps one, the visited set; both come hinted on their measured
    * sizes, since the planner's estimate for a join-derived frontier is
    * far too large to broadcast it. Every hop but the last is
    * localCheckpoint'ed: its frame feeds the next hop and the caller's
    * result, and Spark shares no subtree between those consumers (nor
    * across union branches), so a lazy hop would re-run its joins inside
    * every later one. The job that materializes the checkpoint also
    * counts it, which keeps the next gate exact. The last hop
    * feeds only the result, so it stays lazy. `visited = Some((v, key))`
    * starts the visited set at `v` (`seedRows` rows, one column) and
    * grows it by each hop's `key` column. Returns the frame of each hop,
    * hop 1 first. */
  private[graft] def expand(seed: DataFrame, seedRows: Long, hops: Int,
      visited: Option[(DataFrame, String)] = None)(
      hop: (DataFrame, Option[DataFrame]) => DataFrame): Seq[DataFrame] = {
    var frontier = seed
    var frontierRows = seedRows
    var seen = visited.map(_._1)
    var seenRows = seedRows
    (1 to hops).map { d =>
      val next = hop(hinted(frontier, frontierRows), seen.map(hinted(_, seenRows)))
      if (d == hops) next
      else {
        val (cut, rows) = countedLocalCheckpoint(next)
        frontier = cut
        frontierRows = rows
        seenRows += rows
        seen = seen.map(v =>
          v.union(frontier.select(col(visited.get._2).as(v.columns.head))))
        frontier
      }
    }
  }

  /** 1-hop neighbors (reference `graph.py:818-842`): direction out/in/
    * both, optional edge-type filter. Returns neighbor node rows.
    */
  def neighbors(g: Graph, nodeId: String, direction: String = "out",
      edgeType: Option[String] = None): DataFrame = {
    val e = ofType(g.edges, edgeType)
    val outN = e.filter(col("src") === nodeId).select(col("dst").as("nid"))
    val inN = e.filter(col("dst") === nodeId).select(col("src").as("nid"))
    val ids = direction match {
      case "out"  => outN
      case "in"   => inN
      case "both" => outN.union(inN)
      case d      => throw new IllegalArgumentException(s"direction $d")
    }
    g.nodes.join(ids.distinct(), col("id") === col("nid")).drop("nid")
  }

  /** All outward paths from `start` up to `maxDepth`, cycle-free
    * (reference `traverse`, `graph.py:844-869`). Returns
    * (depth, path, end_id) with path = "a->b->c".
    */
  def traverse(g: Graph, start: String, maxDepth: Int,
      edgeType: Option[String] = None): DataFrame = {
    require(maxDepth >= 1, s"traverse needs maxDepth >= 1, got $maxDepth")
    val spark = nonAdaptive(g.nodes.sparkSession)
    import spark.implicits._
    val e = ofType(rebind(spark, g.edges), edgeType)
    val seed = Seq((start, start, Seq(start))).toDF("node", "path", "seen")
    expand(seed, 1L, maxDepth) { (f, _) =>
      f.join(e, col("node") === col("src"))
        .filter(!array_contains(col("seen"), col("dst")))
        .select(
          col("dst").as("node"),
          concat(col("path"), lit("->"), col("dst")).as("path"),
          array_append(col("seen"), col("dst")).as("seen"))
    }.map { next =>
      // the depth from the data, not a constant per hop that each hop's
      // generated code would carry: `seen` holds the start and each hop
      next.select((size(col("seen")) - 1).as("depth"), col("path"), col("node").as("end_id"))
    }.reduce(_ union _)
  }

  /** Minimal-depth reachability with canonical (lexicographically least)
    * path per target — the deterministic form of BFS shortest path
    * (reference `shortest_path`, `graph.py:871-902`). Returns
    * (target, depth, path) for targets matching `targetLabel`.
    */
  def bfsPaths(g: Graph, start: String, maxDepth: Int,
      targetLabel: Option[String] = None): DataFrame = {
    require(maxDepth >= 1, s"bfsPaths needs maxDepth >= 1, got $maxDepth")
    val spark = nonAdaptive(g.nodes.sparkSession)
    import spark.implicits._
    val edges = rebind(spark, g.edges)
    val all = expand(Seq((start, start)).toDF("node", "path"), 1L, maxDepth,
        Some(Seq(start).toDF("vnode") -> "node")) { (f, v) =>
      f.join(edges, col("node") === col("src"))
        .select(col("dst").as("node"),
          concat(col("path"), lit("->"), col("dst")).as("path"))
        .join(v.get, col("node") === col("vnode"), "left_anti")
        .groupBy("node").agg(min("path").as("path"))
    }.zipWithIndex.map { case (next, i) =>
      next.select(col("node").as("target"), lit(i + 1).as("depth"), col("path"))
    }.reduce(_ union _)
    targetLabel.fold(all)(l =>
      all.join(rebind(spark, g.nodes).filter(col("label") === l).select(col("id")),
        col("target") === col("id")).drop("id"))
  }

  /** Static PageRank in fixed-point arithmetic: GraphX-style semantics
    * (init 1, r' = 0.15 + 0.85·Σ r(src)/outdeg(src), no dangling
    * redistribution), but with ranks held as BIGINT micro-units and
    * every division an integer division — so the result is EXACTLY
    * reproducible across engines and partition orders (float PageRank
    * sums contributions in nondeterministic order; at 6-decimal
    * rounding that's a latent cross-engine mismatch). The
    * [[rankLoop]] with a uniform start and teleport: k iterations = k
    * joins against the rank table and k groupBys of the edge list,
    * independent of graph diameter. Returns (id, r6 BIGINT micro-units). */
  def pagerank(g: Graph, iters: Int): DataFrame = {
    require(iters >= 1, s"pagerank needs at least one iteration, got $iters")
    // Past the broadcast ceiling nothing materializes per hop, so a large
    // `iters` would chain 2·iters shuffles into one plan whose planning
    // cost grows with it; a checkpoint every 5th hop bounds the chain.
    rankLoop(g, None, iters)(k => k % 5 == 0 && k < iters)
  }

  /** Personalized PageRank: the random walk restarts at `seed` instead
    * of teleporting uniformly — the relevance-to-a-node ranking a
    * graph+vector pipeline reranks with. The [[rankLoop]] with the start
    * and teleport mass on the seed: r₀ = 1e6·e_seed,
    * r' = 0.15e6·e_seed + 0.85·Σ r/outdeg. Its rank table holds only the
    * nodes reached, so a hop's cost is bounded by the reached set, not
    * the graph. */
  def personalizedPagerank(g: Graph, seed: String, iters: Int): DataFrame = {
    require(iters >= 1, s"personalizedPagerank needs >= 1 iteration")
    // Past the ceiling every hop but the last is checkpointed, so a
    // reached set that is still small stays broadcast even on a huge graph.
    rankLoop(g, Some(seed), iters)(k => k < iters)
  }

  /** The rank loop of [[pagerank]] (`seed` None) and
    * [[personalizedPagerank]] (`seed` = the seed's string id):
    * from r₀ = 1e6·t, `iters` hops of r' = 0.15e6·t + 0.85·Σ r(src) div
    * od(src), where the teleport vector t is 1 on every node for pagerank
    * and e_seed for PPR.
    *
    * The rank table (id = nid, r6) is SPARSE: it holds only the nodes
    * that receive rank. An absent node sits on pagerank's 0.15 floor (at
    * 1e6 before the first hop, which so needs no join) and carries zero
    * mass in PPR. PPR's start table and each hop's teleport row are the
    * seed's [[Graph.dict]] entry, filtered inside the plan, so a seed
    * absent from the graph leaves both empty and every rank zero. A hop
    * joins the shared adjacency ([[Graph.edgesOd]])
    * against the previous table, then groups once by dst: the
    * contribution is per EDGE, but r(src) div od(src) is a function of
    * src only, so summing it per dst is the same integer as dividing once
    * per src. Damping applies to the per-node sum; per-edge flooring
    * would zero out low-mass contributions. PPR's teleport row rides
    * inside the same aggregation as a second summed column, so a hop has
    * one exchange.
    *
    * Each table feeds one parent only, the next hop or the result, so the
    * hops form one plan in which a broadcast table materializes once,
    * inside its broadcast build; a checkpoint would materialize it twice.
    * The plan is built from catalyst nodes, with a fresh edge leaf per
    * hop, and analyzed once: a chain of `Dataset` steps would analyze the
    * growing plan at every step, a cost that grows with iters². While the
    * dictionary, the bound of a nid-keyed table, is within
    * [[FrontierHintRows]], every table is hinted broadcast unmeasured.
    * Past it, `above(k)` is the rule for hop k's table: false leaves it
    * in the plan; true checkpoints it, and the checkpoint's row count
    * bounds it for the next hop's gate. Returns (id, r6) over every node
    * of `g`, keyed by the string id. */
  private def rankLoop(g: Graph, seed: Option[String], iters: Int)(
      above: Int => Boolean): DataFrame = {
    val spark = nonAdaptive(g.nodes.sparkSession)
    // the seed's one dictionary row (none if absent) as the columns
    // `nid` becomes and `cols`, read through a fresh leaf each time, in
    // one task: the row sits in one cached batch, which the filter
    // prunes to, and a task per dictionary partition would add that
    // many tasks to the start table's broadcast and to every hop's stage
    def seedRow(nid: String, cols: (String, Long)*): LogicalPlan = Project(
      Alias(ref("nid"), nid)() +: cols.map(c => Alias(Literal(c._2), c._1)()),
      Repartition(1, shuffle = false, Filter(EqualTo(ref("id"), Literal(seed.get)), leaf(g.dict))))
    // the table and its row bound; pagerank's uniform start is implicit
    var r: Option[(LogicalPlan, Long)] = seed.map(_ => (seedRow("id", "r6" -> 1000000L), 1L))
    for (k <- 1 to iters) {
      val edges = leaf(g.edgesOd)
      val contrib = r.fold(
        Project(Seq(ref("dst"), Alias(IntegralDivide(Literal(1000000L), ref("od")), "c")()), edges)) {
        case (rank, rows) =>
          val rs = if (seed.isEmpty) Coalesce(Seq(ref("r6"), Literal(150000L))) else ref("r6")
          Project(Seq(ref("dst"), Alias(IntegralDivide(rs, ref("od")), "c")()),
            Join(edges, broadcastIf(rank, rows), if (seed.isEmpty) LeftOuter else Inner,
              Some(EqualTo(ref("src"), ref("id"))), JoinHint.NONE))
      }
      // contributions carry t = 0 and the teleport row (seed, c = 0,
      // t = 150000): the c = 0 row never moves sum(c)
      val summed = seed.fold[LogicalPlan](contrib)(_ => Union(Seq(
        Project(Seq(ref("dst"), ref("c"), Alias(Literal(0L), "t")()), contrib),
        seedRow("dst", "c" -> 0L, "t" -> 150000L))))
      val sums = Aggregate(Seq(ref("dst")),
        Seq(ref("dst"), Alias(Sum(ref("c")).toAggregateExpression(), "sc")()) ++
          seed.map(_ => Alias(Sum(ref("t")).toAggregateExpression(), "st")()),
        summed)
      val teleport = if (seed.isEmpty) Literal(150000L) else ref("st")
      val hop: LogicalPlan = Project(Seq(Alias(ref("dst"), "id")(), Alias(Add(teleport,
        IntegralDivide(Multiply(ref("sc"), Literal(17L)), Literal(20L))), "r6")()), sums)
      r = Some(
        if (g.dictCount > FrontierHintRows && above(k)) {
          val (cut, rows) = countedLocalCheckpoint(analyzedOnce(spark, hop))
          (leaf(cut), rows)
        } else (hop, g.dictCount))
    }
    val (rank, rows) = r.get
    // keyed by the string id again through the persisted dictionary
    val dict = Project(Seq(ref("nid"), Alias(ref("id"), "sid")()), leaf(g.dict))
    val decoded = Project(Seq(Alias(ref("sid"), "id")(), ref("r6")),
      Join(rank, broadcastIf(dict, g.dictCount), Inner, Some(EqualTo(ref("id"), ref("nid"))),
        JoinHint.NONE))
    analyzedOnce(spark, Project(
      Seq(ref("id"), Alias(Coalesce(Seq(ref("r6"), Literal(if (seed.isEmpty) 150000L else 0L))),
        "r6")()),
      Join(Project(Seq(ref("id")), leaf(g.nodes)), broadcastIf(decoded, rows),
        UsingJoin(LeftOuter, Seq("id")), None, JoinHint.NONE)))
  }

  // The rank loop's plan is built from catalyst nodes whose only
  // unresolved parts are column names. Every expression is typed as the
  // analyzer would type it, so one bottom-up pass resolves all hops: an
  // unresolved function or an implicit cast would take another pass of
  // the whole analyzer batch per hop.

  /** The column `name` of the node's child, resolved in the analysis. */
  private def ref(name: String): UnresolvedAttribute = UnresolvedAttribute(name)

  /** `p` hinted broadcast when its row bound is within [[FrontierHintRows]]. */
  private def broadcastIf(p: LogicalPlan, rows: Long): LogicalPlan =
    if (rows <= FrontierHintRows) ResolvedHint(p, HintInfo(strategy = Some(BROADCAST))) else p

  /** DuckDB twin of [[rankLoop]] as chained CTEs: `seed` None is
    * [[pagerank]], Some(id) [[personalizedPagerank]] from that id. Dense
    * over nodes, which is equivalent: an absent node sits on pagerank's
    * floor and carries zero PPR mass. Same integer semantics: `//` floor
    * division over nonnegative values == Spark `div`. Emits
    * `outdeg, r0, …, r$iters`. */
  def rankCtesSql(seed: Option[String], iters: Int): String = {
    // the teleport vector t, scaled: 1 on every node, or on the seed only
    def t(scale: Int, id: String): String = seed.fold(s"$scale")(sd =>
      s"CASE WHEN $id = '${sd.replace("'", "''")}' THEN $scale ELSE 0 END")
    val head =
      s"""outdeg AS MATERIALIZED (SELECT src, count(*) AS od FROM edges GROUP BY src),
         |r0 AS (SELECT id, CAST(${t(1000000, "id")} AS BIGINT) AS r6 FROM nodes)""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""r$k AS (
         |  SELECT n.id,
         |         ${t(150000, "n.id")} + COALESCE(s.sc, 0) * 17 // 20 AS r6
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS id, sum(r.r6 // o.od) AS sc
         |    FROM edges e
         |    JOIN r${k - 1} r ON r.id = e.src
         |    JOIN outdeg o ON o.src = e.src
         |    GROUP BY e.dst) s USING (id))""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }
}
