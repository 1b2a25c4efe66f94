package graft.gv

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge.{nonAdaptive, rebind}
import graft.functions.VectorFunctions
import graft.graph.{Graph, GraphOps}

/** Graph + vector hybrid retrieval — the reference's
  * `HybridGraphVectorDB` (jcolano/fastpyvectordb
  * `hybrid_graph_vector.py:337-511`), two operators:
  *
  * **semanticGraphSearch** (`:337-453`): top-(2k) vector seeds over the
  * embedded nodes (similarity = 1 − cosine distance, `:316`), then BFS
  * expansion `hop = 1..H` over both edge directions; every node first
  * reached at hop h scores
  *   `vw · max(seed scores) · 1/(1+hop) + gw · (1/hop)`   (`:408-416`)
  * — faithfully including the reference's global-max-seed quirk (`:410`:
  * the *best* seed score decays, not the nearest seed's), so all nodes at
  * a hop share one score. Seeds keep their raw similarity. Ties are
  * broken by node id (the reference inherits Python dict order — we
  * document the deterministic divergence).
  *
  * **graphRerank** (`:459-511`): bounded traversal from a start node,
  * de-duplicate end nodes (canonical least path — reference keeps DFS
  * first-encounter order), score ends by raw cosine *similarity* when the
  * node has an embedding else 0, sort desc.
  *
  * Scale: seeds are one TakeOrderedAndProject; each hop is one join of a
  * frontier (≤ reachable set) against the edges table, anti-joined with
  * the visited set — the standard iterative-BFS-on-DataFrames shape with
  * bounded depth, run by the graph loops' `GraphOps.expand`, every join
  * broadcast-gated on a measured row count.
  * The rerank is one aggregation plus one outer join against the
  * embeddings, which adaptive execution cannot re-plan either (a left
  * outer join broadcasts only its right side). So both operators plan
  * without AQE, like the graph loops (see `GraphOps`): each call builds
  * its frames, inputs rebound, in `nonAdaptive(caller's session)` and
  * returns a frame of that non-adaptive session.
  */
object GraphVector {

  /** Per-hop combined-score formula, identical text in both engines;
    * `hop` is the hop number as a SQL decimal with one fractional digit. */
  def hopScore(vw: Double, gw: Double, hop: String): String =
    s"($vw * max_sim * (1.0 / (1.0 + $hop)) + $gw * (1.0 / $hop))"

  /** [[hopScore]] of a constant hop. */
  def hopScore(vw: Double, gw: Double, hop: Int): String = hopScore(vw, gw, s"$hop.0")

  def semanticGraphSearch(
      g: Graph,
      embNodes: DataFrame, // (id, embedding)
      queryVec: Seq[Double],
      k: Int,
      expandHops: Int,
      vw: Double,
      gw: Double,
      edgeType: Option[String] = None): DataFrame = {
    val spark = nonAdaptive(g.nodes.sparkSession)
    val qv = typedlit(queryVec)
    // every row carries its hop number as data, from the seeds' hop 0 on:
    // a hop number the plan holds as a constant is compiled into that
    // hop's code, so each hop would need classes of its own
    val seeds = rebind(spark, embNodes)
      .withColumn("sim", lit(1.0) - VectorFunctions.cosineDistance(col("embedding"), qv))
      .select("id", "sim")
      .orderBy(desc("sim"), col("id"))
      .limit(k * 2)
      .withColumn("hop", lit(0))
      .localCheckpoint() // seeds feed the seed scores, max_sim and every hop
    val maxSeed = seeds.agg(max("sim").as("max_sim"))
    // both directions of every edge, from one scan of the edge cache
    val und = GraphOps.ofType(rebind(spark, g.edges), edgeType)
      .select(explode(array(
        struct(col("src").as("a"), col("dst").as("b")),
        struct(col("dst").as("a"), col("src").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    // the seed set's size is bounded by its limit: 2k rows
    val hops = GraphOps.expand(seeds.select(col("id"), col("hop")), 2L * k, expandHops,
        Some(seeds.select(col("id").as("vid")) -> "id")) { (f, v) =>
      f.join(und, col("id") === col("a"))
        .select(col("b").as("id"), (col("hop") + 1).as("hop")).distinct()
        .join(v.get, col("id") === col("vid"), "left_anti")
    }
    val seedScores = seeds.select(col("id"), round(col("sim"), 6).as("score"), col("hop"))
    // one scoring of every hop's rows; DECIMAL(3, 1) keeps the decimal
    // arithmetic of a constant hop such as 1.0
    val score = hopScore(vw, gw, "CAST(hop AS DECIMAL(3, 1))")
    hops.reduceOption(_ union _).fold(seedScores)(reached =>
      seedScores.union(reached.crossJoin(broadcast(maxSeed))
        .selectExpr("id", s"round($score, 6) as score", "hop")))
      .orderBy(desc("score"), col("id")).limit(k)
  }

  /** DuckDB oracle: embedded nodes = customers with hash-vector
    * embeddings keyed by custkey; full graph from TpchGraph CTEs.
    */
  def semanticGraphSearchSql(
      graphCtes: String,
      queryKey: Long,
      dim: Int,
      k: Int,
      vw: Double,
      gw: Double,
      edgeType: Option[String] = None): String = {
    val emb = VectorFunctions.hashVectorSql("c_custkey", dim)
    val dist = VectorFunctions.cosineDistanceSql("emb", "q.v", dim)
    val typeFilter = edgeType.map(t => s" WHERE type = '$t'").getOrElse("")
    s"""WITH $graphCtes,
       |q AS (SELECT ${VectorFunctions.hashVectorSql(queryKey.toString, dim)} AS v),
       |en AS (SELECT 'c:' || c_custkey AS id, $emb AS emb FROM customer),
       |seeds AS (
       |  SELECT en.id, 1.0 - $dist AS sim FROM en, q
       |  ORDER BY sim DESC, id LIMIT ${2 * k}),
       |ms AS (SELECT max(sim) AS max_sim FROM seeds),
       |und AS (SELECT src AS a, dst AS b FROM edges$typeFilter
       |        UNION ALL SELECT dst, src FROM edges$typeFilter),
       |h1 AS (
       |  SELECT DISTINCT und.b AS id FROM seeds JOIN und ON und.a = seeds.id
       |  WHERE und.b NOT IN (SELECT id FROM seeds)),
       |h2 AS (
       |  SELECT DISTINCT und.b AS id FROM h1 JOIN und ON und.a = h1.id
       |  WHERE und.b NOT IN (SELECT id FROM seeds)
       |    AND und.b NOT IN (SELECT id FROM h1)),
       |res AS (
       |  SELECT id, round(sim, 6) AS score, 0 AS hop FROM seeds
       |  UNION ALL
       |  SELECT id, round(${hopScore(vw, gw, 1)}, 6), 1 FROM h1, ms
       |  UNION ALL
       |  SELECT id, round(${hopScore(vw, gw, 2)}, 6), 2 FROM h2, ms)
       |SELECT id, score, hop FROM res
       |ORDER BY score DESC, id LIMIT $k""".stripMargin
  }

  def graphRerank(
      traversePaths: DataFrame, // (depth, path, end_id) from GraphOps.traverse
      endEmbeddings: DataFrame, // (id, embedding) — nodes that have vectors
      queryVec: Seq[Double],
      k: Int): DataFrame = {
    val spark = nonAdaptive(traversePaths.sparkSession)
    val qv = typedlit(queryVec)
    // one aggregation keeps each end's least path with that path's own
    // depth (struct order compares path first): the traversal has a
    // single consumer, so it runs once with no checkpoint, and no join
    // back to it is needed to recover the depth
    rebind(spark, traversePaths)
      .groupBy("end_id").agg(min(struct(col("path"), col("depth"))).as("m"))
      .select(col("end_id"), col("m.path").as("path"), col("m.depth").as("depth"))
      .join(rebind(spark, endEmbeddings), col("end_id") === col("id"), "left_outer")
      .withColumn("score",
        round(coalesce(VectorFunctions.cosineSimilarity(col("embedding"), qv), lit(0.0)), 6))
      .select("end_id", "score", "depth", "path")
      .orderBy(desc("score"), col("end_id"))
      .limit(k)
  }
}
