package perfbench

import java.nio.file.{Path => JPath}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, desc}
import org.apache.spark.sql.types._
import graft.graph.{Graph, GraphOps, TpchGraph}
import graft.gv.GraphVector

/** `graph_batch`: a TPC-H-shaped graph built with `TpchGraph.build`,
  * seeded customer embeddings, and fixed repetitions of pagerank,
  * personalized pagerank, semantic graph search and traverse + rerank.
  * Every op carries its reference answer, computed when the inputs are
  * generated, so no reference work runs between ops. */
final class GraphBatch(seed: Long, sf: Double, reps: Int) extends Workload {
  val name = "graph_batch"
  val qualityName = "rank_top20_exact"
  /** The embedding width of the engine's own test data. */
  val EmbDim: Int = graft.core.Tables.EmbeddingDim
  val RankK = 20
  val SearchK = 10
  val PagerankIters = 5
  val PprIters = 4
  val Vw = 0.7
  val Gw = 0.3

  private val tp = new TpchGen(seed, sf)
  private val r = new Rng(seed ^ 0x6A09E667L)

  /** Node ids and edges exactly as the graph builder derives them. */
  val adj: Ref.Adj = {
    val ids = tp.customers.map(c => s"c:${c.key}") ++ tp.suppliers.map(s => s"s:${s.key}") ++
      tp.nations.map(n => s"n:${n._1}") ++ tp.parts.map(p => s"p:${p.key}") ++
      tp.orders.map(o => s"o:${o.key}")
    val idx = ids.zipWithIndex.toMap
    val e = mutable.ArrayBuffer.empty[(Int, Int)]
    tp.orders.foreach(o => e += idx(s"o:${o.key}") -> idx(s"c:${o.cust}"))
    tp.customers.foreach(c => e += idx(s"c:${c.key}") -> idx(s"n:${c.nation}"))
    tp.suppliers.foreach(s => e += idx(s"s:${s.key}") -> idx(s"n:${s.nation}"))
    tp.lines.map(l => (l.order, l.part)).distinct.foreach { case (o, p) => e += idx(s"o:$o") -> idx(s"p:$p") }
    tp.lines.map(l => (l.part, l.supp)).distinct.foreach { case (p, s) => e += idx(s"p:$p") -> idx(s"s:$s") }
    new Ref.Adj(ids, e.map(_._1).toArray, e.map(_._2).toArray)
  }

  /** Customer embeddings, keyed by node index. */
  val emb: Map[Int, Array[Double]] = tp.customers.map { c =>
    adj.index(s"c:${c.key}") -> Array.fill(EmbDim)(r.gaussian())
  }.toMap

  private def ranks(r: Array[Long]): Map[String, Double] =
    adj.ids.indices.map(i => adj.ids(i) -> r(i).toDouble).toMap
  private val pagerankRef = new Ref.Expected(ranks(adj.pagerank(PagerankIters)), RankK, asc = false)

  sealed trait Op extends Workload.Op { def ref: Ref.Expected }
  case object Pagerank extends Op { val cls = "pagerank"; def ref = pagerankRef }
  final case class Ppr(seed: Int) extends Op {
    val cls = "ppr"; val ref = new Ref.Expected(ranks(adj.ppr(seed, PprIters)), RankK, asc = false)
  }
  final case class Search(q: Array[Double]) extends Op {
    val cls = "graph_search"
    val ref = new Ref.Expected(adj.semanticSearch(emb, q, SearchK, 2, Vw, Gw), SearchK, asc = false)
  }
  final case class TraverseRerank(start: Int, q: Array[Double]) extends Op {
    val cls = "traverse_rerank"
    val ref = new Ref.Expected(adj.traverseRerank(start, 2, emb, q), SearchK, asc = false)
  }

  private val orderNodes = tp.orders.map(o => adj.index(s"o:${o.key}"))
  private def cycle(rr: Rng): Seq[Op] = Seq(Pagerank,
    Ppr(orderNodes(rr.nextInt(orderNodes.size))),
    Search(Array.fill(EmbDim)(rr.gaussian())),
    TraverseRerank(orderNodes(rr.nextInt(orderNodes.size)), Array.fill(EmbDim)(rr.gaussian())))

  val warmup: IndexedSeq[Op] = { val rr = r.fork(1); cycle(rr).toIndexedSeq }
  val ops: IndexedSeq[Op] = { val rr = r.fork(2); (1 to reps).flatMap(_ => cycle(rr)) }
  def opDigest: String = Workload.digest(ops.map {
    case Pagerank => "pagerank"
    case Ppr(s) => s"ppr ${adj.ids(s)}"
    case Search(q) => s"search ${q.mkString(",")}"
    case TraverseRerank(s, q) => s"tr ${adj.ids(s)} ${q.mkString(",")}"
  } ++ adj.ids ++ emb.toSeq.sortBy(_._1).map { case (k, v) => s"$k ${v.mkString(",")}" } ++
    tp.lines.map(l => s"${l.order} ${l.part} ${l.supp}"))

  private var tpchDir: String = _
  private var embPath: String = _
  private var g: Graph = _
  private var embDf: DataFrame = _
  private var rankOps = 0
  private var rankExact = 0

  override def writeInputs(spark: org.apache.spark.sql.SparkSession, dir: JPath): Unit = {
    tpchDir = dir.resolve("tpch").toString
    def write(name: String, schema: String, rows: Iterable[Row]): Unit = {
      val list = new java.util.ArrayList[Row](rows.size)
      rows.foreach(list.add)
      spark.createDataFrame(list, StructType.fromDDL(schema))
        .write.parquet(s"$tpchDir/$name.parquet")
    }
    write("customer", "c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE, c_mktsegment STRING, c_nationkey BIGINT",
      tp.customers.map(c => Row(c.key, c.name, c.acctbal, c.seg, c.nation)))
    write("supplier", "s_suppkey BIGINT, s_name STRING, s_acctbal DOUBLE, s_nationkey BIGINT",
      tp.suppliers.map(s => Row(s.key, s.name, s.acctbal, s.nation)))
    write("nation", "n_nationkey BIGINT, n_name STRING", tp.nations.map(n => Row(n._1, n._2)))
    write("part", "p_partkey BIGINT, p_name STRING, p_retailprice DOUBLE, p_brand STRING",
      tp.parts.map(p => Row(p.key, p.name, p.price, p.brand)))
    write("orders", "o_orderkey BIGINT, o_custkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE, o_orderstatus STRING",
      tp.orders.map(o => Row(o.key, o.cust, o.priority, o.total, o.status)))
    write("lineitem", "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT",
      tp.lines.map(l => Row(l.order, l.part, l.supp)))
    embPath = dir.resolve("customer_embeddings.parquet").toString
    val list = new java.util.ArrayList[Row]()
    emb.toSeq.sortBy(_._1).foreach { case (v, e) => list.add(Row(adj.ids(v), e.toSeq)) }
    spark.createDataFrame(list, StructType.fromDDL("id STRING, embedding ARRAY<DOUBLE>"))
      .write.parquet(embPath)
  }

  def setup(h: Harness, dataRoot: JPath, setupMs: (String, Double) => Unit): Unit = {
    val spark = h.spark
    setupMs("graph.build.setup_ms", Workload.ms {
      g = TpchGraph.build(spark, tpchDir)
      g.nodeCount; g.edgeCount; g.dictCount; g.edgesOd.count()
      embDf = spark.read.parquet(embPath).persist()
      embDf.count()
    })
  }

  /** (id, score) pairs; ranks are BIGINT micro-units, scores doubles. */
  private def ranked(rows: Array[Row], idCol: String, scoreCol: String): IndexedSeq[(String, Double)] =
    rows.toIndexedSeq.map(row => row.getAs[String](idCol) -> row.getAs[Number](scoreCol).doubleValue)

  /** Rank and search answers count toward quality; one that throws
    * counts as inexact. */
  def run(h: Harness, t: Tally, op: Workload.Op, measured: Boolean): Unit = {
    val counted = measured && op.cls != "traverse_rerank"
    if (counted) rankOps += 1
    t.record(op.cls, measured) {
      val (ms, errs) = answer(h, op.asInstanceOf[Op])
      if (counted && errs.isEmpty) rankExact += 1
      ms -> errs
    }
  }

  private def answer(h: Harness, op: Op): (Double, Seq[String]) = op match {
    case Pagerank =>
      val (ms, rows) = h.op(op.cls)(h.call("graph.pagerank")(
        GraphOps.pagerank(g, PagerankIters).orderBy(desc("r6"), col("id")).limit(RankK).collect()))
      ms -> Ref.checkTopK(ranked(rows, "id", "r6"), op.ref, complete = true)
    case Ppr(s) =>
      val (ms, rows) = h.op(op.cls)(h.call("graph.ppr")(
        GraphOps.personalizedPagerank(g, adj.ids(s), PprIters)
          .orderBy(desc("r6"), col("id")).limit(RankK).collect()))
      ms -> Ref.checkTopK(ranked(rows, "id", "r6"), op.ref, complete = true)
    case Search(q) =>
      val (ms, rows) = h.op(op.cls)(h.call("gv.semantic_graph_search")(
        GraphVector.semanticGraphSearch(g, embDf, q.toSeq, SearchK, 2, Vw, Gw).collect()))
      ms -> Ref.checkTopK(ranked(rows, "id", "score"), op.ref, complete = true)
    case TraverseRerank(s, q) =>
      val (ms, rows) = h.op(op.cls) {
        val paths = h.call("graph.traverse")(GraphOps.traverse(g, adj.ids(s), 2))
        h.call("gv.graph_rerank")(GraphVector.graphRerank(paths, embDf, q.toSeq, SearchK).collect())
      }
      ms -> Ref.checkTopK(ranked(rows, "end_id", "score"), op.ref, complete = true)
  }

  /** Share of measured rank and search answers equal to the reference. */
  def quality: Double = rankExact.toDouble / math.max(1, rankOps)
}
