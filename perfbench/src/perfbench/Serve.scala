package perfbench

import java.nio.file.{Path => JPath}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.core.{VectorCollection, VectorDb}
import graft.filter.Eq

/** Shape of the collection workload. Dimension and row count follow the
  * reference vector fixture: L2-normalized float vectors of 128 dimensions,
  * benchmarked there from 10K rows up. */
object Serve {
  val Dim = 128
  val K = 10
  val Alpha = 0.6

  val schema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("vector", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("category", StringType, nullable = false)))

  def frame(spark: SparkSession, docs: Seq[Doc]): DataFrame = {
    val rows = new java.util.ArrayList[Row](docs.size)
    docs.foreach(d => rows.add(Row(d.id, d.vector.toSeq, d.text, d.category)))
    spark.createDataFrame(rows, schema)
  }

  /** (id, score) pairs of a collected answer, in answer order. */
  def scored(rows: Array[Row]): IndexedSeq[(String, Double)] =
    rows.toIndexedSeq.map(r => r.getAs[String]("id") -> r.getAs[Double]("score"))

  def sqlVector(v: Array[Double]): String =
    v.map(x => java.lang.Double.toString(x) + "D").mkString("array(", ", ", ")")

  /** Exact top-k by rounded cosine distance of `docs` to q. */
  def nearest(docs: Iterable[Doc], q: Array[Double]): Ref.Expected = new Ref.Expected(
    docs.iterator.map(d => d.id -> Ref.round6(Ref.cosineDistance(d.vector, q))).toMap, K, asc = true)
}

/** Outcome counters shared by every workload. */
final class Tally {
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  var attempted = 0
  var failed = 0
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  /** Runs one op: the body times itself through the harness and returns
    * the check's mismatches. An exception is a failed op too; its sample
    * is the wall time until it was thrown, so every class that ran keeps
    * a latency and a broken call still reports a result. */
  def record(cls: String, measured: Boolean)(body: => (Double, Seq[String])): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    val (ms, errs) = try body catch {
      case scala.util.control.NonFatal(t) =>
        (System.nanoTime() - t0) / 1e6 -> Seq(s"threw ${t.getClass.getSimpleName}: ${t.getMessage}")
    }
    if (measured) samples.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += ms
    if (errs.nonEmpty) {
      failed += 1
      if (failures.size < 20) failures += s"$cls: ${errs.take(3).mkString("; ")}"
    }
  }
}

/** `serve_read`: one closed-loop client issuing a fixed, seeded, shuffled
  * multiset of read requests against a persisted cosine collection with
  * all three indexes built. Every request carries its reference answer,
  * computed when the inputs are generated, so no reference work runs
  * between requests. */
final class ServeRead(seed: Long, nDocs: Int, nOps: Int) extends Workload {
  import Serve._
  val name = "serve_read"
  val qualityName = "recall_at_10"
  private val gen = new DocGen(seed, Dim)
  val docs: IndexedSeq[Doc] = gen.docs(0, "d", nDocs)
  private val bm25 = new Ref.Bm25(docs)
  private val byCat: Map[String, IndexedSeq[Doc]] = docs.groupBy(_.category)

  sealed trait Op extends Workload.Op { def ref: Ref.Expected }
  final case class Ann(q: Array[Double]) extends Op {
    val cls = "ann"; val ref = nearest(docs, q)
  }
  final case class AnnFilter(q: Array[Double], cat: String) extends Op {
    val cls = "ann_filter"; val ref = nearest(byCat(cat), q)
  }
  final case class Exact(q: Array[Double], cat: String) extends Op {
    val cls = "exact"; val ref = nearest(byCat(cat), q)
  }
  final case class Text(terms: Seq[String]) extends Op {
    val cls = "text"; val ref = new Ref.Expected(bm25.scores(terms), K, asc = false)
  }
  final case class Hybrid(terms: Seq[String], q: Array[Double]) extends Op {
    val cls = "hybrid"
    val ref = new Ref.Expected(Ref.hybrid(docs, bm25, terms, q, K, Alpha), K, asc = false)
  }
  final case class Sql(q: Array[Double]) extends Op {
    val cls = "sql"; val ref = nearest(docs, q)
  }

  val mix: Seq[(String, Double)] = Seq("ann" -> 0.50, "ann_filter" -> 0.15, "exact" -> 0.10,
    "text" -> 0.10, "hybrid" -> 0.10, "sql" -> 0.05)

  private def draw(r: Rng, cls: String): Op = cls match {
    case "ann"        => Ann(gen.queryNear(r, docs))
    case "ann_filter" => AnnFilter(gen.queryNear(r, docs), gen.Categories(r.nextInt(4)))
    case "exact"      => Exact(gen.queryNear(r, docs), gen.Categories(r.nextInt(4)))
    case "text"       => Text(gen.queryTerms(r))
    case "hybrid"     => Hybrid(gen.queryTerms(r), gen.queryNear(r, docs))
    case "sql"        => Sql(gen.queryNear(r, docs))
  }

  val warmup: IndexedSeq[Op] = {
    val r = gen.rng(1)
    mix.map(m => draw(r, m._1)).toIndexedSeq
  }
  /** Every class runs at least once, whatever `nOps`. */
  val ops: IndexedSeq[Op] = {
    val r = gen.rng(2)
    val counts = mix.map { case (c, f) => c -> math.max(1, math.round(f * nOps).toInt) }
    Workload.shuffle(counts.flatMap { case (c, n) => Seq.fill(n)(c) }.toIndexedSeq, r)
      .map(c => draw(r, c))
  }
  def opDigest: String = Workload.digest(ops.map {
    case Ann(q) => s"ann ${q.mkString(",")}"
    case AnnFilter(q, c) => s"annf $c ${q.mkString(",")}"
    case Exact(q, c) => s"exact $c ${q.mkString(",")}"
    case Text(t) => s"text ${t.mkString(",")}"
    case Hybrid(t, q) => s"hybrid ${t.mkString(",")} ${q.mkString(",")}"
    case Sql(q) => s"sql ${q.mkString(",")}"
  } ++ docs.map(d => s"${d.id} ${d.vector.mkString(",")} ${d.text} ${d.category}"))

  private var coll: VectorCollection = _
  private var annPath: String = _
  private var rewriteFired = 0
  private var sqlRuns = 0
  private var annRuns = 0
  private var recallSum = 0.0

  def setup(h: Harness, dataRoot: JPath, setupMs: (String, Double) => Unit): Unit = {
    val spark = h.spark
    val root = dataRoot.resolve("coll").toString
    coll = new VectorDb(spark, root).createCollection("docs", Dim, "cosine")
    val df = frame(spark, docs)
    setupMs("core.insert_batch.setup_ms", Workload.ms(coll.insertBatch(df)))
    setupMs("index.ensure_ann.setup_ms", Workload.ms { annPath = coll.ensureAnnIndex() })
    setupMs("index.ensure_text.setup_ms", Workload.ms(coll.ensureTextIndex()))
    setupMs("index.ensure_hybrid.setup_ms", Workload.ms(coll.ensureHybridIndex()))
    graft.plans.IndexedTables.register(spark, s"$root/docs/data", "vector", "id", Dim, annPath)
    spark.read.parquet(s"$root/docs/data").createOrReplaceTempView("docs_v")
  }

  /** Recall of one measured ANN answer; a request that throws before it
    * answers has recall 0, because it still counts in [[annRuns]]. */
  private def scoreAnn(got: IndexedSeq[(String, Double)], ref: Ref.Expected, measured: Boolean): Unit =
    if (measured) recallSum += Ref.recall(got.map(_._1), ref)

  def run(h: Harness, t: Tally, op: Workload.Op, measured: Boolean): Unit = {
    if (measured && (op.cls == "ann" || op.cls == "ann_filter")) annRuns += 1
    t.record(op.cls, measured)(answer(h, op.asInstanceOf[Op], measured))
  }

  private def answer(h: Harness, op: Op, measured: Boolean): (Double, Seq[String]) = op match {
    case Ann(q) =>
      val (ms, rows) = h.op(op.cls)(h.call("core.search_ann")(coll.searchAnn(q.toSeq, K).collect()))
      val got = scored(rows)
      scoreAnn(got, op.ref, measured)
      ms -> Ref.checkTopK(got, op.ref, complete = false)
    case AnnFilter(q, c) =>
      val (ms, rows) = h.op(op.cls)(h.call("core.search_ann_filter")(
        coll.searchAnn(q.toSeq, K, Some(Eq("category", c))).collect()))
      val got = scored(rows)
      scoreAnn(got, op.ref, measured)
      ms -> Ref.checkTopK(got, op.ref, complete = false)
    case Exact(q, c) =>
      val (ms, rows) = h.op(op.cls)(h.call("core.search")(
        coll.search(q.toSeq, K, Some(Eq("category", c))).select("id", "score").collect()))
      ms -> Ref.checkTopK(scored(rows), op.ref, complete = true)
    case Text(terms) =>
      val (ms, rows) = h.op(op.cls)(h.call("core.search_text")(coll.searchText(terms, K).collect()))
      ms -> Ref.checkTopK(scored(rows), op.ref, complete = true)
    case Hybrid(terms, q) =>
      val (ms, rows) = h.op(op.cls)(h.call("core.search_hybrid")(
        coll.searchHybrid(terms, q.toSeq, K, Alpha).collect()))
      ms -> Ref.checkTopK(scored(rows), op.ref, complete = true)
    case Sql(q) =>
      val v = sqlVector(q)
      val (ms, (rows, fired)) = h.op(op.cls)(h.call("plans.sql_topk") {
        val df = h.spark.sql(s"SELECT id, round(vec_cosine_distance(vector, $v), 6) AS score " +
          s"FROM docs_v ORDER BY round(vec_cosine_distance(vector, $v), 6), id LIMIT $K")
        val rows = df.collect()
        (rows, Workload.readsIndex(df))
      })
      if (measured) { sqlRuns += 1; if (fired) rewriteFired += 1 }
      // fired: an ANN answer over the index; declined: the exact scan
      ms -> Ref.checkTopK(scored(rows), op.ref, complete = !fired)
  }

  def quality: Double = recallSum / math.max(1, annRuns)
  def rewriteFiredRatio: Double = rewriteFired.toDouble / math.max(1, sqlRuns)
  override def extras: Seq[(String, Double, String)] =
    Seq(("rewrite_fired_ratio", rewriteFiredRatio, "ratio"))
}
