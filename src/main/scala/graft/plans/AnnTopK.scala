package graft.plans

import java.util.concurrent.ConcurrentHashMap
import scala.util.control.NonFatal
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{broadcast, col, first, typedlit}
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType}
import graft.expr.CosineDistance
import graft.index.IndexStore
import graft.knn.Ann

/** Registry of parquet tables that carry a persistent ANN index — the
  * opt-in surface for [[AnnTopKRewrite]]. Registering a table declares
  * "top-k-by-distance over this table may be served from its index"
  * (ANN semantics), exactly what the reference's collection does
  * implicitly for every search once an index exists
  * (jcolano/fastpyvectordb `vectordb_optimized.py:507-575`). The index
  * family follows the metric: cosine sorts probe an LSH bucket table,
  * l2 sorts probe an IVF cell layout.
  *
  * The index must have been built over ALL of the table's columns
  * (`LshIndex.build` with every non-vector column in `metaCols`) — the
  * rewrite substitutes bucket rows for table rows, so any column a query
  * references must exist in the bucket table; the rule verifies this and
  * declines the rewrite otherwise.
  */
object IndexedTables {
  /** kind "lsh" serves cosine sorts from the bucket table; kind "ivf"
    * serves l2 sorts from the cell layout. IVF registrations CARRY the
    * coarse centroids (tiny: cells·dim doubles) so probe-cell selection
    * at optimization time is pure driver arithmetic — an optimizer rule
    * must never run a Spark job. */
  final case class Reg(vecCol: String, idCol: String, dim: Int,
      indexPath: String, sources: Seq[String], kind: String = "lsh",
      centroids: Seq[Seq[Double]] = Nil, nprobe: Int = 4,
      pq: Option[graft.quant.ProductQuant.Codebooks] = None,
      rerank: Int = 50)

  // Keyed by (session UUID, qualified data path, index KIND): session-
  // scoped opt-in — another session in the same JVM (with or without
  // GraftExtensions) never inherits ANN semantics it didn't ask for —
  // and kind-scoped so one table can carry lsh+ivf+ivfpq+mips
  // registrations SIMULTANEOUSLY with the rewrite picking the one that
  // serves the query's distance metric. (Previously last-registration-
  // won per path: an l2 query planned after an ivfpq registration could
  // be served from the rerank-bounded ADC pool instead of the exact IVF
  // probe its oracle pinned, depending on run order.)
  private val regs = new ConcurrentHashMap[String, Reg]()

  private def qualify(spark: SparkSession, p: String): String =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(new Path(p)).toString

  private def uuid(spark: SparkSession): String =
    org.apache.spark.sql.graft.bridge.sessionUuid(spark)

  def register(spark: SparkSession, dataPath: String, vecCol: String,
      idCol: String, dim: Int, indexPath: String): Unit =
    regs.put(s"${uuid(spark)}|${qualify(spark, dataPath)}|lsh",
      Reg(vecCol, idCol, dim, indexPath, Seq(dataPath)))

  /** Declare "l2 top-k over this table may be served from its IVF cell
    * index". The model is passed in (the caller built or loaded it) so
    * optimization stays job-free. */
  def registerIvf(spark: SparkSession, dataPath: String, vecCol: String,
      idCol: String, dim: Int, indexPath: String,
      model: graft.knn.Ann.IvfModel, nprobe: Int = 4): Unit =
    regs.put(s"${uuid(spark)}|${qualify(spark, dataPath)}|ivf",
      Reg(vecCol, idCol, dim, indexPath, Seq(dataPath), kind = "ivf",
        centroids = model.centroids, nprobe = nprobe))

  /** Declare "l2 top-k over this table may be served from its IVF-PQ
    * index" (graft.index.IvfPqIndex — the billion-scale IVFADC layout):
    * the probe prunes cell partitions, a codegen'd ADC pass over the
    * stored codes bounds the candidate pool to `rerank` rows, and the
    * query's own sort/limit rerank that pool exactly. Models ride the
    * registration so optimization stays job-free. */
  def registerIvfPq(spark: SparkSession, dataPath: String, vecCol: String,
      idCol: String, dim: Int, indexPath: String,
      model: graft.knn.Ann.IvfModel,
      cb: graft.quant.ProductQuant.Codebooks, nprobe: Int = 4,
      rerank: Int = 50): Unit =
    regs.put(s"${uuid(spark)}|${qualify(spark, dataPath)}|ivfpq",
      Reg(vecCol, idCol, dim, indexPath, Seq(dataPath), kind = "ivfpq",
        centroids = model.centroids, nprobe = nprobe, pq = Some(cb),
        rerank = rerank))

  /** Declare "ip top-k over this table may be served from its MIPS
    * augmented-cell index" (graft.index.MipsIndex layout). Probe-cell
    * selection needs only the FIXED (dim+1)-dim codebook — the augmented
    * query's extra component is 0 — so no stored state is read at
    * optimization time. */
  def registerMips(spark: SparkSession, dataPath: String, vecCol: String,
      idCol: String, dim: Int, indexPath: String, cells: Int,
      nprobe: Int = 4): Unit =
    regs.put(s"${uuid(spark)}|${qualify(spark, dataPath)}|mips",
      Reg(vecCol, idCol, dim, indexPath, Seq(dataPath), kind = "mips",
        centroids = graft.knn.Ann.fixedIvfModel(cells, dim + 1).centroids,
        nprobe = nprobe))

  /** The registration for this session and scan, IF its index is still
    * live: the index must be READY and its fingerprint suffix must match
    * the CURRENT fingerprint of the registered sources — a table whose
    * parquet was rewritten after registration declines (the pinned index
    * serves candidates for the PREVIOUS generation; IndexStore would
    * rebuild at a new path, but the registry can't know the rebuild
    * happened). Freshness checks are driver-side filesystem metadata —
    * no Spark job.
    *
    * There is deliberately NO withdraw/restore surface: a caller that
    * wants a non-default serving path for one query scopes it with a
    * child session (`spark.newSession()` — registrations are keyed by
    * session UUID), never by mutating a shared session's registry
    * (order-dependence between concurrently-planned queries; the former
    * unregister/reinstate API is gone). */
  def lookup(spark: SparkSession, rootPaths: Seq[Path], kind: String)
      : Option[Reg] =
    rootPaths match {
      case Seq(p) =>
        def live(k: String): Option[Reg] =
          Option(regs.get(s"${uuid(spark)}|$p|$k")).filter { reg =>
            graft.index.IndexStore.ready(spark, reg.indexPath) &&
              reg.indexPath.endsWith(
                "_" + graft.index.IndexStore.fingerprint(spark, reg.sources))
          }
        // an l2 sort prefers the exact IVF probe; the rerank-bounded
        // IVF-PQ pool serves it only when that's the sole registration
        live(kind).orElse(if (kind == "ivf") live("ivfpq") else None)
      case _ => None
    }

  def clear(): Unit = regs.clear()

  /** Test-only observability: current registration count (SqlAnnOrderSpec
    * pins that repeated child-session queries don't grow the registry). */
  private[graft] def size: Int = regs.size
}

/** Index-aware top-k-by-distance: rewrites
  *
  *   SELECT … FROM t ORDER BY vec_cosine_distance(vec, <literal q>)[, tiebreaks]
  *   LIMIT k
  *
  * over a table registered in [[IndexedTables]] into a probe of its
  * persistent LSH bucket table: the scan is replaced by the 4-of-64
  * bucket-partition candidate subset (deduped on the id), while the
  * query's own sort, limit, filters and projections stay untouched on
  * top — so the SQL surface gets the same probe+rerank plan as the
  * programmatic `LshIndex.search`, including exact filtered top-k when a
  * WHERE clause sits between (the filter applies to candidates BEFORE
  * the rerank).
  *
  * Matches only an ASCENDING first sort key that is a cosine distance
  * (optionally wrapped in round()/cast) between the registered vector
  * column and a foldable query vector. Declines (returns the plan
  * unchanged) on any mismatch, missing bucket column, or error — the
  * rewrite is an optimization, never a correctness requirement. A table
  * the user has .cache()d is NOT rewritten (its scan is an
  * InMemoryRelation, no longer a file scan): an explicit cache is a
  * declared intent to serve from memory. Install
  * via `spark.sql.extensions=graft.GraftExtensions` or
  * [[AnnTopK.install]] on a live session.
  */
final case class AnnTopKRewrite(spark: SparkSession)
    extends Rule[LogicalPlan] {

  /** Strip round()/cast wrappers from a sort key; queries sort on the
    * 6-decimal-rounded distance for oracle determinism. Yields the
    * distance operands plus the index kind that serves the metric:
    * cosine ⇒ LSH buckets, l2 ⇒ IVF cells. */
  private object DistanceKey {
    def unapply(e: Expression): Option[(Expression, Expression, String)] =
      e match {
        case c: CosineDistance => Some((c.left, c.right, "lsh"))
        case l: graft.expr.L2Distance => Some((l.left, l.right, "ivf"))
        // ip distance is −dot: ascending −dot = descending dot = MIPS
        case UnaryMinus(d: graft.expr.DotProduct, _) =>
          Some((d.left, d.right, "mips"))
        case r: Round          => unapply(r.child)
        case c: Cast           => unapply(c.child)
        case _                 => None
      }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case gl @ GlobalLimit(_, LocalLimit(_, inner)) =>
      // the optimizer may slide the final projection between the limit
      // and the sort (the same shape TakeOrderedAndProject planning
      // recognizes)
      val sort = inner match {
        case s: Sort             => Some(s)
        case Project(_, s: Sort) => Some(s)
        case _                   => None
      }
      sort.filter(s => s.global && s.order.nonEmpty).flatMap { s =>
        val k = gl.limitExpr match {
          case Literal(v: Int, IntegerType) => v
          case _                            => Int.MaxValue
        }
        s.order.head match {
          case SortOrder(DistanceKey(l, r, kind), Ascending, _, _) =>
            try rewrite(gl, l, r, kind, s.child, k)
            catch {
              case NonFatal(e) =>
                logWarning(s"ANN top-k rewrite declined: $e"); None
            }
          case _ => None
        }
      }.getOrElse(gl)
  }

  private def queryVec(e: Expression): Seq[Double] = {
    val et = e.dataType.asInstanceOf[ArrayType].elementType
    val ad = e.eval().asInstanceOf[ArrayData]
    if (et == FloatType) ad.toFloatArray().toSeq.map(_.toDouble)
    else ad.toDoubleArray().toSeq
  }

  private def rewrite(gl: LogicalPlan, distL: Expression, distR: Expression,
      kind: String, child: LogicalPlan, k: Int): Option[LogicalPlan] = {
    val sides = (distL, distR) match {
      case (a: AttributeReference, q) if q.foldable => Some((a, q))
      case (q, a: AttributeReference) if q.foldable => Some((a, q))
      case _                                        => None
    }
    sides.flatMap { case (vecAttr, qExpr) =>
      // the registered file scan that owns the sort's vector column —
      // looked up BY THE SORT'S DISTANCE KIND, so a table carrying
      // several index registrations serves each metric from its own
      // layout (lookup prefers exact IVF over IVF-PQ for l2)
      val scans = child.collect {
        case l @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
            if l.output.exists(_.exprId == vecAttr.exprId) =>
          (l, IndexedTables.lookup(spark, fs.location.rootPaths, kind))
      }
      scans match {
        case Seq((scan, Some(reg))) if reg.vecCol == vecAttr.name =>
          // a WHERE between the sort and the scan (the optimizer leaves
          // it directly over the relation) is pushed INTO the candidate
          // scan: filtered-ANN semantics demand the predicate apply
          // BEFORE candidate bounding (LSH dedup / ADC pool), and a
          // predicate at the parquet bucket scan prunes like any other
          // PushedFilters. The original Filter node stays where it is —
          // re-filtering the candidates is free and keeps the rewrite an
          // optimization, never a correctness dependency.
          val pushed = child.collect {
            case Filter(cond, l) if (l eq scan) && cond.deterministic =>
              cond
          }.headOption
          splice(gl, scan, reg, queryVec(qExpr), k, pushed)
        case _ => None
      }
    }
  }

  private def splice(gl: LogicalPlan, scan: LogicalRelation,
      reg: IndexedTables.Reg, qv: Seq[Double], k: Int,
      pushed: Option[Expression]): Option[LogicalPlan] = {
    // the IVF-PQ pool is capped at the registration's rerank size: a
    // LIMIT beyond it would be silently truncated by the splice, so
    // decline and let the exact scan serve that query
    if (reg.kind == "ivfpq" && reg.rerank < k) return None
    val names = scan.output.map(_.name)
    // Everything below is driver-side plan construction — an optimizer
    // rule must not run Spark jobs: band values come from Ann.bandValues
    // (bit-identical with the build's codegen arithmetic, pinned by
    // AnnSpec) instead of a 1-row collect, the index table is opened once
    // per session (IndexStore.table: no listing or schema job), and the
    // analyzed candidate plan is cached per (session, indexPath, query,
    // columns) so re-planning the same query is free. The indexPath
    // embeds the source fingerprint, so a regenerated table can never hit
    // a stale cache entry.
    // the pushed predicate re-targets the candidate table BY NAME (the
    // bucket/cell table carries the data columns under their original
    // names); resolution happens when the candidate DataFrame analyzes
    val pushedByName = pushed.map(_.transform {
      case a: AttributeReference =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
          Seq(a.name))
    })
    val candPlan = AnnTopK.candidatePlan(spark, reg, qv,
      scan.output.map(a => a.name -> a.dataType), pushedByName)
    // splice only if the bucket table carries every table column, then
    // restore the original output exprIds so the untouched sort/limit/
    // projections above still resolve
    if (!names.forall(n => candPlan.output.exists(_.name == n))) None
    else {
      val aliases: Seq[NamedExpression] = scan.output.map { old =>
        Alias(candPlan.output.find(_.name == old.name).get,
          old.name)(exprId = old.exprId)
      }
      val spliced = Project(aliases, candPlan)
      Some(gl.transformDown {
        case l: LogicalRelation if l eq scan => spliced
      })
    }
  }
}

/** Live-session installer (Verify/Bench and tests run on a session built
  * without extensions; `experimental.extraOptimizations` is the
  * supported way to add an optimizer rule after the fact). */
object AnnTopK {
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations
        .exists(_.isInstanceOf[AnnTopKRewrite]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ AnnTopKRewrite(spark)

  private val candCache =
    new ConcurrentHashMap[(String, Seq[Seq[Double]],
      Option[Seq[Seq[Seq[Double]]]], Seq[Double], String, String),
      LogicalPlan]()

  /** Analyzed bucket-probe candidate plan for (index, query, columns) —
    * built once, then served from cache on every re-optimization of the
    * same query shape. Reusing ONE analyzed plan means reusing its
    * exprIds; that is safe here because each splice re-aliases every
    * output to the target scan's own exprIds, and a single query never
    * matches two scans (the rewrite requires exactly one registered
    * scan). Each output is CAST to the scan's exact column type: the
    * index may store a widened copy (IVF cells keep array<double> of a
    * float source) and the splice re-tags attributes with the scan's
    * exprIds — a type that differs underneath would be silently misread
    * by codegen downstream. (float→double→float is value-exact.) */
  private[plans] def candidatePlan(spark: SparkSession,
      reg: IndexedTables.Reg, qv: Seq[Double],
      fields: Seq[(String, org.apache.spark.sql.types.DataType)],
      pushed: Option[Expression] = None)
      : LogicalPlan =
    // the key carries the session (the plan holds that session's opened
    // index table) and EVERY registration field the plan depends on:
    // nprobe and the centroid VALUES shape the ivf/mips probe, so a
    // re-registration with a different recall knob or model must never
    // hit a prior registration's cached plan (values, not hashCode — a
    // hash collision would silently serve the wrong probe plan); the
    // pushed predicate is part of the plan, so its sql keys too
    candCache.computeIfAbsent(
      (s"${org.apache.spark.sql.graft.bridge.sessionUuid(spark)}|" +
        s"${reg.indexPath}|${reg.kind}|${reg.nprobe}|${reg.rerank}",
        reg.centroids, reg.pq.map(_.cb),
        qv, fields.map(f => f._1 + ":" + f._2.sql).mkString(","),
        pushed.map(_.sql).getOrElse("")),
      _ => {
        if (candCache.size > 64) candCache.clear()
        val typed = fields.map { case (n, dt) => col(n).cast(dt).as(n) }
        // filtered-ANN: the predicate lands on the base candidate scan,
        // BEFORE any pool bounding / dedup — exact top-k among matching
        // rows, and the parquet reader gets it as a pushed filter
        def preFiltered(df: org.apache.spark.sql.DataFrame) =
          pushed.map(p => df.filter(
            org.apache.spark.sql.graft.bridge.column(p))).getOrElse(df)
        if (reg.kind == "ivfpq") {
          // IVFADC serving: partition-pruned probe, codegen'd ADC over
          // the stored codes bounds the pool to `rerank` rows, the
          // query's untouched sort/limit reranks that pool exactly —
          // the SQL face of IvfPqIndex.search
          val probe = Ann.probeCells(Ann.IvfModel(reg.centroids), qv,
            reg.nprobe)
          val lutLit = typedlit(graft.quant.ProductQuant
            .adcLut(reg.pq.get, qv).map(_.toSeq).toSeq)
          val cells = preFiltered(
            IndexStore.table(spark, s"${reg.indexPath}/cells")
              .filter(col("cell").isin(probe: _*)))
          val pool = cells
            .select(col(reg.idCol),
              graft.functions.VectorFunctions
                .adcScore(col("codes"), lutLit).as("__adc"))
            .orderBy(col("__adc"), col(reg.idCol))
            .limit(reg.rerank)
          // no broadcast() hint: the rule splices into a plan the
          // optimizer has ALREADY run EliminateResolvedHint on, so a
          // ResolvedHint here is an internal error downstream; AQE
          // broadcasts the `rerank`-row pool side at runtime regardless
          cells
            .join(pool.select(reg.idCol), Seq(reg.idCol))
            .select(typed: _*)
            .queryExecution.analyzed
        } else if (reg.kind == "ivf" || reg.kind == "mips") {
          // each id lives in exactly ONE cell — a partition probe needs
          // no dedup; the untouched sort/limit above reranks exactly.
          // MIPS probes with the augmented query [q, 0] against the
          // (dim+1)-dim codebook the registration carries.
          val probeQ = if (reg.kind == "mips") qv :+ 0.0 else qv
          val probe = Ann.probeCells(
            Ann.IvfModel(reg.centroids), probeQ, reg.nprobe)
          preFiltered(IndexStore.table(spark, s"${reg.indexPath}/cells")
              .filter(col("cell").isin(probe: _*)))
            .select(typed: _*)
            .queryExecution.analyzed
        } else {
          val qb = Ann.bandValues(qv, reg.dim)
          val probe = (0 until Ann.Bands)
            .map(b => col("band_idx") === b && col("band_val") === qb(b))
            .reduce(_ || _)
          // dedup collisions (an id matches in up to Bands buckets) as an
          // explicit Aggregate: rows of one id are identical after the
          // band columns are dropped, so first() is value-deterministic.
          // Deduplicate would arrive after
          // ReplaceDeduplicateWithAggregate already ran.
          val others = fields.map(_._1).filterNot(_ == reg.idCol)
          preFiltered(IndexStore.table(spark, s"${reg.indexPath}/buckets")
              .filter(probe))
            .groupBy(col(reg.idCol))
            .agg(first(col(others.head)).as(others.head),
              others.tail.map(c => first(col(c)).as(c)): _*)
            .select(typed: _*)
            .queryExecution.analyzed
        }
      })
}
