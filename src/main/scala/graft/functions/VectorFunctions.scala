package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import graft.expr.{AdcLutScore, CosineDistance, CosineSimilarity, DotProduct, L2Distance,
  NearestCellExpr, PqEncodeExpr}

/** Column-level vector functions: codegen'd distance kernels plus the
  * deterministic hash→vector generator (graft's MockEmbedder analog —
  * reference `embeddings.py:343-371` seeds a RNG from sha256(text); we use
  * pure integer LCG arithmetic instead so a DuckDB oracle reproduces the
  * vectors bit-for-bit).
  */
object VectorFunctions {

  /** dot(a, b) as double, left-to-right accumulation. */
  def vecDot(a: Column, b: Column): Column =
    bridge.column(DotProduct(bridge.expression(a), bridge.expression(b)))

  /** cosine distance = 1 − dot/(‖a‖‖b‖); lower = better. */
  def cosineDistance(a: Column, b: Column): Column =
    bridge.column(CosineDistance(bridge.expression(a), bridge.expression(b)))

  /** cosine similarity dot/(‖a‖‖b‖), the same pass as [[cosineDistance]]:
    * a constant `b`'s norm is computed per row, not folded into a literal
    * of the generated code, so queries share one compiled class. */
  def cosineSimilarity(a: Column, b: Column): Column =
    bridge.column(CosineSimilarity(bridge.expression(a), bridge.expression(b)))

  /** euclidean distance ‖a−b‖. */
  def l2Distance(a: Column, b: Column): Column =
    bridge.column(L2Distance(bridge.expression(a), bridge.expression(b)))

  /** ip "distance" = −dot (lower = better, matches the reference). */
  def ipDistance(a: Column, b: Column): Column = -vecDot(a, b)

  /** Codegen'd IVF coarse assignment: argmin cell over a driver-built
    * centroid table (strict <, lowest index). `augM2` = Some(M²) gives
    * the MIPS augmented assignment. */
  def nearestCell(vec: Column, centroids: Seq[Seq[Double]],
      augM2: Option[Double] = None): Column =
    bridge.column(NearestCellExpr(bridge.expression(vec), centroids, augM2))

  /** Codegen'd PQ encode → array<tinyint> codes. */
  def pqEncode(vec: Column, books: Seq[Seq[Seq[Double]]]): Column =
    bridge.column(PqEncodeExpr(bridge.expression(vec), books))

  /** Codegen'd ADC score from stored codes and a LUT column/literal. */
  def adcScore(codes: Column, lut: Column): Column =
    bridge.column(AdcLutScore(bridge.expression(codes), bridge.expression(lut)))

  // LCG constants (glibc's rand): public domain arithmetic, chosen so both
  // engines evaluate the identical integer expression.
  val HashA = 1103515245L
  val HashB = 12345L
  val HashC = 6789L
  val HashM = 2147483647L

  /** Deterministic pseudo-random vector from an integer key: element i =
    * ((key·A + i·B + C) mod M)/M − 0.5 ∈ [−0.5, 0.5). Pure int64/double
    * arithmetic ⇒ exactly reproducible in DuckDB SQL (see [[hashVectorSql]]).
    * `key` must be non-negative (all testdata keys are).
    *
    * PERF: the key expression is inlined into every element's lambda, so
    * pass a cheap column reference — materialize an expensive key (e.g. a
    * text hash) with a withColumn first, or the key recomputes dim times
    * per row (measured 50× slowdown on embed_text_knn).
    */
  def hashVector(key: Column, dim: Int): Column =
    transform(
      sequence(lit(0), lit(dim - 1)),
      i => {
        // raw is affine in i; the square-mix makes elements nonlinear in
        // the index — without it every vector is the same mod-M ramp
        // shifted by the key, and all keys embed near-parallel (cosine
        // distance between ANY two texts ≈ 0; caught by ClientJourneySpec).
        val raw = (key.cast("long") * lit(HashA) + i.cast("long") * lit(HashB) +
          lit(HashC)) % lit(HashM)
        ((raw * raw + raw) % lit(HashM)).cast("double") / lit(HashM.toDouble) -
          lit(0.5)
      })

  /** Driver-side evaluation of [[hashVector]] for a constant key — use
    * `typedlit(hashVectorValues(k, d))` for single-query search so the
    * query vector is a literal and the scoring Project stays inside
    * whole-stage codegen (a higher-order `transform` is CodegenFallback).
    */
  def hashVectorValues(key: Long, dim: Int): Seq[Double] =
    (0 until dim).map { i =>
      val raw = (key * HashA + i * HashB + HashC) % HashM
      ((raw * raw + raw) % HashM).toDouble / HashM - 0.5
    }

  /** Constant query vector as a literal column (codegen-friendly). */
  def hashVectorLit(key: Long, dim: Int): Column =
    typedlit(hashVectorValues(key, dim))

  /** DuckDB SQL fragment computing [[hashVector]] for key expression
    * `key`. The key is BOUND ONCE per row through a single-element
    * `list_transform` lambda: DuckDB inlines plain SQL expressions at
    * every reference, and `raw` below uses the key 3× inside a
    * per-dimension lambda — an expensive key (embed_text_knn hashes the
    * whole document text) would otherwise be re-evaluated 3·dim times
    * per row (measured at the 10× corpus: 211 s → 9 s). `gvk` follows
    * the obscure-lambda-variable convention (see TextAnalysis.charHash). */
  def hashVectorSql(key: String, dim: Int): String = {
    val raw = s"((gvk * $HashA + i * $HashB + $HashC) % $HashM)"
    s"list_transform([($key)::BIGINT], gvk -> " +
      s"list_transform(range($dim), i -> " +
      s"((($raw * $raw + $raw) % $HashM))::DOUBLE / $HashM.0 - 0.5))[1]"
  }

  /** DuckDB fragments for the distance kernels over 1-indexed lists `a`,`b`
    * of dimension `dim` — same left-to-right double accumulation as the
    * Catalyst expressions above.
    */
  def dotSql(a: String, b: String, dim: Int): String =
    s"list_reduce(list_transform(range($dim), i -> " +
      s"($a)[i+1]::DOUBLE * ($b)[i+1]::DOUBLE), (x, y) -> x + y)"

  /** DuckDB's native inner product over DOUBLE[] operands — bit-identical
    * to [[dotSql]] (both accumulate left-to-right in float64; measured
    * maxdiff == 0.0 over all 100k sampled pairs of the 100× corpus's
    * 50k vectors, r17) but ~10–25× faster per pair in DuckDB 1.0: the
    * per-element `list_transform` lambda plus `list_reduce` is
    * interpreted per pair, the builtin is a vectorized loop. Use in
    * pair-sweep oracles where the kernel dominates (dedup_semantic:
    * 449 s → 17 s at the 100× corpus). Operands must already be
    * DOUBLE[] — hoist the cast into the pair CTE, not the lambda. */
  def dotNativeSql(a: String, b: String): String =
    s"list_inner_product($a, $b)"

  def normSql(a: String, dim: Int): String =
    s"sqrt(${dotSql(a, a, dim)})"

  def cosineDistanceSql(a: String, b: String, dim: Int): String =
    s"(1.0 - ${dotSql(a, b, dim)} / (${normSql(a, dim)} * ${normSql(b, dim)}))"

  /** squared L2 distance Σ(a−b)², same left-to-right accumulation as the
    * typed IVF/PQ kernels (loop from 0.0; list_reduce seeds with the first
    * element, and 0.0 + x == x exactly for the non-negative squares).
    * The per-dimension difference is bound once through an inner
    * `list_transform` and squared as `gvd * gvd` — bit-identical to
    * squaring the twice-written difference (same two operands, same
    * IEEE multiply), but DuckDB evaluates the element extraction half
    * as often (dedup_semantic's cells×vectors sweep at the 10× corpus:
    * 186 s → the next profile tier). */
  def sqL2Sql(a: String, b: String, dim: Int): String =
    s"list_reduce(list_transform(list_transform(range($dim), i -> " +
      s"(($a)[i+1]::DOUBLE - ($b)[i+1]::DOUBLE)), gvd -> gvd * gvd), " +
      s"(x, y) -> x + y)"

  def l2DistanceSql(a: String, b: String, dim: Int): String =
    s"sqrt(list_reduce(list_transform(range($dim), i -> " +
      s"(($a)[i+1]::DOUBLE - ($b)[i+1]::DOUBLE) * " +
      s"(($a)[i+1]::DOUBLE - ($b)[i+1]::DOUBLE)), (x, y) -> x + y))"

  def ipDistanceSql(a: String, b: String, dim: Int): String =
    s"(- ${dotSql(a, b, dim)})"

  /** Register the kernels for SQL use (`spark.sql("vec_dot(a,b)")`). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    reg.createOrReplaceTempFunction("vec_dot", es => DotProduct(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("vec_cosine_distance", es => CosineDistance(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("vec_l2_distance", es => L2Distance(es(0), es(1)), "scala_udf")
  }
}
