package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Whole-stage-codegen'd distance kernels over `ArrayType(Float|Double)`.
  *
  * These are graft's hot-path replacement for the reference's BLAS kernels
  * (jcolano/fastpyvectordb `vectordb_optimized.py:668-683`,
  * `parallel_search.py:105-134`):
  *   - cosine distance  = 1 − dot(a,b) / (‖a‖·‖b‖)   (lower = better)
  *   - l2 distance      = ‖a − b‖                      (euclidean)
  *   - ip distance      = −dot(a,b)
  *
  * Accumulation is strictly left-to-right in double precision so the DuckDB
  * oracle (`list_reduce` fold) reproduces results bit-for-bit.
  * Array elements are assumed non-null (vectors are dense); mismatched
  * dimensions throw (the reference validates dims at insert and query,
  * vectordb_optimized.py:346-351, 518-522 — silently truncating to the
  * shorter prefix would return plausible but wrong scores).
  */
abstract class VectorDistanceExpr extends BinaryExpression {

  override def dataType: DataType = DoubleType

  protected def elementType(e: Expression): DataType = e.dataType match {
    case ArrayType(et, _) => et
    case other =>
      throw new IllegalArgumentException(s"expected array type, got $other")
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _                                    => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float|double> inputs, " +
          s"got ${left.dataType} and ${right.dataType}")
  }

  protected final def checkDims(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    if (n != b.numElements())
      throw new IllegalArgumentException(
        s"$prettyName: dimension mismatch ${a.numElements()} vs ${b.numElements()}")
    n
  }

  protected final def dimCheckJava(a: String, b: String): String =
    s"""if ($a.numElements() != $b.numElements()) {
       |  throw new IllegalArgumentException(
       |    "$prettyName: dimension mismatch " + $a.numElements() + " vs " + $b.numElements());
       |}""".stripMargin

  @inline protected final def get(a: ArrayData, et: DataType, i: Int): Double =
    et match {
      case FloatType => a.getFloat(i).toDouble
      case _         => a.getDouble(i)
    }

  protected def getterJava(et: DataType, arr: String, i: String): String =
    et match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case _         => s"$arr.getDouble($i)"
    }
}

/** dot(a, b) — the building block; `ip` distance is its negation. */
case class DotProduct(left: Expression, right: Expression)
    extends VectorDistanceExpr {
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    val lt = elementType(left); val rt = elementType(right)
    val n = checkDims(a, b)
    var dot = 0.0
    var i = 0
    while (i < n) { dot += get(a, lt, i) * get(b, rt, i); i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |${dimCheckJava(a, b)}
         |int $n = $a.numElements();
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += (${getterJava(elementType(left), a, i)}) *
         |          (${getterJava(elementType(right), b, i)});
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** One pass over both vectors for dot(a, b), ‖a‖² and ‖b‖²; `finish`
  * maps the cosine dot/(‖a‖·‖b‖) to the result. */
abstract class CosineKernel extends VectorDistanceExpr {
  protected def finish(cos: Double): Double
  /** [[finish]] as Java source over the cosine's expression. */
  protected def finishJava(cos: String): String

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    val lt = elementType(left); val rt = elementType(right)
    val n = checkDims(a, b)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = get(a, lt, i); val y = get(b, rt, i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    finish(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |${dimCheckJava(a, b)}
         |int $n = $a.numElements();
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = ${getterJava(elementType(left), a, i)};
         |  double $y = ${getterJava(elementType(right), b, i)};
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = ${finishJava(
           s"($dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb)))")};
       """.stripMargin
    })
}

/** 1 − dot/(‖a‖·‖b‖) — reference `vectordb_optimized.py:669-676`. */
case class CosineDistance(left: Expression, right: Expression) extends CosineKernel {
  override def prettyName: String = "vec_cosine_distance"
  protected def finish(cos: Double): Double = 1.0 - cos
  protected def finishJava(cos: String): String = s"1.0 - $cos"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** dot/(‖a‖·‖b‖), the same value as vec_dot(a, b) / (sqrt(vec_dot(a, a))
  * · sqrt(vec_dot(b, b))). */
case class CosineSimilarity(left: Expression, right: Expression) extends CosineKernel {
  override def prettyName: String = "vec_cosine_similarity"
  protected def finish(cos: Double): Double = cos
  protected def finishJava(cos: String): String = cos

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** ‖a − b‖ (euclidean) — reference `vectordb_optimized.py:677-680`. */
case class L2Distance(left: Expression, right: Expression)
    extends VectorDistanceExpr {
  override def prettyName: String = "vec_l2_distance"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    val lt = elementType(left); val rt = elementType(right)
    val n = checkDims(a, b)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = get(a, lt, i) - get(b, rt, i)
      acc += d * d
      i += 1
    }
    math.sqrt(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val acc = ctx.freshName("acc"); val d = ctx.freshName("d")
      s"""
         |${dimCheckJava(a, b)}
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = (${getterJava(elementType(left), a, i)}) -
         |              (${getterJava(elementType(right), b, i)});
         |  $acc += $d * $d;
         |}
         |${ev.value} = java.lang.Math.sqrt($acc);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
