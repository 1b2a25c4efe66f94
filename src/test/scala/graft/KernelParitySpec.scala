package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.expr._
import graft.functions.VectorFunctions

/** Seeded-randomized parity gates for the codegen kernels: each must
  * produce IDENTICAL results on the interpreted `eval` path (what Spark
  * silently falls back to on codegen failure, and what constant folding
  * uses) and on the whole-stage-codegen DataFrame path, and both must
  * equal a plain-Scala reference with the same accumulation order. The
  * oracled catalog entries exercise only the codegen path over corpus
  * data; an eval/codegen divergence would surface as wrong answers only
  * under fallback — precisely when nobody is looking.
  */
class KernelParitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(20260814L)

  private def evalOf(e: Expression): Any = e.eval(InternalRow.empty)
  private def dLit(a: Seq[Double], nullable: Boolean = false): Literal =
    Literal.create(a, ArrayType(DoubleType, nullable))
  private def fLit(a: Seq[Float]): Literal =
    Literal.create(a, ArrayType(FloatType, containsNull = false))
  private def lLit(a: Seq[Long], nullable: Boolean = false): Literal =
    Literal.create(a, ArrayType(LongType, nullable))

  // mixed-magnitude values (1e-3 .. 1e3, both signs) — wide enough to
  // shake out accumulation-order or widening bugs, no overflow drama
  private def randVec(n: Int): Seq[Double] =
    Seq.fill(n)((rnd.nextDouble() - 0.5) * math.pow(10.0, rnd.nextInt(7) - 3))

  private def refDot(a: Seq[Double], b: Seq[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); i += 1 }; d
  }
  private def refCos(a: Seq[Double], b: Seq[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i); val y = b(i); dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
  }
  private def refL2(a: Seq[Double], b: Seq[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
    math.sqrt(acc)
  }

  test("distance kernels: eval ≡ codegen ≡ reference on random double vectors") {
    val pairs = (0 until 24).map { k =>
      val n = 1 + rnd.nextInt(48); (k, randVec(n), randVec(n))
    }
    // one DF, one collect. The repartition barrier matters: a Project
    // directly over a LocalRelation is constant-folded at PLAN time via
    // the INTERPRETED eval path (ConvertToLocalRelation), which would
    // silently turn this into a second eval test instead of codegen.
    val df = pairs.toDF("k", "a", "b").repartition(1).select(
      $"k", VectorFunctions.vecDot($"a", $"b").as("dot"),
      VectorFunctions.cosineDistance($"a", $"b").as("cos"),
      VectorFunctions.l2Distance($"a", $"b").as("l2"),
      VectorFunctions.cosineSimilarity($"a", $"b").as("sim"))
    val byK = df.collect().map(r => r.getInt(0) -> r).toMap
    // after execution AQE's final plan shows the codegen spans (before
    // it, AdaptiveSparkPlan prints the unfinalized plan with no `*(n)`)
    assert(df.queryExecution.executedPlan.toString.contains("*(1)"),
      "kernels must run inside whole-stage codegen")
    pairs.foreach { case (k, a, b) =>
      val row = byK(k)
      val (d, c, l) = (refDot(a, b), refCos(a, b), refL2(a, b))
      // similarity is the value of dot / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
      val sim = d / (math.sqrt(refDot(a, a)) * math.sqrt(refDot(b, b)))
      assert(row.getDouble(1) == d && row.getDouble(2) == c &&
        row.getDouble(3) == l && row.getDouble(4) == sim, s"codegen mismatch at $k")
      assert(evalOf(CosineSimilarity(dLit(a), dLit(b))) == sim, s"eval sim at $k")
      assert(evalOf(DotProduct(dLit(a), dLit(b))) == d, s"eval dot at $k")
      assert(evalOf(CosineDistance(dLit(a), dLit(b))) == c, s"eval cos at $k")
      assert(evalOf(L2Distance(dLit(a), dLit(b))) == l, s"eval l2 at $k")
    }
  }

  test("distance kernels: float inputs widen per-element, both paths agree") {
    val pairs = (0 until 12).map { k =>
      val n = 1 + rnd.nextInt(32)
      (k, Seq.fill(n)((rnd.nextFloat() - 0.5f) * 100f),
        Seq.fill(n)((rnd.nextFloat() - 0.5f) * 100f))
    }
    val byK = pairs.toDF("k", "a", "b").repartition(1).select(
      $"k", VectorFunctions.vecDot($"a", $"b").as("dot"),
      VectorFunctions.l2Distance($"a", $"b").as("l2"))
      .collect().map(r => r.getInt(0) -> r).toMap
    pairs.foreach { case (k, af, bf) =>
      // the kernel reads each float and widens — the reference must too
      val a = af.map(_.toDouble); val b = bf.map(_.toDouble)
      assert(byK(k).getDouble(1) == refDot(a, b), s"float dot at $k")
      assert(byK(k).getDouble(2) == refL2(a, b), s"float l2 at $k")
      assert(evalOf(DotProduct(fLit(af), fLit(bf))) == refDot(a, b))
      assert(evalOf(L2Distance(fLit(af), fLit(bf))) == refL2(a, b))
    }
  }

  test("cosine of a zero vector is NaN on both paths (no silent zero)") {
    val z = Seq(0.0, 0.0, 0.0); val v = Seq(1.0, 2.0, 3.0)
    assert(evalOf(CosineDistance(dLit(z), dLit(v)))
      .asInstanceOf[Double].isNaN)
    val got = Seq((z, v)).toDF("a", "b").repartition(1)
      .select(VectorFunctions.cosineDistance($"a", $"b")).head.getDouble(0)
    assert(got.isNaN)
  }

  test("sorted-intersect: eval ≡ codegen ≡ set intersection (sorted distinct inputs)") {
    def sortedDistinct(n: Int): Seq[Long] =
      Seq.fill(n)(rnd.nextLong() % 1000L).distinct.sorted
    val cases = (0 until 30).map { k =>
      (k, sortedDistinct(rnd.nextInt(40)), sortedDistinct(rnd.nextInt(40)))
    } ++ Seq(
      (30, Seq.empty[Long], Seq(1L, 2L)),            // empty side
      (31, Seq(-5L, -1L, 3L), Seq(-5L, -1L, 3L)),    // identical, negatives
      (32, Seq(1L, 2L, 3L), Seq(10L, 20L)),          // disjoint
      (33, Seq(1L, 2L, 3L, 4L, 5L), Seq(2L, 4L)))    // subset
    val df = cases.toDF("k", "a", "b").repartition(1).select($"k",
      org.apache.spark.sql.graft.bridge.column(
        SortedLongIntersectSize(
          org.apache.spark.sql.graft.bridge.expression($"a"),
          org.apache.spark.sql.graft.bridge.expression($"b"))).as("n"))
    val byK = df.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    cases.foreach { case (k, a, b) =>
      val expect = a.toSet.intersect(b.toSet).size
      assert(byK(k) == expect, s"codegen intersect at $k")
      assert(evalOf(SortedLongIntersectSize(lLit(a), lLit(b))) == expect)
      // the null-ADMITTING schema (checked branch) must count the same
      assert(evalOf(SortedLongIntersectSize(
        lLit(a, nullable = true), lLit(b, nullable = true))) == expect)
    }
  }

  test("sorted-intersect tripwires: descending input and null element throw on both paths") {
    // the tripwire fires on VISITED descending steps only (it cannot
    // prove sortedness of unvisited tails) — this shape forces the scan
    // to step onto the descending element on both sides' merge order
    val desc = Seq(5L, 1L, 9L); val ok = Seq(1L, 2L, 9L)
    val e1 = intercept[IllegalArgumentException] {
      evalOf(SortedLongIntersectSize(lLit(desc), lLit(ok)))
    }
    assert(e1.getMessage.contains("not sorted ascending"))
    val e2 = intercept[Exception] {
      Seq((desc, ok)).toDF("a", "b").repartition(1).select(
        org.apache.spark.sql.graft.bridge.column(SortedLongIntersectSize(
          org.apache.spark.sql.graft.bridge.expression($"a"),
          org.apache.spark.sql.graft.bridge.expression($"b")))).collect()
    }
    assert(e2.getMessage != null || e2.getCause != null)
    // a null slot under a null-admitting schema must throw, not read 0
    val withNull = Literal.create(Seq[java.lang.Long](1L, null, 5L),
      ArrayType(LongType, containsNull = true))
    val e3 = intercept[IllegalArgumentException] {
      evalOf(SortedLongIntersectSize(withNull, lLit(Seq(1L, 4L, 5L))))
    }
    assert(e3.getMessage.contains("null array element"))
  }

  test("fp16 scalar codec: EVERY binary16 bit pattern round-trips exactly") {
    var h = 0
    while (h < 0x10000) {
      val s = h.toShort
      val exp = (h >>> 10) & 0x1f; val sig = h & 0x3ff
      if (exp == 0x1f && sig != 0) {
        // NaN payloads collapse to the canonical quiet NaN, sign kept
        assert(Fp16.toFloat(s).isNaN)
        assert((Fp16.fromFloat(Fp16.toFloat(s)) & 0x7fff) == 0x7e00)
      } else {
        assert(Fp16.fromFloat(Fp16.toFloat(s)) == s,
          f"bit pattern 0x$h%04x does not round-trip")
      }
      h += 1
    }
  }

  test("fp16 rounding pins: round-to-nearest-even, overflow, subnormal edges") {
    // ties computed in exact float arithmetic — a parsed decimal literal
    // can land one ulp off the tie and silently test the wrong case
    assert(Fp16.fromFloat(65504f) == 0x7bff.toShort)       // fp16 max
    assert(Fp16.fromFloat(65520f) == 0x7c00.toShort)       // tie → inf
    assert(Fp16.fromFloat(65519f) == 0x7bff.toShort)       // below tie
    assert(Fp16.fromFloat(1.0f + 1.0f / 2048.0f) == 0x3c00.toShort) // 1+2⁻¹¹ tie → even (1.0)
    assert(Fp16.fromFloat(1.0f + 3.0f / 2048.0f) == 0x3c02.toShort) // 1+3·2⁻¹¹ tie → even (up)
    assert(Fp16.fromFloat(math.pow(2, -24).toFloat) == 0x0001.toShort) // smallest subnormal
    assert(Fp16.fromFloat(math.pow(2, -25).toFloat) == 0x0000.toShort) // half of it, tie → 0
    assert(Fp16.fromFloat(-0.0f) == 0x8000.toShort)         // signed zero kept
    // monotone: round-trip never reorders
    val xs = Seq.fill(2000)((rnd.nextFloat() - 0.5f) * 140000f).sorted
    val rt = xs.map(x => Fp16.toFloat(Fp16.fromFloat(x)))
    rt.sliding(2).foreach { case Seq(a, b) => assert(a <= b); case _ => }
    // relative error ≤ 2⁻¹¹ in the normal fp16 range
    (0 until 2000).foreach { _ =>
      val x = (rnd.nextFloat() * 65000f + 0.001f) *
        (if (rnd.nextBoolean()) 1 else -1)
      val e = math.abs(Fp16.toFloat(Fp16.fromFloat(x)) - x)
      assert(e <= math.abs(x) * (1.0 / 2048) + 1e-12, s"fp16 error for $x")
    }
  }

  test("fp16 expressions: eval ≡ codegen; double input narrows like float; null rejected") {
    val vecs = (0 until 8).map(k =>
      (k, Seq.fill(1 + rnd.nextInt(16))((rnd.nextFloat() - 0.5f) * 200f)))
    val byK = vecs.toDF("k", "v").repartition(1)
      .select($"k", graft.quant.StorageCompression.fp16Decode(
        graft.quant.StorageCompression.fp16Encode($"v")).as("rt"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
    vecs.foreach { case (k, v) =>
      val expect = v.map(x => Fp16.toFloat(Fp16.fromFloat(x)))
      assert(byK(k) == expect, s"codegen fp16 roundtrip at $k")
      val enc = evalOf(Fp16Encode(fLit(v))).asInstanceOf[ArrayData]
      val dec = evalOf(Fp16Decode(Literal.create(enc.toShortArray().toSeq,
        ArrayType(ShortType, containsNull = false)))).asInstanceOf[ArrayData]
      assert(dec.toFloatArray().toSeq == expect, s"eval fp16 roundtrip at $k")
      // double input narrows to float first — same bits as the float path
      val encD = evalOf(Fp16Encode(dLit(v.map(_.toDouble))))
        .asInstanceOf[ArrayData]
      assert(encD.toShortArray().toSeq == enc.toShortArray().toSeq)
    }
    val eNull = intercept[IllegalArgumentException] {
      evalOf(Fp16Encode(Literal.create(Seq[java.lang.Double](1.0, null),
        ArrayType(DoubleType, containsNull = true))))
    }
    assert(eNull.getMessage.contains("null element"))
  }

  test("pq kernels: nearest-cell / encode / ADC — eval ≡ codegen ≡ reference") {
    val dim = 6; val k = 7
    val cents = Seq.fill(k)(randVec(dim))
    val vecs = (0 until 16).map(i => (i, randVec(dim)))
    def refCell(v: Seq[Double]): Int = {
      var best = 0; var bestD = Double.MaxValue
      cents.zipWithIndex.foreach { case (c, ci) =>
        var d = 0.0; var i = 0
        while (i < dim) { val x = v(i) - c(i); d += x * x; i += 1 }
        if (d < bestD) { bestD = d; best = ci } // strict <, lowest wins
      }
      best
    }
    val byK = vecs.toDF("k", "v").repartition(1)
      .select($"k", VectorFunctions.nearestCell($"v", cents).as("c"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    vecs.foreach { case (i, v) =>
      assert(byK(i) == refCell(v), s"codegen cell at $i")
      assert(evalOf(NearestCellExpr(dLit(v), cents)) == refCell(v))
    }

    // PQ: m=3 books × 5 centroids × subDim=2 → byte codes; the ADC LUT
    // built from a query must score EXACTLY like the kernel's formula
    val m = 3; val subDim = 2; val kq = 5
    val books = Seq.fill(m)(Seq.fill(kq)(randVec(subDim)))
    val q = randVec(m * subDim)
    val lut: Seq[Seq[Double]] = (0 until m).map { mi =>
      (0 until kq).map { c =>
        var d = 0.0; var i = 0
        while (i < subDim) {
          val x = q(mi * subDim + i) - books(mi)(c)(i); d += x * x; i += 1
        }
        d
      }
    }
    def refCodes(v: Seq[Double]): Seq[Int] = (0 until m).map { mi =>
      var best = 0; var bestD = Double.MaxValue
      (0 until kq).foreach { c =>
        var d = 0.0; var i = 0
        while (i < subDim) {
          val x = v(mi * subDim + i) - books(mi)(c)(i); d += x * x; i += 1
        }
        if (d < bestD) { bestD = d; best = c }
      }
      best
    }
    def refAdc(codes: Seq[Int]): Double = {
      var acc = 0.0; var mi = 0
      while (mi < m) { acc += lut(mi)(codes(mi)); mi += 1 }
      math.round(math.sqrt(acc) * 1e6) / 1e6
    }
    val pvecs = (0 until 12).map(i => (i, randVec(m * subDim)))
    val rows = pvecs.toDF("k", "v").repartition(1)
      .select($"k", VectorFunctions.pqEncode($"v", books).as("codes"))
      .select($"k", $"codes",
        VectorFunctions.adcScore($"codes", typedLit(lut)).as("score"))
      .collect().map(r =>
        r.getInt(0) -> (r.getSeq[Byte](1).map(_.toInt), r.getDouble(2))).toMap
    pvecs.foreach { case (i, v) =>
      val expect = refCodes(v)
      val (gotCodes, gotScore) = rows(i)
      assert(gotCodes == expect, s"codegen pq codes at $i")
      assert(gotScore == refAdc(expect), s"codegen adc at $i")
      val ev = evalOf(PqEncodeExpr(dLit(v), books)).asInstanceOf[ArrayData]
      assert(ev.toByteArray().map(_.toInt).toSeq == expect, s"eval codes at $i")
      val lutLit = Literal.create(lut,
        ArrayType(ArrayType(DoubleType, false), false))
      val codesLit = Literal.create(expect.map(_.toByte),
        ArrayType(ByteType, containsNull = false))
      assert(evalOf(AdcLutScore(codesLit, lutLit)) == refAdc(expect))
    }

    // >128 centroids per book must widen codes to smallint (a byte
    // would wrap negative and poison the LUT lookup)
    val wideBooks = Seq.fill(2)(Seq.fill(130)(randVec(2)))
    val wide = PqEncodeExpr(dLit(randVec(4)), wideBooks)
    assert(wide.dataType == ArrayType(ShortType, containsNull = false))
    val wcodes = evalOf(wide).asInstanceOf[ArrayData].toShortArray()
    assert(wcodes.forall(c => c >= 0 && c < 130))
  }
}
