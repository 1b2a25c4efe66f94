package perfbench

/** SplitMix64: a tiny, fully specified generator, so a seed maps to the
  * same inputs on every JVM (java.util.Random would do too, but the
  * gaussian path below must avoid platform-dependent math intrinsics). */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
  /** Box-Muller through StrictMath: bit-identical on every platform. */
  def gaussian(): Double = {
    val u = math.max(nextDouble(), 1e-300)
    StrictMath.sqrt(-2.0 * StrictMath.log(u)) *
      StrictMath.cos(2.0 * math.Pi * nextDouble())
  }
  /** Child stream: independent draws for one purpose, so adding draws to
    * one input never shifts another. */
  def fork(tag: Long): Rng = new Rng(nextLong() ^ (tag * 0x632BE59BD9B4E019L))
}

/** Zipf(s) sampler over ranks 0..n-1 by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / StrictMath.pow(i + 1.0, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / tot }
  }
  def sample(r: Rng): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** One collection row as the benchmark holds it (the reference mirror). */
final case class Doc(id: String, vector: Array[Double], text: String,
    category: String) {
  lazy val tokens: Array[String] = text.split(' ')
}

/** Seeded inputs for the collection workload: clustered, L2-normalized
  * vectors, a Zipf-vocabulary `text` column with per-cluster topic words,
  * and a 4-valued `category`. */
final class DocGen(seed: Long, val dim: Int) {
  val Categories: IndexedSeq[String] = Vector("news", "tech", "science", "sports")
  val Clusters = 24
  val VocabSize = 4000
  private val root = new Rng(seed)
  private val geo = root.fork(1)
  val vocab: IndexedSeq[String] = {
    val syl = Vector("ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "be", "do",
      "fa", "gu", "hi", "ja", "po", "se")
    val r = root.fork(2)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < VocabSize)
      seen += (0 until 2 + r.nextInt(3)).map(_ => syl(r.nextInt(syl.size))).mkString
    seen.toVector
  }
  private val zipf = new Zipf(VocabSize, 1.05)
  private val centroids: IndexedSeq[Array[Double]] =
    (0 until Clusters).map(_ => Array.fill(dim)(geo.gaussian()))
  /** Each cluster owns a few topic words, so text and vectors correlate
    * the way a hybrid query expects. */
  private val topics: IndexedSeq[IndexedSeq[Int]] =
    (0 until Clusters).map(_ => (0 until 12).map(_ => geo.nextInt(VocabSize)))

  private def unit(v: Array[Double]): Array[Double] = {
    val n = StrictMath.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  def vectorNear(r: Rng, cluster: Int, noise: Double): Array[Double] = {
    val c = centroids(cluster)
    unit(Array.tabulate(dim)(i => c(i) + noise * r.gaussian()))
  }

  def doc(r: Rng, id: String): Doc = {
    val cl = r.nextInt(Clusters)
    val words = (0 until 8 + r.nextInt(17)).map { _ =>
      if (r.nextDouble() < 0.3) vocab(topics(cl)(r.nextInt(topics(cl).size)))
      else vocab(zipf.sample(r))
    }
    Doc(id, vectorNear(r, cl, 0.35), words.mkString(" "),
      Categories(r.nextInt(Categories.size)))
  }

  def docs(tag: Long, prefix: String, n: Int): IndexedSeq[Doc] = {
    val r = root.fork(100 + tag)
    (0 until n).map(i => doc(r, f"$prefix$i%06d"))
  }

  /** A "more like this" query: a stored unit vector plus noise of about a
    * tenth of its length, the way a serving client usually asks. */
  def queryNear(r: Rng, docs: IndexedSeq[Doc]): Array[Double] = {
    val sd = 0.1 / StrictMath.sqrt(dim.toDouble)
    docs(r.nextInt(docs.size)).vector.map(x => x + sd * r.gaussian())
  }

  /** Three distinct terms from the head of the vocabulary (so they
    * occur), the length of the reference fixture's keyword queries
    * ("machine learning neural"). */
  def queryTerms(r: Rng): Seq[String] = {
    val terms = scala.collection.mutable.LinkedHashSet.empty[String]
    while (terms.size < 3) terms += vocab(zipf.sample(r) % 600)
    terms.toSeq
  }

  def rng(tag: Long): Rng = root.fork(1000 + tag)
}

/** TPC-H-shaped tables for the graph workload (only the columns the
  * graph builder reads), generated from the seed. Sizes follow the TPC-H
  * ratios at scale factor `sf`. */
final class TpchGen(seed: Long, sf: Double) {
  private val r = new Rng(seed ^ 0x7C9A5L)
  val nCust: Int = (150000 * sf).toInt
  val nSupp: Int = math.max(4, (10000 * sf).toInt)
  val nPart: Int = (200000 * sf).toInt
  val nOrders: Int = (1500000 * sf).toInt
  val segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD")
  val priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val statuses = Vector("F", "O", "P")

  final case class Cust(key: Long, name: String, acctbal: Double, seg: String, nation: Long)
  final case class Supp(key: Long, name: String, acctbal: Double, nation: Long)
  final case class Part(key: Long, name: String, price: Double, brand: String)
  final case class Order(key: Long, cust: Long, priority: String, total: Double, status: String)
  final case class Line(order: Long, part: Long, supp: Long)

  private def money(x: Double) = math.round(x * 100) / 100.0
  val customers: IndexedSeq[Cust] = (1 to nCust).map(k =>
    Cust(k, f"Customer#$k%09d", money(-999 + r.nextDouble() * 10998),
      segments(r.nextInt(5)), r.nextInt(25)))
  val suppliers: IndexedSeq[Supp] = (1 to nSupp).map(k =>
    Supp(k, f"Supplier#$k%09d", money(-999 + r.nextDouble() * 10998), r.nextInt(25)))
  val parts: IndexedSeq[Part] = (1 to nPart).map(k =>
    Part(k, s"part ${r.nextInt(1000)}", money(900 + r.nextDouble() * 1100),
      s"Brand#${1 + r.nextInt(5)}${1 + r.nextInt(5)}"))
  val orders: IndexedSeq[Order] = (1 to nOrders).map(k =>
    Order(k, 1 + r.nextInt(nCust), priorities(r.nextInt(5)),
      money(1000 + r.nextDouble() * 400000), statuses(r.nextInt(3))))
  /** 1-7 lines per order; each part has 4 candidate suppliers (TPC-H's
    * partsupp rule), so SUPPLIED_BY stays sparse. */
  val lines: IndexedSeq[Line] = orders.flatMap { o =>
    (0 until 1 + r.nextInt(7)).map { _ =>
      val p = 1 + r.nextInt(nPart)
      val s = 1 + ((p + r.nextInt(4) * (nSupp / 4 + (p - 1) / nSupp)) % nSupp)
      Line(o.key, p, s)
    }
  }
  val nations: IndexedSeq[(Long, String)] = (0 until 25).map(n => (n.toLong, s"NATION$n"))
}
