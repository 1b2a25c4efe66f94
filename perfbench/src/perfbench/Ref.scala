package perfbench

import java.math.{BigDecimal => JBig, RoundingMode}

/** Driver-side references the benchmark computes itself, in the same
  * arithmetic the engine documents (sequential double sums, round-half-up
  * to 6 decimals, integer fixed-point ranks), and tie-aware comparison
  * of the engine's answers against them. */
object Ref {
  val Eps = 2e-6

  def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else JBig.valueOf(x).setScale(6, RoundingMode.HALF_UP).doubleValue()

  /** dot / (|a| |b|) with the kernels' sequential sums. */
  def cosineSim(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i); val y = b(i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def cosineDistance(a: Array[Double], b: Array[Double]): Double = 1.0 - cosineSim(a, b)

  /** Sorted in the engine's output order (`asc`: lower is better), id
    * tie-break. */
  def order(xs: Iterable[(String, Double)], asc: Boolean): IndexedSeq[(String, Double)] =
    xs.toIndexedSeq.sortWith { case ((ia, sa), (ib, sb)) =>
      if (sa != sb) (if (asc) sa < sb else sa > sb) else ia < ib
    }

  private def better(a: Double, b: Double, asc: Boolean) =
    if (asc) a < b - Eps else a > b + Eps

  /** A reference answer prepared before any op runs, so that checking
    * the engine's answer takes O(k) work between ops: the full scoring of
    * the candidate universe and its top `k` in output order. */
  final class Expected(val scores: Map[String, Double], val k: Int, val asc: Boolean) {
    val top: IndexedSeq[(String, Double)] = order(scores, asc).take(k)
  }

  /** Checks an engine answer against its prepared reference. Always:
    * distinct ids from the universe, scores equal to the reference within
    * Eps, output order, and the expected length. With `complete` (exact
    * operators): every id strictly better than the reference k-th score is
    * present and nothing worse than it is — ties at the boundary may be
    * served either way. Returns the mismatches, empty when the answer is
    * right. */
  def checkTopK(got: IndexedSeq[(String, Double)], e: Expected, complete: Boolean): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val asc = e.asc
    val want = e.top.size
    if (got.size != want) errs += s"returned ${got.size} rows, expected $want"
    if (got.map(_._1).distinct.size != got.size) errs += "duplicate ids"
    got.foreach { case (id, s) =>
      e.scores.get(id) match {
        case None => errs += s"$id is not a valid candidate"
        case Some(r) if math.abs(r - s) > Eps => errs += s"$id scored $s, reference $r"
        case _ =>
      }
    }
    got.sliding(2).foreach {
      case Seq((ia, sa), (ib, sb)) if better(sb, sa, asc) || (sa == sb && ia > ib) =>
        errs += s"order broken at $ia/$ib"
      case _ =>
    }
    if (complete && want > 0) {
      val kth = e.top(want - 1)._2
      val ids = got.map(_._1).toSet
      e.top.takeWhile(x => better(x._2, kth, asc)).foreach { case (id, s) =>
        if (!ids(id)) errs += s"missing $id (score $s, k-th $kth)"
      }
      got.foreach { case (id, _) =>
        e.scores.get(id).foreach(r => if (better(kth, r, asc)) errs += s"$id ($r) worse than k-th $kth")
      }
    }
    errs.result()
  }

  /** Tie-aware recall of an ANN answer (lower scores better) against the
    * exact top-k: an ANN id counts when its exact score is at least as
    * good as the exact k-th. */
  def recall(ann: Seq[String], e: Expected): Double = {
    if (e.top.isEmpty) return 1.0
    val kth = e.top.last._2
    ann.count(id => e.scores.get(id).exists(_ <= kth + Eps)).min(e.k).toDouble / e.top.size
  }

  // ---- BM25 (k1 = 1.5, b = 0.75, idf = ln((N - df + 0.5)/(df + 0.5) + 1))

  final class Bm25(docs: Iterable[Doc]) {
    private val n = docs.size.toDouble
    private val avgdl = docs.iterator.map(_.tokens.length.toDouble).sum / n
    private val postings: Map[String, Seq[(Doc, Int)]] = {
      val m = scala.collection.mutable.HashMap.empty[String, List[(Doc, Int)]]
      docs.foreach { d =>
        d.tokens.groupBy(identity).foreach { case (t, occ) =>
          m(t) = (d, occ.length) :: m.getOrElse(t, Nil)
        }
      }
      m.toMap
    }
    /** Full scoring of every document holding a query term. */
    def scores(terms: Seq[String]): Map[String, Double] = {
      val acc = scala.collection.mutable.HashMap.empty[String, Double]
      terms.distinct.foreach { t =>
        val ps = postings.getOrElse(t, Nil)
        val df = ps.size.toDouble
        val idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
        ps.foreach { case (d, tf0) =>
          val tf = tf0.toDouble
          val dl = d.tokens.length.toDouble
          val w = idf * tf * 2.5 / (tf + 1.5 * (0.25 + 0.75 * dl / avgdl))
          acc(d.id) = acc.getOrElse(d.id, 0.0) + w
        }
      }
      acc.map { case (id, s) => id -> round6(s) }.toMap
    }
  }

  /** The engine's documented hybrid blend: the vector branch is the top
    * 5k by unrounded cosine distance, the keyword branch the BM25 top 5k;
    * each is max-normalized and mixed with weight alpha. */
  def hybrid(docs: Iterable[Doc], bm25: Bm25, terms: Seq[String],
      q: Array[Double], k: Int, alpha: Double): Map[String, Double] = {
    val fetch = k * 5
    val vec = order(docs.map(d => d.id -> cosineDistance(d.vector, q)), asc = true).take(fetch)
    val kw = order(bm25.scores(terms), asc = false).take(fetch)
    val maxD = if (vec.isEmpty) 0.0 else vec.map(_._2).max
    val maxS = if (kw.isEmpty) 0.0 else kw.map(_._2).max
    val v = vec.map { case (id, d) => id -> (if (maxD == 0.0) 1.0 else 1.0 - d / maxD) }.toMap
    val kk = kw.map { case (id, s) => id -> (if (maxS == 0.0) 0.0 else s / maxS) }.toMap
    (v.keySet ++ kk.keySet).iterator.map { id =>
      id -> round6(alpha * v.getOrElse(id, 0.0) + (1.0 - alpha) * kk.getOrElse(id, 0.0))
    }.toMap
  }

  // ---- graph references over a dictionary-coded adjacency

  final class Adj(val ids: IndexedSeq[String], src: Array[Int], dst: Array[Int]) {
    val n: Int = ids.length
    val index: Map[String, Int] = ids.zipWithIndex.toMap
    private val od: Array[Long] = {
      val o = new Array[Long](n); src.foreach(s => o(s) += 1); o
    }
    private def csr(from: Array[Int], to: Array[Int]): (Array[Int], Array[Int]) = {
      val start = new Array[Int](n + 1)
      from.foreach(f => start(f + 1) += 1)
      for (i <- 0 until n) start(i + 1) += start(i)
      val fill = start.clone()
      val out = new Array[Int](from.length)
      for (e <- from.indices) { out(fill(from(e))) = to(e); fill(from(e)) += 1 }
      (start, out)
    }
    private val (outStart, outDst) = csr(src, dst)
    private val (inStart, inSrc) = csr(dst, src)
    def out(v: Int): Iterator[Int] = (outStart(v) until outStart(v + 1)).iterator.map(outDst)
    def in(v: Int): Iterator[Int] = (inStart(v) until inStart(v + 1)).iterator.map(inSrc)

    /** Static PageRank in the engine's integer micro-units: r' = 150000 +
      * (sum of r(src) div od(src)) * 17 div 20, base 1e6 before the first
      * hop and 150000 after it for nodes that receive nothing. */
    def pagerank(iters: Int): Array[Long] = {
      var r = Array.fill(n)(1000000L)
      for (_ <- 1 to iters) {
        val sc = new Array[Long](n)
        for (s <- 0 until n if od(s) > 0) {
          val c = r(s) / od(s)
          out(s).foreach(d => sc(d) += c)
        }
        val got = new Array[Boolean](n)
        for (s <- 0 until n if od(s) > 0) out(s).foreach(d => got(d) = true)
        r = Array.tabulate(n)(v => if (got(v)) 150000L + sc(v) * 17 / 20 else 150000L)
      }
      r
    }

    /** Personalized PageRank with restart at `seed`; absent nodes hold 0. */
    def ppr(seed: Int, iters: Int): Array[Long] = {
      var r = scala.collection.mutable.HashMap(seed -> 1000000L)
      for (_ <- 1 to iters) {
        val sc = scala.collection.mutable.HashMap.empty[Int, Long]
        r.foreach { case (s, rs) => out(s).foreach(d => sc(d) = sc.getOrElse(d, 0L) + rs / od(s)) }
        val next = scala.collection.mutable.HashMap.empty[Int, Long]
        sc.foreach { case (v, c) => next(v) = c * 17 / 20 }
        next(seed) = next.getOrElse(seed, 0L) + 150000L
        r = next
      }
      val a = new Array[Long](n)
      r.foreach { case (v, x) => a(v) = x }
      a
    }

    /** Semantic graph search: top-2k seeds by cosine similarity, BFS over
      * both edge directions, every node first reached at hop h scoring
      * vw * maxSeed / (1 + h) + gw / h. */
    def semanticSearch(emb: Map[Int, Array[Double]], q: Array[Double], k: Int,
        hops: Int, vw: Double, gw: Double): Map[String, Double] = {
      val seeds = emb.toIndexedSeq.map { case (v, e) => (v, 1.0 - cosineDistance(e, q)) }
        .sortWith { case ((a, sa), (b, sb)) => if (sa != sb) sa > sb else ids(a) < ids(b) }
        .take(2 * k)
      val maxSim = seeds.map(_._2).max
      val score = scala.collection.mutable.HashMap.empty[Int, Double]
      seeds.foreach { case (v, s) => score(v) = round6(s) }
      var frontier = seeds.map(_._1).toSet
      for (h <- 1 to hops) {
        val next = frontier.iterator.flatMap(v => out(v) ++ in(v)).filterNot(score.contains).toSet
        val s = round6(vw * maxSim * (1.0 / (1.0 + h)) + gw * (1.0 / h))
        next.foreach(v => score(v) = s)
        frontier = next
      }
      score.iterator.map { case (v, s) => ids(v) -> s }.toMap
    }

    /** Traverse-then-rerank: every cycle-free out-path of length 1..depth
      * from `start`, one canonical (least) path per end node, ends scored
      * by rounded cosine similarity to q when embedded, else 0. */
    def traverseRerank(start: Int, depth: Int, emb: Map[Int, Array[Double]],
        q: Array[Double]): Map[String, Double] = {
      val ends = scala.collection.mutable.HashSet.empty[Int]
      def walk(v: Int, seen: List[Int], d: Int): Unit =
        if (d < depth) out(v).foreach { w =>
          if (!seen.contains(w)) { ends += w; walk(w, w :: seen, d + 1) }
        }
      walk(start, List(start), 0)
      ends.iterator.map { v =>
        ids(v) -> emb.get(v).map(e => round6(cosineSim(e, q))).getOrElse(0.0)
      }.toMap
    }
  }
}
