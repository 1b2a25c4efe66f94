package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge.narrowChild
import graft.text.TextAnalysis._

/** Deduplication operators for training-data pipelines over a text corpus:
  *
  *  - exact dedup: md5 hash-groupBy (per-group keep-min + dup counts)
  *  - MinHash + LSH: word 3-gram shingles → k minhashes → banded
  *    signatures → bucket equi-join for candidates → exact Jaccard verify
  *  - SimHash: 32-bit sign-of-weighted-bit-sums signature per document
  *  - n-gram Jaccard: blocked all-pairs exact similarity
  *
  * All hash arithmetic is integer-exact (poly charHash mod 2^31−1, affine
  * minhash permutations, Knuth-multiplier band mixing), so every stage has
  * an identical DuckDB oracle.
  *
  * Scale design: the LSH candidate join shuffles on (band, signature) —
  * at 100 TB that is the standard near-dup sweep shape (candidates ≪
  * all-pairs); exact Jaccard runs only on bucket collisions. The blocked
  * Jaccard/embedding variants express the block key as a join key so
  * Catalyst plans a shuffle- (or broadcast-) hash join, never a cartesian.
  */
object Dedup {
  val P: Long = HashM // 2^31 − 1, shared with TextAnalysis
  val NumHashes = 8
  val Bands = 4 // r = 2 rows per band
  val Knuth = 2654435761L

  /** Affine permutation constants for minhash i (deterministic, odd a). */
  def hashA(i: Int): Long = (1103515245L * (i + 1) + 12345L) % P | 1L
  def hashB(i: Int): Long = (12345L * (i + 1) + 6789L) % P

  // ---- shingling -----------------------------------------------------
  private def shingleSql(tokens: String): String = {
    val sh = s"array_to_string($tokens[i + 1 : i + 3], ' ')"
    s"list_distinct(list_transform(range(0, len($tokens) - 2), i -> ${charHashSql(sh)}))"
  }

  /** Scala twins of the SQL hash kernels — identical integer arithmetic
    * (ASCII corpus: char.toInt == ascii()). Shingle hashing over a corpus
    * is the hot loop of every near-dup sweep; as interpreted higher-order
    * expressions it was 10× slower than this typed kernel at sf0.1.
    */
  private val TokenRe = java.util.regex.Pattern.compile("\\w+")
  def tokensOf(text: String): Array[String] = {
    val m = TokenRe.matcher(text.toLowerCase(java.util.Locale.ROOT))
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) out += m.group()
    out.toArray
  }
  /** Sorted ascending: the candidate-verification kernel
    * ([[intersectSize]]) is a merge scan over sorted arrays. Sorting
    * changes no downstream value — minhash is a min over the set,
    * Jaccard uses set sizes, and the oracle's list_intersect is
    * order-insensitive.
    *
    * Value-identical to hashing the joined string `"t0 t1 t2"` char by
    * char (the oracle's form), via the polynomial-hash composition
    * identity `hash(s1 ++ s2) = (hash(s1)·B^|s2| + hash(s2)) mod M`:
    * each token is hashed ONCE, and each shingle combines three cached
    * (hash, B^len) pairs in O(1) — the corpus sweep reads every char 1×
    * instead of 3×, with no per-shingle string building. */
  def shinglesOf(tokens: Array[String]): Array[Long] = {
    val n = tokens.length - 2
    if (n <= 0) return Array.emptyLongArray
    val hh = new Array[Long](tokens.length)
    val pw = new Array[Long](tokens.length)
    var i = 0
    while (i < tokens.length) {
      val t = tokens(i)
      var h = 0L
      var p = 1L
      var j = 0
      while (j < t.length) {
        h = (h * CharB + t.charAt(j).toInt) % HashM
        p = (p * CharB) % HashM
        j += 1
      }
      hh(i) = h
      pw(i) = p
      i += 1
    }
    val out = new Array[Long](n)
    i = 0
    while (i < n) {
      var h = hh(i)
      h = (h * CharB + ' '.toInt) % HashM
      h = (h * pw(i + 1) + hh(i + 1)) % HashM
      h = (h * CharB + ' '.toInt) % HashM
      h = (h * pw(i + 2) + hh(i + 2)) % HashM
      out(i) = h
      i += 1
    }
    java.util.Arrays.sort(out)
    var w = 0
    i = 0
    while (i < n) {
      if (w == 0 || out(w - 1) != out(i)) { out(w) = out(i); w += 1 }
      i += 1
    }
    if (w == n) out else java.util.Arrays.copyOf(out, w)
  }

  /** |A∩B| of two shingle arrays — codegen'd merge scan
    * (graft.expr.SortedLongIntersectSize) instead of the built-in
    * array_intersect's per-pair hash set. Inputs must come from
    * [[shinglesOf]] (sorted distinct). */
  def intersectSize(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.bridge.column(
      graft.expr.SortedLongIntersectSize(
        org.apache.spark.sql.graft.bridge.expression(a),
        org.apache.spark.sql.graft.bridge.expression(b)))

  /** doc_id + distinct shingle-hash array (docs with ≥ 3 word tokens). */
  def shingled(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val toks = tokensOf(text) // tokenize once: length check + shingles
        if (toks.length < 3) None else Some((id, shinglesOf(toks).toSeq))
      })
      .toDF(idCol, "shingles")
  }

  /** DuckDB CTE body equivalent of [[shingled]] (relation `documents`). */
  def shingledSql: String =
    s"""SELECT doc_id, ${shingleSql("toks")} AS shingles
       |FROM (SELECT doc_id, ${wordTokensSql("text")} AS toks FROM documents)
       |WHERE len(toks) >= 3""".stripMargin

  // ---- minhash + LSH -------------------------------------------------
  private def minhashSql(i: Int): String =
    s"list_min(list_transform(shingles, h -> (h * ${hashA(i)} + ${hashB(i)}) % $P))"

  private def bandSig(j: Int, mh: Int => String): String =
    s"(${mh(2 * j)} * $Knuth + ${mh(2 * j + 1)}) % $P"

  /** One row per doc: (doc_id, shingles, sigs) — the shingle set and all
    * [[Bands]] band signatures from ONE typed pass (minhashes + band
    * mixing are integer-exact twins of the SQL oracle's arithmetic).
    *
    * This is the storage layout every LSH-dedup plan should share: the
    * shingle array exists ONCE per doc. Band rows for bucket joins are
    * derived by [[bandRows]] (posexplode of the [[Bands]] scalar sigs),
    * so candidate generation never shuffles an array — the earlier
    * layout (shingles repeated on each of the Bands band rows, then
    * self-joined) wrote 2·Bands array copies per doc into the
    * bucket-join shuffle and dominated the operator's cost. */
  def docSignatures(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (nh, bands) = (NumHashes, Bands)
    val as = (0 until nh).map(hashA).toArray
    val bs = (0 until nh).map(hashB).toArray
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val toks = tokensOf(text)
        if (toks.length < 3) None
        else {
          val sh = shinglesOf(toks)
          val mh = Array.tabulate(nh) { i =>
            var m = Long.MaxValue
            var j = 0
            while (j < sh.length) {
              val v = (sh(j) * as(i) + bs(i)) % P
              if (v < m) m = v
              j += 1
            }
            m
          }
          val sigs = Array.tabulate(bands)(b =>
            (mh(2 * b) * Knuth + mh(2 * b + 1)) % P)
          Some((id, sh.toSeq, sigs.toSeq))
        }
      })
      .toDF("doc_id", "shingles", "sigs")
  }

  /** Slim (doc_id, fsig, band, sig) rows derived from [[docSignatures]] —
    * scalar-only, safe to self-join on the bucket key. `fsig` hashes the
    * FULL signature vector (all [[Bands]] band values), feeding the
    * hot-bucket guard's boilerplate-cluster grouping. */
  def bandRows(ds: DataFrame): DataFrame =
    ds.select(col("doc_id"), xxhash64(col("sigs")).as("fsig"),
        posexplode(col("sigs")))
      .toDF("doc_id", "fsig", "band", "sig")

  /** Join candidate id pairs back to the stored shingle arrays and score
    * exact Jaccard — arrays enter the plan only HERE, on the (small)
    * colliding-candidate set, never in the bucket join. Output adds
    * `ni` (intersection size), `sha`/`shb` (the arrays, for callers that
    * filter on the unrounded ratio) and `jac` (6-decimal round). */
  def scorePairs(cand: DataFrame, ds: DataFrame,
      aCol: String, bCol: String): DataFrame = {
    val sa = ds.select(col("doc_id").as(aCol), col("shingles").as("sha"))
    val sb = ds.select(col("doc_id").as(bCol), col("shingles").as("shb"))
    cand.join(sa, Seq(aCol)).join(sb, Seq(bCol))
      .withColumn("ni", intersectSize(col("sha"), col("shb")))
      .withColumn("jac", round(col("ni").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("ni")), 6))
  }

  /** Jaccard similarity of two sorted distinct-element arrays, via
    * |A∩B| / (|A| + |B| − |A∩B|) — avoids materializing the union array
    * (identical value for distinct inputs; codegen subexpression
    * elimination shares the one merge-scan intersect). */
  def jaccard(a: Column, b: Column): Column =
    intersectSize(a, b).cast("double") /
      (size(a) + size(b) - intersectSize(a, b))
  def jaccardSql(a: String, b: String): String =
    s"len(list_intersect($a, $b))::DOUBLE / " +
      s"(len($a) + len($b) - len(list_intersect($a, $b)))"

  /** LSH candidate pairs with exact-Jaccard verification, top-N. */
  def minhashLshPairs(docs: DataFrame, topN: Int,
      bucketCap: Int = BucketGuard.DefaultCap): DataFrame = {
    // localCheckpoint: the signatures feed both sides of the self-join
    // AND the score join-back — without the barrier the shingle hashing
    // runs three times per row. Checkpoint (not persist): storage is
    // released by GC when the query's result is dropped, instead of
    // leaking in the CacheManager until an explicit unpersist, so a
    // long-lived session stays bounded.
    val ds = docSignatures(docs).localCheckpoint()
    val cand = BucketGuard
      .candidatePairs(bandRows(ds), "doc_id", Seq("band", "sig"), "fsig",
        bucketCap)
      .toDF("doc_a", "doc_b")
    scorePairs(cand, ds, "doc_a", "doc_b")
      .select("doc_a", "doc_b", "jac")
      .orderBy(desc("jac"), col("doc_a"), col("doc_b"))
      .limit(topN)
  }

  /** The mh → sigs → bands CTE chain (DuckDB) over an existing `sh` CTE
    * (from [[shingledSql]]): bands = (doc_id, band, sig), one row per
    * band per doc. Shared by every oracle that needs MinHash candidates.
    */
  def bandsCtesSql: String = {
    val mhs = (0 until NumHashes).map(i => s"${minhashSql(i)} AS mh$i")
    val sigs = (0 until Bands).map(j => s"${bandSig(j, i => s"mh$i")} AS sig$j")
    val bandRows = (0 until Bands)
      .map(j => s"SELECT doc_id, $j AS band, sig$j AS sig FROM sigs")
      .mkString("\nUNION ALL\n")
    s"""mh AS (SELECT doc_id, shingles, ${mhs.mkString(", ")} FROM sh),
       |sigs AS (SELECT doc_id, ${sigs.mkString(", ")} FROM mh),
       |bands AS MATERIALIZED ($bandRows)""".stripMargin
  }

  /** LSH candidate pairs restricted to a block (e.g. same source), exact
    * Jaccard on collisions, top-N. The block key joins WITH the
    * (band, sig) bucket key, so pair generation stays bucket-join-shaped
    * — a dominant block (one source holding billions of docs) can never
    * turn into an all-pairs cartesian; candidate volume is governed by
    * signature collisions, not block size. */
  def minhashLshPairsBlocked(docs: DataFrame, blockCol: String,
      topN: Int, bucketCap: Int = BucketGuard.DefaultCap): DataFrame = {
    // localCheckpoint — see minhashLshPairs (GC-scoped barrier; the
    // bucket self-join and the score join-back reuse the shingle hashing)
    val ds = docSignatures(docs).localCheckpoint()
    val blocks =
      docs.select(col("doc_id").cast("long").as("doc_id"), col(blockCol))
    val b = bandRows(ds).join(blocks, Seq("doc_id"))
    val cand = BucketGuard
      .candidatePairs(b, "doc_id", Seq(blockCol, "band", "sig"), "fsig",
        bucketCap)
      .toDF("doc_a", "doc_b")
      // the block key is part of the bucket key, so both ids share it —
      // re-attach it from the doc_a side for the output schema
      .join(blocks.select(col("doc_id").as("doc_a"), col(blockCol)),
        Seq("doc_a"))
    scorePairs(cand, ds, "doc_a", "doc_b")
      .select(blockCol, "doc_a", "doc_b", "jac")
      .orderBy(desc("jac"), col("doc_a"), col("doc_b"))
      .limit(topN)
  }

  /** Full DuckDB oracle for [[minhashLshPairsBlocked]]. */
  def minhashLshPairsBlockedSql(blockCol: String, topN: Int): String = {
    s"""WITH sh AS MATERIALIZED ($shingledSql),
       |$bandsCtesSql,
       |bs AS MATERIALIZED (
       |  SELECT bands.doc_id, bands.band, bands.sig, d.$blockCol
       |  FROM bands JOIN documents d USING (doc_id)),
       |cand AS (
       |  SELECT DISTINCT a.$blockCol, a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bs a JOIN bs b
       |    ON a.$blockCol = b.$blockCol AND a.band = b.band
       |   AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT c.$blockCol, c.doc_a, c.doc_b,
       |         round(${jaccardSql("sa.shingles", "sb.shingles")}, 6) AS jac
       |  FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.doc_a
       |  JOIN sh sb ON sb.doc_id = c.doc_b)
       |SELECT * FROM pairs
       |ORDER BY jac DESC, doc_a, doc_b LIMIT $topN""".stripMargin
  }

  /** Full DuckDB oracle for [[minhashLshPairs]]. */
  def minhashLshPairsSql(topN: Int): String = {
    val mhs = (0 until NumHashes).map(i => s"${minhashSql(i)} AS mh$i")
    val sigs = (0 until Bands).map(j => s"${bandSig(j, i => s"mh$i")} AS sig$j")
    val bandRows = (0 until Bands)
      .map(j => s"SELECT doc_id, shingles, $j AS band, sig$j AS sig FROM sigs")
      .mkString("\nUNION ALL\n")
    s"""WITH sh AS MATERIALIZED ($shingledSql),
       |mh AS (SELECT doc_id, shingles, ${mhs.mkString(", ")} FROM sh),
       |sigs AS (SELECT doc_id, shingles, ${sigs.mkString(", ")} FROM mh),
       |bands AS MATERIALIZED ($bandRows),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT c.doc_a, c.doc_b,
       |         round(${jaccardSql("sa.shingles", "sb.shingles")}, 6) AS jac
       |  FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.doc_a
       |  JOIN sh sb ON sb.doc_id = c.doc_b)
       |SELECT * FROM pairs
       |ORDER BY jac DESC, doc_a, doc_b LIMIT $topN""".stripMargin
  }

  // ---- near-dup components -------------------------------------------
  /** Hard ceiling on propagation rounds (a runaway-guard, not the
    * expected stop: the loop exits as soon as a round changes nothing).
    * Each round does one edge-hop min PLUS one pointer jump (adopt the
    * label's own label), contracting chains geometrically — 50 rounds
    * covers any diameter up to ~2^50. Hitting the ceiling without
    * convergence throws rather than returning a silently split
    * component. */
  val MaxComponentIters = 50
  val ComponentJaccard = 0.5

  /** Verified-edge count strictly below which components are solved by
    * driver union-find instead of the distributed propagation loop —
    * a constant memory bound, NOT a scale fraction, so any
    * cluster-scale corpus graph exceeds it and takes the loop. Below
    * it the loop would pay ~9 rounds of fixed stage latency (~4 s
    * measured on the 121k-edge hot-bucket gate graph) for work a
    * driver array finishes in milliseconds. Sizing (ADVICE r11): the
    * hatch now works entirely in primitive long/int arrays — peak
    * transient ≈ 90 B/edge (collected specialized tuples ~32 B + edge
    * arrays 16 B + sort/dedupe scratch 16 B + node ids ≤16 B + parent
    * ints ≤8 B) ⇒ ≤ ~36 MB at this cap, safe on a default-sized (1g)
    * driver. The old 2M cap was derived from a 16 B/edge estimate that
    * ignored boxing; measured corpus graphs (sf0.1: 256 edges, 10×
    * decade: 250,600) all sit well under 400k, so behavior at every
    * tested scale is unchanged. */
  val LocalComponentEdgeCap = 400000L

  /** Verified component edges (x, y): the exact frame
    * [[nearDupComponents]] propagates over and the quantity its
    * union-find hatch decides on — exposed so the bench's `components`
    * probe measures the REAL thing, not a reimplementation that could
    * drift (the per-corpus edge counts are in SURVEY.md). Materialized
    * (localCheckpoint, not persist — GC-scoped storage, see
    * minhashLshPairs): callers reuse it across propagation rounds /
    * counts. */
  def componentEdges(docs: DataFrame,
      bucketCap: Int = BucketGuard.DefaultCap,
      sigs: Option[DataFrame] = None): DataFrame = {
    // `sigs`: optionally a PRE-MATERIALIZED docSignatures(docs) frame —
    // a caller running several sweeps over the same corpus (the
    // near-dup recall gate runs guarded + unguarded) pays the minhash
    // pass once instead of once per sweep (r17)
    val ds = sigs.getOrElse(docSignatures(docs).localCheckpoint())
    val cand = BucketGuard
      .candidatePairs(bandRows(ds), "doc_id", Seq("band", "sig"), "fsig",
        bucketCap)
      .toDF("x", "y")
    scorePairs(cand, ds, "x", "y")
      // threshold on the UNROUNDED ratio (jac is display-rounded)
      .filter(col("ni").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("ni")) >= ComponentJaccard)
      .select("x", "y")
      .localCheckpoint() // reused every propagation round
  }

  /** Connected components over the LSH candidate pairs with exact
    * Jaccard ≥ threshold: min-label propagation iterated UNTIL STABLE (a
    * round that changes no label terminates the loop), so the result is
    * the true fixed point at any component diameter — the oracle computes
    * the same fixed point via a recursive transitive closure, making the
    * two equal by construction rather than by matching round counts.
    * Output (doc_id, component) where component = min doc id reachable —
    * the dedup keep-list is then "keep doc_id == component".
    *
    * `edges`: optionally a precomputed [[componentEdges]] frame for the
    * SAME docs/bucketCap (the bench's components probe counts the frame
    * first and passes it in, so the LSH sweep isn't paid twice).
    */
  def nearDupComponents(docs: DataFrame,
      bucketCap: Int = BucketGuard.DefaultCap,
      localEdgeCap: Long = LocalComponentEdgeCap,
      edges: Option[DataFrame] = None,
      sigs: Option[DataFrame] = None): DataFrame = {
    val pairs = edges.getOrElse(componentEdges(docs, bucketCap, sigs))
    // Measured-size escape hatch (r11, reworked r12): below
    // `localEdgeCap` verified edges, the propagation loop's cost is
    // pure fixed stage latency — each round is a handful of tiny jobs,
    // and even at the measured-width child session the hot-bucket gate
    // corpus paid ~4.3 s for ~9 rounds over a 4.5k-node/121k-edge
    // graph. A graph that size is a driver array: run exact union-find
    // (path-halving, min-id component labels — the SAME fixed point
    // the loop and the oracle's recursive closure compute) in
    // milliseconds. Everything on the driver is primitive long/int
    // arrays (ADVICE r11: the old Row/HashMap shape peaked at ~10-30×
    // its 16 B/edge basis), so the cap IS the memory bound — see
    // [[LocalComponentEdgeCap]]. At cluster scale any real corpus
    // graph exceeds it and takes the distributed loop below unchanged;
    // DedupSpec pins loop ≡ union-find by running both on the same
    // corpus (cap = 0 forces the loop).
    // strict <: cap = 0 forces the LOOP even on an edgeless corpus
    // (ADVICE r12 — under <=, `0 <= 0` silently degraded DedupSpec's
    // loop-forcing parity test to hatch-vs-hatch when a corpus had no
    // verified pairs; with < the cap's semantics are "hatch only when
    // strictly under the bound", so cap = 0 disables the hatch outright)
    if (pairs.count() < localEdgeCap) {
      val spark = docs.sparkSession
      import spark.implicits._
      val edges = pairs.as[(Long, Long)].collect()
      val n = edges.length
      val xs = new Array[Long](n)
      val ys = new Array[Long](n)
      var i = 0
      while (i < n) { xs(i) = edges(i)._1; ys(i) = edges(i)._2; i += 1 }
      // distinct sorted node ids → dense indices via binary search; the
      // sort also makes "smaller index = smaller doc id", so min-root
      // union by INDEX yields min-id component labels directly
      val all = new Array[Long](2 * n)
      System.arraycopy(xs, 0, all, 0, n)
      System.arraycopy(ys, 0, all, n, n)
      java.util.Arrays.sort(all)
      var m = 0
      i = 0
      while (i < all.length) {
        if (m == 0 || all(i) != all(m - 1)) { all(m) = all(i); m += 1 }
        i += 1
      }
      val nodes = java.util.Arrays.copyOf(all, m)
      val parent = Array.tabulate(m)(identity)
      def find(x0: Int): Int = {
        var x = x0
        while (parent(x) != x) { // path halving
          parent(x) = parent(parent(x)); x = parent(x)
        }
        x
      }
      i = 0
      while (i < n) {
        val ra = find(java.util.Arrays.binarySearch(nodes, xs(i)))
        val rb = find(java.util.Arrays.binarySearch(nodes, ys(i)))
        if (ra < rb) parent(rb) = ra
        else if (rb < ra) parent(ra) = rb
        i += 1
      }
      val out = new Array[(Long, Long)](m)
      i = 0
      while (i < m) { out(i) = (nodes(i), nodes(find(i))); i += 1 }
      return spark.createDataset(out.toSeq).toDF("doc_id", "component")
        .repartition(spark.sessionState.conf.numShufflePartitions)
    }
    val sym0 = pairs.union(pairs.select(col("y").as("x"), col("x").as("y")))
      .localCheckpoint() // joined every round
    val labels0 = pairs.select(col("x").as("node"))
      .union(pairs.select(col("y").as("node")))
      .distinct()
      .withColumn("lbl", col("node"))
      .localCheckpoint()
    // The loop below is bound by per-round stage latency, not data: each
    // round is a fixed number of tiny jobs over the (already-thinned)
    // candidate graph, and running them at the session's full shuffle
    // width schedules mostly-empty tasks (measured on the hot-bucket
    // cluster at width 32: ~0.5 s/round of pure overhead × ~13 rounds).
    // Size the width to the MEASURED graph instead — bounded counts,
    // both frames are checkpointed — and run the loop on the memoized
    // child session at that width (`narrowChild`, as the live stream
    // entries do). At cluster scale the measured width saturates at the
    // session width and this is the identity.
    val spark0 = docs.sparkSession
    val sessW = spark0.sessionState.conf.numShufflePartitions
    val graphRows = labels0.count() + 2 * pairs.count()
    val w = math.max(2L, math.min(sessW.toLong, graphRows / 50000L + 1L)).toInt
    val loopS = if (w < sessW) narrowChild(spark0, w) else spark0
    def reroot(df: DataFrame): DataFrame =
      if (loopS eq spark0) df
      else loopS.createDataFrame(df.rdd, df.schema) // shared context: the
      // checkpoint blocks re-root into the child's narrower planner as-is
    val sym = reroot(sym0)
    var labels = reroot(labels0)
    var converged = false
    var it = 0
    while (!converged && it < MaxComponentIters) {
      val prop = labels
        .select(col("node"), col("lbl"), lit(1).as("own"))
        .union(sym.join(labels, col("y") === col("node"))
          .select(col("x").as("node"), col("lbl"), lit(0).as("own")))
        // min over {own label} ∪ {neighbor labels} steps the propagation;
        // the own label rides along as `prev` so the fixed-point test
        // below needs no second join against the previous round
        .groupBy("node").agg(min("lbl").as("lbl"),
          max(when(col("own") === 1, col("lbl"))).as("prev"))
        // materialize before the self-join below: a union-derived plan
        // self-joined trips Catalyst's constraint rewrite (key-not-found
        // on the union's attribute map), and the checkpoint also cuts the
        // doubling lineage
        .localCheckpoint()
      // pointer jumping: adopt the current label OF the label (lbl
      // values are themselves nodes, so this is sound transitivity) —
      // applied TWICE per round on LARGE graphs, where a round's
      // dominant cost is the fixed edge-scan and halving the round
      // count wins (the hot-bucket rep chain, diameter ~780: single
      // jumps converged in 13 rounds, double in 9). On small graphs a
      // round is already sub-0.1 s and the second join costs more than
      // the rounds it saves, so it stays single.
      val propIdx = prop.select(col("node").as("jn"), col("lbl").as("jl"))
      def jump(cur: DataFrame): DataFrame = cur
        .join(propIdx, col("lbl") === col("jn"), "left")
        .select(col("node"),
          least(col("lbl"), coalesce(col("jl"), col("lbl"))).as("lbl"),
          col("prev"))
      val jumped = jump(prop.select(col("node"), col("lbl"), col("prev")))
      val next = if (graphRows > 200000L) jump(jumped) else jumped
      // labels are monotone non-increasing, so "no label decreased" is
      // the fixed point; prev was carried through the aggregate, so this
      // is one filter over the round's own join — NOT an extra join
      converged = next.filter(col("lbl") < col("prev")).isEmpty
      labels = next.select("node", "lbl")
      it += 1
    }
    require(converged,
      s"near-dup components did not converge in $MaxComponentIters rounds")
    labels.select(col("node").as("doc_id"), col("lbl").as("component"))
  }

  /** DuckDB oracle: exact components via a recursive transitive closure —
    * component = min reachable node. Equal to the converged propagation
    * at any diameter (both compute the same fixed point). */
  def nearDupComponentsSql: String = {
    val mhs = (0 until NumHashes).map(i => s"${minhashSql(i)} AS mh$i")
    val sigs = (0 until Bands).map(j => s"${bandSig(j, i => s"mh$i")} AS sig$j")
    val bandRows = (0 until Bands)
      .map(j => s"SELECT doc_id, shingles, $j AS band, sig$j AS sig FROM sigs")
      .mkString("\nUNION ALL\n")
    s"""WITH RECURSIVE sh AS MATERIALIZED ($shingledSql),
       |mh AS (SELECT doc_id, shingles, ${mhs.mkString(", ")} FROM sh),
       |sigs AS (SELECT doc_id, shingles, ${sigs.mkString(", ")} FROM mh),
       |bands AS MATERIALIZED ($bandRows),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS x, b.doc_id AS y
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |pairs AS MATERIALIZED (
       |  SELECT c.x, c.y FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.x
       |  JOIN sh sb ON sb.doc_id = c.y
       |  WHERE len(list_intersect(sa.shingles, sb.shingles))::DOUBLE /
       |        (len(sa.shingles) + len(sb.shingles)
       |         - len(list_intersect(sa.shingles, sb.shingles)))
       |        >= $ComponentJaccard),
       |sym AS (SELECT x, y FROM pairs UNION ALL SELECT y, x FROM pairs),
       |reach(node, lbl) AS (
       |  SELECT node, node AS lbl FROM (
       |    SELECT x AS node FROM pairs UNION SELECT y FROM pairs)
       |  UNION
       |  SELECT sym.x, reach.lbl FROM sym JOIN reach ON reach.node = sym.y)
       |SELECT node AS doc_id, min(lbl) AS component
       |FROM reach GROUP BY node""".stripMargin
  }

  // ---- simhash -------------------------------------------------------
  val SimhashBits = 32

  /** 32-bit SimHash per document: explode tokens, per-bit ±1 sums, sign →
    * bit. The explode+groupBy is one shuffle on doc_id — map-side combine
    * keeps it linear at scale.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val tok = docs
      .selectExpr("doc_id", s"explode(${wordTokens("text")}) as t")
      .selectExpr("doc_id", s"${charHash("t")} as h")
    val sums = (0 until SimhashBits).map(j =>
      sum(expr(s"2 * ((shiftright(h, $j) & 1)) - 1")).as(s"s$j"))
    val bits = (0 until SimhashBits)
      .map(j => s"(case when s$j > 0 then ${1L << j}L else 0L end)")
      .mkString(" + ")
    tok.groupBy("doc_id")
      .agg(sums.head, sums.tail: _*)
      .selectExpr("doc_id", s"$bits as simhash")
  }

  // ---- exact-substring scrub -----------------------------------------

  /** Cross-document duplicated-substring removal (the practical shape of
    * Lee et al. 2022's exact-substring dedup, at word-k-gram
    * granularity): any k-gram of word tokens that appears in ≥ `minDocs`
    * DISTINCT documents is boilerplate; every word position covered by a
    * duplicated k-gram occurrence is removed and the survivors are
    * reassembled in order. Returns (doc_id, n_words, n_removed,
    * clean_text) for every input document (fully-scrubbed docs keep a
    * row with clean_text = '').
    *
    * Scale shape: the shingle explode is a linear ×k blowup; the
    * duplicated-shingle groupBy and the position reassembly are each one
    * map-side-combinable shuffle; covered positions re-enter by
    * (doc, shingle-start) equi-join — no all-pairs stage anywhere, and
    * within-doc repetition (text_repetition's job) deliberately does not
    * trigger removal. */
  def substringScrub(docs: DataFrame, k: Int = 5, minDocs: Int = 2)
      : DataFrame = {
    val words = docs.selectExpr("doc_id", s"${wordTokens("text")} as ws")
    val sh = words.selectExpr("doc_id",
      s"""posexplode(
         |  case when size(ws) >= $k
         |       then transform(sequence(0, size(ws) - $k),
         |                      p -> array_join(slice(ws, p + 1, $k), ' '))
         |       else cast(array() as array<string>) end)
         |  as (p, shingle)""".stripMargin)
    val dup = sh.groupBy("shingle")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= minDocs)
      .select("shingle")
    val covered = sh.join(dup, "shingle")
      .selectExpr("doc_id", s"explode(sequence(p, p + ${k - 1})) as pos")
      .distinct()
    val wordPos = words.selectExpr("doc_id", "posexplode(ws) as (pos, wd)")
    val keptAgg = wordPos
      .join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("wd")))).as("pw"))
    words.join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("ws")).as("n_words"),
        (size(col("ws")) - coalesce(size(col("pw")), lit(0)))
          .cast("int").as("n_removed"),
        coalesce(expr("array_join(transform(pw, x -> x.wd), ' ')"), lit(""))
          .as("clean_text"))
  }

  /** DuckDB twin of [[substringScrub]] (same k-gram windows, same
    * distinct-doc threshold, same position arithmetic). Correlated
    * position ranges use the list-returning `range()` + `unnest` in the
    * SELECT list — the `range()` TABLE function rejects lateral column
    * arguments. */
  def substringScrubSql(k: Int = 5, minDocs: Int = 2): String =
    s"""WITH w AS (SELECT doc_id, ${wordTokensSql("text")} AS ws FROM documents),
       |sh0 AS (
       |  SELECT doc_id, ws,
       |         unnest(range(0, greatest(len(ws) - $k + 1, 0))) AS p
       |  FROM w),
       |sh AS (
       |  SELECT doc_id, p,
       |         array_to_string(ws[p + 1 : p + $k], ' ') AS shingle
       |  FROM sh0),
       |dup AS (SELECT shingle FROM sh GROUP BY shingle
       |        HAVING count(DISTINCT doc_id) >= $minDocs),
       |cov0 AS (
       |  SELECT s.doc_id, unnest(range(s.p, s.p + $k)) AS pos
       |  FROM sh s JOIN dup USING (shingle)),
       |cov AS (SELECT DISTINCT doc_id, pos FROM cov0),
       |wp0 AS (SELECT doc_id, ws, unnest(range(0, len(ws))) AS pos FROM w),
       |wp AS (SELECT doc_id, pos, ws[pos + 1] AS wd FROM wp0),
       |kept AS (
       |  SELECT wp.doc_id, wp.pos, wp.wd
       |  FROM wp LEFT JOIN cov ON wp.doc_id = cov.doc_id AND wp.pos = cov.pos
       |  WHERE cov.pos IS NULL)
       |SELECT doc_id,
       |  CAST(min(len(w.ws)) AS INT) AS n_words,
       |  CAST(min(len(w.ws)) - count(k.pos) AS INT) AS n_removed,
       |  coalesce(string_agg(k.wd, ' ' ORDER BY k.pos), '') AS clean_text
       |FROM w LEFT JOIN kept k USING (doc_id)
       |GROUP BY doc_id""".stripMargin

  def simhashSql: String = {
    val sums = (0 until SimhashBits).map(j =>
      s"sum(case when (h >> $j) & 1 = 1 then 1 else -1 end) AS s$j")
    val bits = (0 until SimhashBits)
      .map(j => s"(case when s$j > 0 then ${1L << j} else 0 end)")
      .mkString(" + ")
    s"""WITH tok0 AS (
       |  SELECT doc_id, unnest(${wordTokensSql("text")}) AS t FROM documents),
       |tok AS (SELECT doc_id, ${charHashSql("t")} AS h FROM tok0),
       |sums AS (SELECT doc_id, ${sums.mkString(", ")} FROM tok GROUP BY doc_id)
       |SELECT doc_id, $bits AS simhash FROM sums""".stripMargin
  }
}
