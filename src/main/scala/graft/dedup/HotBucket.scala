package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Wall-clock evidence for [[BucketGuard]]'s GUARDED path (VERDICT r8
  * #3/#2): every benched corpus short-circuits (no bucket above the
  * cap), so before this entry the chain/representative branch had spec
  * coverage (BucketGuardSpec linearity, [[NearDupRecall]] recall floors)
  * but zero tracked wall time. This runs the full minhash near-dup
  * component sweep over a corpus with a DELIBERATE boilerplate cluster —
  * [[Variants]] near-dup variants of one real document, ~4× past
  * [[BucketGuard.DefaultCap]] (VERDICT r10 #2: 10k variants was ~10×
  * the cap when ~4× exercises the same chain geometry — still >cap
  * buckets, still >RepChainCap rep chains, all 780 signature groups
  * multi-row — at roughly half the pair-sweep cost) — so the guard's
  * hot branch, the thinned candidate set, exact verification, and
  * component convergence all execute and get a warm number in the
  * extended bench series.
  *
  * Correctness pins (in-engine, throwing — the guarded candidate
  * generation has no SQL twin above the cap, so the oracle is the
  * constant-boolean pattern of [[NearDupRecall.reportSql]]). The
  * contract is SCALE-AWARE (VERDICT r10 #3): the invariant reads the
  * corpus's own bucket mass against the cap and asserts the contract
  * the guard actually promises in that regime.
  *
  *  - `hot_bucket_guarded`: the corpus really exercises the guarded
  *    path — some bucket above the DEFAULT cap with mixed full
  *    signatures (at every scale);
  *  - `cluster_one_component`, driver regime (the corpus WITHOUT the
  *    planted cluster has no bucket above the cap — every sf testdata
  *    scale, pinned by BucketGuardSpec): all variants land in ONE
  *    near-dup component — the guard's chain + representative edges
  *    verify and keep the boilerplate cluster whole, the transitive
  *    relation a keep-list consumes;
  *  - `cluster_one_component`, scale regime (the RAW corpus itself
  *    puts foreign-mass buckets above the cap — e.g. the 10× ScaleUp
  *    decade corpus, where every text exists in 10 key-shifted copies
  *    and template families become hot buckets): the intact-cluster
  *    promise no longer applies — foreign representatives legitimately
  *    interleave the rep chains and their cross-edges fail exact
  *    verification, splitting the cluster BY DESIGN (linearity is
  *    bought with exactly that thinning). What the guard DOES promise,
  *    and what is asserted instead: (a) every identical-text variant
  *    group stays WHOLE in one component (fsig chains always connect
  *    identical rows and verify at Jaccard 1), and (b) the variant
  *    cluster splits into at most [[TextGroups]] components (implied
  *    by (a): components can only break BETWEEN text groups, never
  *    inside one);
  *  - `all_variants_present`: no variant was dropped from the
  *    component output entirely (holds at every scale — each text
  *    group has ≥5 identical copies, so every variant has a verified
  *    Jaccard-1 edge).
  */
object HotBucket {
  /** ~4× the default cap — firmly inside the guarded path. */
  val Variants = 4000
  /** Distinct variant texts: token choice cycles mod 13, position
    * cycles mod 60 (17 coprime to 60), CRT ⇒ lcm(13,60) = 780 distinct
    * (position, token) pairs, each with ⌊4000/780⌋ ≥ 5 copies. */
  val TextGroups = 780
  private val VariantBase = 1000000L
  private val BaseTokens = 60
  /** Planted rows are identified by ID RANGE, not a one-sided `>=`:
    * scale-shifted corpora (ScaleUp offsets every key by copy·5·10⁷)
    * put FOREIGN doc_ids far above [[VariantBase]], and the r10
    * one-sided test silently counted 45k foreign component members as
    * "variants" at 10× — the artifact's "55k-row variant cluster" was
    * this mis-attribution, not cluster growth. The base range
    * [10⁶, 10⁶+Variants) is disjoint from every real corpus (copy 0
    * ids < 5·10⁴, copies ≥ 1 ids ≥ 5·10⁷). */
  private def isVariant(c: org.apache.spark.sql.Column) =
    c >= VariantBase && c < VariantBase + Variants

  /** Deterministic corpus: the sf documents plus [[Variants]] near-dup
    * variants of the token-richest doc. Token choice `i % 13` and
    * position `(i*17) % 60` (17 coprime to 60 — positions cycle the
    * whole doc) give lcm(13,60)=780 distinct texts × ~5 copies each,
    * so the hot buckets hold HUNDREDS of distinct full signatures with
    * multi-row fsig groups — both the within-fsig chain edges and the
    * representative cross-links run, over representative sets big
    * enough to be real work. Same construction family as
    * [[NearDupRecall.corpus]], scaled 20×.
    *
    * Cached fingerprint-keyed under the index store (VERDICT r9 #6) —
    * the base-doc scan + variant generation is paid once per source
    * generation instead of per execution; every gate still runs on the
    * sweep itself, which profiling shows is the entry's real cost (see
    * SURVEY §6.6 r10 notes). `_v2` tags the generator version (r11:
    * Variants 10000 → 4000) — bump it if the construction changes, the
    * fingerprint only tracks the source. */
  def corpus(s: SparkSession, dir: String): DataFrame = {
    import graft.index.IndexStore
    val fp = IndexStore.fingerprint(s, Seq(s"$dir/documents.parquet"))
    val parent = new org.apache.hadoop.fs.Path(
      s"${IndexStore.root}/_gatecorpus/${IndexStore.slug(dir)}")
    val dst = new org.apache.hadoop.fs.Path(parent, s"hotbucket_v2_$fp")
    graft.core.LayoutPublish.publish(s, dst) { tmp =>
      buildCorpus(s, dir).write.parquet(tmp.toString)
    }
    // GC on the version-AGNOSTIC prefix (ADVICE r11): sweeping only the
    // current version's prefix would orphan every prior-version cached
    // corpus (full sf corpus + variants per scale dir) on disk forever
    graft.core.LayoutPublish.gcStale(s, parent, "hotbucket_",
      dst.getName)()
    s.read.parquet(dst.toString)
  }

  private def buildCorpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = graft.core.Tables.documents(s, dir)
      .select(col("doc_id").cast("long"), col("text"))
    val base = docs
      .orderBy(size(split(col("text"), "\\s+")).desc, col("doc_id"))
      .limit(1).collect().headOption.getOrElse(throw new IllegalStateException(
        s"dedup_hot_bucket: documents table at $dir is empty"))
    val toks0 = Dedup.tokensOf(base.getString(1)).take(BaseTokens)
    require(toks0.length >= 10,
      s"dedup_hot_bucket: richest doc has only ${toks0.length} tokens")
    val toks = toks0 ++ (toks0.length until BaseTokens).map(j => s"pad$j")
    val variants = (0 until Variants).map { i =>
      val p = (i * 17) % toks.length
      (VariantBase + i, toks.updated(p, s"variant${i % 13}").mkString(" "))
    }
    // distribute the generated cluster across partitions — a single
    // driver-local partition would serialize the signature kernels
    docs.unionByName(variants.toDF("doc_id", "text").repartition(8))
  }

  def report(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = corpus(s, dir).localCheckpoint()
    // Signature pass materialized ONCE and shared by the stats gate AND
    // the component sweep below (r18 — the NearDupRecall r17 fix applied
    // here too: the un-shared form hashed the whole corpus's shingles
    // twice per rep, one full 32-task minhash job each).
    val ds = Dedup.docSignatures(docs).localCheckpoint()
    // One bucket-stats pass feeds BOTH gates below: per (band, sig) —
    // total rows, distinct full signatures, and the FOREIGN row count
    // (ids outside the planted range — the raw corpus without the
    // cluster). The foreign maximum is the regime probe: a corpus whose
    // own mass exceeds the cap is past the guard boundary regardless of
    // the plant (BucketGuardSpec pins that boundary at driver scale;
    // SURVEY.md records it per corpus).
    val stats = Dedup.bandRows(ds)
      .groupBy("band", "sig")
      .agg(count(lit(1)).as("n"), countDistinct("fsig").as("nf"),
        count(when(!isVariant(col("doc_id")), 1)).as("n_foreign"))
      .agg(
        max(when(col("n") > BucketGuard.DefaultCap && col("nf") > 1,
          col("n"))).as("hot_mixed_n"),
        max(col("n_foreign")).as("max_foreign"))
      .head
    // gate 1: the DEFAULT-cap guard must actually take the hot branch —
    // some bucket above the cap with mixed full signatures
    val guarded = !stats.isNullAt(0)
    require(guarded,
      "dedup_hot_bucket: no bucket exceeded the default cap with " +
        s"mixed signatures (max foreign bucket: ${stats.getLong(1)})")
    val scaleRegime = stats.getLong(1) > BucketGuard.DefaultCap
    // the sweep under test: DEFAULT cap — the production configuration
    // (sigs: the shared signature frame above — no second minhash pass)
    val comp = Dedup.nearDupComponents(docs, sigs = Some(ds))
    // variant text-group key recovered from the id arithmetic above:
    // i = doc_id − base, text = ((i·17) mod 60, i mod 13)
    val v = comp.filter(isVariant(col("doc_id")))
      .withColumn("grp",
        ((col("doc_id") - VariantBase) * 17 % 60) * 13 +
          (col("doc_id") - VariantBase) % 13)
      .groupBy("grp")
      .agg(count(lit(1)).as("gn"), countDistinct("component").as("gc"),
        min("component").as("gcomp"))
      .agg(sum("gn").as("n_variants"),
        max("gc").as("max_group_split"),
        countDistinct("gcomp").as("n_components"),
        count(lit(1)).as("n_groups"))
      .head
    val allPresent = v.getLong(0) == Variants.toLong
    require(allPresent,
      s"dedup_hot_bucket: ${v.getLong(0)}/$Variants variants in the " +
        "component output")
    val clusterOk =
      if (!scaleRegime) {
        // driver regime: the planted cluster is the only hot mass — the
        // chain + representative edges all verify, cluster stays WHOLE
        val one = v.getLong(2) == 1L && v.getLong(1) == 1L
        require(one,
          s"dedup_hot_bucket: cluster split under the guard at driver " +
            s"scale — ${v.getLong(3)} groups in ${v.getLong(2)} " +
            s"component(s), worst group split ${v.getLong(1)}")
        one
      } else {
        // scale regime: foreign hot mass interleaves the rep chains and
        // the cluster legitimately splits BETWEEN text groups; the
        // guard's promise is that no identical-text group splits. (A
        // component-count bound would be tautological here — it's a
        // countDistinct over the ≤ TextGroups group rows, so the
        // grouping itself implies it; ADVICE r11.)
        val whole = v.getLong(1) == 1L
        require(whole,
          s"dedup_hot_bucket: identical-text group split past the guard " +
            s"boundary — worst group split ${v.getLong(1)} (must be 1) " +
            s"over ${v.getLong(3)} groups")
        whole
      }
    Seq(("all_variants_present", allPresent),
      ("cluster_one_component", clusterOk),
      ("hot_bucket_guarded", guarded))
      .toDF("scenario", "ok")
  }

  /** Constant oracle — the measured invariants gate in-engine (the
    * [[NearDupRecall.reportSql]] pattern). */
  def reportSql: String =
    Seq("all_variants_present", "cluster_one_component",
      "hot_bucket_guarded")
      .map(m => s"SELECT '$m' AS scenario, CAST(1 AS BOOLEAN) AS ok")
      .mkString("\nUNION ALL\n") + "\nORDER BY scenario"
}
