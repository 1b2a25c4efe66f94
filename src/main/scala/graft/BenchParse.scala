package graft

/** Pure parsing + rotation logic behind the bench's self-reporting
  * (regression tripwire baselines, extra-draw rotation), and the JSON
  * writers the bench's artifacts are rendered with.
  *
  * These parsers read the PREVIOUS run's bench_full.json and fail
  * OPEN by design — a missing or unparsable artifact must never crash
  * a bench run, it must disarm the tripwire visibly
  * (`regressed_baseline` records how many entries were parsed, so
  * disarmed ≠ clean in the artifact). That fail-open posture is
  * exactly why the logic is pure and spec-pinned: a silent format drift
  * between what Bench WRITES and what these parsers READ would disarm
  * the tripwire on every future run. BenchParseSpec pins each parser
  * against a synthetic fixture and the repo's committed
  * bench_full.json; BenchReportSpec feeds the writer's output back
  * through them.
  */
object BenchParse {
  /** The artifact's JSON writers, shared by [[Bench.render]] and
    * [[historyJson]]: numbers are rounded to ms, and every string is
    * escaped (a raw quote or backslash in a path would corrupt the
    * artifact and disarm every parser here on the next run). */
  def r3(v: Double): String = BigDecimal(v)
    .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
  def jstr(s: String): String = "\"" + s.replace("\\", "\\\\")
    .replace("\"", "\\\"").replaceAll("[\\x00-\\x1f]", " ") + "\""
  /** An object of (key, rendered value) fields, in order. */
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
  def jmap(vs: Seq[(String, Double)]): String =
    obj(vs.map { case (k, v) => k -> r3(v) }: _*)
  def jlist(vs: Seq[String]): String = vs.map(jstr).mkString("[", ",", "]")
  def jnums(vs: Seq[Double]): String = vs.map(r3).mkString("[", ",", "]")

  /** All `"name":number` entries of a JSON-object body (no nesting). */
  def numMap(block: String): Map[String, Double] =
    """"([^"]+)":([0-9.Ee+\-]+)""".r.findAllMatchIn(block)
      .map(x => x.group(1) -> x.group(2).toDouble).toMap

  /** Headline warm medians: the FIRST "queries" map in the artifact
    * (the extended series' map nests later in the text). */
  def headlineWarm(txt: String): Map[String, Double] =
    """"queries":\{([^}]*)\}""".r.findFirstMatchIn(txt)
      .map(m => numMap(m.group(1))).getOrElse(Map.empty)

  /** Extended-series warm floors: the first "queries" map nested
    * inside the "extended" section. */
  def extendedWarm(txt: String): Map[String, Double] =
    """(?s)"extended":\{.*?"queries":\{([^}]*)\}""".r
      .findFirstMatchIn(txt).map(m => numMap(m.group(1)))
      .getOrElse(Map.empty)

  /** Headline cold total: the first "cold_total" in the text (the
    * extended section's nests later). */
  def coldTotal(txt: String): Option[Double] =
    """"cold_total":([0-9.Ee+\-]+)""".r.findFirstMatchIn(txt)
      .map(_.group(1).toDouble)

  /** The previous run's extra-draw source dir, if it ran (a skipped
    * stand-in has no "src" field and parses to None — rotation then
    * restarts at the sf0.001 draw, the cheap one). */
  def extraDrawSrc(txt: String): Option[String] =
    """"extra_draw":\{"src":"([^"]+)"""".r.findFirstMatchIn(txt)
      .map(_.group(1))

  /** The previous extra draw's replication factor (with [[extraDrawSrc]]
    * it identifies the draw for the three-way rotation below; absent on
    * artifacts from before the 100× draw existed — those carried only
    * the two-way rotation's draws, whose sources alone disambiguate, so
    * rotation treats a missing factor as the src's historical one). */
  def extraDrawFactor(txt: String): Option[Int] =
    """"extra_draw":\{"src":"[^"]+","rows_factor":([0-9]+)""".r
      .findFirstMatchIn(txt).map(_.group(1).toInt)

  /** The previous run's extra draw as (src, factor), for rotation. */
  def extraDraw(txt: String): Option[(String, Int)] =
    extraDrawSrc(txt).map { src =>
      (src, extraDrawFactor(txt).getOrElse(
        if (src.endsWith("sf0.01")) 30 else 10))
    }

  /** Three-way round-robin for the rotating extra-scale certification:
    * 10× sf0.001 → 30× sf0.01 → 100× sf0.001 → back. 100× sf0.001 is ~sf0.1 row volume with
    * 100×-replicated key geometry — the first factor where foreign hot
    * mass dominates every hot bucket, exercising the two-regime
    * contracts (BucketGuard, union-find cap, adaptive-k PQ) past the
    * 10–30× they were proven at. No (parsable) previous draw → the
    * cheap sf0.001 10× one. */
  def pickExtraDraw(prev: Option[(String, Int)]): (String, Int) =
    prev match {
      case Some((s, f)) if s.endsWith("sf0.001") && f >= 100 =>
        ("sf0.001", 10)
      case Some((s, _)) if s.endsWith("sf0.001") => ("sf0.01", 30)
      case Some((s, _)) if s.endsWith("sf0.01") => ("sf0.001", 100)
      case _ => ("sf0.001", 10)
    }

  /** The corpus a history file's draws were measured on — bands from a
    * different scale must never arm a tripwire (a validation run at
    * sf0.001 would otherwise poison the sf0.1 bands). */
  def historySf(txt: String): Option[String] =
    """\{"sf":"([^"]+)"""".r.findFirstMatchIn(txt).map(_.group(1))

  /** The core count the history's draws were measured at. The committed
    * bands are 32-core draws and Bench defaults to local[4], and
    * SPARK_GRAFT_CPUS is history-neutral, so without this tag a run at
    * another core count would append walls of a different box straight
    * into the bands. Same discipline as the scale tag: the consumer
    * checks with `contains`, so a missing or torn tag FAILS CLOSED
    * (neither arms nor appends). */
  def historyCpus(txt: String): Option[String] =
    """"cpus":"([^"]+)"""".r.findFirstMatchIn(txt).map(_.group(1))

  /** Top-level numeric-array keys of the history file that are
    * run-level metadata, never band entries: the settled CPU probes
    * and the settled I/O probes. */
  val ReservedHistoryKeys: Set[String] = Set("probes", "io_probes")

  /** Rolling per-entry warm-value history (bench_history.json): the
    * last ≤[[HistoryCap]] committed full-run draws per entry,
    * most-recent-LAST. The top-level [[ReservedHistoryKeys]] arrays are
    * run-level metadata, not entries. Fails open to empty like every
    * parser here. */
  def history(txt: String): Map[String, Seq[Double]] =
    """"([^"]+)":\[([0-9.,Ee+\- ]*)\]""".r.findAllMatchIn(txt).map { m =>
      m.group(1) -> m.group(2).split(",").toSeq.map(_.trim)
        .filter(_.nonEmpty).flatMap(_.toDoubleOption)
    }.toMap.filter(_._2.nonEmpty) -- ReservedHistoryKeys

  /** The run-level settled-probe readings stored alongside the history
    * draws: one per accepted committed run. NOT per-draw aligned —
    * older draws have no probe, and an entry flagged in a run skips that
    * draw while the run's probe still lands — so a band fire's
    * probe_ratio (this run's settled probe ÷ the mean of these) reads as
    * "this box vs recent accepted runs' boxes", a best-effort drift
    * annotation, not an exact per-draw comparison. Absent on older files
    * → empty (the annotation is then omitted, never guessed). */
  def historyProbes(txt: String): Seq[Double] =
    """"probes":\[([0-9.,Ee+\- ]*)\]""".r.findFirstMatchIn(txt)
      .map(_.group(1).split(",").toSeq.map(_.trim)
        .filter(_.nonEmpty).flatMap(_.toDoubleOption))
      .getOrElse(Seq.empty)

  /** The run-level settled I/O-probe readings stored alongside the
    * history draws: one per accepted committed run — the wall seconds of
    * the fixed write-fsync-plus-corpus-read job at its quietest observed
    * point in that run. A band fire's `io_ratio` (this run's WORST
    * reading ÷ the mean of these) adjudicates file-heavy entries slow on
    * a flat CPU probe from the artifact alone: a high io_ratio says the
    * box's I/O path (page cache, dirty writeback, disk contention) was
    * degraded, which the CPU probe is blind to. Same best-effort
    * run-level contract as [[historyProbes]]; absent on older files →
    * empty (annotation omitted, never guessed). The regex cannot match
    * the plain "probes" key (it requires the `io_` prefix inside the
    * quotes). */
  def historyIoProbes(txt: String): Seq[Double] =
    """"io_probes":\[([0-9.,Ee+\- ]*)\]""".r.findFirstMatchIn(txt)
      .map(_.group(1).split(",").toSeq.map(_.trim)
        .filter(_.nonEmpty).flatMap(_.toDoubleOption))
      .getOrElse(Seq.empty)

  val HistoryCap = 5

  /** Serialize an updated history: append this run's warm values (and
    * its settled probe) and keep the most recent [[HistoryCap]] per
    * entry. Entries absent from this run (failed, or renamed away)
    * retain their tail so one bad draw doesn't erase an armed band;
    * entries gone from the catalog stop being read and age out with the
    * file. */
  def historyJson(prev: Map[String, Seq[Double]],
      current: Map[String, Double], sf: String,
      prevProbes: Seq[Double] = Seq.empty,
      probe: Option[Double] = None,
      // no default: the writer must stamp the REAL core count of the
      // run producing the draws — a silent default here is exactly the
      // pollution path the tag exists to close
      cpus: String,
      prevIoProbes: Seq[Double] = Seq.empty,
      ioProbe: Option[Double] = None): String = {
    val merged = (prev.keySet ++ current.keySet).toSeq.sorted.map { n =>
      n -> jnums((prev.getOrElse(n, Seq.empty) ++ current.get(n))
        .takeRight(HistoryCap))
    }
    def probeArr(key: String, prevVals: Seq[Double],
        cur: Option[Double]): Seq[(String, String)] = {
      val vs = (prevVals ++ cur.filter(_ > 0)).takeRight(HistoryCap)
      if (vs.isEmpty) Nil else Seq(key -> jnums(vs))
    }
    obj(Seq("sf" -> jstr(sf), "cpus" -> jstr(cpus),
      "cap" -> HistoryCap.toString) ++
      probeArr("probes", prevProbes, probe) ++
      probeArr("io_probes", prevIoProbes, ioProbe) :+
      ("entries" -> obj(merged: _*)): _*)
  }

  /** History WRITE eligibility is structural: a run with ANY
    * non-default bench configuration — a forced extra draw, a changed
    * deadline, a diverted artifact, a partial series — must not append
    * to the committed band history, because the failure mode (one
    * forgotten env var pollutes every band, widening every tripwire) is
    * silent. The allowlist names the ONLY knobs a band-eligible run may
    * set: the corpus, the core count, and the history path itself (the
    * divert mechanism — pointing the write elsewhere is safe by
    * construction). Returns the offending keys so the artifact can say
    * WHY a run was ineligible. */
  val HistoryNeutralEnv: Set[String] = Set(
    "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_BENCH_HISTORY")

  def nonDefaultBenchEnv(envKeys: Iterable[String]): Seq[String] =
    envKeys.filter(k => k.startsWith("SPARK_GRAFT_") &&
      !HistoryNeutralEnv(k)).toSeq.sorted

  /** The warm value above which a banded entry flags. A plain
    * max(band)×1.3 is outlier-fragile: one noisy draw in a band arms it
    * far above its median (ann_ip_mips armed at 0.73 s ≈ 4× its 0.18 s
    * median), and a real 3× regression sails under the tripwire until
    * the outlier ages out of the 5-draw window. So the single largest
    * draw is TRIMMED before taking the max (with ≥4 draws — a 3-draw
    * band has no room to trim), and the arm never drops below
    * median×1.5 so a coincidentally tight cluster can't arm inside the
    * ±30–40% quiet-box noise width. Against the committed
    * bench_history.json this arms 95% of entries within 1.55× of their
    * median (untrimmed rule: 60%), while a genuine 2× exit still fires
    * everywhere. */
  def armThreshold(band: Seq[Double]): Double = {
    val s = band.sorted
    val trimmedMax = if (s.size >= 4) s(s.size - 2) else s.last
    val median = s(s.size / 2)
    math.max(1.3 * trimmedMax, 1.5 * median)
  }

  /** Variance-aware regression verdict: with ≥3 prior draws the
    * tripwire flags only an EXIT from the observed band's [[armThreshold]] — outlier-trimmed, median-floored
    * — so neither run-to-run noise inside the band nor one historic
    * noisy draw costs a manual adjudication. With a thin band (<3
    * draws) it falls back to the single-baseline 1.5× rule. Sub-0.2 s
    * entries are never flagged (pure scheduling noise). */
  def bandRegressed(warm: Double, band: Seq[Double],
      prevWarm: Option[Double]): Boolean =
    if (warm < 0.2) false
    else if (band.size >= 3) warm > armThreshold(band)
    else prevWarm.exists(p => warm > 1.5 * p)

  /** Outcome accounting of one `tools/oracle_check.py` run. The rules a
    * truncated run must obey:
    *
    *  - the trailing `== N pass, M fail ==` summary line is the only
    *    proof the compare ran to the end;
    *  - without it, every query not proven PASS counts as FAILED
    *    (`unreached`) — a mid-stream duckdb crash/OOM can cost pass
    *    rows, it can NEVER present as zero failures;
    *  - dump-side failures (entries `Verify.dump` could not produce)
    *    are failures of the same certification, merged and deduped.
    *
    * Pure so the truncation semantics are spec-pinned (a synthetic
    * kill in BenchParseSpec) instead of only exercised when a real
    * crash happens mid-run. */
  final case class OracleOutcome(passed: Int, failedNames: Seq[String],
      complete: Boolean, unreached: Int) {
    def failCount: Int = failedNames.size + unreached
  }

  def oracleOutcome(out: String, checked: Int,
      dumpFailed: Seq[String]): OracleOutcome = {
    val lines = out.linesIterator.toSeq
    val passed = lines.count(_.startsWith("PASS "))
    val failedNames = (lines.collect {
      case l if l.startsWith("FAIL ") =>
        l.stripPrefix("FAIL ").takeWhile(c => c != ':' && c != ' ')
    } ++ dumpFailed).distinct.sorted
    val complete = lines.exists(_.startsWith("== "))
    val unreached =
      if (complete) 0
      else math.max(0, checked - passed - failedNames.size)
    OracleOutcome(passed, failedNames, complete, unreached)
  }
}
