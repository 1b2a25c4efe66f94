package graft

/** Driver-run benchmark: one JSON line with the warm (steady-state)
  * headline total as the primary metric, plus the cold pass and the
  * index/graph build phase timed separately — the reference's own
  * benchmarks time searches against an already-built index, never index
  * construction per query (`hybrid_search.py:77-117`).
  *
  * Emission is TWO-PHASE (VERDICT r13 #1): the artifact and the compact
  * summary line are produced as soon as the timed series finish, with
  * pending stand-ins for the certification sections; the certifications
  * (decade probe, decade correctness, rotating extra-scale draw) then
  * run under an elapsed-time deadline, re-writing the artifact as each
  * lands, and the final line re-prints with everything. A wall-clock
  * kill can therefore cost a cert section — never the round's measured
  * numbers (r13's driver bench timed out mid-cert at rc=124 and the
  * round lost its parsed perf artifact).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSpark.cpus
    val spark = LocalSpark.session()
    // Wall-clock origin for every per-rep/per-probe timestamp below
    // (VERDICT r10 #1): offsets in seconds from this instant, plus the
    // absolute epoch in the artifact, make a co-tenant load window
    // directly visible from the JSON alone — adjacent entries slowing
    // in the same wall-clock interval on a flat probe line is noise;
    // the same entries slow on a probe line that also rose is box load.
    val benchT0 = System.nanoTime()
    val benchEpochMs = System.currentTimeMillis()
    def nowT: Double = (System.nanoTime() - benchT0) / 1e9
    // Warm the JVM/scheduler once (session init, codegen compiler, shuffle
    // machinery) so the build phase isn't charged for it.
    try {
      spark.range(1 << 18).selectExpr("sum(id)").collect()
      SparkEntry.entry(spark).count()
    } catch { case scala.util.control.NonFatal(_) => () }
    // Calibration probe (VERDICT r8 #5): a fixed synthetic job timed
    // AFTER warm-up — pure CPU + scheduling, no I/O, no plan reuse with
    // any catalog query — so co-tenant drift between runs is a number in
    // the artifact (compare probe_sec across runs before reading a
    // query delta as a regression). Median of 3. Re-measured at fixed
    // checkpoints through the run (VERDICT r10 #1) — probe_points below
    // — so a load window is localized in time, not just detected.
    def measureProbe(): Double = {
      def one(): Double = {
        val t0 = System.nanoTime()
        // modded products keep the ANSI sum far inside Long range
        // (≈ 2^24 · 2^32 ≪ 2^63) while staying CPU-bound
        spark.range(1L << 24)
          .selectExpr("sum((id % 65536) * (id % 65537))").collect()
        (System.nanoTime() - t0) / 1e9
      }
      try { val xs = Seq.fill(3)(one()).sorted; xs(1) }
      catch { case scala.util.control.NonFatal(_) => -1.0 }
    }
    val probePoints = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
    def probeAt(label: String): Double = {
      val t = nowT; val s = measureProbe()
      probePoints += ((label, t, s)); s
    }
    val probeFirst = probeAt("warmup")
    // ---- warm-up gate (VERDICT r14 #1): both r14 draws' first probe
    // read ~0.20 vs 0.04–0.07 at end-of-run — async JIT/page-cache
    // warm-up landing inside the first ~3 min of the headline series
    // inflated ~15 sub-second entries by ~+0.3 s each, and three
    // straight rounds hand-adjudicated the same artifact. So the timed
    // series does not START until the calibration probe is FLAT: loop
    // generic settle work (shuffle+agg with string/hash expressions, a
    // real parquet scan — the machinery the catalog queries exercise,
    // distinct from the probe's own shape) and re-probe, for at least
    // MinIters iterations, until two consecutive probes land within
    // 1.5× of each other AND the latest sits within 1.25× of the best
    // seen (a falling trend must PLATEAU, not merely hold its early
    // plateau), bounded by a wall cap. Every reading lands in the
    // artifact (`warmup` section); a cap exit with settled:false means
    // the box never went quiet — the run's numbers carry that flag
    // instead of needing a judge to cross-reference probe_points.
    val wuCap = sys.env.get("SPARK_GRAFT_WARMUP_CAP")
      .flatMap(_.toDoubleOption).getOrElse(120.0)
    val WuMinIters = 3
    val wuProbes = scala.collection.mutable.ArrayBuffer[Double](probeFirst)
    import org.apache.spark.sql.functions.expr
    def settleOnce(): Unit = try {
      spark.range(1L << 21)
        .selectExpr("id % 997 AS k", "id AS v",
          "concat('s', id % 101) AS s")
        .groupBy("k")
        .agg(expr("sum(v)"), expr("count(distinct s)"),
          expr("sum(hash(s))"))
        .count()
      core.Tables.lineitem(spark, sfDir)
        .selectExpr("sum(hash(l_comment))", "max(l_shipdate)").collect()
    } catch { case scala.util.control.NonFatal(_) => () }
    var wuSettled = false
    var wuIters = 0
    val wuT0 = nowT
    while (!wuSettled && nowT - wuT0 < wuCap) {
      settleOnce()
      val p = measureProbe(); wuProbes += p; wuIters += 1
      val prev = wuProbes(wuProbes.size - 2)
      // minOption (ADVICE r15): measureProbe returns -1.0 on failure, so
      // an all-failing probe set must keep the loop fail-open (cap exit,
      // settled:false) instead of crashing the bench on empty.min
      val best = wuProbes.filter(_ > 0).minOption.getOrElse(-1.0)
      wuSettled = wuIters >= WuMinIters && p > 0 && prev > 0 && best > 0 &&
        math.max(p, prev) <= 1.5 * math.min(p, prev) && p <= 1.25 * best
    }
    // `probe_sec` is the SETTLED reading from r15 on — the steady-state
    // baseline cross-run comparisons actually want (the first reading
    // stays visible as probe_points[0] / warmup.probes[0])
    val probeSec = wuProbes.filter(_ > 0).lastOption.getOrElse(probeFirst)
    probePoints += (("warmup_settled", nowT, probeSec))
    // ---- I/O-state probe (VERDICT r16 #1): the CPU probe is blind to
    // page-cache / dirty-writeback / disk state — r16 run 2's nine band
    // fires (all file-class entries, flat CPU probe at 1.066) still
    // cost a hand-run fresh-JVM panel to adjudicate. This probe times a
    // fixed filesystem job: write 32 MiB to the index-store filesystem
    // and fsync it (under dirty-writeback pressure — the r16 scenario:
    // a 100x validation draw churned GBs minutes earlier — the fsync
    // stalls), then stream every corpus table file once (a cold page
    // cache reads disk, a warm one memory). Median of 3 like the CPU
    // probe; -1 on failure (fail-open, annotation omitted). On a tmpfs
    // index root it degrades to a memory-bandwidth reading — still
    // comparable against HISTORY readings from the same box, which is
    // the only comparison io_ratio makes.
    def measureIoProbe(): Double = {
      def one(): Double = {
        val t0 = System.nanoTime()
        val root = java.nio.file.Paths.get(index.IndexStore.root)
        java.nio.file.Files.createDirectories(root)
        val tmp = root.resolve(
          s"_io_probe_${ProcessHandle.current().pid()}")
        val buf = java.nio.ByteBuffer.allocate(1 << 20)
        val ch = java.nio.channels.FileChannel.open(tmp,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE,
          java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
        try {
          var i = 0
          while (i < 32) { buf.rewind(); ch.write(buf); i += 1 }
          ch.force(false)
        } finally {
          ch.close(); java.nio.file.Files.deleteIfExists(tmp)
        }
        def readAll(f: java.io.File): Unit =
          if (f.isDirectory) {
            val fs = f.listFiles(); if (fs != null) fs.foreach(readAll)
          } else if (f.isFile) {
            val in = new java.io.FileInputStream(f)
            try {
              val b = new Array[Byte](1 << 20)
              while (in.read(b) >= 0) ()
            } finally in.close()
          }
        ScaleUp.tables.foreach(t =>
          readAll(new java.io.File(s"$sfDir/$t.parquet")))
        (System.nanoTime() - t0) / 1e9
      }
      try { val xs = Seq.fill(3)(one()).sorted; xs(1) }
      catch { case scala.util.control.NonFatal(_) => -1.0 }
    }
    // readings bracket the TIMED series only (settle → between the two
    // series → after them): the cert phase's dump/ScaleUp churn is
    // EXPECTED I/O every run and would saturate a post-cert reading
    val ioPoints = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
    def ioAt(label: String): Double = {
      val t = nowT; val s = measureIoProbe()
      ioPoints += ((label, t, s)); s
    }
    ioAt("warmup_settled")
    // ---- build phase, timed separately: persistent retrieval indexes
    // (force-rebuilt so the cost is real, not a cache hit from a prior
    // run) and the derived graph with BOTH relations materialized.
    val tb = System.nanoTime()
    val buildFailed =
      try {
        index.Indexes.invalidateAll(spark, sfDir)
        index.Indexes.buildAll(spark, sfDir)
        val g = graph.TpchGraph.build(spark, sfDir)
        // touch the memoized counts so the Graph's lazy sizes (the
        // broadcast-hint gates) are populated in the build phase, not
        // billed to the first graph query's cold rep (r17); same for the
        // persisted adjacency-with-degree the rank loops share (r18)
        g.edgeCount; g.nodeCount
        g.edgesOd.foreach(_ => ())
        false
      } catch { case scala.util.control.NonFatal(t) =>
        System.err.println(s"[bench] build phase failed: $t"); true
      }
    val buildSec = (System.nanoTime() - tb) / 1e9
    // ---- headline queries (Q.bench flag), in stable catalog order, each
    // run 4 times: rep 1 pays per-plan codegen/compilation (reported as
    // cold, EXCLUDED from the warm metric), and warm is the MEDIAN of the
    // 3 remaining steady-state reps — so neither the cold rep nor a
    // one-off GC/JIT spike can dominate the headline. A failed rep is
    // recorded in `failed` and excluded from the totals instead of
    // contributing a bogus near-zero duration.
    val WarmReps = 3
    // Dev-only focus filter (comma-separated names): lets a builder time
    // one regressed query with the exact driver discipline (cold, settle,
    // 3-rep median) without the full catalog sweep. Unset on the driver.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val benched = Catalog.all.filter(_.bench)
      .filter(q => only.forall(_.contains(q.name)))
    // The focus filter also reaches EXTENDED entries (they run with the
    // extended discipline below) — the slow entries a builder most needs
    // to triage are usually extended ones. A filter that matches nothing
    // in EITHER series (a typo) must fail loudly, not report a 0.0-total
    // run and clobber bench_full.json.
    val extFocused = Catalog.all.filterNot(_.bench)
      .filter(q => only.exists(_.contains(q.name)))
    only.foreach { names =>
      require(benched.nonEmpty || extFocused.nonEmpty,
        s"SPARK_GRAFT_BENCH_ONLY matched no catalog entry: $names " +
          s"(benched catalog: ${Catalog.all.filter(_.bench).map(_.name).sorted.mkString(", ")})")
      val unknown = names -- Catalog.all.map(_.name).toSet
      if (unknown.nonEmpty) System.err.println(
        s"[bench] WARNING: SPARK_GRAFT_BENCH_ONLY names not in the catalog: $unknown")
    }
    // mid-headline probe (VERDICT r11 #6): the headline series runs
    // inside a multi-minute window with probes only at its endpoints —
    // one probe halfway through halves the blame window when a drift
    // has to be attributed to box load vs code.
    val midIdx = benched.size / 2
    val results = benched.zipWithIndex.map { case (q, qi) =>
      if (qi == midIdx && benched.size > 10) probeAt("mid_headline")
      // start offset (sec from bench origin) of every rep, in execution
      // order cold/settle/warm… — emitted as `t_start` next to the rep
      // durations so the artifact localizes a load window in wall time
      val repT = scala.collection.mutable.ArrayBuffer.empty[Double]
      def rep(): Option[Double] = {
        repT += nowT
        val t0 = System.nanoTime()
        try { q.run(spark, sfDir).count() } catch {
          case scala.util.control.NonFatal(t) =>
            System.err.println(s"[bench] ${q.name} failed: $t"); return None
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // Per-REP GC, outside the timed window: it releases dead
        // localCheckpoint blocks between reps, so a checkpoint-heavy query
        // (pagerank: ~5 checkpointed tables per rep) cannot bill storage-
        // eviction pressure from its own earlier reps to its timed reps.
        // LIVE state (built graph, index readers) is object-held and
        // survives — do NOT clearCache() here, that would unpersist the
        // build phase's materializations.
        System.gc()
        Some(dt)
      }
      val cold = rep()
      // one settle rep between cold and the warm medians, TIMED but
      // excluded from every total: the cold rep pays Janino codegen, but
      // HotSpot C2 compilation of the generated classes lands
      // asynchronously during the next run — without the settle rep it
      // bleeds into the first warm rep and moves driver-measured medians
      // ~18% between JVMs (VERDICT r6 #4). Recording it (r10) makes the
      // artifact show the C2 tail instead of asserting it.
      val settle = if (cold.isDefined) rep() else None
      val warmReps = Seq.fill(WarmReps)(rep()).flatten
      val warm =
        if (cold.isDefined && warmReps.size == WarmReps)
          Some(warmReps.sorted.apply(WarmReps / 2))
        else None
      (q.name, cold, settle, warmReps, warm, repT.toSeq)
    }
    probeAt("post_headline")
    ioAt("post_headline")
    // ---- extended series (VERDICT r8 #1): every oracled catalog entry
    // NOT in the frozen 57-query headline set, timed with a lighter
    // discipline (cold + min-of-2 warm — a regression tripwire, not the
    // round-comparable headline; min is the steady-state floor, robust
    // both to a one-off GC spike and to async C2 compilation landing in
    // the first warm rep, so no separate settle rep — at 136 entries
    // each extra exec is ~2 min of driver wall). Reported as a SEPARATE
    // total so the headline series stays comparable across rounds.
    // Skipped under a dev focus filter and by SPARK_GRAFT_BENCH_EXT=off.
    val ExtWarmReps = 2
    val extended =
      if (sys.env.get("SPARK_GRAFT_BENCH_EXT").contains("off")) Seq.empty
      else (if (only.isDefined) extFocused
            else Catalog.all.filterNot(_.bench)).map { q =>
        def rep(): Option[Double] = {
          val t0 = System.nanoTime()
          try { q.run(spark, sfDir).count() } catch {
            case scala.util.control.NonFatal(t) =>
              System.err.println(s"[bench] ext ${q.name} failed: $t")
              return None
          }
          Some((System.nanoTime() - t0) / 1e9)
        }
        val cold = rep()
        // settle rep for non-trivial entries (VERDICT r11 #7): under
        // min-of-2 the async-C2 tail that the headline's settle rep
        // absorbs can still land in BOTH timed reps of a sub-second
        // entry and read as a ×1.5 unchanged-code drift
        // (hybrid_search_weighted, text_langid in r11). One untimed
        // settle rep for entries whose cold exceeds 0.4 s costs ~30 s
        // over the series and removes that false-positive class; the
        // truly tiny entries keep the 2-rep budget.
        if (cold.exists(_ > 0.4)) rep()
        val warmReps = Seq.fill(ExtWarmReps)(rep()).flatten
        val warm =
          if (cold.isDefined && warmReps.size == ExtWarmReps)
            Some(warmReps.min)
          else None
        System.gc() // same dead-block release as the main loop
        (q.name, cold, warm)
      }
    if (extended.nonEmpty) { probeAt("post_extended"); ioAt("post_extended") }
    val extGood = extended.collect { case (n, c, Some(w)) => (n, c.getOrElse(w), w) }
    val extFailed = extended.collect { case (n, _, None) => "\"" + n + "\"" }
    val extWarmTotal = extGood.map(_._3).sum
    val extColdTotal = extGood.map(_._2).sum

    // Round to ms so the line stays compact; the FINAL stdout line of
    // the process is the authoritative summary (Spark is stopped before
    // it so shutdown logging can't trail it), and a phase-1 insurance
    // line (marked "partial") lands before the certifications below.
    def r3(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def jmap(vs: Seq[(String, Double)]): String =
      vs.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    // JSON string escape for every interpolated path/reason (ADVICE r13:
    // a raw $dDir/$src interpolation containing a quote or backslash
    // would corrupt the artifact and disarm every BenchParse tripwire
    // on the next round)
    def jstr(s: String): String = "\"" + s.replace("\\", "\\\\")
      .replace("\"", "\\\"").replaceAll("[\\x00-\\x1f]", " ") + "\""
    val good = results.collect { case (n, c, _, _, Some(w), _) => (n, c.getOrElse(w), w) }
    val failed = results.collect { case (n, _, _, _, None, _) => "\"" + n + "\"" }
    // per-rep evidence (VERDICT r9 #2): every headline entry's raw rep
    // sequence — cold, settle, and ALL warm reps in execution order — so
    // a warm-median anomaly is adjudicable from the artifact alone
    // (rising reps = state accumulating inside the JVM; one spike =
    // noise; flat-but-slow = the plan) without burning a judge session
    // reproducing it.
    // `t_start` (r11, VERDICT r10 #1): wall-clock start offset of every
    // rep in execution order (cold, settle, warm…), seconds from
    // `bench_epoch_ms` — cross-reference with `probe_points` to see
    // whether an anomalous rep sits inside a measured load window.
    val repsJson = results.collect { case (n, c, st, ws, Some(_), ts) =>
      "\"" + n + "\":{" +
        c.map(v => s""""cold":${r3(v)},""").getOrElse("") +
        st.map(v => s""""settle":${r3(v)},""").getOrElse("") +
        s""""warm_reps":[${ws.map(r3).mkString(",")}],""" +
        s""""t_start":[${ts.map(r3).mkString(",")}]}"""
    }.mkString("{", ",", "}")
    val warmTotal = good.map(_._3).sum
    val coldTotal = good.map(_._2).sum
    // ---- scale curve (VERDICT r6 #3): rerun the slowest-10 warm
    // queries at the sibling smaller scale factor IN THIS JVM and report
    // warm-vs-warm ratios. Rows grow 10× between sf0.01 and sf0.1, so a
    // scan-bound query should show ratio well under 10 (sub-linear wall
    // = fixed stage latency amortizing); ratio > 10 on a non-noise base
    // (small-scale warm ≥ 50 ms) marks the query for a plan audit.
    val scaleDir = sys.env.get("SPARK_GRAFT_SCALE_DIR")
      .orElse(if (sfDir.endsWith("sf0.1"))
        Some(sfDir.stripSuffix("sf0.1") + "sf0.01") else None)
      .filter(d => new java.io.File(d).isDirectory)
    val scalingJson = scaleDir.map { sd =>
      // slowest-10 across the UNION of headline + extended series
      // (VERDICT r8 #1: "superlinear empty across the union") — a
      // heavy extended entry gets the same scale audit as a headline one
      val slow = (good ++ extGood).sortBy(-_._3).take(10)
      val entries = slow.flatMap { case (n, _, warmBig) =>
        val q = Catalog.byName(n)
        def rep(): Option[Double] = {
          val t0 = System.nanoTime()
          try { q.run(spark, sd).count() } catch {
            case scala.util.control.NonFatal(t) =>
              System.err.println(s"[bench] scaling $n failed: $t"); return None
          }
          Some((System.nanoTime() - t0) / 1e9)
        }
        rep() // cold at the small scale (index ensure, codegen) — untimed
        // untimed settle rep, same discipline as the main loop: async C2
        // compilation of the small-scale plans lands during this rep
        // instead of inflating the first timed one (ADVICE r7)
        rep()
        val reps = Seq.fill(WarmReps)(rep()).flatten
        if (reps.size == WarmReps) {
          val wSmall = reps.sorted.apply(WarmReps / 2)
          Some((n, wSmall, warmBig, warmBig / math.max(wSmall, 1e-3)))
        } else None
      }
      val superlinear = entries
        .collect { case (n, ws, _, ratio) if ws >= 0.05 && ratio > 10.0 => n }
      s""""bench_scaling":{"dir_small":${jstr(sd)},"rows_factor":10""" +
        s""","queries":{${entries.map { case (n, ws, wb, r) =>
          "\"" + n + s"""\":{"warm_small":${r3(ws)},"warm":${r3(wb)},"ratio":${r3(r)}}"""
        }.mkString(",")}}""" +
        s""","superlinear":${superlinear.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
    }
    // ---- previous-run baselines: read BEFORE the phase-1 write below
    // overwrites the artifact. Full dump path is explicit (env) rather
    // than whatever CWD the launcher picked; default stays the repo root
    // the judge reads — EXCEPT under a dev-only filter, where the
    // default is diverted so a focused run can never clobber the
    // committed full-run artifact.
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL",
      if (only.isDefined) "bench_only.json" else "bench_full.json")
    // per-entry regression tripwire (VERDICT r11 #8): diff this run's
    // warm medians against the PREVIOUS run's bench_full.json and
    // self-report headline entries > 1.5× slower inside a probe-flat
    // window. Box load shows in the bracketing probes and exonerates
    // the entry; flat probes + a 1.5× drift is the signal the artifact
    // carries itself instead of waiting for the judge's diff. Parsers +
    // tripwire baselines live in BenchParse (spec-pinned against both a
    // fixture and the committed artifact — ADVICE r12).
    val prevTxt: Option[String] = try {
      Some(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(fullPath)),
        java.nio.charset.StandardCharsets.UTF_8))
    } catch { case scala.util.control.NonFatal(_) => None }
    val prevWarm: Map[String, Double] =
      prevTxt.map(BenchParse.headlineWarm).getOrElse(Map.empty)
    val prevExtWarm: Map[String, Double] =
      prevTxt.map(BenchParse.extendedWarm).getOrElse(Map.empty)
    val prevColdTotal: Option[Double] =
      prevTxt.flatMap(BenchParse.coldTotal)
    // rolling per-entry bands (VERDICT r14 #2): bench_history.json keeps
    // the last ≤5 committed full-run warm values per entry; with ≥3
    // draws the tripwire verdicts against an EXIT from that band (max ×
    // 1.3 — the pinned quiet-box noise width) instead of 1.5× of a
    // single, possibly itself-noisy, previous draw — every round since
    // r12 spent builder/judge time adjudicating sub-second noise the
    // band already contained. Read AND updated only on full runs over
    // the committed bench corpus (sf0.1): focused runs and validation
    // runs at other scales must neither arm nor pollute the bands.
    val historyPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_HISTORY",
      "bench_history.json")
    val historyEligible = only.isEmpty && sfDir.endsWith("sf0.1")
    // scale-tag and core-count checks are `contains`, not `forall`
    // (ADVICE r15 / VERDICT r16 #2): a history file whose "sf" or
    // "cpus" field is missing or unreadable has unknown provenance —
    // bands from a different scale OR a different core count must never
    // arm (the committed bands are 32-core draws; Bench defaults to
    // local[4], and SPARK_GRAFT_CPUS is allowlisted as history-neutral,
    // so before the cpus tag a forgotten CPUS=32 would have appended
    // ~8x-inflated mid-band walls). The unparsable case DISARMS
    // instead of failing open.
    val historyRaw: Option[String] =
      if (!historyEligible) None
      else (try {
        Some(new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(historyPath)),
          java.nio.charset.StandardCharsets.UTF_8))
      } catch { case scala.util.control.NonFatal(_) => None })
    val historySfOk =
      historyRaw.forall(t => BenchParse.historySf(t).contains(sfDir))
    val historyCpusOk =
      historyRaw.forall(t => BenchParse.historyCpus(t).contains(cpus))
    val historyTxt: Option[String] =
      historyRaw.filter(_ => historySfOk && historyCpusOk)
    // an EXISTING history file that failed to read (or carries a
    // missing/foreign scale or cpus tag) must also block the WRITE, not
    // just disarm the bands: with prev=empty the end-of-run append
    // would rebuild the file from this run alone — one torn tag would
    // silently destroy all 196 five-draw bands (r16 review). Scoped to
    // history-ELIGIBLE runs (ADVICE r16): a focused or off-scale run
    // never writes anyway, and flagging its artifact
    // "history_unreadable" over a perfectly healthy committed file was
    // a misleading adjudication signal.
    val historyReadOk = !historyEligible || historyTxt.isDefined ||
      !java.nio.file.Files.exists(java.nio.file.Paths.get(historyPath))
    val bands: Map[String, Seq[Double]] =
      historyTxt.map(BenchParse.history).getOrElse(Map.empty)
    // the settled probes of the runs that produced the band draws
    // (VERDICT r15 #3) — a band fire is annotated with this run's probe
    // ÷ their mean, so a proportional-box-drift fire self-adjudicates
    // from the artifact instead of costing a hand-run control panel
    // positivity re-filtered after the r3 round-trip (a probe in
    // (0, 0.0005) serializes as 0.000 and would zero the mean →
    // Infinity ratio → NumberFormatException in r3, killing the run
    // before any artifact — r16 review). NOTE the ratio is RUN-level:
    // it compares this run's box against the probes of recent ACCEPTED
    // runs (probes only accumulate from r16 on, and a run whose entry
    // was flagged still contributes its probe), not against the exact
    // runs behind any one entry's draws — a best-effort box-state
    // annotation, never a per-draw alignment.
    val bandProbes: Seq[Double] =
      historyTxt.map(BenchParse.historyProbes).getOrElse(Seq.empty)
        .filter(_ > 0)
    val probeRatio: Option[Double] =
      if (bandProbes.nonEmpty && probeSec > 0)
        Some(probeSec / (bandProbes.sum / bandProbes.size))
      else None
    // I/O-state ratio (VERDICT r16 #1), the io-side sibling of
    // probe_ratio: the HISTORY stores each accepted run's QUIETEST
    // reading (min across its bracketing points — the steady-state
    // floor, same philosophy as the extended series' min-of-2), while a
    // fire is annotated with this run's WORST reading ÷ that baseline —
    // conservative toward exoneration, because a fire can land anywhere
    // in the multi-minute timed window and the pressure that explains
    // it may not span the whole run. The per-point readings are in
    // `io_points` for finer-grained cross-referencing.
    val ioReadings = ioPoints.map(_._3).filter(_ > 0)
    val ioMin = ioReadings.minOption.getOrElse(-1.0)
    val ioMax = ioReadings.maxOption.getOrElse(-1.0)
    val bandIoProbes: Seq[Double] =
      historyTxt.map(BenchParse.historyIoProbes).getOrElse(Seq.empty)
        .filter(_ > 0)
    val ioRatio: Option[Double] =
      if (bandIoProbes.nonEmpty && ioMax > 0)
        Some(ioMax / (bandIoProbes.sum / bandIoProbes.size))
      else None
    val probeBase = probePoints.map(_._3).filter(_ > 0)
      .minOption.getOrElse(-1.0)
    def probeFlatAt(t: Double): Boolean = probeBase > 0 && {
      val before = probePoints.filter(_._2 <= t).lastOption
      val after = probePoints.find(_._2 > t)
      (before.toSeq ++ after.toSeq).forall(_._3 < 1.5 * probeBase)
    }
    val regressed = results.collect {
      case (n, _, _, _, Some(w), ts)
        if BenchParse.bandRegressed(w, bands.getOrElse(n, Seq.empty),
            prevWarm.get(n)) &&
          ts.lift(2).forall(probeFlatAt) => n
    }
    // extended-series tripwire (VERDICT r12 #3): same verdict over the
    // extended warm floors (no probe-window exoneration — the extended
    // series has no per-rep timestamps; a box-load false positive here
    // costs a judge glance, a silent drift costs a round)
    val regressedExt = extGood.collect {
      case (n, _, w)
        if BenchParse.bandRegressed(w, bands.getOrElse(n, Seq.empty),
          prevExtWarm.get(n)) => n
    }
    // the band each flagged entry was judged against rides in the
    // artifact (VERDICT r14 #2: "the tripwire carries the band") — a
    // fire is adjudicable without reconstructing history from git
    val bandDetailJson = {
      val pr = probeRatio.map(r => s""","probe_ratio":${r3(r)}""")
        .getOrElse("")
      val ir = ioRatio.map(r => s""","io_ratio":${r3(r)}""").getOrElse("")
      val d = (regressed ++ regressedExt).flatMap { n =>
        bands.get(n).map { b =>
          // arm is only cited when the >=3-draw band branch actually
          // produced the verdict — a thin-band entry was flagged by the
          // 1.5x-prev fallback and quoting an unconsulted threshold
          // would contradict the flag (r16 review)
          val arm = if (b.size >= 3)
            s""","arm":${r3(BenchParse.armThreshold(b))}""" else ""
          // the static I/O class (Catalog.FileHeavy) rides next to the
          // ratios: "every fired entry is file-class on an elevated
          // io_ratio" adjudicates from the artifact alone
          "\"" + n +
            s"""\":{"n":${b.size},"band_min":${r3(b.min)}""" +
            s""","band_max":${r3(b.max)}""" + arm + pr + ir +
            s""","class":"${Catalog.ioClass(n)}"}"""
        }
      }
      if (d.isEmpty) "" else s""","regressed_bands":{${d.mkString(",")}}"""
    }
    // tripwire arming visibility (ADVICE r12): empty `regressed` with a
    // zero baseline means DISARMED (no previous artifact parsed), not
    // "checked and clean" — the counts make the difference readable
    // from the artifact alone. cold_total delta (VERDICT r12 #3) makes
    // first-touch drift (r12: +4.8% invisible to the warm tripwire) a
    // recorded number.
    // structural history-write eligibility (VERDICT r15 #2): ANY
    // non-default bench knob in the environment makes this run's draws
    // ineligible for the committed band history — r15's cache-cold
    // seeding draw was hand-excluded, and the silent failure mode (one
    // forgotten divert pollutes all 196 bands) is now impossible by
    // construction. The offending keys land in the artifact.
    val nonDefaultEnv = BenchParse.nonDefaultBenchEnv(sys.env.keys)
    val historyWrite = historyEligible && nonDefaultEnv.isEmpty &&
      historyReadOk
    val regressedJson = s""""regressed":${regressed
      .map("\"" + _ + "\"").mkString("[", ",", "]")}""" +
      s""","regressed_ext":${regressedExt
        .map("\"" + _ + "\"").mkString("[", ",", "]")}""" +
      bandDetailJson +
      s""","regressed_baseline":{"found":${prevTxt.nonEmpty}""" +
      s""","headline_entries":${prevWarm.size}""" +
      s""","extended_entries":${prevExtWarm.size}""" +
      s""","band_entries":${bands.size}""" +
      s""","band_probes":${bandProbes.size}""" +
      probeRatio.map(r => s""","probe_ratio":${r3(r)}""").getOrElse("") +
      s""","band_io_probes":${bandIoProbes.size}""" +
      ioRatio.map(r => s""","io_ratio":${r3(r)}""").getOrElse("") +
      s""","history_write":$historyWrite""" +
      (if (!historyWrite && nonDefaultEnv.nonEmpty)
        s""","history_skip_env":${nonDefaultEnv.map(jstr)
          .mkString("[", ",", "]")}"""
      else "") +
      // the blocked-write cause is NAMED (VERDICT r16 #2): an off-cpus
      // or off-scale tag is a provenance mismatch, not file damage —
      // "unreadable" stays reserved for a file that failed to read or
      // parse at all
      (if (!historyReadOk) {
        if (historyRaw.isDefined && !historyCpusOk)
          s""","history_cpus_mismatch":true,"history_cpus":${jstr(
            historyRaw.flatMap(BenchParse.historyCpus)
              .getOrElse("(missing)"))},"run_cpus":${jstr(cpus)}"""
        else if (historyRaw.isDefined && !historySfOk)
          s""","history_sf_mismatch":true"""
        else s""","history_unreadable":true"""
      } else "") +
      "}" +
      prevColdTotal.map(p =>
        s""","cold_total_prev":${r3(p)},"cold_total_delta":${r3(coldTotal - p)}""")
        .getOrElse("")
    val extendedJson =
      if (extended.isEmpty) ""
      else s""","extended":{"value":${r3(extWarmTotal)},"unit":"sec"""" +
        s""","n_queries":${extGood.size}""" +
        s""","queries":${jmap(extGood.map(r => r._1 -> r._3))}""" +
        s""","queries_cold":${jmap(extGood.map(r => r._1 -> r._2))}""" +
        s""","cold_total":${r3(extColdTotal)}""" +
        s""","failed":${extFailed.mkString("[", ",", "]")}}"""

    // ---- two-phase emission state (VERDICT r13 #1): cert-section slots
    // start as pending stand-ins and are overwritten as each cert lands;
    // the artifact is re-written after every phase, so a kill at ANY
    // point leaves the latest completed state on disk, and absence of a
    // section is always distinguishable from "ran and passed".
    val pendingJson =
      """{"pending":true,"reason":"certification had not yet run when this artifact generation was written"}"""
    var scaleDecadeSlot = s""""scale_decade":$pendingJson"""
    var decadeCorrSlot = s""""decade_correctness":$pendingJson"""
    var extraDrawSlot = s""""extra_draw":$pendingJson"""
    var componentsSlot = s""""components":$pendingJson"""
    var decCompact = ""
    var partial = true
    def probePointsJson: String = probePoints.map { case (l, t, s) =>
      s"""{"label":"$l","t":${r3(t)},"sec":${r3(s)}}"""
    }.mkString("[", ",", "]")
    def ioPointsJson: String = ioPoints.map { case (l, t, s) =>
      s"""{"label":"$l","t":${r3(t)},"sec":${r3(s)}}"""
    }.mkString("[", ",", "]")
    def fullJson: String =
      s"""{"metric":"total","value":${r3(warmTotal)},"unit":"sec"""" +
        (if (partial) ""","partial":true""" else "") +
        s""","queries":${jmap(good.map(r => r._1 -> r._3))}""" +
        s""","queries_cold":${jmap(good.map(r => r._1 -> r._2))}""" +
        s""","queries_reps":$repsJson,"rep_gc":true""" +
        s""","cold_total":${r3(coldTotal)},"build_sec":${r3(buildSec)}""" +
        s""","build_failed":$buildFailed,"probe_sec":${r3(probeSec)}""" +
        s""","bench_epoch_ms":$benchEpochMs,"probe_points":$probePointsJson""" +
        s""","io_points":$ioPointsJson""" +
        s""","io_probe_sec":${r3(ioMin)},"io_probe_max":${r3(ioMax)}""" +
        s""","warmup":{"settled":$wuSettled,"iters":$wuIters""" +
        s""","cap_sec":${r3(wuCap)}""" +
        s""","probes":${wuProbes.map(r3).mkString("[", ",", "]")}}""" +
        extendedJson +
        scalingJson.map("," + _).getOrElse("") +
        s""",$scaleDecadeSlot""" +
        s""",$decadeCorrSlot""" +
        s""",$extraDrawSlot""" +
        s""",$componentsSlot""" +
        s""",$regressedJson""" +
        s""","failed":${failed.mkString("[", ",", "]")},"sf":${jstr(sfDir)}}"""
    // NonFatal only — an OOM/StackOverflow in the write path must
    // surface, not be logged away (ADVICE r6).
    def writeFull(): Unit =
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(fullPath),
        fullJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case scala.util.control.NonFatal(t) =>
        System.err.println(s"[bench] $fullPath write failed: $t") }
    // The driver captures only a fixed-size tail of stdout, so the
    // summary line must stay compact: totals + the 10 slowest warm
    // queries. The complete per-query cold/warm maps go to
    // bench_full.json alongside the repo for human inspection.
    val slowest = good.sortBy(-_._3).take(10)
    // compact line: headline metrics unchanged for cross-round series
    // comparability; the extended series contributes its totals + its
    // slowest-3 (full per-query map in bench_full.json only)
    val extSlow = extGood.sortBy(-_._3).take(3)
    val extCompact =
      if (extended.isEmpty) ""
      else s""","ext_total":${r3(extWarmTotal)},"ext_cold_total":${r3(
          extColdTotal)},"ext_n":${extGood.size}""" +
        s""","ext_slowest":${jmap(extSlow.map(r => r._1 -> r._3))}""" +
        s""","ext_failed":${extFailed.mkString("[", ",", "]")}"""
    def compactJson(): String =
      s"""{"metric":"total","value":${r3(warmTotal)},"unit":"sec"""" +
        (if (partial) ""","partial":true""" else "") +
        s""","queries":${jmap(slowest.map(r => r._1 -> r._3))}""" +
        s""","cold_total":${r3(coldTotal)},"build_sec":${r3(buildSec)}""" +
        s""","build_failed":$buildFailed,"n_queries":${good.size}""" +
        s""","probe_sec":${r3(probeSec)},"wu_settled":$wuSettled""" +
        s""","probe_points":${probePoints.map(p => r3(p._3))
          .mkString("[", ",", "]")}""" +
        s""","io_probe_sec":${r3(ioMin)},"io_probe_max":${r3(ioMax)}""" +
        extCompact + decCompact +
        s""",$regressedJson""" +
        s""","failed":${failed.mkString("[", ",", "]")},"sf":${jstr(sfDir)}}"""
    probeAt("post_series")
    writeFull()
    // phase-1 insurance line: if the process is killed during the
    // certifications below, the captured tail still ends with a
    // parseable summary (marked partial) instead of nothing.
    println(compactJson()); System.out.flush()
    // append this run's warm values to the rolling band history as soon
    // as the timed series are final — a cert-phase kill must not cost
    // the round's band update (same insurance posture as phase-1).
    // Entries the tripwire FLAGGED are excluded from the append (ADVICE
    // r15): a committed regressed round must not enter its own band and
    // raise band.max — that would let a sustained regression flag once
    // then self-normalize, and a ≤30%-per-round creep never flag at all.
    if (historyWrite) {
      val flagged = (regressed ++ regressedExt).toSet
      val current =
        (good ++ extGood).map(r => r._1 -> r._3).toMap -- flagged
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(historyPath),
        BenchParse.historyJson(bands, current, sfDir,
            bandProbes, Some(probeSec), cpus,
            bandIoProbes, Some(ioMin))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case scala.util.control.NonFatal(t) =>
        System.err.println(s"[bench] $historyPath write failed: $t") }
    } else if (historyEligible) System.err.println(
      if (!historyReadOk)
        s"[bench] history append skipped ($historyPath exists but is " +
          "unreadable, off-scale, or off-cpus — preserved, not rebuilt)"
      else s"[bench] history append skipped (non-default env: " +
        s"${nonDefaultEnv.mkString(",")})")

    // ---- certification deadline (VERDICT r13 #1b): certs that have not
    // STARTED by this elapsed-time budget emit the skipped stand-in with
    // the reason instead of running — a driver wall-clock kill can cost
    // a cert, never the artifact. The budget is from bench start, sized
    // so the remaining certs' worst case still fits the driver's ~1 h.
    val deadlineSec = sys.env.get("SPARK_GRAFT_BENCH_DEADLINE")
      .flatMap(_.toDoubleOption).getOrElse(2700.0)
    def pastDeadline(what: String): Option[String] =
      if (nowT <= deadlineSec) None
      else Some(f"deadline: $what%s skipped at t=${nowT}%.0f s elapsed " +
        f"(budget ${deadlineSec}%.0f s, SPARK_GRAFT_BENCH_DEADLINE)")

    // ---- components-path probe (VERDICT r12 #7): the union-find
    // hatch's deciding quantity (verified edges, via the SAME
    // Dedup.componentEdges frame the hatch counts), the path taken at
    // the current cap, and the wall of one components run — so a future
    // cap change shows its cost in the artifact, not just in a spec.
    componentsSlot =
      if (only.isDefined)
        s""""components":{"skipped":true,"reason":"focused run (SPARK_GRAFT_BENCH_ONLY)"}"""
      else try {
        val docs = core.Tables.documents(spark, sfDir)
        val t0 = System.nanoTime()
        val edgesDf = dedup.Dedup.componentEdges(docs)
        val edges = edgesDf.count()
        val t1 = System.nanoTime()
        // reuse the counted frame — run_sec times propagation/union-find
        // only, not a second LSH sweep
        dedup.Dedup.nearDupComponents(docs, edges = Some(edgesDf)).count()
        val t2 = System.nanoTime()
        val path =
          if (edges < dedup.Dedup.LocalComponentEdgeCap) "union_find"
          else "loop"
        s""""components":{"edges":$edges""" +
          s""","cap":${dedup.Dedup.LocalComponentEdgeCap}""" +
          s""","path":"$path","edges_sec":${r3((t1 - t0) / 1e9)}""" +
          s""","run_sec":${r3((t2 - t1) / 1e9)}}"""
      } catch { case scala.util.control.NonFatal(t) =>
        System.err.println(s"[bench] components probe failed: $t")
        s""""components":{"error":${jstr(t.toString)}}"""
      }
    writeFull()

    // ---- decade curve (VERDICT r9 #5): re-run the decade panel (plus
    // the current draw's slowest-10) on a key-shifted 10× copy of sfDir
    // and report warm-vs-warm ratios, so drift one decade PAST the test
    // scale is tracked per-round like the sf0.01→sf0.1 curve already is,
    // instead of living in SURVEY prose. The 10× corpus is
    // fingerprint-keyed and published atomically under the index store
    // root — built once per source generation, adopted thereafter (and
    // by concurrent JVMs). Rows grow 10×, so the superlinear rule is the
    // same as bench_scaling's: ratio > 10 on a non-noise base. Entries
    // whose corpus is a FIXED-SIZE synthetic built in-query (not read
    // from the dir) are exempt — their ratio would measure the corpus
    // generator, not data scaling — as are the recall-gate entries:
    // their throwing floors are calibrated to the REAL corpus geometry,
    // and the key-shifted 10× copies change neighbor structure (each
    // copy is a rotated point cloud), so at 10× they exercise floor
    // calibration, not scan scaling (r10 run 1: ann_recall_report's
    // floor fired at 10× while every real query scaled sub-linearly).
    val DecadeExempt = Set("dedup_hot_bucket", "near_dup_recall",
      "ann_recall_report", "ann_recall_trained")
    // ---- decade PANEL (VERDICT r12 #2): the certified query set is
    // FIXED IN CODE — the union of every entry that ever appeared in a
    // committed scale_decade section (r10–r12) — so two bench runs on
    // one HEAD certify the SAME set and the closing certification's
    // denominator can never drift with draw luck (r12's builder and
    // driver runs certified different sets and contradicted each other
    // on the same HEAD). The current draw's slowest-10 is still
    // measured: entries outside the panel are reported separately as
    // draw_queries/draw_superlinear — a measured candidate list for the
    // next panel revision, never a silent drop.
    val DecadePanel = Seq(
      "collection_compact", "collection_lifecycle", "graph_pagerank",
      "graph_ppr", "graph_rerank", "gv_persistence", "media_card",
      "media_resize", "stream_ann_live", "stream_asof_live",
      "stream_dedup_live", "stream_interval_join_live",
      "stream_tumbling_live")
    val decadeSkip: Option[String] =
      if (only.isDefined) Some("focused run (SPARK_GRAFT_BENCH_ONLY)")
      else if (sys.env.get("SPARK_GRAFT_DECADE").contains("off"))
        Some("SPARK_GRAFT_DECADE=off")
      else pastDeadline("decade probe")
    var decadeErr: Option[String] = None
    val decadeJson =
      if (decadeSkip.isDefined) None
      else try {
        val copies = 10
        val fp = index.IndexStore.fingerprint(spark,
          ScaleUp.tables.map(t => s"$sfDir/$t.parquet"))
        val dDir = s"${index.IndexStore.root}/_scale10x/" +
          s"${index.IndexStore.slug(sfDir)}/x${copies}_$fp"
        val dPath = new org.apache.hadoop.fs.Path(dDir)
        core.LayoutPublish.publish(spark, dPath) { tmp =>
          ScaleUp.tables.foreach { t =>
            ScaleUp.scaled(spark, sfDir, t, copies)
              .write.mode("overwrite").parquet(s"$tmp/$t.parquet")
          }
        }
        core.LayoutPublish.gcStale(spark, dPath.getParent,
          s"x${copies}_", dPath.getName)()
        val warmByName = (good ++ extGood).map(e => e._1 -> e._3).toMap
        val drawExtra = (good ++ extGood).sortBy(-_._3)
          .filterNot(e => DecadeExempt(e._1)).take(10)
          .map(_._1).filterNot(DecadePanel.contains)
        var decFailed = List.empty[String]
        var decNoBase = List.empty[String]
        def measure(n: String): Option[(String, Double, Double, Double)] = {
          // no base-scale warm baseline (the entry failed or was absent
          // in this run's series) ⇒ a 10× ratio is uncomputable — record
          // that DISTINCTLY and skip BEFORE paying 4 reps at 10× scale
          val warmBig = warmByName.getOrElse(n, -1.0)
          if (warmBig <= 0) { decNoBase = n :: decNoBase; return None }
          val q = Catalog.byName(n)
          def rep(): Option[Double] = {
            val t0 = System.nanoTime()
            try { q.run(spark, dDir).count() } catch {
              case scala.util.control.NonFatal(t) =>
                System.err.println(s"[bench] decade $n failed: $t")
                return None
            }
            val dt = (System.nanoTime() - t0) / 1e9
            System.gc()
            Some(dt)
          }
          // cold (pays the 10×-scale index/layout/graph builds) + settle,
          // both untimed; warm = min-of-2 (the extended series' floor
          // discipline — robust to a one-off GC spike at half the reps)
          rep(); rep()
          val reps = Seq.fill(2)(rep()).flatten
          if (reps.size == 2)
            Some((n, reps.min, warmBig, reps.min / math.max(warmBig, 1e-3)))
          else { decFailed = n :: decFailed; None }
        }
        val entries = DecadePanel.flatMap(measure)
        val extras = drawExtra.flatMap(measure)
        def supOf(es: Seq[(String, Double, Double, Double)]): Seq[String] =
          es.collect { case (n, _, wb, ratio) if wb >= 0.05 && ratio > 10.0 => n }
        val superlinear = supOf(entries)
        val drawSup = supOf(extras)
        // output-aware diagnosis (VERDICT r12 #1): for every flagged
        // entry with a ScaleDiag work probe, measure the entry's
        // internal output at both scales and report it NEXT TO the wall
        // ratio. output_driven = the work grew at least as fast as the
        // wall — i.e. the plan is linear-or-better per unit of output
        // and the superlinearity is the workload's, not the engine's.
        // The raw flag is never suppressed; the artifact carries both.
        val wallRatio = (entries ++ extras).map(e => e._1 -> e._4).toMap
        val work = (superlinear ++ drawSup).distinct.flatMap { n =>
          ScaleDiag.workProbes.get(n).map { probe =>
            val wb = try probe(spark, sfDir)
              catch { case scala.util.control.NonFatal(_) => -1L }
            val wd = try probe(spark, dDir)
              catch { case scala.util.control.NonFatal(_) => -1L }
            val wr = if (wb > 0 && wd >= 0) wd.toDouble / wb else -1.0
            (n, wb, wd, wr, wallRatio.getOrElse(n, -1.0))
          }
        }
        def qmap(es: Seq[(String, Double, Double, Double)]): String =
          es.map { case (n, wd, wb, r) =>
            "\"" + n +
              s"""\":{"warm_10x":${r3(wd)},"warm":${r3(wb)},"ratio":${r3(r)}}"""
          }.mkString("{", ",", "}")
        def jlist(ns: Seq[String]): String =
          ns.map("\"" + _ + "\"").mkString("[", ",", "]")
        val workJson =
          if (work.isEmpty) ""
          else s""","work":${work.map { case (n, wb, wd, wr, wall) =>
            "\"" + n + s"""\":{"work_base":$wb,"work_10x":$wd""" +
              s""","work_ratio":${r3(wr)},"wall_ratio":${r3(wall)}""" +
              s""","output_driven":${wr > 0 && wall > 0 && wr >= wall}}"""
          }.mkString("{", ",", "}")}"""
        Some((s""""scale_decade":{"dir":${jstr(dDir)}""" +
          s""","fingerprint":${jstr(fp)}""" +
          s""","rows_factor":$copies""" +
          s""","panel":${jlist(DecadePanel)}""" +
          s""","queries":${qmap(entries)}""" +
          s""","superlinear":${jlist(superlinear)}""" +
          (if (extras.nonEmpty)
            s""","draw_queries":${qmap(extras)}""" +
              s""","draw_superlinear":${jlist(drawSup)}"""
          else "") +
          workJson +
          s""","no_baseline":${jlist(decNoBase.sorted)}""" +
          s""","failed":${jlist(decFailed.sorted)}}""",
          superlinear, decFailed, dDir, fp))
      } catch { case scala.util.control.NonFatal(t) =>
        System.err.println(s"[bench] decade probe failed: $t")
        decadeErr = Some(t.toString); None
      }
    scaleDecadeSlot = decadeJson.map(_._1).getOrElse(
      s""""scale_decade":{"skipped":true,"reason":${jstr(
        decadeSkip.orElse(decadeErr).getOrElse("unknown"))}}""")
    writeFull()
    // ---- decade-scale CORRECTNESS certification (VERDICT r10 #4 /
    // r11 #3): run the EXACT driver gate — graft.Verify dump +
    // tools/oracle_check.py DuckDB compare, both stock — over the
    // fingerprint-keyed 10× corpus for the full catalog minus the four
    // documented calibrated-gate/guard-boundary exemptions (SURVEY
    // §6.7), and emit the result as an artifact section instead of a
    // hand-run procedure. The oracle compare needs the driver-side
    // python3+duckdb toolchain; when it's absent the section records
    // that instead of silently passing. Runs AFTER every timed series
    // (its cache-clearing dump loop must not touch timed state);
    // SPARK_GRAFT_DECADE_CORR=off skips it.
    val DecadeCorrExempt = Map(
      "knn_self_join" -> ("oracle is the unguarded banded self-join; " +
        "10x is the first scale where hot buckets exceed the BucketGuard cap"),
      "ann_recall_report" -> ("recall floors calibrated to real-corpus " +
        "geometry; key-shifted 10x copies rotate the point cloud"),
      "ann_recall_trained" -> "same floor-calibration contract",
      "near_dup_recall" -> "same floor-calibration contract")
    // skip-visibility (ADVICE r12): when the certification does not run
    // — env-gated off, past the deadline, or the decade probe it depends
    // on was itself skipped or failed — the artifact records a skipped
    // section with the reason instead of silently omitting it (absence
    // must be distinguishable from "ran and passed" in the committed
    // JSON).
    val decadeCorrSkip: Option[String] =
      if (sys.env.get("SPARK_GRAFT_DECADE_CORR").contains("off"))
        Some("SPARK_GRAFT_DECADE_CORR=off")
      else if (decadeJson.isEmpty)
        Some(decadeSkip.map(r => s"decade probe skipped: $r")
          .orElse(decadeErr.map(e => s"decade probe failed: $e"))
          .getOrElse("decade probe unavailable"))
      else pastDeadline("decade correctness")
    // identity of the code generation producing correctness dumps: the
    // git TREE hashes of src/ and tools/ (NOT the commit sha — the
    // round's artifact/SURVEY commits change HEAD without changing any
    // code, and the driver's post-round run must still adopt the
    // builder's closing dump), valid only while src/ and tools/ carry
    // no uncommitted edits — a dirty builder tree must never adopt (or
    // publish) a reusable dump. Used by runCert's dump-skip below.
    def execOut(cmd: String*): Option[String] = try {
      val p = new java.lang.ProcessBuilder(cmd: _*)
        .redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim
      if (p.waitFor() == 0) Some(out) else None
    } catch { case scala.util.control.NonFatal(_) => None }
    lazy val codeId: Option[String] = for {
      trees <- execOut("git", "rev-parse", "HEAD:src", "HEAD:tools")
      st <- execOut("git", "status", "--porcelain", "--", "src", "tools")
      if st.isEmpty
    } yield trees.linesIterator.mkString("+")
    // shared certification runner: Verify.dump over an at-scale corpus
    // for the full catalog minus the documented exemptions, then the
    // stock DuckDB compare (tools/oracle_check.py) — the EXACT driver
    // gate, in this session (same UTC session timezone as Verify.main).
    // r14 (VERDICT r13 #2/#3 + ADVICE r13):
    //  - the dump is SKIPPED when the fingerprint-keyed dump dir already
    //    holds THIS code generation's output (marker = clean-tree HEAD +
    //    the checked-name set), so the second cert on one HEAD — builder
    //    close, then the driver — pays only the DuckDB compare;
    //  - the compare itself fans out over oracle_check's process pool;
    //  - a truncated oracle run can never present as zero failures:
    //    without the "== " summary line every query not proven PASS is
    //    counted failed, and the python exit code + output tail land in
    //    the section so a mid-stream crash is diagnosable from the
    //    artifact alone.
    // Returns (bodyJson, passCount, failCount).
    def runCert(dDir: String, fp: String, outTag: String)
        : (String, Int, Int, Seq[String]) = {
      val t0 = System.nanoTime()
      val names = SparkEntry.queries.keys.toSeq.sorted
        .filterNot(DecadeCorrExempt.contains)
      val outDir = s"${index.IndexStore.root}/_decade_verify/${outTag}_$fp"
      val marker = java.nio.file.Paths.get(s"$outDir/_dump_code_id")
      val markerVal = codeId.map(h => s"$h|${names.mkString(",").hashCode}")
      val canSkip = markerVal.exists { v =>
        try java.nio.file.Files.exists(marker) &&
          new String(java.nio.file.Files.readAllBytes(marker),
            java.nio.charset.StandardCharsets.UTF_8).trim == v
        catch { case scala.util.control.NonFatal(_) => false }
      }
      val tD = System.nanoTime()
      val (dumpFailed, dumpSkipped) =
        if (canSkip) (Seq.empty[String], true)
        else {
          // a half-finished dump must not inherit the previous marker
          try java.nio.file.Files.deleteIfExists(marker)
          catch { case scala.util.control.NonFatal(_) => () }
          val f = Verify.dump(spark, dDir, outDir, Some(names.toSet))
          // dump-dir GC (ADVICE r12): each source generation writes a
          // full-catalog parquet dump keyed by fingerprint — reclaim
          // prior generations the same way the scaled corpora themselves
          // are reclaimed, keeping only the current fingerprint's dir.
          core.LayoutPublish.gcStale(spark,
            new org.apache.hadoop.fs.Path(outDir).getParent,
            s"${outTag}_", s"${outTag}_$fp")()
          if (f.isEmpty) markerVal.foreach { v =>
            try java.nio.file.Files.write(marker,
              v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            catch { case scala.util.control.NonFatal(_) => () }
          }
          (f, false)
        }
      val dumpSec = (System.nanoTime() - tD) / 1e9
      val cmd = new java.lang.ProcessBuilder(
        "python3", "tools/oracle_check.py", dDir, outDir,
        names.mkString(","))
      cmd.redirectErrorStream(true)
      val tO = System.nanoTime()
      val proc = cmd.start()
      val out = new String(proc.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      val exit = proc.waitFor()
      val oracleSec = (System.nanoTime() - tO) / 1e9
      // truncation accounting is pure and spec-pinned (BenchParse
      // .oracleOutcome — ADVICE r13): no summary line ⇒ every query not
      // proven PASS counts failed, and the exit code + output tail make
      // the crash diagnosable from the artifact (VERDICT r13 #3)
      val oc = BenchParse.oracleOutcome(out, names.size, dumpFailed)
      val diag = if (oc.complete) "" else
        s""","oracle_exit":$exit,"unreached":${oc.unreached}""" +
          s""","oracle_tail":${jstr(out.linesIterator.toSeq
            .takeRight(5).mkString(" | "))}"""
      val sec = (System.nanoTime() - t0) / 1e9
      (s""""dir":${jstr(dDir)},"fingerprint":${jstr(fp)}""" +
        s""","checked":${names.size}""" +
        s""","pass":${oc.passed},"fail":${oc.failCount}""" +
        s""","failed":${oc.failedNames.map(jstr).mkString("[", ",", "]")}""" +
        s""","exempt":${DecadeCorrExempt.keys.toSeq.sorted
          .map(jstr).mkString("[", ",", "]")}""" +
        // the WHY rides in the artifact (VERDICT r15 stretch): a judge
        // or the driver reads the exemption rationale without grepping
        // SURVEY prose
        s""","exempt_reason":{${DecadeCorrExempt.toSeq.sortBy(_._1)
          .map { case (k, v) => jstr(k) + ":" + jstr(v) }
          .mkString(",")}}""" +
        s""","dump_skipped":$dumpSkipped,"dump_sec":${r3(dumpSec)}""" +
        s""","oracle_sec":${r3(oracleSec)},"oracle_complete":${oc.complete}""" +
        diag + s""","sec":${r3(sec)}""",
        oc.passed, oc.failCount, oc.failedNames)
    }
    // (body, pass, failCount, failedNames, errored) — errored means the
    // cert harness itself threw, distinct from counted query failures
    // (ADVICE r13: no -1 sentinels inside count fields). failedNames ride
    // to the COMPACT line too (VERDICT r17 #2: the driver keeps only the
    // log tail, and a 191/192 extra-draw with no names was unactionable).
    val decadeCorr: Option[(String, Int, Int, Seq[String], Boolean)] =
      if (decadeCorrSkip.isDefined) None
      else decadeJson.flatMap { case (_, _, _, dDir, fp) =>
        try {
          // outTag carries the BASE-corpus slug (like the extra draw's
          // always has): runCert's gcStale keeps only the current
          // fingerprint under `${outTag}_`, so a bare "x10" made decade
          // dumps from DIFFERENT base corpora share a namespace — an
          // sf0.001 validation bench swept the sf0.1 closing dump (and
          // its reuse marker) out from under the driver's run (r14).
          val (body, passed, failCount, failedNames) =
            runCert(dDir, fp, s"x10${index.IndexStore.slug(sfDir)}")
          Some((s""""decade_correctness":{$body}""", passed, failCount,
            failedNames, false))
        } catch { case scala.util.control.NonFatal(t) =>
          System.err.println(s"[bench] decade correctness failed: $t")
          Some((s""""decade_correctness":{"error":${jstr(t.toString)}}""",
            0, 0, Seq.empty[String], true))
        }
      }
    decadeCorrSlot = decadeCorr.map(_._1).getOrElse(
      s""""decade_correctness":{"skipped":true,"reason":${jstr(
        decadeCorrSkip.getOrElse("unknown"))}}""")
    writeFull()
    // ---- rotating extra-scale correctness draw (VERDICT r12 #6): one
    // alternate-scale certification per round — round-robin between
    // 10× sf0.001 and 30× sf0.01 — so tie-luck sampling keeps widening
    // across rounds without the hand runs r12 did. Rotation is keyed
    // off the PREVIOUS artifact's extra_draw src (wall-clock APIs are
    // unavailable by design, and the previous artifact is exactly the
    // state that defines "last round"); no parsable previous draw →
    // the sf0.001 one. SPARK_GRAFT_EXTRA_DRAW=off skips;
    // =sf0.001x10 / =sf0.01x30 forces a specific draw.
    val extraSpec: Either[String, (String, Int)] = {
      val env = sys.env.get("SPARK_GRAFT_EXTRA_DRAW")
      if (only.isDefined) Left("focused run (SPARK_GRAFT_BENCH_ONLY)")
      else if (env.contains("off")) Left("SPARK_GRAFT_EXTRA_DRAW=off")
      else pastDeadline("extra draw").toLeft(()).flatMap { _ =>
        // an unrecognized forcing value must NOT silently fall through
        // to rotation — the operator believes they forced a specific
        // scale; record the rejection visibly instead
        val pick: Either[String, (String, Int)] = env match {
          case Some("sf0.001x10") => Right(("sf0.001", 10))
          case Some("sf0.01x30") => Right(("sf0.01", 30))
          case Some("sf0.001x100") => Right(("sf0.001", 100))
          // builder-only decade-mapping draw (VERDICT r16 #3): ~sf10
          // row volume (60M-row lineitem class). NEVER in the natural
          // rotation — run it with SF_DIR pointed at a SMALLER corpus
          // (the source must differ from the bench corpus) and a
          // raised deadline, e.g. SF_DIR=.../sf0.001 + this forcing
          case Some("sf0.1x100") => Right(("sf0.1", 100))
          case Some(other) =>
            Left(s"unrecognized SPARK_GRAFT_EXTRA_DRAW: $other " +
              "(expected off | sf0.001x10 | sf0.01x30 | sf0.001x100 " +
              "| sf0.1x100)")
          case None => Right(
            BenchParse.pickExtraDraw(prevTxt.flatMap(BenchParse.extraDraw)))
        }
        pick.flatMap { p =>
          val src = new java.io.File(
            new java.io.File(sfDir).getAbsoluteFile.getParentFile, p._1)
          if (!src.isDirectory) Left(s"source dir missing: $src")
          else if (src.getAbsolutePath ==
            new java.io.File(sfDir).getAbsolutePath)
            Left(s"extra-draw source equals the bench corpus: $sfDir")
          else Right((src.getAbsolutePath, p._2))
        }
      }
    }
    // (json, pass, failCount, failedNames, errored) — same error-flag
    // contract as the decade cert above
    val extraDraw: Option[(String, Int, Int, Seq[String], Boolean)] =
      extraSpec.toOption.map { case (src, copies) =>
        try {
          val fp = index.IndexStore.fingerprint(spark,
            ScaleUp.tables.map(t => s"$src/$t.parquet"))
          val eDir = s"${index.IndexStore.root}/_scale_extra/" +
            s"${index.IndexStore.slug(src)}/x${copies}_$fp"
          val ePath = new org.apache.hadoop.fs.Path(eDir)
          core.LayoutPublish.publish(spark, ePath) { tmp =>
            ScaleUp.tables.foreach { t =>
              ScaleUp.scaled(spark, src, t, copies)
                .write.mode("overwrite").parquet(s"$tmp/$t.parquet")
            }
          }
          core.LayoutPublish.gcStale(spark, ePath.getParent,
            s"x${copies}_", ePath.getName)()
          val (body, p, f, fn) = runCert(eDir, fp,
            s"extra${copies}${index.IndexStore.slug(src)}")
          (s""""extra_draw":{"src":${jstr(src)},"rows_factor":$copies,$body}""",
            p, f, fn, false)
        } catch { case scala.util.control.NonFatal(t) =>
          System.err.println(s"[bench] extra draw failed: $t")
          (s""""extra_draw":{"src":${jstr(src)},"rows_factor":$copies""" +
            s""","error":${jstr(t.toString)}}""", 0, 0, Seq.empty[String], true)
        }
      }
    extraDrawSlot = extraDraw.map(_._1).getOrElse(
      s""""extra_draw":{"skipped":true,"reason":${jstr(
        extraSpec.left.getOrElse("unknown"))}}""")
    // decade/extra status for the compact line (full per-query maps in
    // bench_full.json only): empty lists = probe ran and found nothing;
    // *_error:true = the cert harness threw (never encoded as a count)
    decCompact = decadeJson.map { case (_, sup, dFailed, _, _) =>
      s""","decade_superlinear":${sup.map("\"" + _ + "\"").mkString("[", ",", "]")}""" +
        s""","decade_failed":${dFailed.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    }.getOrElse("") + decadeCorr.map { case (_, p, f, fn, err) =>
      if (err) s""","decade_corr_error":true"""
      else s""","decade_corr_pass":$p,"decade_corr_fail":$f""" +
        s""","decade_corr_failed":${fn.map(jstr).mkString("[", ",", "]")}"""
    }.getOrElse("") + extraDraw.map { case (_, p, f, fn, err) =>
      if (err) s""","extra_draw_error":true"""
      else s""","extra_draw_pass":$p,"extra_draw_fail":$f""" +
        s""","extra_draw_failed":${fn.map(jstr).mkString("[", ",", "]")}"""
    }.getOrElse("")
    probeAt("end")
    partial = false
    writeFull()
    // make the authoritative line the very LAST stdout line: stop Spark
    // (and its shutdown logging) BEFORE printing, so a fixed-size tail
    // of the log always contains the whole line — the driver parses the
    // final line.
    spark.stop()
    println(compactJson())
    System.out.flush()
  }
}
