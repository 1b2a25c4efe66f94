package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import BenchParse.{jlist, jmap, jnums, jstr, obj, r3}

/** Driver-run benchmark: one JSON line with the warm (steady-state)
  * headline total as the primary metric, plus the cold pass and the
  * index/graph build phase timed separately — the reference's own
  * benchmarks time searches against an already-built index, never index
  * construction per query (`hybrid_search.py:77-117`).
  *
  * Emission is two-phase: the artifact and the compact summary line are
  * written as soon as the timed series finish, with pending stand-ins for
  * the certification sections; the certifications (components path,
  * decade probe, decade correctness, rotating extra-scale draw) then run
  * under an elapsed-time deadline, rewriting the artifact as each lands,
  * and the final line re-prints with everything. A wall-clock kill can
  * therefore cost a certification section, never the measured numbers.
  *
  * Measuring and rendering are apart: a run produces a [[Bench.Report]]
  * of plain values, and [[Bench.render]] turns it into both outputs.
  */
object Bench {
  /** One entry timed by [[BenchRun.timed]]: the cold rep, the settle rep
    * (when one ran and succeeded), the counted warm reps that succeeded,
    * their aggregate (None when the cold rep or any warm rep failed) and
    * the start offset of every rep, in execution order. */
  final case class Timing(name: String, cold: Option[Double],
      settle: Option[Double], warmReps: Seq[Double], warm: Option[Double],
      tStart: Seq[Double])

  /** A probe reading: label, start offset (s from bench start), seconds. */
  final case class Point(label: String, t: Double, sec: Double)

  /** The warm-up gate: whether the CPU probe went flat before the cap,
    * the loop iterations, the cap, every reading and the settled one. */
  final case class Warmup(settled: Boolean, iters: Int, capSec: Double,
      probes: Seq[Double], probeSec: Double)

  /** The regression tripwire's verdict and what armed it: the previous
    * artifact's entry counts, the band history read (bands and the
    * run-level probes of the runs behind them), this run's probe ratios
    * against those, and whether this run may append to the history (if
    * not: the non-default knobs set, or why the history file was refused). */
  final case class Tripwire(regressed: Seq[String], regressedExt: Seq[String],
      prevFound: Boolean, prevHeadline: Int, prevExtended: Int,
      prevColdTotal: Option[Double], bands: Map[String, Seq[Double]],
      bandProbes: Seq[Double], probeRatio: Option[Double],
      bandIoProbes: Seq[Double], ioRatio: Option[Double],
      historyWrite: Boolean, skipEnv: Seq[String],
      historyRefusal: Seq[(String, String)])

  /** A certification section as it stands: its artifact fields and the
    * fields it adds to the compact line. */
  final case class Section(fields: Seq[(String, String)],
      compact: Seq[(String, String)] = Nil)

  val Pending = Section(Seq("pending" -> "true", "reason" -> jstr(
    "certification had not yet run when this artifact generation was written")))
  def skipped(reason: String) =
    Section(Seq("skipped" -> "true", "reason" -> jstr(reason)))

  /** Everything one run measured. `sections` are in artifact order. */
  final case class Report(sf: String, epochMs: Long, buildSec: Double,
      buildFailed: Boolean, warmup: Warmup, probes: Seq[Point],
      ioPoints: Seq[Point], headline: Seq[Timing], extended: Seq[Timing],
      trip: Tripwire, sections: Seq[(String, Section)], partial: Boolean)

  /** An entry rerun on the 10× corpus: warm there and at base scale. Rows
    * grow 10×, so a ratio above 10 on a non-noise base (≥ 50 ms) marks
    * the entry for a plan audit. */
  final case class Scaled(name: String, warm10x: Double, warm: Double) {
    def ratio: Double = warm10x / math.max(warm, 1e-3)
    def superlinear: Boolean = warm >= 0.05 && ratio > 10.0
  }

  /** ScaleDiag's work probe of a superlinear entry at both scales, next to
    * its wall ratio: work that grew at least as fast as the wall means the
    * superlinearity is the workload's output, not the engine's plan. */
  final case class Work(name: String, base: Long, at10x: Long,
      wallRatio: Double) {
    def ratio: Double = if (base > 0 && at10x >= 0) at10x.toDouble / base else -1.0
  }

  final case class Decade(dir: String, fp: String, copies: Int,
      entries: Seq[Scaled], extras: Seq[Scaled], work: Seq[Work],
      noBase: Seq[String], failed: Seq[String])

  /** One oracle certification of an at-scale corpus. */
  final case class Certified(dir: String, fp: String, checked: Int,
      outcome: BenchParse.OracleOutcome, exit: Int, tail: String,
      dumpSkipped: Boolean, dumpSec: Double, oracleSec: Double, sec: Double)

  /** The decade panel is fixed in code — every entry that ever appeared
    * in a committed scale_decade section — so two runs on one commit
    * certify the same set whatever their slowest-10 draw. The draw's
    * slowest-10 outside the panel is measured and reported apart
    * (draw_queries), a candidate list for the next panel revision. */
  val DecadePanel = Seq("collection_compact", "collection_lifecycle",
    "graph_pagerank", "graph_ppr", "graph_rerank", "gv_persistence", "media_card",
    "media_resize", "stream_ann_live", "stream_asof_live", "stream_dedup_live",
    "stream_interval_join_live", "stream_tumbling_live")

  /** Left out of the decade's timed draw: entries whose corpus is a
    * fixed-size synthetic built in-query (their ratio would measure the
    * generator), and the recall-gate entries, whose throwing floors are
    * calibrated to the real corpus geometry that the key-shifted copies
    * rotate. */
  val DecadeExempt = Set("dedup_hot_bucket", "near_dup_recall",
    "ann_recall_report", "ann_recall_trained")

  /** Left out of the at-scale correctness certifications, with the reason
    * that rides in the artifact. */
  val CertExempt = Map(
    "knn_self_join" -> ("oracle is the unguarded banded self-join; " +
      "10x is the first scale where hot buckets exceed the BucketGuard cap"),
    "ann_recall_report" -> ("recall floors calibrated to real-corpus " +
      "geometry; key-shifted 10x copies rotate the point cloud"),
    "ann_recall_trained" -> "same floor-calibration contract",
    "near_dup_recall" -> "same floor-calibration contract")

  def decadeSection(d: Decade): Section = {
    def qmap(es: Seq[Scaled]) = obj(es.map(e => e.name -> obj(
      "warm_10x" -> r3(e.warm10x), "warm" -> r3(e.warm),
      "ratio" -> r3(e.ratio))): _*)
    def sup(es: Seq[Scaled]) = jlist(es.filter(_.superlinear).map(_.name))
    val work = d.work.map(w => w.name -> obj("work_base" -> w.base.toString,
      "work_10x" -> w.at10x.toString, "work_ratio" -> r3(w.ratio),
      "wall_ratio" -> r3(w.wallRatio), "output_driven" ->
        (w.ratio > 0 && w.wallRatio > 0 && w.ratio >= w.wallRatio).toString))
    Section(Seq("dir" -> jstr(d.dir), "fingerprint" -> jstr(d.fp),
        "rows_factor" -> d.copies.toString, "panel" -> jlist(DecadePanel),
        "queries" -> qmap(d.entries), "superlinear" -> sup(d.entries)) ++
      (if (d.extras.isEmpty) Nil else Seq("draw_queries" -> qmap(d.extras),
        "draw_superlinear" -> sup(d.extras))) ++
      (if (work.isEmpty) Nil else Seq("work" -> obj(work: _*))) ++
      Seq("no_baseline" -> jlist(d.noBase.sorted), "failed" -> jlist(d.failed.sorted)),
      Seq("decade_superlinear" -> sup(d.entries), "decade_failed" -> jlist(d.failed.sorted)))
  }

  /** A certification's section, its fields after `head`; the compact line
    * gets `<key>_pass`, `<key>_fail` and the failing names. */
  def certSection(key: String, head: Seq[(String, String)],
      c: Certified): Section = {
    val oc = c.outcome
    // a compare that did not run to its summary line carries its exit
    // code and output tail, so the crash reads from the artifact
    val diag = if (oc.complete) Nil else Seq("oracle_exit" -> c.exit.toString,
      "unreached" -> oc.unreached.toString, "oracle_tail" -> jstr(c.tail))
    Section(head ++ Seq("dir" -> jstr(c.dir), "fingerprint" -> jstr(c.fp),
        "checked" -> c.checked.toString, "pass" -> oc.passed.toString,
        "fail" -> oc.failCount.toString, "failed" -> jlist(oc.failedNames),
        "exempt" -> jlist(CertExempt.keys.toSeq.sorted),
        "exempt_reason" -> obj(CertExempt.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> jstr(v) }: _*),
        "dump_skipped" -> c.dumpSkipped.toString, "dump_sec" -> r3(c.dumpSec),
        "oracle_sec" -> r3(c.oracleSec),
        "oracle_complete" -> oc.complete.toString) ++ diag :+
        ("sec" -> r3(c.sec)),
      Seq(s"${key}_pass" -> oc.passed.toString, s"${key}_fail" ->
        oc.failCount.toString, s"${key}_failed" -> jlist(oc.failedNames)))
  }

  def componentsSection(edges: Long, edgesSec: Double, runSec: Double): Section = {
    val cap = dedup.Dedup.LocalComponentEdgeCap
    Section(Seq("edges" -> edges.toString, "cap" -> cap.toString,
      "path" -> jstr(if (edges < cap) "union_find" else "loop"),
      "edges_sec" -> r3(edgesSec), "run_sec" -> r3(runSec)))
  }

  private def tripwireFields(t: Tripwire, coldTotal: Double) = {
    val ratios = t.probeRatio.map("probe_ratio" -> r3(_)).toSeq ++
      t.ioRatio.map("io_ratio" -> r3(_))
    // the band each flagged entry was judged against, and its static I/O
    // class: a fire reads from the artifact without the history. `arm` is
    // cited only when the ≥3-draw band rule made the verdict.
    val bandDetail = (t.regressed ++ t.regressedExt).flatMap(n =>
      t.bands.get(n).map(b => n -> obj(Seq("n" -> b.size.toString,
        "band_min" -> r3(b.min), "band_max" -> r3(b.max)) ++
        (if (b.size >= 3) Seq("arm" -> r3(BenchParse.armThreshold(b)))
         else Nil) ++ ratios :+ ("class" -> jstr(Catalog.ioClass(n))): _*)))
    // an empty `regressed` with zero baseline entries means disarmed, not
    // clean — the counts make the difference readable
    val baseline = Seq("found" -> t.prevFound.toString,
      "headline_entries" -> t.prevHeadline.toString, "extended_entries" ->
        t.prevExtended.toString, "band_entries" -> t.bands.size.toString,
      "band_probes" -> t.bandProbes.size.toString) ++
      t.probeRatio.map("probe_ratio" -> r3(_)) ++
      Seq("band_io_probes" -> t.bandIoProbes.size.toString) ++
      t.ioRatio.map("io_ratio" -> r3(_)) ++
      Seq("history_write" -> t.historyWrite.toString) ++
      (if (!t.historyWrite && t.skipEnv.nonEmpty)
        Seq("history_skip_env" -> jlist(t.skipEnv)) else Nil) ++
      t.historyRefusal
    Seq("regressed" -> jlist(t.regressed), "regressed_ext" -> jlist(t.regressedExt)) ++
      (if (bandDetail.isEmpty) Nil else Seq("regressed_bands" -> obj(bandDetail: _*))) ++
      Seq("regressed_baseline" -> obj(baseline: _*)) ++
      t.prevColdTotal.toSeq.flatMap(p => Seq("cold_total_prev" -> r3(p),
        "cold_total_delta" -> r3(coldTotal - p)))
  }

  /** `r` as bench_full.json and as the compact line. The compact line is
    * what a fixed-size log tail keeps: totals, the 10 slowest headline
    * entries and the 3 slowest extended ones; the full maps go to the
    * artifact. */
  def render(r: Report): (String, String) = {
    val good = r.headline.filter(_.warm.isDefined)
    val extGood = r.extended.filter(_.warm.isDefined)
    def warm(ts: Seq[Timing]) = ts.map(t => t.name -> t.warm.get)
    def cold(ts: Seq[Timing]) = ts.map(t => t.name -> t.cold.getOrElse(t.warm.get))
    def total(vs: Seq[(String, Double)]) = r3(vs.map(_._2).sum)
    def failed(ts: Seq[Timing]) = jlist(ts.filter(_.warm.isEmpty).map(_.name))
    def slowest(ts: Seq[Timing], n: Int) = warm(ts.sortBy(-_.warm.get).take(n))
    def points(ps: Seq[Point]) = ps.map(p => obj("label" -> jstr(p.label),
      "t" -> r3(p.t), "sec" -> r3(p.sec))).mkString("[", ",", "]")
    val io = r.ioPoints.map(_.sec).filter(_ > 0)
    val head = Seq("metric" -> jstr("total"), "value" -> total(warm(good)),
      "unit" -> jstr("sec")) ++ (if (r.partial) Seq("partial" -> "true") else Nil)
    val times = Seq("cold_total" -> total(cold(good)),
      "build_sec" -> r3(r.buildSec), "build_failed" -> r.buildFailed.toString)
    val ioSec = Seq("io_probe_sec" -> r3(io.minOption.getOrElse(-1.0)),
      "io_probe_max" -> r3(io.maxOption.getOrElse(-1.0)))
    val tail = tripwireFields(r.trip, cold(good).map(_._2).sum) ++
      Seq("failed" -> failed(r.headline), "sf" -> jstr(r.sf))
    // every headline entry's reps (cold, settle, all warm reps) with their
    // start offsets, so a median anomaly can be judged from the artifact
    val reps = good.map(t => t.name -> obj(t.cold.map("cold" -> r3(_)).toSeq ++
      t.settle.map("settle" -> r3(_)) ++ Seq("warm_reps" -> jnums(t.warmReps),
        "t_start" -> jnums(t.tStart)): _*))
    val extended = if (r.extended.isEmpty) Nil else Seq("extended" -> obj(
      "value" -> total(warm(extGood)), "unit" -> jstr("sec"),
      "n_queries" -> extGood.size.toString, "queries" -> jmap(warm(extGood)),
      "queries_cold" -> jmap(cold(extGood)),
      "cold_total" -> total(cold(extGood)), "failed" -> failed(r.extended)))
    val full = head ++ Seq("queries" -> jmap(warm(good)),
      "queries_cold" -> jmap(cold(good)), "queries_reps" -> obj(reps: _*),
      "rep_gc" -> "true") ++ times ++ Seq(
      "probe_sec" -> r3(r.warmup.probeSec), "bench_epoch_ms" -> r.epochMs.toString,
      "probe_points" -> points(r.probes), "io_points" -> points(r.ioPoints)) ++
      ioSec ++ Seq("warmup" -> obj("settled" -> r.warmup.settled.toString,
        "iters" -> r.warmup.iters.toString, "cap_sec" -> r3(r.warmup.capSec),
        "probes" -> jnums(r.warmup.probes))) ++ extended ++
      r.sections.map { case (k, s) => k -> obj(s.fields: _*) } ++ tail
    val extCompact = if (r.extended.isEmpty) Nil else Seq(
      "ext_total" -> total(warm(extGood)),
      "ext_cold_total" -> total(cold(extGood)), "ext_n" -> extGood.size.toString,
      "ext_slowest" -> jmap(slowest(extGood, 3)), "ext_failed" -> failed(r.extended))
    val compact = head ++ Seq("queries" -> jmap(slowest(good, 10))) ++ times ++
      Seq("n_queries" -> good.size.toString,
        "probe_sec" -> r3(r.warmup.probeSec),
        "wu_settled" -> r.warmup.settled.toString,
        "probe_points" -> jnums(r.probes.map(_.sec))) ++ ioSec ++ extCompact ++
      r.sections.flatMap(_._2.compact) ++ tail
    (obj(full: _*), obj(compact: _*))
  }

  private[graft] def readText(path: String): Option[String] =
    try Some(new String(Files.readAllBytes(Paths.get(path)), UTF_8))
    catch { case NonFatal(_) => None }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_BENCH_ONLY=a,b times only the named entries, each with
    // its own series' discipline; a list that matches nothing (a typo)
    // fails here instead of reporting a 0.0-total run
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      require(Catalog.all.exists(q => names(q.name)),
        s"SPARK_GRAFT_BENCH_ONLY matched no catalog entry: $names " +
          s"(benched catalog: ${Catalog.all.filter(_.bench).map(_.name).sorted.mkString(", ")})")
      val unknown = names -- Catalog.all.map(_.name).toSet
      if (unknown.nonEmpty) System.err.println(
        s"[bench] WARNING: SPARK_GRAFT_BENCH_ONLY names not in the catalog: $unknown")
    }
    val run = new BenchRun(LocalSpark.session(), sfDir, only)
    val warmup = run.warmupGate()
    val (buildSec, buildFailed) = run.build()
    val (headline, extended) = run.series()
    // a focused run writes elsewhere by default, so it can never clobber
    // the full-run artifact; the previous artifact is read before the
    // first write below replaces it
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL",
      if (only.isDefined) "bench_only.json" else "bench_full.json")
    val prevTxt = readText(fullPath)
    val trip = run.tripwire(headline, extended, warmup.probeSec, prevTxt)
    run.cpu.at("post_series")
    def report(partial: Boolean) = Report(sfDir, run.epochMs, buildSec,
      buildFailed, warmup, run.cpu.points.toSeq, run.io.points.toSeq,
      headline, extended, trip, run.sections.toSeq, partial)
    // writes the artifact and returns the compact line; NonFatal only:
    // an OOM in the write path must surface
    def writeFull(partial: Boolean): String = {
      val (full, compact) = render(report(partial))
      try Files.write(Paths.get(fullPath), full.getBytes(UTF_8))
      catch { case NonFatal(t) =>
        System.err.println(s"[bench] $fullPath write failed: $t") }
      compact
    }
    // phase 1: if the process is killed during the certifications, the
    // log tail still ends with a parseable summary marked partial, and
    // the band history already holds this run's draws
    println(writeFull(partial = true)); System.out.flush()
    run.appendHistory(trip, headline ++ extended, warmup.probeSec)
    run.certifications(headline ++ extended, prevTxt, () => writeFull(partial = true))
    run.cpu.at("end")
    val last = writeFull(partial = false)
    // the final line is the LAST stdout line: Spark (and its shutdown
    // logging) stops first, so a fixed-size log tail holds all of it
    run.spark.stop()
    println(last); System.out.flush()
  }
}

/** One bench run over `sfDir`: the clock every offset counts from, the two
  * calibration probes, and the steps [[Bench.main]] runs in order. */
private final class BenchRun(val spark: SparkSession, sfDir: String,
    only: Option[Set[String]]) {
  import Bench._

  /** Offsets in the artifact are seconds from this instant, and the
    * absolute epoch rides beside them, so a co-tenant load window reads
    * from the JSON alone: adjacent entries slowing in one interval on a
    * flat probe line is noise, on a rising probe line it is box load. */
  val epochMs: Long = System.currentTimeMillis()
  private val t0 = System.nanoTime()
  private def nowT: Double = (System.nanoTime() - t0) / 1e9
  private val cpus = LocalSpark.cpus

  /** A fixed job timed as the median of 3 runs (-1 when it throws, so a
    * broken probe fails open), and the labelled readings taken of it. */
  final class Probe(job: () => Unit) {
    val points = ArrayBuffer.empty[Point]
    def measure(): Double = try Seq.fill(3) {
      val t = System.nanoTime(); job(); (System.nanoTime() - t) / 1e9
    }.sorted.apply(1) catch { case NonFatal(_) => -1.0 }
    def at(label: String): Double = {
      val t = nowT; val s = measure(); points += Point(label, t, s); s
    }
  }

  /** Pure CPU and scheduling, no I/O and no plan shared with any catalog
    * entry, read at fixed points through the run: drift between runs is a
    * number in the artifact (compare probe_sec before reading an entry's
    * delta as a regression), and a load window is placed in time. The
    * modded products keep the ANSI sum far inside Long range. */
  val cpu = new Probe(() => spark.range(1L << 24)
    .selectExpr("sum((id % 65536) * (id % 65537))").collect())

  /** The I/O state the CPU probe is blind to (page cache, dirty
    * writeback, disk): write 32 MiB to the index-store filesystem and
    * fsync it — under writeback pressure the fsync stalls — then stream
    * every corpus table file once (a cold page cache reads disk). On a
    * tmpfs index root it reads memory bandwidth, still comparable against
    * history readings from the same box, the only comparison `io_ratio`
    * makes. Read only around the timed series: the certifications' dump
    * and scale-up churn is expected I/O every run. */
  val io = new Probe(() => {
    val root = Paths.get(index.IndexStore.root)
    Files.createDirectories(root)
    val tmp = root.resolve(s"_io_probe_${ProcessHandle.current().pid()}")
    import java.nio.file.StandardOpenOption._
    val buf = java.nio.ByteBuffer.allocate(1 << 20)
    val ch = java.nio.channels.FileChannel.open(tmp, CREATE, WRITE, TRUNCATE_EXISTING)
    try {
      for (_ <- 1 to 32) { buf.rewind(); ch.write(buf) }
      ch.force(false)
    } finally { ch.close(); Files.deleteIfExists(tmp) }
    def readAll(f: java.io.File): Unit =
      if (f.isDirectory) {
        val fs = f.listFiles(); if (fs != null) fs.foreach(readAll)
      } else if (f.isFile) {
        val in = new java.io.FileInputStream(f)
        try { val b = new Array[Byte](1 << 20); while (in.read(b) >= 0) () }
        finally in.close()
      }
    ScaleUp.tables.foreach(t => readAll(new java.io.File(s"$sfDir/$t.parquet")))
  })

  private val WarmupCapSec = 120.0
  private val WarmupMinIters = 3

  /** The timed series start only once the CPU probe is flat: async JIT
    * and page-cache warm-up otherwise land in the first minutes of the
    * headline series and inflate its sub-second entries. Generic settle
    * work (shuffle and aggregation with string/hash expressions, a real
    * parquet scan — the machinery catalog entries use, unlike the probe)
    * and a re-probe loop for at least 3 iterations, until two consecutive
    * probes are within 1.5× of each other and the latest within 1.25× of
    * the best seen (a falling trend must plateau), or until the cap; a
    * cap exit leaves `settled:false` on the run's numbers. */
  def warmupGate(): Warmup = {
    // session init, codegen compiler and shuffle machinery, once, so the
    // build phase is not charged for them
    try {
      spark.range(1 << 18).selectExpr("sum(id)").collect()
      SparkEntry.entry(spark).count()
    } catch { case NonFatal(_) => () }
    val first = cpu.at("warmup")
    val probes = ArrayBuffer(first)
    var settled = false
    val start = nowT
    while (!settled && nowT - start < WarmupCapSec) {
      settleOnce()
      val p = cpu.measure(); probes += p
      val prev = probes(probes.size - 2)
      // failed probes read -1: an all-failing set keeps the loop open
      // until the cap instead of throwing on an empty min
      val best = probes.filter(_ > 0).minOption.getOrElse(-1.0)
      settled = probes.size > WarmupMinIters && p > 0 && prev > 0 && best > 0 &&
        math.max(p, prev) <= 1.5 * math.min(p, prev) && p <= 1.25 * best
    }
    // probe_sec is the settled reading: the steady state cross-run
    // comparisons want (the first reading stays in probe_points[0])
    val probeSec = probes.filter(_ > 0).lastOption.getOrElse(first)
    cpu.points += Point("warmup_settled", nowT, probeSec)
    io.at("warmup_settled")
    Warmup(settled, probes.size - 1, WarmupCapSec, probes.toSeq, probeSec)
  }

  private def settleOnce(): Unit = try {
    import org.apache.spark.sql.functions.expr
    spark.range(1L << 21)
      .selectExpr("id % 997 AS k", "id AS v", "concat('s', id % 101) AS s")
      .groupBy("k")
      .agg(expr("sum(v)"), expr("count(distinct s)"), expr("sum(hash(s))"))
      .count()
    core.Tables.lineitem(spark, sfDir)
      .selectExpr("sum(hash(l_comment))", "max(l_shipdate)").collect()
  } catch { case NonFatal(_) => () }

  /** The build phase, timed apart from every query: the persistent
    * retrieval indexes, force-rebuilt so the cost is real, and the derived
    * graph with its memoized counts (the broadcast gates) and the
    * persisted adjacency the rank loops share. Returns (seconds, failed). */
  def build(): (Double, Boolean) = {
    val t = System.nanoTime()
    val failed = try {
      index.Indexes.invalidateAll(spark, sfDir)
      index.Indexes.buildAll(spark, sfDir)
      val g = graph.TpchGraph.build(spark, sfDir)
      g.edgeCount; g.nodeCount
      g.edgesOd.foreach(_ => ())
      false
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] build phase failed: $e"); true
    }
    ((System.nanoTime() - t) / 1e9, failed)
  }

  /** Time `q` over `dir`: a cold rep (per-plan codegen, never counted),
    * a settle rep when `settleIf(cold)` (HotSpot compiles the generated
    * classes asynchronously during the run after cold; without a settle
    * rep that lands in the first warm rep), then `warmReps` counted reps
    * reduced by `agg`. A GC follows every rep, outside its timed window:
    * it releases dead localCheckpoint blocks, so a checkpoint-heavy entry
    * cannot bill eviction pressure from its earlier reps to later ones.
    * Live state (the built graph, index readers) is object-held and
    * survives; the cache is never cleared here. */
  def timed(q: Q, dir: String, warmReps: Int, agg: Seq[Double] => Double,
      settleIf: Option[Double] => Boolean): Timing = {
    val starts = ArrayBuffer.empty[Double]
    def rep(): Option[Double] = {
      starts += nowT
      val t = System.nanoTime()
      val ok = try { q.run(spark, dir).count(); true } catch { case NonFatal(e) =>
        System.err.println(s"[bench] ${q.name} failed on $dir: $e"); false
      }
      val dt = (System.nanoTime() - t) / 1e9
      System.gc()
      Option.when(ok)(dt)
    }
    val cold = rep()
    val settle = if (settleIf(cold)) rep() else None
    val warm = Seq.fill(warmReps)(rep()).flatten
    Timing(q.name, cold, settle, warm,
      Option.when(cold.isDefined && warm.size == warmReps)(agg(warm)),
      starts.toSeq)
  }

  /** The headline series — the frozen Q.bench set in catalog order: cold,
    * settle, median of 3 warm, so neither the cold rep nor a one-off
    * GC/JIT spike sets the number — then the extended series, every other
    * oracled entry: cold, a settle only when cold > 0.4 s (the async
    * compile tail that would otherwise land in both reps of a sub-second
    * entry), min of 2 warm (the steady-state floor; a regression
    * tripwire, reported apart so the headline stays comparable). A probe
    * halfway through the headline halves the blame window of a drift.
    * SPARK_GRAFT_BENCH_EXT=off skips the extended series. */
  def series(): (Seq[Timing], Seq[Timing]) = {
    def picked(bench: Boolean) = Catalog.all
      .filter(q => q.bench == bench && only.forall(_.contains(q.name)))
    val benched = picked(bench = true)
    val mid = benched.size / 2
    val headline = benched.zipWithIndex.map { case (q, i) =>
      if (i == mid && benched.size > 10) cpu.at("mid_headline")
      timed(q, sfDir, 3, ws => ws.sorted.apply(ws.size / 2), _.isDefined)
    }
    cpu.at("post_headline"); io.at("post_headline")
    val extended =
      if (envOff("SPARK_GRAFT_BENCH_EXT").isDefined) Nil
      else picked(bench = false).map(timed(_, sfDir, 2, _.min, _.exists(_ > 0.4)))
    if (extended.nonEmpty) { cpu.at("post_extended"); io.at("post_extended") }
    (headline, extended)
  }

  private val historyPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_HISTORY",
    "bench_history.json")
  /** Bands are read and appended only by full runs over the committed
    * bench corpus: focused runs and runs at other scales must neither arm
    * nor pollute them. */
  private val historyEligible = only.isEmpty && sfDir.endsWith("sf0.1")

  /** The per-entry regression tripwire. With ≥3 history draws an entry
    * flags on an exit from its band (BenchParse.bandRegressed), else on
    * 1.5× the previous artifact's warm value. A headline flag whose first
    * warm rep sits in a window where the bracketing CPU probes rose
    * (≥ 1.5× the run's best) is box load and does not fire; the extended
    * series has no such exoneration.
    *
    * The history's scale and core-count tags must match this run
    * (`contains`: a missing or torn tag fails closed) — bands from another
    * scale or core count must never arm. A history file that exists but
    * is refused also blocks the append, which would otherwise rebuild the
    * file from this run alone. The probe ratios compare this run's box to
    * the recent accepted runs' boxes (run-level, not per draw): the
    * settled CPU probe, and the worst I/O reading against the history's
    * quietest ones, conservative toward exoneration. */
  def tripwire(headline: Seq[Timing], extended: Seq[Timing], probeSec: Double,
      prevTxt: Option[String]): Tripwire = {
    val raw = if (historyEligible) readText(historyPath) else None
    val sfOk = raw.forall(t => BenchParse.historySf(t).contains(sfDir))
    val cpusOk = raw.forall(t => BenchParse.historyCpus(t).contains(cpus))
    val txt = raw.filter(_ => sfOk && cpusOk)
    val readOk = !historyEligible || txt.isDefined || !Files.exists(Paths.get(historyPath))
    val bands = txt.map(BenchParse.history).getOrElse(Map.empty)
    // positive only: a probe under 0.5 ms reads 0.000 after rounding and
    // would zero the mean
    val bandProbes = txt.map(BenchParse.historyProbes).getOrElse(Nil).filter(_ > 0)
    val bandIo = txt.map(BenchParse.historyIoProbes).getOrElse(Nil).filter(_ > 0)
    def ratio(v: Double, base: Seq[Double]) =
      Option.when(base.nonEmpty && v > 0)(v / (base.sum / base.size))
    val ioMax = io.points.map(_.sec).filter(_ > 0).maxOption.getOrElse(-1.0)
    val probeBase = cpu.points.map(_.sec).filter(_ > 0).minOption.getOrElse(-1.0)
    def probeFlatAt(t: Double) = probeBase > 0 && {
      val before = cpu.points.filter(_.t <= t).lastOption
      (before.toSeq ++ cpu.points.find(_.t > t)).forall(_.sec < 1.5 * probeBase)
    }
    val prevWarm = prevTxt.map(BenchParse.headlineWarm).getOrElse(Map.empty)
    val prevExt = prevTxt.map(BenchParse.extendedWarm).getOrElse(Map.empty)
    def flagged(ts: Seq[Timing], prev: Map[String, Double],
        flatAt: Timing => Boolean) = ts.collect {
      case t @ Timing(n, _, _, _, Some(w), _) if BenchParse.bandRegressed(w,
          bands.getOrElse(n, Nil), prev.get(n)) && flatAt(t) => n
    }
    val env = BenchParse.nonDefaultBenchEnv(sys.env.keys)
    // the refusal is named: a foreign cpus or scale tag is a provenance
    // mismatch, "unreadable" a file that failed to read or parse
    val refusal =
      if (readOk) Nil
      else if (raw.isDefined && !cpusOk) Seq("history_cpus_mismatch" -> "true",
        "history_cpus" -> jstr(raw.flatMap(BenchParse.historyCpus)
          .getOrElse("(missing)")), "run_cpus" -> jstr(cpus))
      else if (raw.isDefined && !sfOk) Seq("history_sf_mismatch" -> "true")
      else Seq("history_unreadable" -> "true")
    Tripwire(
      flagged(headline, prevWarm, _.tStart.lift(2).forall(probeFlatAt)),
      flagged(extended, prevExt, _ => true),
      prevTxt.nonEmpty, prevWarm.size, prevExt.size,
      prevTxt.flatMap(BenchParse.coldTotal), bands,
      bandProbes, ratio(probeSec, bandProbes), bandIo, ratio(ioMax, bandIo),
      historyEligible && env.isEmpty && readOk, env, refusal)
  }

  /** Append this run's warm values to the band history. Any non-default
    * bench knob makes a run ineligible (BenchParse.nonDefaultBenchEnv),
    * and entries the tripwire flagged are left out: a regressed draw
    * entering its own band would raise the band and let a sustained
    * regression flag once and then pass. */
  def appendHistory(trip: Tripwire, measured: Seq[Timing], probeSec: Double): Unit =
    if (trip.historyWrite) {
      val current = measured.collect { case Timing(n, _, _, _, Some(w), _) =>
        n -> w }.toMap -- (trip.regressed ++ trip.regressedExt)
      val ioMin = io.points.map(_.sec).filter(_ > 0).minOption.getOrElse(-1.0)
      try Files.write(Paths.get(historyPath), BenchParse.historyJson(trip.bands,
          current, sfDir, trip.bandProbes, Some(probeSec), cpus,
          trip.bandIoProbes, Some(ioMin)).getBytes(UTF_8))
      catch { case NonFatal(t) =>
        System.err.println(s"[bench] $historyPath write failed: $t") }
    } else if (historyEligible) System.err.println("[bench] history append skipped (" +
      (if (trip.historyRefusal.isEmpty) s"non-default env: ${trip.skipEnv.mkString(",")})"
       else s"$historyPath exists but is unreadable, off-scale, or off-cpus — " +
         "preserved, not rebuilt)"))

  /** Certification sections in artifact order, each pending until run. */
  val sections = scala.collection.mutable.LinkedHashMap(Seq("scale_decade",
    "decade_correctness", "extra_draw", "components").map(_ -> Pending): _*)

  /** Certifications not started by this elapsed time (from bench start)
    * become skipped stand-ins, sized so a started one still fits a 1 h
    * wall-clock budget. */
  private val deadlineSec = sys.env.get("SPARK_GRAFT_BENCH_DEADLINE")
    .flatMap(_.toDoubleOption).getOrElse(2700.0)
  private def pastDeadline(what: String): Option[String] =
    Option.when(nowT > deadlineSec)(f"deadline: $what%s skipped at " +
      f"t=${nowT}%.0f s elapsed (budget ${deadlineSec}%.0f s, " +
      "SPARK_GRAFT_BENCH_DEADLINE)")
  private def envOff(knob: String): Option[String] =
    Option.when(sys.env.get(knob).contains("off"))(s"$knob=off")

  /** The certifications, after every timed series (their dump loops clear
    * caches the series rely on): the components path, the decade probe,
    * the decade's correctness and the rotating extra-scale draw. `emit`
    * rewrites the artifact; it runs after each section. */
  def certifications(measured: Seq[Timing], prevTxt: Option[String],
      emit: () => Unit): Unit = {
    // one section: a skip reason makes it a skipped stand-in, a throw an
    // error (keeping `errHead` and `errCompact`), else it is what `body`
    // returns. Left: "skipped: …" or "failed: …".
    def certify[A](name: String, skip: Option[String],
        errHead: Seq[(String, String)] = Nil,
        errCompact: Seq[(String, String)] = Nil)(
        body: => (Section, A)): Either[String, A] = {
      val (section, out) = skip match {
        case Some(reason) => (skipped(reason), Left(s"skipped: $reason"))
        case None => try { val (s, a) = body; (s, Right(a)) } catch { case NonFatal(t) =>
          System.err.println(s"[bench] $name failed: $t")
          (Section(errHead :+ ("error" -> jstr(t.toString)), errCompact), Left(s"failed: $t"))
        }
      }
      sections(name) = section
      emit()
      out
    }
    val focused = only.map(_ => "focused run (SPARK_GRAFT_BENCH_ONLY)")
    certify("components", focused)((components(), ()))
    val decade = certify("scale_decade", focused
      .orElse(envOff("SPARK_GRAFT_DECADE")).orElse(pastDeadline("decade probe"))) {
      val d = decadeProbe(measured)
      (decadeSection(d), (d.dir, d.fp))
    }
    certify("decade_correctness", envOff("SPARK_GRAFT_DECADE_CORR")
        .orElse(decade.left.toOption.map(r => s"decade probe $r"))
        .orElse(pastDeadline("decade correctness")),
        errCompact = Seq("decade_corr_error" -> "true")) {
      val (dir, fp) = decade.toOption.get
      // the dump tag carries the base corpus, so decade dumps of
      // different base corpora never sweep each other's generations
      (certSection("decade_corr", Nil,
        runCert(dir, fp, s"x10${index.IndexStore.slug(sfDir)}")), ())
    }
    val extra = extraDrawPlan(focused, prevTxt)
    val head = extra.toOption.toSeq.flatMap { case (src, copies) =>
      Seq("src" -> jstr(src), "rows_factor" -> copies.toString) }
    certify("extra_draw", extra.left.toOption, head,
        Seq("extra_draw_error" -> "true")) {
      val (src, copies) = extra.toOption.get
      val (dir, fp) = scaledCorpus(src, copies, "_scale_extra")
      (certSection("extra_draw", head, runCert(dir, fp,
        s"extra$copies${index.IndexStore.slug(src)}")), ())
    }
  }

  /** The union-find hatch's deciding quantity (verified edges, from the
    * same Dedup.componentEdges frame the hatch counts), the path taken at
    * the current cap, and one components run's wall — so a cap change
    * shows its cost in the artifact. */
  private def components(): Section = {
    val docs = core.Tables.documents(spark, sfDir)
    val t0 = System.nanoTime()
    val edgesDf = dedup.Dedup.componentEdges(docs)
    val edges = edgesDf.count()
    val t1 = System.nanoTime()
    // the counted frame is reused: run_sec is propagation only
    dedup.Dedup.nearDupComponents(docs, edges = Some(edgesDf)).count()
    componentsSection(edges, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
  }

  /** The key-shifted `copies`× replica of `src` (ScaleUp), published once
    * per source fingerprint under `<index root>/<area>/<src>/x<copies>_<fp>`
    * — adopted by later runs and concurrent JVMs — with older generations
    * swept. Returns (dir, fingerprint). */
  private def scaledCorpus(src: String, copies: Int, area: String)
      : (String, String) = {
    val fp = index.IndexStore.fingerprint(spark,
      ScaleUp.tables.map(t => s"$src/$t.parquet"))
    val dir = s"${index.IndexStore.root}/$area/" +
      s"${index.IndexStore.slug(src)}/x${copies}_$fp"
    val path = new org.apache.hadoop.fs.Path(dir)
    core.LayoutPublish.publish(spark, path) { tmp =>
      ScaleUp.tables.foreach(t => ScaleUp.scaled(spark, src, t, copies)
        .write.mode("overwrite").parquet(s"$tmp/$t.parquet"))
    }
    core.LayoutPublish.gcStale(spark, path.getParent, s"x${copies}_",
      path.getName)()
    (dir, fp)
  }

  /** Rerun the decade panel plus this run's slowest-10 (both series, less
    * [[Bench.DecadeExempt]]) on the 10× corpus — cold and settle pay the
    * 10×-scale index, layout and graph builds, then min of 2 warm — and
    * give each flagged entry with a ScaleDiag work probe its output
    * growth next to its wall ratio. An entry with no base-scale warm
    * value is recorded as such before paying any 10× rep. */
  private def decadeProbe(measured: Seq[Timing]): Decade = {
    val copies = 10
    val (dir, fp) = scaledCorpus(sfDir, copies, "_scale10x")
    val warmBase = measured.collect { case Timing(n, _, _, _, Some(w), _) => n -> w }
    val draw = warmBase.sortBy(-_._2).map(_._1).filterNot(DecadeExempt)
      .take(10).filterNot(DecadePanel.contains)
    val noBase = ArrayBuffer.empty[String]
    val failed = ArrayBuffer.empty[String]
    def measure(n: String): Option[Scaled] =
      warmBase.toMap.get(n).filter(_ > 0) match {
        case None => noBase += n; None
        case Some(w) =>
          val t = timed(Catalog.byName(n), dir, 2, _.min, _ => true)
          if (t.warm.isEmpty) failed += n
          t.warm.map(Scaled(n, _, w))
      }
    val entries = DecadePanel.flatMap(measure)
    val extras = draw.flatMap(measure)
    val all = entries ++ extras
    val work = all.filter(_.superlinear).flatMap(s =>
      ScaleDiag.workProbes.get(s.name).map { probe =>
        def at(d: String) = try probe(spark, d) catch { case NonFatal(_) => -1L }
        Work(s.name, at(sfDir), at(dir), s.ratio)
      })
    Decade(dir, fp, copies, entries, extras, work, noBase.toSeq, failed.toSeq)
  }

  /** The extra-scale draw: one alternate-scale certification per run,
    * rotating off the previous artifact's draw (BenchParse.pickExtraDraw),
    * so the sampled corpora widen across runs. SPARK_GRAFT_EXTRA_DRAW=off
    * skips it; sf0.001x10, sf0.01x30 and sf0.001x100 force one; sf0.1x100
    * (about sf10 row volume, never in the rotation) needs SF_DIR pointed at
    * a smaller corpus and a raised deadline. An unrecognized value is
    * recorded, never silently rotated past. Right: (source dir, copies). */
  private def extraDrawPlan(focused: Option[String], prevTxt: Option[String])
      : Either[String, (String, Int)] = {
    val knob = "SPARK_GRAFT_EXTRA_DRAW"
    val forced = Map("sf0.001x10" -> ("sf0.001", 10), "sf0.01x30" -> ("sf0.01", 30),
      "sf0.001x100" -> ("sf0.001", 100), "sf0.1x100" -> ("sf0.1", 100))
    val pick = sys.env.get(knob) match {
      case None => Right(BenchParse.pickExtraDraw(prevTxt.flatMap(BenchParse.extraDraw)))
      case Some(v) => forced.get(v).toRight(s"unrecognized $knob: $v " +
        s"(expected off | ${forced.keys.mkString(" | ")})")
    }
    focused.orElse(envOff(knob)).orElse(pastDeadline("extra draw"))
      .toLeft(pick).flatten.flatMap { case (name, copies) =>
        val base = new java.io.File(sfDir).getAbsoluteFile
        val src = new java.io.File(base.getParentFile, name)
        if (!src.isDirectory) Left(s"source dir missing: $src")
        else if (src.getAbsolutePath == base.getAbsolutePath)
          Left(s"extra-draw source equals the bench corpus: $sfDir")
        else Right((src.getAbsolutePath, copies))
      }
  }

  /** The code generation producing correctness dumps: the git tree hashes
    * of src/ and tools/ (not the commit: doc-only commits must not
    * invalidate a dump), valid only while neither has uncommitted edits. */
  private lazy val codeId: Option[String] = {
    import scala.sys.process._
    def execOut(cmd: String*) =
      scala.util.Try(cmd.!!(ProcessLogger(_ => ())).trim).toOption
    for {
      trees <- execOut("git", "rev-parse", "HEAD:src", "HEAD:tools")
      st <- execOut("git", "status", "--porcelain", "--", "src", "tools")
      if st.isEmpty
    } yield trees.linesIterator.mkString("+")
  }

  /** The oracle correctness gate over an at-scale corpus, in this
    * session: Verify.dump for the catalog less [[Bench.CertExempt]], then
    * the stock DuckDB compare (tools/oracle_check.py). The dump is skipped
    * when its fingerprint-keyed dir already holds this code generation's
    * output for the same names (`_dump_code_id`), so a second run on one
    * commit pays only the compare. A compare without its summary line
    * counts every query not proven PASS as failed
    * (BenchParse.oracleOutcome). */
  private def runCert(dir: String, fp: String, outTag: String): Certified = {
    val t0 = System.nanoTime()
    val names = SparkEntry.queries.keys.toSeq.sorted.filterNot(CertExempt.contains)
    val outDir = s"${index.IndexStore.root}/_decade_verify/${outTag}_$fp"
    val marker = Paths.get(s"$outDir/_dump_code_id")
    val markerVal = codeId.map(h => s"$h|${names.mkString(",").hashCode}")
    val canSkip = markerVal.exists(v => try Files.exists(marker) &&
      new String(Files.readAllBytes(marker), UTF_8).trim == v
      catch { case NonFatal(_) => false })
    val tD = System.nanoTime()
    val dumpFailed =
      if (canSkip) Nil
      else {
        // a half-finished dump must not inherit the previous marker
        try Files.deleteIfExists(marker) catch { case NonFatal(_) => () }
        val f = Verify.dump(spark, dir, outDir, Some(names.toSet))
        // keep only the current fingerprint's dump under this tag
        core.LayoutPublish.gcStale(spark,
          new org.apache.hadoop.fs.Path(outDir).getParent,
          s"${outTag}_", s"${outTag}_$fp")()
        if (f.isEmpty) markerVal.foreach(v =>
          try Files.write(marker, v.getBytes(UTF_8))
          catch { case NonFatal(_) => () })
        f
      }
    val tO = System.nanoTime()
    val proc = new ProcessBuilder("python3", "tools/oracle_check.py", dir,
      outDir, names.mkString(",")).redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes(), UTF_8)
    val exit = proc.waitFor()
    val tE = System.nanoTime()
    Certified(dir, fp, names.size,
      BenchParse.oracleOutcome(out, names.size, dumpFailed), exit,
      out.linesIterator.toSeq.takeRight(5).mkString(" | "), canSkip,
      (tO - tD) / 1e9, (tE - tO) / 1e9, (tE - t0) / 1e9)
  }
}
