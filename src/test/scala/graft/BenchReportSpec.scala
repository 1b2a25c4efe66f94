package graft

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import Bench._
import BenchParse.jstr

/** Pins what Bench's renderer writes: fixed measured values go through
  * [[Bench.render]], and the two outputs must be valid JSON (no duplicate
  * key) with exactly the key lists below, and must read back through
  * [[BenchParse]] — the parsers that arm the next run's tripwire fail
  * open, so a key the writer dropped or renamed would otherwise only show
  * as a silently disarmed tripwire. [[BenchParseSpec]] pins the parsers
  * against a hand-written fixture; this spec pins the writer.
  */
class BenchReportSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_READING_DUP_TREE_KEY)
  private def tree(json: String): JsonNode = mapper.readTree(json)
  private def keys(n: JsonNode): Seq[String] = n.fieldNames().asScala.toSeq

  // the compact line of a complete run: every series, every certification
  // ran, a flagged entry, a previous artifact
  private val CompactKeys = Seq("metric", "value", "unit", "queries",
    "cold_total", "build_sec", "build_failed", "n_queries", "probe_sec",
    "wu_settled", "probe_points", "io_probe_sec", "io_probe_max", "ext_total",
    "ext_cold_total", "ext_n", "ext_slowest", "ext_failed",
    "decade_superlinear", "decade_failed", "decade_corr_pass",
    "decade_corr_fail", "decade_corr_failed", "extra_draw_pass",
    "extra_draw_fail", "extra_draw_failed", "regressed", "regressed_ext",
    "regressed_bands", "regressed_baseline", "cold_total_prev",
    "cold_total_delta", "failed", "sf")
  private val FullKeys = Seq("metric", "value", "unit", "queries",
    "queries_cold", "queries_reps", "rep_gc", "cold_total", "build_sec",
    "build_failed", "probe_sec", "bench_epoch_ms", "probe_points",
    "io_points", "io_probe_sec", "io_probe_max", "warmup", "extended",
    "scale_decade", "decade_correctness", "extra_draw", "components",
    "regressed", "regressed_ext", "regressed_bands", "regressed_baseline",
    "cold_total_prev", "cold_total_delta", "failed", "sf")

  private val headline = Seq(
    Timing("q1_agg", Some(1.5), Some(0.9), Seq(0.8, 0.7, 0.75), Some(0.75),
      Seq(10.0, 11.5, 12.4, 13.2, 13.9)),
    Timing("graph_pagerank", Some(6.0), Some(4.1), Seq(4.0, 3.9, 4.2),
      Some(4.0), Seq(14.7, 20.7, 24.8, 28.8, 32.7)),
    Timing("q_broken", None, None, Nil, None, Seq(36.9, 37.0, 37.1, 37.2)))
  private val extended = Seq(
    Timing("media_card", Some(3.0), Some(2.5), Seq(2.4, 2.6), Some(2.4),
      Seq(40.0, 43.0, 45.5, 47.9)),
    Timing("ext_broken", None, None, Nil, None, Seq(50.0, 50.1, 50.2)))
  private val trip = Tripwire(regressed = Seq("graph_pagerank"), Nil,
    prevFound = true, prevHeadline = 57, prevExtended = 139,
    prevColdTotal = Some(7.0), bands = Map("graph_pagerank" -> Seq(2.0, 2.1, 2.2),
      "q1_agg" -> Seq(0.7, 0.8)),
    bandProbes = Seq(0.09, 0.1), probeRatio = Some(1.05),
    bandIoProbes = Seq(0.5), ioRatio = Some(1.4), historyWrite = false,
    skipEnv = Seq("SPARK_GRAFT_BENCH_FULL"), historyRefusal = Nil)
  private def certified(dir: String, failed: Seq[String]) = Certified(dir,
    "fp1", 192, BenchParse.OracleOutcome(192 - failed.size, failed,
      complete = true, unreached = 0), 0, "== 191 pass, 1 fail ==",
    dumpSkipped = true, 0.0, 160.2, 161.0)
  private val done = Seq(
    "scale_decade" -> decadeSection(Decade("/idx/_scale10x/sf0.1/x10_fp1",
      "fp1", 10, Seq(Scaled("graph_pagerank", 30.0, 4.0)),
      Seq(Scaled("q1_agg", 9.0, 0.75)), Seq(Work("q1_agg", 100, 1500, 12.0)),
      noBase = Seq("media_resize"), failed = Seq("stream_ann_live"))),
    "decade_correctness" -> certSection("decade_corr", Nil,
      certified("/idx/_scale10x/sf0.1/x10_fp1", Nil)),
    "extra_draw" -> certSection("extra_draw",
      Seq("src" -> jstr("/data/sf0.01"), "rows_factor" -> "30"),
      certified("/idx/_scale_extra/sf0.01/x30_fp1", Seq("knn_topk"))),
    "components" -> componentsSection(1234, 0.5, 0.25))
  private def report(sections: Seq[(String, Section)], partial: Boolean) =
    Report("/data/sf0.1", 1700000000000L, 9.5, buildFailed = false,
      Warmup(settled = true, 4, 120.0, Seq(0.2, 0.1, 0.09, 0.091, 0.09), 0.09),
      Seq(Point("warmup", 1.0, 0.2), Point("warmup_settled", 9.0, 0.09)),
      Seq(Point("warmup_settled", 9.5, 0.6), Point("post_headline", 36.0, 0.5)),
      headline, extended, trip, sections, partial)

  test("the compact line and bench_full.json carry exactly today's keys") {
    val (full, compact) = render(report(done, partial = false))
    assert(keys(tree(compact)) == CompactKeys)
    assert(keys(tree(full)) == FullKeys)
    val f = tree(full)
    assert(keys(f.get("warmup")) == Seq("settled", "iters", "cap_sec", "probes"))
    assert(keys(f.get("extended")) == Seq("value", "unit", "n_queries",
      "queries", "queries_cold", "cold_total", "failed"))
    assert(keys(f.get("queries_reps").get("q1_agg")) ==
      Seq("cold", "settle", "warm_reps", "t_start"))
    assert(keys(f.get("regressed_baseline")) == Seq("found",
      "headline_entries", "extended_entries", "band_entries", "band_probes",
      "probe_ratio", "band_io_probes", "io_ratio", "history_write",
      "history_skip_env"))
    assert(keys(f.get("regressed_bands").get("graph_pagerank")) == Seq("n",
      "band_min", "band_max", "arm", "probe_ratio", "io_ratio", "class"))
    assert(keys(f.get("scale_decade")) == Seq("dir", "fingerprint",
      "rows_factor", "panel", "queries", "superlinear", "draw_queries",
      "draw_superlinear", "work", "no_baseline", "failed"))
    val cert = Seq("dir", "fingerprint", "checked", "pass", "fail", "failed",
      "exempt", "exempt_reason", "dump_skipped", "dump_sec", "oracle_sec",
      "oracle_complete", "sec")
    assert(keys(f.get("decade_correctness")) == cert)
    assert(keys(f.get("extra_draw")) == Seq("src", "rows_factor") ++ cert)
    assert(keys(f.get("components")) ==
      Seq("edges", "cap", "path", "edges_sec", "run_sec"))
  }

  test("BenchParse reads back what the renderer writes") {
    val (full, compact) = render(report(done, partial = false))
    assert(BenchParse.headlineWarm(full) ==
      Map("q1_agg" -> 0.75, "graph_pagerank" -> 4.0))
    assert(BenchParse.extendedWarm(full) == Map("media_card" -> 2.4))
    assert(BenchParse.coldTotal(full) == Some(7.5))
    assert(BenchParse.extraDraw(full) == Some(("/data/sf0.01", 30)))
    // the compact line's queries are the slowest warm entries, slowest first
    assert(keys(tree(compact).get("queries")) == Seq("graph_pagerank", "q1_agg"))
    val c = tree(compact)
    assert(c.get("failed").asScala.map(_.asText).toSeq == Seq("q_broken"))
    assert(c.get("ext_failed").asScala.map(_.asText).toSeq == Seq("ext_broken"))
    assert(c.get("extra_draw_failed").asScala.map(_.asText).toSeq == Seq("knn_topk"))
    assert(c.get("cold_total_delta").asDouble == 0.5)
  }

  test("a phase-1 artifact is partial, with pending stand-ins and no certification keys") {
    val pending = done.map(_._1 -> Pending)
    val (full, compact) = render(report(pending, partial = true))
    assert(keys(tree(compact)) == CompactKeys.take(3) ++ Seq("partial") ++
      CompactKeys.drop(3).filterNot(k =>
        k.startsWith("decade_") || k.startsWith("extra_draw_")))
    val f = tree(full)
    assert(f.get("partial").asBoolean)
    for ((k, _) <- done)
      assert(keys(f.get(k)) == Seq("pending", "reason"), k)
    assert(BenchParse.extraDraw(full).isEmpty)
    assert(BenchParse.headlineWarm(full).nonEmpty)
  }
}
