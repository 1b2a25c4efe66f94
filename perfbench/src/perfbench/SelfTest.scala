package perfbench

import java.nio.file.{Files, Paths}

/** The benchmark's own tests (no Spark needed):
  *   - the same seed gives byte-identical inputs and the same op sequence,
  *     a different seed changes them, and every gated class runs;
  *   - an op that throws is counted as failed and keeps its latency;
  *   - the median is the middle sample at any count, and the tail
  *     percentile helper refuses a percentile with fewer than ten samples
  *     beyond it;
  *   - every metric name is well formed, and BENCHMARK.json (when given)
  *     lists exactly the metrics a run reports.
  * Run: Main --selftest [path/to/BENCHMARK.json]; exits non-zero on failure. */
object SelfTest {
  private var failures = 0
  private def check(what: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case scala.util.control.NonFatal(e) => println(s"  error: $e"); false }
    println(s"${if (pass) "ok  " else "FAIL"} $what")
    if (!pass) failures += 1
  }
  private def refuses(body: => Any): Boolean =
    try { body; false } catch { case _: IllegalArgumentException => true }

  def main(args: Array[String]): Unit = {
    for (w <- Workload.names) {
      val a = Workload(w, 7L, 4).opDigest
      check(s"$w: same seed, same inputs and op sequence")(a == Workload(w, 7L, 4).opDigest)
      check(s"$w: another seed changes them")(a != Workload(w, 8L, 4).opDigest)
      check(s"$w: the op count depends only on --seconds")(
        Workload(w, 7L, 4).ops.size == Workload(w, 9L, 4).ops.size)
      check(s"$w: even --seconds 1 measures every gated class")(
        Report.gatedClasses(w).forall(c => Workload(w, 7L, 1).ops.exists(_.cls == c)))
    }

    val t = new Tally
    t.record("text", measured = true)(throw new IllegalStateException("broken"))
    check("an op that throws is a failed op that keeps its latency sample")(
      t.failed == 1 && t.samples("text").size == 1 && t.failures.head.contains("broken"))

    val xs = (1 to 200).map(_.toDouble)
    check("the median of 3 samples is the middle one")(Stats.median(Seq(9.0, 1.0, 4.0)) == 4.0)
    check("the median of 2 samples is their mean")(Stats.median(Seq(1.0, 4.0)) == 2.5)
    check("p90 of 99 samples is refused")(refuses(Stats.percentile(xs.take(99), 90)))
    check("p90 of 100 samples is allowed")(Stats.percentile(xs.take(100), 90) == 90.0)
    check("p99 of 200 samples is refused")(refuses(Stats.percentile(xs, 99)))
    check("minSamples matches the refusal rule")(
      Stats.minSamples(90) == 100 && Stats.minSamples(99) == 1000)

    val Name = "[A-Za-z0-9_.-]+".r
    val names = Report.endToEnd.map(_._1) ++ Report.perLayer.map(_._1) ++
      Workload.names.flatMap(Report.gatedClasses).map(c => s"${c}_p50_ms")
    check("every metric name matches [A-Za-z0-9_.-]+")(names.forall(n => Name.matches(n) && n.length <= 64))
    check("metric names are unique")(names.distinct.size == names.size)
    check("at most 128 per-layer metrics")(Report.perLayer.size <= 128)

    args.headOption.map(Paths.get(_)).filter(Files.exists(_)).foreach { p =>
      val spec = Files.readString(p)
      def section(key: String): Seq[(String, String)] = {
        val body = spec.drop(spec.indexOf("\"" + key + "\"")).takeWhile(_ != ']')
        """"name":\s*"([^"]+)",\s*"unit":\s*"([^"]+)"""".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2)).toSeq
      }
      check("BENCHMARK.json end_to_end = the reported end-to-end metrics")(
        section("end_to_end") == Report.endToEnd)
      check("BENCHMARK.json per_layer = the reported per-layer metrics")(
        section("per_layer") == Report.perLayer)
      check("BENCHMARK.json workloads = the known workloads")(
        """"name":\s*"([^"]+)",\s*"why"""".r.findAllMatchIn(spec).map(_.group(1)).toSeq == Workload.names)
    }

    println(if (failures == 0) "self-test passed" else s"self-test: $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
