package perfbench

/** Metric names and their assembly from a run's samples and ledger. */
object Report {
  /** The end-to-end metrics every workload reports, with their units. */
  val endToEnd: Seq[(String, String)] =
    Seq("setup_s" -> "s", "ops_per_s" -> "1/s", "latency_geomean_ms" -> "ms", "quality" -> "ratio")

  /** Classes whose median latencies enter `latency_geomean_ms`, per workload. */
  def gatedClasses(workload: String): Seq[String] = workload match {
    case "serve_read"  => Seq("ann", "exact", "text", "hybrid")
    case "graph_batch" => Seq("pagerank", "ppr", "graph_search")
  }

  /** Measured latency samples per op class. */
  def classes(t: Tally): Map[String, Seq[Double]] =
    t.samples.toMap.map { case (c, xs) => c -> xs.toSeq }

  /** The per-class figures behind the gated metrics, by name, with their
    * sample counts: every class median, and p90 where it has at least ten
    * samples beyond it. */
  def detail(w: Workload, classes: Map[String, Seq[Double]], setupS: Double, opsPerS: Double)
      : Seq[(String, Double, String, Int)] = {
    val lat = classes.toSeq.sortBy(_._1).flatMap { case (c, xs) =>
      (s"${c}_p50_ms", Stats.median(xs), "ms", xs.size) +:
        Seq(90.0).filter(p => xs.size >= Stats.minSamples(p)).map { p =>
          (s"${c}_p${p.toInt}_ms", Stats.percentile(xs, p), "ms", xs.size)
        }
    }
    Seq(("setup_s", setupS, "s", 1),
      ("ops_per_s", opsPerS, "1/s", w.ops.size),
      (w.qualityName, w.quality, "ratio", -1)) ++ lat ++ w.extras.map { case (n, v, u) => (n, v, u, -1) }
  }

  val readCalls = Seq("core.search_ann", "core.search_ann_filter", "core.search",
    "core.search_text", "core.search_hybrid", "plans.sql_topk")
  val graphCalls = Seq("graph.pagerank", "graph.ppr", "graph.traverse",
    "gv.semantic_graph_search", "gv.graph_rerank")
  val setupNames = Seq("core.insert_batch.setup_ms", "index.ensure_ann.setup_ms",
    "index.ensure_text.setup_ms", "index.ensure_hybrid.setup_ms", "graph.build.setup_ms")

  private val common = Seq("p50_ms" -> "ms", "outside_jobs_ms" -> "ms", "jobs" -> "count",
    "sql_execs" -> "count", "executor_cpu_ms" -> "ms")
  private def fields(calls: Seq[String], extra: (String, String)*) =
    calls.flatMap(c => (common ++ extra).map { case (f, u) => s"$c.$f" -> u })

  /** The per-layer metrics of the benchmarked workloads (name, unit), in
    * a fixed order; a traced run reports all of them, 0 for calls its
    * workload does not make. Per-call figures are medians over the call's
    * samples in the traced pass. */
  val perLayer: Seq[(String, String)] =
    fields(readCalls, "scan_bytes" -> "bytes", "catalyst_ms" -> "ms") ++
    fields(graphCalls, "shuffle_bytes" -> "bytes", "catalyst_ms" -> "ms") ++
    setupNames.map(_ -> "ms") ++
    Seq("catalyst.analysis_ms" -> "ms", "catalyst.optimize_ms" -> "ms",
      "catalyst.planning_ms" -> "ms", "jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MB",
      "plans.rewrite_fired_ratio" -> "ratio", "bench.generate_s" -> "s",
      "bench.warmup_s" -> "s", "trace.overhead_ratio" -> "ratio")

  def layers(w: Workload, ls: Seq[Harness#CallLayers],
      setupCalls: Map[String, Double], warmupS: Double, generateS: Double,
      gcMs: Double, heapMb: Double, overhead: Double): Seq[(String, Double, String)] = {
    val v = scala.collection.mutable.Map.empty[String, Double]
    ls.groupBy(_.rec.name).foreach { case (call, cs) =>
      def mid(f: Harness#CallLayers => Double) = Stats.median(cs.map(f))
      v(s"$call.p50_ms") = mid(_.rec.wallMs)
      v(s"$call.outside_jobs_ms") = mid(_.outsideJobsMs)
      v(s"$call.jobs") = mid(_.jobs.size.toDouble)
      v(s"$call.sql_execs") = mid(_.sqls.size.toDouble)
      v(s"$call.executor_cpu_ms") = mid(_.jobs.map(_.cpuNs).sum / 1e6)
      v(s"$call.scan_bytes") = mid(_.jobs.map(_.inputBytes).sum.toDouble)
      v(s"$call.shuffle_bytes") = mid(_.jobs.map(_.shuffleBytes).sum.toDouble)
      v(s"$call.catalyst_ms") = mid(_.sqls.map(s => s.analysisMs + s.optimizeMs + s.planningMs).sum.toDouble)
    }
    v ++= setupCalls
    val measuredSqls = ls.flatMap(_.sqls)
    v("catalyst.analysis_ms") = measuredSqls.map(_.analysisMs).sum.toDouble
    v("catalyst.optimize_ms") = measuredSqls.map(_.optimizeMs).sum.toDouble
    v("catalyst.planning_ms") = measuredSqls.map(_.planningMs).sum.toDouble
    v("jvm.gc_ms") = gcMs
    v("jvm.heap_peak_mb") = heapMb
    w match {
      case sr: ServeRead => v("plans.rewrite_fired_ratio") = sr.rewriteFiredRatio
      case _ =>
    }
    v("bench.generate_s") = generateS
    v("bench.warmup_s") = warmupS
    v("trace.overhead_ratio") = overhead
    perLayer.map { case (n, u) => (n, v.getOrElse(n, 0.0), u) }
  }
}
