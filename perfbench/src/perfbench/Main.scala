package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path => JPath, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM:
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR --cores C --out FILE
  *
  * Generates the inputs from the seed, sets the engine up, runs the fixed
  * warm-up and the fixed measured sequence with one closed-loop client,
  * checks every answer, and writes the result JSON to --out. With --trace 1 it first
  * runs the measured sequence untraced (the overhead baseline), then again
  * under the Spark listener, and reports the per-call ledger. Reference
  * answers are computed with the inputs, so neither set-up nor the
  * measured phase pays for them. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: JPath, cores: Int, out: JPath, spans: Option[JPath])

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")), need("cores").toInt, Paths.get(need("out")), m.get("spans").map(Paths.get(_)))
  }

  def session(cores: Int, work: JPath): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--selftest")) { SelfTest.main(argv.tail); return }
    val a = parse(argv)
    val spark = session(a.cores, a.work)
    spark.sparkContext.setLogLevel("WARN")
    val json = try run(spark, a) finally spark.stop()
    Files.writeString(a.out, json)
  }

  /** Phase progress on stderr; stdout carries only the result. */
  def progress(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def metric(v: Double, unit: String, n: Int = -1): String =
    Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)) ++
      (if (n >= 0) Seq("samples" -> n.toString) else Nil))

  def run(spark: SparkSession, a: Args): String = {
    val dataRoot = a.work.resolve("data")
    val inputs = a.work.resolve("inputs")
    val gen0 = System.nanoTime()
    val w = Workload(a.workload, a.seed, a.seconds)
    w.writeInputs(spark, inputs)
    val generateS = (System.nanoTime() - gen0) / 1e9
    progress(f"generated inputs in $generateS%.1f s")

    val h = new Harness(spark, a.trace)
    val checks = new Tally
    val setupCalls = mutable.LinkedHashMap.empty[String, Double]
    // set-up: the engine's state, then the warm-up
    val t0 = System.nanoTime()
    w.setup(h, dataRoot, (k, ms) => setupCalls(k) = ms)
    val t1 = System.nanoTime()
    w.warmup.foreach(op => w.run(h, checks, op, measured = false))
    val t2 = System.nanoTime()
    val setupS = (t2 - t0) / 1e9
    val warmupS = (t2 - t1) / 1e9
    progress(f"set-up: $setupS%.1f s (warm-up $warmupS%.1f s)")

    def measure(): (Tally, Double) = {
      val t = new Tally
      val t0 = System.nanoTime()
      w.ops.foreach(op => w.run(h, t, op, measured = true))
      val s = (System.nanoTime() - t0) / 1e9
      progress(f"measured ${w.ops.size} ops in $s%.1f s: " + t.samples.map { case (c, xs) =>
        f"$c ${Stats.median(xs.toSeq)}%.0f ms x${xs.size}" }.mkString(", "))
      (t, s)
    }
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    val (plain, plainS) = measure()
    // traced: untraced pass, traced pass, untraced pass again; the
    // overhead compares the traced pass with the mean of the two around it,
    // so JIT warm-up between passes does not read as tracing cost
    val traced = if (!a.trace) None else {
      pools.foreach(_.resetPeakUsage())
      val gc0 = gc.map(_.getCollectionTime).sum
      h.startTrace()
      val (t, s) = measure()
      val gcMs = gc.map(_.getCollectionTime).sum - gc0
      val heapMb = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      h.stopTrace()
      val (after, afterS) = measure()
      Some((t, s, gcMs, heapMb, after, afterS))
    }
    val all = Seq(checks, plain) ++ traced.toSeq.flatMap(x => Seq(x._1, x._5))
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum
    val failures = all.flatMap(_.failures)
    val opsPerS = w.ops.size / plainS

    val classes = Report.classes(plain)
    val endToEnd = Seq(
      "setup_s" -> metric(setupS, "s"),
      "ops_per_s" -> metric(opsPerS, "1/s"),
      "latency_geomean_ms" -> metric(Stats.geomean(Report.gatedClasses(w.name).map(c => Stats.median(classes(c)))), "ms"),
      "quality" -> metric(w.quality, "ratio"))
    val detail = Report.detail(w, classes, setupS, opsPerS)

    val perLayer = traced.map { case (_, s, gcMs, heapMb, _, afterS) =>
      val ls = h.layers()
      a.spans.foreach(p => h.writeSpans(p, ls))
      Report.layers(w, ls, setupCalls.toMap, warmupS, generateS,
        gcMs.toDouble, heapMb, (1 / s) / ((1 / plainS + 1 / afterS) / 2))
    }

    val env = Seq(
      "cores" -> a.cores.toString,
      "spark_version" -> Json.str(spark.version),
      "driver_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")))
    Json.obj(Seq(
      "workload" -> Json.str(w.name),
      "seed" -> a.seed.toString,
      "ops" -> w.ops.size.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "failures" -> Json.arr(failures.map(Json.str)),
      "end_to_end" -> Json.obj(endToEnd),
      "detail" -> Json.obj(detail.map { case (k, v, u, n) => k -> metric(v, u, n) }),
      "per_layer" -> Json.obj(perLayer.getOrElse(Nil).map { case (k, v, u) => k -> metric(v, u) }),
      "env" -> Json.obj(env)))
  }
}
