package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Dev tool over named catalog queries, on the [[LocalSpark]] session.
  *
  * `plan` prints each query's `explain("formatted")`, or, given an out dir
  * and a suffix, writes it to `<outDir>/<name>_<suffix>.txt` (the committed
  * `plans/r1x/` before/after files).
  *
  * `profile` runs the bench discipline (cold + settle + `reps` warm reps,
  * default 3), printing every rep's wall time, then every Spark job the
  * LAST warm rep launched with its wall, the gap since the previous job,
  * tasks and executor run/CPU/GC time — so a rep decomposes into which
  * eager materializations and actions cost what. Jobs are attributed to a
  * rep by a job group set around it. Each warm rep also prints how many
  * SQL executions its jobs ran under (each job's `spark.sql.execution.id`)
  * and how many of those were planned adaptively (an `AdaptiveSparkPlan`
  * root), so a graph loop that falls back to AQE is a visible count, and
  * how many OS processes it started ([[ProcessStarts]]), so a read path
  * that lists files through a forking filesystem call is one too, and how
  * many classes codegen compiled and the milliseconds that took, so a
  * query whose generated code does not stay in Spark's class cache
  * between reps is one too.
  */
object Explain {
  private val Usage = "usage: Explain <sfDir> <names_csv> plan [<outDir> <suffix>]" +
    " | profile [reps]"

  def main(args: Array[String]): Unit = {
    val valid = args.length >= 3 && (args(2) match {
      case "plan" => args.length == 3 || args.length == 5
      case "profile" => args.length == 3 ||
        (args.length == 4 && args(3).toIntOption.exists(_ > 0))
      case _ => false
    })
    if (!valid) {
      System.err.println(Usage)
      sys.exit(2)
    }
    val sfDir = args(0)
    val queries = args(1).split(",").map(_.trim).filter(_.nonEmpty)
      .map(Catalog.byName).toSeq
    val spark = LocalSpark.session()
    try args(2) match {
      case "plan" => plan(spark, sfDir, queries,
        if (args.length == 5) Some((args(3), args(4))) else None)
      case "profile" => profile(spark, sfDir, queries,
        if (args.length == 4) args(3).toInt else 3)
    } finally spark.stop()
  }

  private def plan(spark: SparkSession, sfDir: String, queries: Seq[Q],
      out: Option[(String, String)]): Unit = {
    out.foreach { case (dir, _) => Files.createDirectories(Paths.get(dir)) }
    for (q <- queries) {
      val text =
        try q.run(spark, sfDir).queryExecution.explainString(FormattedMode)
        catch { case scala.util.control.NonFatal(t) => s"explain failed: $t" }
      out match {
        case Some((dir, suffix)) =>
          val path = s"$dir/${q.name}_$suffix.txt"
          Files.writeString(Paths.get(path), text)
          println(s"[explain] wrote $path")
        case None =>
          println(s"[explain] ---- ${q.name} ----")
          println(text)
      }
    }
  }

  private final case class Job(id: Int, group: String, sqlId: Option[Long],
      t0: Long, var t1: Long = 0L, var tasks: Int = 0, var runMs: Long = 0L,
      var gcMs: Long = 0L, var cpuMs: Long = 0L)

  private def profile(spark: SparkSession, sfDir: String, queries: Seq[Q],
      reps: Int): Unit = {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    // SQL execution id -> whether its plan root is AdaptiveSparkPlan
    val adaptive = new java.util.concurrent.ConcurrentHashMap[Long, Boolean]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        def prop(k: String) =
          Option(js.properties).flatMap(p => Option(p.getProperty(k)))
        js.stageIds.foreach(sid => stageJob.put(sid, js.jobId))
        jobs.put(js.jobId, Job(js.jobId, prop("spark.jobGroup.id").getOrElse(""),
          prop("spark.sql.execution.id").flatMap(_.toLongOption), js.time))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          adaptive.put(s.executionId, s.sparkPlanInfo.nodeName == "AdaptiveSparkPlan")
        case _ =>
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(jobs.get(je.jobId)).foreach(_.t1 = je.time)
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        Option(stageJob.get(si.stageId)).flatMap(j => Option(jobs.get(j)))
          .foreach { j =>
            j.tasks += si.numTasks
            j.runMs += si.taskMetrics.executorRunTime
            j.gcMs += si.taskMetrics.jvmGCTime
            j.cpuMs += si.taskMetrics.executorCpuTime / 1000000L
          }
      }
    })

    import scala.jdk.CollectionConverters._
    for (q <- queries) {
      def rep(tag: String): Unit = {
        spark.sparkContext.setJobGroup(s"profile:${q.name}:$tag", s"profile:$tag")
        val (c0, ns0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
          CodeGenerator.compileTime)
        val ((n, dt), procs) = ProcessStarts.during {
          val t0 = System.nanoTime()
          val n = q.run(spark, sfDir).count()
          (n, (System.nanoTime() - t0) / 1e9)
        }
        spark.sparkContext.clearJobGroup()
        System.gc()
        val sql = if (!tag.startsWith("warm")) "" else {
          org.apache.spark.sql.graft.bridge.drainListenerBus(spark)
          val ids = jobs.values.asScala
            .filter(_.group == s"profile:${q.name}:$tag").flatMap(_.sqlId).toSet
          s"  sql ${ids.size} (adaptive ${ids.count(id => adaptive.getOrDefault(id, false))})" +
            s"  procs ${procs.size}" +
            s"  compiled ${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0}" +
            s" (${(CodeGenerator.compileTime - ns0) / 1000000} ms)"
        }
        println(f"[profile] ${q.name} $tag: $dt%.3f s ($n rows)$sql")
      }
      rep("cold"); rep("settle")
      for (r <- 1 to reps) rep(s"warm$r")
      // the listener bus is async: drain it, or jobs whose onJobEnd has
      // not been delivered yet drop out of the breakdown
      org.apache.spark.sql.graft.bridge.drainListenerBus(spark)
      val last = jobs.values.asScala.toSeq
        .filter(j => j.group == s"profile:${q.name}:warm$reps" && j.t1 > 0)
        .sortBy(_.t0)
      val total = last.map(j => (j.t1 - j.t0) / 1e3).sum
      println(f"[profile] ---- ${q.name}%s warm$reps%s job breakdown (${last.size}%d jobs, sum $total%.3f s) ----")
      var prevEnd = 0L
      for (j <- last) {
        val gap = if (prevEnd == 0) 0.0 else (j.t0 - prevEnd) / 1e3
        println(f"[profile] job ${j.id}%4d ${(j.t1 - j.t0) / 1e3}%7.3f s  gap $gap%6.3f s  tasks ${j.tasks}%4d  exec ${j.runMs / 1e3}%7.3f s  cpu ${j.cpuMs / 1e3}%7.3f s  gc ${j.gcMs / 1e3}%6.3f s")
        prevEnd = j.t1
      }
    }
  }
}
