package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Dev-only profiler (guide §1: measure first): runs one catalog query
  * with the bench discipline (cold + settle + timed warm reps) and
  * prints, for the LAST warm rep, every Spark job it launched with its
  * wall seconds and call site — so a rep's time decomposes into "which
  * eager materializations / actions cost what" instead of one opaque
  * number. Jobs are attributed by a marker job group set around the rep.
  *
  * Usage: runMain graft.tools.ProfileQuery <sfDir> <name> [reps]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val names = (if (args.length > 1) args(1) else "graph_pagerank")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    final case class J(id: Int, desc: String, site: String, t0: Long,
        var t1: Long = 0L, var group: String = "", var tasks: Int = 0,
        var runMs: Long = 0L, var gcMs: Long = 0L, var cpuMs: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        val grp = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        js.stageIds.foreach(sid => stageJob.put(sid, js.jobId))
        jobs.put(js.jobId, J(js.jobId, desc, site, js.time, group = grp))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.get(je.jobId)).foreach(_.t1 = je.time)
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
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

    for (name <- names) {
      val q = graft.Catalog.byName(name)
      def rep(tag: String): Double = {
        spark.sparkContext.setJobGroup(s"profile:$name:$tag", s"profile:$tag")
        val t0 = System.nanoTime()
        val n = q.run(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.clearJobGroup()
        System.gc()
        println(f"[profile] $name $tag: $dt%.3f s ($n rows)")
        dt
      }
      rep("cold"); rep("settle")
      for (r <- 1 to reps) rep(s"warm$r")
      // breakdown of the final warm rep. The listener bus is async, so
      // drain it first or jobs whose onJobEnd hasn't been delivered yet
      // are silently dropped from the sum.
      org.apache.spark.sql.graft.bridge.drainListenerBus(spark)
      import scala.jdk.CollectionConverters._
      val last = jobs.values.asScala.toSeq
        .filter(j => j.group == s"profile:$name:warm$reps" && j.t1 > 0)
        .sortBy(_.t0)
      val total = last.map(j => (j.t1 - j.t0) / 1e3).sum
      println(f"[profile] ---- $name%s warm$reps%s job breakdown (${last.size}%d jobs, sum ${total}%.3f s) ----")
      var prevEnd = 0L
      for (j <- last) {
        val gap = if (prevEnd == 0) 0.0 else (j.t0 - prevEnd) / 1e3
        println(f"[profile] job ${j.id}%4d ${(j.t1 - j.t0) / 1e3}%7.3f s  gap ${gap}%6.3f s  tasks ${j.tasks}%4d  exec ${j.runMs / 1e3}%7.3f s  cpu ${j.cpuMs / 1e3}%7.3f s  gc ${j.gcMs / 1e3}%6.3f s")
        prevEnd = j.t1
      }
    }
    spark.stop()
  }
}
