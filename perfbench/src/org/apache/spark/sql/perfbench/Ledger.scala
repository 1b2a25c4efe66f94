package org.apache.spark.sql.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Job-side record of one Spark job, attributed to a benchmark call by
  * the job group the benchmark sets around the call. */
final class JobRec(val id: Int, val group: String, val startMs: Long) {
  var endMs: Long = startMs
  var cpuNs = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
}

/** One SQL execution with its Catalyst phase times. */
final class SqlRec(val id: Long, val group: String, val startMs: Long) {
  var endMs: Long = startMs
  var analysisMs = 0L
  var optimizeMs = 0L
  var planningMs = 0L
}

/** The traced run's Spark listener: jobs, their tasks' metrics, and SQL
  * executions, each keyed by job group. Lives in a Spark package only to
  * read `SparkListenerSQLExecutionEnd.qe` (the executed QueryExecution,
  * whose tracker holds the analysis/optimize/planning times — including
  * executions no QueryExecutionListener sees, such as eager checkpoints)
  * and to drain the listener bus before reading. */
final class Ledger extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val sqls = mutable.LinkedHashMap.empty[Long, SqlRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = new JobRec(e.jobId, group, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.cpuNs += m.executorCpuTime
      j.inputBytes += m.inputMetrics.bytesRead
      j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqls(s.executionId) = new SqlRec(s.executionId, s.jobGroupId.getOrElse(""), s.time)
    }
    case x: SparkListenerSQLExecutionEnd => synchronized {
      sqls.get(x.executionId).foreach { r =>
        r.endMs = x.time
        Option(x.qe).foreach { qe =>
          val ph = qe.tracker.phases
          def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
          r.analysisMs = ms("analysis")
          r.optimizeMs = ms("optimization")
          r.planningMs = ms("planning")
        }
      }
    }
    case _ =>
  }

  def jobsOf(group: String): Seq[JobRec] = synchronized(jobs.values.filter(_.group == group).toSeq)
  def sqlsOf(group: String): Seq[SqlRec] = synchronized(sqls.values.filter(_.group == group).toSeq)
}

object Ledger {
  def install(spark: SparkSession): Ledger = {
    val l = new Ledger
    spark.sparkContext.addSparkListener(l)
    l
  }
  /** Block until every posted event reached the listeners. */
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
  def remove(spark: SparkSession, l: Ledger): Unit = spark.sparkContext.removeSparkListener(l)
}
