package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.internal.SQLConf

/** Spark 4 removed the public `new Column(expr)` constructor; the classic
  * bridge lives in `private[sql]` ExpressionUtils. This shim (compiled into
  * the spark.sql package namespace) re-exposes it for graft's custom
  * Catalyst expressions.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Stable per-session identity (`sessionUUID` is `private[sql]`) —
    * used to key session-scoped registries like graft's IndexedTables. */
  def sessionUuid(s: SparkSession): String =
    s.asInstanceOf[classic.SparkSession].sessionUUID

  /** Block until every posted event reached the listeners
    * (`listenerBus` is `private[spark]`): a listener read right after an
    * action otherwise misses events still in the async queue. */
  def drainListenerBus(s: SparkSession): Unit =
    s.sparkContext.listenerBus.waitUntilEmpty()

  /** A session that plans without adaptive execution and names its
    * generated classes without a codegen stage id: `s` itself when both
    * are already so, else a clone of `s` (`cloneSession` is
    * `private[sql]`) with AQE and `spark.sql.codegen.useIdInClassName`
    * off. Spark keeps generated classes in one JVM-wide cache of 100
    * entries keyed by their source; with the stage id in the class name,
    * stages equal in all but that id (every hop of a loop, equal stages
    * of two operators) are distinct sources, and a graph operator's
    * working set evicts the next one's, so each call compiled all of its
    * classes again. The clone shares `s`'s SparkContext, cache and
    * external catalog and never changes `s`. It is kept per caller
    * session and replaced as soon as the caller's conf differs from the
    * conf it was cloned from, so its queries always run under the
    * caller's current settings. Kept, because a fresh session pays its
    * lazy set-up on its first queries: a depth-2 traversal took about
    * twice as long in a fresh clone as in a kept one. Temp views and
    * functions registered on `s` after the clone was made are not seen
    * by it; callers pass frames, which `rebind` carries over. A scoped
    * `SQLConf.withExistingConf` would not do: the adaptive-plan rule
    * reads the conf of the session that plans the query, not the
    * thread's active conf. */
  def nonAdaptive(s: SparkSession): SparkSession = {
    val c = s.asInstanceOf[classic.SparkSession]
    val conf = c.sessionState.conf
    if (!conf.adaptiveExecutionEnabled && !conf.wholeStageUseIdInClassName) c
    else {
      val settings = conf.getAllConfs
      val kept = nonAdaptiveClones.get(c.sessionUUID)
      if (kept != null && kept._1 == settings) kept._2
      else {
        nonAdaptiveClones.values.removeIf(_._2.sparkContext.isStopped)
        val clone = c.cloneSession()
        clone.sessionState.conf.setConf(SQLConf.ADAPTIVE_EXECUTION_ENABLED, false)
        clone.sessionState.conf.setConf(SQLConf.WHOLESTAGE_CODEGEN_USE_ID_IN_CLASS_NAME, false)
        nonAdaptiveClones.put(c.sessionUUID, (settings, clone))
        clone
      }
    }
  }

  /** Caller session id -> (the caller's conf it was cloned from, clone). */
  private val nonAdaptiveClones = new java.util.concurrent.ConcurrentHashMap[
    String, (Map[String, String], classic.SparkSession)]()

  /** A child of `s` (`newSession()`: its own conf and temp views, the
    * shared SparkContext and cache) that plans with
    * `spark.sql.shuffle.partitions = w`, kept per (`s`, `w`) so repeated
    * calls reuse one child instead of opening a session each. For work
    * whose stages are bound by per-task overhead at the session's full
    * width (live streams' state stores, small iterative loops); `s` is
    * never changed. */
  def narrowChild(s: SparkSession, w: Int): SparkSession =
    narrowChildren.computeIfAbsent(s"${sessionUuid(s)}#$w", _ => {
      val c = s.newSession()
      c.conf.set(SQLConf.SHUFFLE_PARTITIONS.key, w.toString)
      c
    })

  /** `<parent session id>#<width>` -> child. */
  private val narrowChildren =
    new java.util.concurrent.ConcurrentHashMap[String, SparkSession]()

  /** `df`'s analyzed plan as a frame of session `s`, so every action on
    * it (and on whatever is built from it) is planned by `s`. A persisted
    * `df` stays a cache hit: the cache is shared by all sessions of one
    * SparkContext. */
  def rebind(s: SparkSession, df: DataFrame): DataFrame =
    if (df.sparkSession eq s) df
    else classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed)

  /** The frame of `plan`, a logical plan built without analysis,
    * analyzed once by session `s` (`sessionState.executePlan`). Every
    * `Dataset` step analyzes the whole plan beneath it, so a loop that
    * chains k steps pays k analyses of a growing plan; a loop that builds
    * its plan from [[leaf]]s and catalyst nodes and hands it over here
    * pays one. */
  def analyzedOnce(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)

  /** `df` materialized as a local checkpoint, with its row count, in one
    * job. `Dataset.localCheckpoint` drops the count its job computes, so a
    * caller that needs the size ran one more query, planned and compiled
    * on its own, to count the checkpoint. The frame is the one
    * `localCheckpoint` returns: a scan of the checkpointed rows. */
  def countedLocalCheckpoint(df: DataFrame): (DataFrame, Long) = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      val rdd = qe.executedPlan.execute().map(_.copy())
      rdd.localCheckpoint()
      // the job computes and caches every partition; the checkpoint
      // completes at its end and needs no job of its own
      val rows = rdd.count()
      (classic.Dataset.ofRows(ds.sparkSession,
        LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)), rows)
    }
  }

  /** `df` as a leaf of a plan under construction: the cached relation
    * with fresh attribute ids when `df` is persisted, so a plan that reads
    * one relation in k places leaves `DeduplicateRelations` nothing to
    * renew; else `df`'s analyzed plan. The ids are renewed through
    * `withOutput`, which carries them into the relation's output
    * ordering; `newInstance()` keeps the old ids there, and the next
    * `withOutput` on the copy (a deduplication, say) fails on them. */
  def leaf(df: DataFrame): LogicalPlan = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .fold(ds.queryExecution.analyzed) { c =>
        val m = c.cachedRepresentation
        m.withOutput(m.output.map(_.newInstance()))
      }
  }
}
