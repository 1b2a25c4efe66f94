package perfbench

import java.nio.file.{Files, Path => JPath}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.{JobRec, Ledger, SqlRec}

/** One timed public call: the span between op and Spark jobs. */
final case class CallRec(name: String, op: Int, group: String, startMs: Long, wallMs: Double)

/** One span of the exported trace: op -> call -> job | sql. */
final case class Span(id: String, parent: String, kind: String, name: String,
    startMs: Long, endMs: Long)

/** Runs ops and the public calls inside them. Untraced, a call is only
  * the body; traced, each call runs under its own Spark job group, so the
  * listener can attribute jobs and SQL executions to it. */
final class Harness(val spark: SparkSession, traced: Boolean) {
  private var ledger: Option[Ledger] = None
  private val calls = mutable.ArrayBuffer.empty[CallRec]
  private val opSpans = mutable.ArrayBuffer.empty[Span]
  private var opSeq = 0
  private var callSeq = 0
  private var recording = false

  /** Start attributing calls (traced runs only; installs the listener). */
  def startTrace(): Unit = if (traced) {
    ledger = Some(Ledger.install(spark))
    recording = true
  }

  /** Stop attributing calls; the listener stays registered only for the
    * traced pass's events still in flight, then is removed. */
  def stopTrace(): Unit = if (recording) {
    recording = false
    ledger.foreach { l => Ledger.drain(spark); Ledger.remove(spark, l) }
  }

  def call[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      callSeq += 1
      val group = s"perfbench-$callSeq"
      spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val wall = (System.nanoTime() - t0) / 1e6
        spark.sparkContext.clearJobGroup()
        calls += CallRec(name, opSeq, group, startMs, wall)
      }
    }

  /** Times `body` as one op; returns (wall ms, value). */
  def op[T](cls: String)(body: => T): (Double, T) = {
    opSeq += 1
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val v = body
    val wall = (System.nanoTime() - t0) / 1e6
    if (recording)
      opSpans += Span(s"op$opSeq", "", "op", cls, startMs, startMs + math.round(wall))
    (wall, v)
  }

  /** Per-call ledger of the traced pass (read after [[stopTrace]]). */
  final case class CallLayers(rec: CallRec, jobs: Seq[JobRec], sqls: Seq[SqlRec]) {
    /** Wall time minus the union of this call's job intervals. */
    def outsideJobsMs: Double = {
      val lo = rec.startMs; val hi = rec.startMs + math.round(rec.wallMs)
      val iv = jobs.map(j => (math.max(lo, j.startMs), math.min(hi, j.endMs)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0L; var curS = -1L; var curE = -1L
      iv.foreach { case (s, e) =>
        if (s > curE) { covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      covered += curE - curS
      math.max(0.0, rec.wallMs - covered)
    }
  }

  def layers(): Seq[CallLayers] = ledger match {
    case None => Nil
    case Some(l) => calls.toSeq.map(c => CallLayers(c, l.jobsOf(c.group), l.sqlsOf(c.group)))
  }

  /** op -> call -> job / sql spans, one JSON object per line. */
  def writeSpans(path: JPath, ls: Seq[CallLayers]): Unit = {
    val out = mutable.ArrayBuffer.empty[Span]
    out ++= opSpans
    ls.foreach { c =>
      val cid = c.rec.group
      out += Span(cid, s"op${c.rec.op}", "call", c.rec.name, c.rec.startMs,
        c.rec.startMs + math.round(c.rec.wallMs))
      c.jobs.foreach(j => out += Span(s"job${j.id}", cid, "job", s"job ${j.id}", j.startMs, j.endMs))
      c.sqls.foreach(s => out += Span(s"sql${s.id}", cid, "sql", s"sql ${s.id}", s.startMs, s.endMs))
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path, out.map { s =>
      Json.obj(Seq("id" -> Json.str(s.id), "parent" -> Json.str(s.parent),
        "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
        "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString))
    }.mkString("", "\n", "\n"))
  }
}
