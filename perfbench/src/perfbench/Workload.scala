package perfbench

import java.nio.file.{Path => JPath}

/** A workload: seeded inputs, a set-up that builds the engine's state, a
  * fixed warm-up and a fixed measured op sequence, each op checked
  * against the benchmark's own reference. */
trait Workload {
  def name: String
  def qualityName: String
  def warmup: IndexedSeq[Workload.Op]
  def ops: IndexedSeq[Workload.Op]
  /** Hash of the generated inputs and the op sequence (self-tests). */
  def opDigest: String
  /** Writes the generated inputs the engine reads from files. */
  def writeInputs(spark: org.apache.spark.sql.SparkSession, dir: JPath): Unit = ()
  /** Builds the engine's state under `dataRoot`; reports named set-up
    * call times through `setupMs`. */
  def setup(h: Harness, dataRoot: JPath, setupMs: (String, Double) => Unit): Unit
  def run(h: Harness, t: Tally, op: Workload.Op, measured: Boolean): Unit
  def quality: Double
  /** Workload-specific result figures: (name, value, unit). */
  def extras: Seq[(String, Double, String)] = Nil
}

object Workload {
  trait Op { def cls: String }

  def ms(body: => Any): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  }

  /** Fisher-Yates with the benchmark's own generator. */
  def shuffle[T](xs: IndexedSeq[T], r: Rng): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  def digest(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Whether the executed plan read an index table instead of the data
    * (the AnnTopKRewrite splice reads the LSH `buckets` table). */
  def readsIndex(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves().exists {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.exists(_.getName == "buckets")
          case _ => false
        }
      case _ => false
    }

  /** Workload by name with its fixed sizes; the measured op count scales
    * with `seconds` by a constant planned rate, never by a clock. */
  def apply(name: String, seed: Long, seconds: Int): Workload = name match {
    case "serve_read"  => new ServeRead(seed, nDocs = 10000, nOps = 5 * seconds / 2)
    case "graph_batch" => new GraphBatch(seed, sf = 0.02, reps = math.max(1, math.round(0.15 * seconds).toInt))
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
  val names: Seq[String] = Seq("serve_read", "graph_batch")
}
