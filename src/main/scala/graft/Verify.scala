package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional third arg: comma-separated query-name filter, for quick
    // local iteration on a few entries (the driver passes two args only)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = LocalSpark.session()
    dump(spark, sfDir, outDir, only)
    spark.stop()
  }

  /** The dump loop itself, reusable in-JVM (Bench's decade-scale
    * certification runs it against the fingerprint-keyed 10× corpus).
    * Returns the names of entries whose dump threw. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    var failed = List.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed = name :: failed
      }
      // operators persist() intermediates (corpora, tokens, signatures);
      // release them between queries so a 50+-query run stays bounded.
      // The graph memo must be invalidated with the cache, else later
      // graph queries run against unpersisted (but memoized) relations.
      spark.catalog.clearCache()
      graph.TpchGraph.invalidate()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed.sorted
  }
}
