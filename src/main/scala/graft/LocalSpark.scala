package graft

import org.apache.spark.sql.SparkSession

/** The one local session every main in this tree builds: `local[N]` with
  * N = `SPARK_GRAFT_CPUS` (default 4, the driver contract's core count),
  * shuffle partitions equal to N, the UTC session zone (the DuckDB oracle
  * compares timestamp windows in UTC, and Bench runs `Verify.dump` in its
  * own session), the UI off and log level WARN.
  */
object LocalSpark {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def session(): SparkSession = {
    val n = cpus
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
