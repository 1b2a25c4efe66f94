package graft

import org.scalatest.funsuite.AnyFunSuite

/** Runs the tools/-level pure-function unit tests under `sbt test`, so
  * a scheduler regression in the oracle comparer (tools/oracle_check.py
  * — the driver's correctness-gate replica) fails the suite instead of
  * surfacing rounds later as a 1,239 s main-lane chain at a 100× corpus
  * (the r15 pre-flight catch, VERDICT r15 #5). Skips only when the
  * python3+duckdb toolchain is absent (it is present on the driver box
  * and this one; oracle_check imports duckdb at module scope). Also
  * guards the tree's one session factory: code under `src/main/scala`
  * builds sessions only through [[LocalSpark]], compiles and self-tests
  * the benchmark (perfbench/), which sbt does not compile, and keeps the
  * verify skill's list of `SPARK_GRAFT_*` knobs equal to the ones the
  * code reads.
  * One case runs an oracle against the engine on a modified fixture: a
  * corpus shape the testdata lacks (a parallel graph edge).
  */
class ToolsSpec extends AnyFunSuite {
  /** Exit code and merged output of a command run from the repo root. */
  private def run(cmd: String*): (Int, String) = {
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    (p.waitFor(), out)
  }

  private lazy val duckdb = try run("python3", "-c", "import duckdb")._1 == 0
    catch { case scala.util.control.NonFatal(_) => false }

  test("oracle_check main-tier selection rules (tools/test_oracle_tier.py)") {
    assume(duckdb, "python3+duckdb unavailable — tools tests skipped")
    val (code, out) = run("python3", "tools/test_oracle_tier.py")
    assert(code == 0, s"tier tests failed:\n$out")
    assert(out.contains("== all tier tests passed =="), out)
  }

  test("graph_rerank's oracle gives one row per end node over a parallel edge") {
    assume(duckdb, "python3+duckdb unavailable — tools tests skipped")
    import org.apache.spark.sql.functions.col
    val spark = SparkTestSession.spark
    val sf = java.nio.file.Paths.get(SparkTestSession.sf)
    // sf0.001 with order 1's row repeated: each orders row is a PLACED_BY
    // edge, so order 1 reaches its customer over two parallel edges
    val fixture = java.nio.file.Files.createTempDirectory("graft_parallel_edge")
    scala.util.Using.resource(java.nio.file.Files.list(sf))(_.forEach { f =>
      if (f.getFileName.toString != "orders.parquet")
        java.nio.file.Files.copy(f, fixture.resolve(f.getFileName))
    })
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    orders.union(orders.filter(col("o_orderkey") === 1)).coalesce(1)
      .write.parquet(s"$fixture/orders.parquet")
    val out = s"$fixture/out"
    assert(Verify.dump(spark, fixture.toString, out, Some(Set("graph_rerank")))
      .isEmpty)
    val engine = spark.read.parquet(s"$out/graph_rerank").collect()
    assert(engine.nonEmpty &&
      engine.map(_.getAs[String]("end_id")).distinct.length == engine.length)
    // the oracle's own answer: one row per end node, and order 1's
    // customer (the node both parallel edges reach) among them
    val (code, counts) = run("python3", "-c",
      s"""import json, sys; sys.path.insert(0, "tools")
         |from oracle_check import connect
         |con = connect("$fixture")
         |sql = json.load(open("$out/oracle_sql.json"))["graph_rerank"]
         |print(con.execute(
         |    "SELECT count(*), count(DISTINCT end_id), "
         |    "count(*) FILTER (WHERE end_id = (SELECT 'c:' || o_custkey "
         |    "FROM orders WHERE o_orderkey = 1 LIMIT 1)) "
         |    f"FROM ({sql})").fetchone())""".stripMargin)
    assert(code == 0, counts)
    assert(counts.trim == s"(${engine.length}, ${engine.length}, 1)", counts)
    // and the gate itself: the oracle equals the engine's dump
    val (gate, log) = run("python3", "tools/oracle_check.py", fixture.toString,
      out, "graph_rerank")
    assert(gate == 0 && log.contains("1 pass, 0 fail"), log)
  }

  test("the benchmark compiles against the engine and passes its self-test") {
    // perfbench/build.py compiles src/main/scala with perfbench/src, so an
    // engine API change that breaks the benchmark fails here
    val jars = run("python3", "-c",
      "import sys; sys.path.insert(0, 'perfbench'); import build; " +
        "build.spark_jars()")._1 == 0
    assume(jars, "perfbench/build.py finds no Spark jars — skipped")
    val (code, out) = run("python3", "perfbench/run.py", "--selftest")
    assert(code == 0, s"perfbench self-test failed:\n$out")
    assert(out.contains("self-test passed"), out)
  }

  test("the SPARK_GRAFT_* knobs the code reads are the ones the verify skill documents") {
    import scala.jdk.CollectionConverters._
    val Knob = """SPARK_GRAFT_[A-Z0-9_]*[A-Z0-9]""".r
    def knobs(text: String): Set[String] = Knob.findAllIn(text).toSet
    val root = java.nio.file.Paths.get("src/main/scala")
    val code = scala.util.Using.resource(java.nio.file.Files.walk(root))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
      .map(f => java.nio.file.Files.readString(f)
        .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", ""))
    val read = knobs(code.mkString("\n"))
    assert(read.nonEmpty, s"no SPARK_GRAFT_* name under $root")
    val documented = knobs(java.nio.file.Files.readString(
      java.nio.file.Paths.get(".claude/skills/verify/SKILL.md")))
    assert(read == documented,
      s"read but undocumented: ${read -- documented}; " +
        s"documented but never read: ${documented -- read}")
    val preflight = knobs(java.nio.file.Files.readString(
      java.nio.file.Paths.get("tools/preflight_driver.sh")))
    assert(preflight.subsetOf(read),
      s"tools/preflight_driver.sh sets knobs the code never reads: ${preflight -- read}")
  }

  test("SparkSession.builder() is called only inside graft.LocalSpark") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val Builder = """SparkSession\s*\.\s*builder\b""".r
    import scala.jdk.CollectionConverters._
    val files = scala.util.Using.resource(java.nio.file.Files.walk(root))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
    assert(files.nonEmpty, s"no sources under $root")
    val calls = files.flatMap { f =>
      val code = java.nio.file.Files.readString(f)
        .replaceAll("(?s)/\\*.*?\\*/", "")
        .replaceAll("//[^\n]*", "")
      Seq.fill(Builder.findAllIn(code).size)(root.relativize(f).toString)
    }
    assert(calls == Seq("graft/LocalSpark.scala"),
      s"build sessions through graft.LocalSpark.session(); builder calls: $calls")
  }
}
