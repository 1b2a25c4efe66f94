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
  * builds sessions only through [[LocalSpark]], and compiles and
  * self-tests the benchmark (perfbench/), which sbt does not compile.
  */
class ToolsSpec extends AnyFunSuite {
  test("oracle_check main-tier selection rules (tools/test_oracle_tier.py)") {
    val probe = try {
      new ProcessBuilder("python3", "-c", "import duckdb")
        .start().waitFor() == 0
    } catch { case scala.util.control.NonFatal(_) => false }
    assume(probe, "python3+duckdb unavailable — tools tests skipped")
    val p = new ProcessBuilder("python3", "tools/test_oracle_tier.py")
      .redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(p.waitFor() == 0, s"tier tests failed:\n$out")
    assert(out.contains("== all tier tests passed =="), out)
  }

  test("the benchmark compiles against the engine and passes its self-test") {
    // perfbench/build.py compiles src/main/scala with perfbench/src, so an
    // engine API change that breaks the benchmark fails here
    val jars = new ProcessBuilder("python3", "-c",
        "import sys; sys.path.insert(0, 'perfbench'); import build; " +
          "build.spark_jars()")
      .redirectErrorStream(true).start().waitFor() == 0
    assume(jars, "perfbench/build.py finds no Spark jars — skipped")
    val p = new ProcessBuilder("python3", "perfbench/run.py", "--selftest")
      .redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(p.waitFor() == 0, s"perfbench self-test failed:\n$out")
    assert(out.contains("self-test passed"), out)
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
