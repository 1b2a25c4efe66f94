package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, desc}
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.GraphOps
import graft.gv.GraphVector

/** A warm cycle of the graph operators (pagerank, personalized pagerank,
  * semantic graph search, traverse + rerank: the `graph_batch` cycle)
  * reuses the classes the cycle before it generated. Spark keeps
  * generated classes in one JVM-wide cache of 100 entries; a cycle whose
  * stages need more evicts its own classes and compiles them again on
  * every call, at several milliseconds each. The compile count of a warm
  * cycle over new inputs is bounded.
  */
class GraphCodegenSpec extends AnyFunSuite {
  import TestGraph.{emb, g, ids, q}

  /** One cycle; `i` picks the seeds and shifts the query vectors, as
    * each benchmark cycle draws new ones. */
  private def cycle(i: Int): Unit = {
    GraphOps.pagerank(g, 5).orderBy(desc("r6"), col("id")).limit(20).collect()
    GraphOps.personalizedPagerank(g, ids(i), 4)
      .orderBy(desc("r6"), col("id")).limit(20).collect()
    GraphVector.semanticGraphSearch(g, emb, q.map(_ + i), 10, 2, 0.7, 0.3).collect()
    GraphVector.graphRerank(GraphOps.traverse(g, ids(i + 1), 2), emb, q.map(_ - i), 10)
      .collect()
  }

  /** Classes compiled while `body` runs. */
  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a warm graph cycle compiles at most 40% of the classes it compiled with per-stage class names") {
    cycle(0) // cold: the test graph's caches fill
    cycle(1)
    val warm = compiles(cycle(2))
    // 143 when each stage's class carried its codegen stage id, 50 since.
    // The cycle still needs about 95 cache entries (each class is
    // compiled once for the driver's and once for the executor's class
    // loader), so some are evicted; which ones depends on where the keys
    // hash, and a key holds its class loader's identity hash, so the
    // count is a bound
    assert(warm <= 57, s"a warm cycle compiled $warm classes")
  }
}
