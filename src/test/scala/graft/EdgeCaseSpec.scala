package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.bm25.Bm25
import graft.dedup.Dedup
import graft.functions.VectorFunctions._
import graft.hybrid.HybridSearch
import graft.knn.Knn
import graft.quant.ScalarQuant

/** Degenerate-input behavior: empty corpora, k > n, constant dimensions,
  * no-hit queries. None of these may throw; results follow the documented
  * semantics.
  */
class EdgeCaseSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val qv = hashVectorValues(1L, 4)

  test("kNN on an empty corpus returns empty; k > n returns all rows") {
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(Knn.search(empty, col("embedding"), typedlit(qv), "cosine", 5)
      .count() == 0)
    val tiny = Seq((1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    assert(Knn.search(tiny, col("embedding"), typedlit(qv), "l2", 10)
      .count() == 2)
  }

  test("BM25 with out-of-vocabulary terms returns empty, not an error") {
    val docs = Seq((1, "alpha beta"), (2, "gamma delta")).toDF("doc_id", "text")
    assert(Bm25.search(spark, docs, Seq("zzzznope"), 5).count() == 0)
  }

  test("hybrid search degrades to vector-only when keywords miss") {
    val corpus = Seq(
      (1, "alpha beta", Seq(1.0, 0.0)),
      (2, "gamma delta", Seq(0.0, 1.0))).toDF("doc_id", "text", "embedding")
    val res = HybridSearch.search(spark, corpus, Seq("zzzznope"),
      Seq(1.0, 0.0), 2, alpha = 0.5).collect()
    assert(res.nonEmpty)
    assert(res.forall(_.getDouble(2) == 0.0), "keyword side must be 0")
    assert(res.head.getInt(0) == 1, "vector side still ranks")
  }

  test("minhash LSH on an all-short corpus is empty, not an error") {
    val docs = Seq((1, "too short"), (2, "also tiny")).toDF("doc_id", "text")
    assert(Dedup.minhashLshPairs(docs, 5).count() == 0)
  }

  test("index searches reject malformed parameters up front, not mid-job") {
    val sf = SparkTestSession.sf
    val D = graft.core.Tables.EmbeddingDim
    val good = hashVectorValues(11L, D)
    // IVF-PQ: wrong query dim / rerank smaller than k
    val ivfpq = graft.index.Indexes.ivfPqEmb(spark, sf)
    intercept[IllegalArgumentException] {
      graft.index.IvfPqIndex.search(spark, ivfpq, "embedding", "vec_id",
        hashVectorValues(11L, D + 1), nprobe = 4, k = 10)
    }
    intercept[IllegalArgumentException] {
      graft.index.IvfPqIndex.search(spark, ivfpq, "embedding", "vec_id",
        good, nprobe = 4, k = 10, rerank = 5)
    }
    // MIPS: wrong query dim
    val mips = graft.index.Indexes.mipsEmb(spark, sf)
    intercept[IllegalArgumentException] {
      graft.index.MipsIndex.search(spark, mips, "embedding", "vec_id",
        hashVectorValues(11L, D - 1), nprobe = 4, k = 10)
    }
    // Chunking: degenerate stride
    intercept[IllegalArgumentException] {
      graft.text.Chunking.chunk(
        Seq((1L, "a b")).toDF("doc_id", "text"), "text", "doc_id", 4, 0)
    }
  }

  test("scalar quantization survives constant dimensions (scale 0)") {
    val df = Seq(
      (1L, Seq(5.0f, 1.0f, 5.0f, 2.0f)),
      (2L, Seq(5.0f, 3.0f, 5.0f, 4.0f))).toDF("vec_id", "embedding")
    val out = ScalarQuant.searchL2(df, "embedding", "vec_id",
      Seq(5.0, 2.0, 5.0, 3.0), 4, 2).collect()
    assert(out.length == 2)
    assert(out.forall(r => !r.getDouble(1).isNaN),
      "constant dims (mn=mx) must encode to 0, not NaN")
  }

  test("ADC search excludes null-vector rows from the top-k") {
    val cb = graft.quant.ProductQuant.fixedCodebooks(4, 2, 4)
    val df = Seq(
      (1L, Some(Seq(1.0f, 2.0f, 3.0f, 4.0f))),
      (2L, None), // null vector: must not occupy a top-k slot
      (3L, Some(Seq(0.0f, 1.0f, 0.0f, 1.0f))))
      .toDF("vec_id", "embedding")
    val out = graft.quant.ProductQuant.searchAdc(df, "embedding", "vec_id",
      cb, Seq(0.0, 1.0, 0.0, 1.0), 3).collect()
    assert(out.map(_.getLong(0)).toSet == Set(1L, 3L))
    assert(out.forall(!_.isNullAt(1)))
  }

  test("MIPS search over an empty corpus fails with a clear message") {
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      graft.knn.Ann.mipsIvfSearch(empty, "embedding", "vec_id",
        cells = 4, qv.map(_.toDouble), nprobe = 2, k = 5)
    }
    assert(e.getMessage.contains("empty corpus"))
  }

  test("bigram LM on a corpus with no scorable docs returns empty") {
    val docs = Seq((1L, "solo"), (2L, "")).toDF("doc_id", "text")
    assert(graft.text.NgramLm.score(docs).count() == 0)
    assert(graft.text.NgramLm.bigrams(docs).count() == 0)
  }

  test("audio resample with factor 1 is the identity on samples") {
    val docs = Seq(3L).toDF("doc_id")
    val r = graft.media.Multimodal
      .audioResample(graft.media.Multimodal.syntheticAudio(docs), 1)
      .collect().head
    val n = graft.media.Multimodal.synthSamples(3L)
    assert(r.n_in == n && r.n_out == n && r.src_rate == r.dst_rate)
    val expect = (0 until n).map(i =>
      graft.media.Multimodal.sampleValue(3L, i).toLong).sum
    assert(r.sample_sum == expect)
  }

  test("substring scrub honors a higher distinct-doc threshold") {
    val boiler = "one two three four five"
    val d = Seq((1, s"a $boiler"), (2, s"b $boiler"), (3, s"c $boiler"))
      .toDF("doc_id", "text")
    // present in 3 docs: removed at minDocs=3, kept at minDocs=4
    val at3 = graft.dedup.Dedup.substringScrub(d, minDocs = 3)
      .collect().map(r => r.getInt(0) -> r.getInt(2)).toMap
    assert(at3 == Map(1 -> 5, 2 -> 5, 3 -> 5))
    val at4 = graft.dedup.Dedup.substringScrub(d, minDocs = 4)
      .collect().map(r => r.getInt(0) -> r.getInt(2)).toMap
    assert(at4 == Map(1 -> 0, 2 -> 0, 3 -> 0))
  }

  test("naive bayes survives a label present only in the held-out slice") {
    // doc_id 5 (held out) carries a label with NO training docs: it must
    // still be classified (into some trained label), not crash or vanish
    val docs = Seq(
      (1L, "aa bb aa", "srcA"), (2L, "aa bb", "srcA"),
      (3L, "cc dd cc", "srcB"), (4L, "cc dd", "srcB"),
      (5L, "aa bb aa bb", "ghost"), (10L, "cc dd cc dd", "srcB"))
      .toDF("doc_id", "text", "source")
    val got = graft.text.NaiveBayes.confusion(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(("ghost", "srcA") -> 1L, ("srcB", "srcB") -> 1L))
  }

  test("pagerank on an edgeless graph gives every node the floor rank") {
    val g = graft.graph.Graph(
      Seq(("a", "N", "a", 0.0, ""), ("b", "N", "b", 0.0, ""))
        .toDF("id", "label", "name", "num", "seg"),
      Seq.empty[(String, String, String)].toDF("src", "dst", "type"))
    val r = graft.graph.GraphOps.pagerank(g, 3).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r == Map("a" -> 150000L, "b" -> 150000L))
    intercept[IllegalArgumentException] {
      graft.graph.GraphOps.pagerank(g, 0)
    }
  }

  test("traversals reject a depth below 1 naming the argument") {
    val g = graft.graph.Graph(
      Seq(("a", "N", "a", 0.0, ""), ("b", "N", "b", 0.0, ""))
        .toDF("id", "label", "name", "num", "seg"),
      Seq(("a", "b", "E")).toDF("src", "dst", "type"))
    val t = intercept[IllegalArgumentException] {
      graft.graph.GraphOps.traverse(g, "a", 0)
    }
    assert(t.getMessage.contains("maxDepth >= 1, got 0"), t.getMessage)
    val b = intercept[IllegalArgumentException] {
      graft.graph.GraphOps.bfsPaths(g, "a", 0)
    }
    assert(b.getMessage.contains("maxDepth >= 1, got 0"), b.getMessage)
  }
}
