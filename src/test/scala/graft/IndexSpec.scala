package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.bm25.Bm25
import graft.core.Tables
import graft.functions.VectorFunctions._
import graft.hybrid.HybridSearch
import graft.index.{Bm25Index, Indexes, IndexStore, LshIndex}
import graft.knn.Ann

/** Persistent-index layer: indexed search must equal the build-on-the-fly
  * operators row-for-row, probes must prune partitions, incremental append
  * must equal a full rebuild, and a partial build must never be served.
  */
class IndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf
  private val D = Tables.EmbeddingDim
  private val terms = Seq("spark", "join", "filter")

  test("indexed BM25 search equals build-on-the-fly search") {
    val p = Indexes.bm25Docs(spark, sf)
    val a = Bm25Index.search(spark, p, terms, 10).collect().toSeq
    val b = Bm25.search(spark, Tables.documents(spark, sf), terms, 10)
      .collect().toSeq
    assert(a == b)
  }

  test("indexed BM25 probe prunes postings partitions by term bucket") {
    val p = Indexes.bm25Docs(spark, sf)
    val plan = Bm25Index.search(spark, p, terms, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.contains("term_bucket"), plan)
  }

  test("filtered indexed search equals search over the filtered corpus") {
    val docs = Tables.documents(spark, sf)
    val allowed = docs.filter(col("lang") === "en").select("doc_id")
    val p = Indexes.bm25Docs(spark, sf)
    val a = Bm25Index.searchFiltered(spark, p, allowed, terms, 10)
      .collect().toSeq
    val b = Bm25.search(spark, docs.filter(col("lang") === "en"), terms, 10)
      .collect().toSeq
    assert(a == b)
  }

  test("incremental append equals a full rebuild") {
    val docs = Tables.documents(spark, sf).orderBy("doc_id").limit(40).cache()
    val first = docs.filter(col("doc_id") < 20)
    val rest = docs.filter(col("doc_id") >= 20)
    val tmp = java.nio.file.Files.createTempDirectory("graft_bm25_inc").toString
    val incr = s"$tmp/incr"; val full = s"$tmp/full"
    IndexStore.ensure(spark, incr)(p => Bm25Index.build(spark, first, p))
    IndexStore.mutate(spark, incr)(p => Bm25Index.append(spark, rest, p))
    IndexStore.ensure(spark, full)(p => Bm25Index.build(spark, docs, p))
    val a = Bm25Index.search(spark, incr, terms, 10).collect().toSeq
    val b = Bm25Index.search(spark, full, terms, 10).collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("LSH incremental append equals a full rebuild") {
    // localCheckpoint, not cache(): a cache() on the shared session would
    // swap every later embeddings scan to InMemoryRelation (breaks other
    // suites' plan assertions)
    val emb = Tables.embeddings(spark, sf).localCheckpoint()
    val first = emb.filter(col("vec_id") < 30)
    val rest = emb.filter(col("vec_id") >= 30)
    val tmp = java.nio.file.Files.createTempDirectory("graft_lsh_inc").toString
    val incr = s"$tmp/incr"; val full = s"$tmp/full"
    IndexStore.ensure(spark, incr)(p =>
      LshIndex.build(spark, first, "embedding", "vec_id", D, p))
    IndexStore.mutate(spark, incr)(p =>
      LshIndex.append(spark, rest, "embedding", "vec_id", D, p))
    IndexStore.ensure(spark, full)(p =>
      LshIndex.build(spark, emb, "embedding", "vec_id", D, p))
    val qv = hashVectorValues(11L, D)
    val a = LshIndex.search(spark, incr, "embedding", "vec_id", qv, D, 10)
      .collect().toSeq
    val b = LshIndex.search(spark, full, "embedding", "vec_id", qv, D, 10)
      .collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("IVF incremental append equals a full rebuild") {
    val emb = Tables.embeddings(spark, sf).localCheckpoint()
    val first = emb.filter(col("vec_id") < 30)
    val rest = emb.filter(col("vec_id") >= 30)
    val m = Ann.fixedIvfModel(Indexes.IvfCells, D)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_inc").toString
    val incr = s"$tmp/incr"; val full = s"$tmp/full"
    IndexStore.ensure(spark, incr)(p =>
      graft.index.IvfIndex.build(spark, first, "embedding", "vec_id", m, p))
    IndexStore.mutate(spark, incr)(p =>
      graft.index.IvfIndex.append(spark, rest, "embedding", "vec_id", p))
    IndexStore.ensure(spark, full)(p =>
      graft.index.IvfIndex.build(spark, emb, "embedding", "vec_id", m, p))
    val qv = hashVectorValues(11L, D)
    val a = graft.index.IvfIndex.search(spark, incr, "embedding", "vec_id",
      qv, 4, 10).collect().toSeq
    val b = graft.index.IvfIndex.search(spark, full, "embedding", "vec_id",
      qv, 4, 10).collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("append with mismatched metaCols fails fast, not silently") {
    val emb = Tables.embeddings(spark, sf).localCheckpoint()
    val first = emb.filter(col("vec_id") < 30)
    val rest = emb.filter(col("vec_id") >= 30)
    val m = Ann.fixedIvfModel(Indexes.IvfCells, D)
    val tmp = java.nio.file.Files.createTempDirectory("graft_gate").toString
    // IVF built WITH metadata; append WITHOUT → schema-divergent rows
    // (later filtered probes would see nulls) must be rejected up front
    val ivfP = s"$tmp/ivf"
    IndexStore.ensure(spark, ivfP)(p => graft.index.IvfIndex.build(
      spark, first, "embedding", "vec_id", m, p, metaCols = Seq("label")))
    val e1 = intercept[IllegalArgumentException] {
      IndexStore.mutate(spark, ivfP)(p =>
        graft.index.IvfIndex.append(spark, rest, "embedding", "vec_id", p))
    }
    assert(e1.getMessage.contains("append schema mismatch"))
    // LSH: built bare, appended with metadata → also rejected
    val lshP = s"$tmp/lsh"
    IndexStore.ensure(spark, lshP)(p =>
      LshIndex.build(spark, first, "embedding", "vec_id", D, p))
    val e2 = intercept[IllegalArgumentException] {
      IndexStore.mutate(spark, lshP)(p => LshIndex.append(
        spark, rest, "embedding", "vec_id", D, p, metaCols = Seq("label")))
    }
    assert(e2.getMessage.contains("append schema mismatch"))
  }

  test("LSH append refuses a bucket table of the other layout") {
    val emb = Tables.embeddings(spark, sf).localCheckpoint()
    val first = emb.filter(col("vec_id") < 30)
    val rest = emb.filter(col("vec_id") >= 30)
    val tmp = java.nio.file.Files.createTempDirectory("graft_layout").toString
    // both layouts carry the same columns, so only the partition columns
    // tell them apart
    for (built <- Seq(true, false)) {
      val p = s"$tmp/lsh_$built"
      IndexStore.ensure(spark, p)(LshIndex.build(spark, first, "embedding",
        "vec_id", D, _, compact = built))
      val e = intercept[IllegalArgumentException] {
        IndexStore.mutate(spark, p)(LshIndex.append(spark, rest, "embedding",
          "vec_id", D, _, compact = !built))
      }
      assert(e.getMessage.contains("append layout mismatch"), e.getMessage)
      // the same flag appends
      IndexStore.mutate(spark, p)(LshIndex.append(spark, rest, "embedding",
        "vec_id", D, _, compact = built))
      assert(spark.read.parquet(s"$p/buckets").count() ==
        emb.count() * Ann.Bands)
    }
  }

  test("advance moves a ready index to a new path without a rebuild") {
    val emb = Tables.embeddings(spark, sf).localCheckpoint()
    val first = emb.filter(col("vec_id") < 30)
    val rest = emb.filter(col("vec_id") >= 30)
    val tmp = java.nio.file.Files.createTempDirectory("graft_adv").toString
    val from = s"$tmp/lsh_aaa"; val to = s"$tmp/lsh_bbb"
    IndexStore.ensure(spark, from)(p =>
      LshIndex.build(spark, first, "embedding", "vec_id", D, p))
    // sentinel proves the dir was MOVED (append), not rebuilt from scratch
    val sentinel = new java.io.File(s"$from/SENTINEL")
    assert(sentinel.createNewFile())
    val advanced = IndexStore.advance(spark, from, to)(p =>
      LshIndex.append(spark, rest, "embedding", "vec_id", D, p))
    assert(advanced)
    assert(!IndexStore.ready(spark, from) && IndexStore.ready(spark, to))
    assert(new java.io.File(s"$to/SENTINEL").exists())
    // and a no-op when the source index does not exist
    assert(!IndexStore.advance(spark, s"$tmp/lsh_zzz", s"$tmp/lsh_yyy")(_ => ()))
  }

  test("filtered indexed LSH equals LSH over the filtered corpus") {
    val qv = hashVectorValues(11L, D)
    val p = Indexes.lshEmb(spark, sf)
    val q = LshIndex.search(spark, p, "embedding", "vec_id", qv, D, 10,
      filter = Some(col("label") === 3))
    // the metadata predicate must reach the bucket scan (pushed data
    // filter) alongside the band-partition probe
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.contains("PushedFilters: [") && plan.contains("label"), plan)
    val a = q.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // per-row band membership commutes with a per-row metadata filter, so
    // filter-before-probe over the full index == LSH over the filtered
    // corpus
    val b = Ann.lshSearch(
      Tables.embeddings(spark, sf).filter(col("label") === 3),
      "embedding", "vec_id", qv, D, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("filtered indexed IVF equals IVF over the filtered corpus") {
    val qv = hashVectorValues(11L, D)
    val q = graft.index.IvfIndex.search(spark, Indexes.ivfEmb(spark, sf),
      "embedding", "vec_id", qv, 4, 10, filter = Some(col("label") === 3))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.contains("PushedFilters: [") && plan.contains("label"), plan)
    val a = q.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // per-row cell assignment commutes with a per-row metadata filter and
    // the fixed codebook is data-independent, so filter-in-probe over the
    // full index == an index built over the filtered corpus
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_flt").toString
    val flt = s"$tmp/flt"
    IndexStore.ensure(spark, flt)(p =>
      graft.index.IvfIndex.build(spark,
        Tables.embeddings(spark, sf).filter(col("label") === 3),
        "embedding", "vec_id", Ann.fixedIvfModel(Indexes.IvfCells, D), p))
    val b = graft.index.IvfIndex.search(spark, flt, "embedding", "vec_id",
      qv, 4, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("multi-probe LSH is a candidate superset: top-k at least as close") {
    val qv = hashVectorValues(11L, D)
    val p = Indexes.lshEmb(spark, sf)
    val single = LshIndex.search(spark, p, "embedding", "vec_id", qv, D, 10)
      .collect().map(_.getDouble(1)).toSeq
    val multi = LshIndex.search(spark, p, "embedding", "vec_id", qv, D, 10,
      multiProbe = true)
    val plan = multi.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), plan)
    val md = multi.collect().map(_.getDouble(1)).toSeq
    assert(md.size >= single.size)
    // elementwise: the i-th best over a candidate SUPERSET can't be worse
    single.zip(md).foreach { case (s1, m1) => assert(m1 <= s1, (s1, m1)) }
  }

  test("indexed LSH search equals in-query LSH and prunes band partitions") {
    val qv = hashVectorValues(11L, D)
    val p = Indexes.lshEmb(spark, sf)
    val q = LshIndex.search(spark, p, "embedding", "vec_id", qv, D, 10)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("band_"), plan)
    val a = q.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = Ann.lshSearch(Tables.embeddings(spark, sf), "embedding", "vec_id",
      qv, D, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b)
  }

  test("indexed hybrid equals in-query hybrid") {
    val qv = hashVectorValues(5L, D)
    val corpus = Tables.documents(spark, sf)
      .join(Tables.embeddings(spark, sf), col("doc_id") === col("vec_id"))
      .select("doc_id", "text", "embedding")
    val p = Indexes.hybrid(spark, sf)
    val a = HybridSearch.searchIndexed(spark,
      IndexStore.table(spark, s"$p/vectors"), p, terms, qv, 10, 0.6)
      .collect().toSeq
    val b = HybridSearch.search(spark, corpus, terms, qv, 10, 0.6)
      .collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("quantized-at-rest search equals the in-query quant operators") {
    val qv = hashVectorValues(7L, D)
    val emb = Tables.embeddings(spark, sf)
    val bqA = graft.index.QuantIndex.searchBq(spark,
        Indexes.bqEmb(spark, sf), "vec_id", qv, 10)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    val bqB = graft.quant.BinaryQuant.searchHamming(emb, "embedding",
        "vec_id", qv, D, 10)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(bqA == bqB)
    val sqA = graft.index.QuantIndex.searchSqL2(spark,
        Indexes.sqEmb(spark, sf), "vec_id", qv, D, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val sqB = graft.quant.ScalarQuant.searchL2(emb, "embedding", "vec_id",
        qv, D, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(sqA == sqB)
    val pqA = graft.index.QuantIndex.searchPq(spark,
        Indexes.pqEmb(spark, sf), "vec_id", qv, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val pqB = graft.quant.ProductQuant.searchAdc(emb, "embedding", "vec_id",
        graft.quant.ProductQuant.fixedCodebooks(D, 8, 16), qv, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(pqA == pqB)
  }

  test("concurrent ensure() on one path builds exactly once") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_idx_conc").toString
    val p = s"$tmp/conc_x"
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 4).map { _ =>
      new Thread(() => {
        IndexStore.ensure(spark, p) { path =>
          builds.incrementAndGet()
          Bm25Index.build(spark,
            Tables.documents(spark, sf).limit(5), path)
        }
        ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(builds.get() == 1 && IndexStore.ready(spark, p))
  }

  test("a crashed build (no READY marker) is rebuilt, not served") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_idx_crash").toString
    val p = s"$tmp/idx_abc"
    var builds = 0
    // simulate: builder writes tables then dies before the marker
    try {
      IndexStore.ensure(spark, p) { path =>
        builds += 1
        Bm25Index.build(spark,
          Tables.documents(spark, sf).limit(5), path)
        throw new RuntimeException("crash before marker")
      }
      fail("expected crash")
    } catch { case e: RuntimeException if e.getMessage.contains("crash") => () }
    assert(!IndexStore.ready(spark, p))
    IndexStore.resetMemo()
    IndexStore.ensure(spark, p) { path =>
      builds += 1
      Bm25Index.build(spark, Tables.documents(spark, sf).limit(5), path)
    }
    assert(builds == 2 && IndexStore.ready(spark, p))
  }

  test("quantized-index append encodes against the FROZEN quantizer") {
    // For each of BQ/SQ/PQ: append must (a) leave the params tables and
    // the first batch's stored codes byte-identical (no retrain, no
    // rewrite), and (b) encode the new rows exactly as a build over the
    // same params would — pinned by comparing against a full build whose
    // training input is JUST the first batch (same frozen params).
    val emb = Tables.embeddings(spark, sf).localCheckpoint()
    val first = emb.filter(col("vec_id") < 30)
    val rest = emb.filter(col("vec_id") >= 30)
    val tmp = java.nio.file.Files.createTempDirectory("graft_quant_inc").toString
    def rows(p: String, sub: String): Set[String] =
      spark.read.parquet(s"$p/$sub").collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).toSet
    // BQ
    graft.index.QuantIndex.buildBq(spark, first, "embedding", "vec_id", s"$tmp/bq")
    val bqParams = rows(s"$tmp/bq", "thresholds")
    val bqFirst = rows(s"$tmp/bq", "packed")
    graft.index.QuantIndex.appendBq(spark, rest, "embedding", "vec_id", s"$tmp/bq")
    assert(rows(s"$tmp/bq", "thresholds") == bqParams)
    val bqAll = rows(s"$tmp/bq", "packed")
    assert(bqFirst.subsetOf(bqAll) && bqAll.size == emb.count())
    // SQ
    graft.index.QuantIndex.buildSq(spark, first, "embedding", "vec_id", D, s"$tmp/sq")
    val sqParams = rows(s"$tmp/sq", "stats")
    val sqFirst = rows(s"$tmp/sq", "codes")
    graft.index.QuantIndex.appendSq(spark, rest, "embedding", "vec_id", D, s"$tmp/sq")
    assert(rows(s"$tmp/sq", "stats") == sqParams)
    assert(sqFirst.subsetOf(rows(s"$tmp/sq", "codes")))
    // PQ (data-independent fixed codebooks: append == full rebuild exactly)
    val cb = graft.quant.ProductQuant.fixedCodebooks(D, 8, 16)
    graft.index.QuantIndex.buildPq(spark, first, "embedding", "vec_id", cb, s"$tmp/pq")
    graft.index.QuantIndex.appendPq(spark, rest, "embedding", "vec_id", s"$tmp/pq")
    graft.index.QuantIndex.buildPq(spark, emb, "embedding", "vec_id", cb, s"$tmp/pq_full")
    assert(rows(s"$tmp/pq", "codes") == rows(s"$tmp/pq_full", "codes"))
    // the appended index serves searches over the union
    val got = graft.index.QuantIndex.searchPq(spark, s"$tmp/pq", "vec_id",
      hashVectorValues(11L, D), 10).collect()
    assert(got.length == 10)
  }

  test("IVF-PQ probe prunes cell partitions and the ADC scan prunes columns") {
    val p = Indexes.ivfPqEmb(spark, sf)
    val q = graft.index.IvfPqIndex.search(spark, p, "embedding", "vec_id",
      hashVectorValues(11L, D), nprobe = 4, k = 10)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), plan)
    // the candidate pass must NOT read the vector column: of the two
    // scans of the index's cell files, exactly one (the rerank's)
    // carries `embedding` in its ReadSchema
    val scans = plan.linesIterator
      .filter(l => l.contains("ReadSchema") && l.contains("ivfpqemb"))
      .toSeq
    assert(scans.size == 2, plan)
    assert(scans.count(_.contains("embedding")) == 1, plan)
    assert(q.collect().length == 10)
  }

  test("IVF-PQ with an exhaustive rerank pool equals exact l2 over the probed cells") {
    val p = Indexes.ivfPqEmb(spark, sf)
    val qv = hashVectorValues(11L, D)
    val ivf = graft.index.IvfPqIndex.loadIvf(spark, p)
    val probe = Ann.probeCells(ivf, qv, 4)
    val exact = spark.read.parquet(s"$p/cells")
      .filter(col("cell").isin(probe: _*))
      .withColumn("score", round(graft.knn.Knn.distance("l2",
        col("embedding"), typedlit(qv)), 6))
      .select("vec_id", "score")
      .orderBy(col("score"), col("vec_id"))
      .limit(10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // pool ≥ probed-row-count ⇒ ADC only orders the pool, the exact
    // rerank decides — IVF-PQ degenerates to exact IVF, bit-for-bit
    val served = graft.index.IvfPqIndex.search(spark, p, "embedding",
      "vec_id", qv, nprobe = 4, k = 10, rerank = 1000000)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served == exact)
    // and at the DEFAULT pool size the ADC stage is a recall gate, not a
    // guarantee: require most of the exact top-10 to survive
    val defaultServed = graft.index.IvfPqIndex.search(spark, p, "embedding",
      "vec_id", qv, nprobe = 4, k = 10)
      .collect().map(_.getLong(0)).toSet
    val overlap = defaultServed.intersect(exact.map(_._1).toSet).size
    assert(overlap >= 6, s"recall@10 too low: $overlap/10")
  }

  test("IVF-PQ incremental append equals a full rebuild") {
    val emb = Tables.embeddings(spark, sf).localCheckpoint()
    val first = emb.filter(col("vec_id") < 30)
    val rest = emb.filter(col("vec_id") >= 30)
    val m = Ann.fixedIvfModel(Indexes.IvfCells, D)
    val cb = graft.quant.ProductQuant.fixedCodebooks(D, 8, 16)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfpq_inc").toString
    val incr = s"$tmp/incr"; val full = s"$tmp/full"
    IndexStore.ensure(spark, incr)(p =>
      graft.index.IvfPqIndex.build(spark, first, "embedding", "vec_id", m, cb, p))
    IndexStore.mutate(spark, incr)(p =>
      graft.index.IvfPqIndex.append(spark, rest, "embedding", "vec_id", p))
    IndexStore.ensure(spark, full)(p =>
      graft.index.IvfPqIndex.build(spark, emb, "embedding", "vec_id", m, cb, p))
    val qv = hashVectorValues(11L, D)
    val a = graft.index.IvfPqIndex.search(spark, incr, "embedding", "vec_id",
      qv, 4, 10).collect().toSeq
    val b = graft.index.IvfPqIndex.search(spark, full, "embedding", "vec_id",
      qv, 4, 10).collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("filtered IVF-PQ equals IVF-PQ over the filtered corpus") {
    val p = Indexes.ivfPqEmb(spark, sf)
    val qv = hashVectorValues(11L, D)
    val a = graft.index.IvfPqIndex.search(spark, p, "embedding", "vec_id",
      qv, nprobe = 4, k = 10, filter = Some(col("label") === 3))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val m = Ann.fixedIvfModel(Indexes.IvfCells, D)
    val cb = graft.quant.ProductQuant.fixedCodebooks(D, 8, 16)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_filt").toString
    graft.index.IvfPqIndex.build(spark,
      Tables.embeddings(spark, sf).filter(col("label") === 3),
      "embedding", "vec_id", m, cb, tmp)
    val b = graft.index.IvfPqIndex.search(spark, tmp, "embedding", "vec_id",
      qv, nprobe = 4, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("a direct rebuild at a reused path drops the memoized quantizer") {
    import spark.implicits._
    val dim = 64 // BQ packs two 32-bit words
    def corpus(shift: Double) = (1 to 40)
      .map(i => (i.toLong, Seq.tabulate(dim)(d => shift + i * 0.1 + d)))
      .toDF("vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("graft_rebuild_memo").toString + "/bq"
    val qv = Seq.tabulate(dim)(_ * 1.0)
    graft.index.QuantIndex.buildBq(spark, corpus(0.0), "embedding",
      "vec_id", path)
    graft.index.QuantIndex.searchBq(spark, path, "vec_id", qv, 5).collect()
    // direct second build at the SAME path, very different distribution:
    // search must pack the query against the NEW thresholds, not the
    // memoized ones
    graft.index.QuantIndex.buildBq(spark, corpus(100.0), "embedding",
      "vec_id", path)
    val got = graft.index.QuantIndex.searchBq(spark, path, "vec_id",
        Seq.tabulate(dim)(d => 102.0 + d), 5)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    val fresh = java.nio.file.Files
      .createTempDirectory("graft_rebuild_memo2").toString + "/bq"
    graft.index.QuantIndex.buildBq(spark, corpus(100.0), "embedding",
      "vec_id", fresh)
    val want = graft.index.QuantIndex.searchBq(spark, fresh, "vec_id",
        Seq.tabulate(dim)(d => 102.0 + d), 5)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got == want && got.nonEmpty)
  }
}
