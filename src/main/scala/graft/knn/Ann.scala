package graft.knn

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor scale paths. Exact kNN (Knn.search) is
  * the correctness baseline; these two prune candidates before the exact
  * rerank, which is what survives a 100 TB corpus:
  *
  *  - **LSH** (random hyperplane signs): 16 sign bits from deterministic
  *    hash-vector hyperplanes, banded 4×4; a query probes rows sharing
  *    any band value, then exact-reranks. Signature computation is pure
  *    dot-product arithmetic → full DuckDB oracle. At scale the banded
  *    signature is a join key (explode bands → shuffle join); the
  *    single-query form here is one scan with an OR-of-4 filter, no
  *    shuffle at all.
  *  - **IVF** (inverted file): MLlib KMeans coarse centroids; rows carry
  *    an argmin cell id, a query probes the nprobe nearest cells and
  *    exact-reranks inside them. Cell assignment is a literal-codebook
  *    expression (no join); at scale the table would be written
  *    partitioned by cell so probing prunes whole files.
  */
object Ann {
  val SigBits = 16
  val Bands = 4
  val BandBits: Int = SigBits / Bands
  /** Hyperplane h_i = hashVector(HyperplaneKeyBase + i), i = 0..15. */
  val HyperplaneKeyBase = 1000L

  private def hyperplane(i: Int, dim: Int): Seq[Double] =
    VectorFunctions.hashVectorValues(HyperplaneKeyBase + i, dim)

  /** Band value b (0..3) of a vector column: 4 sign bits packed. */
  def bandCol(vec: Column, b: Int, dim: Int): Column =
    (0 until BandBits).map { j =>
      val h = typedlit(hyperplane(b * BandBits + j, dim))
      when(VectorFunctions.vecDot(vec, h) > 0.0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Driver-side [[bandCol]] for a CONSTANT query vector: the same
    * strictly-left-to-right double accumulation as the codegen kernel
    * (graft.expr.DotProduct), so the values are bit-identical with what
    * the engine computes over `typedlit(queryVec)` — pinned by AnnSpec.
    * Lets index probes (LshIndex.search, the AnnTopK optimizer rule)
    * derive their partition filters without running a Spark job. */
  def bandValues(queryVec: Seq[Double], dim: Int): Seq[Int] = {
    val q = queryVec.toArray
    (0 until Bands).map { b =>
      (0 until BandBits).map { j =>
        val h = hyperplane(b * BandBits + j, dim)
        var dot = 0.0
        var i = 0
        while (i < dim) { dot += q(i) * h(i); i += 1 }
        if (dot > 0.0) 1 << j else 0
      }.sum
    }
  }

  /** Bucket values probed for one band value: the value itself plus —
    * under multi-probe — every 1-bit flip (the buckets a near neighbor
    * lands in when it sits just across one hyperplane). */
  def probeVals(bandVal: Int, multiProbe: Boolean): Seq[Int] =
    if (!multiProbe) Seq(bandVal)
    else bandVal +: (0 until BandBits).map(j => bandVal ^ (1 << j))

  def bandSql(vecExpr: String, b: Int, dim: Int): String =
    (0 until BandBits).map { j =>
      val h = VectorFunctions.hashVectorSql((HyperplaneKeyBase + b * BandBits + j).toString, dim)
      s"(case when ${VectorFunctions.dotSql(vecExpr, h, dim)} > 0.0 then ${1 << j} else 0 end)"
    }.mkString("(", " + ", ")")

  /** LSH search: any-band-match candidates → exact cosine rerank. */
  def lshSearch(
      emb: DataFrame,
      vecCol: String,
      idCol: String,
      queryVec: Seq[Double],
      dim: Int,
      k: Int): DataFrame = {
    val qv = typedlit(queryVec)
    val spark = emb.sparkSession
    // Query band values through the engine (same arithmetic as the data).
    val qBands = spark.range(1).select(
      (0 until Bands).map(b => bandCol(qv, b, dim).as(s"qb$b")): _*)
    val withBands = emb.select(
      Seq(col(idCol), col(vecCol)) ++
        (0 until Bands).map(b => bandCol(col(vecCol), b, dim).as(s"b$b")): _*)
    val anyBand = (0 until Bands)
      .map(b => col(s"b$b") === col(s"qb$b"))
      .reduce(_ || _)
    withBands
      .crossJoin(broadcast(qBands))
      .filter(anyBand)
      .withColumn("score",
        round(VectorFunctions.cosineDistance(col(vecCol), qv), 6))
      .select(idCol, "score")
      .orderBy(col("score"), col(idCol))
      .limit(k)
  }

  /** `filterSql` (over columns of `relation`) applies to candidates
    * BEFORE the rerank — the filtered-ANN semantics of
    * [[graft.index.LshIndex.search]]: exact top-k among matching
    * candidates. `metric` must mirror the searcher's rerank distance;
    * `multiProbe` mirrors the searcher's 1-bit-flip bucket expansion. */
  def lshSearchSql(
      relation: String, vecCol: String, idCol: String,
      queryVecSql: String, dim: Int, k: Int,
      filterSql: Option[String] = None,
      metric: String = "cosine",
      multiProbe: Boolean = false): String = {
    val qb = (0 until Bands).map(b => s"${bandSql("q.v", b, dim)} AS qb$b")
    val db = (0 until Bands).map(b => s"${bandSql(vecCol, b, dim)} AS b$b")
    val anyBand = (0 until Bands).map { b =>
      val vals =
        if (!multiProbe) Seq(s"qb.qb$b")
        else s"qb.qb$b" +: (0 until BandBits).map(j => s"xor(qb.qb$b, ${1 << j})")
      vals.map(v => s"d.b$b = $v").mkString("(", " OR ", ")")
    }.mkString(" OR ")
    val where = filterSql.map(f => s" AND ($f)").getOrElse("")
    s"""WITH q AS (SELECT $queryVecSql AS v),
       |qb AS (SELECT ${qb.mkString(", ")} FROM q),
       |d AS (SELECT *, ${db.mkString(", ")} FROM $relation),
       |cand AS (SELECT d.$idCol, d.$vecCol FROM d, qb WHERE ($anyBand)$where)
       |SELECT $idCol,
       |  round(${Knn.distanceSql(metric, vecCol, "q.v", dim)}, 6) AS score
       |FROM cand, q ORDER BY score, $idCol LIMIT $k""".stripMargin
  }

  // ---- IVF --------------------------------------------------------------

  final case class IvfModel(centroids: Seq[Seq[Double]])

  /** Deterministic, data-independent coarse quantizer: centroid c is the
    * hash vector of key CentroidKeyBase + c — the same generator family as
    * the LSH hyperplanes. On a uniform corpus (no cluster structure)
    * recall@10 measured identical to trained k-means at sf0.01 (0.5 at
    * nprobe=4/16), and determinism buys a bit-exact DuckDB oracle for the
    * whole IVF path. [[trainIvf]] remains the clustered-corpus scale path
    * (recall-gated in AnnSpec). */
  val CentroidKeyBase = 2000L

  def fixedIvfModel(cells: Int, dim: Int): IvfModel =
    IvfModel((0 until cells).map(c =>
      VectorFunctions.hashVectorValues(CentroidKeyBase + c, dim)))

  /** DuckDB oracle for [[ivfSearch]]/[[graft.index.IvfIndex.search]] with
    * the fixed codebook: literal-key centroids, first-min argmin cell
    * assignment (row_number ties broken by cell, matching the kernel's
    * strict `<`), nprobe nearest cells, exact cosine rerank. `roundSql`
    * must mirror the searcher's rounding: the mapPartitions kernel uses
    * `math.round(x·1e6)/1e6` = `floor(x*1e6 + 0.5)/1e6`; the partitioned
    * reader uses `round(x, 6)`. */
  def ivfSearchSql(
      relation: String, vecCol: String, idCol: String,
      queryVecSql: String, dim: Int, cells: Int, nprobe: Int, k: Int,
      floorRounding: Boolean, filterSql: Option[String] = None,
      metric: String = "cosine"): String = {
    val d2 = VectorFunctions.sqL2Sql(s"e.$vecCol", "c.cv", dim)
    val qd2 = VectorFunctions.sqL2Sql("c.cv", "q.v", dim)
    val cos = Knn.distanceSql(metric, s"e.$vecCol", "q.v", dim)
    val score =
      if (floorRounding) s"floor(($cos) * 1000000 + 0.5) / 1000000.0"
      else s"round($cos, 6)"
    s"""WITH q AS (SELECT $queryVecSql AS v),
       |cents AS (
       |  SELECT cell, ${VectorFunctions.hashVectorSql(s"$CentroidKeyBase + cell", dim)} AS cv
       |  FROM range($cells) t(cell)),
       |dists AS (
       |  SELECT e.$idCol, c.cell, $d2 AS d2
       |  FROM $relation e CROSS JOIN cents c),
       |assign AS (
       |  SELECT $idCol, cell FROM (
       |    SELECT $idCol, cell,
       |           row_number() OVER (PARTITION BY $idCol ORDER BY d2, cell) AS rn
       |    FROM dists) WHERE rn = 1),
       |probe AS (
       |  SELECT c.cell FROM cents c, q ORDER BY $qd2, c.cell LIMIT $nprobe)
       |SELECT e.$idCol, $score AS score
       |FROM $relation e
       |JOIN assign a ON a.$idCol = e.$idCol
       |CROSS JOIN q
       |WHERE a.cell IN (SELECT cell FROM probe)${
        filterSql.map(f => s"\n  AND ($f)").getOrElse("")}
       |ORDER BY score, e.$idCol LIMIT $k""".stripMargin
  }

  /** DuckDB oracle for cell-occupancy stats over the fixed IVF
    * assignment — the skew-health diagnostic of a partitioned ANN layout
    * (a hot cell = a hot partition = a slow probe at scale). */
  def ivfCellStatsSql(relation: String, vecCol: String, idCol: String,
      dim: Int, cells: Int): String = {
    val d2 = VectorFunctions.sqL2Sql(s"e.$vecCol", "c.cv", dim)
    s"""WITH cents AS (
       |  SELECT cell, ${VectorFunctions.hashVectorSql(s"$CentroidKeyBase + cell", dim)} AS cv
       |  FROM range($cells) t(cell)),
       |cdists AS (
       |  SELECT e.$idCol, c.cell, $d2 AS d2
       |  FROM $relation e CROSS JOIN cents c),
       |assign AS (
       |  SELECT $idCol, cell FROM (
       |    SELECT $idCol, cell,
       |           row_number() OVER (PARTITION BY $idCol ORDER BY d2, cell) AS rn
       |    FROM cdists) WHERE rn = 1)
       |SELECT cell, count(*) AS n_vectors
       |FROM assign GROUP BY cell ORDER BY cell""".stripMargin
  }

  /** MIPS (ip-metric) ANN via the L2 augmentation (Bachrach et al.,
    * RecSys 2014): append aug(x) = √(M² − ‖x‖²) to every corpus vector
    * (M = max corpus norm) and 0 to the query — then
    * ‖q_aug − x_aug‖² = ‖q‖² + M² − 2·⟨q,x⟩, so L2 geometry over the
    * augmented space ORDERS exactly like inner product. Cells come from
    * the fixed (dim+1)-dim codebook; candidates in the probed cells are
    * reranked by the TRUE dot product, so with nprobe = cells this
    * equals the exact ip top-k (pinned in AnnSpec). This closes the "ip
    * has no index family" gap: the reference serves ip only brute-force
    * (`vectordb_optimized.py:681-683`).
    *
    * M² is one tiny aggregate (a stored constant when the layout is
    * persisted — it must NOT be recomputed per append, a new max would
    * silently re-geometrize existing cells). */
  /** The ONE augmented-assignment kernel (norm → clamp-sqrt aug → argmin
    * over (dim+1) centroids) shared by the in-query MIPS search and the
    * persistent MipsIndex build/append — a semantics change here changes
    * both paths AND must update the SQL oracles' aug/cdists CTEs. */
  private[graft] def augmentedCellOf(cents: Array[Array[Double]],
      vec: Array[Double], m2: Double): Int = {
    var n2 = 0.0
    var i = 0
    while (i < vec.length) { n2 += vec(i) * vec(i); i += 1 }
    val augv = java.util.Arrays.copyOf(vec, vec.length + 1)
    augv(vec.length) = math.sqrt(math.max(0.0, m2 - n2))
    bestCell(cents, augv)
  }

  def mipsIvfSearch(emb: DataFrame, vecCol: String, idCol: String,
      cells: Int, queryVec: Seq[Double], nprobe: Int, k: Int): DataFrame = {
    graft.core.Ids.requireIntegral(emb, idCol)
    val model = fixedIvfModel(cells, queryVec.length + 1)
    val m2Row = emb.agg(max(VectorFunctions.vecDot(col(vecCol), col(vecCol))))
      .head
    require(!m2Row.isNullAt(0),
      s"mipsIvfSearch: no rows with a non-null '$vecCol' — " +
        "cannot derive the augmentation constant from an empty corpus")
    val m2 = m2Row.getDouble(0)
    val probed = probeCells(model, queryVec :+ 0.0, nprobe)
    val vecD = col(vecCol).cast("array<double>")
    // one codegen'd scan: NearestCellExpr in augmented mode is
    // augmentedCellOf's arithmetic; survivors rerank by the true dot
    // with the kernel's Math.round rounding (floor(x·1e6 + 0.5))
    emb
      .filter(VectorFunctions.nearestCell(vecD, model.centroids,
        augM2 = Some(m2)).isin(probed: _*))
      .select(col(idCol).cast("long").as(idCol),
        (floor(-VectorFunctions.vecDot(vecD, typedlit(queryVec)) *
          lit(1e6) + lit(0.5)).cast("double") / lit(1e6)).as("score"))
      .orderBy(col("score"), col(idCol))
      .limit(k)
  }

  /** DuckDB oracle for [[mipsIvfSearch]]: max-norm constant, augmented
    * assignment (sqL2 over the base dims + the aug term LAST, matching
    * the kernel's fold order), augmented probe with q_aug = [q, 0], true
    * ip rerank with the kernel's floor rounding. */
  def mipsIvfSearchSql(relation: String, vecCol: String, idCol: String,
      queryVecSql: String, dim: Int, cells: Int, nprobe: Int, k: Int,
      floorRounding: Boolean = true, filterSql: Option[String] = None)
      : String = {
    val n2 = VectorFunctions.dotSql(s"e.$vecCol", s"e.$vecCol", dim)
    val baseD2 = VectorFunctions.sqL2Sql(s"a.$vecCol", "c.cv", dim)
    val qBaseD2 = VectorFunctions.sqL2Sql("c.cv", "q.v", dim)
    val ip = Knn.distanceSql("ip", s"e.$vecCol", "q.v", dim)
    val score =
      if (floorRounding) s"floor(($ip) * 1000000 + 0.5) / 1000000.0"
      else s"round($ip, 6)"
    s"""WITH q AS (SELECT $queryVecSql AS v),
       |m2 AS (SELECT max($n2) AS m2 FROM $relation e),
       |aug AS (
       |  SELECT e.*, sqrt(greatest(0.0, m2.m2 - $n2)) AS augd
       |  FROM $relation e, m2),
       |cents AS (
       |  SELECT cell, ${VectorFunctions.hashVectorSql(s"$CentroidKeyBase + cell", dim + 1)} AS cv
       |  FROM range($cells) t(cell)),
       |cdists AS (
       |  SELECT a.$idCol, c.cell,
       |         $baseD2 + (a.augd - (c.cv)[${dim + 1}]) * (a.augd - (c.cv)[${dim + 1}]) AS d2
       |  FROM aug a CROSS JOIN cents c),
       |assign AS (
       |  SELECT $idCol, cell FROM (
       |    SELECT $idCol, cell,
       |           row_number() OVER (PARTITION BY $idCol ORDER BY d2, cell) AS rn
       |    FROM cdists) WHERE rn = 1),
       |probe AS (
       |  SELECT c.cell FROM cents c, q
       |  ORDER BY $qBaseD2 + (c.cv)[${dim + 1}] * (c.cv)[${dim + 1}], c.cell
       |  LIMIT $nprobe)
       |SELECT e.$idCol, $score AS score
       |FROM $relation e
       |JOIN assign a ON a.$idCol = e.$idCol
       |CROSS JOIN q
       |WHERE a.cell IN (SELECT cell FROM probe)${
        filterSql.map(f => s"\n  AND ($f)").getOrElse("")}
       |ORDER BY score, e.$idCol LIMIT $k""".stripMargin
  }

  /** DuckDB oracle for [[graft.index.MipsIndex.searchBatchDf]] over
    * integer query keys whose vectors are hash vectors of the key (same
    * convention as ivfSearchBatchSql); `round(…, 6)` like the
    * partitioned readers. */
  def mipsIvfSearchBatchSql(relation: String, vecCol: String, idCol: String,
      queryKeys: Seq[Long], dim: Int, cells: Int, nprobe: Int, k: Int)
      : String = {
    val keys = queryKeys.map(kk => s"($kk)").mkString(", ")
    val n2 = VectorFunctions.dotSql(s"e.$vecCol", s"e.$vecCol", dim)
    val baseD2 = VectorFunctions.sqL2Sql(s"a.$vecCol", "c.cv", dim)
    val qBaseD2 = VectorFunctions.sqL2Sql("c.cv", "qs.qvec", dim)
    val ip = Knn.distanceSql("ip", s"e.$vecCol", "qs.qvec", dim)
    s"""WITH qs AS (
       |  SELECT qid, ${VectorFunctions.hashVectorSql("qid", dim)} AS qvec
       |  FROM (VALUES $keys) t(qid)),
       |m2 AS (SELECT max($n2) AS m2 FROM $relation e),
       |aug AS (
       |  SELECT e.*, sqrt(greatest(0.0, m2.m2 - $n2)) AS augd
       |  FROM $relation e, m2),
       |cents AS (
       |  SELECT cell, ${VectorFunctions.hashVectorSql(s"$CentroidKeyBase + cell", dim + 1)} AS cv
       |  FROM range($cells) t(cell)),
       |cdists AS (
       |  SELECT a.$idCol, c.cell,
       |         $baseD2 + (a.augd - (c.cv)[${dim + 1}]) * (a.augd - (c.cv)[${dim + 1}]) AS d2
       |  FROM aug a CROSS JOIN cents c),
       |assign AS (
       |  SELECT $idCol, cell FROM (
       |    SELECT $idCol, cell,
       |           row_number() OVER (PARTITION BY $idCol ORDER BY d2, cell) AS rn
       |    FROM cdists) WHERE rn = 1),
       |qd AS (
       |  SELECT qs.qid, c.cell,
       |         $qBaseD2 + (c.cv)[${dim + 1}] * (c.cv)[${dim + 1}] AS d2
       |  FROM cents c CROSS JOIN qs),
       |probe AS (
       |  SELECT qid, cell FROM (
       |    SELECT qid, cell,
       |           row_number() OVER (PARTITION BY qid ORDER BY d2, cell) AS rn
       |    FROM qd) WHERE rn <= $nprobe),
       |scored AS (
       |  SELECT p.qid, e.$idCol, round($ip, 6) AS score
       |  FROM assign a
       |  JOIN probe p ON p.cell = a.cell
       |  JOIN $relation e ON e.$idCol = a.$idCol
       |  JOIN qs ON qs.qid = p.qid),
       |ranked AS (
       |  SELECT qid, $idCol, score,
       |         row_number() OVER (PARTITION BY qid ORDER BY score, $idCol) AS rnk
       |  FROM scored)
       |SELECT qid, $idCol, score FROM ranked WHERE rnk <= $k
       |ORDER BY qid, score, $idCol""".stripMargin
  }

  /** Max rows sampled for centroid training; samples at or below
    * LocalTrainThreshold run Lloyd's driver-side (MLlib schedules a job
    * per iteration — pure overhead on small samples; see LocalKMeans). */
  val SampleRows = 8192
  val LocalTrainThreshold = 65536

  def trainIvf(emb: DataFrame, vecCol: String, cells: Int,
      seed: Long = 42L, sampleRows: Int = SampleRows): IvfModel = {
    val sampleDf = emb.selectExpr(
      s"transform($vecCol, x -> cast(x as double)) as f").limit(sampleRows)
    if (sampleRows <= LocalTrainThreshold) {
      val sample = sampleDf.collect().map(_.getSeq[Double](0)).toSeq
      IvfModel(graft.quant.LocalKMeans.fit(sample, cells, iters = 10))
    } else {
      val feats = sampleDf.select(array_to_vector(col("f")).as("features"))
        .persist()
      val model = new KMeans().setK(cells).setSeed(seed).setMaxIter(10)
        .setFeaturesCol("features").fit(feats)
      feats.unpersist()
      IvfModel(model.clusterCenters.toSeq.map(_.toArray.toSeq))
    }
  }

  /** Materialize the corpus partitioned by IVF cell: cell assignment runs
    * once at write time (typed kernel), and the directory layout makes a
    * probe read only nprobe/cells of the files — `PartitionFilters` in the
    * scan, verified in AnnSpec. This is the durable form of [[ivfSearch]]
    * for a corpus too large to score per query.
    */
  /** Strict-< argmin cell of one vector (ties to the lower index) —
    * shared by the build kernel and [[ivfSearch]], and mirrored by the
    * oracle's row_number ORDER BY d2, cell. */
  private[graft] def bestCell(cents: Array[Array[Double]], vec: Array[Double]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      var d = 0.0; var i = 0
      while (i < vec.length) { val x = vec(i) - cents(c)(i); d += x * x; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  def writePartitioned(
      emb: DataFrame, vecCol: String, idCol: String,
      m: IvfModel, path: String, mode: String = "overwrite",
      metaCols: Seq[String] = Nil, stringIds: Boolean = false): Unit = {
    val spark = emb.sparkSession
    // two id regimes: the testdata tables carry integral ids (stored as
    // long, matching their oracles' BIGINT); collections carry opaque
    // STRING ids — same assignment kernel, different key type.
    if (!stringIds) graft.core.Ids.requireIntegral(emb, idCol)
    val idKey =
      if (stringIds) col(idCol).cast("string") else col(idCol).cast("long")
    // NearestCellExpr is bestCell's arithmetic (strict <, lowest index)
    // as a codegen'd column — one scan, no per-row deserialization, and
    // metadata travels into the cell rows directly so a filtered probe
    // pushes its predicate into the cell scan.
    val vecD = col(vecCol).cast("array<double>")
    val rows = emb.select(
      Seq(idKey.as(idCol), vecD.as(vecCol)) ++ metaCols.map(col) :+
        VectorFunctions.nearestCell(vecD, m.centroids).as("cell"): _*)
    graft.index.IndexStore.invalidateState(path)
    if (mode == "append")
      graft.index.IndexStore.requireAppendSchema(spark, path, rows)
    rows.write.mode(mode).partitionBy("cell").parquet(path)
  }

  /** Probe cells for one query: nprobe nearest centroids, ties by index
    * (stable sort ≡ the SQL row_number ORDER BY d2, cell). */
  def probeCells(m: IvfModel, queryVec: Seq[Double], nprobe: Int): Seq[Int] =
    m.centroids.zipWithIndex.map { case (c, i) =>
      (c.zip(queryVec).map { case (a, b) => (a - b) * (a - b) }.sum, i)
    }.sortBy(_._1).take(nprobe).map(_._2)

  /** Batch search over the cell-partitioned layout: the UNION of every
    * query's probe cells is a literal partition filter (whole-file
    * pruning for the entire batch), per-query probe membership is a tiny
    * broadcast (qid, cell) join, and one rerank + per-query top-k window
    * serves all queries in a single scan. `queries` = (qid, qvec).
    * Returns (qid, id, score). */
  def searchBatchPartitioned(
      spark: org.apache.spark.sql.SparkSession, path: String,
      vecCol: String, idCol: String, m: IvfModel,
      queries: Seq[(Long, Seq[Double])], nprobe: Int, k: Int,
      metric: String = "cosine"): DataFrame = {
    import spark.implicits._
    val probePairs = queries
      .flatMap { case (qid, qv) => probeCells(m, qv, nprobe).map(qid -> _) }
    val allCells = probePairs.map(_._2).distinct
    val qDf = queries.toDF("qid", "qvec")
    val pairsDf = probePairs.toDF("qid", "cell")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("score"), col(idCol))
    graft.index.IndexStore.table(spark, path)
      .filter(col("cell").isin(allCells: _*))
      .join(broadcast(pairsDf), Seq("cell"))
      .join(broadcast(qDf), Seq("qid"))
      .withColumn("score",
        round(Knn.distance(metric, col(vecCol), col("qvec")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col(idCol), col("score"))
      .orderBy(col("qid"), col("score"), col(idCol))
  }

  /** DuckDB oracle for [[searchBatchPartitioned]] over integer query keys
    * whose vectors are hash vectors of the key (fixed codebook). */
  def ivfSearchBatchSql(
      relation: String, vecCol: String, idCol: String,
      queryKeys: Seq[Long], dim: Int, cells: Int, nprobe: Int, k: Int,
      metric: String = "cosine"): String = {
    val keys = queryKeys.map(kk => s"($kk)").mkString(", ")
    val d2 = VectorFunctions.sqL2Sql(s"e.$vecCol", "c.cv", dim)
    val qd2 = VectorFunctions.sqL2Sql("c.cv", "qs.qvec", dim)
    val cos = Knn.distanceSql(metric, s"e.$vecCol", "qs.qvec", dim)
    s"""WITH qs AS (
       |  SELECT qid, ${VectorFunctions.hashVectorSql("qid", dim)} AS qvec
       |  FROM (VALUES $keys) t(qid)),
       |cents AS (
       |  SELECT cell, ${VectorFunctions.hashVectorSql(s"$CentroidKeyBase + cell", dim)} AS cv
       |  FROM range($cells) t(cell)),
       |dists AS (
       |  SELECT e.$idCol, c.cell, $d2 AS d2
       |  FROM $relation e CROSS JOIN cents c),
       |assign AS (
       |  SELECT $idCol, cell FROM (
       |    SELECT $idCol, cell,
       |           row_number() OVER (PARTITION BY $idCol ORDER BY d2, cell) AS rn
       |    FROM dists) WHERE rn = 1),
       |qd AS (
       |  SELECT qs.qid, c.cell, $qd2 AS d2 FROM cents c CROSS JOIN qs),
       |probe AS (
       |  SELECT qid, cell FROM (
       |    SELECT qid, cell,
       |           row_number() OVER (PARTITION BY qid ORDER BY d2, cell) AS rn
       |    FROM qd) WHERE rn <= $nprobe),
       |scored AS (
       |  SELECT p.qid, e.$idCol, round($cos, 6) AS score
       |  FROM assign a
       |  JOIN probe p ON p.cell = a.cell
       |  JOIN $relation e ON e.$idCol = a.$idCol
       |  JOIN qs ON qs.qid = p.qid),
       |ranked AS (
       |  SELECT qid, $idCol, score,
       |         row_number() OVER (PARTITION BY qid ORDER BY score, $idCol) AS rnk
       |  FROM scored)
       |SELECT qid, $idCol, score FROM ranked WHERE rnk <= $k
       |ORDER BY qid, score, $idCol""".stripMargin
  }

  /** Search the partitioned layout: cell predicate prunes whole files.
    * `filter` (over metadata columns stored in the cell rows) applies
    * BEFORE the rerank and pushes down to the cell scan alongside the
    * partition probe — exact filtered top-k among probed candidates.
    * `metric` reranks with the collection's configured distance; the
    * cell geometry itself is L2 (k-means Voronoi), which serves both l2
    * (natively) and cosine (the fixed/trained centroids span the sphere). */
  def searchPartitioned(
      spark: org.apache.spark.sql.SparkSession, path: String,
      vecCol: String, idCol: String, m: IvfModel,
      queryVec: Seq[Double], nprobe: Int, k: Int,
      filter: Option[Column] = None, metric: String = "cosine"): DataFrame = {
    val probe = probeCells(m, queryVec, nprobe)
    val qv = typedlit(queryVec)
    val base = graft.index.IndexStore.table(spark, path)
      .filter(col("cell").isin(probe: _*))
    filter.map(base.filter).getOrElse(base)
      .withColumn("score",
        round(Knn.distance(metric, col(vecCol), qv), 6))
      .select(idCol, "score")
      .orderBy(col("score"), col(idCol))
      .limit(k)
  }

  /** IVF search: probe the nprobe nearest cells, exact-rerank inside.
    * Cell assignment + rerank run as one typed mapPartitions pass (a
    * literal-centroid Catalyst expression tree falls out of codegen and
    * was measured far slower); no SQL oracle (k-means), recall-gated.
    * At scale the cell id would be a stored partition column instead —
    * assignment happens once at write time and probing prunes files.
    */
  def ivfSearch(
      emb: DataFrame,
      vecCol: String,
      idCol: String,
      m: IvfModel,
      queryVec: Seq[Double],
      nprobe: Int,
      k: Int): DataFrame = {
    graft.core.Ids.requireIntegral(emb, idCol)
    val probed = probeCells(m, queryVec, nprobe)
    val vecD = col(vecCol).cast("array<double>")
    // one codegen'd scan: argmin cell (NearestCellExpr = bestCell's
    // arithmetic) filters to the probed cells, survivors score by the
    // cosine expression with the kernel's exact Math.round rounding
    // (floor(x·1e6 + 0.5) — Math.round(d) IS (long) floor(d + 0.5))
    emb
      .filter(VectorFunctions.nearestCell(vecD, m.centroids)
        .isin(probed: _*))
      .select(col(idCol).cast("long").as(idCol),
        (floor(VectorFunctions.cosineDistance(vecD,
          typedlit(queryVec)) * lit(1e6) + lit(0.5)).cast("double") /
          lit(1e6)).as("score"))
      .orderBy(col("score"), col(idCol))
      .limit(k)
  }
}
