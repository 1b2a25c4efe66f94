package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.knn.{Ann, Knn}
import graft.quant.ProductQuant

/** IVF-PQ: the billion-scale ANN layout — coarse IVF cells as the
  * PARTITION dimension, PQ codes as the IN-CELL storage, ADC as the
  * candidate scorer, exact rerank of a small pool for the final top-k.
  * The reference ships IVF (`parallel_search.py`) and PQ
  * (`quantization.py:444-597`) separately; composing them is the standard
  * scale path (Jégou et al., "Product Quantization for Nearest Neighbor
  * Search", TPAMI 2011 — the IVFADC system): a probe reads nprobe/cells
  * of the FILES (partition pruning), and inside a probed cell the ADC
  * pass reads only the m-byte codes column (column pruning), never the
  * raw vectors — at 100 TB the scan that serves a query is
  * (nprobe/cells) · (m bytes per vector), two orders of magnitude less
  * I/O than an exact sweep. Raw vectors live in the SAME cell rows, so
  * the rerank join reads them only for the candidate pool.
  *
  * Layout under an [[IndexStore]] path:
  *   centroids/ (cell, centroid)   — IVF coarse codebook
  *   codebooks/ (mi, c, centroid)  — PQ sub-codebooks
  *   cells/ cell=N/ (id, codes[m·tinyint], vector) — corpus by cell
  *
  * Fixed deterministic models (Ann.fixedIvfModel + ProductQuant
  * .fixedCodebooks) carry a bit-exact DuckDB oracle ([[searchSql]]);
  * trained k-means models drop in unchanged (recall-gated, no oracle).
  */
object IvfPqIndex {
  /** Exact-rerank pool size per query (ADC keeps this many candidates). */
  val DefaultRerank = 50

  def build(spark: SparkSession, emb: DataFrame, vecCol: String,
      idCol: String, ivf: Ann.IvfModel, cb: ProductQuant.Codebooks,
      path: String, metaCols: Seq[String] = Nil): Unit = {
    import spark.implicits._
    IndexStore.invalidateState(path)
    ivf.centroids.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    (for { mi <- 0 until cb.m; c <- 0 until cb.k } yield (mi, c, cb.cb(mi)(c)))
      .toDF("mi", "c", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    writeCells(spark, emb, vecCol, idCol, ivf, cb, path,
      mode = "overwrite", metaCols = metaCols)
  }

  /** Cell assignment + PQ encode in ONE codegen'd pass over the corpus
    * (each vector is read once; both argmins share the strict-< /
    * lowest-index tie rule the oracles mirror — NearestCellExpr /
    * PqEncodeExpr are the same arithmetic as the typed kernel they
    * replaced, without per-row deserialization). */
  private def writeCells(spark: SparkSession, emb: DataFrame, vecCol: String,
      idCol: String, ivf: Ann.IvfModel, cb: ProductQuant.Codebooks,
      path: String, mode: String, metaCols: Seq[String]): Unit = {
    // codes are stored as SIGNED tinyint: k beyond 128 would silently
    // wrap negative and crash every later LUT lookup
    require(cb.k <= 128,
      s"PQ codebook k=${cb.k} exceeds the tinyint code range (max 128)")
    graft.core.Ids.requireIntegral(emb, idCol)
    val vecD = col(vecCol).cast("array<double>")
    val rows = emb.select(
      Seq(
        VectorFunctions.nearestCell(vecD, ivf.centroids).as("cell"),
        col(idCol).cast("long").as(idCol),
        VectorFunctions.pqEncode(vecD, cb.cb).as("codes"),
        vecD.as(vecCol)) ++ metaCols.map(col): _*)
    IndexStore.invalidateState(s"$path/cells")
    if (mode == "append")
      IndexStore.requireAppendSchema(spark, s"$path/cells", rows)
    rows.write.mode(mode).partitionBy("cell").parquet(s"$path/cells")
  }

  /** Incremental maintenance: assign + encode the NEW rows against the
    * STORED models and append to their cell partitions (the models are
    * data-independent of the appended rows, exactly like IvfIndex). Wrap
    * in IndexStore.mutate/advance. */
  def append(spark: SparkSession, newRows: DataFrame, vecCol: String,
      idCol: String, path: String, metaCols: Seq[String] = Nil): Unit = {
    writeCells(spark, newRows, vecCol, idCol, loadIvf(spark, path),
      QuantIndex.loadPqCodebooks(spark, path), path,
      mode = "append", metaCols = metaCols)
    spark.catalog.refreshByPath(s"$path/cells")
  }

  def loadIvf(spark: SparkSession, path: String): Ann.IvfModel =
    IndexStore.cachedState(s"$path/centroids#ivf") {
      Ann.IvfModel(
        spark.read.parquet(s"$path/centroids").orderBy("cell")
          .collect().map(_.getSeq[Double](1)).toSeq)
    }

  /** Probe → ADC → rerank. The ADC scan projects (id, codes) only —
    * parquet column pruning keeps the probed-cell read at m bytes/vector;
    * the rerank re-reads (id, vector) for the `rerank`-row candidate pool
    * via a broadcast semi-join against the same pruned partitions.
    * `filter` (metadata stored in the cell rows) applies before BOTH
    * passes, pushed into the scans. Returns (id, score) = exact `metric`
    * distance rounded to 6, ascending top-k. */
  def search(spark: SparkSession, path: String, vecCol: String,
      idCol: String, queryVec: Seq[Double], nprobe: Int, k: Int,
      rerank: Int = DefaultRerank, filter: Option[Column] = None,
      metric: String = "l2"): DataFrame = {
    val ivf = loadIvf(spark, path)
    val cb = QuantIndex.loadPqCodebooks(spark, path)
    require(queryVec.length == cb.m * cb.subDim,
      s"query dim ${queryVec.length} != index dim ${cb.m * cb.subDim}")
    require(nprobe >= 1 && k >= 1 && rerank >= k,
      s"need nprobe>=1, k>=1, rerank>=k (got $nprobe, $k, $rerank)")
    val lutLit = typedlit(
      ProductQuant.adcLut(cb, queryVec).map(_.toSeq).toSeq)
    val probe = Ann.probeCells(ivf, queryVec, nprobe)
    val cells = IndexStore.table(spark, s"$path/cells")
      .filter(col("cell").isin(probe: _*))
    val visible = filter.map(cells.filter).getOrElse(cells)
    val cand = visible
      .select(col(idCol).cast("long").as(idCol),
        VectorFunctions.adcScore(col("codes"), lutLit).as("adc"))
      .orderBy(col("adc"), col(idCol))
      .limit(rerank)
    visible.select(col(idCol).cast("long"), col(vecCol))
      .join(broadcast(cand.select(idCol)), Seq(idCol))
      .withColumn("score",
        round(Knn.distance(metric, col(vecCol), typedlit(queryVec)), 6))
      .select(idCol, "score")
      .orderBy(col("score"), col(idCol))
      .limit(k)
  }

  /** Batch probe — the cluster-scale form: the UNION of every query's
    * probe cells is ONE literal partition filter, per-query membership a
    * broadcast (qid, cell) join, the ADC pass a single codes-column scan
    * scoring each candidate against its query's LUT, and one window pair
    * (pool, then exact top-k) serves all queries. LUTs are driver-built
    * (m·kCb doubles per query — bounded by the batch size, never the
    * corpus). Returns (qid, id, score). */
  def searchBatch(spark: SparkSession, path: String, vecCol: String,
      idCol: String, queries: Seq[(Long, Seq[Double])], nprobe: Int,
      k: Int, rerank: Int = DefaultRerank, metric: String = "l2")
      : DataFrame = {
    import spark.implicits._
    val ivf = loadIvf(spark, path)
    val cb = QuantIndex.loadPqCodebooks(spark, path)
    queries.foreach { case (qid, qv) =>
      require(qv.length == cb.m * cb.subDim,
        s"query $qid dim ${qv.length} != index dim ${cb.m * cb.subDim}")
    }
    // (qid, probe cell, that query's LUT) — one broadcast table carries
    // both the membership AND the scoring constants; the ADC pass is a
    // codegen'd scan of the codes column, no per-row deserialization
    val probeLut = queries.flatMap { case (qid, qv) =>
      val lut = ProductQuant.adcLut(cb, qv).map(_.toSeq).toSeq
      Ann.probeCells(ivf, qv, nprobe).map(cell => (qid, cell, lut))
    }
    val allCells = probeLut.map(_._2).distinct
    val pairsDf = probeLut.toDF("qid", "cell", "lut")
    val qDf = queries.toDF("qid", "qvec")
    val cells = IndexStore.table(spark, s"$path/cells")
      .filter(col("cell").isin(allCells: _*))
    val cand = cells
      .select(col("cell"), col(idCol).cast("long").as(idCol), col("codes"))
      .join(broadcast(pairsDf), Seq("cell"))
      .select(col("qid"), col(idCol),
        VectorFunctions.adcScore(col("codes"), col("lut")).as("adc"))
    val wPool = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("adc"), col(idCol))
    val pool = cand
      .withColumn("rn", row_number().over(wPool))
      .filter(col("rn") <= rerank)
      .select("qid", idCol)
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("score"), col(idCol))
    cells.select(col(idCol).cast("long"), col(vecCol))
      .join(broadcast(pool), Seq(idCol))
      .join(broadcast(qDf), Seq("qid"))
      .withColumn("score",
        round(Knn.distance(metric, col(vecCol), col("qvec")), 6))
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= k)
      .select(col("qid"), col(idCol), col("score"))
      .orderBy(col("qid"), col("score"), col(idCol))
  }

  /** DuckDB oracle for [[searchBatch]] over integer query keys whose
    * vectors are hash vectors of the key (same convention as
    * Ann.ivfSearchBatchSql); encode is query-independent so the enc CTE
    * is computed once and shared by every query's ADC. */
  def searchBatchSql(relation: String, vecCol: String, idCol: String,
      queryKeys: Seq[Long], dim: Int, cells: Int, m: Int, kCb: Int,
      nprobe: Int, k: Int, rerank: Int = DefaultRerank,
      metric: String = "l2"): String = {
    val subDim = dim / m
    val keys = queryKeys.map(kk => s"($kk)").mkString(", ")
    val cellD2 = VectorFunctions.sqL2Sql(s"e.$vecCol", "c.cv", dim)
    val qCellD2 = VectorFunctions.sqL2Sql("c.cv", "qs.v", dim)
    def sub(vec: String, cv: String) =
      s"list_reduce(list_transform(range($subDim), gqi -> " +
        s"(($vec)[b.mi * $subDim + gqi + 1]::DOUBLE - ($cv)[gqi+1]) * " +
        s"(($vec)[b.mi * $subDim + gqi + 1]::DOUBLE - ($cv)[gqi+1])), " +
        s"(x, y) -> x + y)"
    val rerankDist = Knn.distanceSql(metric, s"e.$vecCol", "qs.v", dim)
    s"""WITH qs AS (
       |  SELECT qid, ${VectorFunctions.hashVectorSql("qid", dim)} AS v
       |  FROM (VALUES $keys) t(qid)),
       |cents AS (
       |  SELECT cell, ${VectorFunctions.hashVectorSql(s"${Ann.CentroidKeyBase} + cell", dim)} AS cv
       |  FROM range($cells) t(cell)),
       |cdists AS (
       |  SELECT e.$idCol, c.cell, $cellD2 AS d2
       |  FROM $relation e CROSS JOIN cents c),
       |assign AS (
       |  SELECT $idCol, cell FROM (
       |    SELECT $idCol, cell,
       |           row_number() OVER (PARTITION BY $idCol ORDER BY d2, cell) AS rn
       |    FROM cdists) WHERE rn = 1),
       |qd AS (
       |  SELECT qs.qid, c.cell, $qCellD2 AS d2 FROM cents c CROSS JOIN qs),
       |probe AS (
       |  SELECT qid, cell FROM (
       |    SELECT qid, cell,
       |           row_number() OVER (PARTITION BY qid ORDER BY d2, cell) AS rn
       |    FROM qd) WHERE rn <= $nprobe),
       |cb AS (
       |  SELECT mi, c,
       |         ${VectorFunctions.hashVectorSql(s"${ProductQuant.PqKeyBase} + mi * $kCb + c", subDim)} AS cv
       |  FROM range($m) t(mi) CROSS JOIN range($kCb) u(c)),
       |subdists AS (
       |  SELECT e.$idCol, b.mi, b.c, ${sub(s"e.$vecCol", "b.cv")} AS d2
       |  FROM $relation e CROSS JOIN cb b),
       |enc AS (
       |  SELECT $idCol, mi, c FROM (
       |    SELECT $idCol, mi, c,
       |           row_number() OVER (PARTITION BY $idCol, mi ORDER BY d2, c) AS rn
       |    FROM subdists) WHERE rn = 1),
       |lut AS (
       |  SELECT qs.qid, b.mi, b.c, ${sub("qs.v", "b.cv")} AS ld
       |  FROM cb b CROSS JOIN qs),
       |vis AS (
       |  SELECT p.qid, a.$idCol FROM assign a JOIN probe p ON p.cell = a.cell),
       |adc AS (
       |  SELECT v.qid, v.$idCol,
       |         floor(sqrt(list_reduce(list(l.ld ORDER BY e.mi), (x, y) -> x + y))
       |               * 1000000 + 0.5) / 1000000.0 AS adc
       |  FROM vis v
       |  JOIN enc e ON e.$idCol = v.$idCol
       |  JOIN lut l ON l.qid = v.qid AND l.mi = e.mi AND l.c = e.c
       |  GROUP BY v.qid, v.$idCol),
       |cand AS (
       |  SELECT qid, $idCol FROM (
       |    SELECT qid, $idCol,
       |           row_number() OVER (PARTITION BY qid ORDER BY adc, $idCol) AS rn
       |    FROM adc) WHERE rn <= $rerank),
       |scored AS (
       |  SELECT c.qid, e.$idCol, round($rerankDist, 6) AS score
       |  FROM cand c
       |  JOIN $relation e ON e.$idCol = c.$idCol
       |  JOIN qs ON qs.qid = c.qid),
       |ranked AS (
       |  SELECT qid, $idCol, score,
       |         row_number() OVER (PARTITION BY qid ORDER BY score, $idCol) AS rnk
       |  FROM scored)
       |SELECT qid, $idCol, score FROM ranked WHERE rnk <= $k
       |ORDER BY qid, score, $idCol""".stripMargin
  }

  /** DuckDB oracle for [[search]] over the FIXED models: IVF assignment /
    * probe from Ann.ivfSearchSql's arithmetic, PQ encode / ADC from
    * ProductQuant.searchAdcSql's (first-min argmins, mi-ordered ADC sum,
    * `floor(x·1e6 + 0.5)/1e6` candidate rounding), then exact rerank of
    * the `rerank`-row pool with `round(metric, 6)`. */
  def searchSql(relation: String, vecCol: String, idCol: String,
      queryVecSql: String, dim: Int, cells: Int, m: Int, kCb: Int,
      nprobe: Int, k: Int, rerank: Int = DefaultRerank,
      filterSql: Option[String] = None, metric: String = "l2"): String = {
    val subDim = dim / m
    val cellD2 = VectorFunctions.sqL2Sql(s"e.$vecCol", "c.cv", dim)
    val qCellD2 = VectorFunctions.sqL2Sql("c.cv", "q.v", dim)
    def sub(vec: String, cv: String) =
      s"list_reduce(list_transform(range($subDim), gqi -> " +
        s"(($vec)[b.mi * $subDim + gqi + 1]::DOUBLE - ($cv)[gqi+1]) * " +
        s"(($vec)[b.mi * $subDim + gqi + 1]::DOUBLE - ($cv)[gqi+1])), " +
        s"(x, y) -> x + y)"
    val rerankDist = Knn.distanceSql(metric, s"e.$vecCol", "q.v", dim)
    s"""WITH q AS (SELECT $queryVecSql AS v),
       |cents AS (
       |  SELECT cell, ${VectorFunctions.hashVectorSql(s"${Ann.CentroidKeyBase} + cell", dim)} AS cv
       |  FROM range($cells) t(cell)),
       |cdists AS (
       |  SELECT e.$idCol, c.cell, $cellD2 AS d2
       |  FROM $relation e CROSS JOIN cents c),
       |assign AS (
       |  SELECT $idCol, cell FROM (
       |    SELECT $idCol, cell,
       |           row_number() OVER (PARTITION BY $idCol ORDER BY d2, cell) AS rn
       |    FROM cdists) WHERE rn = 1),
       |probe AS (
       |  SELECT c.cell FROM cents c, q ORDER BY $qCellD2, c.cell LIMIT $nprobe),
       |vis AS (
       |  SELECT e.* FROM $relation e
       |  JOIN assign a ON a.$idCol = e.$idCol
       |  WHERE a.cell IN (SELECT cell FROM probe)${
        filterSql.map(f => s"\n    AND ($f)").getOrElse("")}),
       |cb AS (
       |  SELECT mi, c,
       |         ${VectorFunctions.hashVectorSql(s"${ProductQuant.PqKeyBase} + mi * $kCb + c", subDim)} AS cv
       |  FROM range($m) t(mi) CROSS JOIN range($kCb) u(c)),
       |subdists AS (
       |  SELECT e.$idCol, b.mi, b.c, ${sub(s"e.$vecCol", "b.cv")} AS d2
       |  FROM vis e CROSS JOIN cb b),
       |enc AS (
       |  SELECT $idCol, mi, c FROM (
       |    SELECT $idCol, mi, c,
       |           row_number() OVER (PARTITION BY $idCol, mi ORDER BY d2, c) AS rn
       |    FROM subdists) WHERE rn = 1),
       |lut AS (
       |  SELECT b.mi, b.c, ${sub("q.v", "b.cv")} AS ld
       |  FROM cb b, q),
       |adc AS (
       |  SELECT e.$idCol,
       |         floor(sqrt(list_reduce(list(l.ld ORDER BY e.mi), (x, y) -> x + y))
       |               * 1000000 + 0.5) / 1000000.0 AS adc
       |  FROM enc e JOIN lut l ON l.mi = e.mi AND l.c = e.c
       |  GROUP BY e.$idCol),
       |cand AS (
       |  SELECT $idCol FROM adc ORDER BY adc, $idCol LIMIT $rerank)
       |SELECT e.$idCol, round($rerankDist, 6) AS score
       |FROM vis e JOIN cand USING ($idCol) CROSS JOIN q
       |ORDER BY score, e.$idCol LIMIT $k""".stripMargin
  }
}
