package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.quant.{BinaryQuant, ProductQuant, ScalarQuant}

/** Quantized-at-rest indexes: the corpus stored in its quantized form,
  * built once, searched without touching the raw vectors — the
  * reference persists its quantizer state and quantized database together
  * (`binary_persistence.py:333-385`, `quantization.py:196-213` save/load).
  * At 100 TB this is the point of quantization: a BQ scan reads 2 longs
  * per vector (32× fewer bytes than f32), an SQ scan 1 code per dim.
  *
  * Layouts under an [[IndexStore]] path:
  *   bq:  packed/ (id, w0, w1)        thresholds/ (pos, thr)
  *   sq:  codes/  (id, code[smallint]) stats/ (pos, mn, mx)
  *
  * Searches reproduce the in-query operators bit-for-bit (same packing /
  * encode arithmetic), so the existing DuckDB oracles apply unchanged.
  */
object QuantIndex {

  // ---- BQ ----------------------------------------------------------------

  def buildBq(spark: SparkSession, emb: DataFrame, vecCol: String,
      idCol: String, path: String): Unit = {
    import spark.implicits._
    IndexStore.invalidateState(path)
    // run the exact-percentile training aggregation ONCE: collect the
    // tiny per-dim result, then both write the thresholds table from the
    // collected rows and pack against the literal array
    val thrRows = BinaryQuant.thresholds(emb, vecCol)
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1)
    thrRows.toSeq.toDF("pos", "thr")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/thresholds")
    packRows(emb, vecCol, idCol, thrRows.map(_._2).toSeq)
      .write.mode("overwrite").parquet(s"$path/packed")
  }

  private def packRows(emb: DataFrame, vecCol: String, idCol: String,
      thrs: Seq[Double]): DataFrame =
    emb
      .withColumn("thrs", typedlit(thrs))
      .selectExpr(idCol,
        s"${BinaryQuant.packWordExpr(vecCol, 0)} as w0",
        s"${BinaryQuant.packWordExpr(vecCol, BinaryQuant.WordBits)} as w1")

  /** Incremental maintenance: pack the NEW rows against the STORED
    * thresholds and append — the quantizer is frozen at first build
    * (the reference trains once and encodes inserts against the trained
    * state, `quantization.py` train/encode split). Caller guarantees new
    * ids; wrap in IndexStore.mutate/advance. */
  def appendBq(spark: SparkSession, newRows: DataFrame, vecCol: String,
      idCol: String, path: String): Unit = {
    val thrs = IndexStore.cachedState(s"$path/thresholds#bq") {
      spark.read.parquet(s"$path/thresholds").orderBy("pos")
        .collect().map(_.getDouble(1)).toSeq
    }
    val rows = packRows(newRows, vecCol, idCol, thrs)
    IndexStore.invalidateState(s"$path/packed")
    IndexStore.requireAppendSchema(spark, s"$path/packed", rows)
    rows.write.mode("append").parquet(s"$path/packed")
    spark.catalog.refreshByPath(s"$path/packed")
  }

  /** Hamming top-k over the packed table: two xor+popcounts per row over
    * 16 bytes — no raw vectors touched. */
  def searchBq(spark: SparkSession, path: String, idCol: String,
      queryVec: Seq[Double], k: Int): DataFrame = {
    val thrs = IndexStore.cachedState(s"$path/thresholds#bq") {
      spark.read.parquet(s"$path/thresholds").orderBy("pos")
        .collect().map(_.getDouble(1)).toSeq
    }
    val qw0 = BinaryQuant.packQueryWord(queryVec, thrs, 0)
    val qw1 = BinaryQuant.packQueryWord(queryVec, thrs, BinaryQuant.WordBits)
    IndexStore.table(spark, s"$path/packed")
      .selectExpr(idCol,
        s"cast(bit_count(w0 ^ ${qw0}L) + bit_count(w1 ^ ${qw1}L) as int) as hamming")
      .orderBy(col("hamming"), col(idCol))
      .limit(k)
  }

  // ---- PQ ----------------------------------------------------------------

  def buildPq(spark: SparkSession, emb: DataFrame, vecCol: String,
      idCol: String, cb: ProductQuant.Codebooks, path: String): Unit = {
    import spark.implicits._
    IndexStore.invalidateState(path)
    // codes are stored as SIGNED tinyint: k beyond 128 would silently
    // wrap negative and crash every later LUT lookup
    require(cb.k <= 128,
      s"PQ codebook k=${cb.k} exceeds the tinyint code range (max 128)")
    (for { mi <- 0 until cb.m; c <- 0 until cb.k }
      yield (mi, c, cb.cb(mi)(c)))
      .toDF("mi", "c", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    ProductQuant.encode(emb, vecCol, idCol, cb)
      .selectExpr(idCol,
        "transform(codes, pqc -> cast(pqc as tinyint)) as codes")
      .write.mode("overwrite").parquet(s"$path/codes")
  }

  def loadPqCodebooks(spark: SparkSession, path: String)
      : ProductQuant.Codebooks =
    IndexStore.cachedState(s"$path/codebooks#pq") {
      val rows = spark.read.parquet(s"$path/codebooks")
        .orderBy("mi", "c")
        .collect().map(r => (r.getInt(0), r.getSeq[Double](2)))
      val m = rows.map(_._1).max + 1
      val grouped = rows.groupBy(_._1)
      val cb = (0 until m).map(mi => grouped(mi).map(_._2).toSeq)
      ProductQuant.Codebooks(m, cb.head.length, cb.head.head.length, cb)
    }

  /** Incremental maintenance: encode the NEW rows against the STORED
    * codebooks and append (frozen quantizer, like [[appendBq]]). */
  def appendPq(spark: SparkSession, newRows: DataFrame, vecCol: String,
      idCol: String, path: String): Unit = {
    val rows = ProductQuant
      .encode(newRows, vecCol, idCol, loadPqCodebooks(spark, path))
      .selectExpr(idCol,
        "transform(codes, pqc -> cast(pqc as tinyint)) as codes")
    IndexStore.invalidateState(s"$path/codes")
    IndexStore.requireAppendSchema(spark, s"$path/codes", rows)
    rows.write.mode("append").parquet(s"$path/codes")
    spark.catalog.refreshByPath(s"$path/codes")
  }

  /** ADC top-k over the stored codes: m lookup-table adds per row over
    * m bytes — 64× fewer bytes than the raw vectors. */
  def searchPq(spark: SparkSession, path: String, idCol: String,
      queryVec: Seq[Double], k: Int): DataFrame =
    ProductQuant.searchAdcCodes(
      IndexStore.table(spark, s"$path/codes"), idCol,
      loadPqCodebooks(spark, path), queryVec, k)

  // ---- SQ ----------------------------------------------------------------

  def buildSq(spark: SparkSession, emb: DataFrame, vecCol: String,
      idCol: String, dim: Int, path: String): Unit = {
    import spark.implicits._
    IndexStore.invalidateState(path)
    // one training aggregation: collect the per-dim stats, write the
    // stats table from the collected rows, encode against literal arrays
    val st = ScalarQuant.trainStats(emb, vecCol)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    st.toSeq.toDF("pos", "mn", "mx")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
    val mns = st.map(_._2).toSeq
    val scales = st.map { case (_, mn, mx) => (mx - mn) / ScalarQuant.Levels }.toSeq
    encodeSqRows(emb, vecCol, idCol, dim, mns, scales)
      .write.mode("overwrite").parquet(s"$path/codes")
  }

  private def encodeSqRows(emb: DataFrame, vecCol: String, idCol: String,
      dim: Int, mns: Seq[Double], scales: Seq[Double]): DataFrame =
    emb
      .withColumn("mns", typedlit(mns))
      .withColumn("scales", typedlit(scales))
      .selectExpr(idCol,
        s"transform(${ScalarQuant.encodeExpr(vecCol, dim)}, " +
          "sqc -> cast(sqc as smallint)) as code")

  /** Incremental maintenance: encode the NEW rows against the STORED
    * per-dim stats and append (frozen quantizer, like [[appendBq]]). */
  def appendSq(spark: SparkSession, newRows: DataFrame, vecCol: String,
      idCol: String, dim: Int, path: String): Unit = {
    val st = IndexStore.cachedState(s"$path/stats#sq") {
      spark.read.parquet(s"$path/stats").orderBy("pos")
        .collect().map(r => (r.getDouble(1), r.getDouble(2)))
    }
    val mns = st.map(_._1).toSeq
    val scales = st.map { case (mn, mx) => (mx - mn) / ScalarQuant.Levels }.toSeq
    val rows = encodeSqRows(newRows, vecCol, idCol, dim, mns, scales)
    IndexStore.invalidateState(s"$path/codes")
    IndexStore.requireAppendSchema(spark, s"$path/codes", rows)
    rows.write.mode("append").parquet(s"$path/codes")
    spark.catalog.refreshByPath(s"$path/codes")
  }

  /** Approx-L2 top-k over the stored codes: decode (code·scale + mn) and
    * score against the raw query — identical arithmetic to the in-query
    * ScalarQuant.searchL2 (codes are the same integers), so the same
    * oracle applies. */
  def searchSqL2(spark: SparkSession, path: String, idCol: String,
      queryVec: Seq[Double], dim: Int, k: Int): DataFrame = {
    val st = IndexStore.cachedState(s"$path/stats#sq") {
      spark.read.parquet(s"$path/stats").orderBy("pos")
        .collect().map(r => (r.getDouble(1), r.getDouble(2)))
    }
    val mns = st.map(_._1).toSeq
    val scales = st.map { case (mn, mx) => (mx - mn) / ScalarQuant.Levels }.toSeq
    val qvLit = queryVec.mkString("array(", "D, ", "D)")
    IndexStore.table(spark, s"$path/codes")
      .withColumn("mns", typedlit(mns))
      .withColumn("scales", typedlit(scales))
      .selectExpr(idCol,
        s"""round(sqrt(aggregate(transform(sequence(1, $dim), qi ->
           |  pow(cast(element_at(code, qi) as double) * element_at(scales, qi)
           |      + element_at(mns, qi) - element_at($qvLit, qi), 2.0)),
           |  0D, (a, b) -> a + b)), 6) as score""".stripMargin)
      .orderBy(col("score"), col(idCol))
      .limit(k)
  }
}
