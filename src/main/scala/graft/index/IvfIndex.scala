package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.knn.Ann

/** Persistent IVF index: the cell-partitioned corpus layout of
  * [[Ann.writePartitioned]] plus the centroid codebook stored alongside,
  * so a searcher loads the model with the index (the reference persists
  * quantizer state with the collection — `binary_persistence.py:333-385`,
  * index save/load `vectordb_optimized.py`).
  *
  * Layout:
  *   centroids/ (cell, centroid)       — the codebook, cells rows
  *   cells/     …/cell=N/…parquet      — corpus partitioned by cell
  *
  * A probe reads nprobe/cells of the files (PartitionFilters — pinned in
  * AnnSpec); cell assignment ran once at build. This is the durable
  * batch-built ANN shape for a corpus too large to scan per query.
  */
object IvfIndex {
  def build(spark: SparkSession, emb: DataFrame, vecCol: String,
      idCol: String, m: Ann.IvfModel, path: String,
      metaCols: Seq[String] = Nil, stringIds: Boolean = false): Unit = {
    import spark.implicits._
    IndexStore.invalidateState(path)
    m.centroids.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    Ann.writePartitioned(emb, vecCol, idCol, m, s"$path/cells",
      metaCols = metaCols, stringIds = stringIds)
  }

  /** Incremental maintenance: assign cells for the NEW rows only against
    * the stored codebook and append them to their cell partitions —
    * existing rows and centroids are untouched. Caller guarantees new
    * ids; wrap in IndexStore.mutate/advance so a crash mid-append reads
    * as not-ready and rebuilds. */
  def append(spark: SparkSession, newRows: DataFrame, vecCol: String,
      idCol: String, path: String, metaCols: Seq[String] = Nil,
      stringIds: Boolean = false): Unit = {
    Ann.writePartitioned(newRows, vecCol, idCol, loadModel(spark, path),
      s"$path/cells", mode = "append", metaCols = metaCols,
      stringIds = stringIds)
    spark.catalog.refreshByPath(s"$path/cells")
  }

  def loadModel(spark: SparkSession, path: String): Ann.IvfModel =
    IndexStore.cachedState(s"$path/centroids#ivf") {
      Ann.IvfModel(
        spark.read.parquet(s"$path/centroids").orderBy("cell")
          .collect().map(_.getSeq[Double](1)).toSeq)
    }

  def search(spark: SparkSession, path: String, vecCol: String,
      idCol: String, queryVec: Seq[Double], nprobe: Int, k: Int,
      filter: Option[org.apache.spark.sql.Column] = None,
      metric: String = "cosine"): DataFrame =
    Ann.searchPartitioned(spark, s"$path/cells", vecCol, idCol,
      loadModel(spark, path), queryVec, nprobe, k, filter, metric)

  def searchBatch(spark: SparkSession, path: String, vecCol: String,
      idCol: String, queries: Seq[(Long, Seq[Double])], nprobe: Int,
      k: Int, metric: String = "cosine"): DataFrame =
    Ann.searchBatchPartitioned(spark, s"$path/cells", vecCol, idCol,
      loadModel(spark, path), queries, nprobe, k, metric)

  /** Batch probe for a DISTRIBUTED (qid, qvec) relation — the form that
    * survives a million-query batch, where collecting the queries to the
    * driver (searchBatch's Seq) is not an option. Probe-cell selection
    * runs as a plan: queries × broadcast(centroids) → per-query nprobe
    * window; the (qid, cell) pairs (localCheckpointed — computed once,
    * reused for the pruning set and the membership join) then join the
    * cell-partitioned corpus. File pruning is a LITERAL partition filter
    * built from the distinct probed cells — that collect is bounded by
    * the CODEBOOK size (≤ cells rows), never by the query count, so it
    * stays a tiny driver round-trip at any batch size. The squared-l2
    * probe arithmetic matches the stored-codebook oracle (left-to-right
    * fold from 0.0 ≡ DuckDB's list_reduce over squares).
    * Returns (qid, id, score). */
  def searchBatchDf(spark: SparkSession, path: String, vecCol: String,
      idCol: String, queries: DataFrame, nprobe: Int, k: Int,
      metric: String = "cosine"): DataFrame = {
    val cent = IndexStore.table(spark, s"$path/centroids")
    val d2 = expr("aggregate(zip_with(qvec, centroid, " +
      "(x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)")
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("d2"), col("cell"))
    val pairs = queries.crossJoin(broadcast(cent))
      .withColumn("d2", d2)
      .withColumn("rnk", row_number().over(wProbe))
      .filter(col("rnk") <= nprobe)
      .select("qid", "cell")
      .localCheckpoint()
    val probedCells = pairs.select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("score"), col(idCol))
    IndexStore.table(spark, s"$path/cells")
      .filter(col("cell").isin(probedCells: _*))
      .join(broadcast(pairs), Seq("cell"))
      .join(broadcast(queries), Seq("qid"))
      .withColumn("score",
        round(graft.knn.Knn.distance(metric, col(vecCol), col("qvec")), 6))
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= k)
      .select(col("qid"), col(idCol), col("score"))
      .orderBy(col("qid"), col("score"), col(idCol))
  }
}
