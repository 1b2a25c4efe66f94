package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.knn.{Ann, Knn}

/** Persistent ip-metric (MIPS) ANN layout via the L2 augmentation
  * (Bachrach et al., RecSys 2014 — see [[Ann.mipsIvfSearch]] for the
  * identity): vectors are assigned to fixed (dim+1)-dim IVF cells in the
  * AUGMENTED space at build time, stored with their ORIGINAL vector; a
  * probe prunes cell partitions and reranks by the true dot product.
  *
  * Layout under an [[IndexStore]] path:
  *   meta/  (m2, dim, cells)  — the augmentation constant and geometry
  *   cells/ cell=N/(id, vector, meta…)
  *
  * The max-norm constant M² is FROZEN at first build and appends reuse
  * it: recomputing a (possibly larger) max on append would silently
  * re-geometrize the cells existing rows were assigned under. A vector
  * with ‖x‖² > M² still lands in its nearest cell (aug clamps to 0) —
  * recall for such outliers degrades gracefully, correctness of the
  * rerank never does.
  */
object MipsIndex {
  def build(spark: SparkSession, emb: DataFrame, vecCol: String,
      idCol: String, cells: Int, path: String,
      metaCols: Seq[String] = Nil, stringIds: Boolean = false): Unit = {
    import spark.implicits._
    IndexStore.invalidateState(path)
    val m2Row = emb.agg(max(VectorFunctions.vecDot(col(vecCol), col(vecCol))))
      .head
    require(!m2Row.isNullAt(0),
      s"MipsIndex.build: no rows with a non-null '$vecCol' — " +
        "cannot derive the augmentation constant from an empty corpus")
    val m2 = m2Row.getDouble(0)
    val dim = emb.select(size(col(vecCol))).head.getInt(0)
    Seq((m2, dim, cells)).toDF("m2", "dim", "cells")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    writeCells(spark, emb, vecCol, idCol, m2, dim, cells, path,
      mode = "overwrite", metaCols = metaCols, stringIds = stringIds)
  }

  private def writeCells(spark: SparkSession, emb: DataFrame, vecCol: String,
      idCol: String, m2: Double, dim: Int, cells: Int, path: String,
      mode: String, metaCols: Seq[String], stringIds: Boolean): Unit = {
    if (!stringIds) graft.core.Ids.requireIntegral(emb, idCol)
    val idKey =
      if (stringIds) col(idCol).cast("string") else col(idCol).cast("long")
    // NearestCellExpr(augM2) is THE assignment kernel — the same
    // norm → clamp-sqrt aug → argmin arithmetic as Ann.augmentedCellOf
    // (the in-query mipsIvfSearch path), codegen'd, so build-time cells
    // and search-time cells can never drift
    val cents = Ann.fixedIvfModel(cells, dim + 1).centroids
    val rows = emb.select(
      Seq(idKey.as(idCol), col(vecCol).cast("array<double>").as(vecCol)) ++
        metaCols.map(col) :+
        VectorFunctions.nearestCell(col(vecCol).cast("array<double>"),
          cents, augM2 = Some(m2)).as("cell"): _*)
    IndexStore.invalidateState(s"$path/cells")
    if (mode == "append")
      IndexStore.requireAppendSchema(spark, s"$path/cells", rows)
    rows.write.mode(mode).partitionBy("cell").parquet(s"$path/cells")
  }

  private def loadMeta(spark: SparkSession, path: String): (Double, Int, Int) =
    IndexStore.cachedState(s"$path/meta#mips") {
      val r = spark.read.parquet(s"$path/meta").head
      (r.getDouble(0), r.getInt(1), r.getInt(2))
    }

  /** Incremental maintenance against the FROZEN augmentation constant
    * and geometry; wrap in IndexStore.mutate/advance. */
  def append(spark: SparkSession, newRows: DataFrame, vecCol: String,
      idCol: String, path: String, metaCols: Seq[String] = Nil,
      stringIds: Boolean = false): Unit = {
    val (m2, dim, cells) = loadMeta(spark, path)
    writeCells(spark, newRows, vecCol, idCol, m2, dim, cells, path,
      mode = "append", metaCols = metaCols, stringIds = stringIds)
    spark.catalog.refreshByPath(s"$path/cells")
  }

  /** Batch probe for a DISTRIBUTED (qid, qvec) relation — the form that
    * survives a million-query batch (mirrors IvfIndex.searchBatchDf).
    * Probe-cell selection runs as a plan: queries × broadcast(augmented
    * centroids) with the augmented distance (query aug component is 0,
    * so it is sqL2 over the base dims plus the centroid's aug² term);
    * the file-pruning filter collect is bounded by the CODEBOOK size,
    * never the query count. Returns (qid, id, score = −dot rounded). */
  def searchBatchDf(spark: SparkSession, path: String, vecCol: String,
      idCol: String, queries: DataFrame, nprobe: Int, k: Int): DataFrame = {
    import spark.implicits._
    val (_, dim, cells) = loadMeta(spark, path)
    // zip_with/slice would SILENTLY truncate a wrong-dimension qvec into
    // wrong probe cells and wrong scores — fail the job instead (the
    // single-query path rejects the same mistake driver-side)
    val checked = queries.withColumn("qvec",
      when(size(col("qvec")) === dim, col("qvec"))
        .otherwise(raise_error(concat(
          lit(s"query dim != index dim $dim, got "), size(col("qvec"))))))
    val cents = Ann.fixedIvfModel(cells, dim + 1).centroids.zipWithIndex
      .map { case (c, i) => (i, c) }.toDF("cell", "centroid")
    val d2 = expr(s"aggregate(zip_with(qvec, slice(centroid, 1, $dim), " +
      "(x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v) + " +
      s"element_at(centroid, ${dim + 1}) * element_at(centroid, ${dim + 1})")
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("d2"), col("cell"))
    val pairs = checked.crossJoin(broadcast(cents))
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
      .join(broadcast(checked), Seq("qid"))
      .withColumn("score",
        round(Knn.distance("ip", col(vecCol), col("qvec")), 6))
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= k)
      .select(col("qid"), col(idCol), col("score"))
      .orderBy(col("qid"), col("score"), col(idCol))
  }

  /** Probe nprobe augmented cells (q_aug = [q, 0]), rerank the surviving
    * candidates by the true ip distance (−dot, `round(…, 6)` like the
    * other partitioned readers); optional metadata filter pushes into
    * the pruned cell scan BEFORE the rerank. */
  def search(spark: SparkSession, path: String, vecCol: String,
      idCol: String, queryVec: Seq[Double], nprobe: Int, k: Int,
      filter: Option[Column] = None): DataFrame = {
    val (_, dim, cells) = loadMeta(spark, path)
    require(queryVec.length == dim,
      s"query dim ${queryVec.length} != index dim $dim")
    val probe = Ann.probeCells(
      Ann.fixedIvfModel(cells, dim + 1), queryVec :+ 0.0, nprobe)
    val base = IndexStore.table(spark, s"$path/cells")
      .filter(col("cell").isin(probe: _*))
    filter.map(base.filter).getOrElse(base)
      .withColumn("score",
        round(Knn.distance("ip", col(vecCol), typedlit(queryVec)), 6))
      .select(idCol, "score")
      .orderBy(col("score"), col(idCol))
      .limit(k)
  }
}
