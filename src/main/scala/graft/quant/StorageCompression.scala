package graft.quant

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Storage compression transforms — the reference's `compress_vectors` /
  * `decompress_vectors` (jcolano/fastpyvectordb
  * `binary_persistence.py:333-385`):
  *
  *   fp16: IEEE binary16, 2× compression — real bit-level conversion
  *         (round-to-nearest-even) via the codegen'd expressions in
  *         [[graft.expr.Fp16Codec]]; stored as array<smallint>.
  *   int8: global-min/max affine code, 4× compression — the reference
  *         truncates ((v − min)/scale).astype(uint8), so encode uses
  *         floor, not round. Pure column arithmetic with an exact DuckDB
  *         twin.
  *
  * Both are write-path transforms: encode once at save, decode at load —
  * at scale the 2–4× smaller parquet is what a 100 TB corpus stores, and
  * the decode is a scan-side map with no shuffle.
  */
object StorageCompression {

  // ---- fp16 --------------------------------------------------------------

  def fp16Encode(vec: Column): Column =
    org.apache.spark.sql.graft.bridge.column(
      graft.expr.Fp16Encode(org.apache.spark.sql.graft.bridge.expression(vec)))

  def fp16Decode(codes: Column): Column =
    org.apache.spark.sql.graft.bridge.column(
      graft.expr.Fp16Decode(org.apache.spark.sql.graft.bridge.expression(codes)))

  // ---- int8 --------------------------------------------------------------

  /** Single-row global stats (mn, scale) over every element of `vecCol` —
    * the reference uses corpus-global min/max, not per-dimension
    * (`binary_persistence.py:355-358`). */
  def int8Stats(emb: DataFrame, vecCol: String): DataFrame =
    emb.agg(
      min(expr(s"array_min($vecCol)")).cast("double").as("mn"),
      ((max(expr(s"array_max($vecCol)")).cast("double") -
        min(expr(s"array_min($vecCol)")).cast("double")) / 255.0).as("scale"))

  /** Encode given mn/scale columns in scope (floor = uint8 truncation). */
  def int8EncodeExpr(vecCol: String): String =
    s"transform($vecCol, x -> cast(floor((cast(x as double) - mn) / scale) as int))"

  /** Decode given mn/scale columns in scope. */
  def int8DecodeExpr(codeCol: String): String =
    s"transform($codeCol, c -> c * scale + mn)"

  /** Round-trip summary for the catalog oracle: corpus size, bytes and
    * ratios per method, and the int8 reconstruction stats (max abs error
    * must stay below one quantization step). fp16 bytes are exact
    * (2/element); its reconstruction error is pinned by the tolerance
    * spec instead (no half floats in SQL). */
  def summary(emb: DataFrame, vecCol: String, idCol: String, dim: Int)
      : DataFrame = {
    val errElem =
      s"abs(floor((cast(x as double) - mn) / scale) * scale + mn - cast(x as double))"
    emb
      .crossJoin(broadcast(int8Stats(emb, vecCol)))
      .select(expr(s"array_max(transform($vecCol, x -> $errElem))").as("err"),
        col("mn"), col("scale"))
      .agg(count(lit(1)).as("n"), max("err").as("max_err"),
        first("mn").as("mn"), first("scale").as("scale"))
      .selectExpr(
        "n",
        s"n * $dim * 4 as raw_bytes",
        s"n * $dim * 2 as fp16_bytes",
        "cast(2.0 as double) as fp16_ratio",
        s"n * $dim + 8 as int8_bytes",
        s"cast(n * $dim * 4 as double) / (n * $dim + 8) as int8_ratio",
        "round(mn, 6) as int8_mn",
        "round(scale, 6) as int8_scale",
        "round(max_err, 6) as int8_max_err",
        "max_err <= scale as int8_err_bounded")
  }

  def summarySql(relation: String, vecCol: String, dim: Int): String =
    s"""WITH st AS (
       |  SELECT min(list_min($vecCol))::DOUBLE AS mn,
       |         (max(list_max($vecCol))::DOUBLE - min(list_min($vecCol))::DOUBLE) / 255.0 AS scale
       |  FROM $relation),
       |errs AS (
       |  SELECT list_max(list_transform($vecCol, x ->
       |           abs(floor((x::DOUBLE - mn) / scale) * scale + mn - x::DOUBLE))) AS err,
       |         mn, scale
       |  FROM $relation, st),
       |agg AS (
       |  SELECT count(*) AS n, max(err) AS max_err,
       |         first(mn) AS mn, first(scale) AS scale FROM errs)
       |SELECT n,
       |  n * $dim * 4 AS raw_bytes,
       |  n * $dim * 2 AS fp16_bytes,
       |  2.0::DOUBLE AS fp16_ratio,
       |  n * $dim + 8 AS int8_bytes,
       |  (n * $dim * 4)::DOUBLE / (n * $dim + 8) AS int8_ratio,
       |  round(mn, 6) AS int8_mn,
       |  round(scale, 6) AS int8_scale,
       |  round(max_err, 6) AS int8_max_err,
       |  max_err <= scale AS int8_err_bounded
       |FROM agg""".stripMargin
}
