package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Symmetric int8 quantization of embedding columns — the standard
  * index-shrink step before ANN at corpus scale (4x smaller vectors, SIMD
  * int8 dot products): per-vector scale = 127 / max|v|, elements mapped by
  * truncation toward zero so every code lies in [-127, 127].
  *
  * All arithmetic is elementwise IEEE double (cast-up from float) — no
  * cross-row accumulation — so the codes are bit-reproducible across
  * engines; graft's oracle replays the same trunc(v * 127 / max|v|) in
  * DuckDB. Zero vectors quantize to all-zero codes (scale guard).
  *
  * Implementation note: max|v| is projected ONCE per row before any
  * lambda uses it. HOF lambda bodies are evaluated per element with no
  * loop-invariant hoisting, so embedding `array_max` inside the
  * transform would rescan the vector for every element — O(d²) per row.
  * The staged projection keeps each pass O(d) (and Catalyst's
  * CollapseProject will not inline a non-cheap multi-referenced
  * expression back into the lambdas).
  *
  * This is a narrow map stage: no shuffle, composes with any layout or
  * partitioning upstream.
  */
object Quantize {

  /** max|v| over the (non-empty) vector — order-free, exact. */
  def maxAbs(emb: Column): Column =
    array_max(transform(emb, v => abs(v.cast("double"))))

  /** int8 codes given a PRE-COMPUTED max|v| column (see scaladoc note):
    * trunc-toward-zero of v * (127 / ma); all-zero when ma = 0. */
  def int8CodesWith(emb: Column, ma: Column): Column = {
    val scale = lit(127.0) / ma
    when(ma > 0.0,
      transform(emb, v => (v.cast("double") * scale).cast("int")))
      .otherwise(transform(emb, v => lit(0)))
  }

  /** Stage `__ma` (max|v|) and `codes` columns onto `df` — the O(d)
    * quantization pipeline step. */
  def withCodes(df: DataFrame, embCol: String): DataFrame =
    df.withColumn("__ma", maxAbs(col(embCol)))
      .withColumn("codes", int8CodesWith(col(embCol), col("__ma")))

  /** Attach quantization columns: `codes` (ARRAY<INT> in [-127,127]),
    * `code_sum` (integer checksum), `max_recon_err` (max|v - q/scale|,
    * elementwise double + order-free max → cross-engine exact). */
  def quantized(df: DataFrame, embCol: String): DataFrame = {
    val invScale = col("__ma") / lit(127.0)
    withCodes(df, embCol)
      .withColumn("code_sum",
        aggregate(col("codes"), lit(0L), (acc, q) => acc + q.cast("long")))
      .withColumn("max_recon_err",
        when(col("__ma") > 0.0,
          array_max(zip_with(col(embCol), col("codes"),
            (v, q) => abs(v.cast("double") - q.cast("double") * invScale))))
          .otherwise(lit(0.0)))
      .drop("__ma")
  }
}
