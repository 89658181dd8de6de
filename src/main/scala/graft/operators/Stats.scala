package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Grouped regression statistics as fused aggregates.
  *
  * [[groupedOls]] is per-key ordinary least squares — the "is this
  * metric trending" primitive (per-tenant revenue slope, per-sensor
  * drift, per-domain quality trajectory) — computed the way a 100 TB
  * engine must: ONE `groupBy` pass accumulating the five sufficient
  * statistics (n, Σx, Σy, Σx², Σxy) map-side, one shuffle of five
  * counters per group, and the slope/intercept derived from the
  * closed form afterwards. No per-group value collection, no MLlib
  * model loop, no second scan.
  *
  * Exactness contract: inputs are integral longs (callers fix the
  * units — cents, epoch days), sums and sums-of-products accumulate
  * in 128-bit integer pairs (single-long units would wrap silently at
  * 100 TB while the SQL oracle promotes to HUGEINT; decimal(38,0)
  * would allocate a BigDecimal per row), and the emitted
  * slope/intercept are fixed-point
  * integers via integral division — `a div b` truncates toward zero
  * in Spark exactly as `//` does on DuckDB's HUGEINT, and a
  * degenerate (zero-variance) group yields NULL in both (`nullif`
  * guards the ANSI-mode divide) — so results hash-match an
  * independent SQL replay bit-for-bit.
  */
object Stats {

  /** Per-group OLS fit of integral `yCol` on integral `xCol`.
    *
    * Emits per group: `n`, the slope and intercept of the
    * least-squares line in millionths (`slope_ppm` = slope · 10⁶
    * truncated toward zero, `icept_ppm` likewise), both NULL when
    * every x in the group is identical (den = 0 — there is no line).
    *
    * slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²)
    * intercept = (Σy − slope·Σx) / n, carried as the exact rational
    * (Σy·den − num·Σx) / (n·den) before the single fixed-point
    * division, so no intermediate float appears anywhere.
    */
  def groupedOls(df: DataFrame, keys: Seq[String], xCol: String,
      yCol: String): DataFrame = {
    require(keys.nonEmpty, "need at least one grouping key")
    val dec = "decimal(38,0)"
    // Integral-input contract (callers fix units — cents, epoch days,
    // both declared callers pass LONG columns): accumulate the five
    // sufficient statistics in 128-bit long-pair aggregates
    // ([[graft.expressions.Int128Sum]]/[[Int128SumProduct]], r17 —
    // the per-row decimal(38,0) x·x / x·y MULTIPLIES were the last
    // BigDecimal-per-row arithmetic in any hot path; same 2^127-class
    // headroom, same decimal(38,0) emit). The per-GROUP closed-form
    // math below stays decimal — one row per group, exact.
    val x = col(xCol).cast("long")
    val y = col(yCol).cast("long")
    df.groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).cast(dec).as("n"),
        graft.util.Exact.int128Sum(x).as("sx"),
        graft.util.Exact.int128Sum(y).as("sy"),
        graft.util.Exact.int128SumProduct(x, x).as("sxx"),
        graft.util.Exact.int128SumProduct(x, y).as("sxy"))
      .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
      .select(keys.map(col) ++ Seq(
        col("n").cast("long").as("n"),
        expr("(num * 1000000) div nullif(den, 0)").as("slope_ppm"),
        expr("((sy * den - num * sx) * 1000000) div nullif(n * den, 0)")
          .as("icept_ppm")): _*)
  }

  /** Winsorized (tail-clipped) aggregates per group — the robust-sum
    * outlier guard: values below the qLo / above the qHi percentile are
    * clamped to the bound before summing (vs dropping rows — count is
    * preserved, influence is bounded).
    *
    * Two-phase at-scale shape: the exact percentile bounds reduce to a
    * TINY per-group frame (one row per group) that joins back into the
    * stream — the full data crosses one group shuffle twice but is
    * never globally sorted. Bounds and clipped values are carried in
    * fixed-point `denom`-ths (denom=20 makes p05/p95 of integers
    * integer-exact: interpolation lands on multiples of 1/20), so the
    * whole output stays in integer space and hash-matches a SQL
    * replay. `valueCol` must be integral (callers fix units — cents).
    */
  def winsorized(df: DataFrame, keys: Seq[String], valueCol: String,
      qLo: Double = 0.05, qHi: Double = 0.95, denom: Int = 20): DataFrame = {
    require(qLo < qHi, s"qLo=$qLo must be < qHi=$qHi")
    val v20 = col(valueCol) * denom
    val bounds = df.groupBy(keys.map(col): _*).agg(
      round(percentile(col(valueCol), lit(qLo)) * denom).cast("long")
        .as("__lo"),
      round(percentile(col(valueCol), lit(qHi)) * denom).cast("long")
        .as("__hi"))
    df.join(bounds, keys)
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(when(v20 < col("__lo"), 1L).otherwise(0L)).as("n_lo"),
        sum(when(v20 > col("__hi"), 1L).otherwise(0L)).as("n_hi"),
        sum(least(greatest(v20, col("__lo")), col("__hi"))).as("wsum20"))
  }
}
