package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable distribution sketches.
  *
  * [[histogramQuantiles]] is the 100 TB quantile path: the exact
  * `percentile` aggregate needs every value of the column collected
  * per group (a full-width shuffle and an in-memory sort of 100 TB of
  * values); a fixed-width histogram reduces each partition map-side to
  * at most `nbins` counters — commutative, mergeable, one tiny
  * shuffle — and answers any quantile to ±width/2 from the cumulative
  * counts. The trade is explicit: you pick the bin width (= the error
  * bound), the engine never materializes the data again.
  *
  * Every step is integer-exact (bin ids, counts, fixed-point quantile
  * thresholds), so results hash-match an independent SQL replay
  * bit-for-bit — no floating accumulation anywhere.
  */
object Sketches {

  private val Million = 1000000L

  /** Per-bin counts of `floor(column/width)` — the sketch itself.
    * Two-stage aggregate: map-side partial counters, one shuffle of
    * ≤ nbins rows. */
  def histogram(df: DataFrame, column: String, width: Double): DataFrame =
    df.groupBy(floor(col(column) / width).cast("long").as("bin"))
      .agg(count(lit(1)).as("cnt"))

  /** Approximate quantiles from the histogram: for each requested
    * quantile q (given in micros, e.g. 500000 = median) return the
    * first bin whose cumulative count reaches q·total, and its lower
    * edge in cents. The comparison runs in exact integer space
    * (`cum·1e6 ≥ q_micros·total`), so the selected bin is
    * deterministic at any scale.
    *
    * The cumulative window is UNPARTITIONED by design: it runs over
    * the ≤ nbins histogram frame (thousands of rows at most), never
    * the data. */
  def histogramQuantiles(df: DataFrame, column: String, width: Double,
      qMicros: Seq[Long]): DataFrame = {
    require(qMicros.nonEmpty, "need at least one quantile")
    require(width > 0, s"width=$width")
    val bins = histogram(df, column, width)
    val cumW = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val allW = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = bins
      .withColumn("cum", sum(col("cnt")).over(cumW))
      .withColumn("total", sum(col("cnt")).over(allW))
    val centsPerBin = math.round(width * 100)
    cum.select(col("bin"), col("cum"), col("total"),
        explode(array(qMicros.map(lit): _*)).as("q_micros"))
      .filter(col("cum") * Million >= col("q_micros") * col("total"))
      .groupBy("q_micros")
      .agg(min(col("bin")).as("bin"))
      .select(col("q_micros"),
        col("bin"),
        (col("bin") * centsPerBin).as("approx_cents"))
      .orderBy("q_micros")
  }
}
