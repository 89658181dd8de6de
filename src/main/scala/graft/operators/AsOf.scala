package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (backward) join — for each left row, the single right row with
  * the greatest right-time ≤ the left row's time, per key. The classic
  * event-enrichment join (attach the most recent dimension state /
  * model snapshot / price quote to each event); no reference
  * equivalent, engine breadth beyond stock Catalyst joins.
  *
  * Execution: union both sides shaped to (key, time, side, payload),
  * one hash shuffle on the key, then a running `last(ignoreNulls)`
  * window over (time, side) — right rows sort before left rows at
  * equal time, so the match is inclusive (right.time == left.time
  * qualifies), exactly DuckDB's `ASOF JOIN ... ON l.t >= r.t`
  * semantics. Linear per partition after the one shuffle — the same
  * cost shape as a grouped aggregation, no range self-join.
  *
  * Right rows must be unique per (key, time) — pre-aggregate ties
  * upstream, or the matched row among ties is unspecified.
  */
object AsOf {

  /** Left rows plus `__match` (struct of all right columns except the
    * key; null when no right row is at-or-before the left time). */
  def joinBackward(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String): DataFrame = {
    val lPayload = struct(left.columns.map(col): _*)
    val rCols = right.columns.filterNot(_ == rightKey)
    val rPayload = struct(rCols.map(col): _*)
    val lType = left.select(lPayload).schema.head.dataType
    val rType = right.select(rPayload).schema.head.dataType

    val lShaped = left.select(
      col(leftKey).as("__k"), col(leftTime).as("__t"), lit(1).as("__isl"),
      lPayload.as("__l"), lit(null).cast(rType).as("__r"))
    val rShaped = right.select(
      col(rightKey).as("__k"), col(rightTime).as("__t"), lit(0).as("__isl"),
      lit(null).cast(lType).as("__l"), rPayload.as("__r"))

    val w = Window.partitionBy("__k").orderBy("__t", "__isl")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lShaped.unionByName(rShaped)
      .withColumn("__match", last("__r", ignoreNulls = true).over(w))
      .filter(col("__isl") === 1)
      .select(col("__l.*"), col("__match"))
  }
}
