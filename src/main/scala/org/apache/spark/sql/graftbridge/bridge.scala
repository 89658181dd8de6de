package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Catalyst-Expression bridge.
  *
  * Spark 4 made `Column` expression-agnostic; the converters live in
  * `org.apache.spark.sql.classic.ExpressionUtils`, which is
  * `private[sql]`. This object sits inside the `org.apache.spark.sql`
  * package solely to re-export the two converters to the engine's
  * expression layer (the same placement trick every Spark extension
  * library uses for its custom expressions).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The session's resolved shuffle-partition count. The string conf
    * can be a non-integer spelling on some platforms (e.g. "auto"
    * with AQE) — `SQLConf.numShufflePartitions` is the integer API,
    * but `sessionState` is `private[sql]`, hence the re-export. */
  def numShufflePartitions(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession]
      .sessionState.conf.numShufflePartitions

  /** A DataFrame over a logical plan the engine built itself (the
    * spatial-join planner's rewrite). `Dataset.ofRows` is
    * `private[sql]`, hence the re-export. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
