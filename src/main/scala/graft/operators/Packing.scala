package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing: lay documents out into fixed-token-budget shards
  * (the "pack the corpus into 2048-token training sequences" step of an
  * LLM data pipeline). Every document gets its global token OFFSET in
  * the id-ordered corpus and the shard that offset falls in —
  * deterministic, independent of partitioning and row order.
  *
  * The global prefix sum is computed scalably (the classic two-level
  * scan), NOT with one global window: per-bucket token totals (one
  * map-side-combined aggregation over id div bucketSize), a cumulative
  * offset over the TINY bucket-totals frame (the only ordered window,
  * B ≈ corpus/bucketSize rows on one partition), broadcast back, plus
  * an intra-bucket running sum windowed per bucket. No stage ever
  * sorts more than bucketSize rows in one task.
  */
object Packing {

  def packByBudget(df: DataFrame, idCol: String, tokensCol: String,
      budget: Long, bucketSize: Long = 1L << 16): DataFrame = {
    require(budget > 0 && bucketSize > 0)
    val rows = df.select(col(idCol).cast("long").as("id"),
      col(tokensCol).cast("long").as("n_tokens"))
      .withColumn("bk", expr(s"id div ${bucketSize}L"))
    val bucketTotals = rows.groupBy("bk")
      .agg(sum("n_tokens").as("btot"))
    // Bound of the one single-partition window: it orders one row per
    // non-empty bucket, B ≤ min(docs, id span / bucketSize). With dense
    // ids and the default bucketSize of 65,536 that is 15,259 rows at
    // 1e9 documents and 15,258,790 rows (two longs each, ~244 MB of
    // values) at 1e12. Past ~1e11 documents this window wants a second
    // level of buckets.
    val bucketOffsets = bucketTotals
      .withColumn("boff",
        coalesce(sum("btot").over(
          Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("bk", "boff")
    val local = Window.partitionBy("bk").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, -1)
    rows.join(broadcast(bucketOffsets), "bk")
      .withColumn("offset",
        col("boff") + coalesce(sum("n_tokens").over(local), lit(0L)))
      .select(col("id"), col("n_tokens"), col("offset"),
        expr(s"offset div ${budget}L").as("shard"))
  }
}
