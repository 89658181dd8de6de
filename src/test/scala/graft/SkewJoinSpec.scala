package graft

import org.apache.spark.sql.functions._

/** The 100 TB skew story, demonstrated: the engine's spatial/LSH bucket
  * joins are plain equi-joins precisely so AQE's skew-join handling can
  * split hot keys at runtime. This spec builds a join with one key
  * holding 90% of the rows and asserts AQE actually marks and splits
  * the skewed partition (`skew=true` in the final adaptive plan). */
class SkewJoinSpec extends SparkSpec {

  test("AQE splits the hot-key partition of a skewed equi-join") {
    val c = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.shuffle.partitions")
    val saved = keys.map(k => k -> c.getOption(k)).toMap
    try {
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100KB")
      c.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "50KB")
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      c.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      c.set("spark.sql.shuffle.partitions", "20")
      // 90% of left rows share bucket key 0 — the shape of a degenerate
      // spatial/LSH bucket (all geometries in one grid cell)
      val left = spark.range(200000).select(
        when(col("id") % 10 < 9, 0L).otherwise(col("id")).as("k"),
        col("id").as("v"))
      val right = spark.range(5000).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = left.join(right, "k").select(sum(col("v") + col("w")).as("s"))
      val n = joined.collect() // finalize the adaptive plan
      assert(n.nonEmpty)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => c.set(k, v)
      case (k, None) => c.unset(k)
    }
  }

  test("saltedAgg combines min/max/sum/count partials correctly") {
    import spark.implicits._
    import org.apache.spark.sql.Column
    val df = Seq(("a", 5L), ("a", 1L), ("a", 9L), ("b", 3L), ("b", 7L))
      .toDF("k", "v")
    val got = graft.operators.Skew.saltedAgg(df, Seq("k"), 4)(
      ("s", sum(col("v")), (c: Column) => sum(c)),
      ("n", count(lit(1)), (c: Column) => sum(c)),
      ("mn", min(col("v")), (c: Column) => min(c)),
      ("mx", max(col("v")), (c: Column) => max(c)))
      .as[(String, Long, Long, Long, Long)].collect()
      .map { case (k, s, n, mn, mx) => k -> ((s, n, mn, mx)) }.toMap
    assert(got("a") == ((15L, 3L, 1L, 9L)))
    assert(got("b") == ((10L, 2L, 3L, 7L)))
  }
}
