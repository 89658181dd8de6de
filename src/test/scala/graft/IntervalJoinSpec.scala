package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.functions._

import graft.operators.IntervalJoin

/** Bucketized interval-join specs: containment boundaries, intervals
  * spanning many buckets, pair uniqueness, the degenerate-interval
  * guard, and equivalence to the naive range join on the fixture.
  */
class IntervalJoinSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String) = to_timestamp(lit(s))

  test("containment is start-inclusive, end-exclusive, across buckets") {
    val points = Seq(
      (1L, 10L, "2024-01-01 00:00:00"), // == start: included
      (2L, 10L, "2024-01-01 02:59:59"), // inside, 3 buckets later
      (3L, 10L, "2024-01-01 03:00:00"), // == end: excluded
      (4L, 20L, "2024-01-01 01:00:00")  // other key: no window
    ).toDF("event_id", "k", "t")
      .select(col("event_id"), col("k"), col("t").cast("timestamp").as("t"))
    val intervals = Seq((10L, "2024-01-01 00:00:00", "2024-01-01 03:00:00"))
      .toDF("k", "s", "e")
      .select(col("k"), col("s").cast("timestamp").as("s"),
        col("e").cast("timestamp").as("e"))
    val got = IntervalJoin.pointsInIntervals(points, "t", intervals,
        "s", "e", Seq("k"), bucketSeconds = 3600)
      .select("event_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 2L))
  }

  test("each (point, interval) pair arises exactly once") {
    // a 10-bucket interval must not duplicate the points it covers
    val points = Seq((1L, 1L, "2024-01-01 05:30:00"))
      .toDF("event_id", "k", "t")
      .select(col("event_id"), col("k"), col("t").cast("timestamp").as("t"))
    val intervals = Seq((1L, "2024-01-01 00:00:00", "2024-01-01 10:00:00"))
      .toDF("k", "s", "e")
      .select(col("k"), col("s").cast("timestamp").as("s"),
        col("e").cast("timestamp").as("e"))
    assert(IntervalJoin.pointsInIntervals(points, "t", intervals,
      "s", "e", Seq("k"), bucketSeconds = 3600).count() == 1)
  }

  test("degenerate interval fails loudly instead of exploding") {
    val points = Seq((1L, 1L, "2024-01-01 00:00:00"))
      .toDF("event_id", "k", "t")
      .select(col("event_id"), col("k"), col("t").cast("timestamp").as("t"))
    val intervals = Seq((1L, "2024-01-01 00:00:00", "2034-01-01 00:00:00"))
      .toDF("k", "s", "e")
      .select(col("k"), col("s").cast("timestamp").as("s"),
        col("e").cast("timestamp").as("e"))
    val ex = intercept[Exception] {
      IntervalJoin.pointsInIntervals(points, "t", intervals,
        "s", "e", Seq("k"), bucketSeconds = 3600,
        maxBucketsPerInterval = 1000).count()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(ex).exists(m => m != null && m.contains("buckets")), ex)
  }

  test("matches the naive range join on the events fixture") {
    val ev = Tables(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val windows = ev.filter(col("value") > 180)
      .select(col("user_id").as("wk"), col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 2 HOURS")).as("w_end"))
    val naive = ev.join(windows,
        col("user_id") === col("wk") &&
          col("w_start") <= col("ts") && col("ts") < col("w_end"))
      .groupBy("event_id").count()
    val bucketed = IntervalJoin.pointsInIntervals(
        ev.select(col("event_id"), col("user_id"), col("ts")), "ts",
        windows.withColumnRenamed("wk", "user_id"),
        "w_start", "w_end", Seq("user_id"), bucketSeconds = 3600)
      .groupBy("event_id").count()
    assert(naive.exceptAll(bucketed).isEmpty && bucketed.exceptAll(naive).isEmpty)
  }
}
