package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Interval (range-containment) join — match point-timestamped rows to
  * the keyed time intervals that contain them. The sibling of
  * [[AsOf]]: campaign/session/maintenance-window attribution, the
  * "which windows cover this event" join. No reference equivalent;
  * engine breadth beyond stock Catalyst joins.
  *
  * Stock Spark plans `l.key = r.key AND r.start <= l.ts AND l.ts <
  * r.end` as a hash join on `key` with the range conjuncts as a
  * post-join filter — fine until one key carries millions of rows per
  * side (every campaign window × every event of that user in one
  * task). Here both sides are mapped onto fixed-width TIME BUCKETS:
  * each point lands in exactly one bucket, each interval explodes to
  * the buckets it overlaps, and the join is a plain equi-join on
  * (key, bucket) + the exact containment refine. Join-key cardinality
  * multiplies by the time dimension, so per-task fan-in stays bounded
  * no matter how hot a key is — the same explode-bucket-refine shape
  * as [[SpatialJoin]], in one dimension.
  *
  * No pair dedup is needed: a point joins through its single bucket
  * only, so each (point, interval) pair arises at most once.
  *
  * Pick `bucketSeconds` near the typical interval length: shorter
  * buckets replicate intervals further; longer buckets widen the
  * refine. `maxBucketsPerInterval` fails loudly on a degenerate
  * interval (e.g. an open-ended end date) instead of silently
  * exploding one row into millions.
  */
object IntervalJoin {

  /** Inner join: every (point, covering-interval) pair, with all
    * columns from both frames (interval key columns dropped — they
    * equal the point's). Containment is `start <= ts < end`. */
  def pointsInIntervals(points: DataFrame, tsCol: String,
      intervals: DataFrame, startCol: String, endCol: String,
      keys: Seq[String], bucketSeconds: Long,
      maxBucketsPerInterval: Int = 10000): DataFrame = {
    require(bucketSeconds > 0, s"bucketSeconds=$bucketSeconds")
    val w = bucketSeconds * 1000000L
    val pb = points.withColumn("__bucket",
      expr(s"unix_micros($tsCol) div ${w}L"))
    val sb = expr(s"unix_micros($startCol) div ${w}L")
    val eb = expr(s"unix_micros($endCol) div ${w}L")
    // assert_true is NULL on success — adding its long cast to the end
    // bucket keeps the guard inside the same codegen'd projection. A
    // NULL or inverted (end < start) interval makes the conjunction
    // non-true, so those fail loudly too instead of silently dropping
    // (NULL) or exploding a descending bucket sequence (inverted).
    val guarded = eb + coalesce(
      assert_true(sb <= eb && eb - sb < maxBucketsPerInterval,
        lit(s"interval is NULL, inverted (end < start), or spans more " +
          s"than $maxBucketsPerInterval buckets of ${bucketSeconds}s — " +
          "fix the interval or raise bucketSeconds")).cast("long"),
      lit(0L))
    val ib = intervals.withColumn("__bucket", explode(sequence(sb, guarded)))
    pb.join(ib, keys :+ "__bucket")
      .filter(col(startCol) <= col(tsCol) && col(tsCol) < col(endCol))
      .drop("__bucket")
  }
}
