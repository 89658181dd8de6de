package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.util.Exact

/** Structured Streaming parity (SURVEY §2.9): the long-form schema's
  * tumbling-window aggregation replayed as a stream with a watermark
  * produces the same finalized windows as the batch plan — proof the
  * engine's aggregations are watermark-compatible (no collect-based ops
  * between scan and window agg). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("windowed stream agg with watermark matches batch on replay") {
    val ev = Tables(spark, "/root/testdata/sf0.001", "events")

    // split the event log into two time-ordered files so the stream
    // sees two micro-batches and the watermark actually advances
    val dir = Files.createTempDirectory("stream_events")
    val mid = ev.agg(expr("percentile_approx(cast(ts as long), 0.5)"))
      .head().getLong(0)
    ev.filter(unix_timestamp($"ts") <= mid).coalesce(1)
      .write.parquet(dir.resolve("b0").toString)
    ev.filter(unix_timestamp($"ts") > mid).coalesce(1)
      .write.parquet(dir.resolve("b1").toString)

    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString + "/*/")
      .withWatermark("ts", "1 day")
      .groupBy(window($"ts", "1 day").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), Exact.fixedSum($"value", 2).as("sum_value"))
      .select($"w.start".cast("date").as("day"), $"event_type", $"n", $"sum_value")

    val q = stream.writeStream.format("memory")
      .queryName("ev_daily").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("ev_daily")
      .as[(java.sql.Date, String, Long, Double)].collect().toSet
    val batch = ev
      .groupBy(window($"ts", "1 day").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), Exact.fixedSum($"value", 2).as("sum_value"))
      .select($"w.start".cast("date").as("day"), $"event_type", $"n", $"sum_value")
      .as[(java.sql.Date, String, Long, Double)].collect().toSet

    // append mode emits only watermark-finalized windows: a subset of
    // the batch result, bit-identical where emitted, covering most days
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batch),
      s"streamed rows not in batch: ${(streamed -- batch).take(3)}")
    assert(streamed.size >= batch.size - 10,
      s"too few finalized windows: ${streamed.size} of ${batch.size}")
  }

  test("append-mode streaming sessions equal batch sessionization exactly") {
    // The full declared queries: stream_sessions (append mode, sentinel
    // watermark flush, state evicted per session) must reproduce
    // w_sessions row-for-row — the stream/batch parity contract the
    // shared oracle checks.
    val dir = "/root/testdata/sf0.001"
    val streamed = SparkEntry.queries("stream_sessions")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val batch = SparkEntry.queries("w_sessions")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"stream/batch divergence: ${streamed.take(2)} vs ${batch.take(2)}")
  }
}
