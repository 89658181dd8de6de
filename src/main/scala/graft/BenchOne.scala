package graft

import org.apache.spark.sql.SparkSession

/** Time a single declared query: `runMain graft.BenchOne <name> [sfDir]
  * [trials]` — the per-query iteration tool behind Bench's medians
  * (same noop-sink, clean-cache discipline). Three untimed warm-up
  * trials run first: at sf0.1 on 4 cores a query's first trial took
  * 5-7x its steady time and its second ~1.5x, so a median over the
  * first trials times JVM warm-up. The median is over the `trials`
  * (default 5) timed ones after them.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val trials = if (args.length > 2) args(2).toInt else 5
    val warmups = 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    println(s"[benchone] $name: $warmups untimed warm-up trials, then $trials timed")
    val times = (0 until warmups + trials).map { i =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      val label = if (i < warmups) s"warm-up $i" else s"trial ${i - warmups}"
      println(f"[benchone] $name $label: $s%.3f s")
      s
    }.drop(warmups).sorted
    println(f"[benchone] $name median of $trials timed trials: " +
      f"${times(times.length / 2)}%.3f s")
    spark.stop()
  }
}
