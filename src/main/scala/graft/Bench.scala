package graft
import org.apache.spark.sql.SparkSession

object Bench {

  /** System load average (1-min), -1.0 where unsupported. Recorded in
    * the bench JSON so a contended run is distinguishable from a
    * regression without re-running on an idle box (VERDICT r7: the
    * driver-side snapshot showed 40-75x phantom slowdowns that an idle
    * re-run erased). */
  private def loadAvg(): Double =
    java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

  /** Cumulative steal ticks from /proc/stat's aggregate cpu line
    * (field 8 after the label), -1 where unsupported. On a shared VM
    * steal is the one counter that directly measures neighbor theft —
    * r12's ScaleBench stages moved 2-3x between identical-code runs
    * and only the steal delta distinguished that from a regression.
    * Recorded at start and end so the delta over the run is in the
    * artifact of record. */
  private def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        // cpu user nice system idle iowait irq softirq steal guest ...
        val cpu = src.getLines().find(_.startsWith("cpu ")).get
        cpu.trim.split("\\s+")(8).toLong
      } finally src.close()
    } catch { case _: Throwable => -1L }

  /** Single-thread memory-bandwidth probe: best-of-3 xor-reduction
    * over a 256 MB long array, in GB/s. Steal ticks measure CPU theft
    * but NOT neighbor pressure on the shared memory subsystem — and
    * the r13 drift cluster (dedup/graph/ann, all shuffle- and
    * memory-bound, including two queries with zero code delta since
    * r11) moved together on a steal-calm box, which only a bandwidth
    * baseline can confirm or refute across sessions. Deterministic,
    * ~0.5 s, recorded in the bench JSON. */
  private[graft] def membwGbps(): Double = {
    val n = 32 * 1024 * 1024 // longs → 256 MB
    val a = new Array[Long](n)
    var i = 0
    while (i < n) { a(i) = i * 0x9e3779b97f4a7c15L; i += 1 }
    var best = Double.MaxValue
    var trial = 0
    var sink = 0L
    while (trial < 3) {
      val t0 = System.nanoTime()
      var s = 0L
      var j = 0
      while (j < n) { s ^= a(j); j += 1 }
      val dt = (System.nanoTime() - t0) / 1e9
      sink ^= s
      if (dt < best) best = dt
      trial += 1
    }
    if (sink == 42L) System.err.print("") // keep the reduction live
    (n.toLong * 8) / best / 1e9
  }

  /** The top-`k` most expensive queries as a compact JSON object
    * (name → median seconds, millisecond precision), insertion-ordered
    * by descending cost. 30 entries of ~30 chars keep the whole short
    * stdout line well under the driver's 2000-char tail cap — measured
    * against the real 188-query name set in BenchShortLineSpec. */
  private[graft] def shortQueriesJson(medians: Seq[(String, Double)],
      k: Int = 30): String =
    medians.sortBy { case (n, m) => (-m, n) }.take(k)
      .map { case (n, m) => "\"" + n + "\":" + f"$m%.3f" }
      .mkString("{", ",", "}")

  /** One timed trial: wall seconds, and whether the query threw. */
  private[graft] final case class Trial(seconds: Double, failed: Boolean)

  /** Time `body`. A throw is logged and recorded as a failed trial —
    * never as a fast success. */
  private[graft] def timed(name: String)(body: => Unit): Trial = {
    val t0 = System.nanoTime()
    val failed =
      try { body; false }
      catch { case e: Throwable => System.err.println(s"[bench] $name: $e"); true }
    Trial((System.nanoTime() - t0) / 1e9, failed)
  }

  /** The short line's `failed` value: how many queries threw in at
    * least one trial, and the first `k` of their names in name order
    * (capped so the line stays under the tail cap however many fail). */
  private[graft] def failedJson(failed: Seq[String], k: Int = 10): String =
    failed.sorted.take(k).map("\"" + _ + "\"")
      .mkString(s"""{"n":${failed.size},"queries":[""", ",", "]}")

  /** The one short stdout line a bench reader parses; `failed` is
    * added after the original keys, which keep their order. */
  private[graft] def shortLine(total: Double, topQs: String, queriesN: Int,
      sf: String, detail: String, stealDelta: Long, loadEnd: Double,
      membw: Double, trials: Int, failed: String): String =
    s"""{"metric":"total","value":$total,"unit":"sec","total_sec":$total,"queries":$topQs,"queries_n":$queriesN,"sf":"$sf","detail":"$detail","steal_delta":$stealDelta,"load_end":$loadEnd,"membw_gbps":$membw,"trials":$trials,"failed":$failed}"""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // EVERY query is measured as median-of-N (default 3): single trials
    // are dominated by JIT/run-order/machine-contention variance — the
    // round-4 snapshot recorded 2-15× phantom "regressions" on untouched
    // queries that vanished on an idle re-run of the same commit. A
    // median over trials from a cleared cache is the cheapest estimator
    // that survives a loaded box.
    val trials = math.max(sys.env.getOrElse("SPARK_GRAFT_TRIALS", "3").toInt, 1)
    // A median > SPREAD_GATE × the trial minimum means at least half
    // the trials were externally stalled (the query itself is
    // deterministic work): rerun up to `retries` extra batches and
    // median over everything, so one contended burst can't masquerade
    // as a regression in the recorded number.
    val spreadGate = 3.0
    val retries = math.max(sys.env.getOrElse("SPARK_GRAFT_RETRIES", "2").toInt, 0)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm session machinery (scheduler, codegen pipeline, parquet
    // datasource init, noop sink) so bring-up cost isn't charged to
    // whichever query happens to run first.
    spark.range(1000).selectExpr("sum(id) as s")
      .write.format("noop").mode("overwrite").save()
    // tolerate partial table sets (soak dirs carry only the tables
    // their queries read) — warm-up is best-effort
    scala.util.Try(spark.read.parquet(s"$sfDir/nation.parquet")
      .write.format("noop").mode("overwrite").save())
    val loadStart = loadAvg()
    val stealStart = stealTicks()
    val membw = membwGbps()
    // Optional args restrict the run to the named queries (targeted
    // timing during development); the driver passes none → full sweep.
    val wanted = SparkEntry.queries.filter { case (n, _) =>
      args.isEmpty || args.contains(n)
    }

    def trial(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Trial = {
      // Each trial runs from a clean cache: operators persist
      // intermediate frames (signature/bucket tables) that would
      // otherwise accumulate across all queries and evict each other
      // under memory pressure, charging later queries for earlier ones.
      spark.catalog.clearCache()
      // noop-format write forces full evaluation of every column
      // (count() would let Catalyst prune projection-only plans).
      timed(name)(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
    }

    val results = wanted.map { case (name, fn) =>
      var runs = (0 until trials).map(_ => trial(name, fn))
      def times = runs.map(_.seconds).sorted
      def failedN = runs.count(_.failed)
      var rerunsLeft = retries
      def median = times(times.length / 2)
      // contention gate only engages above 200 ms: below it the spread
      // is JIT/GC noise on trivial work, not machine contention; a
      // query that threw is not rerun — its times measure the crash
      while (rerunsLeft > 0 && failedN == 0 && median > spreadGate * times.head &&
          median > 0.2) {
        runs = runs ++ (0 until trials).map(_ => trial(name, fn))
        rerunsLeft -= 1
      }
      name -> (median, times.head, times.last, times.length, failedN)
    }
    val loadEnd = loadAvg()
    val stealEnd = stealTicks()
    val qs = results.map { case (k, (med, _, _, _, _)) => s"\"" + k + "\":" + med }
      .mkString("{", ",", "}")
    // `failed` flags a median taken over trials that threw: it times
    // the crash, not the query
    val spreads = results.map { case (k, (med, mn, mx, n, f)) =>
      val contended = if (med > spreadGate * mn && med > 0.2) "true" else "false"
      s""""$k":{"min":$mn,"med":$med,"max":$mx,"n":$n,"contended":$contended,"failed":$f}"""
    }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.map(_._1).sum else 0.0
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","spreads":$spreads,"load":{"start":$loadStart,"end":$loadEnd,"cpus":$cpus,"trials":$trials,"steal_start":$stealStart,"steal_end":$stealEnd,"membw_gbps":$membw,"membw_gbps_end":${membwGbps()}}}"""
    // The complete per-query result goes to FILES, never to stdout:
    // the driver retains only the LAST 2000 characters of stdout, and
    // the full line is ~22 KB — printing it guarantees the retained
    // tail starts mid-JSON and can never parse (BENCH_r01..r15 all
    // carried parsed:null for exactly this reason; VERDICT r15 #1).
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    val primaryWrite = scala.util.Try(java.nio.file.Files.writeString(
      java.nio.file.Paths.get(out), line + "\n"))
    // Second, path-stable copy next to the primary artifact (ADVICE
    // r15: a cwd-relative target/ path silently never exists when the
    // forked JVM's cwd isn't the project root). Failures are warned,
    // not swallowed.
    val fallback = {
      val p = java.nio.file.Paths.get(out).toAbsolutePath
      val parent = Option(p.getParent).getOrElse(java.nio.file.Paths.get("."))
      parent.resolve("bench_last.json")
    }
    val fallbackWrite = scala.util.Try {
      java.nio.file.Files.writeString(fallback, line + "\n")
    }
    if (primaryWrite.isFailure)
      System.err.println(s"[bench] WARN: failed to write $out: ${primaryWrite.failed.get}")
    if (fallbackWrite.isFailure)
      System.err.println(s"[bench] WARN: failed to write $fallback: ${fallbackWrite.failed.get}")
    // Stdout gets ONE SHORT final line — totals, count, sf, pointer —
    // well under the driver's 2000-char tail cap, so BENCH_r{N}.json
    // finally parses. Shape per VERDICT r15 Next #1, with the original
    // metric/value/unit keys kept for the driver's contract. VERDICT
    // r16 Next #2: `queries` carries the name→median-seconds map of the
    // TOP-K most expensive queries (the contract's original map shape,
    // budgeted to stay under the tail cap — the full 188-entry map is
    // ~22 KB and lives in `detail`), so PERF finally gets per-query
    // round-over-round data for the queries that matter; `queries_n` is
    // the full count the r16 line carried.
    val stealDelta = if (stealStart >= 0 && stealEnd >= 0) stealEnd - stealStart else -1L
    val topQs = shortQueriesJson(
      results.map { case (k, (med, _, _, _, _)) => k -> med }.toSeq)
    val failed = failedJson(
      results.collect { case (k, (_, _, _, _, f)) if f > 0 => k }.toSeq)
    val short = shortLine(total, topQs, results.size, sfDir, out, stealDelta,
      loadEnd, membw, trials, failed)
    println(short)
    spark.stop()
  }
}
