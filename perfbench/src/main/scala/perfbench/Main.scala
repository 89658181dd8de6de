package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: start a session, generate the workload's inputs
  * from the seed, run one warm-up pass, then run timed passes until
  * `--seconds` have passed, checking every output.
  *
  *   --workload NAME --seed N --seconds S --trace 0|1 --dir WORK --out FILE
  *
  * With `--trace 0` every pass is untraced and the end-to-end metrics
  * are written. With `--trace 1` untraced and traced passes alternate;
  * the per-layer metrics come from the traced ones, and the difference
  * of the two medians is the tracing overhead. The result goes to
  * `--out` as one JSON object; the spans go next to it. */
object Main {
  val workloads: Seq[Workload] = Seq(WrfVoronoi, CorpusPrep)

  /** Input generations per run; `setup_s` takes their median. */
  val setupReps = 3
  /** Untimed passes before the timed ones. */
  val warmupPasses = 1

  /** Start a session and touch the classes every run loads (Spark SQL,
    * codegen, Parquet), then exit. The build runs this once to record
    * the JVM's class-data archive, which later runs map at start-up. */
  private def archiveRun(dir: String): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    spark.range(10000).selectExpr("id", "id % 7 as k", "cast(id as string) as s")
      .write.mode("overwrite").parquet(s"$dir/probe.parquet")
    spark.read.parquet(s"$dir/probe.parquet").groupBy("k").count()
      .join(spark.range(7).withColumnRenamed("id", "k"), "k").collect()
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opt.contains("archive")) return archiveRun(opt("archive"))
    val w = workloads.find(_.name == opt("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${opt("workload")}"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val dir = opt("dir")
    val out = opt("out")
    val cpus = Runtime.getRuntime.availableProcessors()

    val stealStart = Box.stealTicks()
    val (spark, sessionS) = Workload.timed {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$dir/spark-local")
        .config("spark.sql.warehouse.dir", s"$dir/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
      s
    }
    val data = s"$dir/data"
    val genS = (0 until setupReps).map(_ => Workload.timed(w.generate(spark, data, seed))._2)
    val prepareS = Workload.timed(w.prepare(spark, data, seed))._2
    val setupS = sessionS + Workload.median(genS)

    val tracer = new Tracer(spark, enabled = true)
    val plain = new Tracer(spark, enabled = false)
    // every pass starts from an empty cache, so frames an earlier pass
    // (or a library operator) left persisted cannot evict or spill this
    // pass's own
    def run(t: Tracer): PassResult = {
      spark.catalog.clearCache()
      w.pass(spark, data, t)
    }
    // untimed passes first: the JIT compiles the hot paths during them
    val (warm, warmS) = Workload.timed((0 until warmupPasses).map(_ => run(plain)))
    val untraced = mutable.ArrayBuffer.empty[PassResult]
    val traced = mutable.ArrayBuffer.empty[(Int, PassResult)]
    val t0 = System.nanoTime()
    var p = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (untraced.isEmpty || (trace && traced.isEmpty) || elapsed < seconds) {
      p += 1
      if (trace && p % 2 == 0) traced += (p -> tracer.inPass(p)(run(tracer)))
      else untraced += run(plain)
    }
    val loopS = elapsed
    val (extra, extraS) = Workload.timed(w.sideChecks(spark, data, plain))
    tracer.drain()

    val allOps = warm.flatMap(_.ops) ++ untraced.flatMap(_.ops) ++ traced.flatMap(_._2.ops)
    val failedOps = allOps.filterNot(_.ok)
    failedOps.foreach(o => System.err.println(s"[perfbench] FAILED ${o.name}: ${o.detail}"))
    extra.filterNot(_.ok).foreach(o =>
      System.err.println(s"[perfbench] known failure ${o.name}: ${o.detail}"))

    def wallOf(r: PassResult) = r.ops.filter(_.ok).map(_.seconds).sum
    val okPasses = untraced.filter(_.ops.forall(_.ok))
    val metrics = mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS,
      "wall_s" -> Workload.median(okPasses.map(wallOf).toSeq),
      "peak_rss_mb" -> Box.peakRssMb())

    if (trace) {
      val per = traced.toSeq.map { case (pn, r) =>
        val m = layerMetrics(tracer, pn, r)
        m ++ w.derived(m)
      }
      val names = per.flatMap(_.keys).distinct
      names.foreach(n => metrics(n) = Workload.median(per.flatMap(_.get(n))))
      val tracedWall = Workload.median(traced.toSeq.map(_._2).filter(_.ops.forall(_.ok)).map(wallOf))
      metrics("trace.wall_s") = tracedWall
      metrics("trace.overhead_s") = tracedWall - metrics("wall_s")
      val checks = allOps ++ extra
      metrics("fail_ratio") = checks.count(!_.ok).toDouble / checks.size
      extra.foreach(o => metrics(s"checks.${o.name}_failed") = if (o.ok) 0.0 else 1.0)
      val spanFile = Paths.get(out).resolveSibling(
        Paths.get(out).getFileName.toString.stripSuffix(".json") + ".spans.jsonl")
      Files.write(spanFile, tracer.toJsonLines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }

    val stealEnd = Box.stealTicks()
    val box = mutable.LinkedHashMap[String, Double](
      "nproc" -> cpus,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "steal_ticks" -> (if (stealStart >= 0 && stealEnd >= 0) stealEnd - stealStart else -1),
      "load_1m" -> Box.loadAvg1(),
      "membw_gbps" -> Box.membwGbps(),
      "passes" -> (untraced.size + traced.size),
      "pass_min_s" -> untraced.map(wallOf).minOption.getOrElse(Double.NaN),
      "pass_max_s" -> untraced.map(wallOf).maxOption.getOrElse(Double.NaN),
      "session_s" -> sessionS,
      "generate_s" -> Workload.median(genS),
      "generate_first_s" -> genS.head,
      "prepare_s" -> prepareS,
      "warmup_s" -> warmS,
      "loop_s" -> loopS,
      "side_checks_s" -> extraS)
    def obj(m: collection.Map[String, Double]) = m.map { case (k, v) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      "\"" + k + "\":" + num
    }.mkString("{", ",", "}")
    val json = s"""{"workload":"${w.name}","seed":$seed,"trace":$trace,""" +
      s""""correct":${failedOps.isEmpty},"attempted":${allOps.size},""" +
      s""""failed":${failedOps.size},"metrics":${obj(metrics)},"box":${obj(box)}}"""
    Files.write(Paths.get(out), (json + "\n").getBytes("UTF-8"))
    spark.stop()
  }

  /** Per-layer numbers of one traced pass that every workload shares:
    * each span's time, self time and Spark counters, self time summed
    * per module, and the pass's own Spark totals. */
  private def layerMetrics(tr: Tracer, p: Int, r: PassResult): Map[String, Double] = {
    val spans = tr.spans.filter(_.pass == p).toSeq
    val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.foreach { s =>
      val c = tr.countersUnder(s.id)
      m(s"${s.name}_s") += s.seconds
      m(s"${s.name}.shuffle_mb") += c.shuffleWriteMb
      m(s"${s.name}.spill_mb") += c.spillMb
      m(s"${s.name}.tasks") += c.tasks
      m(s"${s.name}.jobs") += c.jobs
      m(s"${s.name}.max_task_s") = math.max(m(s"${s.name}.max_task_s"), c.maxTaskS)
      m(s"self.${s.name.takeWhile(_ != '.')}_s") += tr.selfSeconds(s)
    }
    val c = tr.passCounters(p)
    m ++= Seq(
      "spark.jobs" -> c.jobs.toDouble, "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble, "spark.executor_run_s" -> c.runS,
      "spark.sched_delay_s" -> c.schedDelayS, "spark.gc_s" -> c.gcS,
      "spark.shuffle_write_mb" -> c.shuffleWriteMb, "spark.spill_mb" -> c.spillMb,
      "spark.peak_exec_mem_mb" -> c.peakExecMemMb,
      "driver.self_s" -> tr.driverSelfSeconds(p))
    m ++= r.counts
    m.toMap
  }
}
