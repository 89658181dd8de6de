package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

import graft.geom.st
import graft.operators.{Ann, Dedup, Packing, Sampling, SpatialJoin, TextAnalysis, Voronoi}
import graft.tools.CliqueCorpus

/** Reference-scale benchmark (BASELINE.md "Our own targets"): the
  * conservative-regrid overlay at the size the reference calls
  * memory-bound — ≈1M source cells × ≈33k target cells
  * (delphine/regrid.py:8 "If you attempt to do this with too large a
  * grid, you will run out of memory"; each stage "a few minutes",
  * regrid.py:248,266,279) — plus a 1M-seed tiled Voronoi tessellation
  * (the reference's 33,286-polygon Brasil artifact at 30× the seeds),
  * and the north-star operators at 1M–100M rows.
  *
  * A table of named stages. Every stage REQUIREs its planted result
  * before anything prints. Four stages take one size parameter:
  * `voronoi=<side>` (default 1000), `ivfpq_curve=<rows>` (1,000,000),
  * `prep=<nDocs>` (1,000,000) and `cc=<longChainLen>` (1000).
  *
  * Run: `sbt "runMain graft.ScaleBench [stage[=size] ...]"`. With no
  * argument every stage runs at its default size, in table order;
  * otherwise only the named stages run, in the order given (for
  * example `voronoi=3163 cc`). An unknown name, or a size given to a
  * stage without one, throws before the session starts. Prints one
  * JSON line: box context, each sized stage's size as
  * `<stage>_<parameter>`, then each stage's seconds and counts.
  */
object ScaleBench {

  /** A named stage: its size parameter (name and default), if it has
    * one, and a body that runs it at a size and returns its JSON
    * pairs. */
  private[graft] final case class Stage(name: String,
      size: Option[(String, Long)], body: (Run, Long) => Seq[(String, Any)])

  private def stage(name: String)(f: Run => Seq[(String, Any)]) =
    Stage(name, None, (r, _) => f(r))
  private def sized(name: String, param: String, default: Long)(
      f: (Run, Long) => Seq[(String, Any)]) =
    Stage(name, Some(param -> default), f)

  private[graft] val stages: Seq[Stage] = Seq(
    stage("regrid")(_.regrid()),
    sized("voronoi", "side", 1000)(_.voronoi(_)),
    stage("voronoi_domains")(_.voronoiDomains()),
    stage("voronoi_mixed")(_.voronoiMixed()),
    stage("ann")(_.ann()),
    stage("ivf")(_.ivf()),
    stage("ivfpq")(_.ivfPq()),
    sized("ivfpq_curve", "rows", 1000000)(_.ivfPqCurve(_)),
    stage("png")(_.png()),
    sized("prep", "docs", 1000000)(_.prep(_)),
    stage("pack")(_.pack()),
    stage("nc4_scan")(_.nc4Scan()),
    stage("zarr_scan")(_.zarrScan()),
    stage("mix")(_.mix()),
    stage("interval")(_.interval()),
    stage("strat")(_.strat()),
    stage("tfidf")(_.tfidf()),
    stage("substr")(_.substr()),
    stage("rocksdb")(_.rocksdb()),
    stage("para")(_.para()),
    stage("gridops")(_.gridOps()),
    stage("rank")(_.rank()),
    stage("triangles")(_.triangles()),
    stage("semdedup")(_.semDedup()),
    stage("pq")(_.pq()),
    stage("distjoin")(_.distJoin()),
    stage("merge")(_.merge()),
    stage("validate")(_.validate()),
    stage("histq")(_.histQuantiles()),
    stage("pca")(_.pca()),
    stage("scd2")(_.scd2()),
    stage("ols")(_.ols()),
    stage("cooccur")(_.cooccur()),
    stage("bpe")(_.bpe()),
    stage("blocklist")(_.blocklist()),
    sized("cc", "long_chain", 1000)(_.cc(_)),
    stage("cc_cliques")(_.ccCliques()),
    stage("warc_stream")(_.warcStream()))

  /** The stages `args` name, each with its size: `name` runs at the
    * default, `name=size` at `size`; no argument means every stage. */
  private[graft] def parse(args: Seq[String]): Seq[(Stage, Long)] = {
    val byName = stages.map(s => s.name -> s).toMap
    val chosen =
      if (args.isEmpty) stages.map(s => s -> s.size.fold(0L)(_._2))
      else args.map { a =>
        val (name, given) = a.split("=", 2) match {
          case Array(n, v) => (n, Some(v))
          case parts => (parts(0), None)
        }
        val s = byName.getOrElse(name, throw new IllegalArgumentException(
          s"not a ScaleBench stage: $name (stages: ${stages.map(_.name).mkString(", ")})"))
        val size = (s.size, given) match {
          case (None, Some(_)) =>
            throw new IllegalArgumentException(s"stage $name takes no size: $a")
          case (Some((param, _)), Some(v)) => v.toLongOption.filter(_ > 0)
            .getOrElse(throw new IllegalArgumentException(
              s"stage $name: $param must be a positive integer, got $v"))
          case _ => s.size.fold(0L)(_._2)
        }
        s -> size
      }
    val names = chosen.map(_._1.name)
    require(names.distinct.size == names.size,
      s"stage named twice: ${names.diff(names.distinct).distinct.mkString(", ")}")
    chosen
  }

  /** A JSON object with its keys in order. */
  private[graft] final case class Obj(kv: Seq[(String, Any)])

  private[graft] def json(v: Any): String = v match {
    case s: String => "\"" + s + "\""
    case Obj(kv) => kv.map { case (k, x) => json(k) + ":" + json(x) }
      .mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case x => x.toString
  }

  /** Cumulative steal ticks from /proc/stat (-1 where unsupported) —
    * the delta over the run is the direct measure of neighbor theft
    * that moved identical-code stages 2-3x between r12 runs; recorded
    * so a contended run is self-identifying. */
  private def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).get
        .trim.split("\\s+")(8).toLong
      finally src.close()
    } catch { case _: Throwable => -1L }

  /** Below 6 GiB of heap the corpus-prep chain dies in UNTRACKED
    * allocations (shuffle-writer buffers, spill-merge readers, cache
    * column builders), so the unified pool and the cache batch shrink. */
  private val smallHeap = Runtime.getRuntime.maxMemory < 6L * 1024 * 1024 * 1024

  def main(args: Array[String]): Unit = {
    val plan = parse(args.toSeq)
    val stealStart = stealTicks()
    val membwStart = graft.Bench.membwGbps()
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // corpus-prep headroom: at 8 GiB the default 0.6 stays (0.5
      // there spilled the near-dup stage 147 s → 416 s, measured); the
      // per-task disk-write buffer drops 1 MB → 256 KB (pure transient)
      .config("spark.memory.fraction", if (smallHeap) "0.5" else "0.6")
      .config("spark.shuffle.spill.diskWriteBufferSize", (256 * 1024).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val run = new Run(spark)
    val results = plan.flatMap { case (s, n) =>
      s.size.map { case (param, _) => s"${s.name}_$param" -> n }.toSeq ++
        s.body(run, n)
    }
    println(json(Obj(Seq("metric" -> "reference_scale",
      "steal_start" -> stealStart, "steal_end" -> stealTicks(),
      "membw_gbps" -> membwStart) ++ results)))
    spark.stop()
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** `n` space-separated words `<prefix><hash(seed, i + salt) mod vocab>`. */
  private def words(seed: Column, n: Int, salt: Int, vocab: Int,
      prefix: String = "w"): Column =
    concat_ws(" ", (0 until n).map(i => concat(lit(prefix),
      pmod(hash(seed, lit(i + salt)), lit(vocab)).cast("string"))): _*)

  private def unit(c: Column, s: Int): Column =
    hash(c, lit(s)).cast("double") / 2147483647.0

  /** ±0.3 seed jitter: inside the 0.45 halo-sufficiency bound of
    * `VoronoiTiledSpec`, and off the lattice's cocircular points. */
  private def jit(c: Column, s: Int): Column = unit(c, s) * 0.3

  private val dim = 64

  /** Isotropic pseudo-random 64-dim vectors from the row id. */
  private def isotropic: Column =
    array((0 until dim).map(d => unit(col("id"), d).cast("float")): _*)

  /** 64-dim vectors around the center of cluster `cid`, 0.1 noise. */
  private def clustered(cid: Column): Column =
    array((0 until dim).map(d =>
      (unit(cid, d) + unit(col("id"), d + 1000) * 0.1).cast("float")): _*)

  /** The session the stages run in, with one listener counting Spark
    * jobs and the longest task. */
  private[graft] final class Run(spark: SparkSession) {
    import spark.implicits._

    private val jobs = new AtomicInteger
    private val maxTaskMs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        maxTaskMs.accumulateAndGet(e.taskInfo.duration, (a, b) => math.max(a, b))
    })

    /** `f`'s result, the Spark jobs it started and its longest task in
      * seconds, read once the listener bus has delivered every event. */
    private def observed[A](f: => A): (A, Int, Double) = {
      Bridge.drainListenerBus(spark.sparkContext)
      jobs.set(0); maxTaskMs.set(0)
      val r = f
      Bridge.drainListenerBus(spark.sparkContext)
      (r, jobs.get(), maxTaskMs.get() / 1000.0)
    }

    /** Runs `f` with session confs set, restoring each afterwards. */
    private def withConf[A](kv: (String, String)*)(f: => A): A = {
      val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      try f
      finally prev.foreach { case (k, p) => p.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }

    // --- stages 1-3: a 1000x1000 source grid of unit cells with pop,
    // a 182x182 = 33,124-cell target grid over the same extent, the
    // overlay + conservative regrid, and the conservation check
    // (exactness of the full overlay)
    def regrid(): Seq[(String, Any)] = {
      val n = 1000
      val src = spark.range(n.toLong * n)
        .select(col("id"),
          (col("id") % n).cast("double").as("sx"),
          (col("id") / n).cast("long").cast("double").as("sy"),
          (col("id") % 97 + 1).cast("long").as("pop"))
        .withColumn("pop_geom", st.makeBox(col("sx"), col("sy"),
          col("sx") + 1.0, col("sy") + 1.0))
        .drop("sx", "sy")
      val m = 182
      val w = n.toDouble / m
      val tgt = spark.range(m.toLong * m)
        .select(col("id").as("tid"),
          (col("id") % m).cast("double").as("tx"),
          (col("id") / m).cast("long").cast("double").as("ty"))
        .withColumn("tgt_geom", st.makeBox(col("tx") * w, col("ty") * w,
          (col("tx") + 1.0) * w, (col("ty") + 1.0) * w))
        .drop("tx", "ty")
      val (regridRows, tOverlay) = timed {
        SpatialJoin.overlayIntersection(src, tgt, "pop_geom", "tgt_geom", 8.0)
          .groupBy("tid")
          // area_pop = 1 per unit source cell → weight = piece area
          .agg(sum(col("pop") * col("piece_area")).as("population"))
          .count()
      }
      val (ratio, tConserve) = timed {
        val regridTotal = SpatialJoin
          .overlayIntersection(src, tgt, "pop_geom", "tgt_geom", 8.0)
          .agg(sum(col("pop") * col("piece_area")))
          .head().getDouble(0)
        val origTotal = src.agg(sum(col("pop"))).head().getLong(0).toDouble
        regridTotal / origTotal
      }
      Seq("overlay_sec" -> tOverlay, "conservation_sec" -> tConserve,
        "regrid_cells" -> regridRows, "conservation_ratio" -> ratio)
    }

    // --- stage 4: tiled Voronoi over side² jittered seeds (1M by
    // default, 30x the Brasil artifact; 3163 gives 10,004,569) through
    // the AUTO path: tessellate() itself detects the count, derives
    // tile/halo from the spacing estimate, and runs the tiled diagram
    // with the per-tile sufficiency guard. Cell count must equal seed
    // count and the tessellated area the clip area to 1e-6 relative
    // (the area sum also forces every cell geometry to be built).
    def voronoi(side: Long): Seq[(String, Any)] = {
      val seeds = spark.range(side * side).select(col("id"),
        ((col("id") % side).cast("double") + 0.5 + jit(col("id"), 1)).as("px"),
        ((col("id") / side).cast("long").cast("double") + 0.5 +
          jit(col("id"), 2)).as("py"))
      val (stats, sec) = timed {
        Voronoi.tessellate(seeds, "id", "px", "py",
            (0.0, 0.0, side.toDouble, side.toDouble))
          .agg(count(lit(1)), sum(st.area(col("geom")))).as[(Long, Double)].head()
      }
      val areaRatio = stats._2 / (side.toDouble * side)
      require(stats._1 == side * side, s"voronoi cells: ${stats._1}")
      require(math.abs(areaRatio - 1.0) < 1e-6, s"voronoi area ratio: $areaRatio")
      Seq("voronoi_sec" -> sec, "voronoi_n_cells" -> stats._1,
        "voronoi_area_ratio" -> areaRatio)
    }

    /** Per-domain exactness of a domain tessellation with a `margin`
      * clip: (domains, domains whose cell count equals their seed
      * count, worst relative error of the cell-area sum against the
      * seed extent + margin). */
    private def domainChecks(seeds: DataFrame, margin: Double): (Long, Long, Double) = {
      val cells = Voronoi.tessellateByDomain(seeds, "domain", "id", "px", "py", margin)
      cells.groupBy("domain")
        .agg(count(lit(1)).as("n_cells"), sum(st.area(col("geom"))).as("area"))
        .join(
          seeds.groupBy("domain").agg(
            count(lit(1)).as("n_seeds"),
            min("px").as("x0"), max("px").as("x1"),
            min("py").as("y0"), max("py").as("y1")),
          Seq("domain"))
        .select(
          (col("n_cells") === col("n_seeds")).cast("long").as("count_ok"),
          abs(col("area") /
            ((col("x1") - col("x0") + 2 * margin) *
              (col("y1") - col("y0") + 2 * margin)) - 1.0).as("err"))
        .agg(count(lit(1)), sum("count_ok"), max("err"))
        .as[(Long, Long, Double)].head()
    }

    /** `n` domains of 100k seeds each (a 400 x 250 jittered grid),
      * domain ids from `dom0`, seed ids from `id0`, jitter salts `s`
      * and `s + 1`. */
    private def smallDomains(n: Long, dom0: Long, id0: Long, s: Int): DataFrame = {
      val perDom = 100000
      val gx = 400
      spark.range(n * perDom).select(
        ((col("id") / perDom).cast("long") + dom0).as("domain"),
        (col("id") + id0).as("id"),
        ((col("id") % perDom % gx).cast("double") + 0.5 + jit(col("id"), s))
          .as("px"),
        ((col("id") % perDom / gx).cast("long").cast("double") + 0.5 +
          jit(col("id"), s + 1)).as("py"))
    }

    // --- stage 4b: DOMAIN-PARALLEL tessellation — 100 independent
    // domains × 100k seeds each (SURVEY §2.7 G10's many-grids case).
    // Each 100k domain is above tessellateByDomain's auto-tile
    // threshold, so it is cut into ≈4k-seed halo tiles and the tiles of
    // all domains hash across the reduce tasks of one plan. Exactness
    // is REQUIRE'd per domain: one cell per seed, and every domain's
    // cell-area sum equal to its clip envelope to 1e-6 relative.
    def voronoiDomains(): Seq[(String, Any)] = {
      val ((doms, oks, err), sec) = timed(domainChecks(smallDomains(100, 0, 0, 1), 1.0))
      require(doms == 100L && oks == 100L, s"domain tessellation counts off: $doms, $oks")
      require(err < 1e-6, s"domain tessellation area mismatch: $err")
      Seq("voronoi_domains_sec" -> sec, "voronoi_domains" -> doms,
        "voronoi_domain_area_err" -> err)
    }

    // --- stage 4c: MIXED domain sizes — 1 domain × 2M seeds + 99
    // domains × 100k. The 2M domain is tiled (verified halo guard) in
    // the same plan as the 100k ones instead of funneling one 2M-seed
    // JTS build into a single task. The longest task proves the funnel
    // is gone: a single-task 2M diagram build takes minutes (100k ≈
    // 8-15 s single-threaded), the REQUIRE bound is 120 s.
    def voronoiMixed(): Seq[(String, Any)] = {
      val bigN = 2000000L
      val gxBig = 2000 // 2000 x 1000 jittered grid for the big domain
      val bigSeeds = spark.range(bigN).select(
        lit(0L).as("domain"), col("id"),
        ((col("id") % gxBig).cast("double") + 0.5 + jit(col("id"), 1)).as("px"),
        ((col("id") / gxBig).cast("long").cast("double") + 0.5 +
          jit(col("id"), 2)).as("py"))
      val seeds = bigSeeds.union(smallDomains(99, 1, bigN, 3))
      val (((doms, oks, err), _, maxTaskSec), sec) =
        timed(observed(domainChecks(seeds, 1.0)))
      require(doms == 100L && oks == 100L,
        s"mixed-domain tessellation counts off: $doms, $oks")
      require(err < 1e-6, s"mixed-domain tessellation area mismatch: $err")
      require(maxTaskSec < 120.0,
        s"mixed-domain stage has a funnel task: longest task $maxTaskSec s " +
          "(a 2M-seed single-task JTS build takes minutes — the big domain " +
          "was not tiled)")
      Seq("voronoi_mixed_sec" -> sec, "voronoi_mixed_doms" -> doms,
        "voronoi_mixed_area_err" -> err, "voronoi_mixed_max_task_sec" -> maxTaskSec)
    }

    // --- stage 5: sign-LSH ANN over 1M isotropic vectors — candidate
    // generation is the bucket equi-join; scoring is the compiled
    // VecDot kernel
    def ann(): Seq[(String, Any)] = {
      val (rows, sec) = timed {
        val corpus = spark.range(1000000L).select(col("id"), isotropic.as("embedding"))
        val queries = corpus.filter(col("id") % 100000 === 7)
        Ann.lshTopK(corpus, queries, "id", "embedding", 10).count()
      }
      Seq("ann_1m_sec" -> sec, "ann_rows" -> rows)
    }

    /** recall@10 of `got` against `exact` (both (query_id, neighbor_id)). */
    private def recall(got: DataFrame, exact: DataFrame): Double = {
      val g = got.select(col("query_id"), col("neighbor_id")).persist()
      val r = g.intersect(exact).count().toDouble / exact.count()
      g.unpersist()
      r
    }

    // --- stage 6: IVF ANN with Lloyd-refined centroids over 1M
    // CLUSTERED vectors (256 cluster centers + small per-id noise — the
    // data shape IVF exists for), recall@10 against the exact
    // brute-force answer on the same corpus
    def ivf(): Seq[(String, Any)] = {
      val (rec, sec) = timed {
        // persist: the corpus rides a broadcast NON-equi join in the
        // brute-force pass, and an unmaterialized construction column
        // is re-evaluated per joined OUTPUT row there (measured 123 s
        // vs 2.5 s persisted)
        val corpus = spark.range(1000000L)
          .select(col("id"), clustered(col("id") % 256).as("embedding")).persist()
        val queries = corpus.filter(col("id") % 100000 === 7)
        val exact = Ann.bruteForceTopK(corpus, queries, "id", "embedding", 10)
          .select(col("query_id"), col("neighbor_id")).persist()
        val r = recall(Ann.ivfTopK(corpus, queries, "id", "embedding",
          10, nlist = 64, nprobe = 8, lloydIters = 1), exact)
        exact.unpersist(); corpus.unpersist()
        r
      }
      require(rec >= 0.9, s"IVF recall@10 = $rec < 0.9")
      Seq("ivf_recall_at_10" -> rec, "ivf_1m_sec" -> sec)
    }

    /** `rows` vectors in rows/10 NEAR-DUP clusters of 10, persisted,
      * with its 10 queries and their exact squared-L2 top 10. */
    private def nearDupCorpus(rows: Long): (DataFrame, DataFrame, DataFrame) = {
      val corpus = spark.range(rows)
        .select(col("id"), clustered(col("id") % (rows / 10)).as("embedding"))
        .persist()
      val queries = corpus.filter(col("id") % (rows / 10) === 7)
      val exact = Ann.l2TopK(corpus, queries, "id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id")).persist()
      (corpus, queries, exact)
    }

    // --- stage 6b: composed IVF-PQ + exact re-rank (residual codes,
    // ADC over probed cells, shortlist refinement) on 1M vectors in
    // 100k NEAR-DUP clusters of 10 — the retrieval shape PQ exists for:
    // 10-member clusters make recall@10 a well-posed target where the
    // 256-cluster IVF corpus would drown it in near-equidistant ties.
    // Corpus rows ship 1 cell int + 8 code ints through the probe join
    // instead of 64 floats; raw vectors are fetched for the shortlist.
    def ivfPq(): Seq[(String, Any)] = {
      val (rec, sec) = timed {
        val (corpus, queries, exact) = nearDupCorpus(1000000L)
        val r = recall(Ann.ivfPqRerankTopK(corpus, queries, "id", "embedding",
          10, shortlist = 50, nlist = 64, nprobe = 8, m = 8, codebookK = 64,
          lloydIters = 1), exact)
        exact.unpersist(); corpus.unpersist()
        r
      }
      require(rec >= 0.8, s"IVF-PQ+rerank recall@10 = $rec < 0.8 on near-dup clusters")
      Seq("ivfpq_recall_at_10" -> rec, "ivfpq_1m_sec" -> sec)
    }

    // --- stage 6d: the IVF-PQ OPERATING CURVE, served from disk — the
    // table an operator sizes the index from. The index is built once
    // over `rows` near-dup-cluster vectors and saved cell-partitioned,
    // so the probed-cell filter is parquet partition pruning. An
    // off-curve warm-up serve (nprobe 3) moves JIT/codegen bring-up off
    // the first point and checks the saved index against the in-memory
    // one; each nprobe × shortlist point is then served twice, must
    // return the same recall both times, and reports the faster.
    def ivfPqCurve(rows: Long): Seq[(String, Any)] = {
      require(rows % 10 == 0, s"ivfpq_curve: rows must be a multiple of 10, got $rows")
      val (result, total) = timed {
        val (corpus, queries, exact) = nearDupCorpus(rows)
        val (idx, tBuild) = timed {
          val i = Ann.ivfPqBuild(corpus, "id", "embedding",
            nlist = 64, m = 8, codebookK = 64, lloydIters = 1)
          i.codes.persist().count()
          i
        }
        val dir = graft.util.Scratch.dir("scale_ivfpq_index").resolve("idx").toString
        val (_, tSave) = timed(Ann.ivfPqSaveIndex(idx, dir))
        val loaded = Ann.ivfPqLoadIndex(spark, dir)
        val (_, tExact) = timed(exact.count())
        def serve(index: Ann.IvfPqIndex, shortlist: Int, nprobe: Int) = recall(
          Ann.ivfPqServeRerank(index, corpus, queries, "id", "embedding", 10,
            shortlist, nprobe), exact)
        val warm = serve(loaded, 20, 3)
        require(warm == serve(idx, 20, 3),
          s"disk-served recall $warm != in-memory ${serve(idx, 20, 3)}")
        idx.codes.unpersist()
        val points = for (nprobe <- Seq(1, 2, 4, 8); shortlist <- Seq(20, 40)) yield {
          val (r1, t1) = timed(serve(loaded, shortlist, nprobe))
          val (r2, t2) = timed(serve(loaded, shortlist, nprobe))
          require(r1 == r2, s"serve not deterministic at nprobe=$nprobe, shortlist=$shortlist")
          (nprobe, shortlist, r1, math.min(t1, t2))
        }
        val byCfg = points.map(p => (p._1, p._2) -> p._3).toMap
        require(byCfg(8 -> 20) >= byCfg(1 -> 20) && byCfg(8 -> 40) >= byCfg(1 -> 20),
          s"curve inverted: $points")
        require(byCfg(1 -> 20) >= 0.5, s"nprobe=1 recall collapsed: $points")
        require(points.exists(_._3 >= 0.8), s"recall below 0.8 at every point: $points")
        // the pruning win on the partitioned layout: 10 of 64 cell
        // directories (a 10-query nprobe=1 serve's worst case) vs all
        val (nPruned, tPruned) = timed(loaded.codes.filter(col("cell") < 10).count())
        val (nFull, tFull) = timed(loaded.codes.count())
        exact.unpersist(); corpus.unpersist()
        Seq("ivfpq_curve_build_sec" -> tBuild, "ivfpq_index_save_sec" -> tSave,
          "ivfpq_exact_gt_sec" -> tExact,
          "ivfpq_disk_curve" -> points.map { case (np, sl, rec, sec) =>
            Obj(Seq("nprobe" -> np, "shortlist" -> sl, "recall_at_10" -> rec,
              "serve_sec" -> sec))
          },
          "ivfpq_pruned_scan_rows" -> nPruned, "ivfpq_pruned_scan_sec" -> tPruned,
          "ivfpq_full_scan_rows" -> nFull, "ivfpq_full_scan_sec" -> tFull)
      }
      result :+ ("ivfpq_disk_curve_total_sec" -> total)
    }

    // --- stage 6c: real-codec throughput — 1M 16×16 gray tiles
    // PNG-encoded AND decoded back inside one scan stage (deflate,
    // chunk CRCs, filters, inflate, unfilter per row). Every tile
    // decodes and the pixel-sum total equals the directly computed sum.
    def png(): Seq[(String, Any)] = {
      val (stats, sec) = timed {
        val tiles = spark.range(1000000L)
          .select(col("id"), transform(sequence(lit(0), lit(255)),
            i => pmod(hash(col("id"), i), lit(256))).as("px"))
        val png = Bridge.column(graft.expressions.PngEncode(Seq(
          Bridge.expression(lit(16)), Bridge.expression(lit(16)),
          Bridge.expression(lit(1)), Bridge.expression(col("px")))))
        val dec = Bridge.column(graft.expressions.TryPngDecode(
          Seq(Bridge.expression(png))))
        tiles.select(col("id"), col("px"), dec.as("dec"))
          .select(
            col("dec").isNotNull.cast("long").as("ok"),
            aggregate(col("dec.pixels"), lit(0L), (a, x) => a + x).as("s1"),
            aggregate(col("px"), lit(0L), (a, x) => a + x).as("s0"))
          .agg(sum("ok"), sum("s1"), sum("s0"))
          .as[(Long, Long, Long)].head()
      }
      require(stats._1 == 1000000L, s"PNG decode failures: $stats")
      require(stats._2 == stats._3, s"PNG pixel sum drift: $stats")
      Seq("png_1m_sec" -> sec, "png_ok" -> stats._1)
    }

    /** Stage 7: end-to-end corpus prep over n documents of
      * [[CliqueCorpus]] — quality → exact dedup → MinHash-LSH near-dup →
      * connected components → leakage-safe split → decontamination →
      * packing, every stage's count REQUIRE'd against its closed form:
      *
      *   stage              count      at n = 10M
      *   quality pass       n          10,000,000 (25 tokens ≥ 20)
      *   exact-dedup kept   0.9n        9,000,000 (doc 9 drops)
      *   near-dup pairs     n          10,000,000 (C(5,2) per template)
      *   components         n/10        1,000,000 (one 5-clique per template)
      *   kept               n/2         5,000,000 (docs 0,5,6,7,8)
      *   cross-split pairs  0                   0 (splits bucket the component REP)
      *   contaminated       n/250          40,000 (kept docs 5-8 of the n/1000
      *                                             templates whose doc 0 is
      *                                             benchmark, 8-grams)
      *   packed             n/2         5,000,000 rows into 2048-token shards
      *
      * Docs 5-8 are LSH candidates ~80% of the time, so the exact
      * Jaccard refine genuinely rejects pairs; a missed clique pair is
      * (1-0.84²)^16 ≈ 4e-9 and the fixed hash seeds make the outcome
      * deterministic. Cross-template 8-word grams collide only on an
      * md5-level accident (~0 at 5000^8). `prep=10000000` needs ~8 GiB
      * of heap at 32 threads.
      *
      * Partition count is a per-stage parameter: 192 for the two heavy
      * wide stages (the digest groupBy and the band shuffle), where
      * per-task sort volume sets the memory floor — at 32 each band
      * reduce task sorts ~4M wide rows and a 4 GiB heap dies in the
      * window sort's spill merge; 192 and not 256 keeps the map side on
      * the bypass writer (≤ spark.shuffle.sort.bypassMergeThreshold,
      * 200), whose fd ceiling is P files per task, where the sort-based
      * writer held ~600 spill files open per task (measured: 19,896
      * open temp_shuffle fds at 256). The skinny 5-15M-row joins after
      * it run at 32: they paid ~80 s of a 4 GiB run in task overhead at
      * 192. Spark picks the count at ACTION time, so each action (and
      * any eager work inside an operator call) is wrapped. The eager
      * shingle-cache split keeps the map stage off the cache unroll's
      * working set, and below 6 GiB the cache batch drops 10k → 1k
      * rows: columnar builder buffers are untracked heap. */
    def prep(docsN: Long): Seq[(String, Any)] = {
      require(docsN % 1000 == 0, s"prep: nDocs must be a multiple of 1,000, got $docsN")
      def parts[A](p: String)(f: => A): A = withConf("spark.sql.shuffle.partitions" -> p)(f)
      val (heavy, light) = ("192", "32")
      withConf("spark.graft.eagerShingleCache" -> "true",
          "spark.sql.inMemoryColumnarStorage.batchSize" -> (if (smallHeap) "1000" else "10000")) {
        val docs = CliqueCorpus.docs(spark.range(docsN).toDF("id"))
        // ONE generation pass computes both the quality signal and the
        // dedup digest; the cache is a skinny 20-byte (id, tokens,
        // digest) row. xxhash64, not the declared query's md5: a 64-bit
        // collision over these fixed docs either always exists or never
        // does, and the exact count gate below pins that it doesn't.
        val meta = docs.select(col("id"),
            TextAnalysis.tokenCount(col("text")).as("tc"),
            xxhash64(col("text")).as("digest"))
          .persist(MEMORY_AND_DISK)
        val (nQuality, tQuality) = timed(parts(heavy)(meta.filter(col("tc") >= 20).count()))
        require(nQuality == docsN, s"quality gate: $nQuality")

        // exact dedup: only (id, digest) shuffles; the loser set
        // anti-joins back against the text as a broadcast
        val dropped = meta.join(
            meta.groupBy("digest").agg(min("id").as("win")), "digest")
          .filter(col("id") =!= col("win")).select("id")
        val survivors = docs.join(broadcast(dropped), Seq("id"), "left_anti")
          .select(col("id"), col("text"))
          .persist(MEMORY_AND_DISK)
        val (nExact, tExact) = timed(parts(heavy) {
          val n = survivors.count()
          meta.unpersist(false)
          n
        })
        require(nExact == docsN / 10 * 9, s"exact dedup kept: $nExact")

        // the eager shingle-cache split runs at call time, so the call
        // sits inside the heavy wrap
        val ((pairs, nPairs), tNearDup) = timed(parts(heavy) {
          val p = Dedup.minhashNearDups(survivors, "id", "text", 3, 0.5)
            .select(col("id_a"), col("id_b"))
            .persist(MEMORY_AND_DISK)
          (p, p.count())
        })
        require(nPairs == docsN, s"near-dup pairs: $nPairs")

        // the cc rounds run at call time, inside the measurement
        val ((labels, nComp), tCc) = timed(parts(light) {
          val l = Dedup.connectedComponents(survivors.select(col("id")), pairs)
            .persist(MEMORY_AND_DISK)
          val n = l.filter(col("cluster_rep") =!= col("id")).select("cluster_rep")
            .distinct().count()
          (l, n)
        })
        require(nComp == docsN / 10, s"non-trivial components: $nComp")

        // keep the component rep (min id — doc 0 of each clique)
        val kept = labels.filter(col("id") === col("cluster_rep"))
          .select(col("id"), col("cluster_rep"))
          .persist(MEMORY_AND_DISK)
        val (nKept, tKept) = timed(parts(light)(kept.count()))
        require(nKept == docsN / 2, s"kept after near-dedup: $nKept")

        // leakage-safe split: a pure function of the component rep, so
        // each pair member's split comes straight from its label row
        def splitOf(rep: Column) =
          Sampling.assignSplit(Sampling.hashBucket(rep, "prep10m", 100), 80, 10)
        val ((splitCounts, crossPairs), tSplit) = timed(parts(light) {
          val counts = kept.groupBy(splitOf(col("cluster_rep"))).count()
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          val bySplit = labels.select(col("id"), splitOf(col("cluster_rep")).as("split"))
          val cross = pairs
            .join(bySplit.select(col("id").as("id_a"), col("split").as("sa")), "id_a")
            .join(bySplit.select(col("id").as("id_b"), col("split").as("sb")), "id_b")
            .filter(col("sa") =!= col("sb")).count()
          (counts.withDefaultValue(0L), cross)
        })
        require(crossPairs == 0L, s"near-dup pairs across splits: $crossPairs")

        // decontamination after dedup: benchmark = every 1000th id
        // (always a kept doc 0), 8-word grams, Bloom prefilter + exact
        // broadcast refine over compiled xxhash64 gram hashes
        val (nContam, tContam) = timed(parts(light) {
          Dedup.ngramContaminationBloom(survivors.join(kept.select("id"), Seq("id")),
              "id", "text", col("id") % 1000 === 0, 8, expectedBenchGrams = 200000L)
            .filter(col("contaminated")).count()
        })
        require(nContam == docsN / 250, s"contaminated kept docs: $nContam")

        val (packStats, tPack) = timed(parts(light) {
          Packing.packByBudget(kept.select(col("id"), lit(25L).as("n_tokens")),
              "id", "n_tokens", budget = 2048)
            .agg(count(lit(1)), max("shard")).as[(Long, Long)].head()
        })
        require(packStats._1 == docsN / 2, s"packed rows: ${packStats._1}")
        Seq(survivors, pairs, labels, kept).foreach(_.unpersist())

        Seq("prep_quality_sec" -> tQuality, "prep_exact_sec" -> tExact,
          "prep_neardup_sec" -> tNearDup, "prep_cc_sec" -> tCc,
          "prep_kept_sec" -> tKept, "prep_split_sec" -> tSplit,
          "prep_contam_sec" -> tContam, "prep_pack_sec" -> tPack,
          "prep_total_sec" -> (tQuality + tExact + tNearDup + tCc + tKept +
            tSplit + tContam + tPack),
          "prep_survivors" -> nExact, "prep_kept" -> nKept, "prep_components" -> nComp,
          "prep_contaminated_kept" -> nContam,
          "prep_train" -> splitCounts("train"), "prep_val" -> splitCounts("val"),
          "prep_test" -> splitCounts("test"),
          "prep_cross_split_pairs" -> crossPairs, "prep_pack_shards" -> (packStats._2 + 1))
      }
    }

    // --- stage 8: sequence packing over 10M documents — the two-level
    // prefix sum (the only ordered window runs per 65k-id bucket)
    def pack(): Seq[(String, Any)] = {
      val (stats, sec) = timed {
        val docs = spark.range(10000000L)
          .select(col("id").as("doc_id"),
            (pmod(hash(col("id")), lit(400)) + 1).cast("long").as("n_tokens"))
        Packing.packByBudget(docs, "doc_id", "n_tokens", budget = 2048)
          .agg(count(lit(1)), max("shard"), max("offset"))
          .as[(Long, Long, Long)].head()
      }
      Seq("pack_10m_sec" -> sec, "pack_rows" -> stats._1, "pack_max_shard" -> stats._2)
    }

    /** Count and value sum of a grid store's long form from 03:00 on. */
    private def gridScan(dir: String): ((Long, Double), Double) = timed {
      spark.read.format("graft.sources.GridSource").load(dir)
        .filter(col("time") >= lit("1970-01-01 03:00:00").cast("timestamp"))
        .agg(count(lit(1)), sum(col("value"))).as[(Long, Double)].head()
    }

    // --- stage 9: distributed NetCDF-4 scan — 4 chunked shuffle+deflate
    // .h5 files, 12 time slabs x 1000x1000 cells = 12M grid points,
    // expanded to long form through the DataSource V2 GridSource (write
    // cost excluded; the timed path is scan + slab pruning + aggregate)
    def nc4Scan(): Seq[(String, Any)] = {
      import graft.io.{Hdf5, NetCdf}
      val dir = graft.util.Scratch.dir("scale_nc")
      val (gy, gx) = (1000, 1000)
      val dims = Seq(NetCdf.Dim("time", 3), NetCdf.Dim("y", gy), NetCdf.Dim("x", gx))
      for (k <- 0 until 4) {
        val vars = Seq(
          NetCdf.Var("time", Seq(0), NetCdf.NcDouble, Nil,
            Array.tabulate(3)(i => ((k * 3 + i) * 3600L * 1000000L).toDouble)),
          NetCdf.Var("t2", Seq(0, 1, 2), NetCdf.NcDouble, Nil,
            Array.tabulate(3 * gy * gx)(i => ((i * 2654435761L) % 1000) / 10.0)))
        Hdf5.write(dir.resolve(f"part-$k%02d.h5").toString, dims, Nil, vars,
          chunkDeflate = true)
      }
      val (stats, sec) = gridScan(dir.toString)
      Seq("nc4_scan_sec" -> sec, "nc4_rows" -> stats._1)
    }

    // --- stage 9b: the same 12M-point scan from a chunked zlib Zarr v2
    // store (3 time rows per chunk, slab pruning straddles chunk
    // boundaries) — container-agnostic plan, chunk IO per partition
    def zarrScan(): Seq[(String, Any)] = {
      import graft.io.{NetCdf, Zarr}
      val dir = graft.util.Scratch.dir("scale_zarr").resolve("grid.zarr").toString
      val (nt, n) = (12, 1000)
      val dims = Seq(NetCdf.Dim("time", nt), NetCdf.Dim("y", n), NetCdf.Dim("x", n))
      val vars = Seq(
        NetCdf.Var("time", Seq(0), NetCdf.NcDouble, Nil,
          Array.tabulate(nt)(t => (t * 3600L * 1000000L).toDouble)),
        NetCdf.Var("y", Seq(1), NetCdf.NcDouble, Nil, Array.tabulate(n)(_ * 1.0)),
        NetCdf.Var("x", Seq(2), NetCdf.NcDouble, Nil, Array.tabulate(n)(_ * 1.0)),
        NetCdf.Var("t2", Seq(0, 1, 2), NetCdf.NcDouble, Nil,
          Array.tabulate(nt * n * n)(i => (i % 1000) / 4.0)))
      Zarr.write(dir, dims, Nil, vars, compress = true, chunk0 = 3)
      val (stats, sec) = gridScan(dir)
      require(stats._1 == 9000000L, s"zarr scan rows: ${stats._1}")
      Seq("zarr_scan_sec" -> sec, "zarr_rows" -> stats._1)
    }

    // --- stage 10: repetition quality + domain mixing over 1M docs, 10%
    // of them pathological boilerplate (one phrase repeated 40x) — the
    // adversarial input for a quadratic top-gram count; RepetitionStats
    // stays O(tokens) per doc. The mixing pass is ONE groupBy over the
    // survivors + a broadcast threshold join.
    def mix(): Seq[(String, Any)] = {
      val (stats, sec) = timed {
        val spam = trim(repeat(
          concat(lit("buy now w"), pmod(col("id"), lit(7)).cast("string"), lit(" ")), 40))
        val docs = spark.range(1000000L).select(col("id"),
          when(col("id") % 10 === 0, spam).otherwise(words(col("id"), 50, 0, 5000))
            .as("text"),
          concat(lit("src"), pmod(col("id"), lit(16)).cast("string")).as("source"))
        val r = Bridge.column(graft.expressions.RepetitionStats(
          Seq(Bridge.expression(col("text"))), 2))
        val flagged = docs.select(col("id"), col("source"), r.as("r"))
          .withColumn("keep_rep",
            (col("r.top_gram") /
              greatest(col("r.n_toks") - 1, lit(1)).cast("double")) < 0.20)
        val perSource = flagged.filter(col("keep_rep"))
          .groupBy("source")
          .agg(sum(col("r.n_toks").cast("long")).as("n_toks"))
        val thr = Sampling.domainMixThresholds(perSource, tokenBudget = 10000000L)
        val kept = flagged.filter(col("keep_rep"))
          .join(broadcast(thr.select("source", "thr")), Seq("source"))
          .filter(Sampling.hashBucket(col("id"), "mix:", 10000) < col("thr"))
          .count()
        (flagged.filter(!col("keep_rep")).count(), kept)
      }
      require(stats._1 == 100000L, s"expected 100k boilerplate drops: $stats")
      Seq("mix_1m_sec" -> sec, "mix_dropped" -> stats._1, "mix_kept" -> stats._2)
    }

    // --- stage 11: interval join under TOTAL key skew — 1M points and
    // 10k one-hour windows, ALL on one key. The stock plan would
    // evaluate 10^10 pairs in a single task; the bucketized join
    // spreads (key, hour-bucket) across ~280 buckets.
    def interval(): Seq[(String, Any)] = {
      val (pairs, sec) = timed {
        val pts = spark.range(1000000L).select(lit(1L).as("k"),
          col("id").as("event_id"),
          expr("timestamp_micros(id * 1000000)").as("t"))
        val ivs = spark.range(10000L).select(lit(1L).as("k"),
          expr("timestamp_micros(id * 100 * 1000000)").as("s"),
          expr("timestamp_micros((id * 100 + 3600) * 1000000)").as("e"))
        graft.operators.IntervalJoin.pointsInIntervals(pts, "t", ivs, "s", "e",
          Seq("k"), bucketSeconds = 3600).count()
      }
      Seq("interval_skew_sec" -> sec, "interval_pairs" -> pairs)
    }

    // --- stage 12: stratified fixed-k sampling over 10M rows, 4 strata
    // — the bounded-heap top-k aggregate keeps ≤ k rows per stratum per
    // task
    def strat(): Seq[(String, Any)] = {
      val (rows, sec) = timed {
        val rows = spark.range(10000000L)
          .select(col("id"), concat(lit("s"), pmod(col("id"), lit(4))).as("g"))
        Sampling.stratifiedSample(rows, "g", "id", "sb:", 100).count()
      }
      require(rows == 400L, s"expected 4x100 sampled rows: $rows")
      Seq("strat_10m_sec" -> sec, "strat_rows" -> rows)
    }

    // --- stage 13: TF-IDF inverted index over 1M docs × 25 tokens
    // (5000-word vocab): 25M (doc, term) pairs through one explode,
    // map-side-partial tf/df aggregations, the df frame broadcast back,
    // rank windows bounded by per-doc distinct terms
    def tfidf(): Seq[(String, Any)] = {
      val (rows, sec) = timed {
        val docsN = 1000000L
        val docs = spark.range(docsN)
          .select(col("id").as("doc_id"), words(col("id"), 25, 0, 5000).as("text"))
        val terms = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val scored = tf.join(broadcast(dfq), Seq("term"))
          .withColumn("score", expr(s"tf * ((${docsN}L * 1000000) div df)"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("term").asc)
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5).count()
      }
      require(rows == 5000000L, s"expected 5 terms x 1M docs: $rows")
      Seq("tfidf_1m_sec" -> sec, "tfidf_rows" -> rows)
    }

    // --- stage 14: cross-document repeated-substring dedup over 1M docs
    // — 100k carry an 8-word licence header at the front. Expect exactly
    // the planted [0, 8) span on every tenth document and nothing else.
    def substr(): Seq[(String, Any)] = {
      val (stats, sec) = timed {
        val unique = words(col("id"), 25, 77, 5000000)
        val boiler = "this shared license header appears verbatim across documents"
        val text = when(col("id") % 10 === 0,
          concat(lit(boiler + " "), unique)).otherwise(unique)
        val docs = spark.range(1000000L).select(col("id"), text.as("text"))
        Dedup.repeatedSubstringSpans(docs, "id", "text", gramLen = 5, minDocs = 100)
          .agg(count(lit(1)), min("span_start"), max("span_start"), max("span_end"))
          .as[(Long, Int, Int, Int)].head()
      }
      require(stats == ((100000L, 0, 0, 8)), s"expected 100k exact [0,8) planted spans: $stats")
      Seq("substr_1m_sec" -> sec, "substr_spans" -> stats._1)
    }

    // --- stage 15: RocksDB state-store soak — 2M streamed events where
    // EVERY row is its own (window, key) state entry, so the stateful
    // aggregation holds 2M live entries at once, on executor-local disk
    // instead of the heap. Update-mode memory sink: each pair is
    // updated in exactly one micro-batch, so the sink holds exactly 2M.
    def rocksdb(): Seq[(String, Any)] = {
      val (rows, sec) = timed {
        val rdir = graft.util.Scratch.dir("scale_rocks").toString
        spark.range(2000000L).select(
          (col("id") % 200000).as("k"),
          expr("timestamp_micros(id * 1000000)").as("ts"))
          .write.mode("overwrite").parquet(rdir)
        withConf("spark.sql.streaming.stateStore.providerClass" ->
            graft.queries.StreamingQueries.RocksDbProvider,
            "spark.sql.shuffle.partitions" -> "8") {
          val agg = spark.readStream.schema("k LONG, ts TIMESTAMP").parquet(rdir)
            .withWatermark("ts", "1 hour")
            .groupBy(window(col("ts"), "1 hour"), col("k"))
            .agg(count(lit(1)).as("n"))
          agg.writeStream.format("memory").queryName("rocks_soak")
            .outputMode("update")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start().awaitTermination()
          spark.table("rocks_soak").count()
        }
      }
      require(rows == 2000000L, s"expected 2M RocksDB state entries emitted: $rows")
      Seq("rocksdb_soak_sec" -> sec, "rocksdb_state_rows" -> rows)
    }

    // --- stage 16: paragraph-level dedup over 1M documents — 10% carry
    // a shared header paragraph, 1-in-15 a shared footer. Expect exactly
    // the planted paragraphs removed (100000 + 66667).
    def para(): Seq[(String, Any)] = {
      val (removed, sec) = timed {
        val text = concat(
          when(col("id") % 10 === 0,
            lit("subscribe to this newsletter for weekly updates\n\n")).otherwise(lit("")),
          words(col("id"), 25, 311, 5000000),
          when(col("id") % 15 === 0,
            lit("\n\nall rights reserved by the publisher")).otherwise(lit("")))
        val docs = spark.range(1000000L).select(col("id"), text.as("text"))
        Dedup.dedupParagraphs(docs, "id", "text", "\n\n", "\n\n", minDocs = 100)
          .agg(sum("n_removed")).head().getLong(0)
      }
      require(removed == 166667L, s"expected 100000+66667 planted paragraphs removed: $removed")
      Seq("para_1m_sec" -> sec, "para_removed" -> removed)
    }

    // --- stage 17: WRF post-processing ops at model-output scale —
    // destagger a 1000×1001-face staggered wind field, interpolate a
    // 200×200×25-level field to three pressure surfaces, and 3×3-smooth
    // a 1000×1000 field: window shuffles over pencil keys
    def gridOps(): Seq[(String, Any)] = {
      import graft.grid.{GridConfig, GridOps}
      val (rows, sec) = timed {
        val faces = spark.range(1000L * 1001L).select(
          (col("id") / 1001L).cast("long").as("y"),
          (col("id") % 1001L).as("xs"),
          (pmod(hash(col("id")), lit(1000)) / 10.0).as("u"))
          .withColumn("t", lit(0))
        val cols3d = spark.range(200L * 200L * 25L).select(
          (col("id") / 5000L).cast("long").as("y"),
          (col("id") % 5000L / 25L).cast("long").as("x"),
          (col("id") % 25L).as("lev"),
          (pmod(hash(col("id")), lit(10000)) / 100.0).as("tv"))
          .withColumn("p", lit(1000.0) - col("lev") * 25.0)
        val cells = spark.range(1000L * 1000L).select(
          lit(0).as("t"),
          (col("id") / 1000L).cast("long").as("y"),
          (col("id") % 1000L).as("x"),
          (pmod(hash(col("id")), lit(1000)) / 10.0).as("v"))
        (GridOps.destagger(faces, Seq("t", "y"), "xs", "u", "x").count(),
          GridOps.interpLevels(cols3d, Seq("y", "x"), "p", "tv",
            Seq(987.5, 700.0, 412.5)).count(),
          GridOps.smooth(cells, GridConfig("x", "y", "lon", "lat", "t", "v"),
            dec = 1).count())
      }
      require(rows == ((1000000L, 120000L, 1000000L)), s"wrong grid-op row counts: $rows")
      Seq("gridops_1m_sec" -> sec)
    }

    // --- stage 18: BM25 top-100 over 1M docs, the linear quality
    // classifier over the same corpus (planted term arithmetic makes
    // the keep count exact), and 10 PageRank power steps over a 1M-edge
    // / ~100k-host graph with a total-skew hub (1 in 3 edges)
    def rank(): Seq[(String, Any)] = {
      import graft.operators.{PageRank, Scoring}
      val (stats, sec) = timed {
        val text = concat(words(col("id"), 30, 77, 200000, prefix = "t"),
          when(col("id") % 10 === 0, lit(" spark")).otherwise(lit("")),
          when(col("id") % 4 === 0, lit(" dup dup")).otherwise(lit("")))
        val docs = spark.range(1000000L).select(col("id"), text.as("text")).persist()
        val top = Scoring.bm25(docs, "id", "text", Seq("spark", "t42"), 100).count()
        // +5 on 1-in-10 docs, -6 on 1-in-4: keep = neither (700k) or
        // spark-only (50k) -> exactly 750000
        val kept = Scoring.linearScore(docs, "id", "text",
          Seq("spark" -> 5L, "dup" -> -3L), bias = 0L, threshold = 0L)
          .filter(col("keep")).count()
        docs.unpersist()
        val edges = spark.range(1000000L).select(
          concat(lit("h"), pmod(hash(col("id")), lit(100000)).cast("string")).as("src"),
          when(col("id") % 3 === 0, lit("hub"))
            .otherwise(concat(lit("h"),
              pmod(hash(col("id"), lit(1)), lit(100000)).cast("string")))
            .as("dst"))
        // deep iteration count exercises the localCheckpoint lineage cut
        val ranks = PageRank.ranks(edges, "src", "dst", iterations = 10,
          checkpointEvery = 4).persist()
        val topHost = ranks.orderBy(col("rank").desc, col("node")).head().getString(0)
        val nNodes = ranks.count()
        ranks.unpersist()
        (top, kept, topHost, nNodes)
      }
      require(stats._1 == 100L, s"bm25 top-k rows: ${stats._1}")
      require(stats._2 == 750000L, s"classifier kept: ${stats._2}")
      require(stats._3 == "hub", s"pagerank winner: ${stats._3}")
      Seq("rank_1m_sec" -> sec, "rank_kept" -> stats._2, "rank_nodes" -> stats._4)
    }

    // --- stage 18b: triangle counting under TOTAL hub skew — a 100k
    // wheel plus 1000 disjoint planted triangles. Degree orientation
    // points every spoke INTO the hub, so the hub generates ZERO wedges.
    // Counts: hub 100000, each rim node 2, each planted node 1.
    def triangles(): Seq[(String, Any)] = {
      val (stats, sec) = timed {
        val rim = 100000L
        val star = spark.range(rim).select(lit("hub").as("src"),
          concat(lit("h"), col("id").cast("string")).as("dst"))
        val ring = spark.range(rim).select(
          concat(lit("h"), col("id").cast("string")).as("src"),
          concat(lit("h"), ((col("id") + 1) % rim).cast("string")).as("dst"))
        def planted(x: String, y: String) = spark.range(1000L).select(
          concat(lit(x), col("id").cast("string")).as("src"),
          concat(lit(y), col("id").cast("string")).as("dst"))
        val edges = star.union(ring).union(planted("ta", "tb"))
          .union(planted("tb", "tc")).union(planted("ta", "tc"))
        val counts = graft.operators.Triangles.perNodeCounts(edges, "src", "dst").persist()
        val nodes = counts.count()
        val total = counts.agg(sum("triangles")).head().getLong(0)
        val hub = counts.filter(col("node") === "hub").head().getLong(1)
        counts.unpersist()
        (nodes, total, hub)
      }
      require(stats == ((103001L, 303000L, 100000L)),
        s"expected exact wheel+planted triangle counts: $stats")
      Seq("triangles_sec" -> sec, "triangles_total" -> stats._2)
    }

    // --- stage 19: banded semantic dedup over 1M isotropic vectors +
    // 10k planted same-direction copies (cosine exactly 1). Exactly the
    // planted copies must drop.
    def semDedup(): Seq[(String, Any)] = {
      val (stats, sec) = timed {
        val base = spark.range(1000000L).select(col("id"), isotropic.as("embedding"))
        val planted = base.filter(col("id") % 100 === 0)
          .select((col("id") + 2000000L).as("id"),
            transform(col("embedding"), x => x * 2.0f).as("embedding"))
        val verdicts = Ann.semanticDedupBanded(base.union(planted), "id", "embedding",
          numSeeds = 64, threshold = 0.99, bands = 16, planesPerBand = 16).persist()
        val dropped = verdicts.filter(!col("keep")).count()
        val total = verdicts.count()
        verdicts.unpersist()
        (dropped, total)
      }
      require(stats == ((10000L, 1010000L)), s"expected exactly the 10k planted copies dropped: $stats")
      Seq("semdedup_1m_sec" -> sec, "semdedup_dropped" -> stats._1)
    }

    // --- stage 20: product-quantization compressed-domain ANN over the
    // 1M 256-cluster corpus. The 256-entry seeded codebook covers every
    // cluster center, so encode must recover cluster identity for
    // essentially every row, and the ADC top-10 must stay in-cluster.
    def pq(): Seq[(String, Any)] = {
      val (stats, sec) = timed {
        val corpus = spark.range(1000000L)
          .select(col("id"), clustered(col("id") % 256).as("embedding")).persist()
        val books = Ann.pqCodebook(corpus, "id", "embedding", m = 4, k = 256)
        val codeHits = Ann.pqEncode(corpus, "id", "embedding", books).filter(
          col("codes") === array(Seq.fill(4)(pmod(col("id"), lit(256)).cast("int")): _*))
          .count()
        val queries = corpus.filter(col("id") % 100000 === 7)
        val top = Ann.pqTopK(corpus, queries, "id", "embedding", 10, books)
          .select(col("query_id"), col("neighbor_id")).persist()
        val topRows = top.count()
        val inCluster = top.filter(col("neighbor_id") % 256 === col("query_id") % 256).count()
        corpus.unpersist(); top.unpersist()
        (codeHits, topRows, inCluster)
      }
      require(stats._1 >= 999000L, s"PQ codes should recover cluster ids: ${stats._1}/1000000")
      require(stats._2 == 100L && stats._3 == stats._2, s"ADC top-10 should stay in-cluster: $stats")
      Seq("pq_1m_sec" -> sec, "pq_code_hits" -> stats._1)
    }

    // --- stage 21: distance join over the 1M-point unit lattice, d =
    // 1.5 — every interior point pairs with its 4 axis neighbors and 4
    // diagonals: exactly 2·n·(n−1) + 2·(n−1)² unordered pairs, through
    // the forward-cell self join the declared geo_distance_join uses
    def distJoin(): Seq[(String, Any)] = {
      val n = 1000
      val (pairs, sec) = timed {
        val pts = spark.range(n.toLong * n).select(col("id"),
          st.point((col("id") % n).cast("double"),
            (col("id") / n).cast("long").cast("double")).as("pt"))
        SpatialJoin.selfJoinWithinDistance(pts, "id", "pt", d = 1.5, cellSize = 1.5).count()
      }
      require(pairs == 2L * n * (n - 1) + 2L * (n - 1) * (n - 1),
        s"expected exact lattice neighbor pairs: $pairs")
      Seq("distjoin_1m_sec" -> sec, "distjoin_pairs" -> pairs)
    }

    // --- stage 22: MERGE upsert at refresh scale — 10M-row standing
    // corpus, 1M-row batch (500k updates + 500k inserts) in one
    // full-outer key join: 10.5M rows out, exactly 500k negated.
    def merge(): Seq[(String, Any)] = {
      val (stats, sec) = timed {
        val target = spark.range(10000000L).select(col("id"), col("id").as("v"))
        val batch = spark.range(500000L)
          .select((col("id") * 20).as("id"), (-col("id") * 20 - 1).as("v"))
          .union(spark.range(500000L)
            .select((col("id") + 10000000L).as("id"), (col("id") + 10000000L).as("v")))
        val merged = graft.operators.Merge.upsert(target, batch, "id").persist()
        val rows = merged.count()
        val updated = merged.filter(col("v") < 0).count()
        merged.unpersist()
        (rows, updated)
      }
      require(stats == ((10500000L, 500000L)), s"expected 10.5M merged rows, 500k updates: $stats")
      Seq("merge_10m_sec" -> sec, "merge_rows" -> stats._1)
    }

    // --- stage 23: data-quality validation over a 10M-row ledger with
    // planted violations — every row-level constraint in ONE aggregate
    // pass, plus the one-shuffle key-uniqueness check over a
    // fully-duplicated key: 10k NULLs, 100 range violations, min = −5
    def validate(): Seq[(String, Any)] = {
      import graft.operators.Validation
      val (stats, sec) = timed {
        val df = spark.range(10000000L).select(col("id"),
          when(col("id") % 1000 === 0, lit(null).cast("string")).otherwise(lit("ok")).as("s"),
          when(col("id") % 100000 === 7, lit(-5.0))
            .otherwise((col("id") % 100).cast("double")).as("v"))
        val row = Validation.rowChecks(df, Seq(
            Validation.completeness("s"),
            Validation.inRange("v", 0.0, 99.0),
            Validation.minAtLeast("v", 0.0)))
          .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
        val uniq = Validation.uniqueKey(
          df.select((col("id") / 2).cast("long").as("k")), Seq("k")).collect()(0)
        (row("completeness"), row("in_range"), row("min_at_least"),
          uniq.getLong(2), uniq.getLong(3))
      }
      require(stats == ((9990000L, 9999900L, -500L, 5000000L, 5000000L)),
        s"planted validation counts off: $stats")
      Seq("validate_10m_sec" -> sec)
    }

    // --- stage 24: histogram-sketch quantiles over 100M values reduced
    // map-side to 1,000 bin counters; planted uniform distribution ⇒
    // q50 → bin 499, q99 → bin 989 exactly
    def histQuantiles(): Seq[(String, Any)] = {
      val (stats, sec) = timed {
        val df = spark.range(100000000L).select((col("id") % 1000000).cast("double").as("v"))
        graft.operators.Sketches.histogramQuantiles(df, "v", width = 1000.0,
            qMicros = Seq(500000L, 990000L))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      require(stats == Map(500000L -> 499L, 990000L -> 989L), s"planted quantile bins off: $stats")
      Seq("histq_100m_sec" -> sec)
    }

    // --- stage 25: PCA fit over 1M 64-dim vectors with ONE planted
    // dominant direction (uniform t along (1,…,1)/8 + 1% noise): one
    // GramAggregate pass, driver-side Jacobi. PC1 must recover the
    // planted axis and the spectrum must collapse after it.
    def pca(): Seq[(String, Any)] = {
      val (stats, sec) = timed {
        val t = unit(col("id"), 1)
        val vec = array((0 until dim).map(d =>
          (t + unit(col("id"), d + 2) * 0.01).cast("float")): _*)
        val corpus = spark.range(1000000L).select(col("id"), vec.as("embedding"))
        val m = graft.operators.Pca.fit(corpus, "embedding", dim, k = 4, scale = 100000L)
        val u = 1.0 / math.sqrt(dim)
        (math.abs(m.components(0).map(_ * u).sum), m.eigenvalues(0) / m.eigenvalues(1))
      }
      require(stats._1 > 0.999, s"PC1 should recover the planted axis: ${stats._1}")
      require(stats._2 > 1000.0, s"spectrum should collapse after PC1: ${stats._2}")
      Seq("pca_1m_sec" -> sec, "pca_axis_dot" -> stats._1)
    }

    // --- stage 26: SCD2 history build over a 10M-row transaction log
    // (1M keys × 10 ordered events, the attribute changing at event 5)
    // ⇒ exactly 2 versions per key
    def scd2(): Seq[(String, Any)] = {
      val (rows, sec) = timed {
        val log = spark.range(10000000L).select(
          (col("id") % 1000000).as("k"),
          (col("id") / 1000000).cast("long").as("seq"),
          (col("id") / 5000000).cast("long").cast("string").as("attr"))
        graft.operators.Merge.scd2FromLog(log, "k", "attr", Seq("seq")).count()
      }
      require(rows == 2000000L, s"expected 2 versions x 1M keys: $rows")
      Seq("scd2_10m_sec" -> sec, "scd2_versions" -> rows)
    }

    // --- stage 27: grouped OLS over 10M points lying exactly on 10
    // planted lines y = (3+k)·x + 7k: five counters per group cross the
    // shuffle, and the fixed-point slope/intercept come back EXACT
    def ols(): Seq[(String, Any)] = {
      val (stats, sec) = timed {
        val k = col("id") % 10
        val x = col("id") % 1000
        val pts = spark.range(10000000L).select(k.as("k"),
          x.cast("long").as("x"), ((k + 3) * x + k * 7).cast("long").as("y"))
        graft.operators.Stats.groupedOls(pts, Seq("k"), "x", "y")
          .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
      }
      require(stats == (0 until 10).map(k =>
          k.toLong -> (((k + 3) * 1000000L, k * 7000000L))).toMap,
        s"planted lines not recovered exactly: $stats")
      Seq("ols_10m_sec" -> sec)
    }

    // --- stage 28: collocation mining over 1M docs — 20 random tokens
    // per doc from a 50k vocab plus a planted "alpha beta" bigram on
    // every 10th doc. The planted pair must win top-1 with its exact
    // count and integer-PMI ratio: N = 20.2M tokens, so ratio_ppm =
    // (1e5·20.2e6·1e6) div (1e5·1e5) = 202,000,000.
    def cooccur(): Seq[(String, Any)] = {
      val (stats, sec) = timed {
        val text = concat(words(col("id"), 20, 131, 50000),
          when(col("id") % 10 === 0, lit(" alpha beta")).otherwise(lit("")))
        val top = graft.operators.Cooccur.topPairs(
          spark.range(1000000L).select(text.as("text")), "text", 2, 10).head()
        (top.getString(0), top.getString(1), top.getLong(2), top.getLong(5))
      }
      require(stats == (("alpha", "beta", 100000L, 202000000L)),
        s"planted collocation not recovered: $stats")
      Seq("cooccur_1m_sec" -> sec, "cooccur_top_ppm" -> stats._4)
    }

    // --- stage 29: merge-ranked BPE over 1M docs — every doc encodes
    // to exactly 8 vocab-resolvable pieces under the demo merges: 8M
    // pieces, 0 UNK
    def bpe(): Seq[(String, Any)] = {
      val (stats, sec) = timed {
        val text = concat(lit("data stress 4242 w"), (col("id") % 10).cast("string"))
        val ids = TextAnalysis.bpeTokenize(col("text"),
          TextAnalysis.demoBpeVocab, TextAnalysis.demoBpeMerges)
        spark.range(1000000L).select(text.as("text"))
          .select(size(ids).cast("long").as("k"),
            size(filter(ids, i => i === -1)).cast("long").as("u"))
          .agg(sum("k"), sum("u")).as[(Long, Long)].head()
      }
      require(stats == ((8000000L, 0L)), s"planted BPE piece totals off: $stats")
      Seq("bpe_1m_sec" -> sec, "bpe_pieces" -> stats._1)
    }

    // --- stage 30: Aho–Corasick blocklist over 1M docs — " bad phrase
    // here" planted on every 7th doc; the two planted patterns overlap
    // (both must count) and the third never occurs: ceil(1M/7) = 142858
    def blocklist(): Seq[(String, Any)] = {
      val (stats, sec) = timed {
        val text = concat(words(col("id"), 20, 557, 5000000),
          when(col("id") % 7 === 0, lit(" bad phrase here")).otherwise(lit("")))
        val m = Bridge.column(graft.expressions.MultiPatternCount(
          Seq(Bridge.expression(col("text"))),
          Seq("bad phrase", "phrase here", "never occurs")))
        spark.range(1000000L).select(text.as("text")).select(m.as("m"))
          .agg(sum(element_at(col("m"), 1)), sum(element_at(col("m"), 2)),
            sum(element_at(col("m"), 3)))
          .as[(Long, Long, Long)].head()
      }
      require(stats == ((142858L, 142858L, 0L)), s"planted blocklist counts off: $stats")
      Seq("blocklist_1m_sec" -> sec, "blocklist_hits" -> stats._1)
    }

    // --- stage 31: connected components over 100k chains of 10 PLUS
    // one adversarial `longChain`-vertex chain, far above the driver
    // union-find's edge budget at the default 1,000: Large-Star /
    // Small-Star rounds. Every representative is exact: 10·⌊v/10⌋ on
    // the short chains, 1,000,000 on the long one. Reports the Spark
    // jobs of the call.
    def cc(longChain: Long): Seq[(String, Any)] = {
      val n = 1000000L + longChain
      val ((reps, jobs), sec) = timed {
        val pairs = spark.range(n)
          .filter((col("id") < 1000000L && col("id") % 10 =!= 9) ||
            (col("id") >= 1000000L && col("id") < n - 1))
          .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
        val (labels, jobs, _) =
          observed(Dedup.connectedComponents(spark.range(n).select(col("id")), pairs))
        (labels.agg(sum("cluster_rep"), countDistinct("cluster_rep"))
          .as[(Long, Long)].head(), jobs)
      }
      // Σ reps = 100·Σ_{b<100k} b + longChain·1,000,000
      require(reps == ((499995000000L + longChain * 1000000L, 100001L)),
        s"planted component reps off: $reps")
      Seq("cc_1m_sec" -> sec, "cc_components" -> reps._2, "cc_jobs" -> jobs)
    }

    // --- stage 31b: connected components over the corpus-prep chain's
    // graph — 1M disjoint 5-cliques (10M pairs, persisted before the
    // clock) among the 9M ids v % 10 != 9 below 10M. Each clique
    // member's rep is 10·⌊v/10⌋, every other id is its own.
    def ccCliques(): Seq[(String, Any)] = {
      val clique = spark.range(10000000L).filter(col("id") % 10 < 5)
      val pairs = clique.select(col("id").as("id_a"))
        .join(clique.select(col("id").as("id_b")),
          expr("id_a div 10 = id_b div 10 AND id_a < id_b"))
        .persist()
      pairs.count()
      val ((stats, jobs), sec) = timed {
        val ids = spark.range(10000000L).filter(col("id") % 10 =!= 9).select(col("id"))
        val (labels, jobs, _) = observed(Dedup.connectedComponents(ids, pairs))
        val want = when(col("id") % 10 < 5, expr("id div 10 * 10")).otherwise(col("id"))
        (labels.agg(
            countDistinct(when(col("cluster_rep") =!= col("id"), col("cluster_rep"))),
            sum(when(col("cluster_rep") =!= want, 1).otherwise(0)))
          .as[(Long, Long)].head(), jobs)
      }
      pairs.unpersist()
      require(stats == ((1000000L, 0L)),
        s"clique reps off: ${stats._1} non-trivial, ${stats._2} wrong")
      Seq("cc_cliques_sec" -> sec, "cc_cliques_components" -> stats._1,
        "cc_cliques_jobs" -> jobs)
    }

    // --- stage 32: streaming WARC ingest at archive scale — 200k docs
    // archived as 8 `.warc.gz` shards, streamed back through
    // Warc.readStream into the admission gate as a stream-static join
    // against the standing winner index. Every 10th doc is an EXACT
    // copy of its predecessor: 200k − 20k admitted.
    def warcStream(): Seq[(String, Any)] = {
      val (admitted, sec) = timed {
        val copySeed = when(col("id") % 10 === 9, col("id") - 1).otherwise(col("id"))
        val docs = spark.range(200000L)
          .select(col("id"), words(copySeed, 12, 881, 50000).as("text"))
        val dir = graft.util.Scratch.dir("scale_warc_stream").resolve("docs").toString
        graft.io.Warc.write(
          docs.repartition(8, col("id")).select(
            concat(lit("https://scale.example.org/doc/"), col("id")).as("uri"),
            lit("2026-01-01T00:00:00Z").as("date"), col("text")),
          dir, "uri", "date", "text")
        val winners = docs.select(md5(col("text")).as("digest"), col("id"))
          .groupBy("digest").agg(min("id").as("win_id"))
        val gated = graft.io.Warc.readStream(spark, dir)
          .select(regexp_extract(col("uri"), "/doc/(\\d+)$", 1).cast("long").as("id"),
            md5(col("text")).as("digest"))
          .join(winners, Seq("digest"))
          .filter(col("id") === col("win_id"))
        gated.writeStream.format("memory").queryName("scale_warc_stream_sink")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination()
        spark.table("scale_warc_stream_sink").count()
      }
      require(admitted == 180000L, s"planted WARC admission count off: $admitted")
      Seq("warc_stream_sec" -> sec, "warc_admitted" -> admitted)
    }
  }
}
