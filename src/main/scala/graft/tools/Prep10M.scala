package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Packing, Sampling, TextAnalysis}

/** End-to-end corpus prep at n documents (10M by default) — the full
  * `pipeline_docprep` + split + decontamination + packing chain, at the
  * default 10× the largest ScaleBench stage, with every stage's output
  * count REQUIRE'd against its closed-form expectation (the corpus is
  * constructed so each stage's result is exactly computable — a probe
  * that only prints seconds can silently measure a broken pipeline).
  *
  * Corpus: n/10 templates × 10 docs of 25 words (5000-word hashed
  * vocabulary). Per template: docs 0-4 share a 23-word prefix and
  * differ in the last 2 words (pairwise 3-shingle Jaccard 21/25 = 0.84
  * — near-dups above the 0.5 gate); docs 5-8 take words 13-24 from
  * their own id (11/35 = 0.31 against every sibling — near-certain
  * CANDIDATES ~80% of the time under the default 16-band/2-row LSH,
  * so the exact-Jaccard refine genuinely rejects ~21 pairs per
  * template, but never dups; a missed clique pair is (1-0.84²)^16
  * ≈ 4e-9, and the fixed hash seeds make the outcome deterministic —
  * measured exactly 10M pairs at n = 10M); doc 9 is a byte-exact copy
  * of doc 8. Cross-template 8-word grams collide only on an md5-level
  * accident (~0 at 5000^8), so the expectations are exact:
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
  * Prints one JSON line with per-stage seconds + the verified counts.
  * Run: `sbt "runMain graft.tools.Prep10M [nDocs]"` — `nDocs` a
  * positive multiple of 1,000, default 10,000,000 (~8 GiB heap, 32
  * threads at the default).
  */
object Prep10M {
  def main(args: Array[String]): Unit = {
    val docsN = args.headOption.fold(10000000L)(_.toLong)
    require(docsN > 0 && docsN % 1000 == 0,
      s"nDocs must be a positive multiple of 1,000, got $docsN")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // Keep the eager shingle-cache stage split unconditionally here
      // even though 192 partitions stays on the bypass writer (where
      // the fd failure mode can't exist): at a 4 GiB heap the map stage
      // still benefits from not sharing its working set with the cache
      // unroll. Declared-query paths (32 partitions) take the lazy path
      // via Dedup.eagerShingleCacheDefault's bypass-threshold gate.
      .config("spark.graft.eagerShingleCache", "true")
      // Reduce-side partition count is the memory:data deployment
      // parameter this probe exists to measure: at 32 partitions each
      // band-shuffle reduce task sorts ~4M wide rows and the 4 GiB
      // ladder rung dies in the spill-merge of the window sort (one
      // 1 MB UnsafeSorterSpillReader buffer per spill file per task ×
      // 32 concurrent tasks). 192 initial partitions cut per-task sort
      // volume 6×; AQE coalesces the small stages back so tiny shuffles
      // don't pay the extra task overhead. 192 and not 256: staying at
      // or under spark.shuffle.sort.bypassMergeThreshold (200) keeps
      // the MAP side on the bypass writer, whose fd ceiling is exactly
      // P files per task — above the threshold the sort-based writer's
      // micro-spills under a contended pool held ~600 spill files open
      // per task at the merge and died on the process fd limit
      // (measured: 19,896 open temp_shuffle fds at 256 partitions).
      // Same knob a 1000-executor cluster turns (initial partitions
      // scaled to input bytes / target partition size), exercised here
      // at the probe's scale.
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "192"))
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Starved-heap headroom: Spark's tracked memory (execution +
      // storage) spills by design, but the 4 GiB rung dies in UNTRACKED
      // allocations — shuffle-writer serialization buffers, spill-merge
      // readers, codegen transients — once the unified pool has claimed
      // its 0.6 default. Below 6 GiB the fraction auto-drops to 0.5,
      // trading spill volume for crash-free headroom; at the suite
      // default 8 GiB the 0.6 stays (0.5 there spills the near-dup
      // stage 147 s → 416 s for no safety gain — measured). The
      // per-task disk-write buffer drops 1 MB → 256 KB (× 32 concurrent
      // tasks × spills, pure transient).
      .config("spark.memory.fraction",
        sys.env.getOrElse("SPARK_GRAFT_MEM_FRACTION",
          if (Runtime.getRuntime.maxMemory < 6L * 1024 * 1024 * 1024) "0.5"
          else "0.6"))
      .config("spark.shuffle.spill.diskWriteBufferSize", (256 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // cache-unroll transient control: with cpus concurrent tasks each
      // building columnar batches of wide shingle-array rows, a 10k-row
      // batch is the heap spike that sets the probe's memory floor
      // (ColumnBuilder buffers are untracked heap) — 1k keeps the
      // transient ~1/10th at a compression/throughput cost the healthy
      // rung should not pay, so it scales with the heap like the
      // memory fraction below
      .config("spark.sql.inMemoryColumnarStorage.batchSize",
        sys.env.getOrElse("SPARK_GRAFT_CACHE_BATCH",
          if (Runtime.getRuntime.maxMemory < 6L * 1024 * 1024 * 1024)
            "1000" else "10000"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // Stage-local partition sizing (VERDICT r12 #5): the 192-partition
    // count exists for the two heavy wide stages (the digest groupBy
    // and the band shuffle, where per-task sort volume sets the memory
    // floor and the bypass writer's fd ceiling must stay
    // deterministic). The small stages (split/contam/pack — skinny
    // 5-15M-row joins) paid ~80 s of the 4 GiB total in pure task
    // overhead at that same 192; they run at the suite's batch default
    // instead. Same lesson as a real cluster: partition count is a
    // PER-STAGE parameter scaled to that stage's bytes, not a global.
    // Spark picks the count at ACTION time, so each stage's action
    // (and any eager work inside the operator call) is wrapped.
    val heavyP = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "192")
    val lightP = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_SMALL", "32")
    def withP[A](n: String)(f: => A): A = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", n)
      try f finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }

    val docs = CliqueCorpus.docs(spark.range(docsN).toDF("id"))

    // ONE generation pass computes BOTH the quality signal and the
    // dedup digest (VERDICT r15 #3: quality and exact-dedup were two
    // independent full-corpus scans — at this probe's scale a "scan"
    // is a full corpus GENERATION, the dominant cost of both stages).
    // The cached frame is skinny on purpose: (id, token count, 64-bit
    // digest) is 20 bytes a row — caching the text itself would be
    // 10M × ~170 B against a 4 GiB heap. The digest is xxhash64, not
    // the declared query's md5 (kept there solely for DuckDB-oracle
    // parity): a 64-bit collision over 10M fixed, deterministic docs
    // either always existed or never does, and the exact count gate
    // below pins that it doesn't — same exactness argument as the r15
    // Bloom contamination swap.
    val meta = docs.select(col("id"),
        TextAnalysis.tokenCount(col("text")).as("tc"),
        xxhash64(col("text")).as("digest"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (nQuality, tQuality) = timed {
      withP(heavyP) {
        meta.filter(col("tc") >= 20).count()
      }
    }
    require(nQuality == docsN, s"quality gate: $nQuality")

    // exact dedup, docprep discipline: only (id, digest) ever shuffles
    // — and from the cache, not a second generation; the LOSER set
    // (1M ids — the small side by construction of any dedup)
    // anti-joins back against the text as a broadcast, so document
    // text never enters an Exchange. (At 100 TB with a
    // non-broadcastable loser set, a doc_id-bucketed corpus makes this
    // anti-join storage-partitioned — pipeline_docprep's contract.)
    val dropped = meta.join(
        meta.groupBy("digest").agg(min("id").as("win")), "digest")
      .filter(col("id") =!= col("win")).select("id")
    val survivors = docs.join(broadcast(dropped), Seq("id"), "left_anti")
      .select(col("id"), col("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (nExact, tExact) = timed(withP(heavyP) {
      val n = survivors.count()
      meta.unpersist(false) // digest cache is dead once survivors exist
      n
    })
    require(nExact == docsN / 10 * 9, s"exact dedup kept: $nExact")

    // the operator call sits INSIDE the heavy wrap: the eager
    // shingle-cache stage split runs at call time
    val ((pairs, nPairs), tNearDup) = timed(withP(heavyP) {
      val p = Dedup.minhashNearDups(survivors, "id", "text", 3, 0.5)
        .select(col("id_a"), col("id_b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (p, p.count())
    })
    require(nPairs == docsN, s"near-dup pairs: $nPairs")

    // CC's rounds materialize at call time — wrapped with its
    // action so the LOOP is inside the measurement (r12's cc_sec only
    // timed the final count; the loop ran untimed at construction).
    // Light won here for the earlier label-propagation loop: a 4 GiB
    // A/B measured 22.2 s at 32 vs 71.5 s at 192, per-round task
    // overhead at 192 dominating (not re-measured for the
    // Large-Star/Small-Star rounds, two of them on this graph).
    val ((labels, nComp), tCc) = timed(withP(lightP) {
      val l = Dedup.connectedComponents(survivors.select(col("id")), pairs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = l.filter(col("cluster_rep") =!= col("id")).select("cluster_rep")
        .distinct().count()
      (l, n)
    })
    require(nComp == docsN / 10, s"non-trivial components: $nComp")

    // keep the component rep (min id — doc 0 of each clique), drop the
    // other members; singletons keep themselves
    val kept = labels.filter(col("id") === col("cluster_rep"))
      .select(col("id"), col("cluster_rep"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (nKept, tKept) = timed(withP(lightP)(kept.count()))
    require(nKept == docsN / 2, s"kept after near-dedup: $nKept")

    // leakage-safe split: bucket the component REP, so any two docs of
    // one near-dup family can never straddle a split boundary
    val split = kept.withColumn("split",
      Sampling.assignSplit(
        Sampling.hashBucket(col("cluster_rep"), "prep10m", 100), 80, 10))
    val ((splitCounts, crossPairs), tSplit) = timed(withP(lightP) {
      val counts = split.groupBy("split").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // split is a PURE FUNCTION of cluster_rep, so each pair member's
      // split comes straight from its label row — no label→rep
      // propagation join (an r12-shape 9M×5M join this stage doesn't
      // need; its removal is what actually moved the stage, not the
      // partition count)
      val bySplit = labels.select(col("id"),
        Sampling.assignSplit(
          Sampling.hashBucket(col("cluster_rep"), "prep10m", 100), 80, 10)
          .as("split"))
      val cross = pairs
        .join(bySplit.select(col("id").as("id_a"), col("split").as("sa")), "id_a")
        .join(bySplit.select(col("id").as("id_b"), col("split").as("sb")), "id_b")
        .filter(col("sa") =!= col("sb")).count()
      (counts, cross)
    })
    require(crossPairs == 0L, s"near-dup pairs across splits: $crossPairs")

    // decontamination AFTER dedup (real prep order): benchmark = every
    // 1000th id (always a kept doc-0), 8-word grams. The Bloom variant:
    // same EXACT verdict (bloom prefilter + exact broadcast refine),
    // but grams hash with compiled xxhash64 instead of the md5-hex-conv
    // chain the declared query keeps solely for DuckDB-oracle parity —
    // ~90M gram hashes is the stage's hot loop (r15).
    val (nContam, tContam) = timed(withP(lightP) {
      val keptDocs = survivors.join(kept.select("id"), Seq("id"))
      Dedup.ngramContaminationBloom(keptDocs, "id", "text",
          col("id") % 1000 === 0, 8, expectedBenchGrams = 200000L)
        .filter(col("contaminated")).count()
    })
    require(nContam == docsN / 250, s"contaminated kept docs: $nContam")

    val (packStats, tPack) = timed(withP(lightP) {
      Packing.packByBudget(
          kept.select(col("id"), lit(25L).as("n_tokens")),
          "id", "n_tokens", budget = 2048)
        .agg(count(lit(1)).as("n"), max("shard").as("maxShard"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).head
    })
    require(packStats._1 == docsN / 2, s"packed rows: ${packStats._1}")

    val sc = splitCounts.withDefaultValue(0L)
    println(s"""{"metric":"prep_10m","docs":$docsN,""" +
      s""""quality_sec":$tQuality,"exact_sec":$tExact,""" +
      s""""neardup_sec":$tNearDup,"cc_sec":$tCc,"kept_sec":$tKept,""" +
      s""""split_sec":$tSplit,"contam_sec":$tContam,"pack_sec":$tPack,""" +
      s""""total_sec":${tQuality + tExact + tNearDup + tCc + tKept +
        tSplit + tContam + tPack},""" +
      s""""kept":$nKept,"components":$nComp,"contaminated":$nContam,""" +
      s""""train":${sc("train")},"val":${sc("val")},"test":${sc("test")},""" +
      s""""cross_split_pairs":$crossPairs,"pack_shards":${packStats._2 + 1}}""")
    spark.stop()
  }
}
