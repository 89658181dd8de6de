package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.Dedup

/** Sub-stage profile of the 10M-doc near-dup pipeline (the stage that
  * is ~60% of `Prep10M`'s total and the only one still between the
  * probe and its ≤160 s target). Re-runs `minhashNearDups`'s internal
  * steps one materialization at a time so the JSON line attributes the
  * stage's seconds to: sets-cache build, banding compute, the band
  * shuffle + bucket-size window, the bucket self-join, the pair
  * `distinct`, and the exact-Jaccard refine.
  *
  * Caveats printed with the numbers: `band_compute_sec` re-runs inside
  * `band_shuffle_sec` (the banded frame is deliberately not persisted,
  * matching the production plan), so the shuffle row's ATTRIBUTABLE
  * cost is `band_shuffle_sec - band_compute_sec`; the same subtraction
  * applies to `selfjoin_sec` vs its persisted inputs (none — mf is
  * persisted, so selfjoin is clean).
  *
  * Run: `SPARK_DRIVER_MEM=4g SPARK_GRAFT_CPUS=32
  *   sbt "runMain graft.tools.NearDupProfile [nDocs]"` — same session
  * config as [[Prep10M]] so the numbers transfer.
  */
object NearDupProfile {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val docsN = if (args.nonEmpty) args(0).toLong else 10000000L
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.graft.eagerShingleCache", "true")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "192"))
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.memory.fraction",
        sys.env.getOrElse("SPARK_GRAFT_MEM_FRACTION",
          if (Runtime.getRuntime.maxMemory < 6L * 1024 * 1024 * 1024) "0.5"
          else "0.6"))
      .config("spark.shuffle.spill.diskWriteBufferSize", (256 * 1024).toString)
      .config("spark.sql.inMemoryColumnarStorage.batchSize",
        sys.env.getOrElse("SPARK_GRAFT_CACHE_BATCH",
          if (Runtime.getRuntime.maxMemory < 6L * 1024 * 1024 * 1024)
            "1000" else "10000"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def steal(): Long = {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+")(8).toLong
      finally src.close()
    }

    val s0 = steal()
    // Same survivor frame Prep10M hands the stage: 9/10 of the corpus
    // (doc 9 is the byte-exact copy the exact pass removes).
    val survivors = CliqueCorpus.docs(spark.range(docsN).toDF("id"))
      .filter(col("id") % 10 =!= 9)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (_, tWarm) = timed(survivors.count())

    val shuffleP = org.apache.spark.sql.graftbridge.Bridge
      .numShufflePartitions(spark)
    // 1. sets cache: hashed shingles, pre-partitioned + pre-sorted on id
    val (sets, tSets) = timed {
      val s = survivors
        .select(col("id").cast("long").as("id"),
          Dedup.hashedShingles(col("text"), 3).as("shh"))
        .repartition(shuffleP, col("id")).sortWithinPartitions("id")
        .persist(StorageLevel.MEMORY_AND_DISK)
      s.count()
      s
    }
    // 2. banding compute alone (map over the cache, no wide shuffle)
    val (_, tBandCompute) = timed {
      Dedup.minhashBandedHashed(sets, 32, 16).count()
    }
    // 3. band shuffle + bucket-size window guard (includes one more
    //    banding compute — subtract tBandCompute for the shuffle cost)
    val ((mf, nMemb), tBandShuffle) = timed {
      val banded = Dedup.minhashBandedHashed(sets, 32, 16)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("band", "band_hash")
      val m = banded
        .repartition(shuffleP, col("band"), col("band_hash"))
        .withColumn("__n", count(lit(1)).over(w))
        .filter(col("__n") >= 2 && col("__n") <= 64)
        .drop("__n")
        .persist(StorageLevel.MEMORY_AND_DISK)
      (m, m.count())
    }
    // 4. bucket self-join, pre-distinct (exchange-free: mf persisted)
    val (nPairsRaw, tSelfJoin) = timed {
      mf.select(col("id").as("id_a"), col("band"), col("band_hash"))
        .join(mf.select(col("id").as("id_b"), col("band"), col("band_hash")),
          Seq("band", "band_hash"))
        .filter(col("id_a") < col("id_b"))
        .count()
    }
    // 5. self-join + distinct (production shape; subtract tSelfJoin
    //    for the distinct's own cost)
    val ((cand, nCand), tDistinct) = timed {
      val d = mf.select(col("id").as("id_a"), col("band"), col("band_hash"))
        .join(mf.select(col("id").as("id_b"), col("band"), col("band_hash")),
          Seq("band", "band_hash"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      (d, d.count())
    }
    // 6. exact-Jaccard refine (cand persisted, sets persisted: clean)
    val (nPairs, tRefine) = timed {
      Dedup.refineJaccardHashed(cand, sets, 0.5).count()
    }
    val s1 = steal()
    println(s"""{"metric":"neardup_profile","docs":$docsN,""" +
      s""""warm_sec":$tWarm,"sets_sec":$tSets,""" +
      s""""band_compute_sec":$tBandCompute,""" +
      s""""band_shuffle_sec":$tBandShuffle,""" +
      s""""selfjoin_sec":$tSelfJoin,"distinct_sec":$tDistinct,""" +
      s""""refine_sec":$tRefine,""" +
      s""""memb_rows":$nMemb,"pairs_raw":$nPairsRaw,"cand":$nCand,""" +
      s""""pairs":$nPairs,"steal_delta":${s1 - s0}}""")
    spark.stop()
  }
}
