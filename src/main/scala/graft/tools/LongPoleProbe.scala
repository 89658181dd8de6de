package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Per-part profiler for the ScaleBench long poles (VERDICT r10 #4):
  * reruns the rank_1m / cc_1m / semdedup_1m / cooccur_1m stage bodies
  * with each component timed separately, so optimization targets are
  * measured, not guessed. Pass stage names as args to run a subset
  * (default: all four). Same data shapes and assertions as
  * [[graft.ScaleBench]] — a probe that silently computed something
  * else would profile the wrong code. */
object LongPoleProbe {

  private def timed[T](what: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[probe] $what%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .appName("graft-longpole-probe").master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", "16g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val stages = if (args.isEmpty) Seq("rank", "cc", "sem", "cooccur") else args.toSeq

    if (stages.contains("rank")) {
      import graft.operators.{PageRank, Scoring}
      def rword(seed: org.apache.spark.sql.Column, i: Int) =
        concat(lit("t"), pmod(hash(seed, lit(i + 77)), lit(200000)).cast("string"))
      val body = concat_ws(" ", (0 until 30).map(i => rword(col("id"), i)): _*)
      val text = concat(body,
        when(col("id") % 10 === 0, lit(" spark")).otherwise(lit("")),
        when(col("id") % 4 === 0, lit(" dup dup")).otherwise(lit("")))
      val docs = spark.range(1000000L).select(col("id"), text.as("text"))
        .persist()
      timed("rank: docs materialize")(docs.count())
      val top = timed("rank: bm25 top-100")(
        Scoring.bm25(docs, "id", "text", Seq("spark", "t42"), 100).count())
      val kept = timed("rank: linear classifier")(
        Scoring.linearScore(docs, "id", "text",
          Seq("spark" -> 5L, "dup" -> -3L), bias = 0L, threshold = 0L)
          .filter(col("keep")).count())
      docs.unpersist()
      val edges = spark.range(1000000L).select(
        concat(lit("h"), pmod(hash(col("id")), lit(100000)).cast("string"))
          .as("src"),
        when(col("id") % 3 === 0, lit("hub"))
          .otherwise(concat(lit("h"),
            pmod(hash(col("id"), lit(1)), lit(100000)).cast("string")))
          .as("dst"))
      val (topHost, nNodes) = timed("rank: pagerank 10 iters") {
        val ranks = PageRank.ranks(edges, "src", "dst", iterations = 10,
          checkpointEvery = 4).persist()
        val th = ranks.orderBy(col("rank").desc, col("node")).head().getString(0)
        val n = ranks.count()
        ranks.unpersist()
        (th, n)
      }
      require(top == 100L && kept == 750000L && topHost == "hub",
        s"rank stage drifted: $top $kept $topHost $nNodes")
    }

    if (stages.contains("cc")) {
      val n = 1001000L
      val ids = spark.range(n).select(col("id"))
      val pairs = spark.range(n)
        .filter((col("id") < 1000000L && col("id") % 10 =!= 9) ||
          (col("id") >= 1000000L && col("id") < 1000999L))
        .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
      val ccStats = timed("cc: 1M chains + adversarial") {
        val labels = graft.operators.Dedup.connectedComponents(ids, pairs)
        labels.agg(sum("cluster_rep"), countDistinct("cluster_rep"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).head
      }
      require(ccStats == ((500995000000L, 100001L)), s"cc drifted: $ccStats")
    }

    if (stages.contains("sem")) {
      val dim = 64
      val vec = array((0 until dim).map(d =>
        (hash(col("id"), lit(d)).cast("double") / 2147483647.0).cast("float")): _*)
      val base = spark.range(1000000L).select(col("id"), vec.as("embedding"))
      val planted = base.filter(col("id") % 100 === 0)
        .select((col("id") + 2000000L).as("id"),
          transform(col("embedding"), x => x * 2.0f).as("embedding"))
      val semStats = timed("sem: banded semdedup 1M") {
        val verdicts = graft.operators.Ann.semanticDedupBanded(
          base.union(planted), "id", "embedding",
          numSeeds = 64, threshold = 0.99, bands = 16, planesPerBand = 16)
          .persist()
        val dropped = verdicts.filter(!col("keep")).count()
        val total = verdicts.count()
        verdicts.unpersist()
        (dropped, total)
      }
      require(semStats == ((10000L, 1010000L)), s"sem drifted: $semStats")
    }

    if (stages.contains("cooccur")) {
      def cword(seed: org.apache.spark.sql.Column, i: Int) =
        concat(lit("w"), pmod(hash(seed, lit(i + 131)), lit(50000)).cast("string"))
      val body = concat_ws(" ", (0 until 20).map(i => cword(col("id"), i)): _*)
      val text = concat(body,
        when(col("id") % 10 === 0, lit(" alpha beta")).otherwise(lit("")))
      val docs = spark.range(1000000L).select(text.as("text"))
      val top = timed("cooccur: topPairs 1M")(
        graft.operators.Cooccur.topPairs(docs, "text", 2, 10).head())
      require((top.getString(0), top.getString(1), top.getLong(2),
        top.getLong(5)) == (("alpha", "beta", 100000L, 202000000L)),
        s"cooccur drifted: $top")
    }

    spark.stop()
  }
}
