package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Dev-only timing harness for the connected-components loop on two
  * graphs, without running the suites that contain them:
  *  - `chains` (default): ScaleBench stage 31's graph, 100k 10-chains
  *    plus one `longChainLen`-vertex chain (default 1,000). At 1,000 the
  *    reps sum to 500,995,000,000 over 100,001 components.
  *  - `cliques`: Prep10M's cc input, 1M disjoint 5-cliques
  *    (10M pairs) among the 9M ids `v % 10 != 9` below 10M. Each clique
  *    member's rep is 10·⌊v/10⌋ and every other id is its own rep.
  * Prints wall seconds for the call plus one check action, and the
  * Spark jobs the call itself ran; the pair list is persisted before
  * the clock starts. Runs at `local[SPARK_GRAFT_CPUS]` (default 32)
  * with as many shuffle partitions.
  * `runMain graft.tools.CcScale [chains [longChainLen] | cliques]`.
  */
object CcScale {
  def main(args: Array[String]): Unit = {
    val shape = args.headOption.getOrElse("chains")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new AtomicInteger()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    val (ids, pairs) = shape match {
      case "cliques" =>
        val clique = spark.range(10000000L).filter(col("id") % 10 < 5)
        (spark.range(10000000L).filter(col("id") % 10 =!= 9).select(col("id")),
          clique.select(col("id").as("id_a"))
            .join(clique.select(col("id").as("id_b")),
              expr("id_a div 10 = id_b div 10 AND id_a < id_b")))
      case "chains" =>
        val chainLen = if (args.length > 1) args(1).toInt else 1000
        val n = 1000000L + chainLen
        (spark.range(n).select(col("id")),
          spark.range(n)
            .filter((col("id") < 1000000L && col("id") % 10 =!= 9) ||
              (col("id") >= 1000000L && col("id") < lit(n - 1)))
            .select(col("id").as("id_a"), (col("id") + 1).as("id_b")))
      case other => sys.error(s"unknown shape $other (chains | cliques)")
    }
    // the pair list is materialized before the clock starts, as Prep10M's is
    pairs.persist().count()
    Bridge.drainListenerBus(spark.sparkContext)
    jobs.set(0)
    val t0 = System.nanoTime()
    val labels = graft.operators.Dedup.connectedComponents(ids, pairs)
    Bridge.drainListenerBus(spark.sparkContext)
    val callJobs = jobs.get()
    val result = shape match {
      case "cliques" =>
        val want = when(col("id") % 10 < 5, expr("id div 10 * 10"))
          .otherwise(col("id"))
        val r = labels.agg(
            countDistinct(when(col("cluster_rep") =!= col("id"),
              col("cluster_rep"))),
            sum(when(col("cluster_rep") =!= want, 1).otherwise(0)))
          .collect().head
        require(r.getLong(0) == 1000000L && r.getLong(1) == 0L,
          s"clique reps off: ${r.getLong(0)} non-trivial, ${r.getLong(1)} wrong")
        s"comps=${r.getLong(0)}"
      case _ =>
        val r = labels.agg(sum("cluster_rep"), countDistinct("cluster_rep"))
          .collect().head
        s"comps=${r.getLong(1)} sum=${r.getLong(0)}"
    }
    println(f"[ccscale] shape=$shape cpus=$cpus $result " +
      f"jobs=$callJobs ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
