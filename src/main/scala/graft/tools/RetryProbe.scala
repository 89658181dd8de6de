package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Task-retry determinism probe: on a 1000-executor cluster tasks FAIL
  * — spot preemption, OOM kills, disk faults — and Spark retries them.
  * That recovery is only correct if every operator is deterministic:
  * a retried task must recompute byte-identical partial results, or
  * the job "succeeds" with silently different output (the classic
  * non-deterministic-expression-under-retry corruption). Local specs
  * run with `spark.task.maxFailures=1` and never exercise this path.
  *
  * This probe runs `local[8,4]` (task retries ON) and executes the
  * near-dup pipeline (shingles → MinHash-LSH banding → hashed-long
  * Jaccard refine → connected components) over 500k docs twice:
  * once clean, once with INJECTED one-shot task failures both below
  * the first shuffle (source recompute path) and after it (reducer
  * retry + shuffle-fetch replay path). The run must complete despite
  * the failures, must have actually retried (injection counters
  * checked), and both runs' full outputs must match exactly:
  * pair-set count + order-free pair checksum + kept-set checksum.
  *
  * A separate JVM (not a spec) because task-retry policy is a
  * SparkContext-level setting and the test JVM shares one session.
  * Prints one JSON line. Run: `sbt "runMain graft.tools.RetryProbe"`.
  */
object RetryProbe {
  val srcFailures = new AtomicInteger(0)
  val redFailures = new AtomicInteger(0)

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8,4]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR") // injected failures are noisy at WARN

    val docsN = 500000L

    // the ScaleBench prep corpus at half its 1M default: 50k 5-cliques of near-dups
    def corpus(injectSource: Boolean): DataFrame = {
      val ids0 = spark.range(docsN)
      val ids =
        if (!injectSource) ids0
        else ids0.as(Encoders.scalaLong).mapPartitions { it =>
          val tc = TaskContext.get()
          if (tc != null && tc.attemptNumber == 0 && tc.partitionId % 3 == 0) {
            srcFailures.incrementAndGet()
            throw new RuntimeException("injected source-task failure")
          }
          it
        }(Encoders.scalaLong).toDF("id")
      CliqueCorpus.docs(ids.toDF("id"))
    }

    /** (pair count, order-free pair checksum, kept count, kept checksum) */
    def run(injectSource: Boolean, injectReduce: Boolean)
        : (Long, Long, Long, Long) = {
      val docs = corpus(injectSource)
      val pairs0 = Dedup.minhashNearDups(docs, "id", "text", 3, 0.5)
        .select(col("id_a"), col("id_b"))
      val pairs =
        if (!injectReduce) pairs0
        else pairs0.as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
          .mapPartitions { it =>
            val tc = TaskContext.get()
            if (tc != null && tc.attemptNumber == 0 && tc.partitionId % 3 == 0) {
              redFailures.incrementAndGet()
              throw new RuntimeException("injected reduce-task failure")
            }
            it
          }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
          .toDF("id_a", "id_b")
      val labels = Dedup.connectedComponents(docs.select("id"), pairs)
      val p = pairs.agg(count(lit(1)).as("n"),
          sum(hash(col("id_a"), col("id_b")).cast("long")).as("ck"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).head
      val k = labels.filter(col("id") === col("cluster_rep"))
        .agg(count(lit(1)).as("n"),
          sum(hash(col("id")).cast("long")).as("ck"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).head
      (p._1, p._2, k._1, k._2)
    }

    val t0 = System.nanoTime()
    val clean = run(injectSource = false, injectReduce = false)
    val tClean = (System.nanoTime() - t0) / 1e9
    // C(5,2)=10 clique pairs + the (8,9) exact-copy pair per template
    // (no exact-dedup stage here, so doc 9 participates at J=1.0)
    require(clean._1 == 11L * (docsN / 10), s"clean pairs: ${clean._1}")

    val t1 = System.nanoTime()
    val faulty = run(injectSource = true, injectReduce = true)
    val tFaulty = (System.nanoTime() - t1) / 1e9

    require(srcFailures.get > 0, "no source-task failures were injected")
    require(redFailures.get > 0, "no reduce-task failures were injected")
    require(clean == faulty,
      s"retried run diverged: clean=$clean faulty=$faulty")

    println(s"""{"metric":"retry_probe","docs":$docsN,""" +
      s""""clean_sec":$tClean,"faulty_sec":$tFaulty,""" +
      s""""source_failures":${srcFailures.get},""" +
      s""""reduce_failures":${redFailures.get},""" +
      s""""pairs":${clean._1},"pair_checksum":${clean._2},""" +
      s""""kept":${clean._3},"kept_checksum":${clean._4},""" +
      s""""identical":true}""")
    spark.stop()
  }
}
