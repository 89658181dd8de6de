package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Dedup, Packing, Sampling, TextAnalysis}

/** The LLM corpus-prep chain: quality filter, exact dedup, MinHash
  * near-dup pairs, connected components, a leakage-safe split, n-gram
  * decontamination against a benchmark set, and token-budget packing.
  *
  * The corpus is built so every stage's output count is known in
  * closed form. Per template of ten 25-word documents (words drawn from
  * a seeded 5000-word vocabulary):
  *  - docs 0-4 share a 23-word prefix and end in two words unique to
  *    the doc: 3-shingle Jaccard 21/25 = 0.84, so C(5,2) = 10 near-dup
  *    pairs and one component per template;
  *  - docs 5-8 share only the first 13 words (Jaccard 11/35 < 0.5), so
  *    they are never near-dups;
  *  - doc 9 is a byte copy of doc 8, removed by exact dedup.
  * Benchmark docs are doc 0 of every 100th template; the kept docs 5-8
  * of those templates share 8-word grams with it and are contaminated.
  */
object CorpusPrep extends Workload {
  val name = "corpus_prep"
  val templates = 2500
  val docs: Long = templates * 10L
  val benchEvery = 100
  private def corpusPath(dir: String) = s"$dir/corpus.parquet"

  /** The closed-form count of every stage. */
  val expected: Map[String, Long] = Map(
    "quality" -> docs,
    "exact_kept" -> templates * 9L,
    "pairs" -> templates * 10L,
    "kept" -> templates * 5L,
    "cross_split" -> 0L,
    "contaminated" -> templates / benchEvery * 4L,
    "packed" -> templates * 5L)

  def generate(spark: SparkSession, dir: String, seed: Long): Unit = {
    Files.createDirectories(Paths.get(dir))
    val template = expr("id div 10")
    val pos = col("id") % 10
    def word(src: Column, i: Int) =
      concat(lit("w"), pmod(xxhash64(lit(seed), src, lit(i)), lit(5000)).cast("string"))
    val self = when(pos === 9, col("id") - 1).otherwise(col("id"))
    val words = (0 until 25).map { i =>
      if (i < 13) word(template, i)
      else if (i < 23) when(pos < 5, word(template, i)).otherwise(word(self, i))
      else when(pos < 5, concat(lit("u"), col("id").cast("string"), lit(s"_$i")))
        .otherwise(word(self, i))
    }
    spark.range(docs).select(col("id"), concat_ws(" ", words: _*).as("text"))
      .repartition(8).write.mode("overwrite").parquet(corpusPath(dir))
  }

  def pass(spark: SparkSession, dir: String, tr: Tracer): PassResult = {
    val n = scala.collection.mutable.Map.empty[String, Long]
    def keep(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)
    val chain = Workload.op(name, tr) {
      Workload.timed {
        val corpus = spark.read.parquet(corpusPath(dir))
        val good = tr.span("operators.quality") {
          val q = keep(corpus.filter(TextAnalysis.tokenCount(col("text")) >= 20))
          n("quality") = q.count()
          q
        }
        val survivors = tr.span("operators.exact_dedup") {
          val winners = Dedup.exact(good, "id", "text").select("id")
          val s = keep(good.join(winners, "id"))
          n("exact_kept") = s.count()
          s
        }
        val pairs = tr.span("operators.minhash") {
          val p = keep(Dedup.minhashNearDups(survivors, "id", "text", 3, 0.5)
            .select(col("id_a"), col("id_b")))
          n("pairs") = p.count()
          p
        }
        val labels = tr.span("operators.cc") {
          val l = keep(Dedup.connectedComponents(survivors.select(col("id")), pairs))
          n("kept") = l.filter(col("id") === col("cluster_rep")).count()
          l
        }
        val kept = labels.filter(col("id") === col("cluster_rep"))
        tr.span("operators.split") {
          val split = Sampling.assignSplit(
            Sampling.hashBucket(col("cluster_rep"), "perfbench", 100), 80, 10)
          val bySplit = labels.select(col("id"), split.as("split"))
          n("cross_split") = pairs
            .join(bySplit.select(col("id").as("id_a"), col("split").as("sa")), "id_a")
            .join(bySplit.select(col("id").as("id_b"), col("split").as("sb")), "id_b")
            .filter(col("sa") =!= col("sb")).count()
        }
        tr.span("operators.contam") {
          val keptDocs = survivors.join(kept.select("id"), "id")
          n("contaminated") = Dedup.ngramContaminationBloom(keptDocs, "id", "text",
              col("id") % (benchEvery * 10L) === 0, 8,
              expectedBenchGrams = templates / benchEvery * 20L)
            .filter(col("contaminated")).count()
        }
        tr.span("operators.pack") {
          n("packed") = Packing.packByBudget(
              kept.select(col("id"), lit(25L).as("n_tokens")), "id", "n_tokens",
              budget = 2048)
            .count()
        }
      }._2
    } {
      val wrong = expected.collect { case (k, v) if !n.get(k).contains(v) =>
        s"$k ${n.get(k).map(_.toString).getOrElse("missing")} (expected $v)"
      }
      if (wrong.isEmpty) None else Some(wrong.mkString(", "))
    }
    PassResult(Seq(chain))
  }

}
