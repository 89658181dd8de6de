package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid retrieval fusion — combine the ranked outputs of independent
  * retrievers (lexical BM25, embedding cosine, …) into one list with
  * Reciprocal Rank Fusion (Cormack/Clarke/Buettcher 2009):
  * score(d) = Σ_arms 1/(k + rank_arm(d)), zero for arms that did not
  * retrieve d. RRF needs no score calibration between arms — only
  * ranks — which is why it is the default fusion in production hybrid
  * search.
  *
  * Exactness discipline: contributions are integer micro-units
  * (1e6 div (k + rank)) so fused scores and the final ordering are
  * hash-exact across engines — the same cleared-denominator trick the
  * BM25 scorer uses.
  *
  * Scale shape: every arm's input here is an already-truncated top-N
  * list (tiny — the heavy lifting happened inside each retriever,
  * which has its own distributed plan); the fusion is a full-outer
  * join cascade over id with one row per retrieved document, then one
  * global top-N over ≤ Σ N rows and a rank window over the N kept.
  * At 100 TB nothing here grows with the corpus.
  */
object Hybrid {

  /** Fuse `arms` — each (id, rank) with rank 1-based — into the RRF
    * top-`topN`. Output: (rank, id, rank_0..rank_{n-1}, rrf_ppm),
    * ranks NULL where an arm did not retrieve the id. */
  def rrfFuse(arms: Seq[DataFrame], rrfK: Int = 60, topN: Int = 10): DataFrame = {
    require(arms.nonEmpty, "rrfFuse needs at least one arm")
    val prepared = arms.zipWithIndex.map { case (a, i) =>
      a.select(col("id"), col("rank").cast("long").as(s"rank_$i"))
    }
    val joined = prepared.reduce((l, r) => l.join(r, Seq("id"), "full_outer"))
    val fused = arms.indices.map { i =>
      coalesce(expr(s"1000000 div ($rrfK + rank_$i)"), lit(0L))
    }.reduce(_ + _)
    val top = joined.withColumn("rrf_ppm", fused.cast("long"))
      .orderBy(col("rrf_ppm").desc, col("id")).limit(topN)
    // rank over the topN surviving rows only — the unpartitioned window
    // sees a driver-bounded frame, never the full outer join
    top.withColumn("rank",
        row_number().over(Window.orderBy(col("rrf_ppm").desc, col("id")))
          .cast("long"))
      .select(col("rank") +: col("id") +:
        arms.indices.map(i => col(s"rank_$i")) :+ col("rrf_ppm"): _*)
  }
}
