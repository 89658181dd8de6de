package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document scoring for corpus search and model-based quality
  * filtering — the two ranking primitives of a training-data pipeline
  * the suite did not yet have:
  *
  *  - [[bm25]] — Okapi BM25 keyword retrieval (the classic
  *    tf·idf-with-length-normalization ranking function) over a small
  *    ad-hoc query-term set;
  *  - [[linearScore]] — a linear bag-of-words classifier (the shape of
  *    a fastText / logistic-regression quality filter: broadcast
  *    (term, weight) vocabulary, per-document dot product, threshold
  *    gate). The sigmoid is monotone, so thresholding the raw margin
  *    is the same decision as thresholding the probability — the
  *    margin stays in exact integer arithmetic.
  *
  * Exactness contract (the [[graft.queries.TextQueries]] oracle
  * discipline): no logs, no floats. BM25's idf becomes the integer
  * proxy `((N − df)·10⁶ div (df+1)) + 1` — monotone in the real
  * `log((N−df+0.5)/(df+0.5))`, which is all ranking needs — and the
  * k1=1.2, b=0.75 length normalization is multiplied through by
  * `10·T` (T = total corpus tokens, so avgdl = T/N) to clear every
  * denominator:
  *
  *   score(d, t) = idf(t) · (22·tf·T) div (10·T·tf + 3·T + 9·dl·N)
  *
  * — one integer division per (doc, term), bit-identical across
  * engines. Long headroom: idf ≤ ~10⁶·N/df and the dividend is
  * ≤ 22·tf·T ≈ 10¹⁸ at petabyte token counts — move the two products
  * to decimal(38,0) beyond that (same plan, wider lanes).
  *
  * 100 TB shape: [[bm25]] is ONE map-side-combined groupBy on doc_id
  * (per-term tf as conditional aggregates — the query-term set is a
  * handful of words by construction), one single-row totals frame
  * broadcast back, and a TakeOrdered top-k: document text never
  * shuffles, no per-term explode-join. [[linearScore]] is one
  * broadcast vocab join + one doc_id groupBy — the shuffle carries
  * (doc_id, weight) longs only. For a standing inverted-index service
  * you would persist the tf table bucketed by term; for ad-hoc
  * corpus-prep scoring this single-pass shape is the plan you want.
  */
object Scoring {

  private def toks(docs: DataFrame, idCol: String, textCol: String) =
    docs.select(col(idCol),
      explode(split(trim(lower(col(textCol))), "\\s+")).as("__tok"))

  /** BM25 top-k retrieval for a small query-term set. Returns the k
    * best documents as (rank, doc, dl, score); ties break on doc id.
    * Documents containing no query term score 0 and are ranked only
    * if fewer than k documents match. */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty && terms.size <= 64,
      s"bm25 is the ad-hoc query path: 1..64 terms, got ${terms.size}")
    val t = toks(docs, idCol, textCol)
    val tfCols = terms.zipWithIndex.map { case (term, i) =>
      sum(when(col("__tok") === term, 1L).otherwise(0L)).as(s"__tf$i")
    }
    val perDoc = t.groupBy(col(idCol))
      .agg(count(lit(1)).as("dl"), tfCols: _*)
    val dfCols = terms.indices.flatMap { i =>
      Seq(sum(when(col(s"__tf$i") > 0, 1L).otherwise(0L)).as(s"__df$i"))
    }
    val totals = perDoc.agg(sum(col("dl")).as("__T"),
      (count(lit(1)).as("__N") +: dfCols): _*)
    val scoreCol = terms.indices.map { i =>
      val tf = col(s"__tf$i"); val dfT = col(s"__df$i")
      val idf = expr(s"((__N - __df$i) * 1000000L div (__df$i + 1)) + 1L")
      when(tf > 0 && dfT > 0,
        idf * expr(s"(22L * __tf$i * __T) div " +
          s"(10L * __T * __tf$i + 3L * __T + 9L * dl * __N)"))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    val scored = perDoc.join(broadcast(totals))
      .withColumn("score", scoreCol)
      .select(col(idCol), col("dl"), col("score"))
      .orderBy(col("score").desc, col(idCol)).limit(k)
    // rank over the k surviving rows only — the unpartitioned window
    // sees a driver-bounded frame, never the corpus
    scored.withColumn("rank",
      row_number().over(Window.orderBy(col("score").desc, col(idCol)))
        .cast("long"))
      .select(col("rank"), col(idCol), col("dl"), col("score"))
  }

  /** Linear bag-of-words score: bias + Σ tf(term)·weight(term) over a
    * broadcast vocabulary, plus the keep decision at `threshold`.
    * Documents with no vocabulary hits score exactly `bias`. */
  def linearScore(docs: DataFrame, idCol: String, textCol: String,
      vocab: Seq[(String, Long)], bias: Long, threshold: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val v = broadcast(vocab.toDF("__tok", "__w"))
    val hits = toks(docs, idCol, textCol)
      .join(v, "__tok")
      .groupBy(col(idCol)).agg(sum(col("__w")).as("__dot"))
    docs.select(col(idCol)).join(hits, Seq(idCol), "left")
      .withColumn("score", coalesce(col("__dot"), lit(0L)) + lit(bias))
      .select(col(idCol), col("score"),
        (col("score") >= threshold).as("keep"))
  }

  /** Robust per-group outlier gate: keep rows within `cutoff` median
    * absolute deviations of their group's median — the
    * distribution-free length/score filter a corpus-quality pass runs
    * per source (mean/stddev gates move with the outliers they should
    * catch; median/MAD does not).
    *
    * Two grouped EXACT `percentile` aggregations (map-side partial:
    * Spark's Percentile buffers value→count, so memory tracks the
    * DISTINCT value count — bounded for discrete signals like token
    * counts; swap in `approx_percentile` for continuous domains) with
    * the group-sized median frames broadcast back. Both medians
    * interpolate (a+b)/2 on even counts, the same rule the SQL
    * engines use, and `(int ± k/2)`-grid arithmetic is exact in
    * doubles — so keep verdicts hash bit-for-bit. */
  def robustOutliers(df: DataFrame, groupCol: String, valCol: String,
      cutoff: Double): DataFrame = {
    val med = df.groupBy(groupCol)
      .agg(expr(s"percentile($valCol, 0.5)").as("med"))
    val dev = df.join(broadcast(med), Seq(groupCol))
      .withColumn("__ad", abs(col(valCol) - col("med")))
    val mad = dev.groupBy(groupCol)
      .agg(expr("percentile(__ad, 0.5)").as("mad"))
    dev.join(broadcast(mad), Seq(groupCol))
      .withColumn("keep_len", col("__ad") <= lit(cutoff) * col("mad"))
      .drop("__ad")
  }
}
