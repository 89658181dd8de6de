package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** THE synthetic clique corpus shared by [[Prep10M]] and
  * [[RetryProbe]] — one definition, because both tools'
  * closed-form REQUIREs (pairs per template, survivor counts,
  * contamination counts) are derived from this exact construction and
  * must not drift apart.
  *
  * Per 10-doc template over a 5000-word hashed vocabulary, 25 words
  * each: docs 0-4 share a 23-word prefix and differ in the last 2
  * words (pairwise 3-shingle Jaccard 21/25 = 0.84 — near-dups at the
  * 0.5 gate); docs 5-8 take words 13-24 from their own id (11/35 =
  * 0.31 — LSH candidates, never dups); doc 9 is a byte-exact copy of
  * doc 8.
  */
object CliqueCorpus {

  /** Attach the corpus `text` to an `id` column (callers control the
    * id range, filters, and any fault-injection wrapping). */
  def docs(ids: DataFrame): DataFrame = {
    val template = expr("id div 10")
    val pos = col("id") % 10
    def word(seed: org.apache.spark.sql.Column, i: Int) =
      concat(lit("w"), pmod(hash(seed, lit(i)), lit(5000)).cast("string"))
    // doc 9 reuses doc 8's id for every word source → byte-exact copy
    val selfId = when(pos === 9, col("id") - 1).otherwise(col("id"))
    // docs 5-8 (and 9 via doc 8) switch to id-derived words at 13
    val tailFrom = when(pos >= 5, lit(13)).otherwise(lit(23))
    val text = concat_ws(" ", (0 until 25).map { i =>
      when(lit(i) < tailFrom, word(template, i)).otherwise(word(selfId, i))
    }: _*)
    ids.select(col("id"), text.as("text"))
  }
}
