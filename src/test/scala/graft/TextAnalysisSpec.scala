package graft

import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Repetition-signal specs: the sorted run-length formulation of
  * topGramCount must equal the definitional max-multiplicity count.
  */
class TextAnalysisSpec extends SparkSpec {

  import spark.implicits._

  /** Definitional max gram multiplicity, computed in plain Scala. */
  private def bruteTop(text: String, n: Int): Int = {
    val toks = text.trim.toLowerCase.split("\\s+").toSeq
    if (toks.length < n) 0
    else toks.sliding(n).map(_.mkString(" ")).toSeq
      .groupBy(identity).values.map(_.size).max
  }

  test("topGramCount equals definitional max multiplicity") {
    val docs = Seq(
      "the cat sat on the mat",
      "buy now buy now buy now buy now",
      "a b a b a b a b a",           // overlapping repeats
      "one two three four five",      // all grams unique
      "word",                         // fewer tokens than n -> 0
      "  padded   spacing   padded   spacing  ",
      "Case CASE case Case CASE case")
    val df = docs.toDF("text")
      .select(col("text"), TextAnalysis.topGramCount(col("text"), 2).as("top2"))
    val got = df.as[(String, Int)].collect().toMap
    docs.foreach { d =>
      assert(got(d) == bruteTop(d, 2), s"doc: '$d'")
    }
  }

  test("topGramCount handles degenerate inputs") {
    val df = Seq("", " ", "x").toDF("text")
      .select(TextAnalysis.topGramCount(col("text"), 2).as("top2"))
    assert(df.as[Int].collect().forall(_ == 0))
  }

  test("RepetitionStats expression equals the Column formulation on real docs") {
    import org.apache.spark.sql.graftbridge.Bridge
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val r = Bridge.column(graft.expressions.RepetitionStats(
      Seq(Bridge.expression(col("text"))), 2))
    val both = docs.select(col("doc_id"), r.as("r"),
        TextAnalysis.tokenCount(col("text")).as("c_toks"),
        TextAnalysis.topGramCount(col("text"), 2).as("c_top"),
        TextAnalysis.dupTokenFraction(col("text")).as("c_dup"))
      .select(col("doc_id"),
        (col("r.n_toks") === col("c_toks")).as("toks_eq"),
        (col("r.top_gram") === col("c_top")).as("top_eq"),
        (((col("r.n_toks") - col("r.n_distinct")) /
          greatest(col("r.n_toks"), lit(1)).cast("double")) === col("c_dup"))
          .as("dup_eq"))
    val bad = both.filter(!col("toks_eq") || !col("top_eq") || !col("dup_eq"))
    assert(bad.count() == 0, bad.take(3).mkString("\n"))
  }

  test("chunkStarts tail-aligns the final chunk, never drops tokens") {
    // 50 tokens, chunk 32, stride 24 -> starts 0 and 18 (tail-aligned,
    // NOT 24 which would leave tokens 48..49 unreachable at full width)
    val doc = (1 to 50).map(i => s"t$i").mkString(" ")
    val starts = Seq(doc).toDF("text")
      .select(TextAnalysis.chunkStarts(col("text"), 32, 24).as("s"))
      .as[Seq[Int]].head()
    assert(starts == Seq(0, 18))
    // short doc: single chunk from 0, slice caps at the end
    val short = Seq("a b c").toDF("text")
      .select(TextAnalysis.chunkStarts(col("text"), 32, 24).as("s"),
        TextAnalysis.chunkText(col("text"), lit(0), 32).as("c"))
      .as[(Seq[Int], String)].head()
    assert(short == ((Seq(0), "a b c")))
  }

  test("stratifiedSample is deterministic and respects quotas") {
    import graft.operators.Sampling
    val rows = (0L until 300L).map(i => (i, s"s${i % 3}")).toDF("id", "g")
    val a = Sampling.stratifiedSample(rows, "g", "id", "x:", 5)
      .orderBy("g", "rank").collect().toSeq
    val b = Sampling.stratifiedSample(rows.orderBy(col("id").desc), "g", "id", "x:", 5)
      .orderBy("g", "rank").collect().toSeq
    assert(a == b)                      // input-order free
    assert(a.size == 15)                // 3 strata x 5
    // ranks agree with a full sort by (h48, id) within each stratum
    val naive = rows.select(col("g"), col("id"),
        conv(substring(md5(concat(lit("x:"), col("id").cast("string"))), 1, 12),
          16, 10).cast("long").as("h"))
      .orderBy("g", "h", "id").collect()
      .groupBy(_.getString(0)).view.mapValues(_.take(5).map(_.getLong(1)).toSeq)
    a.groupBy(_.getString(0)).foreach { case (g, rws) =>
      assert(rws.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq == naive(g), s"stratum $g")
    }
  }

  test("dupTokenFraction matches definitional value") {
    val df = Seq("a a a a", "a b c d", "").toDF("text")
      .select(TextAnalysis.dupTokenFraction(col("text")).as("f"))
    assert(df.as[Double].collect().toSeq == Seq(0.75, 0.0, 0.0))
  }

  test("url extraction lowercases hosts; blocklist catches subdomains") {
    val docs = Seq(
      "go to https://Spam.Example.COM/x?q=1 now",
      "both https://cdn.spam.example.com/a and http://good.org/p",
      "bare mention of spam.example.com without scheme",
      "no links at all").toDF("text")
    val got = docs.select(
      size(TextAnalysis.urls(col("text"))).as("n"),
      concat_ws(",", TextAnalysis.urlHosts(col("text"))).as("hosts"),
      TextAnalysis.hostBlocked(col("text"), Seq("spam.example.com")).as("b"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getBoolean(2)))
    assert(got(0) === ((1, "spam.example.com", true)))
    assert(got(1) === ((2, "cdn.spam.example.com,good.org", true)))
    // schemeless mentions are not URLs, and must not trip the blocklist
    assert(got(2) === ((0, "", false)))
    assert(got(3) === ((0, "", false)))
    // an unrelated host that merely ENDS with the blocked string is safe
    val tricky = Seq("https://notspam.example.com/a https://xspam.example.com/b")
      .toDF("text")
      .select(TextAnalysis.hostBlocked(col("text"), Seq("spam.example.com")))
      .head().getBoolean(0)
    assert(!tricky)
  }
  test("normalizeText composes NFC, strips zero-width, collapses whitespace") {
    import spark.implicits._
    // "cafe" + combining acute -> composed e-acute (1 codepoint shorter);
    // ZWSP vanishes; runs of whitespace collapse; result trimmed
    val dirty = "  cafe\u0301  x\u200By\ttail  "
    val got = Seq(dirty).toDF("t")
      .select(TextAnalysis.normalizeText(col("t")).as("n"))
      .head().getString(0)
    assert(got === "caf\u00e9 xy tail")
    // idempotent on already-clean ASCII
    val clean = Seq("plain ascii text").toDF("t")
      .select(TextAnalysis.normalizeText(col("t"))).head().getString(0)
    assert(clean === "plain ascii text")
  }

  /** The former (pre-r16) column chains the compiled marker
    * expressions replaced — kept here as the parity reference. */
  private def chainStopwordCount(text: org.apache.spark.sql.Column) = {
    val toks = split(trim(lower(text)), "\\s+")
    size(filter(toks, t => t.isInCollection(TextAnalysis.stopwords)))
  }
  private def chainLanguageId(text: org.apache.spark.sql.Column) = {
    val toks = split(trim(lower(text)), "\\s+")
    val scored = TextAnalysis.langMarkers.keys.toSeq.sorted.map { l =>
      val score = size(filter(toks,
        t => t.isInCollection(TextAnalysis.langMarkers(l))))
      struct(score.as("score"), lit(l).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise("und")
  }

  test("LangId / MarkerCounts equal the former column chains") {
    // adversarial fixtures: ties across languages (array_max tie-break
    // resolves to the lexicographically-largest code), duplicate
    // markers (counted per occurrence, not distinct), shared markers
    // across languages (es/fr 'la', es/de 'es'), mixed/zero scores,
    // whitespace padding, case folding, CJK, empty string
    val docs = Seq(
      "the cat and the hat",                  // en, duplicates counted
      "der und das ist la the",               // de=4 vs en=1 vs fr=1
      "la la la",                             // es/fr tie on 3 -> fr
      "the der",                              // en/de tie on 1 -> de (no: en>de) -> en
      "xyzzy plugh",                          // no marker -> und
      "",                                     // empty -> und
      "  The   AND   Of  ",                   // trim/case/multi-space
      "的 是 了 在 我 有",                      // zh
      "es es es the the the",                 // es=3 en=3 tie -> es? (en<es) -> es
      "le la les est et que une dans")        // fr
    val df = docs.toDF("text")
    val both = df.select(
      TextAnalysis.languageId(col("text")).as("got_lang"),
      chainLanguageId(col("text")).as("exp_lang"),
      TextAnalysis.stopwordCount(col("text")).as("got_sw"),
      chainStopwordCount(col("text")).as("exp_sw"))
    both.collect().zip(docs).foreach { case (r, d) =>
      assert(r.getString(0) === r.getString(1), s"lang mismatch on '$d'")
      assert(r.getInt(2) === r.getInt(3), s"stopword mismatch on '$d'")
    }
    // null text: chain yields "und" (when(NULL>0).otherwise) and NULL
    // stopword count; the expressions must match both
    val nullRow = df.limit(1)
      .select(lit(null).cast("string").as("text"))
      .select(TextAnalysis.languageId(col("text")).as("l"),
        TextAnalysis.stopwordCount(col("text")).as("s"),
        chainLanguageId(col("text")).as("cl"),
        chainStopwordCount(col("text")).as("cs"))
      .head()
    assert(nullRow.getString(0) === "und" && nullRow.getString(2) === "und")
    assert(nullRow.isNullAt(1) && nullRow.isNullAt(3))
  }

  test("LangId / MarkerCounts equal the former chains on real testdata") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val bad = docs.select(
        TextAnalysis.languageId(col("text")).as("g"),
        chainLanguageId(col("text")).as("e"),
        TextAnalysis.stopwordCount(col("text")).as("gs"),
        chainStopwordCount(col("text")).as("es"))
      .filter(col("g") =!= col("e") || col("gs") =!= col("es"))
      .count()
    assert(bad == 0L)
  }
}
