package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM-data pipelines (north-star extension,
  * SURVEY §7 step 9): token counting, quality scoring, language ID,
  * document fingerprinting. All are pure codegen'd column expressions —
  * no UDFs — so they run inside WholeStageCodegen and scale linearly with
  * input splits (no shuffle except the caller's aggregations).
  */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** BPE-ish subword proxy: count of letter-runs, digit-runs and
    * single punctuation marks (a cheap deterministic stand-in for a real
    * tokenizer's piece count — superseded by [[subwordTokenize]] for
    * anything that BUDGETS by tokens; kept for the text_stats signal). */
  def subwordCount(text: Column): Column =
    regexp_count(text, lit("([A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s])"))

  /** Vocab-driven greedy longest-match subword encoding
    * ([[graft.expressions.SubwordTokenize]]): array of piece ids
    * (indices into `vocab`; −1 = UNK). Pass a real model's piece list
    * to tokenize with its vocabulary. */
  def subwordTokenize(text: Column, vocab: Seq[String]): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.SubwordTokenize(
        Seq(org.apache.spark.sql.graftbridge.Bridge.expression(text)), vocab))

  /** Piece count under `vocab` — the unit of account for packing
    * budgets and domain-mix token totals. */
  def subwordTokenCount(text: Column, vocab: Seq[String]): Column =
    size(subwordTokenize(text, vocab))

  /** Demo vocabulary for the oracle-checked queries: every ASCII
    * lowercase letter, digit and common punctuation mark (so no ASCII
    * text ever hits UNK), frequent English bigrams, and whole-word /
    * split-piece entries tuned so the synthetic corpus exercises both
    * single-piece words and real multi-piece splits (cust+omer,
    * tab+le, quer+y, wind+ow, filt+er, val+ue, col+umn, vect+or).
    * Ids are positions in this list — the DuckDB oracles embed the
    * same (id, piece) pairs. */
  val demoVocab: Seq[String] =
    (('a' to 'z').map(_.toString) ++ ('0' to '9').map(_.toString) ++
      Seq(".", ",", "!", "?", "'", "\"", "-", ":", ";", "(", ")") ++
      Seq("th", "he", "in", "an", "re", "on", "at", "en", "st", "ar",
        "te", "ed", "es", "nd", "to", "is", "it", "ou", "ng", "se",
        "le", "er", "or", "ow",
        "the", "and", "data", "key", "row", "scan", "sort", "join",
        "hash", "batch", "small", "slow", "merge", "order", "line",
        "agg", "stream", "spark", "group", "part", "big", "fast",
        "cust", "omer", "col", "umn", "val", "ue", "tab", "quer",
        "wind", "filt", "vect")).toIndexedSeq

  /** The demo vocab as SQL VALUES rows `(id,'piece'),…` — shared by
    * every oracle that re-derives piece counts in DuckDB. */
  def demoVocabSqlValues: String =
    demoVocab.zipWithIndex.map { case (p, i) =>
      s"($i,'${p.replace("'", "''")}')"
    }.mkString(",")

  /** Piece-only VALUES rows `('piece'),…` for count-only oracles. */
  def demoVocabSqlPieces: String =
    demoVocab.map(p => s"('${p.replace("'", "''")}')").mkString(",")

  /** Merge-ranked BPE encoding ([[graft.expressions.BpeTokenize]]):
    * array of piece ids (indices into `vocab`; −1 = UNK), merges
    * applied lowest-rank-first. Pass a real model's merges file (pair
    * list in rank order) and piece list to reproduce its splits. */
  def bpeTokenize(text: Column, vocab: Seq[String],
      merges: Seq[(String, String)]): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.BpeTokenize(
        Seq(org.apache.spark.sql.graftbridge.Bridge.expression(text)),
        vocab, merges))

  /** Demo merges (rank = position) for the BPE oracle-checked queries:
    * chains that build multi-level pieces (d+a→da→dat→data,
    * 4+2→42→4242) so the rank order — not longest-match — decides the
    * splits, plus common English bigram merges. */
  val demoBpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "a" -> "n", "i" -> "n", "e" -> "r",
    "an" -> "d", "in" -> "g", "o" -> "n", "4" -> "2", "42" -> "42",
    "s" -> "t", "e" -> "n", "o" -> "r", "a" -> "r", "l" -> "e",
    "st" -> "r", "d" -> "a", "da" -> "t", "dat" -> "a")

  /** BPE demo vocab: single ASCII letters/digits/common punctuation
    * (every base symbol resolvable) plus exactly the merge results —
    * the closure property a real BPE vocab has by construction. `~` is
    * deliberately absent: the UNK path stays exercised. */
  val demoBpeVocab: Seq[String] =
    (('a' to 'z').map(_.toString) ++ ('0' to '9').map(_.toString) ++
      Seq(".", ",", "!", "?", "'", "\"", "-", ":", ";", "(", ")") ++
      demoBpeMerges.map { case (a, b) => a + b }).toIndexedSeq

  /** The demo merges as a SQL list literal of `'a b'` pair keys (rank =
    * 1-based list position) — symbols never contain spaces, so the
    * space-joined key is unambiguous. */
  def demoBpeMergesSqlList: String =
    demoBpeMerges.map { case (a, b) =>
      s"'${(a + " " + b).replace("'", "''")}'"
    }.mkString("[", ",", "]")

  /** The BPE demo vocab as a SQL list literal (id = position − 1). */
  def demoBpeVocabSqlList: String =
    demoBpeVocab.map(p => s"'${p.replace("'", "''")}'")
      .mkString("[", ",", "]")

  /** Character-class counts used by quality heuristics. */
  def alphaCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[A-Za-z]", ""))
  def digitCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[0-9]", ""))
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.!?,;:'\"()-]", ""))
  def spaceCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[ ]", ""))

  /** Stopword hit count over a fixed english list (quality heuristic). */
  val stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")
  def stopwordCount(text: Column): Column =
    // one compiled pass ([[graft.expressions.MarkerCounts]]) — the
    // filter-HOF form re-tokenized the text and ran an interpreted
    // lambda per token (r16 opt; value parity documented there)
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.MarkerCounts(
        org.apache.spark.sql.graftbridge.Bridge.expression(text),
        Seq(stopwords))).getItem(0)

  /** Word n-grams as a MULTISET (order kept, duplicates kept — unlike
    * [[Dedup.shingles]]' sorted-distinct sets): the unit of the
    * repetition quality signals below. Empty when the document has
    * fewer than `n` tokens. */
  def wordGrams(text: Column, n: Int): Column = {
    val toks = split(trim(lower(text)), "\\s+")
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Repetition signals (the Gopher-rule family): highly repetitive
    * documents — boilerplate, keyword stuffing, generation loops — show
    * a dominant n-gram or a low distinct-token ratio and are filtered
    * before training. Max multiplicity = max run length over the SORTED
    * gram array, so the per-row cost is O(g log g) — a naive
    * count-each-distinct-gram formulation is O(distinct × g), quadratic
    * on exactly the long repetitive documents this signal exists to
    * catch. Pure column expressions, no shuffle. */
  def topGramCount(text: Column, n: Int): Column = {
    val grams = array_sort(wordGrams(text, n))
    aggregate(
      grams,
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, g) => {
        val run = when(g === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(g.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      }).getField("best")
  }

  /** Fraction of tokens that repeat an earlier token:
    * (n_tokens − n_distinct) / n_tokens. */
  def dupTokenFraction(text: Column): Column = {
    val toks = split(trim(lower(text)), "\\s+")
    (size(toks) - size(array_distinct(toks))) /
      greatest(size(toks), lit(1)).cast("double")
  }

  /** Token offsets where fixed-size training chunks start: 0, stride,
    * 2·stride, … plus a final tail-aligned start at n−chunk so the last
    * tokens are never dropped when the stride doesn't divide evenly
    * (the standard sliding-window chunking for long-document training /
    * retrieval indexing). Documents shorter than `chunk` yield the
    * single start 0. Pure column expressions; pairs with a posexplode
    * so chunking stays one linear scan, no shuffle. */
  def chunkStarts(text: Column, chunk: Int, stride: Int): Column = {
    require(chunk > 0 && stride > 0 && stride <= chunk,
      s"chunk=$chunk stride=$stride")
    val tail = greatest(tokenCount(text) - chunk, lit(0))
    array_sort(array_distinct(concat(
      sequence(lit(0), tail, lit(stride)), array(tail))))
  }

  /** The chunk's text: `chunk` tokens from 0-based token offset
    * `start`, re-joined with single spaces (slice caps at the document
    * end). */
  def chunkText(text: Column, start: Column, chunk: Int): Column =
    concat_ws(" ", slice(split(trim(text), "\\s+"), start + 1, lit(chunk)))

  /** PII patterns (emails, North-American phone numbers, IPv4
    * addresses) — deliberately restricted to regex constructs with
    * identical semantics in Java regex (Spark codegen) and RE2 (the
    * DuckDB oracle): character classes, bounded repetition, `\b`,
    * non-capturing groups. Redaction + counting are standard corpus-prep
    * stages before LLM training. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b"
  val Ipv4Re = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** Count of PII matches per kind. */
  def piiEmailCount(text: Column): Column = regexp_count(text, lit(EmailRe))
  def piiPhoneCount(text: Column): Column = regexp_count(text, lit(PhoneRe))
  def piiIpCount(text: Column): Column = regexp_count(text, lit(Ipv4Re))

  /** URL pattern — same Java/RE2-identical construct discipline as the
    * PII patterns. Scheme + host (+ optional path up to whitespace);
    * the capturing host group feeds [[urlHosts]]. */
  val UrlRe = "https?://([A-Za-z0-9.-]+)(?:/[^\\s]*)?"

  /** All URLs / their lowercased hosts in a document — the extraction
    * stage of web-corpus curation (per-host stats, blocklists, source
    * attribution). Pure codegen'd regexp columns. */
  def urls(text: Column): Column = regexp_extract_all(text, lit(UrlRe), lit(0))
  def urlHosts(text: Column): Column =
    transform(regexp_extract_all(text, lit(UrlRe), lit(1)), h => lower(h))

  /** True when any of the document's URL hosts is on the blocklist or
    * a subdomain of a blocked host (the domain-blocklist gate every
    * web pipeline applies; blocklist is tiny — it rides the plan). */
  def hostBlocked(text: Column, blocklist: Seq[String]): Column = {
    require(blocklist.nonEmpty)
    val bl = blocklist.map(_.toLowerCase)
    exists(urlHosts(text), h =>
      bl.map(b => h === b || h.endsWith("." + b)).reduce(_ || _))
  }

  /** Replace every PII match with a typed placeholder. Order matters:
    * emails first (their local parts can contain digit runs), then IPs
    * (dotted digit groups), then phones. Pure codegen'd regexp_replace
    * chain — no UDF, no shuffle. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Full text normalization — the CCNet-style cleanup pass a corpus
    * runs before any hashing or tokenization: Unicode NFC composition
    * (compiled [[graft.expressions.NfcNormalize]]), zero-width
    * character strip (ZWSP/ZWNJ/ZWJ/BOM — invisible dedup poison),
    * whitespace collapse, trim. Pure column chain over codegen'd
    * regexes — no UDF, no shuffle, replayable in any engine with NFC
    * + RE2. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        org.apache.spark.sql.graftbridge.Bridge.column(
          graft.expressions.NfcNormalize(Seq(
            org.apache.spark.sql.graftbridge.Bridge.expression(text)))),
        "[\u200B\u200C\u200D\uFEFF]", ""),
      "\\s+", " "))

  /** Normalized fingerprint: lowercase, strip all non-alphanumerics, md5.
    * Near-identical docs (same words, different spacing/punct/case) get
    * equal fingerprints — the exact-dedup key for "normalized" dedup. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "[^a-z0-9]", ""))

  /** Language ID via stopword-profile scoring: the language whose marker
    * words hit the document most wins (deterministic n-gram-free
    * heuristic; ties break on language-code order). Marker lists are tiny
    * and inlined as literals → fully codegen'd, broadcast-free. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is", "to", "in", "that", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es" -> Seq("el", "la", "los", "las", "es", "y", "que", "de"),
    "fr" -> Seq("le", "la", "les", "est", "et", "que", "une", "dans"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有"))

  /** Best-scoring language, "und" when nothing matches. One compiled
    * pass ([[graft.expressions.LangId]]) — the former column chain ran
    * one tokenize + one interpreted filter-HOF PER LANGUAGE, then
    * array_max over struct(score, lang); the expression reproduces
    * exactly that scoring and tie-break (parity documented there,
    * pinned by TextAnalysisSpec against the old chain). */
  def languageId(text: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.LangId(
        org.apache.spark.sql.graftbridge.Bridge.expression(text),
        langMarkers))
}
