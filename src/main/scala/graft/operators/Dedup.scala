package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for LLM-data pipelines (north-star extension).
  *
  * Scale notes (100 TB): every variant is a shuffle on a compact key
  * (16-byte digest / 8-byte band hash / single shingle token) — document
  * text and signature arrays never ride a candidate-generation shuffle.
  * No crossJoin appears in any plan: exact Jaccard uses a prefix-filtered
  * inverted index; MinHash and SimHash bucket candidates and refine.
  * Signatures are pure column expressions (WholeStageCodegen, no UDFs).
  */
object Dedup {

  /** Bounded per-session registry of the intermediate frames these
    * operators persist (the shared shingle cache).
    * Each operator call persists one frame that the RETURNED lazy
    * DataFrame still reads, so it cannot be unpersisted at return —
    * but a long-lived session calling operators repeatedly must not
    * accumulate MEMORY_AND_DISK blocks forever (disk blocks are not
    * LRU-reclaimed the way memory blocks are). The registry keeps the
    * most recent `maxRetainedCaches` frames per session and unpersists
    * the eldest beyond that. Sized so one composed pipeline stage
    * (one near-dup call persists its shingle cache) never evicts its
    * own cache mid-flight.
    *
    * One handle per plan: Spark's CacheManager keys an entry by
    * `sameResult` on the plan, so a handle persisted by an earlier
    * call on the same input names the SAME entry as the new one, and
    * unpersisting it would uncache the frame the current call just
    * persisted. Such a handle leaves the queue without an unpersist.
    * Losing the cache is not just a recompute: the refine joins lose
    * their exchange-free cache side, and a repeated
    * `minhashNearDups` on the 25k-doc benchmark corpus ran 5 extra
    * jobs and wrote 4× the shuffle (41.9 MB against 10.9 MB) per call. */
  private val retainedCaches = scala.collection.mutable
    .Map.empty[SparkSession, scala.collection.mutable.Queue[DataFrame]]
  private[graft] val maxRetainedCaches = 6

  private def persistBounded(df: DataFrame): DataFrame = synchronized {
    val q = retainedCaches.getOrElseUpdate(df.sparkSession,
      scala.collection.mutable.Queue.empty[DataFrame])
    df.persist(StorageLevel.MEMORY_AND_DISK)
    val plan = df.queryExecution.analyzed
    q.dequeueAll(_.queryExecution.analyzed.sameResult(plan))
    q.enqueue(df)
    while (q.size > maxRetainedCaches)
      scala.util.Try(q.dequeue().unpersist(blocking = false))
    df
  }

  /** The frames the registry holds for `session`, eldest first. */
  private[graft] def retainedFrames(session: SparkSession): Seq[DataFrame] =
    synchronized { retainedCaches.get(session).toSeq.flatten }

  /** Exact dedup: keep the smallest id per content digest.
    * One hash-shuffle on md5(text) — the text column itself never
    * shuffles. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(col(textCol)).as("digest"))
      .groupBy("digest")
      .agg(min(idCol).as(idCol), count(lit(1)).as("n_copies"))

  /** Normalized dedup: exact dedup over the case/punct/space-insensitive
    * fingerprint (TextAnalysis.fingerprint). */
  def normalized(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("digest"))
      .groupBy("digest")
      .agg(min(idCol).as(idCol), count(lit(1)).as("n_copies"))

  /** Word n-gram shingles of a document (sorted distinct) — a single
    * compiled pass ([[graft.expressions.WordShingles]]); same value as
    * the equivalent split/transform/concat_ws/array_sort/array_distinct
    * Column chain, which evaluates interpreted per element. */
  def shingles(text: Column, n: Int): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.WordShingles(
        Seq(org.apache.spark.sql.graftbridge.Bridge.expression(text)), n))

  /** Exact Jaccard for ASCENDING-SORTED distinct shingle arrays (what
    * [[shingles]] produces) via linear-merge intersection — same value
    * as `|array_intersect| / |array_union|`, without per-row hash-set
    * builds. */
  def jaccardSorted(a: Column, b: Column): Column = {
    val common = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.SortedIntersectCount(Seq(
        org.apache.spark.sql.graftbridge.Bridge.expression(a),
        org.apache.spark.sql.graftbridge.Bridge.expression(b))))
    common / greatest(size(a) + size(b) - common, lit(1)).cast("double")
  }

  /** Exact Jaccard for ASCENDING-SORTED distinct long arrays — the
    * hashed-shingle twin of [[jaccardSorted]]. */
  def jaccardSortedLong(a: Column, b: Column): Column = {
    val common = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.SortedLongIntersectCount(Seq(
        org.apache.spark.sql.graftbridge.Bridge.expression(a),
        org.apache.spark.sql.graftbridge.Bridge.expression(b))))
    common / greatest(size(a) + size(b) - common, lit(1)).cast("double")
  }

  /** Deterministic sampled token-frequency table for rarity ordering,
    * driver-bounded and broadcast: count the hashed shingles (`shh` of
    * the [[shingleCache]] frame) over a fixed 1-in-`rate` hash-sample
    * of documents, keep tokens seen ≥ 2 times, cap at the `maxTokens`
    * most frequent (ties on the hash). The
    * frequent tokens — the only ones whose df² matters for candidate
    * pruning — are precisely the ones a sample catches; everything
    * absent ranks as a singleton. Fully deterministic (hash-sampled,
    * exact counts over the sample), so candidate sets are stable
    * across runs. Scale shape: the corpus token stream is filtered
    * BEFORE the only aggregation, and the result is ≤ `maxTokens`
    * rows on the driver regardless of corpus size. */
  private def sampledTokenCounts(sets: DataFrame, rate: Int = 20,
      maxTokens: Int = 65536)
      : org.apache.spark.broadcast.Broadcast[Map[Long, Long]] = {
    // Memoized per (session, input-plan semantic hash, rate, maxTokens)
    // (ADVICE r8): query CONSTRUCTION calls this — without the cache
    // every plan build (audits, bench trials, retries) re-runs the
    // corpus-scale sampling job and leaks one ≤64k-entry broadcast.
    // The SEMANTIC HASH (an int), not the canonicalized plan object, is
    // the key: holding plan graphs pinned session state across a whole
    // test run and OOM'd the shared JVM. A hash collision merely swaps
    // one consistent rarity order for another — the PPJoin prefix
    // principle is exact under ANY single total order, so pruning
    // quality is all that could change, never the result. Small LRU
    // (4, access-refreshed): only live query shapes repeat; evicted
    // entries unpersist() — NOT destroy() — their broadcast, because a
    // previously built DataFrame may still reference it through a
    // RarityPrefix expression, and re-executing that plan after a
    // destroy() fails with "Attempted to use Broadcast after it was
    // destroyed". unpersist() only drops the cached executor copies;
    // the driver value re-ships on demand.
    val key = (sets.sparkSession,
      sets.queryExecution.logical.canonicalized.semanticHash(),
      rate, maxTokens)
    rarityCache.synchronized {
      rarityCache.remove(key).foreach { b =>
        rarityCache.put(key, b) // re-insert at tail: refresh recency
        return b
      }
    }
    val table = sets
      .filter(pmod(hash(col("id")), lit(rate)) === 0)
      .select(explode(col("shh")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .orderBy(col("c").desc, col("tok"))
      .limit(maxTokens)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1) * rate)
      .toMap
    val bc = sets.sparkSession.sparkContext.broadcast(table)
    rarityCache.synchronized {
      if (rarityCache.size >= 4) {
        val oldest = rarityCache.head._1
        rarityCache.remove(oldest).foreach(b =>
          scala.util.Try(b.unpersist(blocking = false)))
      }
      rarityCache.put(key, bc)
    }
    bc
  }

  /** Access-ordered LRU for [[sampledTokenCounts]] broadcasts (hits
    * re-insert at the tail; eviction takes the head). */
  private val rarityCache = scala.collection.mutable.LinkedHashMap
    .empty[(org.apache.spark.sql.SparkSession, Int, Int, Int),
      org.apache.spark.broadcast.Broadcast[Map[Long, Long]]]

  /** The PPJoin prefix index rows (id, sz, rn, tok) for every document
    * of a [[shingleCache]] frame, `tok` a shingle's xxhash64 — prefix
    * selection and positional rank computed map-side by
    * [[graft.expressions.RarityPrefix]] under the broadcast sampled
    * order; only prefix tokens are ever exploded. */
  private def prefixIndex(sets: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val pref = Bridge.column(graft.expressions.RarityPrefix(
      Bridge.expression(col("shh")), sampledTokenCounts(sets), threshold))
    sets.select(col("id"), size(col("shh")).as("sz"), explode(pref).as("p"))
      .select(col("id"), col("sz"), col("p.rn").as("rn"), col("p.tok").as("tok"))
  }

  /** All-pairs Jaccard ≥ threshold WITHOUT a cross join: a
    * prefix-filtered inverted shingle index (SSJoin/PPJoin family) over
    * the [[shingleCache]] — the same persisted (id, shh) frame
    * [[minhashNearDups]] and [[containmentPairsIndexed]] read, so a
    * session that runs them on one input builds it once. Candidate
    * generation is exact over the hashed sets (the prefix principle
    * loses nothing); the refine, like every batch refine here, computes
    * |A∩B| over the same per-shingle `xxhash64` values
    * ([[refineJaccardHashed]]) — exact unless two shingles of one
    * candidate pair collide in 64 bits (~1e-16), and such a collision
    * can only add a candidate, never lose one. Since r12 the streaming
    * gate's standing index refines on the same hashed longs
    * ([[corpusBandIndex]]), so batch and stream share one exactness
    * contract.
    *
    * With shingle sets sorted under one global order, any pair with
    * J(A,B) ≥ t shares at least one token within each side's first
    * |X| − ⌈t·|X|⌉ + 1 tokens — so indexing only those prefixes loses
    * nothing. Candidate generation joins (id, token) pairs (compact:
    * the token is the 8-byte hash), dedups, then exact-refines only
    * candidates.
    *
    * The rarity order (rarest first, ties on the hash) comes from a
    * broadcast sampled frequency table ([[sampledTokenCounts]]) applied
    * per row — the prefix principle is exact under ANY total order, and
    * the sampled order prunes the frequent-token collisions that
    * matter. Before the candidate self-join the token stream never
    * shuffles (the former exact path shuffled it three times: frequency
    * groupBy, token join, per-doc rank window). */
  def jaccardPairsIndexed(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, threshold: Double): DataFrame = {
    val sets = shingleCache(df, idCol, textCol, shingleN)
    val idx = prefixIndex(sets, threshold)
    // required overlap α: J ≥ t ⇔ |A∩B| ≥ t/(1+t)·(|A|+|B|); a collision
    // at positions (ra, rb) certifies at most 1 + min(sa−ra, sb−rb)
    // overlapping tokens. Dropping a collision that cannot certify is
    // safe: a qualifying pair's EARLIEST collision always can.
    val a = idx.select(col("id").as("id_a"), col("sz").as("sz_a"),
      col("rn").as("rn_a"), col("tok"))
    val b = idx.select(col("id").as("id_b"), col("sz").as("sz_b"),
      col("rn").as("rn_b"), col("tok"))
    val alpha = ceil((col("sz_a") + col("sz_b")) * (threshold / (1 + threshold)) - 1e-9)
    // size prunes carry the same conservative 1e-9 nudge as `alpha`: a
    // double product rounding a hair above the exact rational t·|X|
    // must not drop an exactly-at-threshold pair (ADVICE r8)
    val cand = a.join(b, "tok")
      .filter(col("id_a") < col("id_b") &&
        col("sz_a") >= col("sz_b") * threshold - 1e-9 &&
        col("sz_b") >= col("sz_a") * threshold - 1e-9 &&
        (lit(1) + least(col("sz_a") - col("rn_a"), col("sz_b") - col("rn_b"))) >= alpha)
      .select("id_a", "id_b")
      .distinct()
    refineJaccardHashed(cand, sets, threshold)
  }

  /** CONTAINMENT pairs — exact up to the refine's sorted-xxhash64
    * intersection count (a per-pair collision probability of ~1e-16,
    * the same bound the jaccard refine documents) — the asymmetric
    * near-dup mode Jaccard
    * misses: `|A∩B| / |A| ≥ t` flags A as (near-)contained in B (a doc
    * quoted wholesale inside a larger one, a page embedded in an
    * aggregator). Same rarity-ordered machinery and the same
    * [[shingleCache]] as [[jaccardPairsIndexed]], but the prefix
    * principle is one-sided:
    * if ≥ ⌈t·|A|⌉ of A's shingles appear in B, then A's
    * (|A| − ⌈t·|A|⌉ + 1)-token rare-first prefix must collide with
    * SOME token of B (pigeonhole) — so the candidate join runs A's
    * prefix against B's FULL hashed index. Cost is Σ df(prefix token):
    * rarity ordering keeps prefixes on near-singleton shingles. The
    * B-side length filter `|B| ≥ t·|A|` is implied by the final
    * predicate (|A∩B| ≤ |B|), so pruning with it is lossless. */
  def containmentPairsIndexed(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, threshold: Double): DataFrame = {
    val sets = shingleCache(df, idCol, textCol, shingleN)
    // A's prefix comes from the broadcast sampled order (map-side); the
    // B side needs no rank at all — only token membership and size
    val aPrefix = prefixIndex(sets, threshold)
      .select(col("id").as("id_a"), col("sz").as("sz_a"), col("tok"))
    val bAll = sets.select(col("id").as("id_b"),
      size(col("shh")).as("sz_b"), explode(col("shh")).as("tok"))
    // conservative 1e-9 nudge so a product rounding above the exact
    // rational t·|A| can't drop an exactly-at-threshold pair
    val cand = aPrefix.join(bAll, "tok")
      .filter(col("id_a") =!= col("id_b") &&
        col("sz_b") >= col("sz_a") * threshold - 1e-9)
      .select("id_a", "id_b").distinct()
    val common = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.SortedLongIntersectCount(Seq(
        org.apache.spark.sql.graftbridge.Bridge.expression(col("sh_a")),
        org.apache.spark.sql.graftbridge.Bridge.expression(col("sh_b")))))
    cand
      .join(sets.select(col("id").as("id_a"), col("shh").as("sh_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("shh").as("sh_b")), "id_b")
      // hashed arrays are ascending-sorted — the compiled linear-merge
      // count equals array_intersect size without per-row hash-set
      // builds, comparing 8-byte primitives
      .select(col("id_a"), col("id_b"),
        (common.cast("double") /
          greatest(size(col("sh_a")), lit(1))).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** k-family MinHash signature over PRE-HASHED shingles (the sorted
    * `xxhash64` long arrays the refine stage caches) — a different but
    * equally sound LSH family ([[graft.expressions.MinHashSigLong]]):
    * banding probabilities are family-independent and every consumer
    * refines with exact Jaccard, so letting ONE persisted array<long>
    * column feed both signature and refine costs nothing downstream
    * while the cache drops from multi-word strings to 8 bytes per
    * shingle. */
  def minhashFromHashes(shh: Column, k: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.expressions.MinHashSigLong(Bridge.expression(shh), k))
  }

  /** Shingle sets pre-hashed for the near-dup pipeline: sorted distinct
    * `xxhash64` longs per document — the single cached representation
    * that serves banding ([[minhashFromHashes]]) AND the exact-Jaccard
    * refine ([[jaccardSortedLong]]). One compiled pass
    * ([[graft.expressions.SortedXxHash64Array]], spec-pinned to the
    * `sort_array(transform(_, xxhash64))` HOF form) — no interpreted
    * per-element lambda in the pipeline's hottest projection. */
  def hashedShingles(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.expressions.SortedXxHash64Array(
      Bridge.expression(shingles(text, n))))
  }

  /** The shingle cache [[minhashNearDups]], [[jaccardPairsIndexed]]
    * and [[containmentPairsIndexed]] share: `(id, shh)`, `shh` being
    * [[hashedShingles]]'s sorted xxhash64 longs (8 bytes per shingle
    * against a multi-word string; banding, the rarity prefix, the
    * candidate joins and every refine all read this one column).
    * Built here and nowhere else, so the three operators persist the
    * SAME plan for the same input: Spark's CacheManager and the
    * [[persistBounded]] registry, both keyed by plan, share one entry
    * among them and a session that runs them on one input builds the
    * shingle pass once.
    *
    * Persisted PRE-PARTITIONED AND PRE-SORTED on id: the two id-keyed
    * refine joins each need hash(id) clustering + id ordering on their
    * sets side, and the explicit repartition+sortWithinPartitions form
    * propagates both OUT of the cache (through the id_a/id_b alias
    * projections), so the refine pays zero sets-side exchanges and
    * zero sets-side sorts — one wide exchange at cache build replaces
    * two at join time. The banding, prefix-index and full-index
    * consumers are map-side explodes with no required distribution,
    * unaffected by the layout. Measured same-box at 2M/10M docs (r15;
    * for containment at sf0.1, 1.47 s min against 2.21 s for a plain
    * persist, r16). MEMORY_AND_DISK: spills rather than OOMs at scale;
    * eldest caches are unpersisted by the bounded registry. */
  private def shingleCache(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int): DataFrame = {
    val setsP = org.apache.spark.sql.graftbridge.Bridge
      .numShufflePartitions(df.sparkSession)
    val sets = persistBounded(
      df.select(col(idCol).cast("long").as("id"),
        hashedShingles(col(textCol), shingleN).as("shh"))
      .repartition(setsP, col("id")).sortWithinPartitions("id"))
    // see eagerShingleCacheDefault for why (and when) the cache build
    // is split into its own stage — same build work either way. The
    // partitioning propagates to the refine only once the cache is
    // materialized (an unbuilt AQE-cached plan reports unknown), so
    // the eager count is also what arms the exchange-free refine.
    if (eagerShingleCacheDefault(df.sparkSession)) sets.count()
    sets
  }

  /** A bucket member, and one carrying SimHash's fingerprint. */
  private[operators] case class Member(id: Long)
  private[operators] case class FpMember(id: Long, fp: Long)
  private[operators] case class BucketPair(id_a: Long, id_b: Long)
  private[operators] case class FpPair(id_a: Long, id_b: Long, fp_a: Long, fp_b: Long)

  /** Internal: candidate pairs `(id_a, id_b)`, `id_a < id_b`, from bucket
    * membership rows (`id`, bucketCols…) in one pass grouped on the
    * bucket key, each bucket's members streaming through sorted by id.
    * An `fp` column (SimHash's fingerprint) rides along as `fp_a`, `fp_b`.
    *
    * Buckets larger than `maxBucket` are dropped: a degenerate bucket
    * (templated/near-empty content hashing together) would otherwise go
    * quadratic — a recall-vs-blowup guard to size so it never triggers
    * on healthy data. Bounds:
    *  - at most `maxBucket + 1` members of one bucket are held; a larger
    *    bucket emits nothing and the rest of it is skipped;
    *  - at most `maxBucket·(maxBucket−1)/2` pairs per bucket, streamed
    *    from an iterator, never built as a per-bucket array;
    *  - building the plan runs no job.
    * Nothing reports the guard's drops at run time: the declared
    * `dedup_lsh_guard` query ([[lshGuardReportPortable]]) counts a
    * statistically equivalent md5 bucket-size distribution, not the
    * buckets this guard drops. Run-time drop counters are ROADMAP
    * item 3.
    *
    * `dedup = false` hands the caller the raw per-bucket emissions (one
    * row per shared bucket) to fuse the dedup into its own partitioning. */
  private[graft] def pairsFromBuckets(memb: DataFrame, bucketCols: Seq[String],
      maxBucket: Int, dedup: Boolean = true): DataFrame = {
    val spark = memb.sparkSession
    import spark.implicits._
    val keys = bucketCols.map(col)
    implicit val keyEnc: Encoder[Row] = Encoders.row(memb.select(keys: _*).schema)
    // explicit N: AQE coalesces a shuffle by the bytes it reads, and this
    // pass emits far more than that (2M docs ran it in 7 tasks, not 192)
    val grouped = memb.repartition(org.apache.spark.sql.graftbridge.Bridge
      .numShufflePartitions(spark), keys: _*).groupBy(keys: _*)
    val raw =
      if (memb.columns.contains("fp"))
        grouped.as[Row, FpMember].flatMapSortedGroups(col("id"))((_, it) =>
          bucketPairs(it, maxBucket)(_.id)((a, b) => FpPair(a.id, b.id, a.fp, b.fp))).toDF()
      else
        grouped.as[Row, Member].flatMapSortedGroups(col("id"))((_, it) =>
          bucketPairs(it, maxBucket)(_.id)((a, b) => BucketPair(a.id, b.id))).toDF()
    if (dedup) raw.distinct() else raw
  }

  /** The pairs `i < j` with differing ids of one bucket whose `members`
    * arrive sorted by id, or none past `maxBucket` members; an index walk
    * boxes nothing per pair (a 4096-member bucket streams ~8M). */
  private def bucketPairs[M, P](members: Iterator[M], maxBucket: Int)(id: M => Long)(
      pair: (M, M) => P): Iterator[P] = {
    val buf = members.take(maxBucket + 1).toIndexedSeq
    val n = if (buf.size > maxBucket) 0 else buf.size
    val ids = buf.iterator.take(n).map(id).toArray
    new Iterator[P] {
      private var i = -1
      private var j = n
      private def settle(): Unit = while (j >= n && i < n - 1) {
        i += 1; j = i + 1
        while (j < n && ids(j) == ids(i)) j += 1
      }
      settle()
      def hasNext: Boolean = j < n
      def next(): P = { val p = pair(buf(i), buf(j)); j += 1; settle(); p }
    }
  }

  /** One-row guard report for the MinHash-LSH banding of `df`: total
    * buckets, buckets the `maxBucket` size guard would drop, member rows
    * lost to the guard, and the observed max bucket size — the loud
    * signal that `maxBucket` needs resizing before near-dup recall
    * silently degrades. The declared `dedup_lsh_guard` query runs it.
    *
    * The hash family is ORACLE-EXPRESSIBLE (VERDICT r9 next #2b):
    * minhash components are 8-hex-char md5 substrings
    * ([[graft.expressions.Md5MinHashSig]] — fixed-width lowercase hex,
    * so the STRING min is the numeric min and DuckDB's binary-collation
    * `min` agrees bit for bit), and each band hash is the md5 of the
    * f-ordered component concat. The engine's candidate path keeps
    * murmur3 ([[minhashBandedHashed]]), so the report counts a
    * statistically equivalent bucket-size DISTRIBUTION, not the very
    * buckets the candidate path drops. The signature is one compiled
    * row-local pass (no token×k explode, no extra shuffle); the
    * bands-per-doc explode and two grouping shuffles follow. */
  def lshGuardReportPortable(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 32, bands: Int = 16,
      maxBucket: Int = 64): DataFrame = {
    require(k % bands == 0,
      s"k=$k must be divisible by bands=$bands")
    val rows = k / bands
    import org.apache.spark.sql.graftbridge.Bridge
    val sig = df
      .select(col(idCol).cast("long").as("id"),
        shingles(col(textCol), shingleN).as("sh"))
      .select(col("id"), Bridge.column(graft.expressions.Md5MinHashSig(
        Bridge.expression(col("sh")), k)).as("sig"))
    val banded = sig.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => md5(concat_ws(",", slice(col("sig"), b * rows + 1, lit(rows)))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
    val sizes = banded.groupBy("band", "band_hash")
      .agg(count(lit(1)).as("n_rows"))
    sizes.agg(
      count(lit(1)).as("n_buckets"),
      sum(when(col("n_rows") > maxBucket, 1L).otherwise(0L))
        .as("n_buckets_dropped"),
      sum(when(col("n_rows") > maxBucket, col("n_rows")).otherwise(0L))
        .as("n_rows_dropped"),
      max(col("n_rows")).as("max_bucket"),
      lit(maxBucket.toLong).as("max_bucket_allowed"))
  }

  /** (id, band, band_hash) LSH membership rows from a PRE-HASHED
    * (id, shh) frame: band_hash = murmur3 of the band's signature
    * slice (seed 9999), signature and banding fused into one compiled
    * pass ([[graft.expressions.MinHashBandHashesLong]], spec-pinned to
    * the two-step `minhashFromHashes` + slice-hash form it replaced —
    * the r14 near-dup profile put the two-step form's interpreted
    * per-band lambdas and boxed signature arrays at the top of the
    * 10M-doc pipeline's compute). */
  private[graft] def minhashBandedHashed(sets: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0,
      s"minhash signature length k=$k must be divisible by bands=$bands " +
        "or trailing components would be silently excluded from banding")
    import org.apache.spark.sql.graftbridge.Bridge
    val bh = Bridge.column(graft.expressions.MinHashBandHashesLong(
      Bridge.expression(col("shh")), k, bands))
    sets.select(col("id"), posexplode(bh))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
  }

  private val EagerShingleCacheKey = "spark.graft.eagerShingleCache"

  /** Whether [[shingleCache]] materializes the shared shingle cache
    * in its own stage before the first shuffle (minhash's band shuffle,
    * the prefix index's candidate join) consumes it. Left lazy,
    * the first action builds the columnar cache INSIDE the
    * band-explode's shuffle-map stage, and the unroll (storage-side,
    * unevictable while in flight) starves the shuffle SORTER into
    * thousands of micro-spills per task — at 10M docs the merge phase
    * then holds ~600 spill files open per task and dies on the process
    * fd limit before it dies on memory. That sorter only exists when
    * the sort-based shuffle writer engages, i.e. when the map side
    * writes MORE reduce partitions than
    * `spark.shuffle.sort.bypassMergeThreshold` (default 200); below it
    * the bypass writer streams to exactly P files per task with no
    * in-memory sort to starve. So the extra stage (a flat ~0.1-0.15 s
    * per call at sf0.1 — measured same-JVM A/B, r12) is paid only when
    * the failure mode it prevents can exist, and big-partition
    * pipelines like `tools/Prep10M` keep the contract automatically if
    * they ever raise their partition count past the threshold.
    * The session conf `spark.graft.eagerShingleCache=true|false`
    * overrides the gate (Prep10M sets it true: at a 4 GiB heap even
    * the bypass writer's map stage benefits from not sharing its
    * working set with the cache unroll); any other value throws. */
  private[graft] def eagerShingleCacheDefault(spark: SparkSession): Boolean =
    spark.conf.getOption(EagerShingleCacheKey)
      .map(v => v.toBooleanOption.getOrElse(throw new IllegalArgumentException(
        s"$EagerShingleCacheKey must be true or false, got '$v'")))
      .getOrElse {
        // unparsable conf values (both accept only ints today, but the
        // safe default for a protective split is ON) → eager
        val parts = scala.util.Try(
          spark.conf.get("spark.sql.shuffle.partitions").toInt)
        val bypass = scala.util.Try(spark.conf
          .getOption("spark.shuffle.sort.bypassMergeThreshold")
          .map(_.toInt).getOrElse(200))
        parts.flatMap(p => bypass.map(p > _)).getOrElse(true)
      }

  /** The composed near-dup pipeline: MinHash-LSH candidates + exact
    * Jaccard refine. Candidates come from classic Broder banding (MMDS
    * ch.3) of the k-row signature, bucketed by (band, bandHash); only
    * (id, band, bandHash) rows shuffle. Defaults k=32, bands=16
    * (rows=2): detection odds 1−(1−j²)^16 — at j≥0.9 miss probability
    * ~3e−12, while unrelated pairs (j≈0.01) bucket together with
    * p≈0.0016. Candidates ⊇ all true pairs (w.h.p.), and the refine
    * makes the output exact. */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.5,
      k: Int = 32, bands: Int = 16): DataFrame = {
    // one persisted pre-hashed shingle pass feeds signature generation
    // AND refine
    val sets = shingleCache(df, idCol, textCol, shingleN)
    val raw = pairsFromBuckets(minhashBandedHashed(sets, k, bands),
      Seq("band", "band_hash"), maxBucket = 64, dedup = false)
    // FUSED pair dedup (r16: the standalone distinct was ~18 s of the
    // 10M-doc stage): the raw emissions are
    // repartitioned on hash(id_a) — the clustering the refine's first
    // join needs anyway — and the distinct's aggregate runs WITHOUT its
    // own exchange, because HashPartitioning(id_a) satisfies the
    // ClusteredDistribution(id_a, id_b) the aggregate requires (equal
    // pairs share id_a, hence a partition). One exchange of the raw
    // stream replaces distinct's exchange PLUS the candidate exchange
    // the refine used to add on top.
    val cand = raw.repartition(
      org.apache.spark.sql.graftbridge.Bridge.numShufflePartitions(df.sparkSession),
      col("id_a")).distinct()
    // EXACT bitmap prescreen (r16): the refine's dominant cost at 10M
    // docs was the mid-join exchange carrying full shingle arrays for
    // EVERY candidate (~190 B/row at 25-word docs, two thirds of them
    // false candidates that exact Jaccard rejects). Screen each pair
    // first with a 32-byte bitmap summary + true set size pulled from
    // the same cache (map-side compute over the cached shh, both
    // joins exchange-free on the sets side), discarding a pair only
    // when [[graft.expressions.BitmapIntersectUpperBound]]'s sound
    // intersection bound cannot reach the threshold — output is
    // bit-identical, survivors alone pay the full-array joins.
    import org.apache.spark.sql.graftbridge.Bridge
    def bm(c: Column) = Bridge.column(graft.expressions.ShingleBitmap(
      Bridge.expression(c), BitmapWords))
    val bmA = sets.select(col("id").as("id_a"), bm(col("shh")).as("bm_a"),
      size(col("shh")).as("sz_a"))
    val bmB = sets.select(col("id").as("id_b"), bm(col("shh")).as("bm_b"),
      size(col("shh")).as("sz_b"))
    val ub = Bridge.column(graft.expressions.BitmapIntersectUpperBound(Seq(
      Bridge.expression(col("bm_a")), Bridge.expression(col("sz_a")),
      Bridge.expression(col("bm_b")), Bridge.expression(col("sz_b")))))
    // keep iff the intersection BOUND could still reach threshold:
    // j ≥ t ⟺ I(1+t) ≥ t(|A|+|B|); 1e-9 guards the float compare in
    // the KEEP direction (borderline pairs go to the exact refine)
    val screened = cand.join(bmA, "id_a").join(bmB, "id_b")
      .filter(ub.cast("double") * lit(1.0 + threshold) >=
        lit(threshold) * (col("sz_a") + col("sz_b")).cast("double")
          - lit(1e-9))
      .select("id_a", "id_b")
    refineJaccardHashed(screened, sets, threshold)
  }

  /** Bitmap width (in 64-bit words) for [[minhashNearDups]]'s exact
    * prescreen — 4 words = 256 bits, sized for short-document shingle
    * sets (tens of shingles). Larger documents keep correctness (the
    * bound only loosens toward keeping pairs, never dropping them);
    * they just screen out fewer false candidates. */
  private[graft] val BitmapWords = 4

  /** Exact-Jaccard refine over PRE-HASHED sets: `sets` is (id, shh) with
    * [[hashedShingles]]'s sorted long arrays, consumed by the joins
    * as-is — no per-side re-hash. */
  private[graft] def refineJaccardHashed(cand: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame = {
    // Deliberately UN-hinted (sort-merge): a SHUFFLE_HASH hint on the
    // sets side measured ~10% faster at 2M docs but DIED at 10M —
    // ShuffledHashJoin's build-side hash relation cannot spill, and 32
    // concurrent ~70 MB builds exhaust execution memory ("Can't
    // acquire ... bytes to build hash relation", r14 A/B). SMJ's sorts
    // spill; at 100 TB the unspillable build is the scale killer, the
    // sort is just a cost. Broadcast is out for the same reason (sets
    // grows with the corpus).
    val a = sets.select(col("id").as("id_a"), col("shh").as("sh_a"))
    val b = sets.select(col("id").as("id_b"), col("shh").as("sh_b"))
    cand.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        jaccardSortedLong(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Banded band-hash array of a k-row signature — same family/seed as
    * [[minhashBandedHashed]]'s bucketing, kept as an array so a
    * joined pair can locate its FIRST colliding band in-row. */
  private def bandHashes(sig: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map { b =>
      hash(slice(sig, b * rows + 1, rows), lit(9999))
    }: _*)

  /** Standing-corpus side of the streaming near-dup gate: every corpus
    * document exploded to its (band, band_hash) bucket rows, carrying
    * its shingle set (for the exact refine) and full band array (for
    * first-band dedup). Buckets larger than `maxBucket` are dropped —
    * the same recall-vs-blowup guard as the batch path; unlike batch,
    * singleton buckets stay (a lone corpus doc can still match an
    * arriving one). Build once per corpus snapshot, reuse across
    * micro-batches.
    *
    * The carried shingle set is hashed to sorted `xxhash64` longs
    * map-side (`c_shh`) — the same bytes-through-the-shuffle cut the
    * batch refine took in r11 (~3× narrower rows through the guard
    * window's sort and the stream-static join), with the identical
    * exactness contract: the refined Jaccard changes only if two
    * shingles of one compared pair collide in 64 bits (~1e-16). */
  def corpusBandIndex(corpus: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 32, bands: Int = 16,
      maxBucket: Int = 64): DataFrame = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    val rows = k / bands
    val sets = corpus.select(col(idCol).cast("long").as("id"),
      hashedShingles(col(textCol), shingleN).as("shh"))
    val exploded = sets
      // two-step projection: sig into a real column first, so the
      // signature subtree evaluates once per row, not once per band
      .select(col("id").as("corpus_id"), col("shh").as("c_shh"),
        minhashFromHashes(col("shh"), k).as("sig"))
      .select(col("corpus_id"), col("c_shh"),
        bandHashes(col("sig"), bands, rows).as("c_bands"))
      .select(col("corpus_id"), col("c_shh"), col("c_bands"),
        posexplode(col("c_bands")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "band_hash")
    exploded.withColumn("__n", count(lit(1)).over(w))
      .filter(col("__n") <= maxBucket).drop("__n")
  }

  /** Streaming near-dup admission gate: arriving documents checked
    * against a standing corpus ([[corpusBandIndex]]) with MinHash-LSH +
    * exact-Jaccard refine, composed to be fully STATELESS on the
    * stream — signatures and band hashes are per-row column chains
    * (the HOF form, no groupBy), candidates come from one stream-static
    * inner equi-join on (band, band_hash), and a pair that collides in
    * several bands is emitted once by keeping only its FIRST matching
    * band (computed in-row from both band arrays — the reference-point
    * dedup trick, no `distinct`/state store anywhere). Works unchanged
    * on a batch `incoming` frame.
    *
    * Emits (doc_id, corpus_id, jaccard) for every corpus neighbor with
    * exact Jaccard ≥ threshold — the per-arrival verdict trail an
    * ingest pipeline gates on. */
  def nearDupsAgainstIndex(incoming: DataFrame, index: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3,
      threshold: Double = 0.5, k: Int = 32, bands: Int = 16): DataFrame = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    val rows = k / bands
    val s = incoming.select(col(idCol).cast("long").as("doc_id"),
        hashedShingles(col(textCol), shingleN).as("s_shh"))
      .withColumn("s_sig", minhashFromHashes(col("s_shh"), k))
      .select(col("doc_id"), col("s_shh"),
        bandHashes(col("s_sig"), bands, rows).as("s_bands"))
      .select(col("doc_id"), col("s_shh"), col("s_bands"),
        posexplode(col("s_bands")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
    s.join(index, Seq("band", "band_hash"))
      .filter(col("corpus_id") =!= col("doc_id"))
      .filter(array_position(
        zip_with(col("s_bands"), col("c_bands"), (a, b) => a === b),
        true) === col("band") + 1)
      .withColumn("__j", jaccardSortedLong(col("s_shh"), col("c_shh")))
      .filter(col("__j") >= threshold)
      .select(col("doc_id"), col("corpus_id"),
        round(col("__j"), 6).as("jaccard"))
  }

  /** A neighbour `w` of vertex `v`: smaller on side 0, larger on 1. */
  private[operators] case class CcNbr(v: Long, side: Int, w: Long)
  /** An edge `hi > lo`, and whether this round's steps relinked it. */
  private[operators] case class CcEdge(hi: Long, lo: Long, moved: Boolean)

  /** Connected components over a near-dup pair list: every document
    * gets the smallest doc id in its similarity component as
    * `cluster_rep` — the cluster-assignment step a dedup pipeline runs
    * after pair generation (keep one doc per component, not per pair).
    *
    * Two regimes, chosen by the directed edge count:
    *  - at most `driverFinishEdges`: one collect and a driver
    *    union-find, in one job;
    *  - above it: alternating Large-Star / Small-Star rounds (Kiveris
    *    et al., "Connected Components in MapReduce and Beyond", SoCC
    *    2014) over the canonical edge list `(hi, lo)`, `hi > lo`. With
    *    m(u) the smallest of `u` and its smaller neighbours, Large-Star
    *    turns each edge into `(hi, m(lo))` and Small-Star turns it into
    *    `(lo, m(hi))`, keeping `(hi, m(hi))`. Both keep every component
    *    connected; the fixpoint is one star per component centred on
    *    its minimum, and a leaf's label is its star's centre.
    *
    * Round bound: O(log² n) rounds for n vertices (the paper's bound
    * for the alternation); a 1,000-vertex path takes 11. The loop
    * stops at the first round that moves no edge, at one count per
    * round, and refuses to return after `maxIters` rounds without one.
    *
    * Group bound: each step is one groupBy keyed on a vertex whose
    * edges stream through it sorted; no per-vertex array is built.
    * Neither step emits more edges than it reads, so the largest group
    * a step builds is one vertex's edges: at most its component's pair
    * count, and the component's size − 1 once it is a star. */
  def connectedComponents(ids: DataFrame, pairs: DataFrame,
      maxIters: Int = 50, driverFinishEdges: Int = 250000): DataFrame = {
    val checkpointEvery = 5
    val spark = ids.sparkSession
    import spark.implicits._
    // both edge directions in ONE pass over the pair list: a union of two
    // selects re-executes the (expensive, un-persisted) pair-generation
    // subtree once per branch, doubling candidate-join work before the
    // loop even starts
    val edgesRaw = pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // ---- regime 1: SMALL GRAPHS finish on the driver -------------
    // Below `driverFinishEdges` directed edges the whole component
    // structure is driver-trivial: one collect + union-find with path
    // compression + a min-id pass — exactly the same fixpoint (min id
    // per component), in ONE job instead of an iteration. This is the
    // common shape of the per-query near-dup graphs (thousands of
    // edges at testdata scale); the count also pre-materializes the
    // edge cache the iterative path would warm anyway.
    val nDirected = edgesRaw.count()
    if (nDirected <= driverFinishEdges) {
      val parent = new scala.collection.mutable.HashMap[Long, Long]()
      def find(v: Long): Long = {
        var r = v
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = v // path compression
        while (parent.getOrElse(c, c) != c) {
          val n = parent(c); parent(c) = r; c = n
        }
        r
      }
      val touched = new scala.collection.mutable.HashSet[Long]()
      edgesRaw.collect().foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        touched += a += b
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val minOf = new scala.collection.mutable.HashMap[Long, Long]()
      touched.foreach { v =>
        val r = find(v)
        minOf(r) = math.min(minOf.getOrElse(r, Long.MaxValue), v)
      }
      val lbls = touched.iterator.map(v => (v, minOf(find(v)))).toSeq
        .toDF("id", "__lbl")
      edgesRaw.unpersist(false)
      return ids.select(col("id"))
        .join(broadcast(lbls), Seq("id"), "left")
        .select(col("id"), coalesce(col("__lbl"), col("id")).as("cluster_rep"))
    }
    // ---- regime 2: Large-Star / Small-Star rounds -----------------
    // the canonical edges; self-loops drop out here
    var edges = edgesRaw.filter(col("src") > col("dst"))
      .select(col("src").as("hi"), col("dst").as("lo"))
    var held = edgesRaw
    var checkpointed = false
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxIters) {
      // Large-Star, grouped on each vertex v with its smaller
      // neighbours (side 0) sorted first, smallest first: m(v) is the
      // first row, and each larger neighbour w relinks to (w, m(v))
      val large = edges.select(explode(array(
          struct(col("hi").as("v"), lit(0).as("side"), col("lo").as("w")),
          struct(col("lo").as("v"), lit(1).as("side"), col("hi").as("w"))))
          .as("e")).select("e.*")
        .groupBy("v").as[Long, CcNbr]
        .flatMapSortedGroups(col("side"), col("w")) { (v, rows) =>
          val it = rows.buffered
          val m = if (it.head.side == 0) it.head.w else v
          it.dropWhile(_.side == 0).map(r => CcEdge(r.w, m, m != v))
        }
      // Small-Star, grouped on each hi with its smaller neighbours
      // sorted, smallest m(hi) first: the edge (hi, m) stays and every
      // other edge of hi becomes (lo, m); repeated edges merge here
      val small = large.groupBy("hi").as[Long, CcEdge]
        .flatMapSortedGroups(col("lo")) { (hi, rows) =>
          val it = rows.buffered
          val m = it.head.lo
          new Iterator[CcEdge] {
            def hasNext: Boolean = it.hasNext
            def next(): CcEdge = {
              val e = it.next()
              var moved = e.moved
              while (it.hasNext && it.head.lo == e.lo) moved |= it.next().moved
              if (e.lo == m) CcEdge(hi, m, moved) else CcEdge(e.lo, m, true)
            }
          }
        }.toDF()
      round += 1
      val truncate = round % checkpointEvery == 0
      val next =
        if (truncate) small.localCheckpoint(true)
        else small.persist(StorageLevel.MEMORY_AND_DISK)
      // materializes the round and measures convergence in one action
      changed = next.filter(col("moved")).count()
      // a localCheckpoint's blocks are its only copy: only plain
      // persists are released once the next round is materialized
      if (!checkpointed) held.unpersist(false)
      held = next
      checkpointed = truncate
      edges = next
    }
    // a capped loop that did NOT converge would silently emit wrong
    // representatives — refuse instead (callers raise maxIters for
    // adversarially deep graphs)
    require(changed == 0,
      s"connectedComponents did not converge within $maxIters rounds " +
        s"($changed edges still moving) — raise maxIters")
    // the converged edges are the stars, each leaf `hi` once with its
    // centre `lo` (a round that moves nothing emits its distinct input
    // unchanged); detach them from the loop's cache
    val stars =
      if (checkpointed) held
      else {
        val f = held.localCheckpoint(true)
        held.unpersist(false)
        f
      }
    // one left join re-attaches every id no star names as a leaf:
    // centres, and the untouched remainder, are their own representative
    ids.select(col("id"))
      .join(stars.select(col("hi").as("id"), col("lo").as("__lbl")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("__lbl"), col("id")).as("cluster_rep"))
  }

  /** md5-derived per-token hashes for SimHash — md5 (not murmur3) so the
    * DuckDB oracle can recompute fingerprints bit-for-bit. `bits` must be
    * a multiple of 4 and ≤ 60 (hex nibbles into a signed long). */
  def simhashTokenHashes(text: Column, bits: Int): Column = {
    require(bits % 4 == 0 && bits <= 60, s"simhash bits=$bits")
    val toks = array_distinct(split(trim(lower(text)), "\\s+"))
    transform(toks, t => conv(substring(md5(t), 1, bits / 4), 16, 10).cast("long"))
  }

  /** SimHash fingerprint from a materialized token-hash array column
    * (Charikar 2002): per bit, sum ±1 votes of token-hash bits; bit set
    * iff the vote is positive. Callers should project the token hashes
    * into a column first so the md5 work runs once, not once per bit. */
  def simhashFromHashes(th: Column, bits: Int): Column =
    (0 until bits).map { i =>
      val vote = aggregate(th, lit(0L),
        (acc, h) => acc + (shiftright(h, i).bitwiseAND(1L) * 2L - 1L))
      when(vote > 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce(_ + _)

  /** Convenience single-expression SimHash. */
  def simhash(text: Column, bits: Int = 32): Column =
    simhashFromHashes(simhashTokenHashes(text, bits), bits)

  /** Hamming distance between two simhash fingerprints. */
  def hammingDist(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Band layout guaranteeing COMPLETE recall for hamming ≤ maxDist on
    * `bits`-bit fingerprints: maxDist+1 bands (pigeonhole — ≤ maxDist
    * differing bits cannot touch all maxDist+1 bands, so some band is
    * intact and the pair shares its bucket). */
  def hammingBands(bits: Int, maxDist: Int): Seq[(Int, Int)] = {
    val nBands = maxDist + 1
    val base = bits / nBands
    val extra = bits % nBands
    val widths = Seq.fill(extra)(base + 1) ++ Seq.fill(nBands - extra)(base)
    widths.scanLeft(0)(_ + _).zip(widths).map { case (off, w) => (off, w) }
  }

  /** SimHash fingerprints computed by explode + codegen'd aggregation:
    * one (id, token) row per DISTINCT token, md5-derived hash per row
    * (md5/conv/substring are codegen'd builtins), then `bits` partial
    * sums per id — the same fingerprint values as
    * [[simhashFromHashes]] ∘ [[simhashTokenHashes]] without evaluating
    * `bits` interpreted higher-order aggregates per document. Shuffle
    * carries `bits` longs per id (map-side combined). */
  def simhashFingerprints(df: DataFrame, idCol: String, textCol: String,
      bits: Int): DataFrame = {
    require(bits % 4 == 0 && bits <= 60, s"simhash bits=$bits")
    // one compiled pass per row ([[graft.expressions.SimHashFp]]):
    // tokenize → distinct → md5-hash → votes → fingerprint, value-
    // identical to the former explode + bits-aggregate plan (a spec
    // pins them) and to the DuckDB oracle, without shuffling a token
    // row per (doc × token). Null text → fp 0, as before.
    import org.apache.spark.sql.graftbridge.Bridge
    df.select(col(idCol).cast("long").as("id"),
      Bridge.column(graft.expressions.SimHashFp(
        Bridge.expression(col(textCol)), bits)).as("fp"))
  }

  /** SimHash near-dup pairs within `maxDist` hamming distance, via
    * exhaustive hamming-band bucketing — exact (recall 1 by pigeonhole)
    * while no bucket exceeds `maxBucket`, no cross join. Emits
    * `(id_a, id_b, hamming)` once for every pair that shares at least
    * one surviving bucket and is within `maxDist`: the pairs of every
    * surviving bucket ([[pairsFromBuckets]]), hamming-filtered, then
    * distinct. Above `maxBucket` the guard drops the bucket, and a pair
    * is found only through another band whose bucket it also shares.
    *
    * Size `bits` and `maxDist` to the corpus: [[hammingBands]] splits
    * the fingerprint into maxDist+1 bands, and a w-bit band has at most
    * 2^w buckets, so past 2^w × `maxBucket` rows the guard must drop
    * one of them (bits = 32, maxDist = 6 gives 7 bands of 4–5 bits:
    * past 32 × 4096 = 131,072 rows every band drops a bucket). */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int, bits: Int, maxBucket: Int = 4096): DataFrame = {
    val fp = simhashFingerprints(df, idCol, textCol, bits)
    val bands = hammingBands(bits, maxDist)
    val bandCols = bands.zipWithIndex.map {
      case ((off, w), i) =>
        struct(lit(i).as("band"),
          shiftright(col("fp"), off).bitwiseAND((1L << w) - 1L).as("bval"))
    }
    // the fingerprint rides the bucket pass: no join back to it, and a
    // pair has one hamming value, so the distinct emits each pair once
    val memb = fp.select(col("id"), col("fp"),
        explode(array(bandCols: _*)).as("b"))
      .select(col("id"), col("fp"),
        col("b.band").as("band"), col("b.bval").as("bval"))
    pairsFromBuckets(memb, Seq("band", "bval"), maxBucket, dedup = false)
      .select(col("id_a"), col("id_b"),
        hammingDist(col("fp_a"), col("fp_b")).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** Cross-document REPEATED-SUBSTRING spans — the dedup step document-
    * level near-dup misses: licence blocks, boilerplate headers and
    * templated paragraphs shared verbatim ACROSS otherwise-distinct
    * documents (the published "Deduplicating Training Data" recipe's
    * suffix-array pass, re-expressed as gram-fingerprint buckets).
    *
    * A token position is CUT when its `gramLen`-word gram (the window
    * starting there) occurs in ≥ `minDocs` distinct documents; maximal
    * runs of overlapping cut windows merge into one span per document:
    * `(id, span_start, span_end)` in 0-based token offsets, end
    * exclusive — the caller removes or collapses those token ranges.
    *
    * Plan shape for 100 TB: grams are xxhash64 longs (the oracle
    * groups the gram STRINGS — identical modulo 2^-64-probability
    * collisions; unlike [[ngramContamination]] the oracle never needs
    * to reproduce the hash, so the cheap codegen'd hash wins over the
    * md5-derived one), so the repeated-gram aggregation and the hit
    * join-back both ride an 8-byte key + an int position; document
    * text never shuffles. countDistinct is a two-stage partial
    * aggregation; the repeated-gram set is boilerplate-sized, so AQE
    * broadcasts the join-back when it can. Span merging folds each
    * document's sorted hit positions in ONE pass per doc — no window
    * over the corpus. */
  def repeatedSubstringSpans(df: DataFrame, idCol: String, textCol: String,
      gramLen: Int, minDocs: Int): DataFrame = {
    require(gramLen >= 2, s"gramLen=$gramLen")
    require(minDocs >= 2, s"minDocs=$minDocs")
    // gram strings come from ONE compiled pass (WordNgrams — the HOF
    // transform/slice/concat_ws chain evaluated interpreted per gram
    // and dominated this operator's scan cost); the short-doc
    // all-token gram is filtered out to keep the strict
    // windows-only contract (docs shorter than gramLen emit nothing)
    val toks = split(trim(lower(col(textCol))), "\\s+")
    val gramsArr = when(size(toks) >= gramLen,
      HeavyHitters.ngrams(col(textCol), gramLen))
      .otherwise(array().cast("array<string>"))
    val grams = df.select(col(idCol).as("id"), posexplode(gramsArr))
      .select(col("id"), col("pos"), xxhash64(col("col")).as("gh"))
    val rep = grams.groupBy("gh")
      .agg(countDistinct("id").as("nd"))
      .filter(col("nd") >= minDocs)
      .select("gh")
    val hits = grams.join(rep, "gh").select("id", "pos")
    val emptySpans = array().cast("array<struct<s:int,e:int>>")
    hits.groupBy("id")
      .agg(array_sort(collect_set(col("pos"))).as("ps"))
      .select(col("id"), explode(aggregate(col("ps"), emptySpans, (acc, p) => {
        val last = element_at(acc, -1)
        when(size(acc) > 0 && p <= last.getField("e"),
          concat(slice(acc, lit(1), size(acc) - 1),
            array(struct(last.getField("s").as("s"),
              greatest(last.getField("e"), p + gramLen).as("e")))))
          .otherwise(concat(acc,
            array(struct(p.as("s"), (p + gramLen).as("e")))))
      })).as("span"))
      .select(col("id"), col("span.s").as("span_start"),
        col("span.e").as("span_end"))
  }

  /** Materialize the cleaned corpus from [[repeatedSubstringSpans]]:
    * cut every repeated span out of each document and rebuild the text
    * in place — the apply step of the suffix-array dedup recipe (the
    * spans operator is the detector; a real pipeline ships the cleaned
    * text). Emits one row per input document: (id, text, n_removed
    * tokens).
    *
    * Contract: spans index the `\s+` tokenization, so the rebuilt text
    * is the kept tokens joined by single spaces (inter-token
    * whitespace normalizes — inherent to token-span surgery; the
    * paragraph-level pass [[dedupParagraphs]] is the byte-preserving
    * complement). Case is preserved: lowercasing affects gram
    * MATCHING only, never token boundaries, so detector positions
    * apply directly to the original tokens.
    *
    * 100 TB shape: the detector's discipline unchanged (gram hashes +
    * int positions shuffle, text never does) plus ONE left join of the
    * boilerplate-sized span list back to the corpus — AQE broadcasts
    * it, and a doc_id-bucketed corpus makes it exchange-free (the
    * docprep pattern). */
  def removeRepeatedSubstrings(df: DataFrame, idCol: String, textCol: String,
      gramLen: Int, minDocs: Int): DataFrame = {
    val spans = repeatedSubstringSpans(df, idCol, textCol, gramLen, minDocs)
      .groupBy("id")
      .agg(collect_list(struct(col("span_start").as("s"),
          col("span_end").as("e"))).as("__spans"),
        sum(col("span_end") - col("span_start")).cast("long").as("__cut"))
    val toks = split(trim(col(textCol)), "\\s+")
    df.select(col(idCol).as("id"), col(textCol))
      .join(spans, Seq("id"), "left")
      .select(col("id"),
        concat_ws(" ", filter(toks, (t, i) =>
          not(coalesce(exists(col("__spans"),
            sp => i >= sp.getField("s") && i < sp.getField("e")),
            lit(false))))).as(textCol),
        coalesce(col("__cut"), lit(0L)).as("n_removed"))
  }

  /** Paragraph-level exact dedup (the MassiveText/Gopher recipe's
    * "remove repeated paragraphs" pass): a paragraph is CUT when its
    * exact text occurs in ≥ `minDocs` distinct documents; surviving
    * paragraphs are reassembled in order. Complements
    * [[repeatedSubstringSpans]] (which catches shared runs that do not
    * align to paragraph boundaries) with the cheap aligned case.
    *
    * Emits one row per input document: (id, cleaned text, n_removed).
    *
    * 100 TB shape: the repeated-paragraph aggregation and the hit
    * join-back ride (16-byte digest, int position) — paragraph TEXT
    * never shuffles. Reassembly joins the per-doc cut-position list
    * back to the corpus and rebuilds the document IN PLACE with an
    * indexed array filter; the cut list is boilerplate-sized, so AQE
    * broadcasts it and the text side of the final join never moves
    * (a doc_id-bucketed corpus makes it exchange-free even without
    * the broadcast — the docprep pattern, PlanAuditSpec).
    */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String,
      sepRegex: String, joiner: String, minDocs: Int): DataFrame = {
    require(minDocs >= 2, s"minDocs=$minDocs")
    val parts = split(col(textCol), sepRegex)
    val paras = df.select(col(idCol).as("__pid"), posexplode(parts))
      .select(col("__pid"), col("pos"), md5(col("col")).as("ph"))
    val rep = paras.groupBy("ph")
      .agg(countDistinct("__pid").as("nd"))
      .filter(col("nd") >= minDocs)
      .select("ph")
    val cuts = paras.join(rep, "ph")
      .groupBy("__pid").agg(collect_set("pos").as("cut_pos"))
    df.join(cuts, df(idCol) === cuts("__pid"), "left")
      .select(col(idCol),
        array_join(
          filter(parts, (_, i) =>
            !array_contains(coalesce(col("cut_pos"),
              array().cast("array<int>")), i)),
          joiner).as(textCol),
        when(col("cut_pos").isNull, lit(0))
          .otherwise(size(col("cut_pos"))).as("n_removed"))
  }

  /** [[ngramContamination]] with a broadcast-Bloom prefilter on the
    * corpus side — the 100 TB formulation. The exact variant shuffles
    * every corpus gram into the bench-gram join; here the corpus scan
    * probes a [[Bloom]] filter built (distributed) over the benchmark
    * grams and only survivors — true hits plus ~1% false positives —
    * reach the exact-refine join, so the corpus-side shuffle shrinks
    * to ≈ the contaminated fraction while results stay EXACT (the
    * refine join removes every false positive; same output as
    * [[ngramContamination]] modulo the 2⁻⁶⁴ gram-hash collision the
    * substring-dedup oracle already accepts). Gram hashes are
    * xxhash64: the oracle recomputes from gram strings, so the cheap
    * codegen'd hash wins over a reproducible one. */
  def ngramContaminationBloom(df: DataFrame, idCol: String, textCol: String,
      isBenchmark: Column, n: Int, expectedBenchGrams: Long): DataFrame = {
    val grams = df.select(col(idCol).as("id"), isBenchmark.as("is_bench"),
      explode(shingles(col(textCol), n)).as("g"))
      .select(col("id"), col("is_bench"), xxhash64(col("g")).as("gh"))
    val benchGrams = grams.filter(col("is_bench")).select("gh").distinct()
    val bloom = Bloom.build(benchGrams, col("gh"), expectedBenchGrams)
    val hits = grams.filter(!col("is_bench"))
      .filter(Bloom.mightContain(bloom, col("gh"))) // map-side prefilter
      .join(broadcast(benchGrams), "gh") // exact refine: kills the ~1% fps
      .groupBy("id")
      .agg(count(lit(1)).as("n_shared"))
    df.filter(!isBenchmark).select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        col("n_shared").isNotNull.as("contaminated"))
  }

  /** Benchmark DECONTAMINATION: flag corpus documents that share at
    * least one word n-gram with a benchmark/eval set (the n-gram-overlap
    * test used to scrub training corpora before pretraining). Returns
    * one row per NON-benchmark document: (id, n_shared, contaminated).
    *
    * Plan shape for 100 TB: per-document distinct n-grams come from the
    * compiled [[shingles]] pass, hashed to 60-bit longs (md5-derived so
    * the oracle recomputes them) — the join key is 8 bytes, the text
    * never leaves its scan. The benchmark gram set (eval suites are
    * ~10⁴-10⁶ grams) is distinct-ed and BROADCAST, so the corpus side
    * joins map-side with zero shuffle of corpus rows; the only shuffle
    * is the final per-doc count aggregation, which is output-bound. */
  def ngramContamination(df: DataFrame, idCol: String, textCol: String,
      isBenchmark: Column, n: Int): DataFrame = {
    val grams = df.select(col(idCol).as("id"), isBenchmark.as("is_bench"),
      explode(shingles(col(textCol), n)).as("g"))
      .select(col("id"), col("is_bench"),
        conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long").as("gh"))
    val benchGrams = grams.filter(col("is_bench")).select("gh").distinct()
    // shingles() emits per-doc DISTINCT grams, so count(*) per id is the
    // distinct shared-gram count
    val hits = grams.filter(!col("is_bench"))
      .join(broadcast(benchGrams), "gh")
      .groupBy("id")
      .agg(count(lit(1)).as("n_shared"))
    df.filter(!isBenchmark).select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        col("n_shared").isNotNull.as("contaminated"))
  }
}
