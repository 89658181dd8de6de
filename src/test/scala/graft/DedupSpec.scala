package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Dedup operators: exactness of the crossJoin-free plans against naive
  * brute-force computation on synthetic near-dup corpora. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  // synthetic corpus: templated docs with small mutations + unrelated noise
  private val docs: Seq[(Long, String)] = {
    val base = "the quick brown fox jumps over the lazy dog while rain falls on the plain in spain"
    val tweaked = base.replace("lazy", "sleepy")
    val tweaked2 = base.replace("rain falls", "snow drifts")
    Seq(
      0L -> base, 1L -> base, 2L -> tweaked, 3L -> tweaked2,
      4L -> "completely different text about spark catalyst optimizer rules and physical plans",
      5L -> "yet another unrelated document mentioning voronoi tessellation of weather grids",
      6L -> (base + " extra trailing words appended here"),
      7L -> "short doc")
  }

  private def naiveShingles(s: String, n: Int): Set[String] = {
    val toks = s.trim.toLowerCase.split("\\s+")
    (0 until math.max(toks.length - n + 1, 1))
      .map(i => toks.slice(i, i + n).mkString(" ")).toSet
  }

  private def naiveJaccardPairs(n: Int, t: Double,
      corpus: Seq[(Long, String)] = docs): Set[(Long, Long)] =
    (for {
      (ia, ta) <- corpus; (ib, tb) <- corpus if ia < ib
      sa = naiveShingles(ta, n); sb = naiveShingles(tb, n)
      if sa.intersect(sb).size.toDouble / math.max(sa.union(sb).size, 1) >= t
    } yield (ia, ib)).toSet

  /** Ordered pairs (a, b) with |A∩B| / |A| ≥ t. */
  private def naiveContainmentPairs(n: Int, t: Double,
      corpus: Seq[(Long, String)] = docs): Set[(Long, Long)] =
    (for {
      (ia, ta) <- corpus; (ib, tb) <- corpus if ia != ib
      sa = naiveShingles(ta, n); sb = naiveShingles(tb, n)
      if sa.intersect(sb).size.toDouble / math.max(sa.size, 1) >= t
    } yield (ia, ib)).toSet

  /** (a, b, hamming) with a < b and hamming ≤ maxDist, brute force over
    * fingerprints computed by the same expression. */
  private def naiveSimhashPairs(maxDist: Int, bits: Int): Set[(Long, Long, Int)] = {
    val fps = docs.toDF("doc_id", "text").select($"doc_id",
      Dedup.simhash($"text", bits).as("fp")).as[(Long, Long)].collect().toMap
    (for {
      (ia, _) <- docs; (ib, _) <- docs if ia < ib
      h = java.lang.Long.bitCount(fps(ia) ^ fps(ib))
      if h <= maxDist
    } yield (ia, ib, h)).toSet
  }

  /** Sort-merge joins with a left key naming one of `keys`. */
  private def joinsOn(plan: SparkPlan, keys: String*): Seq[SortMergeJoinExec] =
    plan.collect {
      case j: SortMergeJoinExec
          if j.leftKeys.exists(k => keys.exists(k.toString.contains)) => j
    }

  /** The layout contract of a join on a cache persisted pre-partitioned
    * and pre-sorted on the key: one side is the bare cache scan, with
    * no Exchange and no Sort above the InMemoryTableScan. */
  private def hasCleanCacheSide(j: SortMergeJoinExec): Boolean =
    Seq(j.left, j.right).exists { side =>
      side.collect { case e: ShuffleExchangeExec => e }.isEmpty &&
      side.collect { case s: SortExec => s }.isEmpty &&
      side.collect { case c: InMemoryTableScanExec => c }.nonEmpty
    }

  test("jaccardPairsIndexed (prefix-filter) equals brute force") {
    val df = docs.toDF("doc_id", "text")
    val got = Dedup.jaccardPairsIndexed(df, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == naiveJaccardPairs(3, 0.5))
    assert(got.nonEmpty) // the corpus does contain near-dups
  }

  test("jaccardPairsIndexed refine reads the shingle cache with zero sets-side exchanges or sorts") {
    // The r16 cache-partitioning restructure (VERDICT r15 #2, freeze
    // lifted): the sets cache is persisted pre-partitioned on id and
    // pre-sorted within partitions, and that layout must propagate
    // through the id_a/id_b alias projections into both refine joins —
    // each refine SMJ must have one side that is the bare cache scan
    // (no Exchange, no Sort above the InMemoryTableScan). AQE off for
    // a deterministic static tree; broadcast off so the refine takes
    // the shuffle-family path the 10M-doc corpus takes.
    // containmentPairsIndexed persists the same layout for its two
    // id-keyed refine joins and is held to the same contract.
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val abt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = docs.toDF("doc_id", "text")
      val cases = Seq(
        (Dedup.jaccardPairsIndexed(df, "doc_id", "text", 3, 0.5),
          naiveJaccardPairs(3, 0.5)),
        (Dedup.containmentPairsIndexed(df, "doc_id", "text", 3, 0.8),
          naiveContainmentPairs(3, 0.8)))
      cases.foreach { case (out, expect) =>
        val plan = out.queryExecution.executedPlan
        val refineJoins = joinsOn(plan, "id_a", "id_b")
        assert(refineJoins.size == 2, s"expected 2 refine joins in:\n$plan")
        refineJoins.foreach { j =>
          assert(hasCleanCacheSide(j),
            s"refine join has no exchange-free, sort-free cache side:\n$j")
        }
        // layout restructure must not perturb the result
        val got = out.select("id_a", "id_b").as[(Long, Long)].collect().toSet
        assert(got == expect)
        assert(got.nonEmpty)
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abt)
    }
  }

  test("minhash, Jaccard and containment share one hashed shingle cache") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
    spark.catalog.clearCache()
    val cm = spark.sharedState.cacheManager
    val df = docs.toDF("doc_id", "text")
    val outs = Seq(
      Dedup.minhashNearDups(df, "doc_id", "text", 3, 0.5),
      Dedup.jaccardPairsIndexed(df, "doc_id", "text", 3, 0.5),
      Dedup.containmentPairsIndexed(df, "doc_id", "text", 3, 0.8))
    assert(outs(0).select("id_a", "id_b").as[(Long, Long)].collect().toSet ==
      naiveJaccardPairs(3, 0.5))
    assert(outs(1).select("id_a", "id_b").as[(Long, Long)].collect().toSet ==
      naiveJaccardPairs(3, 0.5))
    assert(outs(2).select("id_a", "id_b").as[(Long, Long)].collect().toSet ==
      naiveContainmentPairs(3, 0.8))
    // the registry holds one cached frame over the shingle pass
    val shingleFrames = Dedup.retainedFrames(spark).filter(f =>
      f.columns.exists(c => c == "sh" || c == "shh") &&
        cm.lookupCachedData(
          f.asInstanceOf[org.apache.spark.sql.classic.DataFrame]).isDefined)
    assert(shingleFrames.size == 1, shingleFrames.map(_.schema.simpleString))
    assert(!shingleFrames.head.schema.exists(_.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    }), shingleFrames.head.schema.simpleString)
    // and all three plans read that one cache entry
    val builders = outs.flatMap(_.queryExecution.optimizedPlan.collect {
      case r: InMemoryRelation if r.output.exists(_.name == "shh") => r.cacheBuilder
    })
    assert(builders.size >= 3 && builders.forall(_ eq builders.head))
    // the prefix-index candidate joins key on the 8-byte hash
    outs.drop(1).foreach { out =>
      val tok = out.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
          j.condition.toSeq.flatMap(_.references).filter(_.name == "tok")
      }.flatten
      assert(tok.nonEmpty && tok.forall(_.dataType == LongType), tok)
    }
  }

  test("jaccardPairsIndexed equals brute force on a collision-heavy random corpus") {
    // 120 docs over an 8-word vocabulary: every 3-shingle is frequent,
    // so the sampled rarity order actually has heavy tokens to rank
    // (the 8-doc corpus above exercises the empty-sample path) and the
    // prefix filter works under maximal token-collision pressure
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val rnd = new scala.util.Random(4242)
    val bases: IndexedSeq[Vector[String]] = (0 until 120).map { _ =>
      val len = 8 + rnd.nextInt(10)
      Vector.fill(len)(vocab(rnd.nextInt(vocab.size)))
    }
    val big: Seq[(Long, String)] = (0L until 120L).map { i =>
      val words = bases(i.toInt)
      // every 8th doc: predecessor + two appended words (containment
      // 1.0 of the predecessor); every other 4th: predecessor with ONE
      // word swapped (high-Jaccard pair); the rest independent soup
      val doc =
        if (i % 8 == 7) bases(i.toInt - 1) ++ Vector("x", "y")
        else if (i % 4 == 3) {
          val p = bases(i.toInt - 1)
          p.updated(p.length / 2, vocab((vocab.indexOf(p(p.length / 2)) + 1)
            % vocab.size))
        } else words
      i -> doc.mkString(" ")
    }
    val expect = naiveJaccardPairs(3, 0.5, big)
    val got = Dedup.jaccardPairsIndexed(big.toDF("doc_id", "text"),
        "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == expect)
    assert(expect.size > 10, s"corpus should be near-dup rich: ${expect.size}")
    val expectC = naiveContainmentPairs(3, 0.8, big)
    val gotC = Dedup.containmentPairsIndexed(big.toDF("doc_id", "text"),
        "doc_id", "text", 3, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(gotC == expectC)
    assert(expectC.size > 5, s"corpus should be containment-rich: ${expectC.size}")
  }

  test("jaccardSortedLong on hashed shingles equals jaccardSorted on strings") {
    // refineJaccard's shuffle-payload optimization: per-element xxhash64
    // + sort must preserve the exact Jaccard value (collisions aside,
    // ~1e-16 — none on any corpus we generate). Randomized over 200
    // collision-heavy doc pairs from a tiny vocabulary so intersections
    // are large and partial.
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val rnd = new scala.util.Random(91)
    val pairs: Seq[(String, String)] = (0 until 200).map { _ =>
      def doc() = Vector.fill(6 + rnd.nextInt(12))(
        vocab(rnd.nextInt(vocab.size))).mkString(" ")
      (doc(), doc())
    }
    val df = pairs.toDF("ta", "tb").select(
      Dedup.shingles(col("ta"), 3).as("sa"),
      Dedup.shingles(col("tb"), 3).as("sb"))
    def hashed(c: org.apache.spark.sql.Column) =
      sort_array(transform(c, xxhash64(_)))
    val rows = df.select(
        Dedup.jaccardSorted(col("sa"), col("sb")).as("js"),
        Dedup.jaccardSortedLong(hashed(col("sa")), hashed(col("sb"))).as("jl"))
      .as[(Double, Double)].collect()
    rows.foreach { case (js, jl) => assert(js == jl, s"$js != $jl") }
    assert(rows.exists { case (js, _) => js > 0 && js < 1 }) // non-degenerate
  }

  test("minhashNearDups (LSH candidates + refine) equals brute force") {
    val df = docs.toDF("doc_id", "text")
    val got = Dedup.minhashNearDups(df, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == naiveJaccardPairs(3, 0.5))
  }

  test("BitmapIntersectUpperBound is a sound |A∩B| bound at every width") {
    // Soundness property the r16 prescreen rests on: for random hashed
    // sets and DELIBERATELY tiny bitmaps (64 bits → heavy within-set
    // collisions), the bound never undercuts the true intersection.
    import org.apache.spark.sql.graftbridge.Bridge
    val rnd = new scala.util.Random(20816)
    val rows = (0 until 300).map { _ =>
      val na = 1 + rnd.nextInt(60)
      val nb = 1 + rnd.nextInt(60)
      // overlapping value space so intersections are common
      val a = Seq.fill(na)(rnd.nextInt(120).toLong).distinct.sorted
      val b = Seq.fill(nb)(rnd.nextInt(120).toLong).distinct.sorted
      (a, b, a.toSet.intersect(b.toSet).size)
    }
    for (words <- Seq(1, 2, 4)) {
      def bm(c: org.apache.spark.sql.Column) = Bridge.column(
        graft.expressions.ShingleBitmap(Bridge.expression(c), words))
      val ub = (a: org.apache.spark.sql.Column, sa: org.apache.spark.sql.Column,
          b: org.apache.spark.sql.Column, sb: org.apache.spark.sql.Column) =>
        Bridge.column(graft.expressions.BitmapIntersectUpperBound(Seq(
          Bridge.expression(a), Bridge.expression(sa),
          Bridge.expression(b), Bridge.expression(sb))))
      val got = rows.toDF("a", "b", "i")
        .select(col("i"), ub(bm(col("a")), size(col("a")),
          bm(col("b")), size(col("b"))).as("ub"))
        .as[(Int, Int)].collect()
      got.foreach { case (i, u) =>
        assert(u >= i, s"words=$words: bound $u undercuts true |A∩B|=$i")
      }
      // and at the default width over small sets the bound is TIGHT
      // often enough to be a useful screen, not just sound
      if (words == 4)
        assert(got.count { case (i, u) => u == i } > got.length / 2)
    }
  }

  test("minhashNearDups stays exact under maximal bitmap collision stress") {
    // 256-bit maps over ~300-shingle docs: within-set collisions abound,
    // so the screen's bound is loose — it must degrade toward keeping
    // pairs (exactness preserved), never toward dropping true pairs.
    // Four 300-word bases over a 5k-word vocabulary; each has variants
    // with a few swapped words (near-dups, J ≈ 0.9) and many (J ≈ 0.3,
    // LSH candidates the refine must reject).
    import org.apache.spark.sql.graftbridge.Bridge
    val rnd = new scala.util.Random(4317)
    def word() = s"w${rnd.nextInt(5000)}"
    val corpus: Seq[(Long, String)] = (0 until 4).flatMap { b =>
      val base = Vector.fill(300)(word())
      Seq(0, 4, 8, 60).zipWithIndex.map { case (swaps, v) =>
        val doc = (0 until swaps).foldLeft(base) { (d, _) =>
          d.updated(rnd.nextInt(d.length), word())
        }
        (b * 10 + v).toLong -> doc.mkString(" ")
      }
    }
    val df = corpus.toDF("doc_id", "text")
    val got = Dedup.minhashNearDups(df, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == naiveJaccardPairs(3, 0.5, corpus))
    assert(got.size >= 4, s"corpus should be near-dup rich: $got")
    // every output pair passed the screen; the stress is real only if
    // the bound there overshoots the true |A∩B|
    def bm(c: org.apache.spark.sql.Column) = Bridge.column(
      graft.expressions.ShingleBitmap(Bridge.expression(c),
        Dedup.BitmapWords))
    val ub = Bridge.column(graft.expressions.BitmapIntersectUpperBound(Seq(
      Bridge.expression(bm(col("sh_a"))), Bridge.expression(size(col("sh_a"))),
      Bridge.expression(bm(col("sh_b"))), Bridge.expression(size(col("sh_b"))))))
    val sets = df.select(col("doc_id").cast("long").as("id"),
      Dedup.hashedShingles(col("text"), 3).as("sh"))
    val bounds = got.toSeq.toDF("id_a", "id_b")
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(ub.as("ub"), size(array_intersect(col("sh_a"), col("sh_b"))))
      .as[(Int, Int)].collect()
    assert(bounds.length == got.size)
    assert(bounds.exists { case (u, i) => u > i },
      s"bound never exceeds |A∩B| — the maps are not saturated: ${bounds.toSeq}")
  }

  test("minhashNearDups fuses the pair dedup into the refine clustering") {
    // r16 restructure probes: (1) no exchange partitions on BOTH pair
    // columns — the standalone distinct's hash(id_a, id_b) exchange is
    // gone, folded into the hash(id_a) repartition the refine needs
    // anyway; (2) every refine-family SMJ still has an exchange-free,
    // sort-free cache side (the r15 layout contract, now across the
    // bitmap-prescreen joins too).
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val abt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = docs.toDF("doc_id", "text")
      val out = Dedup.minhashNearDups(df, "doc_id", "text", 3, 0.5)
      val plan = out.queryExecution.executedPlan
      val pairKeyExchanges = plan.collect {
        case e: ShuffleExchangeExec if (e.outputPartitioning match {
          case h: HashPartitioning =>
            h.expressions.exists(_.toString.contains("id_a")) &&
              h.expressions.exists(_.toString.contains("id_b"))
          case _ => false
        }) => e
      }
      assert(pairKeyExchanges.isEmpty,
        s"standalone pair-distinct exchange survived:\n$plan")
      val refineJoins = joinsOn(plan, "id_a", "id_b")
      assert(refineJoins.size == 4,
        s"expected 2 prescreen + 2 refine joins in:\n$plan")
      refineJoins.foreach { j =>
        assert(hasCleanCacheSide(j),
          s"join has no exchange-free, sort-free cache side:\n$j")
      }
      val got = out.select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got == naiveJaccardPairs(3, 0.5))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abt)
    }
  }

  test("MinHashSig matches the hash(s, lit(seed)) HOF formulation bit for bit") {
    import org.apache.spark.sql.functions._
    // includes a NULL-text row (ADVICE r8): the HOF yields a non-null
    // array of k nulls there, and the compiled form must match
    val df = (docs.map { case (i, t) => (i, Option(t)) } ++
        Seq(8L -> Some(""), 9L -> Some("one two three"), 10L -> None))
      .toDF("doc_id", "text")
      .select($"doc_id", Dedup.shingles($"text", 3).as("sh"))
    val hof = array((0 until 32).map { seed =>
      array_min(transform($"sh", s => hash(s, lit(seed))))
    }: _*)
    GraftFunctions.register(spark)
    val rows = df.select($"doc_id",
        expr("minhash_sig(sh, 32)").as("fast"), hof.as("ref"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Any](1) === r.getSeq[Any](2),
        s"signature mismatch for doc ${r.getLong(0)}")
    }
    assert(rows.length === docs.length + 3)
  }

  test("SortedXxHash64Array matches sort_array(transform(_, xxhash64)) bit for bit") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftbridge.Bridge
    // covers: plain arrays, empty array, NULL array, and a NULL
    // ELEMENT (xxhash64 of a null value returns the seed 42 — the
    // compiled form must reproduce that, not emit a null)
    val df = Seq(
      (1L, Seq("alpha beta", "beta gamma", "z")),
      (2L, Seq.empty[String]),
      (3L, null: Seq[String]),
      (4L, Seq("one", null, "two"))
    ).toDF("id", "sh")
    val fast = Bridge.column(graft.expressions.SortedXxHash64Array(
      Bridge.expression($"sh")))
    val rows = df.select($"id", fast.as("fast"),
        sort_array(transform($"sh", xxhash64(_))).as("ref"))
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(1) === r.isNullAt(2), s"null mismatch id ${r.getLong(0)}")
      if (!r.isNullAt(1))
        assert(r.getSeq[Long](1) === r.getSeq[Long](2),
          s"hash mismatch id ${r.getLong(0)}")
    }
    assert(rows.length === 4)
  }

  test("MinHashSigLong matches the hash(x, lit(seed)) HOF formulation bit for bit") {
    import org.apache.spark.sql.functions._
    // same contract as MinHashSig over pre-hashed long arrays: NULL and
    // empty inputs yield the non-null array of k nulls
    val df = (docs.map { case (i, t) => (i, Option(t)) } ++
        Seq(8L -> Some(""), 9L -> Some("one two three"), 10L -> None))
      .toDF("doc_id", "text")
      .select($"doc_id", Dedup.hashedShingles($"text", 3).as("shh"))
    val hof = array((0 until 32).map { seed =>
      array_min(transform($"shh", x => hash(x, lit(seed))))
    }: _*)
    val rows = df.select($"doc_id",
        Dedup.minhashFromHashes($"shh", 32).as("fast"), hof.as("ref"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Any](1) === r.getSeq[Any](2),
        s"signature mismatch for doc ${r.getLong(0)}")
    }
    assert(rows.length === docs.length + 3)
  }

  test("MinHashBandHashesLong matches the two-step sig + slice-hash banding bit for bit") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftbridge.Bridge
    val (k, bands) = (32, 16)
    val rowsPerBand = k / bands
    val df = (docs.map { case (i, t) => (i, Option(t)) } ++
        Seq(8L -> Some(""), 9L -> Some("one two three"), 10L -> None))
      .toDF("doc_id", "text")
      .select($"doc_id", Dedup.hashedShingles($"text", 3).as("shh"))
    // the banding the fused expression replaced, stated as Columns:
    // sig from MinHashSigLong, band b = hash(slice(sig, b*rows+1, rows), 9999)
    val sig = Dedup.minhashFromHashes($"shh", k)
    val ref = array((0 until bands).map { b =>
      hash(slice(sig, b * rowsPerBand + 1, rowsPerBand), lit(9999))
    }: _*)
    val fused = Bridge.column(graft.expressions.MinHashBandHashesLong(
      Bridge.expression($"shh"), k, bands))
    val out = df.select($"doc_id", fused.as("fast"), ref.as("ref")).collect()
    out.foreach { r =>
      assert(r.getSeq[Int](1) === r.getSeq[Int](2),
        s"band-hash mismatch for doc ${r.getLong(0)}")
    }
    assert(out.length === docs.length + 3)
  }

  test("Md5MinHashSig matches the substring(md5(tok:block)) HOF formulation") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftbridge.Bridge
    val df = (docs.map { case (i, t) => (i, Option(t)) } ++
        Seq(8L -> Some(""), 9L -> Some("one two three"), 10L -> None))
      .toDF("doc_id", "text")
      .select($"doc_id", Dedup.shingles($"text", 3).as("sh"))
    // the oracle's definition, stated as a Column program: component
    // f = min over tokens of substring(md5(tok:f/4), (f%4)*8+1, 8)
    val hof = array((0 until 32).map { f =>
      array_min(transform($"sh", t =>
        md5(concat(t, lit(":" + (f / 4)))).substr(lit(f % 4 * 8 + 1), lit(8))))
    }: _*)
    val rows = df.select($"doc_id",
        Bridge.column(graft.expressions.Md5MinHashSig(
          Bridge.expression($"sh"), 32)).as("fast"), hof.as("ref"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Any](1) === r.getSeq[Any](2),
        s"signature mismatch for doc ${r.getLong(0)}")
    }
    assert(rows.length === docs.length + 3)
  }

  test("SimHashFp matches the explode + per-bit aggregate plan bit for bit") {
    import org.apache.spark.sql.functions._
    val bits = 48
    val df = (docs ++ Seq(8L -> "", 9L -> "  ", 10L -> "Mixed CASE tokens"))
      .toDF("doc_id", "text")
    // the former formulation, kept inline as the reference
    val toks = df.select(col("doc_id").cast("long").as("id"),
      explode_outer(array_distinct(split(trim(lower(col("text"))), "\\s+"))).as("t"))
    val h = conv(substring(md5(col("t")), 1, bits / 4), 16, 10).cast("long")
    val ref = toks.select(col("id"), h.as("h"))
      .groupBy("id")
      .agg(sum(shiftright(col("h"), 0).bitwiseAND(1L) * 2L - 1L).as("v0"),
        (1 until bits).map(i =>
          sum(shiftright(col("h"), i).bitwiseAND(1L) * 2L - 1L).as(s"v$i")): _*)
      .select(col("id"),
        (0 until bits).map(i =>
          when(col(s"v$i") > 0, shiftleft(lit(1L), i)).otherwise(0L))
          .reduce(_ + _).as("fp"))
      .as[(Long, Long)].collect().toMap
    val got = Dedup.simhashFingerprints(df, "doc_id", "text", bits)
      .as[(Long, Long)].collect().toMap
    assert(got === ref)
    assert(got.size === docs.size + 3)
  }

  test("hammingBands: maxDist+1 bands tiling all bits") {
    val bands = Dedup.hammingBands(48, 6)
    assert(bands.length == 7)
    assert(bands.map(_._2).sum == 48)
    assert(bands.head._1 == 0)
    assert(bands.sliding(2).forall { case Seq((o1, w1), (o2, _)) => o2 == o1 + w1 })
  }

  test("simhashNearDups equals brute-force hamming pairs (pigeonhole recall)") {
    val df = docs.toDF("doc_id", "text")
    val banded = Dedup.simhashNearDups(df, "doc_id", "text", maxDist = 6, bits = 48)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    val brute = naiveSimhashPairs(maxDist = 6, bits = 48)
    assert(banded == brute)
    assert(banded.exists(_._3 == 0)) // identical docs collapse to distance 0
  }

  test("simhashNearDups keeps a pair whose first colliding bucket the guard dropped") {
    // 16-bit fingerprints in four 4-bit bands fill buckets fast. From a
    // pool of docs and one-word-longer variants, pick a near-dup pair
    // that collides in band 0 and a later band, plus two fillers that
    // share the pair's band-0 value: that bucket then holds four rows
    // against maxBucket 3 and is dropped, while the later band's stays.
    val bits = 16; val maxDist = 3; val maxBucket = 3
    val bands = Dedup.hammingBands(bits, maxDist)
    def bval(fp: Long, b: Int): Long = {
      val (off, w) = bands(b)
      (fp >>> off) & ((1L << w) - 1L)
    }
    def collides(x: Long, y: Long, b: Int) = bval(x, b) == bval(y, b)
    val rnd = new scala.util.Random(77)
    val bases = (0L until 200L).map(i =>
      i -> Vector.fill(14)(s"w${rnd.nextInt(60)}").mkString(" "))
    val pool = bases ++ bases.map { case (i, t) => (1000L + i) -> s"$t extra$i" }
    val text = pool.toMap
    val fps = Dedup.simhashFingerprints(pool.toDF("doc_id", "text"),
        "doc_id", "text", bits)
      .as[(Long, Long)].collect().toMap
    val corpusIds = (for {
      (a, _) <- bases.iterator
      b = 1000L + a
      if java.lang.Long.bitCount(fps(a) ^ fps(b)) <= maxDist
      if collides(fps(a), fps(b), 0)
      later <- (1 until bands.size).find(collides(fps(a), fps(b), _)).iterator
      fillers = bases.map(_._1)
        .filter(f => f != a && bval(fps(f), 0) == bval(fps(a), 0)).take(2)
      if fillers.size == 2
      ids = Seq(a, b) ++ fillers
      if ids.count(i => bval(fps(i), later) == bval(fps(a), later)) <= maxBucket
    } yield ids).next()
    val corpus = corpusIds.map(i => i -> text(i))
    // reference: pairs from the surviving buckets, distinct, refined
    val buckets = (for (i <- corpusIds; b <- bands.indices)
      yield (b, bval(fps(i), b)) -> i).groupMap(_._1)(_._2)
    val expect = (for {
      ids <- buckets.values if ids.size >= 2 && ids.size <= maxBucket
      x <- ids; y <- ids if x < y
      h = java.lang.Long.bitCount(fps(x) ^ fps(y)) if h <= maxDist
    } yield (x, y, h)).toSet
    val (a, b) = (corpusIds(0), corpusIds(1))
    val first = bands.indices.find(collides(fps(a), fps(b), _)).get
    assert(buckets((first, bval(fps(a), first))).size > maxBucket)
    assert(expect.exists(p => p._1 == a && p._2 == b),
      "the pair survives in a later band")
    val got = Dedup.simhashNearDups(corpus.toDF("doc_id", "text"), "doc_id",
        "text", maxDist = maxDist, bits = bits, maxBucket = maxBucket)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
    assert(got.length == got.toSet.size, "each pair once")
    assert(got.toSet == expect)
  }

  test("pairsFromBuckets pairs buckets of 2 to maxBucket members, as a self-join does") {
    val maxBucket = 4
    // (key, member ids): sizes 1, 2, maxBucket and maxBucket + 1, a
    // bucket repeating an id, and the maxBucket + 1 bucket's ids in no
    // other bucket, so its drop shows
    val twoCol = Seq[(Seq[Int], Seq[Long])](
      Seq(0, 10) -> Seq(1L),
      Seq(0, 11) -> Seq(3L, 2L),
      Seq(1, 10) -> Seq(203L, 200L, 202L, 201L),
      Seq(1, 11) -> Seq(100L, 104L, 101L, 103L, 102L),
      Seq(2, 10) -> Seq(5L, 6L, 5L))
    // Ann's (cluster, band, bval) key: one (band, bval) in two clusters
    val threeCol = Seq[(Seq[Int], Seq[Long])](
      Seq(0, 0, 7) -> Seq(1L, 2L, 3L, 4L),
      Seq(1, 0, 7) -> Seq(5L, 6L),
      Seq(2, 0, 7) -> Seq(7L, 8L, 9L, 10L, 11L),
      Seq(3, 0, 7) -> Seq(12L))
    def brute(buckets: Seq[(Seq[Int], Seq[Long])]): Seq[(Long, Long)] =
      buckets.map(_._2).filter(m => m.size >= 2 && m.size <= maxBucket)
        .flatMap(m => for (x <- m; y <- m if x < y) yield (x, y)).sorted
    def memb(buckets: Seq[(Seq[Int], Seq[Long])], cols: Seq[String]): DataFrame =
      buckets.flatMap { case (k, ids) => ids.map(id => (id, k)) }
        .toDF("id", "k")
        .select((col("id") +: cols.indices.map(i => col("k")(i).as(cols(i)))): _*)
    val raws = Seq(twoCol -> Seq("band", "bval"),
        threeCol -> Seq("cluster", "band", "bval")).map { case (buckets, cols) =>
      val m = memb(buckets, cols)
      val raw = Dedup.pairsFromBuckets(m, cols, maxBucket, dedup = false)
        .select("id_a", "id_b").as[(Long, Long)].collect().sorted.toSeq
      assert(raw == brute(buckets), cols)
      val deduped = Dedup.pairsFromBuckets(m, cols, maxBucket)
        .select("id_a", "id_b").as[(Long, Long)].collect()
      assert(deduped.sorted.toSeq == brute(buckets).distinct, cols)
      // a fingerprint column rides the pass with its member
      val fps = Dedup.pairsFromBuckets(m.withColumn("fp", col("id") * 31), cols,
          maxBucket, dedup = false)
        .select("id_a", "id_b", "fp_a", "fp_b").as[(Long, Long, Long, Long)]
        .collect()
      assert(fps.map(p => (p._1, p._2)).sorted.toSeq == brute(buckets), cols)
      assert(fps.forall(p => p._3 == p._1 * 31 && p._4 == p._2 * 31), cols)
      raw
    }
    assert(raws(0).count(_._1 >= 200) == 6, "the maxBucket bucket pairs fully")
    assert(!raws(0).exists(p => p._1 >= 100 && p._1 < 200),
      "the maxBucket + 1 bucket emits nothing")
    assert(raws(0).count(_ == (5L, 6L)) == 2, "a repeated id pairs per copy")
    assert(raws(1).size == 6 + 1, "no pair across clusters")
  }

  test("building simhashNearDups runs no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graftbridge.Bridge
    val df = docs.toDF("doc_id", "text")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Bridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = Dedup.simhashNearDups(df, "doc_id", "text", maxDist = 6, bits = 48)
      out.queryExecution.executedPlan
      Bridge.drainListenerBus(spark.sparkContext)
      assert(jobs.get == 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("connectedComponents converges on a 1000-vertex path graph") {
    // worst case for plain min-label propagation (diameter 999): the
    // Large-Star/Small-Star rounds must close it within the default
    // maxIters=50, and the per-round unpersist + periodic
    // localCheckpoint must keep lineage bounded throughout
    val ids = spark.range(1000).select($"id")
    val pairs = spark.range(999)
      .select($"id".as("id_a"), ($"id" + 1).as("id_b"))
    // driverFinishEdges = 0 forces the ITERATIVE regime — this test
    // exists to cover the rounds, which the small-graph driver
    // union-find would otherwise short-circuit
    val labels = Dedup.connectedComponents(ids, pairs, driverFinishEdges = 0)
      .as[(Long, Long)].collect()
    assert(labels.length == 1000)
    assert(labels.forall(_._2 == 0L)) // one component, min id 0
    // and the driver union-find regime must agree exactly
    val viaDriver = Dedup.connectedComponents(ids, pairs)
      .as[(Long, Long)].collect()
    assert(viaDriver.sortBy(_._1).sameElements(labels.sortBy(_._1)))
  }

  test("connectedComponents labels multiple components + isolated ids") {
    val ids = spark.range(10).select($"id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 7L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(ids, pairs)
      .as[(Long, Long)].collect().toMap
    val want = Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L, 9L -> 9L)
    assert(got == want)
  }

  test("connectedComponents Large-Star/Small-Star rounds equal the driver union-find") {
    // driverFinishEdges = 0 sends every graph through the rounds; the
    // default keeps these graphs in the driver union-find. Each graph
    // carries isolated ids, duplicate pairs (both orientations) and
    // self-loops, one of them on an id with no other edge.
    val rnd = new scala.util.Random(7)
    val graphs: Seq[(String, Int, Seq[(Long, Long)])] = Seq(
      ("1,000-path", 1000, (0L until 999L).map(v => (v, v + 1))),
      ("star on its largest id", 501, (0L until 500L).map(v => (500L, v))),
      ("200 disjoint 5-cliques", 1000, for {
        c <- 0L until 200L; a <- 0L until 5L; b <- a + 1 until 5L
      } yield (5 * c + a, 5 * c + b)),
      ("seeded random graph", 300,
        Seq.fill(250)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))))
    for ((name, n, edges) <- graphs) {
      val ids = spark.range(n + 20).select($"id")
      val pairs = (edges ++ edges.take(7) ++ edges.take(5).map(_.swap) ++
          Seq((3L, 3L), (n + 10L, n + 10L))).toDF("id_a", "id_b")
      val rounds = Dedup.connectedComponents(ids, pairs, driverFinishEdges = 0)
        .as[(Long, Long)].collect()
      val driver = Dedup.connectedComponents(ids, pairs)
        .as[(Long, Long)].collect()
      assert(rounds.length == n + 20, name)
      assert(rounds.sortBy(_._1).sameElements(driver.sortBy(_._1)), name)
    }
  }

  test("connectedComponents refuses to return labels it did not converge on") {
    val ids = spark.range(1000).select($"id")
    val pairs = spark.range(999)
      .select($"id".as("id_a"), ($"id" + 1).as("id_b"))
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(ids, pairs, maxIters = 1, driverFinishEdges = 0)
    }
    assert(e.getMessage.contains("maxIters"))
  }

  test("exact dedup groups identical docs under one digest") {
    val df = docs.toDF("doc_id", "text")
    val r = Dedup.exact(df, "doc_id", "text")
      .filter($"n_copies" > 1).select("doc_id", "n_copies")
      .as[(Long, Long)].collect()
    assert(r.toSeq == Seq((0L, 2L))) // docs 0 and 1 identical, min id kept
  }

  test("containment flags a doc quoted wholesale inside a larger one") {
    // doc 6 = doc 0 + trailing words: every shingle of doc 0 appears in
    // doc 6 (containment 1.0) but NOT vice versa; the symmetric-Jaccard
    // view of the same pair is < 1. Identical docs 0/1 contain each
    // other both ways.
    val df = docs.toDF("doc_id", "text")
    val got = Dedup.containmentPairsIndexed(df, "doc_id", "text", 3, 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((0L, 6L)) && got.contains((1L, 6L)))
    assert(!got.contains((6L, 0L)) && !got.contains((6L, 1L)))
    assert(got.contains((0L, 1L)) && got.contains((1L, 0L)))
  }

  test("eager shingle-cache gate follows the bypass-merge threshold; knob overrides") {
    val key = "spark.graft.eagerShingleCache"
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      // at/below the bypass threshold (default 200) the sort-based
      // shuffle writer never engages, so the fd failure mode the
      // eager split prevents can't exist → lazy
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      assert(!Dedup.eagerShingleCacheDefault(spark))
      spark.conf.set("spark.sql.shuffle.partitions", "201")
      assert(Dedup.eagerShingleCacheDefault(spark))
      // the session conf wins over the gate, both directions
      spark.conf.set(key, "false")
      assert(!Dedup.eagerShingleCacheDefault(spark))
      spark.conf.set(key, "true")
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      assert(Dedup.eagerShingleCacheDefault(spark))
      // a malformed value throws, naming the key
      spark.conf.set(key, "yes")
      val bad = intercept[IllegalArgumentException] {
        Dedup.eagerShingleCacheDefault(spark)
      }
      assert(bad.getMessage.contains(key))
    } finally {
      spark.conf.unset(key)
      spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
  }

  test("repeated identical calls keep their exchange-free cache layout") {
    // A session that repeats a call on the same input (every benchmark
    // pass does) persists frames whose plans equal the earlier calls'.
    // The cache registry must not evict an earlier handle by
    // unpersisting it: CacheManager matches by plan, so that would
    // uncache the frame the current call just persisted, and from then
    // on every id-keyed refine join would re-shuffle and re-sort its
    // cache side. Eight calls cover the registry's six slots. The
    // bucket pairs come from one grouped pass: no sort-merge join on
    // the bucket key, and exactly one exchange keyed on it. Same
    // AQE-off, broadcast-off contract as the layout tests above.
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val abt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = docs.toDF("doc_id", "text")
      val jaccard = naiveJaccardPairs(3, 0.5)
      val simhash = naiveSimhashPairs(maxDist = 6, bits = 48)
      // (name, call, expected pairs, id-keyed joins, bucket key)
      val callers = Seq[(String, () => DataFrame,
          Set[(Long, Long)], Int, Option[String])](
        ("minhashNearDups",
          () => Dedup.minhashNearDups(df, "doc_id", "text", 3, 0.5),
          jaccard, 4, Some("band_hash")),
        ("jaccardPairsIndexed",
          () => Dedup.jaccardPairsIndexed(df, "doc_id", "text", 3, 0.5),
          jaccard, 2, None),
        ("containmentPairsIndexed",
          () => Dedup.containmentPairsIndexed(df, "doc_id", "text", 3, 0.8),
          naiveContainmentPairs(3, 0.8), 2, None),
        ("simhashNearDups",
          () => Dedup.simhashNearDups(df, "doc_id", "text", maxDist = 6, bits = 48),
          simhash.map { case (a, b, _) => (a, b) }, 0, Some("bval")))
      callers.foreach { case (name, call, expect, nIdJoins, bucketKey) =>
        (1 to 8).foreach { i =>
          spark.catalog.clearCache()
          val out = call()
          val plan = out.queryExecution.executedPlan
          val idJoins = joinsOn(plan, "id_a", "id_b")
          assert(idJoins.size == nIdJoins, s"$name call $i:\n$plan")
          bucketKey.foreach { key =>
            assert(joinsOn(plan, key).isEmpty, s"$name call $i:\n$plan")
            val keyed = plan.collect {
              case e: ShuffleExchangeExec if (e.outputPartitioning match {
                case h: HashPartitioning =>
                  h.expressions.exists(_.toString.contains(key))
                case _ => false
              }) => e
            }
            assert(keyed.size == 1, s"$name call $i:\n$plan")
          }
          idJoins.foreach { j =>
            assert(hasCleanCacheSide(j),
              s"$name call $i: join has no exchange-free, sort-free cache side:\n$j")
          }
          val got = out.select("id_a", "id_b").as[(Long, Long)].collect().toSet
          assert(got == expect, s"$name call $i")
        }
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abt)
    }
  }

  test("the cache registry stays bounded and keeps one handle per plan") {
    val cm = spark.sharedState.cacheManager
    def cached(f: DataFrame) =
      cm.lookupCachedData(f.asInstanceOf[org.apache.spark.sql.classic.DataFrame]).isDefined
    def samePlan(a: DataFrame, b: DataFrame) =
      a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed)
    spark.catalog.clearCache()
    // seven calls on distinct inputs (ids shifted per call), one
    // registry frame each: more than the registry may keep
    def input(k: Int) = docs.map { case (id, t) => (id + 100L * k, t) }
      .toDF("doc_id", "text")
    val seen = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var newest = Seq.empty[DataFrame]
    (0 until 7).foreach { k =>
      val before = Dedup.retainedFrames(spark)
      Dedup.minhashNearDups(input(k), "doc_id", "text", 3, 0.5)
      newest = Dedup.retainedFrames(spark).filterNot(f => before.exists(_ eq f))
      seen ++= newest
    }
    assert(newest.size == 1)
    assert(seen.size == 7)
    val retained = Dedup.retainedFrames(spark)
    assert(retained.size <= Dedup.maxRetainedCaches)
    assert(seen.count(cached) <= Dedup.maxRetainedCaches)
    assert(newest.forall(f => retained.exists(_ eq f) && cached(f)))
    // a repeated call replaces its handles: one per plan, still cached
    Dedup.minhashNearDups(input(6), "doc_id", "text", 3, 0.5)
    val again = Dedup.retainedFrames(spark)
    assert(again.size == retained.size)
    newest.foreach { f =>
      assert(again.count(samePlan(_, f)) == 1)
      assert(cached(f))
    }
    assert(seen.count(cached) <= Dedup.maxRetainedCaches)
  }
}
