package graft

import java.nio.file.Files

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.expressions.WordShingles
import graft.geom.st
import graft.io.{NetCdf, Sqlite}
import graft.operators.{Dedup, SpatialJoin}

/** Property-based tests (scalacheck): codec fuzz roundtrips, expression
  * equivalence against executable models, the pigeonhole completeness
  * the SimHash banding relies on, and the reference's conservation
  * invariant (delphine/regrid.py:323-327) on random grids. */
class PropertiesSpec extends SparkSpec {

  /** Deterministic scalacheck driver (the scalatest-plus bridge isn't
    * in the offline ivy cache): n seeded samples per property. */
  private def forAllN[A](gen: Gen[A], n: Int)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      f(gen.pureApply(Gen.Parameters.default, Seed(0x5eedL + i)))
    }

  // ---------------------------------------------------------- WordShingles

  private def modelShingles(text: String, n: Int): Seq[String] = {
    val lowered = text.toLowerCase
    val trimmed = lowered.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    val toks = trimmed.split("\\s+", -1)
    val grams =
      if (toks.length <= n) Seq(toks.mkString(" "))
      else toks.sliding(n).map(_.mkString(" ")).toSeq
    grams.distinct.sorted
  }

  private val asciiText: Gen[String] =
    Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar, 2 -> Gen.const(' '),
      1 -> Gen.oneOf('.', ',', '!', '\t'))).map(_.mkString)

  test("WordShingles equals the HOF-semantics model on random text") {
    forAllN(Gen.zip(asciiText, Gen.choose(1, 4)), 200) { case (text, n) =>
      val e = WordShingles(Seq(Literal.create(
        UTF8String.fromString(text), StringType)), n)
      val got = e.eval(null).asInstanceOf[ArrayData]
        .toObjectArray(StringType).map(_.asInstanceOf[UTF8String].toString).toSeq
      assert(got == modelShingles(text, n), s"text=<$text> n=$n")
    }
  }

  test("WordShingles and SortedIntersectCount order strings without UTF8String.compareTo") {
    // compareTo throws when spark.testing is set (and looks the flag up
    // on every call otherwise); both expressions must use binary order.
    // "é" is 0xC3A9 in UTF-8, so binary order puts it after "z".
    import graft.expressions.SortedIntersectCount
    def strs(xs: String*) = Literal.create(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        xs.map(UTF8String.fromString).toArray[Any]),
      org.apache.spark.sql.types.ArrayType(StringType, containsNull = false))
    val prev = sys.props.get("spark.testing")
    sys.props("spark.testing") = "true"
    try {
      val sh = WordShingles(Seq(Literal.create(
        UTF8String.fromString("b a c a b é z"), StringType)), 1)
      val got = sh.eval(null).asInstanceOf[ArrayData]
        .toObjectArray(StringType).map(_.toString).toSeq
      assert(got == Seq("a", "b", "c", "z", "é"))
      val n = SortedIntersectCount(Seq(strs("a", "b", "z", "é"),
        strs("b", "c", "z", "é"))).eval(null)
      assert(n == 3)
    } finally {
      prev match {
        case Some(v) => sys.props("spark.testing") = v
        case None => sys.props.remove("spark.testing")
      }
    }
  }

  // ---------------------------------------------------------- pigeonhole

  test("hamming bands are recall-complete for d <= maxDist (pigeonhole)") {
    val bits = 48
    val gen = for {
      fp <- Gen.choose(Long.MinValue, Long.MaxValue).map(_ & ((1L << bits) - 1))
      maxDist <- Gen.choose(1, 6)
      nFlips <- Gen.choose(0, maxDist)
      flips <- Gen.listOfN(nFlips, Gen.choose(0, bits - 1))
    } yield (fp, maxDist, flips)
    forAllN(gen, 300) { case (fp, maxDist, flips) =>
      val other = flips.foldLeft(fp)((f, b) => f ^ (1L << b))
      val bands = Dedup.hammingBands(bits, maxDist)
      val share = bands.exists { case (off, w) =>
        ((fp >> off) & ((1L << w) - 1)) == ((other >> off) & ((1L << w) - 1))
      }
      assert(share, f"fp=$fp%x other=$other%x maxDist=$maxDist")
    }
  }

  // ---------------------------------------------------------- sqlite fuzz

  private val sqlValue: Gen[Sqlite.SqlValue] = Gen.frequency(
    1 -> Gen.const(Sqlite.SqlNull),
    4 -> Gen.choose(Long.MinValue / 2, Long.MaxValue / 2).map(Sqlite.SqlInt),
    3 -> Gen.choose(-1e12, 1e12).map(Sqlite.SqlReal),
    4 -> Gen.listOf(Gen.asciiPrintableChar).map(s => Sqlite.SqlText(s.mkString)),
    2 -> Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue))
      .map(b => Sqlite.SqlBlob(b.toArray)))

  test("sqlite container roundtrips random tables (incl. multi-page)") {
    val rowGen = Gen.listOfN(4, sqlValue)
    val tableGen = for {
      nRows <- Gen.oneOf(0, 1, 7, 300) // 300 rows of blobs forces interior pages
      rows <- Gen.listOfN(nRows, rowGen)
    } yield rows.zipWithIndex.map { case (r, i) => (i + 1L) -> r }
    forAllN(tableGen, 12) { rows =>
      val path = Files.createTempDirectory("sqlfuzz").resolve("t.db").toString
      Sqlite.write(path, Seq(
        Sqlite.TableDef("t", "CREATE TABLE t (a, b, c, d)", rows)))
      val back = Sqlite.readTable(path, "t")
      assert(back.size == rows.size)
      back.zip(rows).foreach { case ((gotId, gotVs), (expId, expVs)) =>
        assert(gotId == expId)
        gotVs.zip(expVs).foreach {
          case (Sqlite.SqlBlob(g), Sqlite.SqlBlob(e)) => assert(g.sameElements(e))
          case (g, e) => assert(g == e)
        }
      }
    }
  }

  // ---------------------------------------------------------- netcdf fuzz

  test("netcdf codec roundtrips random dims/attrs/values") {
    val gen = for {
      ny <- Gen.choose(1, 9)
      nx <- Gen.choose(1, 9)
      vals <- Gen.listOfN(ny * nx, Gen.choose(-1e6, 1e6))
      attr <- Gen.listOf(Gen.alphaNumChar).map(_.mkString)
    } yield (ny, nx, vals.toArray, attr)
    forAllN(gen, 25) { case (ny, nx, vals, attr) =>
      val path = Files.createTempDirectory("ncfuzz").resolve("g.nc").toString
      NetCdf.write(path,
        Seq(NetCdf.Dim("y", ny), NetCdf.Dim("x", nx)),
        Seq("note" -> attr),
        Seq(NetCdf.Var("v", Seq(0, 1), NetCdf.NcDouble, Nil, vals)))
      val nc = NetCdf.read(path)
      assert(nc.dims.map(_.size) == Seq(ny, nx))
      assert(nc.globalAttrs == Seq("note" -> attr))
      assert(nc.variable("v").data.asInstanceOf[Array[Double]].toSeq == vals.toSeq)
    }
  }

  test("hdf5 codec roundtrips random dims/values, contiguous and chunked") {
    val gen = for {
      ny <- Gen.choose(1, 9)
      nx <- Gen.choose(1, 9)
      vals <- Gen.listOfN(ny * nx, Gen.choose(-1e6, 1e6))
      chunked <- Gen.oneOf(true, false)
    } yield (ny, nx, vals.toArray, chunked)
    forAllN(gen, 15) { case (ny, nx, vals, chunked) =>
      val path = Files.createTempDirectory("h5fuzz").resolve("g.h5").toString
      graft.io.Hdf5.write(path,
        Seq(NetCdf.Dim("y", ny), NetCdf.Dim("x", nx)),
        Seq("note" -> "fuzz"),
        Seq(NetCdf.Var("v", Seq(0, 1), NetCdf.NcDouble, Nil, vals)),
        chunkDeflate = chunked)
      val nc = graft.io.Hdf5.read(path)
      assert(nc.dims.map(_.size) == Seq(ny, nx), s"chunked=$chunked")
      assert(nc.variable("v").data.asInstanceOf[Array[Double]].toSeq == vals.toSeq,
        s"chunked=$chunked ny=$ny nx=$nx")
    }
  }

  test("zarr codec roundtrips random dims/values, compressed and chunked") {
    val gen = for {
      ny <- Gen.choose(1, 9)
      nx <- Gen.choose(1, 9)
      vals <- Gen.listOfN(ny * nx, Gen.choose(-1e6, 1e6))
      compress <- Gen.oneOf(true, false)
      chunk0 <- Gen.oneOf(0, 1, 3)
    } yield (ny, nx, vals.toArray, compress, chunk0)
    forAllN(gen, 15) { case (ny, nx, vals, compress, chunk0) =>
      val path = Files.createTempDirectory("zrfuzz").resolve("g.zarr").toString
      graft.io.Zarr.write(path,
        Seq(NetCdf.Dim("y", ny), NetCdf.Dim("x", nx)),
        Seq("note" -> "fuzz"),
        Seq(NetCdf.Var("v", Seq(0, 1), NetCdf.NcDouble, Nil, vals)),
        compress = compress, chunk0 = chunk0)
      val nc = graft.io.Zarr.read(path)
      assert(nc.dims.map(_.size) == Seq(ny, nx),
        s"compress=$compress chunk0=$chunk0")
      assert(nc.variable("v").data.asInstanceOf[Array[Double]].toSeq == vals.toSeq,
        s"compress=$compress chunk0=$chunk0 ny=$ny nx=$nx")
    }
  }

  // ------------------------------------------------------ conservation

  test("conservative regrid preserves total mass on random grids") {
    // source cells: random sub-grid of a 6x5 lattice of 1x1 cells with
    // integer-cent populations; target: 2x2 boxes fully covering the
    // lattice => every source cell is exactly partitioned by targets
    // and the regridded total equals the source total.
    val gen = for {
      present <- Gen.listOfN(30, Gen.oneOf(true, false))
      pops <- Gen.listOfN(30, Gen.choose(1, 99999))
    } yield present.zip(pops).zipWithIndex.collect {
      case ((true, p), i) => (i.toLong, i % 6, i / 6, p.toLong)
    }
    forAllN(gen, 5) { cells =>
      if (cells.nonEmpty) {
        val sp = spark
        import sp.implicits._
        val src = cells.toDF("id", "cx", "cy", "pop_cents")
          .withColumn("pop_geom", st.makeBox(
            col("cx") * 1.0, col("cy") * 1.0,
            col("cx") * 1.0 + 1.0, col("cy") * 1.0 + 1.0))
        val tgt = (for (tx <- 0 until 3; ty <- 0 until 3) yield (tx * 3 + ty, tx, ty))
          .toDF("tid", "tx", "ty")
          .withColumn("tgt_geom", st.makeBox(
            col("tx") * 2.0, col("ty") * 2.0,
            col("tx") * 2.0 + 2.0, col("ty") * 2.0 + 2.0))
        val regrid = SpatialJoin
          .overlayIntersection(src, tgt, "pop_geom", "tgt_geom", 2.0)
          .agg(sum(col("pop_cents") * col("piece_area")).as("total"))
          .head().getDouble(0)
        val orig = cells.map(_._4).sum.toDouble // area_pop = 1 per cell
        assert(math.abs(regrid - orig) / orig < 1e-9,
          s"conservation violated: $regrid vs $orig")
      }
    }
  }

  // -------------------------------------------------------- IntervalJoin

  test("bucketized interval join equals the naive range join on random data") {
    val sp = spark
    import sp.implicits._
    val dayUs = 86400000000L
    val gen = for {
      pts <- Gen.listOfN(200, Gen.zip(
        Gen.choose(0L, 3L), Gen.choose(0L, dayUs)))
      ivs <- Gen.listOfN(60, Gen.zip(
        Gen.choose(0L, 3L), Gen.choose(0L, dayUs),
        Gen.choose(1L, 7200000000L)))
      bs <- Gen.oneOf(60L, 977L, 3600L) // incl. a prime width: misaligned buckets
    } yield (pts, ivs, bs)
    forAllN(gen, 5) { case (ptsRaw, ivsRaw, bs) =>
      val pts = ptsRaw.zipWithIndex
        .map { case ((k, us), i) => (i.toLong, k, us) }
        .toDF("event_id", "k", "us")
        .select(col("event_id"), col("k"),
          expr("timestamp_micros(us)").as("t"))
      val ivs = ivsRaw.zipWithIndex
        .map { case ((k, s, len), i) => (i.toLong, k, s, s + len) }
        .toDF("iv_id", "k", "sus", "eus")
        .select(col("iv_id"), col("k"),
          expr("timestamp_micros(sus)").as("s"),
          expr("timestamp_micros(eus)").as("e"))
      val naive = pts.join(ivs.withColumnRenamed("k", "k2"),
          col("k") === col("k2") &&
            col("s") <= col("t") && col("t") < col("e"))
        .select("event_id", "iv_id")
      val bucketed = graft.operators.IntervalJoin
        .pointsInIntervals(pts, "t", ivs, "s", "e", Seq("k"),
          bucketSeconds = bs)
        .select("event_id", "iv_id")
      assert(naive.exceptAll(bucketed).isEmpty &&
        bucketed.exceptAll(naive).isEmpty,
        s"mismatch at bucketSeconds=$bs")
    }
  }

  // ------------------------------------------- compiled signature kernels

  private val tokenGen: Gen[String] = Gen.frequency(
    6 -> Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString),
    1 -> Gen.const("café"), 1 -> Gen.const("中文"), 1 -> Gen.const(""))

  test("MinHashSig equals min(hash(s, seed)) over random shingle arrays") {
    import spark.implicits._
    val arrays = forAllNCollect(Gen.listOf(tokenGen), 200)(identity)
    val df = arrays.zipWithIndex.map { case (a, i) => (i.toLong, a.distinct) }
      .toDF("id", "sh")
    val k = 16
    val hof = array((0 until k).map { seed =>
      array_min(transform(col("sh"), s => hash(s, lit(seed))))
    }: _*)
    val rows = df.select(Dedup.minhashFromShingles(col("sh"), k).as("fast"),
        hof.as("ref"))
      .collect()
    rows.foreach(r => assert(r.getSeq[Any](0) === r.getSeq[Any](1)))
    assert(rows.length == arrays.length)
  }

  test("SimHashFp equals an independent hex-string md5 model on random text") {
    import graft.expressions.SimHashFp
    import org.apache.spark.sql.types.LongType
    val bits = 48
    def model(text: String): Long = {
      val s = {
        // SQL trim: 0x20 only
        val lowered = text.toLowerCase
        lowered.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      }
      val md = java.security.MessageDigest.getInstance("MD5")
      val votes = new Array[Int](bits)
      s.split("\\s+", -1).distinct.foreach { t =>
        val hex = md.digest(t.getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString.take(bits / 4)
        val h = java.lang.Long.parseLong(hex, 16)
        (0 until bits).foreach(i =>
          votes(i) += (((h >>> i) & 1L).toInt * 2 - 1))
      }
      (0 until bits).foldLeft(0L)((fp, i) =>
        if (votes(i) > 0) fp | (1L << i) else fp)
    }
    forAllN(asciiText, 150) { text =>
      val e = SimHashFp(Literal.create(UTF8String.fromString(text), StringType),
        bits)
      assert(e.eval(null) === model(text), s"text=<$text>")
      assert(e.dataType === LongType)
    }
  }

  test("RarityPrefix emits the model prefix under any sampled rank table") {
    import graft.expressions.RarityPrefix
    // hashed shingles: small values collide on rank and sort across
    // zero; arbitrary ones span the whole long range
    val hashGen: Gen[Long] = Gen.frequency(
      3 -> Gen.choose(-40L, 40L), 1 -> Gen.choose(Long.MinValue, Long.MaxValue))
    val gen = for {
      toks <- Gen.listOf(hashGen).map(_.distinct.sorted)
      ranked <- Gen.someOf(toks)
      t <- Gen.oneOf(0.3, 0.5, 0.8, 1.0)
    } yield (toks, ranked.map(x => x -> (math.abs(x % 4) + 2)).toMap, t)
    forAllN(gen, 200) { case (toks, ranks, t) =>
      val bc = spark.sparkContext.broadcast(ranks)
      val e = RarityPrefix(Literal.create(
        ArrayData.toArrayData(toks.toArray),
        org.apache.spark.sql.types.ArrayType(LongType)), bc, t)
      val got = e.eval(null).asInstanceOf[ArrayData]
      val sorted = toks.sortBy(x => (ranks.getOrElse(x, 1L), x))
      val prefixLen =
        if (toks.isEmpty) 0
        else math.max(toks.size - math.ceil(toks.size * t - 1e-9).toLong + 1, 1L)
          .min(toks.size).toInt
      assert(got.numElements() == prefixLen, s"toks=$toks t=$t")
      (0 until prefixLen).foreach { i =>
        val row = got.getStruct(i, 2)
        assert(row.getLong(0) == sorted(i) &&
          row.getInt(1) == i + 1, s"pos $i of $toks t=$t")
      }
    }
  }

  test("warc codec roundtrips random unicode payloads and URIs") {
    import spark.implicits._
    val textGen = Gen.listOf(Gen.frequency[String](
      6 -> Gen.alphaNumChar.map(_.toString), 2 -> Gen.const(" "),
      1 -> Gen.oneOf("\r", "\n", "\t"),
      1 -> Gen.oneOf("é", "中", "😀", "\u0000")))
      .map(_.mkString)
    val docs = forAllNCollect(textGen, 60)(identity).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val dir = Files.createTempDirectory("warc_fuzz").toString
    val framed = docs.toDF("id", "text").selectExpr(
      "concat('https://fuzz.example.org/d/', id) AS uri",
      "'2026-01-01T00:00:00Z' AS date", "text")
    graft.io.Warc.write(framed.repartition(3), dir, "uri", "date", "text")
    val back = graft.io.Warc.read(spark, dir)
      .selectExpr("cast(regexp_extract(uri, '/d/(\\\\d+)$', 1) as long)", "text")
      .as[(Long, String)].collect().toMap
    assert(back == docs.toMap)
  }

  /** forAllN that also returns the generated samples. */
  private def forAllNCollect[A, B](gen: Gen[A], n: Int)(f: A => B): Seq[B] =
    (0 until n).map { i =>
      f(gen.pureApply(Gen.Parameters.default, Seed(0x5eedL + i)))
    }
}
