package graft

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.expressions.{RepeatedArg, STContains, STIntersects, STWithin}
import graft.geom.{st, Wkb}

/** st_intersects / st_within / st_contains keep a repeating argument's
  * prepared geometry between rows. These cases pin that the cache
  * never changes an answer: every predicate over every pair of a
  * seeded pool — polygons, multipolygons with holes, points, lines,
  * EMPTYs, shared edges, vertex touches, nulls — equals plain JTS,
  * whichever side repeats and however (literal, broadcast cross-join
  * column, runs, row-by-row alternation), on one partition and on
  * several, with whole-stage codegen on and off. */
class PreparedPredicateSpec extends SparkSpec {

  private val pool: IndexedSeq[Array[Byte]] = {
    val rnd = new Random(20251017L)
    def i(n: Int) = rnd.nextInt(n)
    def ring(x0: Int, y0: Int, w: Int, h: Int) =
      s"($x0 $y0, ${x0 + w} $y0, ${x0 + w} ${y0 + h}, $x0 ${y0 + h}, $x0 $y0)"
    // integer coordinates on a 12×12 grid, so edges coincide and
    // vertices land on other geometries' edges and corners
    val random = Seq.fill(8)(s"POLYGON (${ring(i(9), i(9), 1 + i(4), 1 + i(4))})") ++
      Seq.fill(4) {
        val (x, y, w, h) = (i(8), i(8), 1 + i(4), 1 + i(4))
        s"POLYGON (($x $y, ${x + w} $y, $x ${y + h}, $x $y))"
      } ++
      Seq.fill(8)(s"POINT (${i(12)} ${i(12)})") ++
      Seq.fill(5) {
        val (x, y) = (i(9), i(9))
        s"LINESTRING ($x $y, ${x + 1 + i(3)} ${y + i(3)}, ${x + i(3)} ${y + 1 + i(3)})"
      }
    val fixed = Seq(
      s"POLYGON (${ring(0, 0, 10, 10)}, ${ring(3, 3, 4, 4)})", // square with a hole
      s"MULTIPOLYGON ((${ring(0, 0, 4, 4)}, ${ring(1, 1, 2, 2)}), (${ring(6, 6, 4, 4)}))",
      s"MULTIPOLYGON ((${ring(4, 0, 2, 4)}), (${ring(8, 2, 4, 4)}, ${ring(9, 3, 1, 1)}))",
      s"POLYGON (${ring(0, 0, 2, 2)})", s"POLYGON (${ring(2, 0, 2, 2)})", // shared edge
      s"POLYGON (${ring(2, 2, 2, 2)})", // touches the first at a vertex
      "POINT (2 2)", "POINT (4 4)", "LINESTRING (0 0, 2 0)", "LINESTRING (-1 5, 13 5)",
      "POLYGON EMPTY", "POINT EMPTY", "LINESTRING EMPTY", "MULTIPOLYGON EMPTY")
    (random ++ fixed).map(w => Wkb.write(Wkb.readWkt(w))).toIndexedSeq :+ null :+ null
  }

  private def plain(a: Array[Byte], b: Array[Byte]): Seq[Any] =
    if (a == null || b == null) Seq(null, null, null)
    else {
      val ga = Wkb.read(a); val gb = Wkb.read(b)
      Seq(ga.intersects(gb), ga.within(gb), ga.contains(gb))
    }

  private val schema = StructType(Seq(
    StructField("i", IntegerType), StructField("j", IntegerType),
    StructField("a", BinaryType), StructField("b", BinaryType)))

  private def frame(pairs: Seq[(Int, Int)], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      pairs.map { case (i, j) => Row(i, j, pool(i), pool(j)) }, parts), schema)

  private def predicates(a: Column, b: Column): Seq[Column] =
    Seq(st.intersects(a, b), st.within(a, b), st.contains(a, b))

  private def inBothModes(body: => Unit): Unit =
    Seq("true", "false").foreach { ws =>
      withClue(s"spark.sql.codegen.wholeStage=$ws: ") {
        spark.conf.set("spark.sql.codegen.wholeStage", ws)
        try body finally spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }

  /** Every (i, j) row of `pairs` evaluated in Spark, in `pairs` order
    * within each partition, against plain JTS. */
  private def assertPairs(pairs: Seq[(Int, Int)]): Unit = inBothModes {
    Seq(1, 4).foreach { parts =>
      val got = frame(pairs, parts)
        .select(col("i") +: col("j") +: predicates(col("a"), col("b")): _*)
        .collect()
      assert(got.length == pairs.length)
      got.foreach { r =>
        val (i, j) = (r.getInt(0), r.getInt(1))
        assert(Seq(r.get(2), r.get(3), r.get(4)) == plain(pool(i), pool(j)),
          s"pair ($i, $j) on $parts partition(s)")
      }
    }
  }

  private val ids = pool.indices

  test("the pool covers every shape the cache must handle") {
    val types = pool.filter(_ != null).map(b => Wkb.read(b).getGeometryType).toSet
    assert(Set("Polygon", "MultiPolygon", "Point", "LineString").subsetOf(types))
    assert(pool.count(_ == null) == 2)
    assert(pool.exists(b => b != null && Wkb.read(b).isEmpty))
    val pairs = for (i <- ids; j <- ids) yield plain(pool(i), pool(j))
    // the pool exercises both answers of every predicate
    (0 until 3).foreach(k => assert(Set[Any](true, false).subsetOf(pairs.map(_(k)).toSet)))
  }

  test("runs of a repeating right side (b-major order) equal plain JTS") {
    assertPairs(for (j <- ids; i <- ids) yield (i, j))
  }

  test("runs of a repeating left side (a-major order) equal plain JTS") {
    assertPairs(for (i <- ids; j <- ids) yield (i, j))
  }

  test("seeded runs of random length, cut mid-run, equal plain JTS") {
    val rnd = new Random(7L)
    val bMajor = for (j <- ids; i <- ids) yield (i, j)
    val runs = Iterator.unfold(bMajor) { rest =>
      if (rest.isEmpty) None else Some(rest.splitAt(1 + rnd.nextInt(7)))
    }.toSeq
    assertPairs(rnd.shuffle(runs).flatten)
  }

  test("a side alternating row by row (A, B, A, B) equals plain JTS") {
    val alternating = ids.zip(ids.tail).flatMap { case (r1, r2) =>
      ids.flatMap(i => Seq((i, r1), (i, r2), (r1, i), (r2, i)))
    }
    assertPairs(alternating)
  }

  test("a literal on either side equals plain JTS") {
    val cands = spark.createDataFrame(spark.sparkContext.parallelize(
      ids.map(i => Row(i, 0, pool(i), null)), 3), schema)
    inBothModes {
      ids.filter(pool(_) != null).foreach { r =>
        val region = lit(pool(r))
        val got = cands.select(col("i") +: (predicates(col("a"), region) ++
          predicates(region, col("a"))): _*).collect()
        got.foreach { row =>
          val i = row.getInt(0)
          assert((1 to 6).map(row.get) == plain(pool(i), pool(r)) ++ plain(pool(r), pool(i)),
            s"candidate $i against literal $r")
        }
      }
    }
  }

  test("a broadcast cross-join column (the stage-9 clip shape) equals plain JTS") {
    val cands = frame(ids.map(i => (i, 0)), 4).select("i", "a")
    inBothModes {
      ids.foreach { r =>
        val region = frame(Seq((0, r)), 1).select("j", "b")
        val joined = cands.crossJoin(broadcast(region))
        def kept(p: Column) = joined.filter(p).select("i").collect().map(_.getInt(0)).toSet
        val want = ids.map(i => i -> plain(pool(i), pool(r)))
        assert(kept(st.intersects(col("a"), col("b"))) ==
          want.collect { case (i, Seq(true, _, _)) => i }.toSet, s"intersects $r")
        assert(kept(st.within(col("a"), col("b"))) ==
          want.collect { case (i, Seq(_, true, _)) => i }.toSet, s"within $r")
        assert(kept(st.contains(col("b"), col("a"))) ==
          ids.filter(i => plain(pool(r), pool(i))(2) == true).toSet, s"contains $r")
      }
      // several build rows: the broadcast side cycles (A, B, C, A, ...)
      val all = cands.crossJoin(broadcast(frame(ids.map(j => (0, j)), 1).select("j", "b")))
        .select(col("i") +: col("j") +: predicates(col("a"), col("b")): _*).collect()
      assert(all.length == ids.size * ids.size)
      all.foreach { r =>
        assert(Seq(r.get(2), r.get(3), r.get(4)) == plain(pool(r.getInt(0)), pool(r.getInt(1))))
      }
    }
  }

  test("one expression instance evaluated row by row, interpreted, equals plain JTS") {
    val (a, b) = (BoundReference(0, BinaryType, true), BoundReference(1, BinaryType, true))
    val exprs = Seq(STIntersects(Seq(a, b)), STWithin(Seq(a, b)), STContains(Seq(a, b)))
    val rnd = new Random(3L)
    // long runs on either side, broken by nulls and switches
    val rows = Seq.fill(4000) {
      (if (rnd.nextInt(10) == 0) rnd.nextInt(pool.size) else 5,
        if (rnd.nextInt(10) == 0) rnd.nextInt(pool.size) else 27)
    } ++ (for (j <- ids; i <- ids) yield (i, j))
    rows.foreach { case (i, j) =>
      // a fresh array per row, as Spark hands out binary values
      def copy(v: Array[Byte]) = if (v == null) null else v.clone()
      val row = InternalRow(copy(pool(i)), copy(pool(j)))
      assert(exprs.map(_.eval(row)) == plain(pool(i), pool(j)), s"pair ($i, $j)")
    }
  }

  test("RepeatedArg parses a new value once and prepares that parse on its first repeat") {
    val m = new RepeatedArg
    val x = pool(0)
    val first = m(x)
    assert(first.prepared == null && first.geom.equalsExact(Wkb.read(x)))
    val second = m(x.clone())
    assert(second.prepared != null && (second.geom eq first.geom))
    assert(second.prepared.getGeometry eq first.geom)
    assert(m(x.clone()) eq second)
    assert(m(pool(1)).prepared == null)
    val again = m(x)
    assert(again.prepared == null && (again.geom ne first.geom))
  }
}
