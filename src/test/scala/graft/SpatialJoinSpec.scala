package graft

import org.apache.spark.sql.functions._

import graft.geom.st
import graft.operators.SpatialJoin

/** Bucket-explode spatial join through the DataFrame API: correctness
  * of candidate generation, reference-point pair dedup, and predicate
  * refinement, against brute-force references. */
class SpatialJoinSpec extends SparkSpec {
  import spark.implicits._

  test("pair spanning many buckets is emitted exactly once") {
    // two big overlapping boxes, each covering a 4×4 bucket range at
    // cellSize=1 — naive bucket join would emit the pair ~9 times
    val a = Seq((1L, 0.0, 0.0, 4.0, 4.0)).toDF("aid", "x0", "y0", "x1", "y1")
      .select($"aid", st.makeBox($"x0", $"y0", $"x1", $"y1").as("ga"))
    val b = Seq((7L, 1.0, 1.0, 5.0, 5.0)).toDF("bid", "x0", "y0", "x1", "y1")
      .select($"bid", st.makeBox($"x0", $"y0", $"x1", $"y1").as("gb"))
    assert(SpatialJoin.overlayIntersection(a, b, "ga", "gb", 1.0).count() == 1)
  }

  test("disjoint geometries in the same bucket are refined away") {
    val a = Seq((1L)).toDF("aid")
      .select($"aid", st.makeBox(lit(0.0), lit(0.0), lit(0.2), lit(0.2)).as("ga"))
    val b = Seq((2L)).toDF("bid")
      .select($"bid", st.makeBox(lit(0.5), lit(0.5), lit(0.7), lit(0.7)).as("gb"))
    assert(SpatialJoin.overlayIntersection(a, b, "ga", "gb", 10.0).count() == 0)
  }

  test("joinContains: points on cell edges belong to no cell") {
    val cells = Seq((0L, 0.0), (1L, 2.0)).toDF("cid", "off")
      .select($"cid", st.makeBox($"off", lit(0.0), $"off" + 2.0, lit(2.0)).as("cg"))
    val pts = Seq((10L, 1.0, 1.0), (11L, 2.0, 1.0), (12L, 3.0, 1.0))
      .toDF("pid", "px", "py")
      .select($"pid", st.point($"px", $"py").as("pg"))
    val got = SpatialJoin.joinContains(cells, pts, "cg", "pg", 2.0)
      .select("cid", "pid").as[(Long, Long)].collect().toSet
    // point 11 sits on the shared edge x=2 → contained by neither
    assert(got == Set((0L, 10L), (1L, 12L)))
  }

  test("overlayIntersection computes piece geometry and area") {
    val a = Seq(1L).toDF("aid")
      .select($"aid", st.makeBox(lit(0.0), lit(0.0), lit(2.0), lit(2.0)).as("ga"))
    val b = Seq(2L).toDF("bid")
      .select($"bid", st.makeBox(lit(1.0), lit(1.0), lit(3.0), lit(3.0)).as("gb"))
    val r = SpatialJoin.overlayIntersection(a, b, "ga", "gb", 2.0)
      .select($"piece_area", st.asText(st.centroid($"piece_geom")))
      .as[(Double, String)].collect()
    assert(r.length == 1)
    assert(r(0)._1 == 1.0 && r(0)._2 == "POINT (1.5 1.5)")
  }

  test("envelope cells and the planned joins equal brute force") {
    // random-ish boxes spanning 1-4 cells at cellSize=1.7, plus exact
    // cell-boundary-aligned ones (hash(id)%17==0 → integer corners)
    def boxes(seed: Int, n: Int, idName: String, gName: String) =
      spark.range(n).select($"id".as(idName),
        st.makeBox(
          pmod(hash($"id", lit(seed)), lit(200)) / 10.0,
          pmod(hash($"id", lit(seed + 1)), lit(200)) / 10.0,
          pmod(hash($"id", lit(seed)), lit(200)) / 10.0 + 0.3 + ($"id" % 7) * 0.5,
          pmod(hash($"id", lit(seed + 1)), lit(200)) / 10.0 + 0.3 + ($"id" % 5) * 0.5)
          .as(gName))
    val a = boxes(11, 80, "aid", "ga")
    val b = boxes(37, 80, "bid", "gb")
    // expression level: the one-parse envelope cells == floor of the
    // envelope bounds over cellSize, x-major, computed on the driver
    val cells = a.select($"aid", st.envelopeCells($"ga", 1.7).as("c"))
      .orderBy("aid").collect()
      .map(r => r.getSeq[org.apache.spark.sql.Row](1).map(c => (c.getLong(0), c.getLong(1))))
      .toSeq
    val bounds = a.select($"aid", st.xmin($"ga"), st.ymin($"ga"),
        st.xmax($"ga"), st.ymax($"ga"))
      .orderBy("aid").as[(Long, Double, Double, Double, Double)].collect().toSeq
    def f(v: Double) = math.floor(v / 1.7).toLong
    val expected = bounds.map { case (_, x0, y0, x1, y1) =>
      for (bx <- f(x0) to f(x1); by <- f(y0) to f(y1)) yield (bx, by) }
    assert(cells == expected)
    // join level: the planned joins == the predicate over the full cross
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("aid", "bid").as[(Long, Long)].collect().toSeq.sorted
    val bruteInt = pairs(a.crossJoin(b).filter(st.intersects($"ga", $"gb")))
    val fusedInt = pairs(SpatialJoin.overlayIntersection(a, b, "ga", "gb", 1.7))
    assert(bruteInt.nonEmpty && fusedInt == bruteInt)
    val bruteCont = pairs(a.crossJoin(b).filter(st.contains($"ga", $"gb")))
    val fusedCont = pairs(SpatialJoin.joinContains(a, b, "ga", "gb", 1.7))
    assert(bruteCont.nonEmpty && fusedCont == bruteCont)
  }

  test("empty geometries produce no cells and no pairs") {
    // intersection of disjoint boxes = an EMPTY polygon (null JTS
    // envelope). The fused explode emits zero cells for it; the old
    // chain emitted two phantom buckets that the predicate then always
    // rejected — either way, an empty geometry joins nothing.
    val empt = Seq(1L).toDF("aid").select($"aid",
      st.intersection(
        st.makeBox(lit(0.0), lit(0.0), lit(1.0), lit(1.0)),
        st.makeBox(lit(5.0), lit(5.0), lit(6.0), lit(6.0))).as("ga"))
    assert(empt.select(size(st.envelopeCells($"ga", 1.0))).head().getInt(0) == 0)
    val pts = Seq((10L, 0.5, 0.5)).toDF("bid", "px", "py")
      .select($"bid", st.point($"px", $"py").as("gb"))
    assert(SpatialJoin.joinContains(empt, pts, "ga", "gb", 1.0).count() == 0)
    assert(SpatialJoin.overlayIntersection(empt, pts, "ga", "gb", 1.0).count() == 0)
  }

  test("selfJoinWithinDistance equals the brute-force pair set") {
    // deterministic pseudo-random cloud spanning many cells, duplicate
    // coordinates included (ids 200..209 reuse id%10's position) so
    // same-cell, cross-cell, zero-distance and boundary pairs all occur
    val pts = spark.range(210).select($"id",
      st.point(
        pmod(hash($"id" % 200, lit(1)), lit(1000)) / 100.0,
        pmod(hash($"id" % 200, lit(2)), lit(800)) / 100.0).as("pg"))
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select($"id_a", $"id_b", round($"dist", 9).as("d"))
      .as[(Long, Long, Double)].collect().toSeq.sorted
    // every unordered pair of the full cross within d = 0.7, with the
    // same squared-distance test and final sqrt
    val xy = pts.select($"id", st.stx($"pg").as("x"), st.sty($"pg").as("y"))
    val dx = $"ax" - $"bx"
    val dy = $"ay" - $"by"
    val expected = norm(xy.toDF("id_a", "ax", "ay").crossJoin(xy.toDF("id_b", "bx", "by"))
      .filter($"id_a" < $"id_b" && dx * dx + dy * dy <= lit(0.7) * lit(0.7))
      .select($"id_a", $"id_b", sqrt(dx * dx + dy * dy).as("dist")))
    assert(expected.nonEmpty) // the fixture actually produces pairs
    assert(norm(SpatialJoin.selfJoinWithinDistance(
      pts, "id", "pg", d = 0.7, cellSize = 0.7)) == expected)
    // a cellSize well below d exercises the multi-ring forward probe
    assert(norm(SpatialJoin.selfJoinWithinDistance(
      pts, "id", "pg", d = 0.7, cellSize = 0.3)) == expected)
  }

  test("conservation: regrid piece areas sum to each source cell's area") {
    // 2×2 source cells of size 3×3 overlaid with a 0.5-shifted unit
    // target lattice fully covering them → every source cell's pieces
    // sum back to 9 exactly (the reference's invariant,
    // delphine/regrid.py:323-327)
    val src = Seq((0L, 0.0, 0.0), (1L, 3.0, 0.0), (2L, 0.0, 3.0), (3L, 3.0, 3.0))
      .toDF("sid", "sx", "sy")
      .select($"sid", st.makeBox($"sx", $"sy", $"sx" + 3.0, $"sy" + 3.0).as("sg"))
    val tgt = spark.range(64).select($"id".as("tid"),
      st.makeBox($"id" % 8 - 0.5, floor($"id" / 8) - 0.5,
        $"id" % 8 + 0.5, floor($"id" / 8) + 0.5).as("tg"))
    val sums = SpatialJoin.overlayIntersection(src, tgt, "sg", "tg", 3.0)
      .groupBy("sid").agg(sum($"piece_area").as("a"))
      .select("a").as[Double].collect()
    assert(sums.length == 4 && sums.forall(_ == 9.0))
  }
}
