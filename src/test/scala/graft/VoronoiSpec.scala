package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, Envelope, Geometry}
import org.locationtech.jts.triangulate.VoronoiDiagramBuilder

import graft.geom.{st, Wkb}
import graft.operators.Voronoi

/** Voronoi partition properties (SURVEY §5): cells disjoint in
  * interior, union covers the clip box, every seed strictly inside its
  * own cell, and the rectilinear-grid special case degenerates to exact
  * boxes. Seeds are deterministic LCG pseudo-random points. */
class VoronoiSpec extends SparkSpec {
  import spark.implicits._

  // deterministic irregular seed cloud in [1, 9]^2
  private def lcgSeeds(n: Int): Seq[(Long, Double, Double)] = {
    var s = 12345L
    def next(): Long = { s = (s * 6364136223846793005L + 1442695040888963407L); s >>> 33 }
    (0 until n).map { i =>
      (i.toLong, 1.0 + (next() % 8000) / 1000.0, 1.0 + (next() % 8000) / 1000.0)
    }.distinct
  }

  test("cells: one per seed, partition the clip box, seeds inside own cells") {
    val pts = lcgSeeds(60).toDF("id", "x", "y")
    val cells = Voronoi.tessellate(pts, "id", "x", "y", (0.0, 0.0, 10.0, 10.0))
    val joined = cells.join(pts, "id").cache()
    assert(joined.count() == 60)
    val stats = joined.agg(
      sum(st.area($"geom")).as("total"),
      sum(when(st.contains($"geom", st.point($"x", $"y")), 1).otherwise(0)).as("inside"))
      .head()
    assert(math.abs(stats.getDouble(0) - 100.0) < 1e-9)
    assert(stats.getLong(1) == 60)
    joined.unpersist()
  }

  test("cells have pairwise-disjoint interiors") {
    val pts = lcgSeeds(25).toDF("id", "x", "y")
    val cells = Voronoi.tessellate(pts, "id", "x", "y", (0.0, 0.0, 10.0, 10.0))
      .select($"id", st.asText($"geom").as("wkt")).as[(Long, String)].collect()
    val geoms = cells.map { case (i, w) => (i, Wkb.readWkt(w)) }
    for {
      (i, gi) <- geoms; (j, gj) <- geoms if i < j
    } assert(gi.intersection(gj).getArea < 1e-9, s"cells $i,$j overlap")
  }

  test("regular-grid Voronoi degenerates to exact boxes (G11 equivalence)") {
    val pts = (0 until 12).map(i => (i.toLong, (i % 4) * 2.0 + 1.0, (i / 4) * 3.0 + 1.5))
      .toDF("id", "x", "y")
    val got = Voronoi.tessellate(pts, "id", "x", "y", (0.0, 0.0, 8.0, 9.0))
      .select($"id",
        st.xmin($"geom"), st.ymin($"geom"), st.xmax($"geom"), st.ymax($"geom"),
        st.area($"geom"))
      .as[(Long, Double, Double, Double, Double, Double)].collect()
    assert(got.length == 12)
    got.foreach { case (id, x0, y0, x1, y1, a) =>
      assert(x0 == (id % 4) * 2.0 && x1 == (id % 4) * 2.0 + 2.0)
      assert(y0 == (id / 4) * 3.0 && y1 == (id / 4) * 3.0 + 3.0)
      assert(a == 6.0)
    }
  }

  test("tessellateByDomain: independent diagrams per domain") {
    val pts = lcgSeeds(20).flatMap { case (i, x, y) =>
      Seq((0L, i, x, y), (1L, i, x + 100.0, y)) // two shifted copies
    }.toDF("dom", "id", "x", "y")
    val cells = Voronoi.tessellateByDomain(pts, "dom", "id", "x", "y", 1.0)
    val counts = cells.groupBy("dom").count().as[(Long, Long)].collect().toMap
    assert(counts == Map(0L -> 20L, 1L -> 20L))
    // per-domain totals equal each domain's expanded-extent area
    val pts0 = lcgSeeds(20)
    val (xs, ys) = (pts0.map(_._2), pts0.map(_._3))
    val expArea = (xs.max - xs.min + 2.0) * (ys.max - ys.min + 2.0)
    val totals = cells.groupBy("dom").agg(sum(st.area($"geom")).as("a"))
      .select("a").as[Double].collect()
    totals.foreach(t => assert(math.abs(t - expArea) < 1e-9))
  }

  test("tessellateByDomain tiles WITHIN domains above the threshold, identically") {
    // one domain big enough to trip a lowered auto-tile threshold plus
    // one small domain: the big one must route through the tiled path
    // (or its verified fallback) and still match the all-single-task
    // result cell-for-cell
    val bigN = 300
    val pts = (lcgSeeds(bigN).map { case (i, x, y) => (0L, i, x, y) } ++
      lcgSeeds(20).map { case (i, x, y) => (1L, i, x + 500.0, y) })
      .toDF("dom", "id", "x", "y")
    val tiled = Voronoi.tessellateByDomain(pts, "dom", "id", "x", "y", 1.0,
        autoTileAbove = 100L)
      .select($"dom", $"id", st.area($"geom").as("a"))
      .as[(Long, Long, Double)].collect()
      .map { case (d, i, a) => (d, i) -> a }.toMap
    val single = Voronoi.tessellateByDomain(pts, "dom", "id", "x", "y", 1.0,
        autoTileAbove = Long.MaxValue)
      .select($"dom", $"id", st.area($"geom").as("a"))
      .as[(Long, Long, Double)].collect()
      .map { case (d, i, a) => (d, i) -> a }.toMap
    assert(tiled.keySet == single.keySet)
    assert(tiled.size == bigN + 20)
    tiled.foreach { case (k, a) =>
      assert(math.abs(a - single(k)) <= 1e-9 * math.max(1.0, single(k)),
        s"cell $k: tiled area $a vs single ${single(k)}")
    }
  }

  /** Plain JTS: each builder cell intersected with the clip polygon,
    * keyed by the seed id at the cell's site. */
  private def jtsCells(seeds: Seq[(Long, Double, Double)],
      clip: Envelope): Map[Long, Geometry] = {
    val b = new VoronoiDiagramBuilder()
    b.setSites(seeds.map { case (_, x, y) => new Coordinate(x, y) }.asJava)
    b.setClipEnvelope(clip)
    val d = b.getDiagram(Wkb.factory)
    val byCoord = seeds.map { case (i, x, y) => (x, y) -> i }.toMap
    val clipPoly = Wkb.factory.toGeometry(clip)
    (0 until d.getNumGeometries).map { i =>
      val c = d.getGeometryN(i)
      val site = c.getUserData.asInstanceOf[Coordinate]
      byCoord((site.x, site.y)) -> c.intersection(clipPoly)
    }.toMap
  }

  /** The builder's cells are emitted without a second clip intersection:
    * on degenerate seed sets each emitted cell must still equal the
    * builder cell ∩ clip polygon, and the cell areas must sum to the
    * clip area (within 1e-9 relative). */
  test("cells equal builder cell ∩ clip on degenerate seed sets") {
    val cases: Seq[(String, Seq[(Long, Double, Double)], Envelope)] = Seq(
      ("collinear diagonal",
        (0 until 10).map(i => (i.toLong, 1.0 + i * 0.8, 1.0 + i * 0.8)),
        new Envelope(0.0, 10.0, 0.0, 10.0)),
      ("collinear horizontal",
        (0 until 10).map(i => (i.toLong, 0.5 + i, 3.0)),
        new Envelope(0.0, 10.0, 0.0, 7.0)),
      ("exact lattice, cocircular sites",
        (0 until 36).map(i => (i.toLong, (i % 6) + 0.5, (i / 6) + 0.5)),
        new Envelope(0.0, 6.0, 0.0, 6.0)),
      ("corner cluster in a large clip",
        (0 until 1400).map(i => (i.toLong, (i % 70) * 0.14, (i / 70) * 0.14)),
        new Envelope(0.0, 1000.0, 0.0, 1000.0)),
      ("seeds on the clip boundary",
        (for (x <- 0 to 4; y <- 0 to 2) yield (x * 2.5, y * 5.0))
          .zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) } ++
          Seq((100L, 3.3, 1.7), (101L, 6.1, 8.2), (102L, 8.9, 3.6)),
        new Envelope(0.0, 10.0, 0.0, 10.0)))
    for ((name, seeds, clip) <- cases) {
      val got = Voronoi.tessellate(seeds.toDF("id", "x", "y"), "id", "x", "y",
          (clip.getMinX, clip.getMinY, clip.getMaxX, clip.getMaxY))
        .select($"id", st.asText($"geom")).as[(Long, String)].collect()
        .map { case (i, w) => i -> Wkb.readWkt(w) }.toMap
      val want = jtsCells(seeds, clip)
      assert(got.keySet == seeds.map(_._1).toSet, s"$name: one cell per seed")
      assert(want.keySet == got.keySet, s"$name: seed sets differ")
      got.foreach { case (id, g) =>
        // the overlay in `∩ clip` can move a vertex by an ULP (seen on
        // the lattice cluster: symdiff area 4e-18 on a 0.0196 cell), so
        // equal vertex-for-vertex within 1e-12 of the clip size counts
        val w = want(id)
        assert(g.equalsTopo(w) ||
          g.norm().equalsExact(w.norm(), 1e-12 * clip.getDiameter),
          s"$name: cell $id differs: $g vs $w") }
      val total = got.values.map(_.getArea).sum
      assert(math.abs(total - clip.getArea) <= 1e-9 * clip.getArea,
        s"$name: cell areas sum to $total, clip area ${clip.getArea}")
    }
  }
}
