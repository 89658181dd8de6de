package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.geom.st
import graft.operators.{SpatialJoin, Voronoi}
import graft.util.Exact

/** Geometry operator coverage (SURVEY §2.7 G1-G8, §2.2 P3, §2.4 A6).
  *
  * The testdata carries no coordinates, so every query derives geometry
  * DETERMINISTICALLY from integer keys — closed-form constructions whose
  * areas/predicates the DuckDB oracle can recompute as pure arithmetic
  * (the "rectilinear first for oracle-ability" strategy). Coordinates are
  * multiples of 0.25 (exactly representable in binary floating point), so
  * JTS shoelace areas are exact and integer-scaled outputs (×16, ×8, ×2)
  * hash-match the oracle bit-for-bit.
  *
  * Grid layouts (all scale-factor-independent, keyed off row keys):
  *  - part target grid: tx = p % 50, ty = p ÷ 50, variable cell size
  *    w = 0.25·(1 + p%4), h = 0.25·(1 + p%3)
  *  - supplier "population" grid: cx = s % 10, cy = s ÷ 10, 5×4 cells —
  *    the source grid of the conservative-regrid pipeline
  *    (ref delphine/regrid.py:182-203 box construction)
  */
object GeoQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Supplier 5×4 "population" cells — shared by filter/join/regrid
    * queries. Columns: s_suppkey, cx, cy, geom, pop_cents. */
  def supplierCells(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables(spark, dir, "supplier")
    s.select(
      col("s_suppkey"),
      (col("s_suppkey") % 10).as("cx"),
      (col("s_suppkey") / 10).cast("long").as("cy"),
      round(col("s_acctbal") * 100).cast("long").as("pop_cents"))
      .withColumn("geom", st.makeBox(
        col("cx") * 5.0, col("cy") * 4.0,
        col("cx") * 5.0 + 5.0, col("cy") * 4.0 + 4.0))
  }

  /** Part target cells on a 0.25-shifted unit lattice (sizes vary so
    * area checks aren't constant). Columns: p_partkey, tx, ty, geom. */
  def partCells(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part")
    p.select(
      col("p_partkey"),
      (col("p_partkey") % 50).as("tx"),
      (col("p_partkey") / 50).cast("long").as("ty"),
      ((col("p_partkey") % 4 + 1) * 0.25).as("w"),
      ((col("p_partkey") % 3 + 1) * 0.25).as("h"))
      .withColumn("geom", st.makeBox(col("tx"), col("ty"),
        col("tx") + col("w"), col("ty") + col("h")))
  }

  /** G3+G7+A7: box construction, planar area, centroid — per-row geometry
    * math, integer-scaled for exact oracle compare. */
  val qCellsArea: Q = (spark, dir) => {
    partCells(spark, dir)
      .select(col("p_partkey"),
        round(st.area(col("geom")) * 16).cast("long").as("area16"),
        round(st.stx(st.centroid(col("geom"))) * 8).cast("long").as("cx8"),
        round(st.sty(st.centroid(col("geom"))) * 8).cast("long").as("cy8"))
      .orderBy("p_partkey")
  }

  val qCellsAreaSql: String =
    """SELECT p_partkey,
      |  cast(round(16 * (0.25*(1 + p_partkey%4)) * (0.25*(1 + p_partkey%3))) as bigint) AS area16,
      |  cast(8*(p_partkey%50) + (1 + p_partkey%4) as bigint) AS cx8,
      |  cast(8*(p_partkey//50) + (1 + p_partkey%3) as bigint) AS cy8
      |FROM part ORDER BY p_partkey""".stripMargin

  /** G1+G7: polygon from vertex arrays (shoelace area) — triangle
    * (0,0)-(a,0)-(0,b) has area a·b/2; ring auto-closes to 4 points. */
  val qPolygonArea: Q = (spark, dir) => {
    val s = Tables(spark, dir, "supplier")
    val a = (col("s_suppkey") % 7 + 1).cast("double")
    val b = (col("s_nationkey") + 2).cast("double")
    val tri = st.polygon(
      array(lit(0.0), a, lit(0.0)), array(lit(0.0), lit(0.0), b))
    s.select(col("s_suppkey"),
      round(st.area(tri) * 2).cast("long").as("area2"),
      st.npoints(tri).cast("long").as("npts"))
      .orderBy("s_suppkey")
  }

  val qPolygonAreaSql: String =
    """SELECT s_suppkey,
      |  cast((s_suppkey%7 + 1) * (s_nationkey + 2) as bigint) AS area2,
      |  cast(4 as bigint) AS npts
      |FROM supplier ORDER BY s_suppkey""".stripMargin

  /** P3+G4: spatial bbox filter — keep supplier cells within
    * [0,25]×[0,20] (ref wrf_voronoi.py:143-148 `within` bbox filter). */
  val qBboxFilter: Q = (spark, dir) => {
    val bbox = st.makeBox(lit(0.0), lit(0.0), lit(25.0), lit(20.0))
    supplierCells(spark, dir)
      .filter(st.within(col("geom"), bbox))
      .select(col("s_suppkey"), col("cx").cast("long").as("cx"), col("cy"))
      .orderBy("s_suppkey")
  }

  val qBboxFilterSql: String =
    """SELECT s_suppkey, cast(s_suppkey%10 as bigint) AS cx,
      |  cast(s_suppkey//10 as bigint) AS cy
      |FROM supplier
      |WHERE (s_suppkey%10)*5 + 5 <= 25 AND (s_suppkey//10)*4 + 4 <= 20
      |ORDER BY s_suppkey""".stripMargin

  /** A6/G8: geometric union aggregate — per-nation chain of overlapping
    * boxes [r, r+2]×[0,1] unions to [0, n+1]×[0,1], area n+1 (ref
    * `unary_union` wrf_voronoi.py:188). Exercises partial-aggregate
    * merge of the TypedImperativeAggregate across partitions. */
  val qUnionArea: Q = (spark, dir) => {
    val s = Tables(spark, dir, "supplier")
    val w = Window.partitionBy("s_nationkey").orderBy("s_suppkey")
    s.withColumn("rk", (row_number().over(w) - 1).cast("double"))
      .select(col("s_nationkey"),
        st.makeBox(col("rk"), lit(0.0), col("rk") + 2.0, lit(1.0)).as("g"))
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_supp"),
        round(st.area(st.unionAggr(col("g")))).cast("long").as("union_area"))
      .orderBy("s_nationkey")
  }

  val qUnionAreaSql: String =
    """SELECT s_nationkey, count(*) AS n_supp,
      |  cast(count(*) + 1 as bigint) AS union_area
      |FROM supplier GROUP BY 1 ORDER BY 1""".stripMargin

  /** Regrid TARGET cells: unit boxes on a 0.25-shifted lattice — a true
    * partition of the plane (unlike [[partCells]]' variable sizes), so
    * the conservation invariant is meaningful. Matches the reference's
    * rectilinear fast path (delphine/regrid.py:182-203): cell = center ±
    * half-spacing, here with quarter-unit offsets so every intersection
    * area is a multiple of 1/16 (exact in binary floating point). */
  def partRegridCells(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part")
    p.select(col("p_partkey"),
      ((col("p_partkey") % 50) - 0.25).as("tx0"),
      ((col("p_partkey") / 50).cast("long") - 0.25).as("ty0"))
      .withColumn("tgt_geom", st.makeBox(col("tx0"), col("ty0"),
        col("tx0") + 1.0, col("ty0") + 1.0))
      .drop("tx0", "ty0")
  }

  /** Derived event points (testdata has no coordinates; both engines
    * compute identical IEEE doubles from event_id). */
  def eventPoints(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    ev.select(col("event_id"), col("value"),
      ((col("event_id") % 1000) / 20.0).as("px"),
      ((col("event_id") % 800) / 20.0).as("py"))
      .withColumn("pt_geom", st.point(col("px"), col("py")))
      .drop("px", "py")
  }

  /** J3: point-in-polygon spatial join (the reference's `sjoin`,
    * delphine/regrid.py:167-177) via bucket-explode + st_contains
    * refine, then aggregation per cell. `contains` excludes
    * boundary-only contact — mirrored by strict inequalities in the
    * oracle's range join. */
  val qPipJoin: Q = (spark, dir) => {
    val cells = supplierCells(spark, dir).drop("pop_cents")
    val pts = eventPoints(spark, dir)
    SpatialJoin.joinContains(cells, pts, "geom", "pt_geom", 5.0)
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_points"),
        Exact.fixedSum(col("value"), 2).as("sum_value"))
      .orderBy("s_suppkey")
  }

  val qPipJoinSql: String =
    s"""WITH pts AS (
      |  SELECT event_id, value,
      |    (event_id%1000)/20.0 AS x, (event_id%800)/20.0 AS y FROM events),
      |cells AS (
      |  SELECT s_suppkey, (s_suppkey%10)*5.0 AS x0, (s_suppkey//10)*4.0 AS y0
      |  FROM supplier)
      |SELECT s_suppkey, count(*) AS n_points,
      |  ${Exact.sqlFixedSum("value", 2)} AS sum_value
      |FROM cells JOIN pts
      |  ON x > x0 AND x < x0 + 5 AND y > y0 AND y < y0 + 4
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Distance self-join (`ST_DWithin`,
    * [[graft.operators.SpatialJoin.selfJoinWithinDistance]]): event
    * pairs within 0.35 units, reduced to per-point neighborhood stats.
    * The events lattice repeats every 4,000 ids, so point DENSITY (and
    * the pair count) grows quadratically with SF — emitting the raw
    * sorted pair list was 18 s at sf0.1 on output alone. The aggregate
    * keeps output linear while still pinning the exact pair MULTISET:
    * the oracle replays the naive quadratic join, and any extra/
    * missing/drifted pair changes `n_neighbors` or the order-
    * independent fixed-point `sum_dist` for its endpoint. The SELF
    * form (r16 opt) generates each unordered pair once — the generic
    * two-sided form produced both orientations and the id_a < id_b
    * filter threw half the candidate and refine work away. */
  val qGeoDistanceJoin: Q = (spark, dir) => {
    val pts = eventPoints(spark, dir)
    SpatialJoin.selfJoinWithinDistance(pts, "event_id", "pt_geom",
        d = 0.35, cellSize = 0.35)
      .groupBy("id_a")
      .agg(count(lit(1)).as("n_neighbors"),
        Exact.fixedSum(col("dist"), 6).as("sum_dist"),
        round(min(col("dist")) * 1000000).cast("long").as("min_dist_micros"))
      .orderBy("id_a")
  }

  /** Grid-bucketed oracle (the engine's own candidate algebra restated
    * in independent SQL — VERDICT r10 #1 discipline): cell size = the
    * radius, each point probes its 3×3 cell neighborhood, so every
    * pair within 0.35 is provably inside exactly one (probe, cell)
    * match and the O(n²) distance test the previous form ran (~109 s
    * at sf0.1) becomes a ~3 s equi-join. Verified value-identical to
    * the quadratic form at both sf0.01 and sf0.1. */
  val qGeoDistanceJoinSql: String =
    s"""WITH pts AS (SELECT event_id,
      |    (event_id%1000)/20.0 AS x, (event_id%800)/20.0 AS y FROM events),
      |cells AS (SELECT event_id, x, y,
      |    cast(floor(x/0.35) as bigint) AS cx,
      |    cast(floor(y/0.35) as bigint) AS cy FROM pts),
      |probe AS (
      |  SELECT event_id, x, y, cx+dx AS gx, cy+dy AS gy
      |  FROM cells, (SELECT unnest([-1,0,1]) AS dx),
      |    (SELECT unnest([-1,0,1]) AS dy)),
      |pairs AS (
      |  SELECT a.event_id AS id_a,
      |    sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) AS dist
      |  FROM probe a JOIN cells b ON a.gx = b.cx AND a.gy = b.cy
      |    AND a.event_id < b.event_id
      |  WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 0.35*0.35)
      |SELECT id_a, count(*) AS n_neighbors,
      |  ${Exact.sqlFixedSum("dist", 6)} AS sum_dist,
      |  cast(round(min(dist)*1000000) as bigint) AS min_dist_micros
      |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin

  /** J4+A2+J5: conservative regrid — the reference's flagship pipeline
    * (delphine/regrid.py:206-334, SURVEY §3.3). Supplier "population"
    * cells overlay-intersect the part target lattice; each target gets
    * sum(pop/area_pop · area_piece). area_pop = 20 (5×4 cells), so the
    * exact integer form is wsum = Σ pop_cents · (16·area_piece) and
    * population = wsum / (100·16·20) = wsum/32000. */
  val qOverlayRegrid: Q = (spark, dir) => {
    val pop = supplierCells(spark, dir).drop("cx", "cy")
      .withColumnRenamed("geom", "pop_geom")
    val tgt = partRegridCells(spark, dir)
    SpatialJoin.overlayIntersection(pop, tgt, "pop_geom", "tgt_geom", 5.0)
      .groupBy("p_partkey")
      .agg(sum(col("pop_cents") * round(col("piece_area") * 16).cast("long"))
        .as("wsum"))
      .withColumn("population", col("wsum").cast("double") / 32000.0)
      .orderBy("p_partkey")
  }

  private val regridPiecesSql: String =
    """SELECT p_partkey, pc,
      |    cast(round(16 * greatest(0, least(x0+5, tx0+1) - greatest(x0, tx0))
      |             * greatest(0, least(y0+4, ty0+1) - greatest(y0, ty0))) as bigint) AS a16
      |  FROM (SELECT s_suppkey, cast(round(s_acctbal*100) as bigint) AS pc,
      |          (s_suppkey%10)*5.0 AS x0, (s_suppkey//10)*4.0 AS y0 FROM supplier),
      |       (SELECT p_partkey, (p_partkey%50) - 0.25 AS tx0,
      |          (p_partkey//50) - 0.25 AS ty0 FROM part)
      |  WHERE least(x0+5, tx0+1) > greatest(x0, tx0)
      |    AND least(y0+4, ty0+1) > greatest(y0, ty0)""".stripMargin

  val qOverlayRegridSql: String =
    s"""SELECT p_partkey, cast(sum(pc*a16) as bigint) AS wsum,
      |  cast(sum(pc*a16) as double)/32000.0 AS population
      |FROM ($regridPiecesSql)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** A3: the conservation invariant — the reference's correctness check
    * (delphine/regrid.py:323-327): regridded total / original total.
    * < 1 by exactly the uncovered quarter-unit boundary strips. */
  val qRegridConservation: Q = (spark, dir) => {
    val pop = supplierCells(spark, dir).drop("cx", "cy")
      .withColumnRenamed("geom", "pop_geom")
    val tgt = partRegridCells(spark, dir)
    val regrid = SpatialJoin.overlayIntersection(pop, tgt, "pop_geom", "tgt_geom", 5.0)
      .agg(sum(col("pop_cents") * round(col("piece_area") * 16).cast("long"))
        .as("wsum_total"))
    val orig = Tables(spark, dir, "supplier")
      .agg(sum(round(col("s_acctbal") * 100).cast("long")).as("cents_total"))
    regrid.crossJoin(orig)
      .select(
        (col("cents_total").cast("double") / 100.0).as("total_pop"),
        (col("wsum_total").cast("double") / 32000.0).as("total_regrid"),
        ((col("wsum_total").cast("double") / 32000.0) /
          (col("cents_total").cast("double") / 100.0)).as("ratio"))
  }

  val qRegridConservationSql: String =
    s"""SELECT cast(c as double)/100.0 AS total_pop,
      |  cast(w as double)/32000.0 AS total_regrid,
      |  (cast(w as double)/32000.0) / (cast(c as double)/100.0) AS ratio
      |FROM (SELECT cast(sum(pc*a16) as bigint) AS w FROM ($regridPiecesSql)),
      |     (SELECT cast(sum(cast(round(s_acctbal*100) as bigint)) as bigint) AS c
      |      FROM supplier)""".stripMargin

  /** G10 cross-checked against G11: the Voronoi tessellation of a
    * REGULAR grid of seeds (supplier 5×4 cell centers) is exactly the
    * rectilinear cell grid — "we already know exactly what the Voronoi
    * tesselation is" (delphine/regrid.py:182-203). Every cell must come
    * back as its 5×4 box: area16 = 320, centroid = seed. A wrong
    * tessellation cannot pass this. */
  val qVoronoiRect: Q = (spark, dir) => {
    val seeds = Tables(spark, dir, "supplier").select(
      col("s_suppkey"),
      ((col("s_suppkey") % 10) * 5.0 + 2.5).as("sx"),
      ((col("s_suppkey") / 10).cast("long") * 4.0 + 2.0).as("sy"))
    // clip = exact union of the cell boxes; ymax from a tiny extent agg
    // (the reference's data-dependent-bbox two-step, SURVEY §4).
    // Tiled tessellation (the distributed path): seeds are spaced 5×4,
    // so halo 10 ≫ the max cell radius — exactness guaranteed, and the
    // oracle checks every cell is still its exact 5×4 box.
    val ymax = seeds.agg(max(col("sy"))).head().getDouble(0) + 2.0
    Voronoi.tessellateTiled(seeds, "s_suppkey", "sx", "sy",
      (0.0, 0.0, 50.0, ymax), tileSize = 20.0, halo = 10.0)
      .select(col("s_suppkey"),
        round(st.area(col("geom")) * 16).cast("long").as("area16"),
        round(st.stx(st.centroid(col("geom"))) * 2).cast("long").as("ccx2"),
        round(st.sty(st.centroid(col("geom"))) * 2).cast("long").as("ccy2"))
      .orderBy("s_suppkey")
  }

  val qVoronoiRectSql: String =
    """SELECT s_suppkey, cast(320 as bigint) AS area16,
      |  cast(10*(s_suppkey%10) + 5 as bigint) AS ccx2,
      |  cast(8*(s_suppkey//10) + 4 as bigint) AS ccy2
      |FROM supplier ORDER BY s_suppkey""".stripMargin

  /** G10 partition invariants on an IRREGULAR seed set: cells partition
    * the clip box (total area exact), one cell per seed, and every seed
    * lies strictly inside its own cell (exercises the J5 join-back
    * pattern, delphine/regrid.py:285-289). Seed coords are injective mod
    * (101, 89) and bounded independent of scale factor. */
  val qVoronoiPartition: Q = (spark, dir) => {
    val seeds = Tables(spark, dir, "supplier").select(
      col("s_suppkey"),
      ((col("s_suppkey") * 37 % 101) * 0.25 + 0.25).as("sx"),
      ((col("s_suppkey") * 73 % 89) * 0.25 + 0.25).as("sy"))
    val cells = Voronoi.tessellate(seeds, "s_suppkey", "sx", "sy",
      (0.0, 0.0, 26.0, 23.0))
    cells.join(seeds, "s_suppkey")
      .agg(
        count(lit(1)).as("n_cells"),
        sum(when(st.contains(col("geom"), st.point(col("sx"), col("sy"))), 1L)
          .otherwise(0L)).as("n_seeds_inside"),
        round(sum(st.area(col("geom"))) * 16).cast("long").as("area16_total"))
  }

  val qVoronoiPartitionSql: String =
    """SELECT count(*) AS n_cells, count(*) AS n_seeds_inside,
      |  cast(16*26*23 as bigint) AS area16_total
      |FROM supplier""".stripMargin

  /** S3+S2 (GeoJSON): sink + STOCK-datasource scan roundtrip — nation
    * boxes written as a GeoJSON FeatureCollection, read back through
    * `spark.read.json` (schema inference + explode, no custom parser),
    * geometry rebuilt from the exterior ring via st_polygon. */
  val qGeojsonRoundtrip: Q = (spark, dir) => {
    val n = Tables(spark, dir, "nation")
    val boxes = n.select(
      col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"),
      st.makeBox(
        (col("n_nationkey") % 5) * 2.5,
        (col("n_nationkey") / 5).cast("long") * 2.0,
        (col("n_nationkey") % 5) * 2.5 + 2.0,
        (col("n_nationkey") / 5).cast("long") * 2.0 + 1.5).as("geom"))
    val tmp = graft.util.Scratch.dir("graft_geojson")
      .resolve("nations_layer").toString
    // distributed sink: 3 partitions → 3 part FeatureCollections, read
    // back through the stock (directory-listing) JSON datasource
    graft.io.GeoJson.writeParts(boxes.repartition(3), "geom", tmp)
    graft.io.GeoJson.read(spark, tmp)
      .select(col("n_nationkey"), col("n_name"),
        round(st.area(col("geom")) * 16).cast("long").as("area16"))
      .orderBy("n_nationkey")
  }

  val qGeojsonRoundtripSql: String =
    """SELECT cast(n_nationkey as bigint) AS n_nationkey, n_name,
      |  cast(48 as bigint) AS area16
      |FROM nation ORDER BY n_nationkey""".stripMargin

  /** G9: CRS reprojection 4326↔27700. The oracle cannot recompute the
    * OSGB projection, so the query emits INVARIANTS the oracle can
    * assert: the roundtrip returns the original WGS84 point to < 1e-6°
    * (≈ 0.1 m) and projected coordinates land in the National Grid's
    * physical range. The projection itself is pinned to the published
    * OS worked example in OsgbSpec. */
  val qTransformRoundtrip: Q = (spark, dir) => {
    val s = Tables(spark, dir, "supplier").select(col("s_suppkey"),
      (lit(50.0) + (col("s_suppkey") % 60) * 0.1).as("lat"),
      (lit(-5.0) + (col("s_suppkey") % 71) * 0.1).as("lon"))
    val pt = st.point(col("lon"), col("lat"))
    val en = st.transform(pt, 4326, 27700)
    val back = st.transform(en, 27700, 4326)
    s.select(col("s_suppkey"),
      (abs(st.stx(back) - col("lon")) < 1e-6 &&
        abs(st.sty(back) - col("lat")) < 1e-6).as("roundtrip_ok"),
      (st.stx(en).between(-300000.0, 1000000.0) &&
        st.sty(en).between(-200000.0, 1500000.0)).as("bounds_ok"))
      .orderBy("s_suppkey")
  }

  val qTransformRoundtripSql: String =
    """SELECT s_suppkey, true AS roundtrip_ok, true AS bounds_ok
      |FROM supplier ORDER BY s_suppkey""".stripMargin

  /** G9 breadth: the CRS registry beyond the reference's single 27700
    * pair — Web Mercator (3857) and WGS84 UTM zone 30N (32630)
    * roundtrips + physical-range invariants the oracle can assert; the
    * projections themselves are pinned to published constants in
    * `CrsSpec` (π·R world bound, central-meridian/false-origin
    * invariants, k0 scale). */
  val qTransformCrs: Q = (spark, dir) => {
    val s = Tables(spark, dir, "supplier").select(col("s_suppkey"),
      (lit(50.0) + (col("s_suppkey") % 60) * 0.1).as("lat"),
      (lit(-5.0) + (col("s_suppkey") % 71) * 0.1).as("lon"))
    val pt = st.point(col("lon"), col("lat"))
    val merc = st.transform(pt, 4326, 3857)
    val mercBack = st.transform(merc, 3857, 4326)
    val utm = st.transform(pt, 4326, 32630)
    val utmBack = st.transform(utm, 32630, 4326)
    s.select(col("s_suppkey"),
      (abs(st.stx(mercBack) - col("lon")) < 1e-9 &&
        abs(st.sty(mercBack) - col("lat")) < 1e-9).as("merc_roundtrip_ok"),
      (abs(st.stx(utmBack) - col("lon")) < 1e-6 &&
        abs(st.sty(utmBack) - col("lat")) < 1e-6).as("utm_roundtrip_ok"),
      (st.stx(merc).between(-600000.0, 250000.0) &&
        st.sty(merc).between(6400000.0, 7600000.0)).as("merc_bounds_ok"),
      (st.stx(utm).between(100000.0, 1100000.0) &&
        st.sty(utm).between(5000000.0, 6600000.0)).as("utm_bounds_ok"))
      .orderBy("s_suppkey")
  }

  val qTransformCrsSql: String =
    """SELECT s_suppkey, true AS merc_roundtrip_ok, true AS utm_roundtrip_ok,
      |  true AS merc_bounds_ok, true AS utm_bounds_ok
      |FROM supplier ORDER BY s_suppkey""".stripMargin

  /** G9 breadth: Lambert conformal conic (secant 2SP, EPSG method
    * 9802) — WRF's native projection family; EPSG:2154 (Lambert-93) is
    * the registered ellipsoidal instance. The oracle cannot recompute
    * the conic, so the emitted columns are invariants it can assert:
    * roundtrip to < 1e-9°, France-domain physical bounds, and the
    * definitional false-origin identity (3°E, 46.5°N) → exactly
    * (700 000, 6 600 000). The projection math itself is pinned to the
    * EPSG Guidance Note 7-2 worked example in `CrsSpec`. */
  val qTransformLcc: Q = (spark, dir) => {
    val s = Tables(spark, dir, "supplier").select(col("s_suppkey"),
      (lit(42.0) + (col("s_suppkey") % 80) * 0.1).as("lat"),
      (lit(-4.0) + (col("s_suppkey") % 90) * 0.1).as("lon"))
    val pt = st.point(col("lon"), col("lat"))
    val lcc = st.transform(pt, 4326, 2154)
    val back = st.transform(lcc, 2154, 4326)
    val origin = st.transform(st.point(lit(3.0), lit(46.5)), 4326, 2154)
    s.select(col("s_suppkey"),
      (abs(st.stx(back) - col("lon")) < 1e-9 &&
        abs(st.sty(back) - col("lat")) < 1e-9).as("lcc_roundtrip_ok"),
      (st.stx(lcc).between(0.0, 1400000.0) &&
        st.sty(lcc).between(6000000.0, 7200000.0)).as("lcc_bounds_ok"),
      (abs(st.stx(origin) - 700000.0) < 1e-6 &&
        abs(st.sty(origin) - 6600000.0) < 1e-6).as("lcc_origin_ok"))
      .orderBy("s_suppkey")
  }

  val qTransformLccSql: String =
    """SELECT s_suppkey, true AS lcc_roundtrip_ok, true AS lcc_bounds_ok,
      |  true AS lcc_origin_ok
      |FROM supplier ORDER BY s_suppkey""".stripMargin

  /** G9 breadth: the rest of the WRF projection family — polar
    * stereographic (EPSG method 9829; EPSG:3413 NSIDC North and
    * EPSG:3032 Australian Antarctic) and Mercator (methods 9804/9805;
    * EPSG:3395 World Mercator). Same oracle contract as
    * [[qTransformLcc]]: per-row roundtrip + physical-bounds booleans
    * the oracle asserts as constants, plus the EPSG Guidance Note
    * worked example for 9829 (75°S 120°E → E 7 255 380.79,
    * N 7 053 389.56) recomputed per row; `CrsSpec` pins both methods'
    * worked examples driver-side too. */
  val qTransformPolar: Q = (spark, dir) => {
    val s = Tables(spark, dir, "supplier").select(col("s_suppkey"),
      (lit(60.0) + (col("s_suppkey") % 25) * 1.0).as("lat"),
      (lit(-170.0) + (col("s_suppkey") % 83) * 4.0).as("lon"))
    val pt = st.point(col("lon"), col("lat"))
    val ps = st.transform(pt, 4326, 3413)
    val psBack = st.transform(ps, 3413, 4326)
    val merc = st.transform(pt, 4326, 3395)
    val mercBack = st.transform(merc, 3395, 4326)
    val aaExample = st.transform(st.point(lit(120.0), lit(-75.0)), 4326, 3032)
    // 84° of colatitude bounds the 3413 radius; 85°N bounds Mercator N
    s.select(col("s_suppkey"),
      (abs(st.stx(psBack) - col("lon")) < 1e-9 &&
        abs(st.sty(psBack) - col("lat")) < 1e-9).as("ps_roundtrip_ok"),
      (sqrt(st.stx(ps) * st.stx(ps) + st.sty(ps) * st.sty(ps)) <
        9400000.0).as("ps_bounds_ok"),
      (abs(st.stx(aaExample) - 7255380.79) < 0.02 &&
        abs(st.sty(aaExample) - 7053389.56) < 0.02).as("ps_epsg_example_ok"),
      (abs(st.stx(mercBack) - col("lon")) < 1e-9 &&
        abs(st.sty(mercBack) - col("lat")) < 1e-9).as("merc_roundtrip_ok"),
      (st.sty(merc) > 8000000.0 &&
        st.sty(merc) < 20000000.0).as("merc_bounds_ok"))
      .orderBy("s_suppkey")
  }

  val qTransformPolarSql: String =
    """SELECT s_suppkey, true AS ps_roundtrip_ok, true AS ps_bounds_ok,
      |  true AS ps_epsg_example_ok, true AS merc_roundtrip_ok,
      |  true AS merc_bounds_ok
      |FROM supplier ORDER BY s_suppkey""".stripMargin

  /** G-function breadth: the GeoPandas unary toolbox — buffer,
    * simplify, convex hull, envelope, length, boundary, binary union.
    * Exact outputs where closed-form (perimeter 2(w+h), envelope area
    * w·h, Douglas-Peucker vertex counts 9 → 5 on a box with
    * ε-offset edge midpoints); invariant booleans where the JTS
    * result has no closed form (buffer containment + area ordering,
    * hull of a convex box = the box, boundary length = perimeter,
    * union with a contained box = identity). */
  val qShapeOps: Q = (spark, dir) => {
    val s = Tables(spark, dir, "supplier").select(col("s_suppkey"),
      (col("s_suppkey") % 5 + 1).cast("double").as("w"),
      (col("s_suppkey") % 3 + 1).cast("double").as("h"))
    val box = st.makeBox(lit(0.0), lit(0.0), col("w"), col("h"))
    // the same box with an ε-bumped midpoint on each edge: DP-simplify
    // at tol 0.1 >> ε must restore exactly the 4 corners
    val eps = 0.01
    val xs = array(lit(0.0), col("w") / 2, col("w"), col("w") + eps,
      col("w"), col("w") / 2, lit(0.0), lit(-eps))
    val ys = array(lit(0.0), lit(-eps), lit(0.0), col("h") / 2,
      col("h"), col("h") + eps, col("h"), col("h") / 2)
    val bumpy = st.polygon(xs, ys)
    val buf = st.buffer(box, lit(0.5))
    val shrunk = st.buffer(box, lit(-0.25))
    s.select(col("s_suppkey"),
      st.length(box).as("perimeter"),
      // shoelace vs direct-product low bits differ: compare, don't emit
      (abs(st.area(st.envelope(bumpy)) -
        (col("w") + 0.02) * (col("h") + 0.02)) < 1e-9).as("env_ok"),
      (st.area(st.convexHull(box)) === st.area(box)).as("hull_ok"),
      (st.contains(buf, box) && st.area(buf) > st.area(box) &&
        st.area(shrunk) < st.area(box)).as("buffer_ok"),
      st.npoints(bumpy).as("np_before"),
      st.npoints(st.simplify(bumpy, lit(0.1))).as("np_after"),
      (st.length(st.boundary(box)) === st.length(box)).as("boundary_ok"),
      (st.area(st.union(box, st.makeBox(lit(0.25), lit(0.25), col("w") / 2,
        col("h") / 2))) === st.area(box)).as("union_ok"))
      .orderBy("s_suppkey")
  }

  val qShapeOpsSql: String =
    """SELECT s_suppkey,
      |  2*((s_suppkey%5 + 1) + (s_suppkey%3 + 1))::DOUBLE AS perimeter,
      |  true AS env_ok, true AS hull_ok, true AS buffer_ok,
      |  9 AS np_before, 5 AS np_after,
      |  true AS boundary_ok, true AS union_ok
      |FROM supplier ORDER BY s_suppkey""".stripMargin

  /** Spatial nearest-neighbor: for each sampled event point the nearest
    * supplier cell center, with exact planar distance (st_distance,
    * G-function breadth). Runs the bucketed ring-search
    * [[graft.operators.SpatialKnn]] — centers hash to grid cells, each
    * point equi-joins its expanding cell ring and keeps a bounded-heap
    * top-1, so nothing crossJoins and the plan survives a center frame
    * too big to broadcast (the brute-force score stays as the oracle in
    * `SpatialKnnSpec`). The distance is the closed form (the oracle's
    * exact doubles); st_dist_ok pins JTS's st_distance to it (< 1e-12,
    * not always the last ulp) on the winning pair. */
  val qNearestCell: Q = (spark, dir) => {
    import graft.operators.SpatialKnn
    val pts = eventPoints(spark, dir)
      .filter(col("event_id") % 97 === 0)
      .select(col("event_id"), col("pt_geom"))
    val centers = Tables(spark, dir, "supplier").select(
      col("s_suppkey"),
      st.point((col("s_suppkey") % 10) * 5.0 + 2.5,
        (col("s_suppkey") / 10).cast("long") * 4.0 + 2.0).as("ctr"))
    val nn = SpatialKnn.knn(pts, "event_id", "pt_geom",
      centers, "s_suppkey", "ctr", k = 1, cellSize = 5.0)
      .select(col("event_id"), col("s_suppkey").as("nearest_suppkey"),
        col("dist"))
    nn.join(broadcast(centers), nn("nearest_suppkey") === centers("s_suppkey"))
      .join(pts, Seq("event_id"))
      .select(col("event_id"), col("nearest_suppkey"), col("dist"),
        (abs(st.distance(col("pt_geom"), col("ctr")) - col("dist")) < 1e-12)
          .as("st_dist_ok"))
      .orderBy("event_id")
  }

  val qNearestCellSql: String =
    """WITH pts AS (
      |  SELECT event_id, (event_id%1000)/20.0 AS x, (event_id%800)/20.0 AS y
      |  FROM events WHERE event_id % 97 = 0),
      |c AS (
      |  SELECT s_suppkey, (s_suppkey%10)*5.0 + 2.5 AS cx,
      |    (s_suppkey//10)*4.0 + 2.0 AS cy FROM supplier),
      |d AS (
      |  SELECT event_id, s_suppkey,
      |    sqrt((x - cx)*(x - cx) + (y - cy)*(y - cy)) AS dist FROM pts, c),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_id
      |    ORDER BY dist, s_suppkey) AS rn FROM d)
      |SELECT event_id, s_suppkey AS nearest_suppkey, dist,
      |  true AS st_dist_ok
      |FROM r WHERE rn = 1 ORDER BY event_id""".stripMargin

  /** S2+S3: shapefile sink + scan roundtrip — derived nation boxes are
    * written as a real .shp/.shx/.dbf/.prj layer (the reference's output
    * format, wrf_voronoi.py:149) to a temp dir, read back with the
    * shapefile scanner, and verified attribute-by-attribute. */
  val qShpRoundtrip: Q = (spark, dir) => {
    val n = Tables(spark, dir, "nation")
    val boxes = n.select(
      col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"),
      st.makeBox(
        (col("n_nationkey") % 5) * 3.0,
        (col("n_nationkey") / 5).cast("long") * 2.0,
        (col("n_nationkey") % 5) * 3.0 + 3.0,
        (col("n_nationkey") / 5).cast("long") * 2.0 + 2.0).as("geom"))
    val tmp = graft.util.Scratch.dir("graft_shp")
      .resolve("nations_layer").toString
    // distributed sink: 3 partitions → 3 complete part layers written
    // executor-side, scanned back one Spark partition per part
    graft.io.Shapefile.writeParts(boxes.repartition(3), "geom", tmp)
    graft.io.Shapefile.readParts(spark, tmp)
      .select(col("n_nationkey"), col("n_name"),
        round(st.area(col("geom")) * 16).cast("long").as("area16"))
      .orderBy("n_nationkey")
  }

  val qShpRoundtripSql: String =
    """SELECT cast(n_nationkey as bigint) AS n_nationkey, n_name,
      |  cast(96 as bigint) AS area16
      |FROM nation ORDER BY n_nationkey""".stripMargin

  /** S3 (GeoPackage): sink + scan roundtrip through the from-scratch
    * SQLite container — nation boxes written as a real .gpkg feature
    * layer (the reference's primary output format, wrf_voronoi.py:149),
    * read back with the gpkg scanner, attributes + areas verified. */
  val qGpkgRoundtrip: Q = (spark, dir) => {
    import org.apache.spark.sql.types.{StructType, StructField, LongType, StringType}
    val n = Tables(spark, dir, "nation")
    val boxes = n.select(
      col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"),
      st.makeBox(
        (col("n_nationkey") % 5) * 4.0,
        (col("n_nationkey") / 5).cast("long") * 3.0,
        (col("n_nationkey") % 5) * 4.0 + 4.0,
        (col("n_nationkey") / 5).cast("long") * 3.0 + 2.0).as("geom"))
    val tmp = graft.util.Scratch.dir("graft_gpkg")
      .resolve("nations.gpkg").toString
    graft.io.GeoPackage.write(boxes, "geom", tmp, "nations")
    graft.io.GeoPackage.read(spark, tmp, "nations", StructType(Seq(
      StructField("n_nationkey", LongType), StructField("n_name", StringType))))
      .select(col("n_nationkey"), col("n_name"),
        round(st.area(col("geom")) * 16).cast("long").as("area16"))
      .orderBy("n_nationkey")
  }

  val qGpkgRoundtripSql: String =
    """SELECT cast(n_nationkey as bigint) AS n_nationkey, n_name,
      |  cast(128 as bigint) AS area16
      |FROM nation ORDER BY n_nationkey""".stripMargin

  /** S3 at real-world geometry sizes: the reference's borough-scale
    * sinks (wrf_voronoi.py:185-187) persist multipolygon WKB well past
    * one SQLite page, so this roundtrip drives the writer's
    * overflow-page chains. Each nation gets a sawtooth polygon of
    * 3·(1200+16·key)+3 ring points (~58 KB WKB at key 0), written as
    * BOTH the layer geometry and a duplicate BLOB attribute (two >16 KB
    * chained payloads per row); the read-back geometry must be
    * byte-identical to the attribute, and point count / WKB length /
    * area are closed-form: vertices sit on a 0.5-lattice, so the
    * shoelace area 2.5·m is float-exact. */
  val qGpkgLarge: Q = (spark, dir) => {
    import org.apache.spark.sql.types.{StructType, StructField, BinaryType, LongType}
    val n = Tables(spark, dir, "nation")
    // m teeth of width 1 over a base rectangle [0,m]×[0,2]; each tooth
    // apex at (k+0.5, 3) adds exactly 0.5 to the area
    val polys = n
      .select(col("n_nationkey").cast("long").as("n_nationkey"),
        (col("n_nationkey").cast("long") * 16 + 1200).as("m"))
      .select(col("n_nationkey"),
        st.polygon(
          expr("concat(array(0.0d, cast(m as double)), " +
            "flatten(transform(sequence(cast(m-1 as int), 0, -1), " +
            "k -> array(k+1.0d, k+0.5d, k+0.0d))))"),
          expr("concat(array(0.0d, 0.0d), " +
            "flatten(transform(sequence(cast(m-1 as int), 0, -1), " +
            "k -> array(2.0d, 3.0d, 2.0d))))")).as("geom"))
      .select(col("n_nationkey"), col("geom"), col("geom").as("orig"))
    val tmp = graft.util.Scratch.dir("graft_gpkg_large")
      .resolve("teeth.gpkg").toString
    graft.io.GeoPackage.write(polys, "geom", tmp, "teeth")
    graft.io.GeoPackage.read(spark, tmp, "teeth", StructType(Seq(
      StructField("n_nationkey", LongType), StructField("orig", BinaryType))))
      .select(col("n_nationkey"),
        st.npoints(col("geom")).cast("long").as("npoints"),
        length(col("geom")).cast("long").as("wkb_len"),
        round(st.area(col("geom")) * 2).cast("long").as("area2"),
        (col("geom") === col("orig")).cast("long").as("byte_match"))
      .orderBy("n_nationkey")
  }

  val qGpkgLargeSql: String =
    """SELECT cast(n_nationkey as bigint) AS n_nationkey,
      |  cast(3*(1200 + n_nationkey*16) + 3 as bigint) AS npoints,
      |  cast(13 + 16*(3*(1200 + n_nationkey*16) + 3) as bigint) AS wkb_len,
      |  cast(5*(1200 + n_nationkey*16) as bigint) AS area2,
      |  cast(1 as bigint) AS byte_match
      |FROM nation ORDER BY n_nationkey""".stripMargin

  /** Stage 9 of pipeline 3.1 — the heat-island extract
    * (wrf_voronoi.py:185-190): reproject cells to the metric CRS
    * (G9), union the borough layer (A6/G8), keep cells intersecting the
    * union (P4). Cells sit on a 0.1° lattice with ±0.04° half-widths and
    * borough edges at 0.x5 offsets, so every intersects decision has a
    * ≥0.01° (≈1 km) margin — far beyond any vertex-transform bending —
    * and the oracle can decide membership with closed-form lat/lon
    * range checks. */
  val qHeatIsland: Q = (spark, dir) => {
    val s = Tables(spark, dir, "supplier").select(col("s_suppkey"),
      (lit(51.0) + (col("s_suppkey") % 40) * 0.1).as("lat"),
      (lit(-3.0) + ((col("s_suppkey") / 40).cast("long") % 30) * 0.1).as("lon"))
    val cellEn = st.transform(st.makeBox(
      col("lon") - 0.04, col("lat") - 0.04,
      col("lon") + 0.04, col("lat") + 0.04), 4326, 27700)
    val boroughs = Seq(
      (-2.85, 51.25, -2.45, 51.65),
      (-1.55, 52.35, -1.15, 52.75),
      (-2.25, 53.45, -1.85, 53.85))
    val boroughUnion = spark.createDataFrame(
      boroughs.map(b => Tuple4(b._1, b._2, b._3, b._4)))
      .toDF("x0", "y0", "x1", "y1")
      .select(st.transform(
        st.makeBox(col("x0"), col("y0"), col("x1"), col("y1")), 4326, 27700)
        .as("bg"))
      .agg(st.unionAggr(col("bg")).as("borough_union"))
    s.crossJoin(broadcast(boroughUnion))
      .filter(st.intersects(cellEn, col("borough_union")))
      .select(col("s_suppkey"),
        round(col("lat") * 10).cast("long").as("lat10"),
        round(col("lon") * 10).cast("long").as("lon10"))
      .orderBy("s_suppkey")
  }

  val qHeatIslandSql: String =
    """WITH pts AS (
      |  SELECT s_suppkey, 51.0 + (s_suppkey%40)*0.1 AS lat,
      |    -3.0 + ((s_suppkey//40)%30)*0.1 AS lon FROM supplier)
      |SELECT s_suppkey, cast(round(lat*10) as bigint) AS lat10,
      |  cast(round(lon*10) as bigint) AS lon10
      |FROM pts
      |WHERE (lon+0.04 >= -2.85 AND lon-0.04 <= -2.45 AND lat+0.04 >= 51.25 AND lat-0.04 <= 51.65)
      |   OR (lon+0.04 >= -1.55 AND lon-0.04 <= -1.15 AND lat+0.04 >= 52.35 AND lat-0.04 <= 52.75)
      |   OR (lon+0.04 >= -2.25 AND lon-0.04 <= -1.85 AND lat+0.04 >= 53.45 AND lat-0.04 <= 53.85)
      |ORDER BY s_suppkey""".stripMargin

  val queries: Map[String, Q] = Map(
    "geo_heat_island" -> qHeatIsland,
    "geo_shp_roundtrip" -> qShpRoundtrip,
    "geo_gpkg_roundtrip" -> qGpkgRoundtrip,
    "geo_gpkg_large" -> qGpkgLarge,
    "geo_geojson_roundtrip" -> qGeojsonRoundtrip,
    "geo_transform_roundtrip" -> qTransformRoundtrip,
    "geo_transform_crs" -> qTransformCrs,
    "geo_transform_lcc" -> qTransformLcc,
    "geo_transform_polar" -> qTransformPolar,
    "geo_shape_ops" -> qShapeOps,
    "geo_voronoi_rect" -> qVoronoiRect,
    "geo_voronoi_partition" -> qVoronoiPartition,
    "geo_cells_area" -> qCellsArea,
    "geo_polygon_area" -> qPolygonArea,
    "geo_bbox_filter" -> qBboxFilter,
    "geo_union_area" -> qUnionArea,
    "geo_pip_join" -> qPipJoin,
    "geo_distance_join" -> qGeoDistanceJoin,
    "geo_nearest_cell" -> qNearestCell,
    "geo_overlay_regrid" -> qOverlayRegrid,
    "geo_regrid_conservation" -> qRegridConservation)

  val oracles: Map[String, String] = Map(
    "geo_heat_island" -> qHeatIslandSql,
    "geo_shp_roundtrip" -> qShpRoundtripSql,
    "geo_gpkg_roundtrip" -> qGpkgRoundtripSql,
    "geo_gpkg_large" -> qGpkgLargeSql,
    "geo_geojson_roundtrip" -> qGeojsonRoundtripSql,
    "geo_transform_roundtrip" -> qTransformRoundtripSql,
    "geo_transform_crs" -> qTransformCrsSql,
    "geo_transform_lcc" -> qTransformLccSql,
    "geo_transform_polar" -> qTransformPolarSql,
    "geo_shape_ops" -> qShapeOpsSql,
    "geo_voronoi_rect" -> qVoronoiRectSql,
    "geo_voronoi_partition" -> qVoronoiPartitionSql,
    "geo_cells_area" -> qCellsAreaSql,
    "geo_polygon_area" -> qPolygonAreaSql,
    "geo_bbox_filter" -> qBboxFilterSql,
    "geo_union_area" -> qUnionAreaSql,
    "geo_pip_join" -> qPipJoinSql,
    "geo_distance_join" -> qGeoDistanceJoinSql,
    "geo_nearest_cell" -> qNearestCellSql,
    "geo_overlay_regrid" -> qOverlayRegridSql,
    "geo_regrid_conservation" -> qRegridConservationSql)
}
