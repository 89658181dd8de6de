package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.apache.spark.sql.graftbridge.Bridge

import graft.expressions.STGeomFromText
import graft.geom.{st, Wkb}

/** Unit coverage for the st_* expression layer (SURVEY §5: per-operator
  * tests with hand-computed JTS results, degenerate and null handling). */
class GeomSpec extends SparkSpec {
  import spark.implicits._

  test("st_point roundtrips coordinates") {
    val r = Seq((1.5, -2.25)).toDF("x", "y")
      .select(st.stx(st.point($"x", $"y")).as("px"),
        st.sty(st.point($"x", $"y")).as("py"))
      .head()
    assert(r.getDouble(0) == 1.5 && r.getDouble(1) == -2.25)
  }

  test("st_makebox area, bounds and centroid") {
    val r = Seq((0.0, 0.0, 4.0, 3.0)).toDF("x0", "y0", "x1", "y1")
      .select(
        st.area(st.makeBox($"x0", $"y0", $"x1", $"y1")).as("a"),
        st.xmin(st.makeBox($"x0", $"y0", $"x1", $"y1")).as("xmin"),
        st.ymax(st.makeBox($"x0", $"y0", $"x1", $"y1")).as("ymax"),
        st.stx(st.centroid(st.makeBox($"x0", $"y0", $"x1", $"y1"))).as("cx"))
      .head()
    assert(r.getDouble(0) == 12.0)
    assert(r.getDouble(1) == 0.0)
    assert(r.getDouble(2) == 3.0)
    assert(r.getDouble(3) == 2.0)
  }

  test("st_polygon: shoelace area of a triangle; ring auto-closes") {
    val r = Seq((Array(0.0, 4.0, 0.0), Array(0.0, 0.0, 3.0)))
      .toDF("xs", "ys")
      .select(st.area(st.polygon($"xs", $"ys")).as("a"),
        st.npoints(st.polygon($"xs", $"ys")).as("n"))
      .head()
    assert(r.getDouble(0) == 6.0)
    assert(r.getInt(1) == 4) // closed ring: first vertex repeated
  }

  test("st_polygon degenerate inputs follow the reference's Point sentinel") {
    // ref wrf_voronoi.py:130-137: empty region → Point placeholder
    val r = Seq((Array(1.0, 2.0), Array(5.0, 6.0)))
      .toDF("xs", "ys")
      .select(st.geometryType(st.polygon($"xs", $"ys")).as("t"),
        st.area(st.polygon($"xs", $"ys")).as("a"))
      .head()
    assert(r.getString(0) == "Point")
    assert(r.getDouble(1) == 0.0)
  }

  test("st_within / st_intersects / st_contains") {
    val df = Seq((1.0, 1.0)).toDF("px", "py")
    val inner = st.makeBox(lit(0.5), lit(0.5), lit(1.5), lit(1.5))
    val outer = st.makeBox(lit(0.0), lit(0.0), lit(2.0), lit(2.0))
    val disjoint = st.makeBox(lit(5.0), lit(5.0), lit(6.0), lit(6.0))
    val r = df.select(
      st.within(inner, outer).as("w"),
      st.within(outer, inner).as("wNot"),
      st.intersects(inner, disjoint).as("iNot"),
      st.contains(outer, st.point($"px", $"py")).as("c"),
      // shared-boundary box is still within (subset semantics)
      st.within(st.makeBox(lit(1.0), lit(1.0), lit(2.0), lit(2.0)), outer).as("wEdge"))
      .head()
    assert(r.getBoolean(0) && !r.getBoolean(1) && !r.getBoolean(2)
      && r.getBoolean(3) && r.getBoolean(4))
  }

  test("st_intersection of overlapping boxes is the exact overlap box") {
    val a = st.makeBox(lit(0.0), lit(0.0), lit(2.0), lit(2.0))
    val b = st.makeBox(lit(1.0), lit(1.0), lit(3.0), lit(3.0))
    val r = spark.range(1).select(
      st.area(st.intersection(a, b)).as("a"),
      st.asText(st.centroid(st.intersection(a, b))).as("c"))
      .head()
    assert(r.getDouble(0) == 1.0)
    assert(r.getString(1) == "POINT (1.5 1.5)")
  }

  test("disjoint boxes intersect to an empty geometry with zero area") {
    val a = st.makeBox(lit(0.0), lit(0.0), lit(1.0), lit(1.0))
    val b = st.makeBox(lit(5.0), lit(5.0), lit(6.0), lit(6.0))
    val r = spark.range(1)
      .select(st.area(st.intersection(a, b)).as("area")).head()
    assert(r.getDouble(0) == 0.0)
  }

  test("null propagation: null geometry input yields null output") {
    val r = spark.range(1)
      .select(st.area(lit(null).cast("binary")).as("a"),
        st.within(lit(null).cast("binary"),
          st.makeBox(lit(0.0), lit(0.0), lit(1.0), lit(1.0))).as("w"))
      .head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("st_union_aggr: union of an overlapping box chain has closed-form area") {
    // boxes [i, i+2] × [0,1], i = 0..8 → union [0,10] × [0,1], area 10
    val df = spark.range(9).select(
      st.makeBox($"id", lit(0.0), $"id" + 2.0, lit(1.0)).as("g"))
    val r = df.agg(st.area(st.unionAggr($"g")).as("a")).head()
    assert(r.getDouble(0) == 10.0)
  }

  test("st_union_aggr survives partial aggregation across partitions") {
    val df = spark.range(100).repartition(7).select(
      st.makeBox($"id" % 10 * 2.0, floor($"id" / 10) * 2.0,
        $"id" % 10 * 2.0 + 1.0, floor($"id" / 10) * 2.0 + 1.0).as("g"))
    // 100 disjoint unit boxes (10 duplicates of each distinct id%100...)
    // ids 0..99 distinct → 100 disjoint boxes, union area 100
    val r = df.agg(st.area(st.unionAggr($"g")).as("a")).head()
    assert(r.getDouble(0) == 100.0)
  }

  test("unary toolbox: buffer / simplify / hull / envelope / length / boundary / union") {
    val box = st.makeBox(lit(0.0), lit(0.0), lit(2.0), lit(3.0))
    val r = spark.range(1).select(
      st.length(box).as("len"),
      st.area(st.buffer(box, lit(1.0))).as("buf_area"),
      st.area(st.buffer(box, lit(-0.5))).as("shrunk_area"),
      st.area(st.convexHull(box)).as("hull_area"),
      st.area(st.envelope(box)).as("env_area"),
      st.length(st.boundary(box)).as("blen"),
      st.area(st.union(box, st.makeBox(lit(1.0), lit(0.0), lit(3.0), lit(3.0))))
        .as("union_area")).head()
    assert(r.getDouble(0) == 10.0) // perimeter 2(2+3)
    // buffered area: rect grows by d on each side + 4 polygonal corner
    // fans (8 segments/quadrant) — bounded by the exact-circle value
    assert(r.getDouble(1) > 6.0 + 10.0 && r.getDouble(1) <= 6.0 + 10.0 + math.Pi)
    assert(r.getDouble(2) == 2.0) // (2-1)x(3-1)
    assert(r.getDouble(3) == 6.0)
    assert(r.getDouble(4) == 6.0)
    assert(r.getDouble(5) == 10.0)
    assert(r.getDouble(6) == 9.0) // [0,3]x[0,3]
  }

  test("st_simplify removes sub-tolerance vertices, keeps corners") {
    // a 2x2 box with an ε-bumped midpoint per edge: 9 ring points → 5
    val xs = array(lit(0.0), lit(1.0), lit(2.0), lit(2.01), lit(2.0),
      lit(1.0), lit(0.0), lit(-0.01))
    val ys = array(lit(0.0), lit(-0.01), lit(0.0), lit(1.0), lit(2.0),
      lit(2.01), lit(2.0), lit(1.0))
    val r = spark.range(1).select(
      st.npoints(st.polygon(xs, ys)).as("before"),
      st.npoints(st.simplify(st.polygon(xs, ys), lit(0.1))).as("after"),
      st.area(st.simplify(st.polygon(xs, ys), lit(0.1))).as("area")).head()
    assert(r.getInt(0) == 9)
    assert(r.getInt(1) == 5)
    assert(r.getDouble(2) == 4.0)
  }

  test("wkt bridge: st_geomfromtext ∘ st_astext is identity") {
    val wkt = "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"
    val r = spark.range(1)
      .select(st.asText(Bridge.column(STGeomFromText(
        Seq(Bridge.expression(lit(wkt)))))).as("t")).head()
    assert(r.getString(0) == wkt)
  }

  test("Wkb helpers: box/polygon/point agree with JTS directly") {
    assert(Wkb.box(0, 0, 2, 3).getArea == 6.0)
    assert(Wkb.polygon(Array(0.0, 1.0, 0.0), Array(0.0, 0.0, 1.0)).getArea == 0.5)
    assert(Wkb.point(3.0, 4.0).distance(Wkb.point(0.0, 0.0)) == 5.0)
  }
}
