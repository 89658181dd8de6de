package graft.geom

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.catalyst.expressions.Expression

import graft.expressions._

/** Column-API façade over the `st_*` geometry expressions — the typed
  * surface user code composes with stock `org.apache.spark.sql.functions`
  * (SURVEY §2.7). All geometry is WKB in `BinaryType` columns.
  */
object st {

  private def c(e: Expression): Column = Bridge.column(e)
  private def x(col: Column): Expression = Bridge.expression(col)
  private def dx(col: Column): Expression = x(col.cast("double"))

  def point(px: Column, py: Column): Column = c(STPoint(Seq(dx(px), dx(py))))

  def makeBox(xmin: Column, ymin: Column, xmax: Column, ymax: Column): Column =
    c(STMakeBox(Seq(dx(xmin), dx(ymin), dx(xmax), dx(ymax))))

  def polygon(xs: Column, ys: Column): Column = c(STPolygon(Seq(x(xs), x(ys))))

  def within(a: Column, b: Column): Column = c(STWithin(Seq(x(a), x(b))))
  def contains(a: Column, b: Column): Column = c(STContains(Seq(x(a), x(b))))
  def intersects(a: Column, b: Column): Column = c(STIntersects(Seq(x(a), x(b))))
  def intersection(a: Column, b: Column): Column = c(STIntersection(Seq(x(a), x(b))))

  def envelopeCells(g: Column, cellSize: Double): Column =
    c(STEnvelopeCells(Seq(x(g)), cellSize))

  def area(g: Column): Column = c(STArea(Seq(x(g))))
  def buffer(g: Column, dist: Column): Column = c(STBuffer(Seq(x(g), dx(dist))))
  def simplify(g: Column, tol: Column): Column = c(STSimplify(Seq(x(g), dx(tol))))
  def convexHull(g: Column): Column = c(STConvexHull(Seq(x(g))))
  def envelope(g: Column): Column = c(STEnvelope(Seq(x(g))))
  def length(g: Column): Column = c(STLength(Seq(x(g))))
  def boundary(g: Column): Column = c(STBoundary(Seq(x(g))))
  def union(a: Column, b: Column): Column = c(STUnion(Seq(x(a), x(b))))
  def distance(a: Column, b: Column): Column = c(STDistance(Seq(x(a), x(b))))
  def centroid(g: Column): Column = c(STCentroid(Seq(x(g))))
  def stx(g: Column): Column = c(STX(Seq(x(g))))
  def sty(g: Column): Column = c(STY(Seq(x(g))))
  def xmin(g: Column): Column = c(STXMin(Seq(x(g))))
  def ymin(g: Column): Column = c(STYMin(Seq(x(g))))
  def xmax(g: Column): Column = c(STXMax(Seq(x(g))))
  def ymax(g: Column): Column = c(STYMax(Seq(x(g))))
  def npoints(g: Column): Column = c(STNPoints(Seq(x(g))))
  def geometryType(g: Column): Column = c(STGeometryType(Seq(x(g))))
  def asText(g: Column): Column = c(STAsText(Seq(x(g))))

  /** CRS reprojection (4326 ↔ 27700; the reference's `to_crs`). */
  def transform(g: Column, fromSrid: Int, toSrid: Int): Column =
    c(STTransform(Seq(x(g), x(lit(fromSrid)), x(lit(toSrid)))))

  /** Geometric union aggregate (the reference's `unary_union`,
    * wrf_voronoi.py:188). */
  def unionAggr(g: Column): Column =
    c(STUnionAggr(x(g)).toAggregateExpression())
}
