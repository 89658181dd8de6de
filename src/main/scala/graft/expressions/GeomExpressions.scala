package graft.expressions

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import org.locationtech.jts.geom.Geometry
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import org.locationtech.jts.operation.union.UnaryUnionOp

import graft.geom.Wkb

/** JTS-backed geometry scalar expressions over WKB (`BinaryType`)
  * columns — the engine's `st_*` namespace (SURVEY §2.7 G1-G8).
  *
  * Catalyst `Expression`s (not UDFs): null handling, type checks and
  * plan integration come from the expression contract; evaluation is
  * compiled JVM JTS. `CodegenFallback` keeps them usable inside
  * whole-stage-codegen'd plans (the JTS call dominates cost, so custom
  * `doGenCode` would only inline the dispatch).
  */
abstract class GeomExpression extends Expression with CodegenFallback {
  override def nullable: Boolean = true
  override lazy val deterministic: Boolean = true

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.exists(_ == null)) null else evalNotNull(vs)
  }

  /** Eval with all child values non-null. */
  protected def evalNotNull(vs: Seq[Any]): Any

  protected def wkb(v: Any): Array[Byte] = v.asInstanceOf[Array[Byte]]
  protected def geom(v: Any): Geometry = Wkb.read(wkb(v))
  protected def dbl(v: Any): Double = v.asInstanceOf[Double]
}

/** st_point(x, y) → WKB point (G2; ref delphine/regrid.py:174). */
case class STPoint(children: Seq[Expression]) extends GeomExpression {
  override def dataType: DataType = BinaryType
  override protected def evalNotNull(vs: Seq[Any]): Any =
    Wkb.write(Wkb.point(dbl(vs(0)), dbl(vs(1))))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c)
  override def prettyName: String = "st_point"
}

/** st_makebox(xmin, ymin, xmax, ymax) → WKB rectangle (G3; ref
  * wrf_voronoi.py:146, delphine/regrid.py:193-196). */
case class STMakeBox(children: Seq[Expression]) extends GeomExpression {
  override def dataType: DataType = BinaryType
  override protected def evalNotNull(vs: Seq[Any]): Any =
    Wkb.write(Wkb.box(dbl(vs(0)), dbl(vs(1)), dbl(vs(2)), dbl(vs(3))))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c)
  override def prettyName: String = "st_makebox"
}

/** st_polygon(xs, ys) → WKB polygon from parallel vertex arrays, with
  * the reference's degenerate-region Point sentinel (G1;
  * wrf_voronoi.py:130-137). */
case class STPolygon(children: Seq[Expression]) extends GeomExpression {
  override def dataType: DataType = BinaryType
  override protected def evalNotNull(vs: Seq[Any]): Any = {
    val xs = vs(0).asInstanceOf[ArrayData].toDoubleArray()
    val ys = vs(1).asInstanceOf[ArrayData].toDoubleArray()
    val g = Wkb.polygon(xs, ys)
    if (g == null) null else Wkb.write(g)
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c)
  override def prettyName: String = "st_polygon"
}

/** st_within(a, b) — true iff a ⊆ b (G4; ref wrf_voronoi.py:144).
  * JTS defines `a.within(b)` as `b.contains(a)`, so a repeating `b`
  * (a bbox literal, a broadcast region) is prepared once and asked
  * `contains(a)` — the same answer. */
case class STWithin(children: Seq[Expression]) extends GeomExpression {
  @transient private[this] lazy val outer = new RepeatedArg
  override def dataType: DataType = BooleanType
  override protected def evalNotNull(vs: Seq[Any]): Any = {
    val b = outer(wkb(vs(1)))
    if (b.prepared != null) b.prepared.contains(geom(vs(0))) else geom(vs(0)).within(b.geom)
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c)
  override def prettyName: String = "st_within"
}

/** st_contains(a, b) — true iff b ⊆ a with interior contact (J3's sjoin
  * predicate family; ref delphine/regrid.py:167-177). A repeating `a`
  * is prepared once. */
case class STContains(children: Seq[Expression]) extends GeomExpression {
  @transient private[this] lazy val outer = new RepeatedArg
  override def dataType: DataType = BooleanType
  override protected def evalNotNull(vs: Seq[Any]): Any = {
    val a = outer(wkb(vs(0)))
    if (a.prepared != null) a.prepared.contains(geom(vs(1))) else a.geom.contains(geom(vs(1)))
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c)
  override def prettyName: String = "st_contains"
}

/** st_intersects(a, b) (G5; ref wrf_voronoi.py:188). Symmetric, so
  * whichever argument repeats is prepared — `b` checked first: the
  * stage-9 clip's broadcast boundary union sits there. */
case class STIntersects(children: Seq[Expression]) extends GeomExpression {
  @transient private[this] lazy val left = new RepeatedArg
  @transient private[this] lazy val right = new RepeatedArg
  override def dataType: DataType = BooleanType
  override protected def evalNotNull(vs: Seq[Any]): Any = {
    val b = right(wkb(vs(1)))
    if (b.prepared != null) b.prepared.intersects(geom(vs(0)))
    else {
      val a = left(wkb(vs(0)))
      if (a.prepared != null) a.prepared.intersects(b.geom) else a.geom.intersects(b.geom)
    }
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c)
  override def prettyName: String = "st_intersects"
}

/** One predicate argument's last value, parsed, plus its JTS
  * `PreparedGeometry` once that value repeats row after row (a
  * literal, a broadcast cross-join column, a streamed row meeting its
  * join candidates). Spark's `RegExpReplace.lastRegex` idiom: the
  * owning expression holds it in a `@transient` field, so every task
  * deserializes a fresh one. Prepared predicates answer exactly as the
  * plain ones; they skip the per-row parse of the repeated side and
  * index its segments once instead of per relate.
  *
  * The row's byte array is kept by reference, not copied: `getBinary`
  * hands out a fresh array per row and a literal's never changes.
  *
  * The state is one immutable slot replaced whole, so an instance that
  * happens to be shared between threads can never pair one row's
  * bytes with another geometry's parsed or prepared form. */
private[graft] final class RepeatedArg {
  private[this] var slot: RepeatedArg.Slot = null

  /** `wkb` parsed; `prepared` is set when the bytes equal the previous
    * call's, else null and the caller uses `geom` on the plain path.
    * A new value is parsed once, as the plain path would; a repeat
    * reuses that parse, so even a run of two reads the value once. */
  def apply(wkb: Array[Byte]): RepeatedArg.Slot = {
    val s = slot
    if (s != null && java.util.Arrays.equals(s.wkb, wkb)) {
      if (s.prepared != null) s
      else {
        val next = new RepeatedArg.Slot(s.wkb, s.geom, PreparedGeometryFactory.prepare(s.geom))
        slot = next
        next
      }
    } else {
      val next = new RepeatedArg.Slot(wkb, Wkb.read(wkb), null)
      slot = next
      next
    }
  }
}

private[graft] object RepeatedArg {
  final class Slot(val wkb: Array[Byte], val geom: Geometry,
      val prepared: PreparedGeometry)
}

/** st_intersection(a, b) → WKB of a ∩ b (G6; ref
  * delphine/regrid.py:155-160 and the overlay at :267-270). */
case class STIntersection(children: Seq[Expression]) extends GeomExpression {
  override def dataType: DataType = BinaryType
  override protected def evalNotNull(vs: Seq[Any]): Any =
    Wkb.write(geom(vs(0)).intersection(geom(vs(1))))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c)
  override def prettyName: String = "st_intersection"
}

/** st_area(g) — planar area in coordinate units, matching GeoPandas
  * semantics (G7; ref delphine/regrid.py:261-262 — the reference weights
  * by area *ratios* so units cancel). */
case class STArea(children: Seq[Expression]) extends GeomExpression {
  override def dataType: DataType = DoubleType
  override protected def evalNotNull(vs: Seq[Any]): Any = geom(vs(0)).getArea
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c)
  override def prettyName: String = "st_area"
}

/** st_centroid(g) → WKB point (A7; ref wrf_voronoi.py:51,96). */
case class STCentroid(children: Seq[Expression]) extends GeomExpression {
  override def dataType: DataType = BinaryType
  override protected def evalNotNull(vs: Seq[Any]): Any =
    Wkb.write(geom(vs(0)).getCentroid)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c)
  override def prettyName: String = "st_centroid"
}

/** st_x / st_y of a point. */
case class STX(children: Seq[Expression]) extends GeomExpression {
  override def dataType: DataType = DoubleType
  override protected def evalNotNull(vs: Seq[Any]): Any =
    geom(vs(0)).getCoordinate.x
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c)
  override def prettyName: String = "st_x"
}

case class STY(children: Seq[Expression]) extends GeomExpression {
  override def dataType: DataType = DoubleType
  override protected def evalNotNull(vs: Seq[Any]): Any =
    geom(vs(0)).getCoordinate.y
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c)
  override def prettyName: String = "st_y"
}

/** st_buffer(geom, dist) — JTS positive/negative offset (the
  * GeoPandas `buffer` every margin/corridor query uses; dist in the
  * geometry's CRS units, default quadrant segments). */
case class STBuffer(children: Seq[Expression]) extends GeomExpression {
  override def dataType: DataType = BinaryType
  override protected def evalNotNull(vs: Seq[Any]): Any =
    Wkb.write(geom(vs(0)).buffer(dbl(vs(1))))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c)
  override def prettyName: String = "st_buffer"
}

/** st_simplify(geom, tolerance) — Douglas-Peucker (GeoPandas
  * `simplify(preserve_topology=False)` semantics; per-geometry, so a
  * shared boundary may diverge — the caller's contract, as in
  * GeoPandas). */
case class STSimplify(children: Seq[Expression]) extends GeomExpression {
  override def dataType: DataType = BinaryType
  override protected def evalNotNull(vs: Seq[Any]): Any =
    Wkb.write(org.locationtech.jts.simplify.DouglasPeuckerSimplifier
      .simplify(geom(vs(0)), dbl(vs(1))))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c)
  override def prettyName: String = "st_simplify"
}

/** st_convexhull(geom). */
case class STConvexHull(children: Seq[Expression]) extends GeomExpression {
  override def dataType: DataType = BinaryType
  override protected def evalNotNull(vs: Seq[Any]): Any =
    Wkb.write(geom(vs(0)).convexHull())
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c)
  override def prettyName: String = "st_convexhull"
}

/** st_envelope(geom) — the axis-aligned bounding geometry. */
case class STEnvelope(children: Seq[Expression]) extends GeomExpression {
  override def dataType: DataType = BinaryType
  override protected def evalNotNull(vs: Seq[Any]): Any =
    Wkb.write(geom(vs(0)).getEnvelope)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c)
  override def prettyName: String = "st_envelope"
}

/** st_length(geom) — perimeter for polygons, length for lines (JTS
  * getLength, the GeoPandas `length` property). */
case class STLength(children: Seq[Expression]) extends GeomExpression {
  override def dataType: DataType = DoubleType
  override protected def evalNotNull(vs: Seq[Any]): Any =
    geom(vs(0)).getLength
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c)
  override def prettyName: String = "st_length"
}

/** st_boundary(geom). */
case class STBoundary(children: Seq[Expression]) extends GeomExpression {
  override def dataType: DataType = BinaryType
  override protected def evalNotNull(vs: Seq[Any]): Any =
    Wkb.write(geom(vs(0)).getBoundary)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c)
  override def prettyName: String = "st_boundary"
}

/** st_union(a, b) — binary union (the aggregate form is
  * [[STUnionAggr]]). */
case class STUnion(children: Seq[Expression]) extends GeomExpression {
  override def dataType: DataType = BinaryType
  override protected def evalNotNull(vs: Seq[Any]): Any =
    Wkb.write(geom(vs(0)).union(geom(vs(1))))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c)
  override def prettyName: String = "st_union"
}

/** Envelope bounds — the building block of the bucket-explode spatial
  * join (SURVEY §4) and the bbox extent aggregation (A5). */
case class STXMin(children: Seq[Expression]) extends GeomExpression {
  override def dataType: DataType = DoubleType
  override protected def evalNotNull(vs: Seq[Any]): Any =
    geom(vs(0)).getEnvelopeInternal.getMinX
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c)
  override def prettyName: String = "st_xmin"
}

case class STYMin(children: Seq[Expression]) extends GeomExpression {
  override def dataType: DataType = DoubleType
  override protected def evalNotNull(vs: Seq[Any]): Any =
    geom(vs(0)).getEnvelopeInternal.getMinY
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c)
  override def prettyName: String = "st_ymin"
}

case class STXMax(children: Seq[Expression]) extends GeomExpression {
  override def dataType: DataType = DoubleType
  override protected def evalNotNull(vs: Seq[Any]): Any =
    geom(vs(0)).getEnvelopeInternal.getMaxX
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c)
  override def prettyName: String = "st_xmax"
}

case class STYMax(children: Seq[Expression]) extends GeomExpression {
  override def dataType: DataType = DoubleType
  override protected def evalNotNull(vs: Seq[Any]): Any =
    geom(vs(0)).getEnvelopeInternal.getMaxY
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c)
  override def prettyName: String = "st_ymax"
}

/** st_npoints(g) — vertex count. */
case class STNPoints(children: Seq[Expression]) extends GeomExpression {
  override def dataType: DataType = IntegerType
  override protected def evalNotNull(vs: Seq[Any]): Any =
    geom(vs(0)).getNumPoints
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c)
  override def prettyName: String = "st_npoints"
}

/** st_geometrytype(g) — JTS type name ("Polygon", "Point", ...). */
case class STGeometryType(children: Seq[Expression]) extends GeomExpression {
  override def dataType: DataType = StringType
  override protected def evalNotNull(vs: Seq[Any]): Any =
    UTF8String.fromString(geom(vs(0)).getGeometryType)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c)
  override def prettyName: String = "st_geometrytype"
}

/** st_astext / st_geomfromtext — WKT bridge (tests, interop). */
case class STAsText(children: Seq[Expression]) extends GeomExpression {
  override def dataType: DataType = StringType
  override protected def evalNotNull(vs: Seq[Any]): Any =
    UTF8String.fromString(Wkb.writeWkt(geom(vs(0))))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c)
  override def prettyName: String = "st_astext"
}

case class STGeomFromText(children: Seq[Expression]) extends GeomExpression {
  override def dataType: DataType = BinaryType
  override protected def evalNotNull(vs: Seq[Any]): Any =
    Wkb.write(Wkb.readWkt(vs(0).asInstanceOf[UTF8String].toString))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c)
  override def prettyName: String = "st_geomfromtext"
}

/** st_transform(g, fromSrid, toSrid) — CRS reprojection of every vertex
  * (G9; the reference's `to_crs(27700)`, wrf_voronoi.py:188). The
  * supported registry lives in [[graft.geom.Crs]]: 4326, 27700,
  * 3857 (Web Mercator) and the WGS84 UTM zones 326zz/327zz, any pair
  * (projected → projected routes through 4326). Geometry coordinates
  * follow the (x=lon/E, y=lat/N) axis convention. */
case class STTransform(children: Seq[Expression]) extends GeomExpression {
  override def dataType: DataType = BinaryType
  override protected def evalNotNull(vs: Seq[Any]): Any = {
    val from = vs(1).asInstanceOf[Int]
    val to = vs(2).asInstanceOf[Int]
    val f = graft.geom.Crs.convert(from, to).getOrElse(
      throw new IllegalArgumentException(
        s"st_transform: unsupported CRS pair $from -> $to " +
          "(supported: 4326, 27700, 3857, UTM 32601-32660/32701-32760)"))
    val g = geom(vs(0)).copy()
    g.apply(new org.locationtech.jts.geom.CoordinateFilter {
      override def filter(c: org.locationtech.jts.geom.Coordinate): Unit = {
        val (nx, ny) = f(c.x, c.y); c.x = nx; c.y = ny
      }
    })
    g.geometryChanged()
    Wkb.write(g)
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c)
  override def prettyName: String = "st_transform"
}

/** st_union_aggr(g) — geometric union aggregate (A6/G8; the reference's
  * `unary_union` over the boroughs layer, wrf_voronoi.py:188).
  *
  * `TypedImperativeAggregate` buffering geometries and unioning with JTS
  * `UnaryUnionOp` (cascaded union — O(n log n), robust). The buffer is
  * compacted to a single geometry every [[STUnionAggr.CompactEvery]]
  * inputs so partial-aggregate memory stays bounded; partials serialize
  * as WKB GeometryCollections, so map-side combine works and the shuffle
  * carries one compact blob per partition, not per row.
  */
case class STUnionAggr(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ArrayBuffer[Geometry]]
  with UnaryLike[Expression] {

  import STUnionAggr.CompactEvery

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def createAggregationBuffer(): ArrayBuffer[Geometry] =
    ArrayBuffer.empty[Geometry]

  private def compact(b: ArrayBuffer[Geometry]): ArrayBuffer[Geometry] =
    if (b.length <= CompactEvery) b
    else {
      val u = UnaryUnionOp.union(b.asJava)
      b.clear(); b += u; b
    }

  override def update(b: ArrayBuffer[Geometry], row: InternalRow): ArrayBuffer[Geometry] = {
    val v = child.eval(row)
    if (v != null) { b += Wkb.read(v.asInstanceOf[Array[Byte]]); compact(b) } else b
  }

  override def merge(a: ArrayBuffer[Geometry], b: ArrayBuffer[Geometry]): ArrayBuffer[Geometry] = {
    a ++= b; compact(a)
  }

  override def eval(b: ArrayBuffer[Geometry]): Any =
    if (b.isEmpty) null else Wkb.write(UnaryUnionOp.union(b.asJava))

  override def serialize(b: ArrayBuffer[Geometry]): Array[Byte] =
    Wkb.write(Wkb.factory.createGeometryCollection(b.toArray))

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[Geometry] = {
    val gc = Wkb.read(bytes)
    val out = ArrayBuffer.empty[Geometry]
    (0 until gc.getNumGeometries).foreach(i => out += gc.getGeometryN(i))
    out
  }

  override def withNewMutableAggBufferOffset(n: Int): STUnionAggr =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): STUnionAggr =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(newChild: Expression): STUnionAggr =
    copy(child = newChild)
  override def prettyName: String = "st_union_aggr"
}

object STUnionAggr {
  /** Buffer-compaction threshold: geometries held per partial buffer
    * before collapsing into one running union. */
  val CompactEvery = 64
}

/** st_distance(a, b) — minimum planar distance between two geometries
  * (JTS `Geometry.distance`; point-point = sqrt(dx²+dy²), the
  * closed-form the oracle mirrors). */
case class STDistance(children: Seq[Expression]) extends GeomExpression {
  override def dataType: DataType = DoubleType
  override protected def evalNotNull(vs: Seq[Any]): Any =
    geom(vs(0)).distance(geom(vs(1)))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c)
  override def prettyName: String = "st_distance"
}

/** st_envelope_cells(g) — all (bx, by) grid cells of size `cellSize`
  * that g's envelope covers (floor of the envelope bounds over
  * cellSize, x-major order, pinned by SpatialJoinSpec), as one compiled
  * pass: ONE WKB parse per row where a Column chain pays four (st_xmin /
  * st_xmax / st_ymin / st_ymax each re-parse the geometry) plus an
  * interpreted `transform`/`flatten` lambda per cell (r16 opt, guide
  * §1.2 per-task work). The candidate generator of
  * [[graft.plans.SpatialJoinRewrite]], which validates `cellSize`. */
case class STEnvelopeCells(children: Seq[Expression], cellSize: Double)
    extends GeomExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("bx", LongType), StructField("by", LongType))))
  override protected def evalNotNull(vs: Seq[Any]): Any = {
    // EMPTY geometry (null JTS envelope, minX=0 > maxX=-1): the loops
    // below produce no cells, and an empty geometry joins nothing
    // (contains/intersects with it is false), pinned by SpatialJoinSpec.
    val e = geom(vs(0)).getEnvelopeInternal
    val bx0 = math.floor(e.getMinX / cellSize).toLong
    val bx1 = math.floor(e.getMaxX / cellSize).toLong
    val by0 = math.floor(e.getMinY / cellSize).toLong
    val by1 = math.floor(e.getMaxY / cellSize).toLong
    val out = new Array[Any](((bx1 - bx0 + 1) * (by1 - by0 + 1)).toInt)
    var i = 0
    var bx = bx0
    while (bx <= bx1) {
      var by = by0
      while (by <= by1) { out(i) = InternalRow(bx, by); i += 1; by += 1 }
      bx += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(children = c)
  override def prettyName: String = "st_envelope_cells"
}

/** st_pair_refine(a, b, bx, by) — the bucket-explode join's ENTIRE
  * refine predicate fused into one expression: reference-point dedup
  * (the candidate bucket must hold the min corner of the envelope
  * intersection) AND the exact JTS predicate (`contains` or
  * `intersects`), with ONE WKB parse per side. A Column chain
  * (reference-bucket struct + `st_contains`) parses each geometry three
  * times per candidate — st_xmin(a), st_ymin(a), the predicate's own a
  * (and the same for b): six parses per candidate row, measured
  * ~2.6 µs vs ~0.8 µs fused at sf0.1 (r16 opt). Short-circuits the
  * JTS predicate when the bucket check fails. The refine of
  * [[graft.plans.SpatialJoinRewrite]]; its pairs equal brute force,
  * pinned by SpatialJoinSpec. */
case class STPairRefine(children: Seq[Expression], cellSize: Double,
    intersects: Boolean) extends GeomExpression {
  override def dataType: DataType = BooleanType
  override protected def evalNotNull(vs: Seq[Any]): Any = {
    val ga = geom(vs(0)); val gb = geom(vs(1))
    val ea = ga.getEnvelopeInternal; val eb = gb.getEnvelopeInternal
    val bx = math.floor(math.max(ea.getMinX, eb.getMinX) / cellSize).toLong
    val by = math.floor(math.max(ea.getMinY, eb.getMinY) / cellSize).toLong
    bx == vs(2).asInstanceOf[Long] && by == vs(3).asInstanceOf[Long] &&
      (if (intersects) ga.intersects(gb) else ga.contains(gb))
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(children = c)
  override def prettyName: String = "st_pair_refine"
}
