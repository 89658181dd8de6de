package graft.geom

import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory, Point, Polygon, PrecisionModel}
import org.locationtech.jts.io.{WKBReader, WKBWriter, WKTReader, WKTWriter}

/** JTS bridge: geometries travel through Spark plans as WKB bytes in a
  * `BinaryType` column — serializable, shuffle-safe, and decodable by any
  * GIS stack (the reference's GeoDataFrame geometry column re-expressed
  * for a distributed engine; ref wrf_voronoi.py:138-142).
  *
  * All JTS objects are thread-local: expression eval runs concurrently on
  * executor task threads and JTS readers/writers are not thread-safe.
  */
object Wkb {

  /** Floating (full double) precision, SRID 4326 by default — matches the
    * reference's EPSG:4326-on-creation convention (wrf_voronoi.py:141). */
  private val factoryTL: ThreadLocal[GeometryFactory] =
    ThreadLocal.withInitial(() => new GeometryFactory(new PrecisionModel(), 4326))
  private val readerTL: ThreadLocal[WKBReader] =
    ThreadLocal.withInitial(() => new WKBReader(factory))
  private val writerTL: ThreadLocal[WKBWriter] =
    ThreadLocal.withInitial(() => new WKBWriter(2))
  private val wktReaderTL: ThreadLocal[WKTReader] =
    ThreadLocal.withInitial(() => new WKTReader(factory))
  private val wktWriterTL: ThreadLocal[WKTWriter] =
    ThreadLocal.withInitial(() => new WKTWriter(2))

  def factory: GeometryFactory = factoryTL.get()
  def read(b: Array[Byte]): Geometry = readerTL.get().read(b)
  def write(g: Geometry): Array[Byte] = writerTL.get().write(g)
  def readWkt(s: String): Geometry = wktReaderTL.get().read(s)
  def writeWkt(g: Geometry): String = wktWriterTL.get().write(g)

  def point(x: Double, y: Double): Point =
    factory.createPoint(new Coordinate(x, y))

  /** Axis-aligned rectangle polygon (the reference's `shapely.box`,
    * wrf_voronoi.py:146, delphine/regrid.py:193-196). CCW shell. */
  def box(xmin: Double, ymin: Double, xmax: Double, ymax: Double): Polygon =
    factory.createPolygon(Array(
      new Coordinate(xmin, ymin), new Coordinate(xmax, ymin),
      new Coordinate(xmax, ymax), new Coordinate(xmin, ymax),
      new Coordinate(xmin, ymin)))

  /** Polygon from parallel vertex arrays, auto-closing the ring.
    * Degenerate inputs mirror the reference's sentinel handling for empty
    * Voronoi regions (wrf_voronoi.py:130-137): fewer than 3 vertices
    * yields a Point at the first vertex (or null for no vertices). */
  def polygon(xs: Array[Double], ys: Array[Double]): Geometry = {
    require(xs.length == ys.length, "st_polygon: xs/ys length mismatch")
    if (xs.isEmpty) null
    else if (xs.length < 3) point(xs(0), ys(0))
    else {
      val closed = xs(0) == xs(xs.length - 1) && ys(0) == ys(ys.length - 1)
      val n = if (closed) xs.length else xs.length + 1
      val cs = new Array[Coordinate](n)
      var i = 0
      while (i < xs.length) { cs(i) = new Coordinate(xs(i), ys(i)); i += 1 }
      if (!closed) cs(n - 1) = new Coordinate(xs(0), ys(0))
      factory.createPolygon(cs)
    }
  }
}
