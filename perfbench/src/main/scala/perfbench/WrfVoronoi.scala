package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import org.locationtech.jts.geom.{Coordinate, CoordinateFilter}
import org.locationtech.jts.geom.prep.PreparedGeometryFactory
import org.locationtech.jts.operation.union.UnaryUnionOp

import graft.geom.{Crs, Wkb, st}
import graft.grid.GridConfig
import graft.io.{GeoPackage, Hdf5, NetCdf, Shapefile}
import graft.operators.Voronoi
import graft.pipelines.Pipelines

/** `wrf_voronoi.py`: a 128×128 curvilinear grid (16,384 cells, half the
  * reference's 33k-cell Brasil run, so a run fits the benchmark's time
  * budget) of four-hourly 2 m temperature over four days, scanned from a
  * chunked-deflate NetCDF-4 file, reduced to per-cell daily statistics,
  * tessellated into Voronoi cells, clipped to a boundary layer in
  * EPSG:27700 and written as a Shapefile.
  *
  * Inputs, all from the seed: the T2 file, the 2-D cell-centre
  * coordinates (the XLAT/XLONG pair of a WRF static file, as Parquet)
  * and the boundary layer (a Shapefile in 27700, like the reference's
  * borough layer). The grid sits over Great Britain so that the 27700
  * reprojection is well defined for every cell. */
object WrfVoronoi extends Workload {
  val name = "wrf_voronoi"
  val ny = 128
  val nx = 128
  val days = 4
  /** Four-hourly steps: six per day. */
  val nt: Int = days * 6
  private val lon0 = -7.5
  private val lat0 = 50.2
  private val step = 0.045
  /** Voronoi clip box: the seed extent plus two grid steps. */
  val clip: (Double, Double, Double, Double) =
    (lon0 - 2 * step, lat0 - 2 * step - nx * 0.004,
      lon0 + nx * step + ny * 0.006 + 2 * step, lat0 + ny * step + 2 * step)
  /** The reference's bbox filter: the seed extent plus half a step, so
    * cells that reach the clip border drop out. */
  val bbox: (Double, Double, Double, Double) =
    (lon0 - step / 2, lat0 - step / 2 - nx * 0.004,
      lon0 + nx * step + ny * 0.006 + step / 2, lat0 + ny * step + step / 2)
  val cfg: GridConfig = GridConfig("x", "y", "lon", "lat", "time", "value")

  private def t2Path(dir: String) = s"$dir/wrf_t2.nc"
  private def coordsPath(dir: String) = s"$dir/wrf_coords.parquet"
  private def boundaryBase(dir: String) = s"$dir/boundary"

  /** Cell-centre coordinates: a sheared lattice with seeded jitter of
    * at most a fifth of a step, so the cells are not boxes. */
  def coords(seed: Long): (Array[Double], Array[Double]) = {
    val rnd = new java.util.Random(seed ^ 0x5eedL)
    val lon = new Array[Double](ny * nx)
    val lat = new Array[Double](ny * nx)
    for (y <- 0 until ny; x <- 0 until nx) {
      val i = y * nx + x
      lon(i) = lon0 + x * step + y * 0.006 + (rnd.nextDouble() - 0.5) * 0.4 * step
      lat(i) = lat0 + y * step - x * 0.004 + (rnd.nextDouble() - 0.5) * 0.4 * step
    }
    (lon, lat)
  }

  def generate(spark: SparkSession, dir: String, seed: Long): Unit = {
    Files.createDirectories(Paths.get(dir))
    val (lon, lat) = coords(seed)
    val rnd = new java.util.Random(seed)
    // T2 in kelvin with two decimals: a north-south gradient, a diurnal
    // cycle and seeded noise
    val t2 = new Array[Double](nt * ny * nx)
    var i = 0
    while (i < t2.length) {
      val cell = i % (ny * nx)
      val step4h = i / (ny * nx)
      val v = 288.0 - 1.6 * (lat(cell) - lat0) +
        4.0 * math.sin(2 * math.Pi * ((step4h * 4 % 24) - 9) / 24.0) +
        (rnd.nextDouble() - 0.5) * 3.0
      t2(i) = math.round(v * 100) / 100.0
      i += 1
    }
    val dims = Seq(NetCdf.Dim("time", nt), NetCdf.Dim("south_north", ny),
      NetCdf.Dim("west_east", nx))
    val vars = Seq(
      NetCdf.Var("time", Seq(0), NetCdf.NcDouble,
        Seq("units" -> "hours since 2020-01-01 00:00:00"),
        Array.tabulate(nt)(_ * 4.0)),
      NetCdf.Var("south_north", Seq(1), NetCdf.NcDouble, Nil,
        Array.tabulate(ny)(_.toDouble)),
      NetCdf.Var("west_east", Seq(2), NetCdf.NcDouble, Nil,
        Array.tabulate(nx)(_.toDouble)),
      NetCdf.Var("T2", Seq(0, 1, 2), NetCdf.NcDouble, Seq("units" -> "K"), t2))
    Files.deleteIfExists(Paths.get(t2Path(dir)))
    Hdf5.write(t2Path(dir), dims, Nil, vars, chunkDeflate = true)

    import spark.implicits._
    (0 until ny * nx).map(i => (i / nx, i % nx, lon(i), lat(i)))
      .toDF("y", "x", "XLONG", "XLAT")
      .coalesce(1).write.mode("overwrite").parquet(coordsPath(dir))

    // boundary layer: a 6×6 block partition of the domain less six
    // blocks, corners jittered, in EPSG:27700. Which blocks are missing
    // is fixed, not drawn from the seed: the clip's cost grows with the
    // union's outline, and a seed must change the values, not the work.
    val (x0, y0, x1, y1) = bbox
    val k = 6
    val toOsgb = Crs.convert(4326, 27700).get
    val brnd = new java.util.Random(seed * 31 + 7)
    val blocks = for (bi <- 0 until k; bj <- 0 until k
        if (bi * 7 + bj * 3) % 6 != 0) yield {
      val (w, h) = ((x1 - x0) / k, (y1 - y0) / k)
      val jit = () => (brnd.nextDouble() - 0.5) * 0.2 * w
      val lons = Array(x0 + bi * w + jit(), x0 + (bi + 1) * w + jit(),
        x0 + (bi + 1) * w + jit(), x0 + bi * w + jit())
      val lats = Array(y0 + bj * h + jit(), y0 + bj * h + jit(),
        y0 + (bj + 1) * h + jit(), y0 + (bj + 1) * h + jit())
      val en = lons.zip(lats).map { case (lo, la) => toOsgb(lo, la) }
      (s"area_${bi}_$bj", Wkb.write(Wkb.polygon(en.map(_._1), en.map(_._2))))
    }
    Shapefile.write(blocks.toDF("name", "geom"), "geom", boundaryBase(dir))
  }

  /** What every pass's Shapefile must hold, set by [[prepare]]. */
  private var expectedRows = 0L
  private var expectedArea = 0.0
  private var referenceProblem: Option[String] = None

  private def seeds(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(coordsPath(dir))
      .withColumn("vid", col("y").cast("long") * 1000000L + col("x"))

  /** The reference's bbox filter and stage 9: keep cells inside the
    * bbox, reproject each to EPSG:27700 and keep those that intersect
    * the union of the boundary layer. */
  private def clipCells(spark: SparkSession, dir: String, cells: DataFrame): DataFrame = {
    val (x0, y0, x1, y1) = bbox
    val union = Shapefile.read(spark, boundaryBase(dir))
      .agg(st.unionAggr(col("geom")).as("boundary"))
    cells.filter(st.within(col("geom"), st.makeBox(lit(x0), lit(y0), lit(x1), lit(y1))))
      .crossJoin(broadcast(union))
      .filter(st.intersects(st.transform(col("geom"), 4326, 27700), col("boundary")))
      .drop("boundary")
  }

  /** The reference the passes are checked against, computed once per
    * run on the driver with plain JTS: the tessellation must give one
    * cell per seed and tile the clip box, and the cells inside the bbox
    * whose 27700 outline meets the boundary union give the row count and
    * area the clipped layer must have. */
  override def prepare(spark: SparkSession, dir: String, seed: Long): Unit = {
    val cells = Voronoi.tessellate(seeds(spark, dir), "vid", "XLONG", "XLAT", clip)
      .collect().map(r => (r.getLong(0), Wkb.read(r.getAs[Array[Byte]](1))))
    val (cx0, cy0, cx1, cy1) = clip
    val clipArea = (cx1 - cx0) * (cy1 - cy0)
    val area = cells.map(_._2.getArea).sum
    val nCells = ny.toLong * nx
    val boundary = PreparedGeometryFactory.prepare(UnaryUnionOp.union(
      Shapefile.read(spark, boundaryBase(dir)).collect()
        .map(r => Wkb.read(r.getAs[Array[Byte]]("geom"))).toSeq.asJava))
    val toOsgb = Crs.convert(4326, 27700).get
    val (x0, y0, x1, y1) = bbox
    val box = Wkb.box(x0, y0, x1, y1)
    val kept = cells.map(_._2).filter { g =>
      val en = g.copy()
      en.apply(new CoordinateFilter {
        def filter(c: Coordinate): Unit = {
          val (e, n) = toOsgb(c.x, c.y); c.x = e; c.y = n
        }
      })
      en.geometryChanged()
      g.within(box) && boundary.intersects(en)
    }
    expectedRows = kept.length
    expectedArea = kept.map(_.getArea).sum
    referenceProblem =
      if (cells.length != nCells || cells.map(_._1).distinct.length != nCells)
        Some(s"${cells.length} cells for $nCells seeds")
      else if (math.abs(area / clipArea - 1) > 1e-9)
        Some(s"cell area $area vs clip area $clipArea")
      else if (expectedRows == 0) Some("the boundary layer keeps no cell")
      else None
    System.err.println(s"[perfbench] reference: ${cells.length} cells, $expectedRows kept")
  }

  def pass(spark: SparkSession, dir: String, tr: Tracer): PassResult = {
    val shp = s"$dir/out/wrf_voronoi"
    Files.createDirectories(Paths.get(shp).getParent)
    val s = seeds(spark, dir)
    val pipeline = Workload.op(name, tr) {
      Workload.timed {
        val grid = tr.frame("sources.scan") {
          spark.read.format("graft.sources.GridSource").load(t2Path(dir))
        }
        val stats = tr.frame("pipelines.daily_stats") {
          Pipelines.temporalDailyStats(grid, cfg)
        }
        val cells = tr.frame("operators.voronoi") {
          Voronoi.tessellate(s, "vid", "XLONG", "XLAT", clip)
        }
        val layer = tr.frame("geom.clip") {
          clipCells(spark, dir, s.join(cells, "vid"))
            .join(stats, Seq("y", "x"))
            .select(col("y"), col("x"), col("XLONG"), col("XLAT"), col("n_days"),
              col("tmin_mean"), col("tmax_mean"), col("tmean_mean"), col("geom"))
        }
        tr.span("io.shp_write") { Shapefile.write(layer, "geom", shp) }
      }._2
    }(referenceProblem.orElse(checkShapefile(spark, shp)))
    val shpBytes = Seq(".shp", ".shx", ".dbf").map(e =>
      scala.util.Try(Files.size(Paths.get(shp + e))).getOrElse(0L)).sum.toDouble
    PassResult(Seq(pipeline), Map("io.shp_bytes" -> shpBytes))
  }

  /** The layer read back from the Shapefile has one row per kept cell,
    * the kept cells' area, and four days of statistics in every row. */
  private def checkShapefile(spark: SparkSession, shp: String): Option[String] = {
    val back = Shapefile.read(spark, shp).agg(count(lit(1)),
      countDistinct(col("y"), col("x")), sum(st.area(col("geom"))),
      min(col("n_days")), max(col("n_days"))).head()
    if (back.getLong(0) != expectedRows || back.getLong(1) != expectedRows)
      Some(s"shapefile rows ${back.getLong(0)} (distinct ${back.getLong(1)}), " +
        s"expected $expectedRows")
    else if (math.abs(back.getDouble(2) / expectedArea - 1) > 1e-9)
      Some(s"shapefile area ${back.getDouble(2)}, expected $expectedArea")
    else if (back.getLong(3) != days || back.getLong(4) != days)
      Some(s"n_days in [${back.get(3)}, ${back.get(4)}], expected $days")
    else None
  }

  /** The GeoPackage round trip of the layer the last pass wrote: the
    * layer goes through `GeoPackage.write` and `GeoPackage.read` and must
    * come back with every row. At this size the writer is known to fail;
    * the outcome is reported on its own and its time is in no pass. */
  override def sideChecks(spark: SparkSession, dir: String, tr: Tracer): Seq[Op] = {
    val layer = Shapefile.read(spark, s"$dir/out/wrf_voronoi")
    val gpkg = s"$dir/out/wrf_voronoi.gpkg"
    var rows = -1L
    Seq(Workload.op("gpkg_roundtrip", tr) {
      Files.deleteIfExists(Paths.get(gpkg))
      Workload.timed {
        GeoPackage.write(layer, "geom", gpkg, layer = "wrf_voronoi")
        val attrs = StructType(layer.schema.fields.filter(_.name != "geom"))
        rows = GeoPackage.read(spark, gpkg, "wrf_voronoi", attrs).count()
      }._2
    } {
      val n = layer.count()
      if (rows == n) None else Some(s"gpkg read back $rows rows of $n")
    })
  }

  override def derived(m: Map[String, Double]): Map[String, Double] =
    m.get("sources.scan_s").filter(_ > 0)
      .map(s => "sources.rows_per_s" -> nt.toDouble * ny * nx / s).toMap
}
