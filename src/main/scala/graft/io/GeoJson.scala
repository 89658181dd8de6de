package graft.io

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import org.locationtech.jts.geom.{Geometry, Polygon}

import graft.geom.Wkb

/** GeoJSON FeatureCollection sink (SURVEY §2.1 S3 interop note: the
  * canonical sink is Parquet+WKB; GeoJSON is the universal small-layer
  * exchange format the reference's `.to_file` consumers read). Driver-
  * side writer under the same small-layer contract as [[Shapefile]]. */
object GeoJson {

  private def coords(g: Geometry): String = g match {
    case p: Polygon =>
      val rings = p.getExteriorRing +:
        (0 until p.getNumInteriorRing).map(p.getInteriorRingN)
      rings.map(_.getCoordinates
        .map(c => s"[${c.x},${c.y}]").mkString("[", ",", "]"))
        .mkString("[", ",", "]")
    case _ if g.getGeometryType == "Point" =>
      s"[${g.getCoordinate.x},${g.getCoordinate.y}]"
    case _ => throw new IllegalArgumentException(
      s"geojson writer: unsupported geometry ${g.getGeometryType}")
  }

  private def jsonValue(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case other => other.toString
  }

  private def featureJson(row: org.apache.spark.sql.Row,
      schema: StructType, geomCol: String): String = {
    val attrs = schema.fields.filter(_.name != geomCol)
    val g = Wkb.read(row.getAs[Array[Byte]](schema.fieldIndex(geomCol)))
    val gtype = if (g.getGeometryType == "Point") "Point" else "Polygon"
    val props = attrs.map { f =>
      s"${jsonValue(f.name)}:${jsonValue(row.get(schema.fieldIndex(f.name)))}"
    }.mkString(",")
    s"""{"type":"Feature","geometry":{"type":"$gtype","coordinates":${coords(g)}},"properties":{$props}}"""
  }

  private def writeCollection(path: String,
      features: Iterator[String]): Unit = {
    val out = Files.newBufferedWriter(Paths.get(path),
      java.nio.charset.StandardCharsets.UTF_8)
    try {
      out.write("""{"type":"FeatureCollection","features":[""")
      var first = true
      features.foreach { f =>
        if (!first) out.write(",")
        out.write(f); first = false
      }
      out.write("]}")
    } finally out.close()
  }

  /** Write rows (one WKB geometry column + scalar attributes) as ONE
    * GeoJSON FeatureCollection file, streamed through the driver one
    * partition at a time (`toLocalIterator` — the frame is never fully
    * materialized). Use [[writeParts]] to skip the driver entirely. */
  def write(df: DataFrame, geomCol: String, path: String): Unit = {
    import scala.jdk.CollectionConverters._
    val schema = df.schema
    writeCollection(path,
      df.toLocalIterator().asScala.map(featureJson(_, schema, geomCol)))
  }

  /** Distributed sink: each partition writes its own complete
    * `part-NNNNN.json` FeatureCollection under `dir`, directly from the
    * executor. [[read]] over `dir` scans all parts (the stock JSON
    * datasource lists directories natively). */
  def writeParts(df: DataFrame, geomCol: String, dir: String): Unit = {
    val schema = df.schema
    Files.createDirectories(Paths.get(dir))
    df.rdd.mapPartitionsWithIndex { (p, it) =>
      var n = 0
      if (it.hasNext)
        writeCollection(f"$dir/part-$p%05d.json",
          it.map { r => n += 1; featureJson(r, schema, geomCol) })
      Iterator.single(n)
    }.count()
    ()
  }

  /** Scan a polygon FeatureCollection through the STOCK Spark JSON
    * datasource (`spark.read.json` + schema inference) — distributed,
    * no custom parser: features explode to rows, the exterior ring
    * rebuilds WKB via `st_polygon`, properties surface as columns.
    * Layers must be geometry-homogeneous (mixed Point/Polygon
    * coordinate nesting defeats JSON schema inference). */
  def read(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.geom.st
    val raw = spark.read.option("multiLine", true).json(path)
    val f = raw.select(explode(col("features")).as("f"))
    val ring = col("f.geometry.coordinates").getItem(0)
    f.select(
      st.polygon(
        transform(ring, c => c.getItem(0)),
        transform(ring, c => c.getItem(1))).as("geom"),
      col("f.properties.*"))
  }
}
