package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.geom.{st, Wkb}
import graft.io.Shapefile

/** Shapefile IO: self-roundtrip of every supported attribute type and
  * geometry shape, plus reading the reference repo's real
  * geopandas-written artifact (an interop check against a file our own
  * writer did not produce). */
class ShapefileSpec extends SparkSpec {
  import spark.implicits._

  test("roundtrip: long/double/string attributes and polygon-with-hole") {
    val outer = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))"
    val df = Seq(
      (1L, 2.5, "alpha", Wkb.write(Wkb.readWkt(outer))),
      (2L, -3.75, "beta gamma", Wkb.write(Wkb.box(1, 1, 3, 2)))
    ).toDF("id", "score", "label", "geom")
    val base = Files.createTempDirectory("shp_spec").resolve("layer").toString
    Shapefile.write(df, "geom", base)
    val back = Shapefile.read(spark, base)
      .select($"id", $"score", $"label", st.area($"geom").as("area"))
      .as[(Long, Double, String, Double)].collect().sortBy(_._1)
    assert(back(0) == ((1L, 2.5, "alpha", 96.0))) // 100 outer − 4 hole
    assert(back(1) == ((2L, -3.75, "beta gamma", 2.0)))
  }

  test("single-file write streams a multi-partition frame partition-by-partition") {
    // `write` relays toLocalIterator — one partition in driver memory
    // at a time, headers back-patched after the pass; the result must
    // be a byte-valid layer regardless of partition count.
    val df = spark.range(300).select(
      col("id"),
      (col("id") * 1.5).as("score"),
      st.makeBox(col("id") % 20, col("id") % 11,
        col("id") % 20 + 2.0, col("id") % 11 + 1.0).as("geom"))
      .repartition(5)
    val base = Files.createTempDirectory("shp_stream").resolve("layer").toString
    Shapefile.write(df, "geom", base)
    val back = Shapefile.read(spark, base)
    val got = back.select($"id", $"score", st.area($"geom").as("area"))
      .as[(Long, Double, Double)].collect().toSet
    assert(got == (0L until 300L).map(i => (i, i * 1.5, 2.0)).toSet)
    // the back-patched bbox covers the data extent exactly
    val env = back.agg(min(st.xmin($"geom")), max(st.xmax($"geom"))).head()
    assert(env.getDouble(0) == 0.0 && env.getDouble(1) == 21.0)
  }

  test("writeParts/readParts: multi-partition roundtrip, no driver materialization") {
    val df = spark.range(500).select(
      col("id"),
      (col("id") * 0.5).as("score"),
      concat(lit("row-"), col("id")).as("label"),
      st.makeBox(col("id") % 25, col("id") % 17,
        col("id") % 25 + 2.0, col("id") % 17 + 1.0).as("geom"))
      .repartition(7)
    val dir = Files.createTempDirectory("shp_parts").toString
    Shapefile.writeParts(df, "geom", dir)
    val parts = Files.list(java.nio.file.Paths.get(dir)).iterator()
    val shpParts = Iterator.continually(parts)
      .takeWhile(_.hasNext).map(_.next().toString)
      .count(_.endsWith(".shp"))
    assert(shpParts >= 2, s"expected multiple part layers, got $shpParts")
    val back = Shapefile.readParts(spark, dir)
    assert(back.rdd.getNumPartitions == shpParts) // one scan task per part
    val got = back
      .select($"id", $"score", $"label", st.area($"geom").as("area"))
      .as[(Long, Double, String, Double)].collect().toSet
    val want = (0L until 500L).map(i =>
      (i, i * 0.5, s"row-$i", 2.0)).toSet
    assert(got == want)
  }

  test("reads the reference's geopandas-written Brazil Voronoi layer") {
    // ref artifact: 33,286 Voronoi polygons with (west_east, south_nort,
    // XLONG, XLAT, T2) N-type fields in EPSG:4326 (SURVEY §0)
    val tmp = Files.createTempDirectory("ref_shp")
    val unzip = Seq("unzip", "-q",
      "/root/reference/wrf_voronoi_brasil_Tm.zip", "-d", tmp.toString)
    // runs wherever the reference checkout is present, canceled elsewhere
    assume(Files.exists(Paths.get(unzip(2))), s"${unzip(2)} is absent")
    val proc = new ProcessBuilder(unzip: _*).inheritIO().start()
    assert(proc.waitFor() == 0)
    val base = tmp.resolve("wrf_voronoi_brasil_Tm/wrf_voronoi_brasil_Tm").toString
    val df = Shapefile.read(spark, base).cache()
    assert(df.count() == 33286)
    assert(df.columns.toSeq ==
      Seq("west_east", "south_nort", "XLONG", "XLAT", "T2", "geom"))
    val r = df.agg(
      min("west_east"), max("west_east"),
      sum(when(st.geometryType($"geom") === "Polygon", 1).otherwise(0)),
      min(st.xmin($"geom")), max(st.xmax($"geom"))).head()
    assert(r.getLong(0) >= 0 && r.getLong(1) > r.getLong(0))
    assert(r.getLong(2) == 33286) // every record parsed as a polygon
    // Brazil domain longitudes
    assert(r.getDouble(3) > -90 && r.getDouble(4) < -20)
    // every Voronoi cell contains its own seed point (XLONG, XLAT)
    val inside = df.filter(st.contains($"geom", st.point($"XLONG", $"XLAT")))
      .count()
    assert(inside > 33286 * 0.99) // boundary-clipped cells may exclude seeds
    df.unpersist()
  }
}
