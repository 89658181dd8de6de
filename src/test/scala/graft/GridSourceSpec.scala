package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.GridBinary

/** DataSource V2 grid scan: long-form expansion, column pruning, filter
  * pushdown and time-slab partition pruning. */
class GridSourceSpec extends SparkSpec {
  import spark.implicits._

  private lazy val path: String = {
    val p = Files.createTempDirectory("ggrd").resolve("t2.ggrd").toString
    GridBinary.write(p,
      times = Array.tabulate(24)(t => t * 3600L * 1000000L),
      lats = Array.tabulate(10)(_ * 0.5),
      lons = Array.tabulate(20)(_ * 0.25),
      value = (t, y, x) => ((t * 31 + y * 7 + x) % 100) / 4.0)
    p
  }

  private def grid = spark.read.format("graft.sources.GridSource").load(path)

  test("expands the dense grid to long-form rows with axis coordinates") {
    assert(grid.count() == 24 * 10 * 20)
    val r = grid.filter($"y" === 3 && $"x" === 4 && $"time" === lit("1970-01-01 02:00:00").cast("timestamp"))
      .select($"lat", $"lon", $"value").head()
    assert(r.getDouble(0) == 1.5)
    assert(r.getDouble(1) == 1.0)
    assert(r.getDouble(2) == ((2 * 31 + 3 * 7 + 4) % 100) / 4.0)
  }

  test("y/x range filters are pushed into the scan") {
    val q = grid.filter($"y" >= 2 && $"y" <= 4 && $"x" < 5)
    val desc = q.queryExecution.executedPlan.toString
    assert(desc.contains("PushedFilters=[") && desc.contains("GreaterThanOrEqual(y,2)"),
      s"pushdown missing in plan:\n$desc")
    assert(q.count() == 24 * 3 * 5)
    // the whole-column aggregate still sees correct pruned data
    assert(q.agg(max("x")).head().getInt(0) == 4)
  }

  test("time predicates prune whole input partitions (IO slabs)") {
    val full = grid.groupBy("time").count()
    assert(full.count() == 24)
    val sliced = grid.filter($"time" >= lit("1970-01-01 18:00:00").cast("timestamp"))
    // partition count of the scan RDD reflects slab pruning: 6 of 24
    assert(sliced.rdd.getNumPartitions == 6)
    assert(sliced.count() == 6 * 10 * 20)
  }

  test("column pruning: a projection scan reports only required columns") {
    val q = grid.select("value")
    val desc = q.queryExecution.executedPlan.toString
    assert(desc.contains("ReadSchema=value"), s"column pruning missing:\n$desc")
    assert(q.agg(sum("value")).head().getDouble(0) > 0)
  }

  test("multi-file directory: one InputPartition per (file, slab), pruned per file") {
    val dir = Files.createTempDirectory("ggrd_multi")
    for (k <- 0 until 4)
      GridBinary.write(dir.resolve(f"slab-$k%02d.ggrd").toString,
        times = Array.tabulate(6)(i => (k * 6 + i) * 3600L * 1000000L),
        lats = Array.tabulate(10)(_ * 0.5),
        lons = Array.tabulate(20)(_ * 0.25),
        value = (tl, y, x) => (((k * 6 + tl) * 31 + y * 7 + x) % 100) / 4.0)
    val multi = spark.read.format("graft.sources.GridSource").load(dir.toString)
    // same logical dataset as the single-file fixture
    assert(multi.rdd.getNumPartitions == 24) // 4 files × 6 slabs
    assert(multi.count() == 24 * 10 * 20)
    val a = multi.select("time", "y", "x", "value").as[(java.sql.Timestamp, Int, Int, Double)]
      .collect().toSet
    val b = grid.select("time", "y", "x", "value").as[(java.sql.Timestamp, Int, Int, Double)]
      .collect().toSet
    assert(a == b)
    // a time predicate prunes file 0 and 1 wholly, file 2 partially
    val sliced = multi.filter($"time" >= lit("1970-01-01 15:00:00").cast("timestamp"))
    assert(sliced.rdd.getNumPartitions == 9) // slabs 15..23
    assert(sliced.count() == 9 * 10 * 20)
  }

  test("scans classic NetCDF and chunked NetCDF-4 identically to .ggrd") {
    import graft.io.{Hdf5, NetCdf}
    val dir = Files.createTempDirectory("nc_grid")
    val dims = Seq(NetCdf.Dim("time", 24), NetCdf.Dim("y", 10), NetCdf.Dim("x", 20))
    val vars = Seq(
      // time coordinate carries epoch micros (INT64 in the classic
      // file, so exercise CDF-5; DOUBLE works in both containers)
      NetCdf.Var("time", Seq(0), NetCdf.NcDouble, Nil,
        Array.tabulate(24)(t => (t * 3600L * 1000000L).toDouble)),
      NetCdf.Var("y", Seq(1), NetCdf.NcDouble, Nil, Array.tabulate(10)(_ * 0.5)),
      NetCdf.Var("x", Seq(2), NetCdf.NcDouble, Nil, Array.tabulate(20)(_ * 0.25)),
      NetCdf.Var("t2", Seq(0, 1, 2), NetCdf.NcDouble, Seq("units" -> "K"),
        Array.tabulate(24 * 10 * 20) { i =>
          val t = i / 200; val y = i % 200 / 20; val x = i % 20
          ((t * 31 + y * 7 + x) % 100) / 4.0
        }))
    val ncPath = dir.resolve("t2.nc").toString
    NetCdf.write(ncPath, dims, Nil, vars)
    val h5Path = dir.resolve("t2.h5").toString
    Hdf5.write(h5Path, dims, Nil, vars, chunkDeflate = true)

    val want = grid.select("time", "y", "x", "lat", "lon", "value")
      .as[(java.sql.Timestamp, Int, Int, Double, Double, Double)].collect().toSet
    for (p <- Seq(ncPath, h5Path)) {
      val nc = spark.read.format("graft.sources.GridSource").load(p)
      val got = nc.select("time", "y", "x", "lat", "lon", "value")
        .as[(java.sql.Timestamp, Int, Int, Double, Double, Double)].collect().toSet
      assert(got == want, s"$p diverges from the .ggrd scan")
      // slab pruning works identically: time predicate drops partitions
      val sliced = nc.filter($"time" >= lit("1970-01-01 18:00:00").cast("timestamp"))
      assert(sliced.rdd.getNumPartitions == 6, s"$p: slab pruning broken")
      // pushdown reaches the scan
      val desc = nc.filter($"y" >= 2 && $"y" <= 4).queryExecution
        .executedPlan.toString
      assert(desc.contains("GreaterThanOrEqual(y,2)"), s"$p: pushdown missing")
    }
  }

  test("scans a chunked Zarr v2 store identically to .ggrd") {
    import graft.io.{NetCdf, Zarr}
    val dir = Files.createTempDirectory("zarr_grid")
    val dims = Seq(NetCdf.Dim("time", 24), NetCdf.Dim("y", 10), NetCdf.Dim("x", 20))
    val vars = Seq(
      NetCdf.Var("time", Seq(0), NetCdf.NcDouble, Nil,
        Array.tabulate(24)(t => (t * 3600L * 1000000L).toDouble)),
      NetCdf.Var("y", Seq(1), NetCdf.NcDouble, Nil, Array.tabulate(10)(_ * 0.5)),
      NetCdf.Var("x", Seq(2), NetCdf.NcDouble, Nil, Array.tabulate(20)(_ * 0.25)),
      NetCdf.Var("t2", Seq(0, 1, 2), NetCdf.NcDouble, Seq("units" -> "K"),
        Array.tabulate(24 * 10 * 20) { i =>
          val t = i / 200; val y = i % 200 / 20; val x = i % 20
          ((t * 31 + y * 7 + x) % 100) / 4.0
        }))
    val zPath = dir.resolve("t2.zarr").toString
    // chunk0 = 5: slabs straddle chunk boundaries, edge chunk padded
    Zarr.write(zPath, dims, Nil, vars, compress = true, chunk0 = 5)

    val want = grid.select("time", "y", "x", "lat", "lon", "value")
      .as[(java.sql.Timestamp, Int, Int, Double, Double, Double)].collect().toSet
    val z = spark.read.format("graft.sources.GridSource").load(zPath)
    val got = z.select("time", "y", "x", "lat", "lon", "value")
      .as[(java.sql.Timestamp, Int, Int, Double, Double, Double)].collect().toSet
    assert(got == want, "zarr scan diverges from the .ggrd scan")
    val sliced = z.filter($"time" >= lit("1970-01-01 18:00:00").cast("timestamp"))
    assert(sliced.rdd.getNumPartitions == 6, "zarr slab pruning broken")
    val desc = z.filter($"y" >= 2 && $"y" <= 4).queryExecution
      .executedPlan.toString
    assert(desc.contains("GreaterThanOrEqual(y,2)"), "zarr pushdown missing")

    // same scan over the ZARR V3 form of the store (zarr.json, c/-keys,
    // bytes+zstd): identical rows, identical slab pruning
    val z3Path = dir.resolve("t2_v3.zarr").toString
    Zarr.write3(z3Path, dims, Nil, vars, chunk0 = 5)
    val z3 = spark.read.format("graft.sources.GridSource").load(z3Path)
    val got3 = z3.select("time", "y", "x", "lat", "lon", "value")
      .as[(java.sql.Timestamp, Int, Int, Double, Double, Double)].collect().toSet
    assert(got3 == want, "zarr v3 scan diverges from the .ggrd scan")
    val sliced3 = z3.filter($"time" >= lit("1970-01-01 18:00:00").cast("timestamp"))
    assert(sliced3.rdd.getNumPartitions == 6, "zarr v3 slab pruning broken")

    // ...and the SHARDED v3 form (sharding_indexed: 10-row shard files
    // of 5-row inner chunks behind a crc32c'd offset index): identical
    // rows, and slab pruning still sees the INNER 5-row chunk grid —
    // the scan plans at the data's real granularity, not the
    // stored-file grid
    val zsPath = dir.resolve("t2_v3s.zarr").toString
    Zarr.write3(zsPath, dims, Nil, vars, chunk0 = 10, shardInner0 = 5)
    val zs = spark.read.format("graft.sources.GridSource").load(zsPath)
    val gotS = zs.select("time", "y", "x", "lat", "lon", "value")
      .as[(java.sql.Timestamp, Int, Int, Double, Double, Double)].collect().toSet
    assert(gotS == want, "sharded zarr v3 scan diverges from the .ggrd scan")
    val slicedS = zs.filter($"time" >= lit("1970-01-01 18:00:00").cast("timestamp"))
    assert(slicedS.rdd.getNumPartitions == 6, "sharded zarr v3 slab pruning broken")
  }

  test("CF time units decode: 'hours since <epoch>' coordinates") {
    import graft.io.NetCdf
    val dir = Files.createTempDirectory("nc_cf")
    val p = dir.resolve("cf.nc").toString
    NetCdf.write(p,
      Seq(NetCdf.Dim("time", 4), NetCdf.Dim("y", 2), NetCdf.Dim("x", 3)),
      Nil,
      Seq(
        NetCdf.Var("time", Seq(0), NetCdf.NcDouble,
          Seq("units" -> "hours since 2024-03-01 06:00:00"),
          Array(0.0, 1.0, 2.5, 24.0)),
        NetCdf.Var("t2", Seq(0, 1, 2), NetCdf.NcFloat, Nil,
          Array.tabulate(24)(_.toFloat))))
    val g = spark.read.format("graft.sources.GridSource").load(p)
    val times = g.select($"time").distinct().orderBy("time")
      .as[java.sql.Timestamp].collect().map(_.toString)
    assert(times.toSeq == Seq(
      "2024-03-01 06:00:00.0", "2024-03-01 07:00:00.0",
      "2024-03-01 08:30:00.0", "2024-03-02 06:00:00.0"))
    // slab pruning keyed on the decoded times
    val sliced = g.filter($"time" >= lit("2024-03-01 08:00:00").cast("timestamp"))
    assert(sliced.rdd.getNumPartitions == 2)
  }

  test("CF time epochs with zone designators and fractions decode; bad ones raise") {
    import graft.io.NetCdf
    val dir = Files.createTempDirectory("nc_cf_zones")
    def write(name: String, timeAttrs: Seq[(String, String)]): String = {
      val p = dir.resolve(name).toString
      NetCdf.write(p,
        Seq(NetCdf.Dim("time", 2), NetCdf.Dim("y", 1), NetCdf.Dim("x", 2)),
        Nil,
        Seq(
          NetCdf.Var("time", Seq(0), NetCdf.NcDouble, timeAttrs,
            Array(0.0, 1.0)),
          NetCdf.Var("t2", Seq(0, 1, 2), NetCdf.NcFloat, Nil,
            Array.tabulate(4)(_.toFloat))))
      p
    }
    def firstTime(p: String): String =
      spark.read.format("graft.sources.GridSource").load(p)
        .select($"time").orderBy("time").as[java.sql.Timestamp]
        .head().toString
    // "UTC" suffix (the CMIP/HadUK spelling) must decode, not silently
    // fall back to raw-epoch-micros
    assert(firstTime(write("utc.nc",
      Seq("units" -> "days since 1850-1-1 00:00:00 UTC")))
      == "1850-01-01 00:00:00.0")
    // ISO-attached Z
    assert(firstTime(write("isoz.nc",
      Seq("units" -> "hours since 1990-01-01T12:00:00Z")))
      == "1990-01-01 12:00:00.0")
    // numeric offset: +02:00 means the epoch is 2h EAST, i.e. 10:00 UTC
    assert(firstTime(write("off.nc",
      Seq("units" -> "hours since 2000-06-01 12:00:00 +02:00")))
      == "2000-06-01 10:00:00.0")
    // fractional seconds of non-3 width
    assert(firstTime(write("frac.nc",
      Seq("units" -> "seconds since 2024-01-01 00:00:00.5")))
      == "2024-01-01 00:00:00.5")
    // an unknown calendar spelling: loud raise, never a silently
    // misdated axis ('none' is a real CF value with no time semantics)
    val eCal = intercept[Exception] { firstTime(write("cal.nc",
      Seq("units" -> "days since 1850-01-01", "calendar" -> "none"))) }
    assert(eCal.getMessage.contains("none"))
    // matched CF units with a garbage epoch: loud raise, no raw fallback
    val eBad = intercept[Exception] { firstTime(write("bad.nc",
      Seq("units" -> "days since yesterday morning"))) }
    assert(eBad.getMessage.toLowerCase.contains("unparseable"))
    // gregorian spelling passes the calendar gate
    assert(firstTime(write("greg.nc",
      Seq("units" -> "days since 1850-01-01", "calendar" -> "proleptic_gregorian")))
      == "1850-01-01 00:00:00.0")
    // sub-second unit words decode (xarray/udunits support them) —
    // previously they fell through to raw-epoch-micros, 1000x off
    assert(firstTime(write("ms.nc",
      Seq("units" -> "milliseconds since 2000-01-01")))
      == "2000-01-01 00:00:00.0")
    // calendar-length units have no fixed span: loud raise, not a
    // silent raw fallback
    val eMon = intercept[Exception] { firstTime(write("mon.nc",
      Seq("units" -> "months since 2000-01-01"))) }
    assert(eMon.getMessage.contains("months"))
  }

  test("fixed-length CF model calendars (360_day/noleap/all_leap) decode") {
    import graft.io.NetCdf
    val dir = Files.createTempDirectory("nc_cf_cal")
    def write(name: String, timeVals: Array[Double],
        timeAttrs: Seq[(String, String)]): String = {
      val p = dir.resolve(name).toString
      NetCdf.write(p,
        Seq(NetCdf.Dim("time", timeVals.length), NetCdf.Dim("y", 1),
          NetCdf.Dim("x", 2)),
        Nil,
        Seq(
          NetCdf.Var("time", Seq(0), NetCdf.NcDouble, timeAttrs, timeVals),
          NetCdf.Var("t2", Seq(0, 1, 2), NetCdf.NcFloat, Nil,
            Array.tabulate(timeVals.length * 2)(_.toFloat))))
      p
    }
    def timesMs(p: String): Seq[Long] =
      spark.read.format("graft.sources.GridSource").load(p)
        .select($"time").distinct().orderBy("time").as[java.sql.Timestamp]
        .collect().toSeq.map(_.getTime)
    val day = 86400000L // uniform-day timeline: every day 86400 s
    // 360_day: the epoch 2000-02-30 EXISTS (every month has 30 days)
    // and sits (2000-1970)*360 + 30 + 29 = 10859 days after the
    // calendar's 1970-01-01 origin — hand-computed, month-end edge
    assert(timesMs(write("c360.nc", Array(0.0, 1.0),
      Seq("units" -> "days since 2000-02-30", "calendar" -> "360_day")))
      == Seq(10859L * day, 10860L * day))
    // noleap: 2000 has NO Feb 29 — epoch 2000-03-01 is
    // 30*365 + 31 + 28 = 11009 days from origin; a whole model year
    // later is exactly +365 uniform days
    assert(timesMs(write("cnoleap.nc", Array(0.0, 365.0),
      Seq("units" -> "days since 2000-03-01", "calendar" -> "noleap")))
      == Seq(11009L * day, 11374L * day))
    // all_leap: EVERY Feb has 29 days — epoch 2000-02-29 is
    // 30*366 + 31 + 28 = 11039 days from origin; aliases decode too
    assert(timesMs(write("callleap.nc", Array(0.0, 0.5),
      Seq("units" -> "days since 2000-02-29", "calendar" -> "all_leap")))
      == Seq(11039L * day, 11039L * day + day / 2))
    assert(timesMs(write("c365.nc", Array(0.0),
      Seq("units" -> "hours since 2000-03-01 06:00:00",
        "calendar" -> "365_day")))
      == Seq(11009L * day + 6L * 3600000L))
    // zone designators ride through the shared epoch tokenizer
    assert(timesMs(write("c360z.nc", Array(0.0),
      Seq("units" -> "days since 2000-02-30 12:00:00 +02:00",
        "calendar" -> "360_day")))
      == Seq(10859L * day + 10L * 3600000L))
    // julian: leap EVERY 4th year including centuries — 1900-02-29
    // exists (it doesn't in Gregorian), and hand-computed day counts
    // pin the arithmetic: 2000-02-29 sits 30*365 + 7 leap days
    // (1972..1996 multiples of 4 before 2000... the Julian count in
    // [1970, 2000) is 7) + 31 + 28 = 11016 days after the calendar's
    // 1970-01-01; 1900-02-28 sits -70*365 - 18 + 58 = -25510.
    assert(timesMs(write("cjul.nc", Array(0.0, 1.0),
      Seq("units" -> "days since 2000-02-29", "calendar" -> "julian")))
      == Seq(11016L * day, 11017L * day))
    assert(timesMs(write("cjul1900.nc", Array(0.0, 1.0),
      Seq("units" -> "days since 1900-02-28", "calendar" -> "julian")))
      == Seq(-25510L * day, -25509L * day))
    // ...and 1900-02-29 is a VALID julian epoch (leap century)
    assert(timesMs(write("cjul29.nc", Array(0.0),
      Seq("units" -> "days since 1900-02-29", "calendar" -> "julian")))
      == Seq(-25509L * day))
    // dates that don't exist in the DECLARED calendar reject loudly:
    // Feb 29 under noleap, Feb 30 under all_leap, Apr 31 anywhere,
    // Feb 29 of a julian NON-leap year
    // calendar 'none' raises by default (covered above) but decodes as
    // a RAW ELAPSED axis under the documented opt-in: value x unit
    // scale, anchored at 0 — the epoch date has no calendar to
    // interpret it with, so it is deliberately ignored
    val sparkConf = org.apache.spark.SparkEnv.get.conf
    sparkConf.set("spark.graft.cfCalendarNone", "raw")
    try {
      assert(timesMs(write("cnone.nc", Array(0.0, 1.5),
        Seq("units" -> "days since 1850-01-01", "calendar" -> "none")))
        == Seq(0L, (1.5 * day).toLong))
    } finally sparkConf.remove("spark.graft.cfCalendarNone")
    // ...and a digits-only year too long for Long must flow to the
    // SAME clean reject, not a raw NumberFormatException from toLong
    for ((ep, cal) <- Seq(("2000-02-29", "noleap"), ("2000-02-30", "all_leap"),
      ("2000-04-31", "360_day"), ("1901-02-29", "julian"),
      ("1234567890123456789012345-01-01", "noleap"),
      ("2000-01-01 00:00:1234567890123", "julian"))) {
      val e = intercept[Exception] { timesMs(write(s"bad_${cal}_$ep.nc",
        Array(0.0), Seq("units" -> s"days since $ep", "calendar" -> cal))) }
      assert(e.getMessage.contains("unparseable"), s"$ep/$cal: ${e.getMessage}")
    }
  }

  test("packed zarr store decodes through the grid scan (CF S6)") {
    import graft.io.{NetCdf, Zarr}
    val dir = Files.createTempDirectory("zarr_packed").resolve("g.zarr").toString
    val dims = Seq(NetCdf.Dim("time", 2), NetCdf.Dim("y", 1), NetCdf.Dim("x", 2))
    val raw = Array(100, 200, -1, 400) // -1 = fill sentinel
    Zarr.write(dir, dims, Nil, Seq(
      NetCdf.Var("t2", Seq(0, 1, 2), NetCdf.NcInt, Nil, raw,
        Seq("scale_factor" -> 0.01, "add_offset" -> 5.0,
          "_FillValue" -> -1.0))), compress = false)
    val g = spark.read.format("graft.sources.GridSource").load(dir)
    val vals = g.orderBy("time", "y", "x").select("value")
      .as[Double].collect()
    assert(vals(0) == 6.0 && vals(1) == 7.0 && vals(2).isNaN && vals(3) == 9.0)
  }

  test("feeds the standard pipeline: daily stats over the grid source") {
    import graft.grid.GridConfig
    val stats = graft.pipelines.Pipelines.temporalDailyStats(
      grid, GridConfig("x", "y", "lon", "lat", "time", "value"))
    assert(stats.count() == 200) // one row per cell, single day
    assert(stats.agg(max("n_days")).head().getLong(0) == 1)
  }
}
