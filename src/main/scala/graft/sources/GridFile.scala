package graft.sources

import graft.io.{Hdf5, NetCdf, Zarr}

/** Per-file access behind [[GridSource]]: a header (axes + slab count,
  * the Parquet-footer analogue read at planning time) and ranged
  * per-time-slab data reads (the unit of IO an InputPartition decodes).
  *
  * Formats: the `.ggrd` dense container, classic NetCDF (CDF-1/2/5),
  * and NetCDF-4 (HDF5; contiguous or chunked+compressed — a pruned
  * slab's chunks are never read or inflated). The NetCDF convention
  * expected is the reference's own grid shape (`wrf_voronoi.py:115`,
  * delphine/regrid.py:208): one rank-3 data variable over dims
  * (time, y, x), with optional 1-D coordinate variables named like
  * their dimension; a time coordinate holds epoch micros, missing
  * coordinates default to slab index / cell-center offsets.
  */
private[sources] trait GridFile {
  def header: GridBinary.Header
  def readSlab(t: Int): Array[Double]
}

private[sources] object GridFile {

  val Extensions: Seq[String] = Seq(".ggrd", ".nc", ".nc4", ".h5")

  def open(path: String): GridFile =
    if (Zarr.isZarr(path)) new Zr(path)
    else if (path.endsWith(".ggrd")) new Ggrd(path)
    else {
      val f = new java.io.RandomAccessFile(path, "r")
      val head = new Array[Byte](8)
      try f.readFully(head) finally f.close()
      if (Hdf5.isHdf5(head)) new Nc4(path) else new NcClassic(path)
    }

  private final class Ggrd(path: String) extends GridFile {
    val header: GridBinary.Header = GridBinary.readHeader(path)
    def readSlab(t: Int): Array[Double] = GridBinary.readSlab(path, header, t)
  }

  private def axisOrDefault(coord: Option[Array[Double]], n: Int): Array[Double] =
    coord.getOrElse(Array.tabulate(n)(_ + 0.5))

  /** CF-convention time decode: a `units` attribute of the form
    * "<seconds|minutes|hours|days> since <ISO date[ time]>" converts
    * coordinate values to epoch micros (the reference gets this from
    * xarray's CF decoding, wrf_voronoi.py:115). Without a parseable
    * units attribute, values are taken as epoch micros directly;
    * without a time coordinate at all, slab index. */
  private val CfUnitsRe =
    ("""(?i)\s*(millisecond|millisec|msec|ms|microsecond|microsec|usec|us|""" +
      """second|sec|s|minute|min|hour|hr|h|day|d|week|wk)s?""" +
      """\s+since\s+(.+?)\s*""").r

  private def cfScaleMicros(unit: String): Long = unit.toLowerCase match {
    case "microsecond" | "microsec" | "usec" | "us" => 1L
    case "millisecond" | "millisec" | "msec" | "ms" => 1000L
    case "second" | "sec" | "s" => 1000000L
    case "minute" | "min" => 60L * 1000000L
    case "hour" | "hr" | "h" => 3600L * 1000000L
    case "day" | "d" => 86400L * 1000000L
    case "week" | "wk" => 7L * 86400L * 1000000L
  }

  /** Zone designator → offset micros. Real files carry "UTC", "Z",
    * "GMT", or udunits-style numeric offsets ("+0:00", "-06", "+0530")
    * after the epoch; None for anything else (the caller raises —
    * a matched CF units attribute must never silently misparse). */
  private val NumOffRe = """([+-])(\d{1,2})(?::?(\d{2}))?""".r
  private def zoneOffsetMicros(z: String): Option[Long] = z match {
    case _ if z.equalsIgnoreCase("Z") || z.equalsIgnoreCase("UTC") ||
      z.equalsIgnoreCase("GMT") => Some(0L)
    case NumOffRe(sign, hh, mm) =>
      val mmv = Option(mm).map(_.toInt).getOrElse(0)
      val mag = (hh.toInt * 3600L + mmv * 60L) * 1000000L
      Some(if (sign == "-") -mag else mag)
    case _ => None
  }

  /** Tokenize a CF/udunits epoch — <date> [<time>] [<zone>] — into
    * (date, "H:m[:s]" base, fractional-second micros, zone-offset
    * micros). A trailing zone must never masquerade as (or mangle)
    * the date/time; the ISO 'T' separator only counts BETWEEN digits
    * (a bare replace would shred the 'T' inside a "UTC" zone token);
    * an ISO-attached trailing Z ("…T00:00:00Z") detaches after that. */
  private def tokenizeEpoch(s: String): Option[(String, String, Long, Long)] = {
    val norm = s.trim.replaceAll("(?<=\\d)[Tt](?=\\d)", " ") match {
      case t if t.length > 1 && (t.last == 'Z' || t.last == 'z') &&
        t(t.length - 2).isDigit => t.dropRight(1) + " Z"
      case t => t
    }
    val toks = norm.split("\\s+").toList
    val (date, time, offMicros) = toks match {
      case d :: Nil => (d, "00:00:00", 0L)
      case d :: t :: Nil if t.contains(":") && !t.startsWith("+") &&
        !t.startsWith("-") => (d, t, 0L)
      case d :: z :: Nil =>
        zoneOffsetMicros(z) match {
          case Some(o) => (d, "00:00:00", o)
          case None => return None
        }
      case d :: t :: z :: Nil =>
        zoneOffsetMicros(z) match {
          case Some(o) => (d, t, o)
          case None => return None
        }
      case _ => return None
    }
    // fractional seconds of any width, handled outside the formatter
    time.indexOf('.') match {
      case -1 => Some((date, time, 0L, offMicros))
      case i =>
        val frac = time.substring(i + 1)
        if (frac.isEmpty || !frac.forall(_.isDigit)) None
        else Some((date, time.substring(0, i),
          math.round(s"0.$frac".toDouble * 1000000L), offMicros))
    }
  }

  private def parseEpochMicros(s: String): Option[Long] =
    tokenizeEpoch(s).flatMap { case (date, timeBase, fracMicros, offMicros) =>
      try {
        val fmt = java.time.format.DateTimeFormatter
          .ofPattern("yyyy-M-d H:m[:s]")
        Some(java.time.LocalDateTime.parse(s"$date $timeBase", fmt)
          .toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L +
          fracMicros - offMicros)
      } catch { case _: Exception => None }
    }

  /** Fixed-length CF model calendars (360_day / noleap / all_leap and
    * their numeric aliases): every year has the same month lengths, so
    * "<n> units since <epoch>" decodes with closed-form integer date
    * math — exactly the arithmetic cftime does for these calendars.
    * The decoded axis is micros since 1970-01-01 00:00:00 ON THE SAME
    * CALENDAR's timeline (uniform 86400-second days, no Gregorian
    * reinterpretation): differences, daily windows and resampling are
    * exact, which is what the engine's time axis is for. Julian is NOT
    * fixed-length and still raises. */
  private val FixedCalendarMonths: Map[String, Array[Int]] = {
    val noleap = Array(31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)
    val allLeap = noleap.clone(); allLeap(1) = 29
    Map(
      "noleap" -> noleap, "365_day" -> noleap,
      "all_leap" -> allLeap, "366_day" -> allLeap,
      "360_day" -> Array.fill(12)(30))
  }

  /** Shared calendar-date parse: ([-]yyyy, m, d, h, mi, s) from the
    * tokenized date/time, with a manual date parse — java.time would
    * reject the calendar-legal dates Gregorian lacks (Feb 29 every
    * year, Feb 30, Julian century leap days). Field-range checks only;
    * month-length validation is the caller's (calendar-specific). */
  private def parseCalendarFields(date: String,
      timeBase: String): Option[(Long, Int, Int, Int, Int, Int)] = {
    val neg = date.startsWith("-")
    val parts = (if (neg) date.substring(1) else date).split("-")
    val hms = timeBase.split(":")
    val shapeOk =
      parts.length == 3 &&
        parts.forall(p => p.nonEmpty && p.forall(_.isDigit)) &&
        hms.length >= 2 && hms.length <= 3 &&
        hms.forall(p => p.nonEmpty && p.forall(_.isDigit))
    if (!shapeOk) None
    // Try: digits-only tokens can still overflow the numeric parse
    // (a 25-digit "year" throws NumberFormatException from toLong) —
    // malformed epochs must flow to None so the caller's uniform
    // "unparseable epoch in CF time units" error fires, exactly like
    // the Gregorian path's try/catch.
    else scala.util.Try {
      val year = parts(0).toLong * (if (neg) -1 else 1)
      val month = parts(1).toInt
      val day = parts(2).toInt
      val (h, mi) = (hms(0).toInt, hms(1).toInt)
      val sec = if (hms.length == 3) hms(2).toInt else 0
      if (month < 1 || month > 12 || day < 1 || h > 23 || mi > 59 || sec > 60)
        None
      else Some((year, month, day, h, mi, sec))
    }.toOption.flatten
  }

  /** Epoch micros since 1970-01-01 on a fixed-length calendar, or None
    * on any field that doesn't parse or doesn't exist in the calendar
    * (2000-02-30 is a real 360_day date but must reject under noleap). */
  private def fixedCalendarEpochMicros(s: String, months: Array[Int]): Option[Long] =
    tokenizeEpoch(s).flatMap { case (date, timeBase, fracMicros, offMicros) =>
      parseCalendarFields(date, timeBase).flatMap {
        case (year, month, day, h, mi, sec) =>
          if (day > months(month - 1)) None
          else {
            val yearDays = months.sum.toLong
            val cum = months.scanLeft(0)(_ + _) // cum(m-1) = days before month m
            val days = (year - 1970L) * yearDays + cum(month - 1) + (day - 1)
            Some(days * 86400000000L + (h * 3600L + mi * 60L + sec) * 1000000L +
              fracMicros - offMicros)
          }
      }
    }

  /** Epoch micros since 1970-01-01 on the PROLEPTIC JULIAN calendar
    * (CF 'julian': leap every 4th year, century years included — so
    * 1900-02-29 exists). Closed-form like cftime's: whole years at
    * 365 days plus the count of Julian leap years in between. The
    * timeline is the Julian calendar's own (uniform 86400-second
    * days); it intentionally does NOT re-anchor onto the Gregorian
    * instant of the same nominal date. */
  private def julianEpochMicros(s: String): Option[Long] =
    tokenizeEpoch(s).flatMap { case (date, timeBase, fracMicros, offMicros) =>
      parseCalendarFields(date, timeBase).flatMap {
        case (year, month, day, h, mi, sec) =>
          val leap = Math.floorMod(year, 4L) == 0L
          val monthDays = Array(31, if (leap) 29 else 28, 31, 30, 31, 30,
            31, 31, 30, 31, 30, 31)
          if (day > monthDays(month - 1)) None
          else {
            val cum = monthDays.scanLeft(0)(_ + _)
            // leap years in [1970, year) — negative when year < 1970
            val leaps = Math.floorDiv(year - 1L, 4L) - 492L
            val days = (year - 1970L) * 365L + leaps + cum(month - 1) + (day - 1)
            Some(days * 86400000000L + (h * 3600L + mi * 60L + sec) * 1000000L +
              fracMicros - offMicros)
          }
      }
    }

  /** Calendars whose "<n> units since <epoch>" arithmetic IS proleptic
    * Gregorian. Fixed-length model calendars decode through
    * [[fixedCalendarEpochMicros]], julian through
    * [[julianEpochMicros]]; anything else ('none', or a misspelling)
    * raises rather than silently misdating the axis. */
  private val GregorianCalendars =
    Set("standard", "gregorian", "proleptic_gregorian", "")

  /** Opt-in for CF calendar 'none' (an axis whose epoch date has NO
    * calendar to interpret it with): when set to "raw", time values
    * decode as elapsed-unit micros anchored at 0 instead of raising.
    * Set `--conf spark.graft.cfCalendarNone=raw`: Spark confs reach
    * every EXECUTOR, where the per-partition readers re-open the
    * file. */
  private def cfCalendarNoneRaw: Boolean =
    Option(org.apache.spark.SparkEnv.get)
      .flatMap(_.conf.getOption("spark.graft.cfCalendarNone"))
      .exists(_.trim.equalsIgnoreCase("raw"))

  private def timesOrDefault(coord: Option[(Array[Double], Seq[(String, String)])],
      n: Int): Array[Long] =
    coord match {
      case None => Array.tabulate(n)(_.toLong)
      case Some((vals, attrs)) =>
        attrs.collectFirst { case ("units", u) => u } match {
          // ANY "<unit> since <epoch>" declares CF time and must
          // decode or raise — falling back to raw-micros would
          // silently misdate every row of a real climate file,
          // whether the unparseable part is the epoch OR the unit
          // word (months/years have no fixed length; udunits leap
          // semantics are out of scope)
          case Some(u) if u.toLowerCase.contains(" since ") =>
            val cal = attrs.collectFirst { case ("calendar", c) =>
              c.trim.toLowerCase }.getOrElse("standard")
            // CF calendar 'none' declares an axis with NO date
            // semantics (every step is elapsed time, the epoch date is
            // uninterpretable) — by default that still raises, but the
            // documented opt-in decodes it as a raw elapsed-time axis:
            // value x unit-scale micros, anchored at 0. cftime exposes
            // the same choice (units arithmetic without a calendar).
            val noneRaw = cal == "none" && cfCalendarNoneRaw
            require(noneRaw || GregorianCalendars(cal) || cal == "julian" ||
              FixedCalendarMonths.contains(cal),
              s"unsupported CF calendar '$cal' for time units '$u': " +
                "its arithmetic has no safe closed-form decode" +
                (if (cal == "none")
                  " (set spark.graft.cfCalendarNone=raw to decode a " +
                    "calendar-free axis as raw elapsed-unit micros)"
                else ""))
            u match {
              case CfUnitsRe(unit, epoch) =>
                val scale = cfScaleMicros(unit)
                if (noneRaw) vals.map(v => (v * scale).toLong)
                else {
                  val e = (FixedCalendarMonths.get(cal) match {
                    case Some(months) => fixedCalendarEpochMicros(epoch, months)
                    case None if cal == "julian" => julianEpochMicros(epoch)
                    case None => parseEpochMicros(epoch)
                  }).getOrElse(throw new IllegalArgumentException(
                    s"unparseable epoch in CF time units '$u' (calendar '$cal')"))
                  vals.map(v => e + (v * scale).toLong)
                }
              case _ => throw new IllegalArgumentException(
                s"unsupported CF time unit in '$u' " +
                  "(months/years are not fixed-length)")
            }
          case _ => vals.map(_.toLong) // raw epoch micros
        }
    }

  private final class NcClassic(path: String) extends GridFile {
    private val meta = NetCdf.readMeta(path)
    private val dataVm = meta.varsMeta.find(_.dimIds.length == 3)
      .getOrElse(throw new IllegalArgumentException(
        s"$path: no rank-3 (time, y, x) variable"))
    private val Seq(dt, dy, dx) = dataVm.dimIds
    private def coordVm(dimId: Int): Option[NetCdf.VarMeta] =
      meta.varsMeta.find(v =>
        v.name == meta.dims(dimId).name && v.dimIds == Seq(dimId))
    private def coord(dimId: Int): Option[Array[Double]] =
      coordVm(dimId).map(NetCdf.readVarDouble(path, meta, _))
    val header: GridBinary.Header = GridBinary.Header(
      meta.dims(dt).size, meta.dims(dy).size, meta.dims(dx).size,
      timesOrDefault(coordVm(dt).map(vm =>
        (NetCdf.readVarDouble(path, meta, vm), vm.attrs)), meta.dims(dt).size),
      axisOrDefault(coord(dy), meta.dims(dy).size),
      axisOrDefault(coord(dx), meta.dims(dx).size))
    def readSlab(t: Int): Array[Double] =
      // CF decode per slab — same semantics as NetCdf.read's default
      NetCdf.maskAndScaleSlab(
        NetCdf.readVarSlabDouble(path, meta, dataVm, t), dataVm.numAttrs,
        NetCdf.unsignedBitsOf(dataVm.ncType, dataVm.attrs))
  }

  private final class Nc4(path: String) extends GridFile {
    private val meta = Hdf5.readMeta(path)
    private val dataVm = meta.varsMeta.find(_.dimIds.length == 3)
      .getOrElse(throw new IllegalArgumentException(
        s"$path: no rank-3 (time, y, x) variable"))
    private val Seq(dt, dy, dx) = dataVm.dimIds
    private def coordVm(dimId: Int): Option[Hdf5.H5VarMeta] =
      meta.varsMeta.find(v =>
        v.name == meta.dims(dimId).name && v.dimIds == Seq(dimId))
    private def coord(dimId: Int): Option[Array[Double]] =
      coordVm(dimId).map(Hdf5.readVarDouble(path, _))
    val header: GridBinary.Header = GridBinary.Header(
      meta.dims(dt).size, meta.dims(dy).size, meta.dims(dx).size,
      timesOrDefault(coordVm(dt).map(vm =>
        (Hdf5.readVarDouble(path, vm), vm.attrs)), meta.dims(dt).size),
      axisOrDefault(coord(dy), meta.dims(dy).size),
      axisOrDefault(coord(dx), meta.dims(dx).size))
    def readSlab(t: Int): Array[Double] =
      // CF decode per slab — same semantics as NetCdf.read's default
      NetCdf.maskAndScaleSlab(
        Hdf5.readVarSlabDouble(path, dataVm, t), dataVm.numAttrs,
        NetCdf.unsignedBitsOf(dataVm.ncType, dataVm.attrs))
  }

  /** Zarr v2 store (a DIRECTORY with `.zgroup`): the same rank-3
    * (time, y, x) convention, dimension names from
    * `_ARRAY_DIMENSIONS`, 1-D coordinate arrays named like their
    * dimension. Slab reads gather the chunks intersecting one time
    * row — chunks of pruned time rows are never opened. */
  private final class Zr(dir: String) extends GridFile {
    private val m = Zarr.meta(dir)
    private val dataAm = m.arrays.find(_.shape.length == 3)
      .getOrElse(throw new IllegalArgumentException(
        s"$dir: no rank-3 (time, y, x) array"))
    private val Seq(tName, yName, xName) = dataAm.dimNames
    private val Seq(nt, ny, nx) = dataAm.shape
    private def coord(name: String, n: Int): Option[Zarr.ArrayMeta] =
      m.arrays.find(a => a.name == name && a.shape == Seq(n))
    private def coordData(name: String, n: Int): Option[Array[Double]] =
      coord(name, n).map(Zarr.assembleDouble(dir, _))
    val header: GridBinary.Header = GridBinary.Header(
      nt, ny, nx,
      timesOrDefault(coord(tName, nt).map(am =>
        (Zarr.assembleDouble(dir, am), am.attrs)), nt),
      axisOrDefault(coordData(yName, ny), ny),
      axisOrDefault(coordData(xName, nx), nx))

    def readSlab(t: Int): Array[Double] = {
      val Seq(c0, c1, c2) = dataAm.chunks
      val Seq(_, nCy, nCx) = dataAm.nChunks
      val tin = t % c0
      val out = new Array[Double](ny * nx)
      for (cy <- 0 until nCy; cx <- 0 until nCx) {
        val ch = Zarr.readChunkDouble(dir, dataAm, Seq(t / c0, cy, cx))
        val liveY = math.min(c1, ny - cy * c1)
        val liveX = math.min(c2, nx - cx * c2)
        var yy = 0
        while (yy < liveY) {
          System.arraycopy(ch, (tin * c1 + yy) * c2,
            out, (cy * c1 + yy) * nx + cx * c2, liveX)
          yy += 1
        }
      }
      // CF decode per slab — same semantics as the NetCDF containers
      // (a packed zarr store must not read RAW through the grid scan)
      NetCdf.maskAndScaleSlab(out, dataAm.numAttrs,
        NetCdf.unsignedBitsOf(dataAm.ncType, dataAm.attrs))
    }
  }
}
