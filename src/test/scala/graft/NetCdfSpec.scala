package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.io.NetCdf
import graft.io.NetCdf._

class NetCdfSpec extends AnyFunSuite {

  private def tmp(name: String): String =
    Files.createTempDirectory("nc_spec").resolve(name).toString

  test("roundtrip: dims, global + variable attrs, double/float/int vars") {
    val path = tmp("grid.nc")
    NetCdf.write(path,
      dims = Seq(Dim("y", 3), Dim("x", 4)),
      globalAttrs = Seq("title" -> "t", "history" -> "graft"),
      vars = Seq(
        Var("lat", Seq(0), NcDouble, Seq("units" -> "degrees_north"),
          Array(0.5, 1.5, 2.5)),
        Var("mask", Seq(0, 1), NcInt, Nil, Array.tabulate(12)(identity)),
        Var("t2", Seq(0, 1), NcFloat, Seq("units" -> "K"),
          Array.tabulate(12)(_ * 0.25f))))
    val nc = NetCdf.read(path)
    assert(nc.dims == Seq(Dim("y", 3), Dim("x", 4)))
    assert(nc.globalAttrs == Seq("title" -> "t", "history" -> "graft"))
    assert(nc.variable("lat").data.asInstanceOf[Array[Double]].toSeq ==
      Seq(0.5, 1.5, 2.5))
    assert(nc.variable("lat").attrs == Seq("units" -> "degrees_north"))
    assert(nc.variable("mask").data.asInstanceOf[Array[Int]].toSeq ==
      (0 until 12))
    assert(nc.variable("t2").data.asInstanceOf[Array[Float]].toSeq ==
      (0 until 12).map(_ * 0.25f))
  }

  test("header bytes follow the CDF-1 spec") {
    val path = tmp("hdr.nc")
    NetCdf.write(path, Seq(Dim("x", 2)), Nil,
      Seq(Var("v", Seq(0), NcDouble, Nil, Array(1.0, 2.0))))
    val b = Files.readAllBytes(java.nio.file.Paths.get(path))
    assert(b(0) == 'C' && b(1) == 'D' && b(2) == 'F' && b(3) == 1)
    // numrecs 0, then NC_DIMENSION tag 0x0A with one entry
    assert(java.nio.ByteBuffer.wrap(b, 4, 4).getInt == 0)
    assert(java.nio.ByteBuffer.wrap(b, 8, 4).getInt == 0x0A)
    assert(java.nio.ByteBuffer.wrap(b, 12, 4).getInt == 1)
  }

  test("a zero-size dim after a large dim reads as an empty variable") {
    // dims [900, 0] need 0 bytes; the element-count guard must
    // short-circuit on the zero dim instead of rejecting the partial
    // product 900 > what fits in the header-only file (ADVICE r11)
    val path = tmp("zdim.nc")
    NetCdf.write(path, Seq(Dim("big", 900), Dim("none", 0)), Nil,
      Seq(Var("v", Seq(0, 1), NcDouble, Nil, Array.emptyDoubleArray)))
    val nc = NetCdf.read(path)
    assert(nc.variable("v").data.asInstanceOf[Array[Double]].isEmpty)
  }

  test("zero-element variable with an out-of-file begin is rejected") {
    // the zero-dim short-circuit must not skip the begin-range guard:
    // a hostile header can pair a 0-element shape with a begin beyond
    // the file, and the reader trusts begin once the header passes
    val path = tmp("zdim_hostile.nc")
    NetCdf.write(path, Seq(Dim("big", 900), Dim("none", 0)), Nil,
      Seq(Var("v", Seq(0, 1), NcDouble, Nil, Array.emptyDoubleArray)))
    val b = Files.readAllBytes(java.nio.file.Paths.get(path))
    // zero data bytes -> the file is header-only and the var's begin
    // offset (CDF-1: 4 bytes) is the final header field = last 4 bytes
    assert(java.nio.ByteBuffer.wrap(b, b.length - 4, 4).getInt == b.length,
      "header layout drifted — begin is no longer the last field")
    java.nio.ByteBuffer.wrap(b, b.length - 4, 4).putInt(0x7ffffff0)
    val hostile = tmp("zdim_hostile2.nc")
    Files.write(java.nio.file.Paths.get(hostile), b)
    val e = intercept[IllegalArgumentException](NetCdf.read(hostile))
    assert(e.getMessage.contains("begin"), e.getMessage)
  }

  test("odd-length names and char data are 4-byte padded") {
    val path = tmp("pad.nc")
    NetCdf.write(path, Seq(Dim("abc", 5)), Seq("k" -> "xyz"),
      Seq(Var("chars", Seq(0), NcChar, Nil, "hello".getBytes("US-ASCII"))))
    val nc = NetCdf.read(path)
    assert(new String(nc.variable("chars").data.asInstanceOf[Array[Byte]],
      "US-ASCII") == "hello")
    assert(nc.globalAttrs == Seq("k" -> "xyz"))
  }

  test("CDF-2 roundtrip: version byte 2, 64-bit begin offsets") {
    val path = tmp("v2.nc")
    NetCdf.write(path,
      dims = Seq(Dim("y", 2), Dim("x", 3)),
      globalAttrs = Seq("conv" -> "CF"),
      vars = Seq(
        Var("lat", Seq(0), NcDouble, Nil, Array(0.5, 1.5)),
        Var("v", Seq(0, 1), NcFloat, Seq("units" -> "K"),
          Array.tabulate(6)(_ * 0.5f))),
      version = 2)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
    assert(bytes(3) == 2)
    val nc = NetCdf.read(path)
    assert(nc.dims == Seq(Dim("y", 2), Dim("x", 3)))
    assert(nc.variable("v").data.asInstanceOf[Array[Float]].toSeq ==
      (0 until 6).map(_ * 0.5f))
    assert(nc.variable("v").attrs == Seq("units" -> "K"))
  }

  test("CDF-5 roundtrip: 64-bit sizes and INT64 variables") {
    val path = tmp("v5.nc")
    NetCdf.write(path,
      dims = Seq(Dim("t", 4)),
      globalAttrs = Seq("title" -> "wide"),
      vars = Seq(
        Var("micros", Seq(0), NcInt64, Seq("units" -> "us"),
          Array(0L, 3600000000L, 7200000000L, 1L << 40)),
        Var("v", Seq(0), NcDouble, Nil, Array(1.0, 2.0, 3.0, 4.0))),
      version = 5)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
    assert(bytes(3) == 5)
    val nc = NetCdf.read(path)
    assert(nc.variable("micros").data.asInstanceOf[Array[Long]].toSeq ==
      Seq(0L, 3600000000L, 7200000000L, 1L << 40))
    assert(nc.variable("v").data.asInstanceOf[Array[Double]].toSeq ==
      Seq(1.0, 2.0, 3.0, 4.0))
    assert(nc.globalAttrs == Seq("title" -> "wide"))
  }

  test("NetCDF-4/HDF5 roundtrip: superblock, dim scales, DIMENSION_LIST") {
    val path = tmp("v4.h5")
    graft.io.Hdf5.write(path,
      dims = Seq(Dim("y", 3), Dim("x", 4)),
      globalAttrs = Seq("title" -> "t4", "history" -> "graft"),
      vars = Seq(
        Var("y", Seq(0), NcDouble, Seq("units" -> "degrees_north"),
          Array(0.5, 1.5, 2.5)), // coordinate variable = dim scale
        Var("mask", Seq(0, 1), NcInt, Nil, Array.tabulate(12)(identity)),
        Var("t2", Seq(0, 1), NcFloat, Seq("units" -> "K"),
          Array.tabulate(12)(_ * 0.25f)),
        Var("wide", Seq(1), NcInt64, Nil,
          Array(1L, 2L, 3L, 1L << 40))))
    // HDF5 signature, not CDF
    val b = Files.readAllBytes(java.nio.file.Paths.get(path))
    assert((b(0) & 0xff) == 0x89 && b(1) == 'H' && b(2) == 'D' && b(3) == 'F')
    // NetCdf.read auto-dispatches on the signature
    val nc = NetCdf.read(path)
    assert(nc.dims == Seq(Dim("y", 3), Dim("x", 4)))
    assert(nc.globalAttrs.toSet == Set("title" -> "t4", "history" -> "graft"))
    // phantom scale for x is not a variable; coordinate var y is
    assert(nc.vars.map(_.name).toSet == Set("y", "mask", "t2", "wide"))
    val t2 = nc.variable("t2")
    assert(t2.dimIds == Seq(0, 1)) // resolved via DIMENSION_LIST refs
    assert(t2.attrs == Seq("units" -> "K"))
    assert(t2.data.asInstanceOf[Array[Float]].toSeq ==
      (0 until 12).map(_ * 0.25f))
    assert(nc.variable("mask").data.asInstanceOf[Array[Int]].toSeq ==
      (0 until 12))
    assert(nc.variable("wide").dimIds == Seq(1))
    assert(nc.variable("wide").data.asInstanceOf[Array[Long]].toSeq ==
      Seq(1L, 2L, 3L, 1L << 40))
    assert(nc.variable("y").data.asInstanceOf[Array[Double]].toSeq ==
      Seq(0.5, 1.5, 2.5))
  }

  test("HDF5 chunked + shuffle + deflate roundtrip with edge chunks") {
    // odd shape (5,7) against chunk dims (3,4): 2x2 chunk grid with
    // clipped edge chunks; filters: shuffle then deflate, reversed on
    // read — netCDF-4's default compression stack
    val path = tmp("chunked.h5")
    graft.io.Hdf5.write(path,
      dims = Seq(Dim("y", 5), Dim("x", 7)),
      globalAttrs = Nil,
      vars = Seq(
        Var("t2", Seq(0, 1), NcDouble, Seq("units" -> "K"),
          Array.tabulate(35)(i => 250.0 + i * 0.5)),
        Var("mask", Seq(0, 1), NcInt, Nil, Array.tabulate(35)(_ * 3)),
        Var("row", Seq(0), NcFloat, Nil, Array.tabulate(5)(_ * 1.5f))),
      chunkDeflate = true)
    // the data variables must actually be stored compressed
    val raw = Files.readAllBytes(java.nio.file.Paths.get(path))
    val asDoubles = (0 until 35).map(i => 250.0 + i * 0.5)
    val plain = java.nio.ByteBuffer.allocate(16 * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    asDoubles.take(16).foreach(plain.putDouble)
    assert(!raw.containsSlice(plain.array().toSeq),
      "t2 appears uncompressed in the file")
    val nc = NetCdf.read(path)
    assert(nc.variable("t2").data.asInstanceOf[Array[Double]].toSeq == asDoubles)
    assert(nc.variable("t2").dimIds == Seq(0, 1))
    assert(nc.variable("mask").data.asInstanceOf[Array[Int]].toSeq ==
      (0 until 35).map(_ * 3))
    assert(nc.variable("row").data.asInstanceOf[Array[Float]].toSeq ==
      (0 until 5).map(_ * 1.5f))
    assert(nc.dims == Seq(Dim("y", 5), Dim("x", 7)))
  }

  test("HDF5 writer sizes symbol-table K and global heap for many datasets") {
    // 200 variables: the SNOD carries 201 entries (dims+vars), so the
    // superblock's group-leaf K must be raised above the default 4
    // (libhdf5 sizes nodes as 2K entries), and the 200 var→dim
    // DIMENSION_LIST references overflow a fixed 4096-byte GCOL —
    // the heap must grow instead of silently shifting data addresses.
    val path = tmp("many.h5")
    val dims = Seq(Dim("x", 5))
    val vars = (0 until 200).map(i =>
      Var(f"v$i%03d", Seq(0), NcDouble, Nil,
        Array.tabulate(5)(j => i * 10.0 + j)))
    graft.io.Hdf5.write(path, dims, Nil, vars)
    val head = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val leafK = ((head(17) & 0xff) << 8) | (head(16) & 0xff) // u16 LE at sb+16
    assert(2 * leafK >= 201, s"declared leaf K=$leafK covers < 201 entries")
    val nc = NetCdf.read(path)
    assert(nc.vars.map(_.name).toSet == vars.map(_.name).toSet)
    (0 until 200).foreach { i =>
      assert(nc.variable(f"v$i%03d").data.asInstanceOf[Array[Double]].toSeq ==
        (0 until 5).map(j => i * 10.0 + j))
    }
  }

  test("dense (fractal-heap) group storage roundtrips") {
    // latest-format libhdf5/libnetcdf store group links in a fractal
    // heap indexed by a v2 B-tree; the writer's dense mode emits that
    // layout (Link Info message, FRHP + FHDB, BTHD + BTLF) and the
    // reader must resolve every heap id back to its dataset.
    val path = tmp("dense.h5")
    val dims = Seq(Dim("t", 2), Dim("x", 3))
    val vars = Seq(
      Var("t", Seq(0), NcDouble, Nil, Array(0.0, 1.0)),
      Var("temp", Seq(0, 1), NcFloat, Seq("units" -> "K"),
        Array.tabulate(6)(_ * 0.5f)),
      Var("count", Seq(1), NcInt, Nil, Array(7, 8, 9)))
    graft.io.Hdf5.write(path, dims, Seq("title" -> "dense"), vars,
      denseGroups = true)
    val nc = NetCdf.read(path)
    assert(nc.dims == dims)
    assert(nc.globalAttrs == Seq("title" -> "dense"))
    assert(nc.variable("temp").data.asInstanceOf[Array[Float]].toSeq ==
      (0 until 6).map(_ * 0.5f))
    assert(nc.variable("temp").attrs == Seq("units" -> "K"))
    assert(nc.variable("count").data.asInstanceOf[Array[Int]].toSeq ==
      Seq(7, 8, 9))
    assert(nc.variable("t").data.asInstanceOf[Array[Double]].toSeq ==
      Seq(0.0, 1.0))
  }

  test("dense (fractal-heap) attribute storage roundtrips") {
    // latest-format libhdf5 moves attributes past the compact
    // threshold (8) into a fractal heap indexed by a type-8 name v2
    // B-tree; the writer's denseAttrs mode emits that layout
    // (Attribute Info message, FRHP + FHDB, BTHD + BTLF of 17-byte
    // records) and the reader must resolve every heap id back to its
    // attribute — a real modern WRF NetCDF-4 file with many global
    // attributes hits exactly this path.
    val path = tmp("dense_attrs.h5")
    val dims = Seq(Dim("x", 3))
    val vars = Seq(Var("v", Seq(0), NcDouble, Nil, Array(1.0, 2.0, 3.0)))
    // 20 attrs (> the libhdf5 compact threshold), deliberately passed
    // OUT of name order: the dense read path returns name order
    val attrs = (0 until 20).map(i => f"attr_${(i * 7) % 20}%02d" -> s"val$i")
    graft.io.Hdf5.write(path, dims, attrs, vars, denseAttrs = true)
    val nc = NetCdf.read(path)
    assert(nc.globalAttrs.toMap == attrs.toMap)
    assert(nc.globalAttrs.map(_._1) == attrs.map(_._1).sorted)
    assert(nc.variable("v").data.asInstanceOf[Array[Double]].toSeq ==
      Seq(1.0, 2.0, 3.0))
  }

  test("dense attributes compose with dense groups") {
    val path = tmp("dense_both.h5")
    val dims = Seq(Dim("t", 2))
    val vars = Seq(
      Var("t", Seq(0), NcDouble, Nil, Array(0.0, 1.0)),
      Var("u", Seq(0), NcFloat, Seq("units" -> "m/s"), Array(3f, 4f)))
    graft.io.Hdf5.write(path, dims,
      Seq("history" -> "both-dense", "title" -> "x"), vars,
      chunkDeflate = true, denseGroups = true, denseAttrs = true)
    val nc = NetCdf.read(path)
    assert(nc.globalAttrs == Seq("history" -> "both-dense", "title" -> "x"))
    assert(nc.variable("u").attrs == Seq("units" -> "m/s"))
    assert(nc.variable("u").data.asInstanceOf[Array[Float]].toSeq ==
      Seq(3f, 4f))
  }

  test("LZF filter: pinned decode, roundtrip, chunked file end-to-end") {
    import graft.io.Hdf5
    // hand-built stream pins the public liblzf format independent of
    // the in-repo compressor: 8-byte literal then an 8-byte reference
    // at distance 8 (ctrl (6<<5)|0, dist byte 7)
    val pinned = Array[Byte](7, 1, 2, 3, 4, 5, 6, 7, 8, (6 << 5).toByte, 7)
    assert(Hdf5.lzfDecompress(pinned, 16, "pin").toSeq ==
      Seq[Byte](1, 2, 3, 4, 5, 6, 7, 8, 1, 2, 3, 4, 5, 6, 7, 8))
    // overlapping reference expands a run: literal 'A', ref dist 1 len 5
    val run = Array[Byte](0, 65, ((3 << 5) | 0).toByte, 0)
    assert(Hdf5.lzfDecompress(run, 6, "run").toSeq == Seq.fill(6)(65.toByte))
    // compressor roundtrips across payload shapes, including hard ones
    val rnd = new scala.util.Random(7)
    val payloads = Seq(
      Array.empty[Byte],
      Array.fill(10000)(42.toByte),
      Array.tabulate(8192)(i => (i % 7).toByte),
      Array.fill(4096)(rnd.nextInt(256).toByte),
      Array.tabulate(300)(i => if (i < 280) 9.toByte else rnd.nextInt(256).toByte))
    payloads.foreach { p =>
      val c = Hdf5.lzfCompress(p)
      assert(Hdf5.lzfDecompress(c, p.length, "rt").toSeq == p.toSeq)
    }
    // hostile: truncations + mutations reject or decode, never overrun
    val base = Hdf5.lzfCompress(payloads(2))
    for (cut <- Seq(0, 1, base.length / 2, base.length - 1))
      intercept[IllegalArgumentException](
        Hdf5.lzfDecompress(java.util.Arrays.copyOf(base, cut), 8192, "cut"))
    for (_ <- 0 until 200) {
      val m = base.clone()
      m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      try Hdf5.lzfDecompress(m, 8192, "mut")
      catch { case _: IllegalArgumentException => () }
    }
    // end-to-end: an lzf-filtered chunked file reads back through the
    // ordinary NetCDF-4 path (shuffle + lzf pipeline per chunk)
    val path = tmp("lzf.h5")
    val dims = Seq(Dim("t", 6), Dim("x", 5))
    val vars = Seq(
      Var("t", Seq(0), NcDouble, Nil, Array.tabulate(6)(_ * 60.0)),
      Var("temp", Seq(0, 1), NcDouble, Seq("units" -> "K"),
        Array.tabulate(30)(i => 250.0 + (i % 4))))
    Hdf5.write(path, dims, Nil, vars, chunkDeflate = true, chunkCodec = "lzf")
    val nc = NetCdf.read(path)
    assert(nc.variable("temp").data.asInstanceOf[Array[Double]].toSeq ==
      (0 until 30).map(i => 250.0 + (i % 4)))
    assert(nc.variable("temp").attrs == Seq("units" -> "K"))
  }

  test("lz4 (32004) and zstd (32015) registered filters: pinned framing, roundtrip, end-to-end") {
    import graft.io.Hdf5
    // hand-built 32004 frame pins the PUBLISHED framing (big-endian
    // total size, big-endian block size, per block a big-endian
    // compressed length then an lz4 BLOCK-format payload) independent
    // of the in-repo encoder. Payload: 16×'A' as [1 literal + match
    // len 10 at distance 1, then the mandatory ≥5 trailing literals].
    val lz4Block = Array[Byte](0x16, 65, 0x01, 0x00, 0x50, 65, 65, 65, 65, 65)
    val pinned = Array[Byte](
      0, 0, 0, 0, 0, 0, 0, 16, // u64 BE total
      0, 0, 0, 16, // u32 BE block size
      0, 0, 0, lz4Block.length.toByte) ++ lz4Block
    assert(Hdf5.lz4FilterDecompress(pinned, 16, "pin").toSeq ==
      Seq.fill(16)(65.toByte))
    // a block stored RAW (clen == decompressed size) copies verbatim
    val raw = Array[Byte](0, 0, 0, 0, 0, 0, 0, 4, 0, 0, 0, 4,
      0, 0, 0, 4, 9, 8, 7, 6)
    assert(Hdf5.lz4FilterDecompress(raw, 4, "raw").toSeq ==
      Seq[Byte](9, 8, 7, 6))
    // blockSize 0 → one whole-chunk block (defensive per the plugin's
    // clamp-to-total behavior)
    val zeroBs = Array[Byte](0, 0, 0, 0, 0, 0, 0, 4, 0, 0, 0, 0,
      0, 0, 0, 4, 9, 8, 7, 6)
    assert(Hdf5.lz4FilterDecompress(zeroBs, 4, "bs0").toSeq ==
      Seq[Byte](9, 8, 7, 6))
    // roundtrips across payload shapes: empty, runs (compressible),
    // random (raw-stored blocks), multi-block via a tiny block size
    val rnd = new scala.util.Random(11)
    val payloads = Seq(
      Array.empty[Byte],
      Array.fill(10000)(42.toByte),
      Array.tabulate(8192)(i => (i % 7).toByte),
      Array.fill(4096)(rnd.nextInt(256).toByte))
    payloads.foreach { p =>
      assert(Hdf5.lz4FilterDecompress(
        Hdf5.lz4FilterCompress(p), p.length, "rt").toSeq == p.toSeq)
      assert(Hdf5.lz4FilterDecompress(
        Hdf5.lz4FilterCompress(p, blockSize = 100), p.length, "rtmb").toSeq
        == p.toSeq)
      assert(Hdf5.zstdFilterDecompress(
        Hdf5.zstdFilterCompress(p), p.length, "zrt").toSeq == p.toSeq)
    }
    // hostile: truncations reject, single-byte mutations reject or
    // decode — never overrun (same contract as the LZF decoder)
    val base = Hdf5.lz4FilterCompress(payloads(2), blockSize = 100)
    for (cut <- Seq(0, 4, 11, base.length / 2, base.length - 1))
      intercept[IllegalArgumentException](
        Hdf5.lz4FilterDecompress(java.util.Arrays.copyOf(base, cut), 8192, "cut"))
    for (_ <- 0 until 200) {
      val m = base.clone()
      m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      try Hdf5.lz4FilterDecompress(m, 8192, "mut")
      catch { case _: IllegalArgumentException => () }
    }
    val zbase = Hdf5.zstdFilterCompress(payloads(2))
    for (cut <- Seq(0, 1, zbase.length / 2, zbase.length - 1))
      intercept[Exception](
        Hdf5.zstdFilterDecompress(java.util.Arrays.copyOf(zbase, cut), 8192, "zcut"))
    // end-to-end: chunked files through the shuffle+lz4 / shuffle+zstd
    // pipelines read back via the ordinary NetCDF-4 path
    for (codec <- Seq("lz4", "zstd")) {
      val path = tmp(s"$codec.h5")
      val dims = Seq(Dim("t", 6), Dim("x", 5))
      val vars = Seq(
        Var("t", Seq(0), NcDouble, Nil, Array.tabulate(6)(_ * 60.0)),
        Var("temp", Seq(0, 1), NcDouble, Seq("units" -> "K"),
          Array.tabulate(30)(i => 250.0 + (i % 4))))
      Hdf5.write(path, dims, Nil, vars, chunkDeflate = true, chunkCodec = codec)
      val nc = NetCdf.read(path)
      assert(nc.variable("temp").data.asInstanceOf[Array[Double]].toSeq ==
        (0 until 30).map(i => 250.0 + (i % 4)), s"codec $codec")
      assert(nc.variable("temp").attrs == Seq("units" -> "K"), s"codec $codec")
    }
  }

  test("vlen-string attributes read back (h5py's string-attr encoding)") {
    // h5py writes EVERY NetCDF-4 string attribute as a vlen string —
    // a (len, global-heap addr, index) descriptor whose payload lives
    // in a GCOL — not as the fixed string libnetcdf emits. Both the
    // variable and the root-group attr paths must resolve them.
    val path = tmp("vlen.h5")
    val dims = Seq(Dim("t", 2), Dim("x", 3))
    val vars = Seq(
      Var("t", Seq(0), NcDouble, Nil, Array(0.0, 1.0)),
      Var("temp", Seq(0, 1), NcFloat,
        Seq("units" -> "K", "long_name" -> "air temperature — 2 m"),
        Array.tabulate(6)(_ * 0.5f)))
    graft.io.Hdf5.write(path, dims,
      Seq("title" -> "vlen attrs", "history" -> "written by graft",
        "comment" -> ""),
      vars, vlenStringAttrs = true)
    val nc = NetCdf.read(path)
    assert(nc.globalAttrs == Seq("title" -> "vlen attrs",
      "history" -> "written by graft", "comment" -> ""))
    // UTF-8 beyond ASCII survives (the em dash is 3 bytes)
    assert(nc.variable("temp").attrs == Seq("units" -> "K",
      "long_name" -> "air temperature — 2 m"))
    assert(nc.variable("temp").data.asInstanceOf[Array[Float]].toSeq ==
      (0 until 6).map(_ * 0.5f))
    // DIMENSION_LIST refs share the heap with the strings: dims intact
    assert(nc.dims == dims)
  }

  test("vlen-string attrs compose with chunked data and dense storage") {
    val path = tmp("vlen_dense.h5")
    val dims = Seq(Dim("t", 2), Dim("x", 3))
    val vars = Seq(
      Var("t", Seq(0), NcDouble, Nil, Array(0.0, 1.0)),
      Var("temp", Seq(0, 1), NcFloat, Seq("units" -> "K"),
        Array.tabulate(6)(_ * 1.5f)))
    graft.io.Hdf5.write(path, dims, Seq("title" -> "vd", "src" -> "graft"),
      vars, chunkDeflate = true, denseGroups = true, denseAttrs = true,
      vlenStringAttrs = true)
    val nc = NetCdf.read(path)
    assert(nc.globalAttrs.toMap ==
      Map("title" -> "vd", "src" -> "graft"))
    assert(nc.variable("temp").attrs == Seq("units" -> "K"))
    assert(nc.variable("temp").data.asInstanceOf[Array[Float]].toSeq ==
      (0 until 6).map(_ * 1.5f))
  }

  test("CF mask-and-scale: packed short variable decodes like xarray") {
    // int16 temperature packed with scale/offset and a fill sentinel —
    // the layout real HadUK/WRF-derived files use; xarray's
    // open_dataset default (mask_and_scale=True) is what the reference
    // reads, so read() must produce the same doubles-with-NaN view
    val path = tmp("packed.nc")
    val dims = Seq(Dim("x", 5))
    val raw = Array(0, 100, -9999, 250, -300) // -9999 = fill
    val vars = Seq(Var("t2", Seq(0), NcShort,
      Seq("units" -> "K"), raw,
      numAttrs = Seq("scale_factor" -> 0.1, "add_offset" -> 273.15,
        "_FillValue" -> -9999.0)))
    NetCdf.write(path, dims, Nil, vars)
    val v = NetCdf.read(path).variable("t2")
    assert(v.ncType == NcDouble)
    val d = v.data.asInstanceOf[Array[Double]]
    assert(d(0) == 273.15)
    assert(math.abs(d(1) - (100 * 0.1 + 273.15)) < 1e-12)
    assert(d(2).isNaN)
    assert(math.abs(d(3) - (250 * 0.1 + 273.15)) < 1e-12)
    assert(math.abs(d(4) - (-300 * 0.1 + 273.15)) < 1e-12)
    // raw view on request: original type, sentinel intact, attrs kept
    val rawV = NetCdf.read(path, maskAndScale = false).variable("t2")
    assert(rawV.data.asInstanceOf[Array[Int]].toSeq == raw.toSeq)
    assert(rawV.numAttrs.toMap.get("_FillValue").contains(-9999.0))
    assert(rawV.attrs == Seq("units" -> "K"))
  }

  test("CF decode: missing_value fallback, scale-only, fill-only; identity without attrs") {
    val dims = Seq(Dim("x", 3))
    def roundtrip(v: Var): Var = {
      val p = tmp(s"cf_${v.name}.nc")
      NetCdf.write(p, dims, Nil, Seq(v))
      NetCdf.read(p).variable(v.name)
    }
    val mv = roundtrip(Var("a", Seq(0), NcInt, Nil, Array(7, -1, 9),
      numAttrs = Seq("missing_value" -> -1.0)))
    val ad = mv.data.asInstanceOf[Array[Double]]
    assert(ad(0) == 7.0 && ad(1).isNaN && ad(2) == 9.0)
    val so = roundtrip(Var("b", Seq(0), NcInt, Nil, Array(1, 2, 3),
      numAttrs = Seq("scale_factor" -> 2.5)))
    assert(so.data.asInstanceOf[Array[Double]].toSeq == Seq(2.5, 5.0, 7.5))
    // no packing attrs: bit-identical ints, type preserved
    val id = roundtrip(Var("c", Seq(0), NcInt, Nil, Array(4, 5, 6)))
    assert(id.ncType == NcInt)
    assert(id.data.asInstanceOf[Array[Int]].toSeq == Seq(4, 5, 6))
  }

  test("CF decode: _Unsigned bytes reinterpret before scaling, fill matches either spelling") {
    // classic NetCDF has no unsigned types, so satellite/WRF byte data
    // is signed bytes + _Unsigned="true" — xarray reinterprets BEFORE
    // scale/offset; the fill sentinel 255 is stored as -1 signed
    val path = tmp("unsigned.nc")
    val dims = Seq(Dim("x", 4))
    val raw: Array[Byte] = Array(0, 100, -56, -1) // unsigned: 0,100,200,255
    val vars = Seq(Var("b", Seq(0), NcByte,
      Seq("_Unsigned" -> "true"), raw,
      numAttrs = Seq("scale_factor" -> 0.5, "_FillValue" -> -1.0)))
    NetCdf.write(path, dims, Nil, vars)
    val d = NetCdf.read(path).variable("b").data.asInstanceOf[Array[Double]]
    assert(d(0) == 0.0 && d(1) == 50.0 && d(2) == 100.0)
    assert(d(3).isNaN) // -1 signed = 255 unsigned = the fill
  }

  test("CF decode applies identically through the NetCDF-4/HDF5 container") {
    val path = tmp("packed.h5")
    val dims = Seq(Dim("x", 4))
    val vars = Seq(
      Var("x", Seq(0), NcDouble, Nil, Array(0.0, 1.0, 2.0, 3.0)),
      Var("v", Seq(0), NcShort, Nil, Array(10, -32768, 30, 40),
        numAttrs = Seq("scale_factor" -> 0.5, "_FillValue" -> -32768.0)))
    graft.io.Hdf5.write(path, dims, Nil, vars)
    val v = NetCdf.read(path).variable("v")
    val d = v.data.asInstanceOf[Array[Double]]
    assert(d(0) == 5.0 && d(1).isNaN && d(2) == 15.0 && d(3) == 20.0)
  }

  test("writer mode matrix: all chunkDeflate x denseGroups x denseAttrs roundtrip") {
    val dims = Seq(Dim("t", 3), Dim("x", 4))
    val vars = Seq(
      Var("t", Seq(0), NcDouble, Nil, Array(0.0, 1.0, 2.0)),
      Var("temp", Seq(0, 1), NcFloat, Seq("units" -> "K"),
        Array.tabulate(12)(_ * 0.25f)),
      Var("flag", Seq(1), NcInt, Nil, Array(1, 2, 3, 4)))
    val attrs = (0 until 10).map(i => f"g$i%02d" -> s"v$i")
    for {
      cd <- Seq(false, true)
      dg <- Seq(false, true)
      da <- Seq(false, true)
    } {
      val path = tmp(s"matrix_${cd}_${dg}_$da.h5")
      graft.io.Hdf5.write(path, dims, attrs, vars,
        chunkDeflate = cd, denseGroups = dg, denseAttrs = da)
      val nc = NetCdf.read(path)
      val label = s"cd=$cd dg=$dg da=$da"
      assert(nc.dims == dims, label)
      assert(nc.globalAttrs.toMap == attrs.toMap, label)
      assert(nc.variable("temp").data.asInstanceOf[Array[Float]].toSeq ==
        (0 until 12).map(_ * 0.25f), label)
      assert(nc.variable("temp").attrs == Seq("units" -> "K"), label)
      assert(nc.variable("flag").data.asInstanceOf[Array[Int]].toSeq ==
        Seq(1, 2, 3, 4), label)
    }
  }

  test("dense attributes past one btree leaf roundtrip via a depth-1 index") {
    // (2048-10)/17 = 119 type-8 records fit the declared node size;
    // the 120th makes the writer emit a depth-1 tree (internal node +
    // leaves) that the reader's general walker takes. Pin the boundary
    // (exactly one leaf) AND one-past-it.
    val dims = Seq(Dim("x", 2))
    val vars = Seq(Var("v", Seq(0), NcDouble, Nil, Array(1.0, 2.0)))
    val max = (2048 - 10) / 17
    for (n <- Seq(max, max + 1)) {
      val attrs = (0 until n).map(i => f"a$i%03d" -> s"v$i")
      val path = tmp(s"dense_attrs_$n.h5")
      graft.io.Hdf5.write(path, dims, attrs, vars, denseAttrs = true)
      val nc = NetCdf.read(path)
      assert(nc.globalAttrs.toMap == attrs.toMap, s"n=$n")
    }
  }

  test("hundreds of long-named links/attrs roundtrip: multi-block heap + depth-1 index") {
    // 420 variables with 150-char names = ~68 KB of link messages →
    // the link heap needs a root INDIRECT block (multiple direct
    // children) and the name index needs depth 1 (420 > 185-record
    // leaf); 300 attributes with 180-char values do the same on the
    // attribute side. Writer emits, the general reader walks — the
    // end-to-end twin of the crafted-image specs.
    val dims = Seq(Dim("x", 2))
    def lname(i: Int) = f"v$i%04d" + "_" + ("n" * 143)
    val vars = Var("x", Seq(0), NcDouble,
        Seq("CLASS" -> "DIMENSION_SCALE", "NAME" -> "x"),
        Array(0.0, 1.0)) +:
      (0 until 420).map(i => Var(lname(i), Seq(0), NcDouble, Nil,
        Array(i.toDouble, i + 0.5)))
    val attrs = (0 until 300).map(i => f"attr$i%04d" -> (s"value$i" + "x" * 174))
    val path = tmp("dense_many.h5")
    graft.io.Hdf5.write(path, dims, attrs, vars,
      denseGroups = true, denseAttrs = true)
    val nc = NetCdf.read(path)
    assert(nc.globalAttrs.toMap == attrs.toMap)
    assert((0 until 420).forall { i =>
      nc.variable(lname(i)).data.asInstanceOf[Array[Double]]
        .sameElements(Array(i.toDouble, i + 0.5))
    })
  }

  test("heap packing invariant: every object lands whole inside its block") {
    // property-fuzz the writer-side packer with object sizes up to the
    // 4 KiB managed max — the near-max sizes (4080-4096) need MORE
    // than one block advance out of a fresh 4096-byte row-0/1 block
    // (17-byte header + object > 4096); a mis-packed object would
    // emit negative padding and silently corrupt every later address
    val rnd = new scala.util.Random(160826)
    for (trial <- 0 until 50) {
      val sizes = Seq.fill(30 + rnd.nextInt(40))(
        if (rnd.nextBoolean()) 4080 + rnd.nextInt(17) // the hard band
        else 1 + rnd.nextInt(4096))
      val plan = graft.io.Hdf5.planWriterHeap(sizes, s"trial $trial")
      sizes.zipWithIndex.foreach { case (s, i) =>
        val off = plan.objOffsets(i)
        val j = plan.blockBases.lastIndexWhere(_ <= off)
        assert(j >= 0 && off >= plan.blockBases(j) + 17 &&
          off + s <= plan.blockBases(j) + plan.blockSizes(j),
          s"trial $trial obj $i size $s at $off escapes block $j " +
            s"[${plan.blockBases(j)}, +${plan.blockSizes(j)})")
      }
    }
  }

  test("non-dense writes never trip dense ceilings: >4 KiB attr in compact mode") {
    // denseAttrs=false stores attributes as compact object-header
    // messages (u16-sized, fine to 64 KB); the dense 4 KiB
    // managed-object ceiling must not fire for a file that never
    // emits dense structures
    val dims = Seq(Dim("x", 2))
    val vars = Seq(Var("v", Seq(0), NcDouble, Nil, Array(1.0, 2.0)))
    val big = "history" -> ("h" * 8000)
    val path = tmp("compact_big_attr.h5")
    graft.io.Hdf5.write(path, dims, Seq(big), vars)
    assert(NetCdf.read(path).globalAttrs.toMap == Map(big))
  }

  test("writer dense ceilings: depth-2 attr index and indirect-children link heap reject loudly") {
    // the writer emits depth ≤ 1 name indexes and direct-row heaps;
    // past those (9,479 attr records / ~0.5 MB of link messages) it
    // must refuse loudly, never write an invalid file. Deeper shapes
    // remain read-side (crafted-image specs cover them).
    val dims = Seq(Dim("x", 2))
    val vars = Seq(Var("v", Seq(0), NcDouble, Nil, Array(1.0, 2.0)))
    val tooMany = (0 until 9480).map(i => f"a$i%05d" -> "v")
    val e = intercept[IllegalArgumentException] {
      graft.io.Hdf5.write(tmp("dense_attrs_depth2.h5"), dims, tooMany,
        vars, denseAttrs = true)
    }
    assert(e.getMessage.contains("internal node"))
  }

  test("dense-attribute file survives 200 hostile mutations") {
    // same decode-or-reject contract as the ingest fuzz suites: no
    // mutation of the heap/btree bytes may hang, overflow the stack,
    // or allocate from an attacker-claimed size
    val path = tmp("dense_attrs_fuzz.h5")
    val dims = Seq(Dim("x", 3))
    val vars = Seq(Var("v", Seq(0), NcDouble, Nil, Array(1.0, 2.0, 3.0)))
    val attrs = (0 until 12).map(i => f"a$i%02d" -> s"v$i")
    graft.io.Hdf5.write(path, dims, attrs, vars, denseAttrs = true)
    val base = Files.readAllBytes(java.nio.file.Paths.get(path))
    val rnd = new scala.util.Random(20260815)
    val p = tmp("dense_attrs_mut.h5")
    var decoded = 0; var rejected = 0
    for (_ <- 0 until 200) {
      val b = base.clone()
      for (_ <- 0 to rnd.nextInt(8))
        b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      Files.write(java.nio.file.Paths.get(p), b)
      try { NetCdf.read(p); decoded += 1 }
      catch { case scala.util.control.NonFatal(_) => rejected += 1 }
    }
    assert(decoded + rejected == 200)
    assert(rejected > 0, "no mutation was ever rejected?")
  }

  test("dense groups survive many links and chunked+deflate data") {
    // 120 variables → 120 link messages packed in the direct block
    // (multi-KiB heap, hash-ordered btree records), with the chunked
    // shuffle+deflate layout on every variable
    val path = tmp("dense_many.h5")
    val dims = Seq(Dim("x", 6))
    val vars = (0 until 120).map(i =>
      Var(f"v$i%03d", Seq(0), NcDouble, Nil,
        Array.tabulate(6)(j => i * 100.0 + j)))
    graft.io.Hdf5.write(path, dims, Nil, vars,
      chunkDeflate = true, denseGroups = true)
    val nc = NetCdf.read(path)
    assert(nc.vars.map(_.name).toSet == vars.map(_.name).toSet)
    (0 until 120).foreach { i =>
      assert(nc.variable(f"v$i%03d").data.asInstanceOf[Array[Double]].toSeq ==
        (0 until 6).map(j => i * 100.0 + j))
    }
  }

  test("lookup3 matches the published self-test vectors") {
    // Bob Jenkins' lookup3.c driver vectors for hashlittle()
    def h(s: String, init: Int) =
      graft.io.Hdf5.lookup3(s.getBytes("US-ASCII"), init)
    assert(h("", 0) == 0xdeadbeef)
    assert(h("Four score and seven years ago", 0) == 0x17770551)
    assert(h("Four score and seven years ago", 1) == 0xcd628161)
  }

  test("INT64 variables are rejected outside CDF-5") {
    intercept[IllegalArgumentException] {
      NetCdf.write(tmp("bad.nc"), Seq(Dim("t", 1)), Nil,
        Seq(Var("x", Seq(0), NcInt64, Nil, Array(1L))), version = 1)
    }
  }

  test("size validation rejects mismatched data arrays") {
    intercept[IllegalArgumentException] {
      NetCdf.write(tmp("bad.nc"), Seq(Dim("x", 3)), Nil,
        Seq(Var("v", Seq(0), NcDouble, Nil, Array(1.0))))
    }
  }

  test("crafted attribute count that wraps cnt*es past Long is rejected") {
    // CDF-5 sizes are 64-bit: a count of 2^61 with an 8-byte element
    // type wraps cnt*es to 0, which would pass a single product bound
    // and truncate cnt to 0 on .toInt — the two-step bound rejects it
    val path = tmp("attr_wrap.nc")
    NetCdf.write(path, Seq(Dim("x", 2)), Nil,
      Seq(Var("v", Seq(0), NcDouble, Nil, Array(1.0, 2.0),
        numAttrs = Seq("scale_factor" -> 0.5))), version = 5)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
    val name = "scale_factor".getBytes("US-ASCII")
    val idx = bytes.indices.indexWhere(i =>
      i + name.length <= bytes.length &&
        name.indices.forall(j => bytes(i + j) == name(j)))
    assert(idx > 0, "attr name not found")
    // CDF-5 layout after the name: nc_type(4) then count(8, BE)
    val countOff = idx + name.length + 4
    val crafted = 0x2000000000000000L // * 8 wraps to 0
    (0 until 8).foreach(j =>
      bytes(countOff + j) = ((crafted >> (56 - 8 * j)) & 0xff).toByte)
    val hostile = tmp("attr_wrap2.nc")
    Files.write(java.nio.file.Paths.get(hostile), bytes)
    val e = intercept[IllegalArgumentException](NetCdf.read(hostile))
    assert(e.getMessage.contains("attribute length"))
  }

  test("crafted dims whose product x 8 wraps Long are rejected, not allocated") {
    // ADVICE r10: dims each <= file size pass the per-dim bound, the
    // product n fits a Long, but n * es wraps negative so the old
    // `n * es <= avail - begin` check passed and `n.toInt` wrapped to
    // an arbitrary 32-bit allocation size. Three 1,200,000-sized dims
    // in a ~1.3 MB file reproduce it exactly: n = 1.728e18,
    // n * 8 = 1.38e19 > Long.MaxValue.
    val path = tmp("wrap.nc")
    NetCdf.write(path,
      dims = Seq(Dim("t", 3), Dim("y", 4), Dim("x", 5), Dim("p", 1300000)),
      globalAttrs = Nil,
      vars = Seq(
        Var("v", Seq(0, 1, 2), NcDouble, Nil, Array.tabulate(60)(_ / 3.0)),
        Var("pad", Seq(3), NcChar, Nil, Array.fill[Byte](1300000)(7))))
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
    // CDF-1 header: magic(4) numrecs(4) dimTag(4) nDims(4), then per
    // 1-char-named dim: namelen(4) + padded name(4) + size(4) = 12.
    def i32(off: Int): Int =
      ((bytes(off) & 0xff) << 24) | ((bytes(off + 1) & 0xff) << 16) |
        ((bytes(off + 2) & 0xff) << 8) | (bytes(off + 3) & 0xff)
    def put32(off: Int, v: Int): Unit = {
      bytes(off) = (v >>> 24).toByte; bytes(off + 1) = (v >>> 16).toByte
      bytes(off + 2) = (v >>> 8).toByte; bytes(off + 3) = v.toByte
    }
    assert(Seq(i32(24), i32(36), i32(48)) == Seq(3, 4, 5),
      "header layout drifted — fix the patch offsets")
    Seq(24, 36, 48).foreach(put32(_, 1200000))
    val hostile = tmp("wrap_hostile.nc")
    Files.write(java.nio.file.Paths.get(hostile), bytes)
    val e = intercept[IllegalArgumentException](NetCdf.read(hostile))
    assert(e.getMessage.contains("element count"), e.getMessage)
  }
}
