package graft.io

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import NetCdf.{Dim, NcFile, Var}

/** Minimal HDF5 reader/writer for the NetCDF-4 profile — from the
  * published HDF5 File Format Specification (version 0 superblock,
  * version 1/2 object headers, old-style symbol-table groups, CONTIGUOUS
  * data layout) and the netCDF-4 dimension-scale conventions
  * (CLASS="DIMENSION_SCALE" datasets + DIMENSION_LIST vlen-of-reference
  * attributes). Real WRF output is frequently NetCDF-4
  * (`xr.open_dataset` wrf_voronoi.py:115 opens either format
  * transparently); [[NetCdf.read]] dispatches here on the \x89HDF
  * signature so the grid sources accept both containers.
  *
  * Layouts: contiguous, compact, and CHUNKED (v1 chunk B-trees) with
  * the deflate (zlib), shuffle, fletcher32, and LZF (h5py) filters — the default
  * netCDF-4 compression stack, so realistically-written files open.
  * Groups read from BOTH old-style symbol tables and "latest-format"
  * DENSE link storage (fractal heap + v2 name-index B-tree — what
  * libnetcdf/libhdf5 emit with latest-version bounds); the writer can
  * emit either (`denseGroups`). Dense ATTRIBUTE storage reads and
  * writes (`denseAttrs`). The dense readers take fractal heaps with
  * nested indirect blocks and v2 B-trees of any depth, so groups or
  * objects with unbounded link/attribute counts open; SHARED messages
  * resolve through their committed object headers (named datatypes —
  * the real-world case), with only the opt-in SOHM-heap form and
  * non-default filters raising with a clear message. Types:
  * fixed-point 1/2/4/8
  * bytes, IEEE float 4/8, fixed strings, vlen strings in attributes
  * (h5py writes every NetCDF-4 string attribute that way; the writer
  * can emit them via `vlenStringAttrs`), object references, and vlen
  * sequences of references (DIMENSION_LIST). Metadata is
  * little-endian per the spec; dataset values honor the datatype's
  * byte-order bit.
  */
object Hdf5 {

  private val Signature: Array[Byte] =
    Array(0x89, 'H', 'D', 'F', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
  private val Undef = -1L // 0xFFFF_FFFF_FFFF_FFFF: the undefined address

  /** netCDF's marker NAME for a dimension without a coordinate
    * variable (a "phantom" dimension scale). */
  private val PhantomPrefix = "This is a netCDF dimension but not a netCDF variable"

  def isHdf5(bytes: Array[Byte]): Boolean =
    bytes.length >= 8 && bytes.take(8).sameElements(Signature)

  // ------------------------------------------- filters (shared) -----

  /** HDF5 shuffle filter: byte k of every element grouped together —
    * turns similar values into long runs for deflate. */
  private def shuffleBytes(in: Array[Byte], elem: Int): Array[Byte] = {
    if (elem <= 1) return in
    val n = in.length / elem
    val out = new Array[Byte](in.length)
    var i = 0
    while (i < n) {
      var k = 0
      while (k < elem) { out(k * n + i) = in(i * elem + k); k += 1 }
      i += 1
    }
    out
  }

  private def unshuffleBytes(in: Array[Byte], elem: Int): Array[Byte] = {
    if (elem <= 1) return in
    val n = in.length / elem
    val out = new Array[Byte](in.length)
    var i = 0
    while (i < n) {
      var k = 0
      while (k < elem) { out(i * elem + k) = in(k * n + i); k += 1 }
      i += 1
    }
    out
  }

  /** libLZF decompression (h5py's LZF filter, HDF5 filter id 32000).
    * Format per the public liblzf spec: control byte < 32 starts a
    * literal run of ctrl+1 bytes; otherwise a back reference of
    * (ctrl>>5)+2 bytes (a 7 in the length field extends by one more
    * byte) at distance ((ctrl&0x1f)<<8 | next)+1. Every read and copy
    * is bounds-checked (hostile-bytes contract); the overlap-safe
    * forward copy reproduces the format's run-expansion semantics. */
  private[graft] def lzfDecompress(src: Array[Byte], outLen: Int,
      name: String): Array[Byte] = {
    val out = new Array[Byte](outLen)
    var ip = 0
    var op = 0
    while (ip < src.length) {
      val ctrl = src(ip) & 0xff; ip += 1
      if (ctrl < 32) {
        val run = ctrl + 1
        require(ip + run <= src.length && op + run <= outLen,
          s"$name: LZF literal run overruns")
        System.arraycopy(src, ip, out, op, run)
        ip += run; op += run
      } else {
        var len = ctrl >> 5
        if (len == 7) {
          require(ip < src.length, s"$name: truncated LZF length")
          len += src(ip) & 0xff; ip += 1
        }
        require(ip < src.length, s"$name: truncated LZF reference")
        val dist = ((ctrl & 0x1f) << 8 | (src(ip) & 0xff)) + 1; ip += 1
        val mlen = len + 2
        require(dist <= op && op + mlen <= outLen,
          s"$name: LZF back reference overruns (dist $dist at $op)")
        var k = 0
        val ref = op - dist
        while (k < mlen) { out(op + k) = out(ref + k); k += 1 }
        op += mlen
      }
    }
    require(op == outLen, s"$name: LZF decoded $op of $outLen bytes")
    out
  }

  /** Greedy libLZF compressor (hash of 3-byte groups, the reference
    * implementation's scheme) — emits streams [[lzfDecompress]] (and
    * liblzf/h5py) decode. Worst case ~3% growth on incompressible
    * input; the HDF5 writer stores whatever comes out, matching an
    * h5py file whose optional-filter bit never fired. */
  private[graft] def lzfCompress(in: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(in.length / 2 + 32)
    val lit = new java.io.ByteArrayOutputStream(32)
    def flushLit(): Unit = if (lit.size() > 0) {
      out.write(lit.size() - 1)
      lit.writeTo(out)
      lit.reset()
    }
    val htab = new Array[Int](1 << 13)
    java.util.Arrays.fill(htab, -1)
    def h3(i: Int): Int = {
      val v = ((in(i) & 0xff) << 16) | ((in(i + 1) & 0xff) << 8) | (in(i + 2) & 0xff)
      ((v * 2654435761L) >>> 19).toInt & (htab.length - 1)
    }
    var i = 0
    while (i < in.length) {
      var matched = 0
      var ref = -1
      if (i + 2 < in.length) {
        val slot = h3(i)
        val cand = htab(slot)
        htab(slot) = i
        if (cand >= 0 && i - cand <= 8192 && cand + 2 < in.length &&
          in(cand) == in(i) && in(cand + 1) == in(i + 1) && in(cand + 2) == in(i + 2)) {
          var m = 3
          val maxM = math.min(in.length - i, 264) // 2 + 7 + 255
          while (m < maxM && in(cand + m) == in(i + m)) m += 1
          matched = m; ref = cand
        }
      }
      if (matched >= 3) {
        flushLit()
        val dist = i - ref - 1
        val len = matched - 2
        if (len < 7) out.write((len << 5) | (dist >> 8))
        else { out.write((7 << 5) | (dist >> 8)); out.write(len - 7) }
        out.write(dist & 0xff)
        i += matched
      } else {
        lit.write(in(i))
        if (lit.size() == 32) flushLit()
        i += 1
      }
    }
    flushLit()
    out.toByteArray
  }

  /** HDF5 registered zstd filter (id 32015, the HDF Group's
    * `HDF5Plugin-Zstandard`): the stored chunk is ONE raw zstd frame,
    * no extra framing — cd_values carry only the encode-side level.
    * Decoded via the zstd-jni already on the classpath for blosc. */
  private[graft] def zstdFilterDecompress(src: Array[Byte], outLen: Int,
      name: String): Array[Byte] = {
    val out = new Array[Byte](outLen)
    val n = com.github.luben.zstd.Zstd.decompressByteArray(
      out, 0, outLen, src, 0, src.length)
    require(n == outLen, s"$name: zstd chunk yielded $n of $outLen bytes")
    out
  }

  private[graft] def zstdFilterCompress(in: Array[Byte]): Array[Byte] =
    com.github.luben.zstd.Zstd.compress(in, 3)

  /** HDF5 registered lz4 filter (id 32004, the Dectris/bioformats
    * plugin h5py's `hdf5plugin` ships). Published framing (all ints
    * BIG-endian, unlike the rest of HDF5):
    * {{{
    *   uint64  total decompressed size
    *   uint32  block size (0 → the whole payload is one block)
    *   per block: uint32 compressed length, then the payload —
    *              stored RAW when that length equals the block's
    *              decompressed size (compression gained nothing)
    * }}}
    * Blocks decode independently with lz4's BLOCK format (lz4-java,
    * already on the classpath). Hostile-bytes contract as everywhere
    * in this reader: every length is bounds-checked against the
    * stored payload and the caller-known output size before any
    * allocation or native call. */
  private[graft] def lz4FilterDecompress(src: Array[Byte], outLen: Int,
      name: String): Array[Byte] = {
    require(src.length >= 12, s"$name: lz4 chunk of ${src.length} bytes")
    val bb = ByteBuffer.wrap(src).order(ByteOrder.BIG_ENDIAN)
    val total = bb.getLong()
    require(total == outLen,
      s"$name: lz4 header claims $total bytes, chunk holds $outLen")
    val blockSize0 = bb.getInt()
    // the reference filter clamps blockSize to the total; 0 (and any
    // out-of-range claim) means one whole-chunk block
    val blockSize =
      if (blockSize0 <= 0 || blockSize0 > outLen) math.max(outLen, 1)
      else blockSize0
    val out = new Array[Byte](outLen)
    val dec = net.jpountz.lz4.LZ4Factory.fastestInstance().safeDecompressor()
    var at = 0
    var ip = 12
    while (at < outLen) {
      val ub = math.min(blockSize, outLen - at)
      require(ip + 4 <= src.length, s"$name: truncated lz4 block header")
      val clen = bb.getInt(ip); ip += 4
      require(clen > 0 && ip.toLong + clen <= src.length,
        s"$name: lz4 block of $clen bytes overruns the stored chunk")
      if (clen == ub) System.arraycopy(src, ip, out, at, ub)
      else {
        // lz4-java raises its own LZ4Exception on malformed streams;
        // convert to the catchable-require contract every decoder in
        // this reader follows (the native call itself is bounds-safe:
        // it never writes past out[at+ub))
        val n =
          try dec.decompress(src, ip, clen, out, at, ub)
          catch { case e: net.jpountz.lz4.LZ4Exception =>
            throw new IllegalArgumentException(
              s"$name: malformed lz4 block: ${e.getMessage}")
          }
        require(n == ub, s"$name: lz4 block yielded $n of $ub bytes")
      }
      ip += clen; at += ub
    }
    out
  }

  /** Encode the 32004 framing [[lz4FilterDecompress]] reads (and the
    * reference plugin writes): fixed 64 KiB blocks so multi-block
    * chunks exercise the same path the plugin's 1 GiB-default single
    * block does. */
  private[graft] def lz4FilterCompress(in: Array[Byte],
      blockSize: Int = 1 << 16): Array[Byte] = {
    require(blockSize > 0, s"lz4 blockSize $blockSize")
    val comp = net.jpountz.lz4.LZ4Factory.fastestInstance().fastCompressor()
    val out = new java.io.ByteArrayOutputStream(in.length / 2 + 64)
    def u32be(v: Int): Unit = {
      out.write((v >>> 24) & 0xff); out.write((v >>> 16) & 0xff)
      out.write((v >>> 8) & 0xff); out.write(v & 0xff)
    }
    u32be((in.length.toLong >>> 32).toInt); u32be(in.length)
    u32be(math.min(blockSize, math.max(in.length, 1)))
    var at = 0
    while (at < in.length) {
      val ub = math.min(blockSize, in.length - at)
      val c = comp.compress(in, at, ub)
      if (c.length >= ub) { // stored raw: compression gained nothing
        u32be(ub); out.write(in, at, ub)
      } else {
        u32be(c.length); out.write(c, 0, c.length)
      }
      at += ub
    }
    out.toByteArray
  }

  private def deflateBytes(in: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(6)
    d.setInput(in); d.finish()
    val out = new ArrayBuffer[Byte](in.length / 2 + 64)
    val buf = new Array[Byte](8192)
    while (!d.finished()) {
      val n = d.deflate(buf)
      out ++= buf.take(n)
    }
    d.end()
    out.toArray
  }

  /** Bob Jenkins' lookup3 `hashlittle` (public domain; the hash HDF5's
    * v2 structures use for metadata checksums and link-name index
    * keys). Operates on the whole byte array with an initial value. */
  private[graft] def lookup3(data: Array[Byte], init: Int): Int = {
    var a = 0xdeadbeef + data.length + init
    var b = a
    var c = a
    def rot(x: Int, k: Int): Int = (x << k) | (x >>> (32 - k))
    var i = 0
    var len = data.length
    def u32at(p: Int, n: Int): Int = {
      var v = 0
      var k = 0
      while (k < n) { v |= (data(p + k) & 0xff) << (8 * k); k += 1 }
      v
    }
    while (len > 12) {
      a += u32at(i, 4); b += u32at(i + 4, 4); c += u32at(i + 8, 4)
      // mix
      a -= c; a ^= rot(c, 4); c += b
      b -= a; b ^= rot(a, 6); a += c
      c -= b; c ^= rot(b, 8); b += a
      a -= c; a ^= rot(c, 16); c += b
      b -= a; b ^= rot(a, 19); a += c
      c -= b; c ^= rot(b, 4); b += a
      i += 12; len -= 12
    }
    if (len == 0) return c
    a += u32at(i, math.min(len, 4))
    if (len > 4) b += u32at(i + 4, math.min(len - 4, 4))
    if (len > 8) c += u32at(i + 8, len - 8)
    // final
    c ^= b; c -= rot(b, 14)
    a ^= c; a -= rot(c, 11)
    b ^= a; b -= rot(a, 25)
    c ^= b; c -= rot(b, 16)
    a ^= c; a -= rot(c, 4)
    b ^= a; b -= rot(a, 14)
    c ^= b; c -= rot(b, 24)
    c
  }

  private def inflateBytes(in: Array[Byte], outLen: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    val out = new Array[Byte](outLen)
    var off = 0
    try { // finally-end: a throwing decode must not leak native zlib state
      inf.setInput(in)
      while (off < outLen && !inf.finished()) {
        val n = inf.inflate(out, off, outLen - off)
        require(n > 0 || inf.finished(), "truncated deflate stream")
        off += n
      }
    } finally inf.end()
    require(off == outLen, s"deflate chunk: got $off of $outLen bytes")
    out
  }

  // ===================================================== writer =====

  private final class Buf {
    val out = new ArrayBuffer[Byte](1 << 16)
    def u8(v: Int): Unit = out += v.toByte
    def u16(v: Int): Unit = { out += v.toByte += (v >>> 8).toByte }
    def u32(v: Int): Unit = { u16(v & 0xffff); u16(v >>> 16) }
    def u64(v: Long): Unit = { u32(v.toInt); u32((v >>> 32).toInt) }
    def bytes(b: Array[Byte]): Unit = out ++= b
    def zeros(n: Int): Unit = (0 until n).foreach(_ => out += 0)
    def padTo8(): Unit = while (out.length % 8 != 0) out += 0
    def result(): Array[Byte] = out.toArray
  }

  private def pad8(b: Array[Byte]): Array[Byte] =
    if (b.length % 8 == 0) b else b ++ new Array[Byte](8 - b.length % 8)

  // --- writer-side dense-storage planning (fractal heap + v2 btree) ---

  /** FHDB prefix the writer emits: sig(4) + version(1) + heap header
    * address(8) + block offset(4 — offSize for the declared 32 heap
    * bits). */
  private val WHeapHdr = 17

  /** Writer-side fractal-heap plan. Single root-direct block when the
    * messages fit 64 KiB (the historical shape, byte-identical);
    * otherwise a root INDIRECT block over 4096-byte-start direct
    * blocks (width 4, 64 KiB max direct — libhdf5's group-heap
    * geometry, with the start raised to the managed-object max so any
    * object fits any block and no slot is skipped). Objects never
    * straddle blocks; a block closes when the next object would not
    * fit. Direct rows only (~0.5 MB of messages) — the reader handles
    * indirect children, this writer raises loudly before needing
    * them. */
  private[graft] final case class WHeapPlan(startBlock: Long, curRows: Int,
      blockBases: Vector[Long], blockSizes: Vector[Long],
      objOffsets: Vector[Long], span: Long) {
    def multi: Boolean = curRows > 0
    /** Root FHIB byte size: sig+ver + header addr(8) + block offset(4)
      * + curRows×4 child addresses(8) + checksum. */
    def fhibSize: Int = 4 + 1 + 8 + 4 + curRows * 4 * 8 + 4
    def storageSize: Long =
      (if (multi) fhibSize.toLong else 0L) + blockSizes.sum
  }

  private[graft] def planWriterHeap(sizes: Seq[Int], what: String): WHeapPlan = {
    sizes.zipWithIndex.foreach { case (s, i) =>
      require(s <= 4096,
        s"$what object $i is $s bytes > the 4 KiB managed-object max")
    }
    val total = WHeapHdr + sizes.map(_.toLong).sum
    if (total <= 65536L) {
      val sb = math.max(512L,
        java.lang.Long.highestOneBit(math.max(total - 1, 1)) * 2)
      val offs = sizes.scanLeft(WHeapHdr.toLong)(_ + _).init
      WHeapPlan(sb, 0, Vector(0L), Vector(sb), offs.toVector, sb)
    } else {
      val width = 4; val sb = 4096L
      val maxRows = 6 // rows 4096,4096,8192,16384,32768,65536 = maxDirect
      def rowSize(r: Int): Long = if (r < 2) sb else sb << (r - 1)
      val bases = Vector.newBuilder[Long]; val bsz = Vector.newBuilder[Long]
      val offs = Vector.newBuilder[Long]
      var row = 0; var col = 0
      var base = 0L; var size = rowSize(0); var fill = WHeapHdr.toLong
      bases += base; bsz += size
      sizes.foreach { s =>
        // advance until the object fits — an object near the 4 KiB
        // managed max can exceed a fresh row-0/1 block's remaining
        // space AFTER its 17-byte header, so one advance is not
        // always enough (row ≥ 2 blocks are ≥ 8 KiB, so this loops
        // at most twice)
        while (fill + s > size) {
          base += size
          col += 1; if (col == width) { col = 0; row += 1 }
          require(row < maxRows,
            s"$what: messages exceed the writer's direct-row heap " +
              "(~0.5 MB); indirect children are read-side only")
          size = rowSize(row); fill = WHeapHdr.toLong
          bases += base; bsz += size
        }
        offs += base + fill
        fill += s
      }
      val curRows = row + 1
      WHeapPlan(sb, curRows, bases.result(), bsz.result(), offs.result(),
        (0 until curRows).map(r => width * rowSize(r)).sum)
    }
  }

  /** Writer-side v2 name-index plan: one leaf when the hash-sorted
    * records fit the 2048-byte node, else depth 1 — an internal root
    * whose separator records interleave near-even leaves in hash
    * order. Deeper trees are read-side only; raises loudly. */
  private[graft] final case class WBtreePlan(recSize: Int, n: Int,
      leafCounts: Vector[Int]) {
    def depth: Int = if (leafCounts.length == 1 && n == leafCounts.head) 0 else 1
    /** Global record index of separator j (records in leaf-j order,
      * separators between leaves). */
    def sepIdx(j: Int): Int = leafCounts.take(j + 1).sum + j
    /** Global record index range of leaf j. */
    def leafStart(j: Int): Int = leafCounts.take(j).sum + j
    def btinSize: Int =
      6 + (leafCounts.length - 1) * recSize + leafCounts.length * 9 + 4
    def leafSize(j: Int): Int = 10 + leafCounts(j) * recSize
    def storageSize: Long = 38L + (if (depth == 0) leafSize(0).toLong
      else btinSize.toLong + leafCounts.indices.map(leafSize(_).toLong).sum)
  }

  /** Trivial plans for when dense emission is OFF — keep the layout
    * expressions total without running the dense ceilings' requires
    * against files that never emit dense structures. */
  private val NoHeapPlan = WHeapPlan(512L, 0, Vector(0L), Vector(512L),
    Vector.empty, 512L)
  private def noBtreePlan(recSize: Int) = WBtreePlan(recSize, 0, Vector(0))

  private[graft] def planWriterBtree(n: Int, recSize: Int, what: String): WBtreePlan = {
    val cap = (2048 - 10) / recSize
    require(cap >= 1 && cap < 256,
      s"record size $recSize breaks the 1-byte nrec child-pointer width")
    if (n <= cap) WBtreePlan(recSize, n, Vector(n))
    else {
      val ptr = 8 + 1 // child address + 1-byte nrec (no all_nrec at depth 1)
      val icap = (2048 - 10 - ptr) / (recSize + ptr)
      val leaves = (n + 1 + cap) / (cap + 1) // ceil((n+1)/(cap+1))
      require(leaves - 1 <= icap,
        s"$what: $n records need more than one internal node " +
          s"($icap separators); deeper trees are read-side only")
      val k = n - (leaves - 1)
      val per = k / leaves; val extra = k % leaves
      WBtreePlan(recSize, n,
        Vector.tabulate(leaves)(j => per + (if (j < extra) 1 else 0)))
    }
  }

  // --- datatype message encodings (class+version high/low nibbles) ---

  private def dtFixed(size: Int): Array[Byte] = {
    val b = new Buf
    b.u8(0x10); b.u8(0x08); b.u8(0); b.u8(0) // v1 class 0, LE, signed
    b.u32(size); b.u16(0); b.u16(size * 8)
    b.result()
  }

  private def dtFloat(size: Int): Array[Byte] = {
    val b = new Buf
    b.u8(0x11); b.u8(0x20) // v1 class 1, LE, implied-msb mantissa norm
    b.u8(if (size == 4) 31 else 63) // sign bit location
    b.u8(0); b.u32(size)
    b.u16(0); b.u16(size * 8)
    if (size == 4) { b.u8(23); b.u8(8); b.u8(0); b.u8(23); b.u32(127) }
    else { b.u8(52); b.u8(11); b.u8(0); b.u8(52); b.u32(1023) }
    b.result()
  }

  private def dtString(n: Int): Array[Byte] = {
    val b = new Buf
    b.u8(0x13); b.u8(0); b.u8(0); b.u8(0) // null-terminated, ASCII
    b.u32(n)
    b.result()
  }

  private def dtObjRef: Array[Byte] = {
    val b = new Buf
    b.u8(0x17); b.u8(0); b.u8(0); b.u8(0) // reference type 0 = object
    b.u32(8)
    b.result()
  }

  private def dtVlenRefSeq: Array[Byte] = {
    val b = new Buf
    b.u8(0x19); b.u8(0); b.u8(0); b.u8(0) // vlen type 0 = sequence
    b.u32(16) // in-file descriptor: len(4) + gheap addr(8) + index(4)
    b.bytes(dtObjRef)
    b.result()
  }

  private def dtVlenString: Array[Byte] = {
    val b = new Buf
    b.u8(0x19); b.u8(0x01); b.u8(0); b.u8(0) // vlen type 1 = string, nullterm
    b.u32(16) // same descriptor as any vlen
    b.bytes(dtString(1)) // base: 1-byte character
    b.result()
  }

  /** A vlen-string attribute (what h5py writes for EVERY string attr):
    * scalar dataspace, class-9 string datatype, the value living as
    * global-heap object `idx`. */
  private def vlenTextAttr(name: String, value: String, gheapAddr: Long,
      idx: Int): (Int, Array[Byte]) = {
    val b = new Buf
    b.u32(value.getBytes("UTF-8").length); b.u64(gheapAddr); b.u32(idx)
    (0x000C, attrBody(name, dtVlenString, dsScalar, b.result()))
  }

  private def dsSimple(dims: Seq[Long]): Array[Byte] = {
    val b = new Buf
    b.u8(1); b.u8(dims.length); b.u8(0); b.zeros(5)
    dims.foreach(b.u64)
    b.result()
  }

  private def dsScalar: Array[Byte] = {
    val b = new Buf
    b.u8(1); b.u8(0); b.u8(0); b.zeros(5)
    b.result()
  }

  /** Attribute message v1 body: name/datatype/dataspace (each padded to
    * 8) then raw data. */
  private def attrBody(name: String, dt: Array[Byte], ds: Array[Byte],
      data: Array[Byte]): Array[Byte] = {
    val nb = name.getBytes("US-ASCII") :+ 0.toByte
    val b = new Buf
    b.u8(1); b.u8(0)
    b.u16(nb.length); b.u16(dt.length); b.u16(ds.length)
    b.bytes(pad8(nb)); b.bytes(pad8(dt)); b.bytes(pad8(ds)); b.bytes(data)
    b.result()
  }

  private def textAttr(name: String, value: String): (Int, Array[Byte]) = {
    val vb = value.getBytes("US-ASCII") :+ 0.toByte
    (0x000C, attrBody(name, dtString(vb.length), dsScalar, vb))
  }

  private def intAttr(name: String, value: Int): (Int, Array[Byte]) = {
    val b = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(value)
    (0x000C, attrBody(name, dtFixed(4), dsScalar, b.array()))
  }

  /** Scalar numeric attribute, typed: `_FillValue` / `missing_value`
    * in the VARIABLE's own type (the CF requirement), everything else
    * (scale_factor, add_offset...) as DOUBLE. */
  private def numericAttr(name: String, value: Double,
      varNcType: Int): (Int, Array[Byte]) = {
    import NetCdf._
    val t = if (name == "_FillValue" || name == "missing_value") varNcType
      else NcDouble
    val b = ByteBuffer.allocate(typeSize(t)).order(ByteOrder.LITTLE_ENDIAN)
    val dt = t match {
      case NcDouble => b.putDouble(value); dtFloat(8)
      case NcFloat => b.putFloat(value.toFloat); dtFloat(4)
      case NcInt64 => b.putLong(value.toLong); dtFixed(8)
      case NcInt => b.putInt(value.toInt); dtFixed(4)
      case NcShort => b.putShort(value.toShort); dtFixed(2)
      case _ => b.put(value.toByte); dtFixed(1)
    }
    (0x000C, attrBody(name, dt, dsScalar, b.array()))
  }

  /** Serialize an object header v1 from (message type, body) pairs. */
  private def objectHeader(msgs: Seq[(Int, Array[Byte])]): Array[Byte] = {
    val b = new Buf
    val bodies = msgs.map { case (t, body) => (t, pad8(body)) }
    val total = bodies.map(_._2.length + 8).sum
    b.u8(1); b.u8(0); b.u16(msgs.length); b.u32(1); b.u32(total); b.u32(0)
    bodies.foreach { case (t, body) =>
      b.u16(t); b.u16(body.length); b.u8(0); b.zeros(3); b.bytes(body)
    }
    b.result()
  }

  private def dataBytes(v: Var): Array[Byte] = {
    val n = v.data.length
    val size = n * NetCdf.typeSize(v.ncType)
    val buf = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    v.ncType match {
      case NetCdf.NcDouble => v.data.asInstanceOf[Array[Double]].foreach(buf.putDouble)
      case NetCdf.NcFloat => v.data.asInstanceOf[Array[Float]].foreach(buf.putFloat)
      case NetCdf.NcInt => v.data.asInstanceOf[Array[Int]].foreach(buf.putInt)
      case NetCdf.NcInt64 => v.data.asInstanceOf[Array[Long]].foreach(buf.putLong)
      case NetCdf.NcShort => v.data.asInstanceOf[Array[Int]].foreach(x => buf.putShort(x.toShort))
      case NetCdf.NcByte | NetCdf.NcChar => buf.put(v.data.asInstanceOf[Array[Byte]])
    }
    buf.array()
  }

  private def dtFor(ncType: Int): Array[Byte] = ncType match {
    case NetCdf.NcDouble => dtFloat(8)
    case NetCdf.NcFloat => dtFloat(4)
    case NetCdf.NcInt64 => dtFixed(8)
    case NetCdf.NcInt => dtFixed(4)
    case NetCdf.NcShort => dtFixed(2)
    case NetCdf.NcByte | NetCdf.NcChar => dtFixed(1)
  }

  /** Row-major overlap copy between a full array and one chunk buffer
    * at `offset` — `toChunk` extracts (writer), else scatters (reader).
    * Edge chunks clip to the dataset shape; the rest of the chunk
    * buffer stays zero (HDF5 stores full-size edge chunks). */
  private def ndCopy(full: Array[Byte], shape: Seq[Long], elem: Int,
      chunk: Array[Byte], chunkDims: Seq[Int], offset: Seq[Long],
      toChunk: Boolean): Unit = {
    val rank = shape.length
    val copyLast = math.min(chunkDims(rank - 1).toLong,
      shape(rank - 1) - offset(rank - 1)).toInt
    if (copyLast <= 0) return
    val outer = (0 until rank - 1).map(d =>
      math.min(chunkDims(d).toLong, shape(d) - offset(d)).toInt)
    if (outer.exists(_ <= 0)) return
    val fullStr = new Array[Long](rank)
    val chStr = new Array[Long](rank)
    fullStr(rank - 1) = 1; chStr(rank - 1) = 1
    var d = rank - 2
    while (d >= 0) {
      fullStr(d) = fullStr(d + 1) * shape(d + 1)
      chStr(d) = chStr(d + 1) * chunkDims(d + 1)
      d -= 1
    }
    val idx = new Array[Int](math.max(rank - 1, 0))
    var done = false
    while (!done) {
      var fPos = offset(rank - 1)
      var cPos = 0L
      var k = 0
      while (k < rank - 1) {
        fPos += (offset(k) + idx(k)) * fullStr(k)
        cPos += idx(k).toLong * chStr(k)
        k += 1
      }
      if (toChunk)
        System.arraycopy(full, (fPos * elem).toInt, chunk, (cPos * elem).toInt,
          copyLast * elem)
      else
        System.arraycopy(chunk, (cPos * elem).toInt, full, (fPos * elem).toInt,
          copyLast * elem)
      var j = rank - 2
      var carry = true
      while (carry && j >= 0) {
        idx(j) += 1
        if (idx(j) < outer(j)) carry = false else { idx(j) = 0; j -= 1 }
      }
      if (carry) done = true
    }
  }

  private def cartesian(counts: Seq[Long]): Seq[Seq[Long]] =
    counts.foldLeft(Seq(Seq.empty[Long])) { (acc, c) =>
      acc.flatMap(p => (0L until c).map(p :+ _))
    }

  /** Write a NetCDF-4-profile HDF5 file: every dim becomes a
    * DIMENSION_SCALE dataset (the variable of the same name if one
    * exists, else a phantom int scale), every variable a dataset with a
    * DIMENSION_LIST attribute referencing its scales — the same object
    * graph libnetcdf emits for flat files. With `chunkDeflate`, data
    * variables are written CHUNKED (≥2 chunks per dimension) through
    * the shuffle+deflate filter pipeline — netCDF-4's default
    * compression — instead of contiguous. */
  def write(path: String, dims: Seq[Dim], globalAttrs: Seq[(String, String)],
      vars: Seq[Var], chunkDeflate: Boolean = false,
      denseGroups: Boolean = false, denseAttrs: Boolean = false,
      vlenStringAttrs: Boolean = false, chunkCodec: String = "deflate"): Unit = {
    require(Seq("deflate", "lzf", "lz4", "zstd").contains(chunkCodec),
      s"unsupported chunk codec '$chunkCodec' (deflate, lzf, lz4 or zstd)")
    require(chunkCodec == "deflate" || chunkDeflate,
      s"chunkCodec='$chunkCodec' needs chunkDeflate=true (the chunked-filtered " +
        "layout) — without it the knob would silently write raw contiguous data")
    vars.foreach { v =>
      val n = v.dimIds.map(dims(_).size.toLong).product
      require(v.data.length == n, s"${v.name}: ${v.data.length} values for $n cells")
    }
    val coordNames = vars.map(_.name).toSet
    // one dataset per dim (coordinate var or phantom) + per non-coord var
    case class Ds(name: String, v: Var, isScale: Boolean, dimid: Int)
    val scaleDs = dims.zipWithIndex.map { case (d, i) =>
      vars.find(v => v.name == d.name && v.dimIds == Seq(i)) match {
        case Some(v) => Ds(d.name, v, isScale = true, i)
        case None => Ds(d.name,
          Var(d.name, Seq(i), NetCdf.NcFloat, Nil,
            Array.fill(d.size)(0.0f)), isScale = true, i)
      }
    }
    val dataDs = vars.filterNot(v => scaleDs.exists(_.v eq v))
      .map(v => Ds(v.name, v, isScale = false, -1))
    val all = (scaleDs ++ dataDs).sortBy(_.name) // SNOD requires name order

    // ---- chunk plans (chunkDeflate): split each data variable into
    // ≥2 chunks per dimension, shuffle + deflate each chunk
    case class ChunkPlan(chunkDims: Seq[Int], elemSize: Int,
        chunks: Seq[(Seq[Long], Array[Byte])]) {
      def rank: Int = chunkDims.length
      def keySize: Int = 8 + 8 * (rank + 1)
      def btreeSize: Int = 24 + chunks.length * (keySize + 8) + keySize
      def regionSize: Int = btreeSize + chunks.map(_._2.length).sum
    }
    val plans: Map[String, ChunkPlan] =
      if (!chunkDeflate) Map.empty
      else dataDs.filter(_.v.dimIds.nonEmpty).map { d =>
        val shape = d.v.dimIds.map(dims(_).size.toLong)
        val elem = NetCdf.typeSize(d.v.ncType)
        val data = dataBytes(d.v)
        val cd = shape.map(s => ((s + 1) / 2).toInt)
        val fullChunk = cd.map(_.toLong).product.toInt * elem
        val grid = shape.zip(cd).map { case (s, c) => (s + c - 1) / c }
        val chunks = cartesian(grid).map { ix =>
          val off = ix.zip(cd).map { case (i, c) => i * c }
          val buf = new Array[Byte](fullChunk)
          ndCopy(data, shape, elem, buf, cd, off, toChunk = true)
          val sh = shuffleBytes(buf, elem)
          val stored = chunkCodec match {
            case "lzf" => lzfCompress(sh)
            case "lz4" => lz4FilterCompress(sh)
            case "zstd" => zstdFilterCompress(sh)
            case _ => deflateBytes(sh)
          }
          (off, stored)
        }
        d.name -> ChunkPlan(cd, elem, chunks)
      }.toMap

    // ---- pass 1: serialize headers with dummy addresses to get sizes
    // vlen-string attr heap indices: the DIMENSION_LIST refs first
    // (1..refCount), then every variable's text attrs in `all` order,
    // then the global attrs — GCOL emission below follows the same
    // order so index assignment is closed-form
    val refCount = dataDs.map(_.v.dimIds.length).sum
    def vsBase(d: Ds): Int =
      refCount + all.takeWhile(_ ne d).map(_.v.attrs.length).sum
    val vsGlobalBase = refCount + all.map(_.v.attrs.length).sum
    val vsStrings: Seq[String] =
      if (!vlenStringAttrs) Nil
      else all.flatMap(_.v.attrs.map(_._2)) ++ globalAttrs.map(_._2)
    val needGheap = dataDs.exists(_.v.dimIds.nonEmpty) || vsStrings.nonEmpty
    def dsHeader(d: Ds, dataAddr: Long, gheapAddr: Long): Array[Byte] = {
      val shape = d.v.dimIds.map(dims(_).size.toLong)
      val msgs = ArrayBuffer.empty[(Int, Array[Byte])]
      msgs += ((0x0001, dsSimple(shape)))
      msgs += ((0x0003, dtFor(d.v.ncType)))
      plans.get(d.name) match {
        case Some(p) =>
          val layout = new Buf
          layout.u8(3); layout.u8(2) // v3, chunked
          layout.u8(p.rank + 1)
          layout.u64(dataAddr) // chunk B-tree address
          p.chunkDims.foreach(layout.u32)
          layout.u32(p.elemSize)
          msgs += ((0x0008, layout.result()))
          // filter pipeline v1: shuffle (id 2) then deflate (id 1) or
          // lzf (id 32000 — non-predefined ids carry their name)
          val f = new Buf
          f.u8(1); f.u8(2); f.u16(0); f.u32(0)
          f.u16(2); f.u16(0); f.u16(0); f.u16(1); f.u32(p.elemSize); f.u32(0)
          chunkCodec match {
            case "lzf" =>
              f.u16(32000); f.u16(8); f.u16(0); f.u16(1)
              f.bytes("lzf".getBytes("US-ASCII")); f.zeros(5) // name, 8-padded
              f.u32(p.chunkDims.product * p.elemSize); f.u32(0)
            case "lz4" => // registered id 32004; cd_values[0] = block size
              f.u16(32004); f.u16(8); f.u16(0); f.u16(1)
              f.bytes("lz4".getBytes("US-ASCII")); f.zeros(5)
              f.u32(1 << 16); f.u32(0)
            case "zstd" => // registered id 32015; cd_values[0] = level
              f.u16(32015); f.u16(8); f.u16(0); f.u16(1)
              f.bytes("zstd".getBytes("US-ASCII")); f.zeros(4)
              f.u32(3); f.u32(0)
            case _ =>
              f.u16(1); f.u16(0); f.u16(0); f.u16(1); f.u32(6); f.u32(0)
          }
          msgs += ((0x000B, f.result()))
        case None =>
          val layout = new Buf
          layout.u8(3); layout.u8(1) // v3, contiguous
          layout.u64(dataAddr); layout.u64(dataBytes(d.v).length.toLong)
          msgs += ((0x0008, layout.result()))
      }
      if (d.isScale) {
        msgs += textAttr("CLASS", "DIMENSION_SCALE")
        val nm = if (coordNames(d.name)) d.name
          else f"$PhantomPrefix.%%10d".format(dims(d.dimid).size)
        msgs += textAttr("NAME", nm)
        msgs += intAttr("_Netcdf4Dimid", d.dimid)
      } else if (d.v.dimIds.nonEmpty) {
        // DIMENSION_LIST: rank vlen descriptors into the global heap,
        // gheap object k+1 = the ref list for axis k of this variable
        val base = gheapIndexBase(dataDs, d)
        val data = new Buf
        d.v.dimIds.indices.foreach { k =>
          data.u32(1); data.u64(gheapAddr); data.u32(base + k + 1)
        }
        msgs += ((0x000C, attrBody("DIMENSION_LIST", dtVlenRefSeq,
          dsSimple(Seq(d.v.dimIds.length.toLong)), data.result())))
      }
      if (vlenStringAttrs) {
        val base = vsBase(d)
        d.v.attrs.zipWithIndex.foreach { case ((k, v2), j) =>
          msgs += vlenTextAttr(k, v2, gheapAddr, base + j + 1)
        }
      } else d.v.attrs.foreach { case (k, v2) => msgs += textAttr(k, v2) }
      d.v.numAttrs.foreach { case (k, v2) =>
        msgs += numericAttr(k, v2, d.v.ncType)
      }
      objectHeader(msgs.toSeq)
    }
    def gheapIndexBase(ds: Seq[Ds], d: Ds): Int =
      ds.takeWhile(_ ne d).map(_.v.dimIds.length).sum

    // group storage message: old-style symbol table (0x0011) or, in
    // dense mode, a Link Info message (0x0002) pointing at the fractal
    // heap + name-index v2 btree
    def linkInfoBody(fh: Long, bt: Long): Array[Byte] = {
      val b = new Buf; b.u8(0); b.u8(0); b.u64(fh); b.u64(bt); b.result()
    }
    // dense attrs: an Attribute Info message (0x0015) pointing at the
    // attribute fractal heap + type-8 name-index v2 btree, in place of
    // the inline 0x000C messages
    def attrInfoBody(fh: Long, bt: Long): Array[Byte] = {
      val b = new Buf; b.u8(0); b.u8(0); b.u64(fh); b.u64(bt); b.result()
    }
    def rootAttrMsgs(fh: Long, bt: Long, gheap: Long): Seq[(Int, Array[Byte])] =
      if (denseAttrs) Seq((0x0015, attrInfoBody(fh, bt)))
      else if (vlenStringAttrs) globalAttrs.zipWithIndex.map {
        case ((k, v), j) => vlenTextAttr(k, v, gheap, vsGlobalBase + j + 1)
      }
      else globalAttrs.map { case (k, v) => textAttr(k, v) }
    val rootHeader0 = objectHeader(
      (if (denseGroups) ((0x0002, linkInfoBody(0L, 0L)))
       else ((0x0011, { val b = new Buf; b.u64(0L); b.u64(0L); b.result() }))) +:
        rootAttrMsgs(0L, 0L, 0L))
    val headerSizes = all.map(d => dsHeader(d, 0L, 0L).length)

    // ---- layout (classic):  superblock | root hdr | heap hdr | heap
    //      data | btree | SNOD | dataset headers | gheap | raw data
    // ---- layout (dense):    superblock | root hdr | dataset headers |
    //      gheap | FRHP | FHDB | BTHD | BTLF | raw data
    val heapData = new Buf
    heapData.zeros(8) // offset 0 = the empty string
    val nameOff = LinkedHashMap.empty[String, Long]
    all.foreach { d =>
      nameOff(d.name) = heapData.out.length.toLong
      heapData.bytes(d.name.getBytes("US-ASCII") :+ 0.toByte)
      heapData.padTo8()
    }
    val heapDataBytes = heapData.result()

    val rootHdrAddr = 96L
    val heapHdrAddr = rootHdrAddr + rootHeader0.length
    val heapDataAddr = heapHdrAddr + 32
    val btreeAddr = heapDataAddr + heapDataBytes.length
    val btreeSize = 24 + 3 * 8 // 1 entry: key0, child0, key1
    val snodAddr = btreeAddr + btreeSize
    val snodSize = 8 + 40 * all.length
    val dsHdrStart =
      if (denseGroups) rootHdrAddr + rootHeader0.length
      else snodAddr + snodSize
    val dsHdrAddrs = headerSizes.scanLeft(dsHdrStart)(_ + _)
    val gheapAddr = dsHdrAddrs.last
    // GCOL sized from the actual reference count (16-byte collection
    // header + 24 bytes per object reference + 16-byte free-space
    // object), rounded up to a 4096-byte quantum — a fixed 4096 heap
    // silently shifts every later data address once a WRF-scale file
    // carries more than ~169 var→dim references.
    val gheapRefs = refCount
    val vsBytes = vsStrings
      .map(s => 16 + ((s.getBytes("UTF-8").length + 7) / 8) * 8).sum
    val gheapSize =
      if (needGheap)
        ((16 + 24 * gheapRefs + vsBytes + 16 + 4095) / 4096) * 4096
      else 0

    // ---- dense-mode structures (fractal heap + v2 name-index btree),
    // sized before data so data addresses follow them. Link/attribute
    // heaps pack into one root direct block when they fit 64 KiB, else
    // a root indirect block of direct children; name indexes emit one
    // leaf when it fits the 2048-byte node, else a depth-1 tree — the
    // shapes the reader's general walkers take, planned by
    // [[planWriterHeap]]/[[planWriterBtree]] (both raise loudly at
    // their documented ceilings).
    val linkNameBytes = all.map(_.name.getBytes("UTF-8"))
    val linkSizes = linkNameBytes.map { nb =>
      require(nb.length <= 255, "link name longer than 255 bytes")
      3 + nb.length + 8
    }
    val frhpSize = 146
    // plans (and their ceilings' requires) only exist under their
    // flags — a classic-mode file with a >4 KiB attribute or tens of
    // thousands of datasets must not trip DENSE limits it never uses
    val lHeap = if (denseGroups) planWriterHeap(linkSizes, "dense group links")
      else NoHeapPlan
    val lBt = if (denseGroups) planWriterBtree(all.length, 11, "dense group links")
      else noBtreePlan(11)
    val fheapAddr = gheapAddr + gheapSize
    val bthdAddr = fheapAddr + frhpSize + lHeap.storageSize

    // ---- dense-attribute structures: the same FRHP/FHDB/BTHD shapes
    // as dense links, holding whole attribute-message BODIES as heap
    // objects and 17-byte type-8 records (8-byte heap id + msg flags +
    // creation order + name hash) in the name-index btree
    val attrBodies =
      if (vlenStringAttrs) globalAttrs.zipWithIndex.map { case ((k, v), j) =>
        vlenTextAttr(k, v, gheapAddr, vsGlobalBase + j + 1)._2
      }
      else globalAttrs.map { case (k, v) => textAttr(k, v)._2 }
    val attrNameBytes = globalAttrs.map(_._1.getBytes("UTF-8"))
    val aHeap = if (denseAttrs)
      planWriterHeap(attrBodies.map(_.length), "dense attributes")
      else NoHeapPlan
    val aBt = if (denseAttrs)
      planWriterBtree(globalAttrs.length, 17, "dense attributes")
      else noBtreePlan(17)
    val aBase =
      if (denseGroups) bthdAddr + lBt.storageSize else gheapAddr + gheapSize
    val aFheapAddr = aBase
    val aBthdAddr = aFheapAddr + frhpSize + aHeap.storageSize

    val dataStart =
      if (denseAttrs) aBthdAddr + aBt.storageSize
      else if (denseGroups) bthdAddr + lBt.storageSize
      else gheapAddr + gheapSize
    val dataAddrs = all.map(d => plans.get(d.name)
        .map(_.regionSize).getOrElse(dataBytes(d.v).length))
      .scanLeft(dataStart)(_ + _)
    val eof = dataAddrs.last

    val addrOf: Map[String, Long] = all.zip(dsHdrAddrs).map {
      case (d, a) => d.name -> a
    }.toMap

    // ---- pass 2: assemble
    val out = new Buf
    out.bytes(Signature)
    out.u8(0); out.u8(0); out.u8(0); out.u8(0) // sb v0, fs v0, root v0
    out.u8(0); out.u8(8); out.u8(8); out.u8(0) // shared v0, offs 8, len 8
    // group-leaf K must satisfy 2K >= entries in the single SNOD we
    // emit — libhdf5 sizes symbol-table nodes from this K, so a file
    // with >8 objects under the default K=4 reads garbage past entry 8.
    val leafK = math.max(4, (all.length + 1) / 2)
    out.u16(leafK); out.u16(16); out.u32(0) // leaf k, internal k, flags
    out.u64(0L); out.u64(Undef); out.u64(eof); out.u64(Undef)
    // root symbol table entry: name "", header addr, no cache
    out.u64(0L); out.u64(rootHdrAddr); out.u32(0); out.u32(0); out.zeros(16)

    out.bytes(objectHeader(
      (if (denseGroups) ((0x0002, linkInfoBody(fheapAddr, bthdAddr)))
       else ((0x0011, { val b = new Buf
         b.u64(btreeAddr); b.u64(heapHdrAddr); b.result() }))) +:
        rootAttrMsgs(aFheapAddr, aBthdAddr, gheapAddr)))

    if (!denseGroups) {
      out.bytes("HEAP".getBytes("US-ASCII")); out.u8(0); out.zeros(3)
      out.u64(heapDataBytes.length.toLong); out.u64(Undef); out.u64(heapDataAddr)
      out.bytes(heapDataBytes)

      out.bytes("TREE".getBytes("US-ASCII")); out.u8(0); out.u8(0)
      out.u16(1); out.u64(Undef); out.u64(Undef)
      out.u64(0L) // key 0: the empty string
      out.u64(snodAddr)
      out.u64(nameOff(all.last.name)) // key 1: greatest name in the node

      out.bytes("SNOD".getBytes("US-ASCII")); out.u16(1); out.u16(all.length)
      all.foreach { d =>
        out.u64(nameOff(d.name)); out.u64(addrOf(d.name))
        out.u32(0); out.u32(0); out.zeros(16)
      }
    }

    all.zip(dataAddrs).foreach { case (d, dataAddr) =>
      out.bytes(dsHeader(d, dataAddr, gheapAddr))
    }

    if (needGheap) {
      val g = new Buf
      g.bytes("GCOL".getBytes("US-ASCII")); g.u8(1); g.zeros(3)
      g.u64(gheapSize.toLong)
      var idx = 0
      dataDs.foreach { d =>
        d.v.dimIds.foreach { dimId =>
          idx += 1
          g.u16(idx); g.u16(1); g.u32(0); g.u64(8L)
          g.u64(addrOf(dims(dimId).name)) // one object reference
        }
      }
      // vlen-string attr payloads, same order the index assignment used
      vsStrings.foreach { s =>
        idx += 1
        val bytes = s.getBytes("UTF-8")
        g.u16(idx); g.u16(1); g.u32(0); g.u64(bytes.length.toLong)
        g.bytes(bytes); g.padTo8()
      }
      // free-space object (index 0): size includes its own 16-byte header
      require(g.out.length + 16 <= gheapSize,
        s"global heap overflow: ${g.out.length + 16} > $gheapSize bytes")
      val free = gheapSize - g.out.length
      g.u16(0); g.u16(0); g.u32(0); g.u64(free.toLong)
      g.zeros(gheapSize - g.out.length)
      out.bytes(g.result())
    }

    def checksummed(b: Buf): Array[Byte] = {
      val body = b.result(); b.u32(lookup3(body, 0)); b.result()
    }
    // FRHP header — geometry mirrors libhdf5's group-link heap
    // defaults (width 4, 64 KiB max direct block, 32-bit heap space,
    // 4 KiB max managed object ⇒ 7-byte heap-id content; dense attrs
    // pad theirs to the type-8 record's fixed 8)
    def frhpHeader(idLen: Int, plan: WHeapPlan, contentBytes: Long,
        count: Long, rootBlock: Long): Array[Byte] = {
      val allocated = plan.blockSizes.sum
      val managed = if (plan.multi) plan.span else plan.startBlock
      val free = allocated - WHeapHdr.toLong * plan.blockSizes.length -
        contentBytes
      val fr = new Buf
      fr.bytes("FRHP".getBytes("US-ASCII")); fr.u8(0)
      fr.u16(idLen); fr.u16(0); fr.u8(0) // id len, filter len, flags
      fr.u32(4096) // max managed object size
      fr.u64(0L); fr.u64(Undef) // next huge id, huge btree
      fr.u64(free); fr.u64(Undef) // free space, fs mgr
      fr.u64(managed); fr.u64(allocated) // managed, allocated
      fr.u64(allocated) // iterator offset
      fr.u64(count) // managed object count
      fr.u64(0L); fr.u64(0L); fr.u64(0L); fr.u64(0L) // huge/tiny sizes+counts
      fr.u16(4) // table width
      fr.u64(plan.startBlock); fr.u64(65536L) // start / max direct block
      fr.u16(32) // max heap bits
      // starting rows in the root indirect block: a creation hint, but
      // libhdf5 validates header geometry — a multi-block heap whose
      // root ALREADY holds curRows rows must not claim it started at 1
      fr.u16(if (plan.multi) plan.curRows else 1)
      fr.u64(rootBlock); fr.u16(plan.curRows) // root block addr, rows
      checksummed(fr)
    }
    /** FRHP + (FHIB when multi-block +) FHDBs holding `objs` laid out
      * per `plan`, starting at `frhpAddr`. */
    def emitFHeap(idLen: Int, plan: WHeapPlan, frhpAddr: Long,
        objs: Seq[Array[Byte]]): Unit = {
      out.bytes(frhpHeader(idLen, plan, objs.map(_.length.toLong).sum,
        objs.length.toLong, frhpAddr + frhpSize))
      val n = plan.blockSizes.length
      val firstBlockAddr = frhpAddr + frhpSize +
        (if (plan.multi) plan.fhibSize.toLong else 0L)
      val blockAddrs = plan.blockSizes.scanLeft(firstBlockAddr)(_ + _)
      if (plan.multi) {
        // packing never skips a slot (start block = managed max), so
        // allocated blocks are exactly the first n (row, col) slots
        val ib = new Buf
        ib.bytes("FHIB".getBytes("US-ASCII")); ib.u8(0)
        ib.u64(frhpAddr); ib.u32(0) // heap header addr, block offset
        (0 until plan.curRows * 4).foreach { s =>
          ib.u64(if (s < n) blockAddrs(s) else Undef)
        }
        out.bytes(checksummed(ib))
      }
      var obj = 0
      var objOff = 0
      plan.blockSizes.indices.foreach { j =>
        val db = new Buf
        db.bytes("FHDB".getBytes("US-ASCII")); db.u8(0)
        db.u64(frhpAddr); db.u32(plan.blockBases(j).toInt)
        while (obj < objs.length && {
          objOff = plan.objOffsets(obj).toInt
          objOff >= plan.blockBases(j) &&
            objOff < plan.blockBases(j) + plan.blockSizes(j)
        }) { db.bytes(objs(obj)); obj += 1 }
        db.zeros((plan.blockSizes(j) - db.out.length).toInt)
        out.bytes(db.result())
      }
      require(obj == objs.length, s"heap emission dropped objects: $obj")
    }
    /** BTHD + (single leaf | BTIN + leaves) for hash-sorted `records`
      * per `plan`, starting at `addr`. */
    def emitNameBtree(btype: Int, plan: WBtreePlan,
        records: IndexedSeq[Array[Byte]], addr: Long): Unit = {
      val bh = new Buf
      bh.bytes("BTHD".getBytes("US-ASCII")); bh.u8(0); bh.u8(btype)
      bh.u32(2048); bh.u16(plan.recSize); bh.u16(plan.depth)
      bh.u8(100); bh.u8(40) // split / merge percent
      bh.u64(addr + 38)
      bh.u16(if (plan.depth == 0) plan.n else plan.leafCounts.length - 1)
      bh.u64(plan.n.toLong)
      out.bytes(checksummed(bh))
      def leaf(recs: Seq[Array[Byte]]): Unit = {
        val lf = new Buf
        lf.bytes("BTLF".getBytes("US-ASCII")); lf.u8(0); lf.u8(btype)
        recs.foreach(lf.bytes)
        out.bytes(checksummed(lf))
      }
      if (plan.depth == 0) leaf(records)
      else {
        val nl = plan.leafCounts.length
        val leafAddrs = (0 until nl).scanLeft(addr + 38 + plan.btinSize) {
          (a, j) => a + plan.leafSize(j)
        }
        val it = new Buf
        it.bytes("BTIN".getBytes("US-ASCII")); it.u8(0); it.u8(btype)
        (0 until nl - 1).foreach(j => it.bytes(records(plan.sepIdx(j))))
        (0 until nl).foreach { j =>
          it.u64(leafAddrs(j)); it.u8(plan.leafCounts(j))
        }
        out.bytes(checksummed(it))
        (0 until nl).foreach { j =>
          leaf((0 until plan.leafCounts(j)).map(i =>
            records(plan.leafStart(j) + i)))
        }
      }
    }
    if (denseGroups) {
      // link messages as heap objects, in link order
      val linkMsgs = all.zip(linkNameBytes).map { case (d, nb) =>
        val m = new Buf
        m.u8(1); m.u8(0) // link message v1, flags: 1-byte name length
        m.u8(nb.length); m.bytes(nb)
        m.u64(addrOf(d.name))
        m.result()
      }
      emitFHeap(7, lHeap, fheapAddr, linkMsgs)
      // 11-byte type-5 records (4 hash + 7-byte heap id) in hash order
      val records = all.indices.map { i =>
        (lookup3(linkNameBytes(i), 0) & 0xffffffffL, i)
      }.sortBy(_._1).map { case (hash, i) =>
        val r = new Buf
        r.u32(hash.toInt)
        r.u8(0) // heap id flags: version 0, managed
        r.u32(lHeap.objOffsets(i).toInt); r.u16(linkSizes(i))
        r.result()
      }.toIndexedSeq
      emitNameBtree(5, lBt, records, bthdAddr)
    }

    if (denseAttrs) {
      emitFHeap(8, aHeap, aFheapAddr, attrBodies)
      // 17-byte type-8 records (8-byte heap id + msg flags + creation
      // order + name hash) in hash order
      val records = globalAttrs.indices.map { i =>
        (lookup3(attrNameBytes(i), 0) & 0xffffffffL, i)
      }.sortBy(_._1).map { case (hash, i) =>
        val r = new Buf
        // 8-byte heap id: flags, 4-byte offset, 2-byte length, 1 pad
        r.u8(0); r.u32(aHeap.objOffsets(i).toInt)
        r.u16(attrBodies(i).length); r.u8(0)
        r.u8(0) // message flags: not shared
        r.u32(i) // creation order
        r.u32(hash.toInt)
        r.result()
      }.toIndexedSeq
      emitNameBtree(8, aBt, records, aBthdAddr)
    }

    all.zip(dataAddrs).foreach { case (d, addr) =>
      plans.get(d.name) match {
        case Some(p) =>
          // chunk B-tree (v1, node type 1, single level-0 node)
          val t = new Buf
          t.bytes("TREE".getBytes("US-ASCII"))
          t.u8(1); t.u8(0); t.u16(p.chunks.length)
          t.u64(Undef); t.u64(Undef)
          var chunkAddr = addr + p.btreeSize
          p.chunks.foreach { case (off, bytes) =>
            t.u32(bytes.length); t.u32(0) // stored size, filter mask
            off.foreach(t.u64); t.u64(0L)
            t.u64(chunkAddr)
            chunkAddr += bytes.length
          }
          // trailing key: the dataset extent (ignored by readers)
          t.u32(0); t.u32(0)
          d.v.dimIds.foreach(i => t.u64(dims(i).size.toLong)); t.u64(0L)
          out.bytes(t.result())
          p.chunks.foreach { case (_, bytes) => out.bytes(bytes) }
        case None => out.bytes(dataBytes(d.v))
      }
    }
    Files.write(Paths.get(path), out.result())
  }

  // ===================================================== reader =====

  /** Seek-based file access: every metadata structure is read as a
    * bounded window and data as an exact range — a scan task never
    * loads the whole file (the property that makes per-(file, slab)
    * partition pruning real for multi-GB NetCDF-4 inputs). */
  private final class R(file: java.io.RandomAccessFile, val base: Long) {
    var szOff = 8
    var szLen = 8
    private val fileLen = file.length()
    /** Upper bound for any header-claimed decompressed size (see
      * [[Hdf5.checkedBytes]]): ~1032x is deflate's maximum ratio. */
    def maxClaim: Long = fileLen * 1100L + (1L << 20)
    def window(addr: Long, len: Long): ByteBuffer = {
      val n = math.max(math.min(len, fileLen - (base + addr)), 0L).toInt
      val b = new Array[Byte](n)
      file.seek(base + addr)
      file.readFully(b)
      ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    }
    /** Default metadata window. Structures that can outgrow it (SNODs,
      * B-tree nodes, object headers) re-window to their exact size. */
    def at(addr: Long): ByteBuffer = window(addr, 1 << 16)
    def atLen(addr: Long, len: Long): ByteBuffer = window(addr, len)
    def offset(b: ByteBuffer): Long =
      if (szOff == 8) b.getLong else b.getInt.toLong & 0xffffffffL
    def length(b: ByteBuffer): Long =
      if (szLen == 8) b.getLong else b.getInt.toLong & 0xffffffffL
  }

  private def withFile[T](path: String)(f: (R, Long) => T): T = {
    val raf = new java.io.RandomAccessFile(path, "r")
    try {
      val head = new Array[Byte](8)
      raf.readFully(head)
      var sbOff = 0L
      if (!head.sameElements(Signature)) {
        var probe = 512L
        var found = -1L
        while (found < 0 && probe + 8 < raf.length()) {
          raf.seek(probe)
          val b = new Array[Byte](8); raf.readFully(b)
          if (b.sameElements(Signature)) found = probe else probe *= 2
        }
        require(found >= 0, "not an HDF5 file")
        sbOff = found
      }
      val (r, rootAddr) = openSuperblock(raf, sbOff)
      f(r, rootAddr)
    } finally raf.close()
  }

  private def openSuperblock(raf: java.io.RandomAccessFile,
      sbOff: Long): (R, Long) = {
    val r0 = new R(raf, 0L)
    val sb = r0.window(sbOff + 8, 64)
    val sbVer = sb.get() & 0xff
    val (szOff, szLen, rootAddr) = sbVer match {
      case 0 | 1 =>
        sb.get(); sb.get(); sb.get(); sb.get()
        val so = sb.get() & 0xff
        val sl = sb.get() & 0xff
        sb.get()
        sb.getShort; sb.getShort; sb.getInt
        if (sbVer == 1) sb.getInt
        r0.szOff = so; r0.szLen = sl
        val baseAddr = r0.offset(sb)
        r0.offset(sb); r0.offset(sb); r0.offset(sb)
        r0.offset(sb) // root STE: link name offset
        val hdr = r0.offset(sb)
        require(baseAddr == sbOff, "unexpected base address")
        (so, sl, hdr)
      case 2 | 3 =>
        val so = sb.get() & 0xff
        val sl = sb.get() & 0xff
        sb.get() // consistency flags
        r0.szOff = so; r0.szLen = sl
        val baseAddr = r0.offset(sb)
        r0.offset(sb) // superblock extension
        r0.offset(sb) // eof
        val hdr = r0.offset(sb)
        require(baseAddr == sbOff, "unexpected base address")
        (so, sl, hdr)
      case v => throw new IllegalArgumentException(s"superblock v$v")
    }
    val r = new R(raf, sbOff)
    r.szOff = szOff; r.szLen = szLen
    (r, rootAddr)
  }

  /** `vlenType` is the class-9 sub-type from the bit field (0 =
    * sequence, 1 = string), -1 for non-vlen classes. */
  private[io] case class Dtype(clazz: Int, size: Int, littleEndian: Boolean,
    base: Option[Dtype], vlenType: Int = -1)

  /** Dataset METADATA — everything needed to decode data later via
    * ranged reads (the Parquet-footer analogue). Exactly one of
    * (dataAddr, compactBytes, chunked) describes the layout. */
  private[io] case class Dataset(name: String, addr: Long, shape: Seq[Long],
    dtype: Dtype, dataAddr: Long, dataSize: Long,
    compactBytes: Array[Byte], chunked: (Long, Seq[Int], Int),
    filters: Seq[(Int, Seq[Int])],
    textAttrs: Seq[(String, String)], intAttrs: Map[String, Long],
    dimRefs: Seq[Long], floatAttrs: Map[String, Double] = Map.empty) {
    /** Scalar numeric attributes as doubles — the CF decode inputs
      * (_FillValue, scale_factor, add_offset), ints and floats merged
      * with float values winning a name clash (they can't clash in a
      * valid file: one attribute name appears once per object). */
    def numAttrs: Seq[(String, Double)] =
      (intAttrs.map { case (k, v) => k -> v.toDouble } ++ floatAttrs).toSeq
  }

  private def cstr(b: Array[Byte]): String =
    new String(b.takeWhile(_ != 0), "US-ASCII")

  private def parseDtype(b: ByteBuffer): Dtype = {
    val start = b.position()
    val cv = b.get() & 0xff
    val clazz = cv & 0x0f
    val bits0 = b.get() & 0xff; b.get(); b.get()
    val size = b.getInt
    val le = (bits0 & 1) == 0
    val base = clazz match {
      case 9 => // vlen: properties = base datatype
        Some(parseDtype(b))
      case _ =>
        // skip fixed-size properties we don't need beyond class+size
        clazz match {
          case 0 => b.position(b.position() + 4)
          case 1 => b.position(b.position() + 12)
          case _ => ()
        }
        None
    }
    val _ = (cv, start)
    Dtype(clazz, size, le, base, if (clazz == 9) bits0 & 0x0f else -1)
  }

  private def parseDataspace(b: ByteBuffer): Seq[Long] = {
    val ver = b.get() & 0xff
    val rank = b.get() & 0xff
    val flags = b.get() & 0xff
    if (ver == 1) b.position(b.position() + 5)
    else b.get() // v2: type byte
    val dims = (0 until rank).map(_ => b.getLong)
    if ((flags & 1) != 0) b.position(b.position() + rank * 8) // max dims
    dims
  }

  /** Resolve a SHARED header message (flag bit 1 on the message, or
    * the shared-dt/ds bits of an attribute): the body is replaced by a
    * Shared Message encoding whose v1/v2 (and v3 type-2, "committed")
    * forms point at the OBJECT HEADER the real message lives in —
    * which is how a committed (named) datatype reaches every dataset
    * and attribute that uses it. The v3 type-1 form (file-wide SOHM
    * fractal heap, opt-in via H5Pset_shared_mesg_nindexes) raises
    * loudly. Returns the target header's message of the same type. */
  private def resolveShared(r: R, msgType: Int, b: ByteBuffer,
      depth: Int): ByteBuffer = {
    require(depth < 8, "shared-message indirection deeper than 8")
    val ver = b.get() & 0xff
    val typ = b.get() & 0xff
    val addr = ver match {
      case 1 =>
        b.position(b.position() + 6) // reserved
        r.offset(b)
      case 2 | 3 =>
        require(typ != 1,
          "shared message in the SOHM heap unsupported (committed/by-address forms decode)")
        r.offset(b)
      case v => throw new IllegalArgumentException(s"shared message v$v")
    }
    require(addr != Undef, "shared message with undefined address")
    headerMessages(r, addr, depth + 1).collectFirst {
      case (t, body) if t == msgType => body
    }.getOrElse(throw new IllegalArgumentException(
      s"shared message target header at $addr lacks a type-$msgType message"))
  }

  /** All (type, bodyBuffer) messages of an object header, v1 or v2,
    * following continuation blocks, with SHARED messages resolved to
    * their committed bodies ([[resolveShared]]). Each header area is
    * read as one exact-size window. */
  private def headerMessages(r: R, addr: Long,
      sharedDepth: Int = 0): Seq[(Int, ByteBuffer)] = {
    val out = ArrayBuffer.empty[(Int, ByteBuffer)]
    def add(t: Int, msgFlags: Int, body: ByteBuffer): Unit =
      out += ((t,
        if ((msgFlags & 0x02) != 0) resolveShared(r, t, body, sharedDepth)
        else body))
    val probe = r.window(addr, 48)
    val first = probe.get(0) & 0xff
    if (first == 'O') { // v2: "OHDR"
      val sig = new Array[Byte](4); probe.get(sig)
      require(new String(sig, "US-ASCII") == "OHDR", "bad object header")
      require((probe.get() & 0xff) == 2, "object header version")
      val flags = probe.get() & 0xff
      if ((flags & 0x20) != 0) probe.position(probe.position() + 16) // times
      if ((flags & 0x10) != 0) probe.position(probe.position() + 4) // phase
      val chunkSize = (flags & 0x3) match {
        case 0 => probe.get() & 0xffL
        case 1 => probe.getShort & 0xffffL
        case 2 => probe.getInt & 0xffffffffL
        case _ => probe.getLong
      }
      val track = (flags & 0x04) != 0
      def scan(b: ByteBuffer, end: Int): Unit =
        while (b.position() < end - 3) { // gap may be < message header
          val t = b.get() & 0xff
          val sz = b.getShort & 0xffff
          val mf = b.get() & 0xff // message flags
          if (track) b.position(b.position() + 2)
          val body = b.duplicate().order(ByteOrder.LITTLE_ENDIAN)
          if (t == 0x0010) { // OCHK continuation block
            val ca = r.offset(body); val cl = r.length(body)
            val cb = r.window(ca, cl)
            val cs = new Array[Byte](4); cb.get(cs)
            require(new String(cs, "US-ASCII") == "OCHK", "bad continuation")
            scan(cb, (cl - 4).toInt) // trailing checksum
          } else add(t, mf, body)
          b.position(b.position() + sz)
        }
      scan(r.window(addr + probe.position(), chunkSize), chunkSize.toInt)
    } else { // v1
      require((probe.get() & 0xff) == 1, "object header version")
      probe.get()
      val nMsgs = probe.getShort & 0xffff
      probe.getInt // reference count
      val hdrSize = probe.getInt // size of chunk-0 message data
      var remaining = nMsgs
      var cursor = r.window(addr + 16, hdrSize.toLong) // after 4-byte pad
      var limit = hdrSize.toLong
      val continuations = ArrayBuffer.empty[(Long, Long)]
      while (remaining > 0) {
        if (cursor.position() + 8 > limit && continuations.nonEmpty) {
          val (ca, cl) = continuations.remove(0)
          cursor = r.window(ca, cl); limit = cl
        }
        val t = cursor.getShort & 0xffff
        val sz = cursor.getShort & 0xffff
        val mf = cursor.get() & 0xff
        cursor.position(cursor.position() + 3)
        val body = cursor.duplicate().order(ByteOrder.LITTLE_ENDIAN)
        if (t == 0x0010) { // continuation
          continuations += ((r.offset(body), r.length(body)))
        } else add(t, mf, body)
        cursor.position(cursor.position() + sz)
        remaining -= 1
      }
    }
    out.toSeq
  }

  private case class Attr(name: String, dtype: Dtype, shape: Seq[Long],
    data: ByteBuffer) {
    /** Element count bounded by the bytes actually present in the
      * message body: an attribute's value is INLINE, so a crafted
      * dataspace can never legitimately demand more than
      * `data.remaining()` — without this, a mutated shape turns into
      * a fatal multi-GB allocation (fuzz-caught: OutOfMemoryError
      * aborts the whole suite on a loaded JVM; the require here is a
      * catchable reject). */
    def boundedElems(elemSize: Int): Int =
      Hdf5.checkedAttrElems(name, shape, data.remaining(), elemSize)
  }

  /** Attribute element-count bound, exposed for direct spec coverage.
    * The product is overflow-checked: a crafted multi-dim shape (e.g.
    * 2^33 x 2^31 = 2^64, wrapping a plain Long product to 0 -> "1
    * element") would otherwise pass the byte bound as a silently-tiny
    * read; multiplyExact turns the wrap into the same loud reject. */
  private[graft] def checkedAttrElems(name: String, shape: Seq[Long],
      avail: Int, elemSize: Int): Int = {
    // negative dims first: a high-bit u64 dim read as a signed Long
    // (e.g. 2^63) does NOT overflow multiplyExact — the product just
    // goes negative and `max 1L` would collapse it to a silently-tiny
    // 1-element read, the same class the overflow check closes
    shape.foreach(d => require(d >= 0, s"$name: negative attribute dim $d"))
    val n = (try shape.foldLeft(1L)(Math.multiplyExact)
      catch { case _: ArithmeticException => Long.MaxValue }) max 1L
    require(n >= 1 && n <= avail && elemSize > 0 && n * elemSize <= avail,
      s"$name: attribute claims $n x $elemSize bytes with only " +
        s"$avail present")
    n.toInt
  }

  private def parseAttr(b: ByteBuffer, r: R): Attr = {
    val ver = b.get() & 0xff
    require(ver >= 1 && ver <= 3, s"attribute message v$ver")
    val flags = b.get() & 0xff // v1: reserved (0)
    val nameSize = b.getShort & 0xffff
    val dtSize = b.getShort & 0xffff
    val dsSize = b.getShort & 0xffff
    if (ver == 3) b.get() // name charset
    // v2/v3 flag bits: 0 = datatype shared, 1 = dataspace shared — the
    // slot then holds a Shared Message encoding (committed datatypes
    // are the real-world case), resolved through the same machinery
    // header-level shared messages use
    val dtShared = ver >= 2 && (flags & 0x1) != 0
    val dsShared = ver >= 2 && (flags & 0x2) != 0
    require((!dtShared && !dsShared) || r != null,
      "shared attr dt/ds in a context without file access")
    def block(n: Int): ByteBuffer = {
      val d = b.duplicate().order(ByteOrder.LITTLE_ENDIAN)
      val padded = if (ver == 1) (n + 7) & ~7 else n
      b.position(b.position() + padded)
      d
    }
    val nameBuf = block(nameSize)
    val nb = new Array[Byte](nameSize); nameBuf.get(nb)
    val dtBlk = block(dtSize)
    val dt = parseDtype(if (dtShared) resolveShared(r, 0x0003, dtBlk, 0) else dtBlk)
    val dsBlk = block(dsSize)
    val shape =
      parseDataspace(if (dsShared) resolveShared(r, 0x0001, dsBlk, 0) else dsBlk)
    Attr(cstr(nb), dt, shape, b.duplicate().order(ByteOrder.LITTLE_ENDIAN))
  }

  /** Payload of global-heap object `idx` in the GCOL at `gaddr`, as a
    * buffer whose remaining() is exactly the object size. The walk is
    * bounded by the collection's declared size, so a crafted file
    * cannot spin past the heap or claim an object beyond it. */
  private def globalHeapObject(r: R, gaddr: Long, idx: Int): ByteBuffer = {
    require(idx >= 1, s"global heap index $idx")
    val g = r.at(gaddr)
    val sig = new Array[Byte](4); g.get(sig)
    require(new String(sig, "US-ASCII") == "GCOL", "bad global heap")
    g.get(); g.position(g.position() + 3)
    val collSize = r.length(g) // includes the 16-byte collection header
    val end = math.min(g.position() - 16L + collSize, g.limit().toLong)
    while (g.position() + 16 <= end) {
      val oIdx = g.getShort & 0xffff
      g.getShort; g.getInt
      val oSize = r.length(g)
      if (oIdx == 0) { // free-space object terminates the walk
        throw new IllegalArgumentException(s"global heap object $idx not found")
      }
      require(oSize >= 0 && g.position() + oSize <= end,
        s"global heap object $oIdx of $oSize bytes overruns the collection")
      if (oIdx == idx) {
        val d = g.duplicate().order(ByteOrder.LITTLE_ENDIAN)
        d.limit(d.position() + oSize.toInt)
        return d
      }
      g.position(g.position() + ((oSize + 7) & ~7L).toInt)
    }
    throw new IllegalArgumentException(s"global heap object $idx not found")
  }

  /** Read one vlen-of-object-reference attribute value (DIMENSION_LIST):
    * per element, the first reference of its sequence. */
  private def readVlenRefs(r: R, a: Attr): Seq[Long] = {
    val n = a.boundedElems(16) // 16-byte vlen descriptors, stored inline
    val b = a.data
    (0 until n).map { _ =>
      val len = b.getInt
      val gaddr = r.offset(b)
      val idx = b.getInt
      require(len >= 1, "empty DIMENSION_LIST entry")
      val obj = globalHeapObject(r, gaddr, idx)
      require(obj.remaining() >= 8, "DIMENSION_LIST heap object too small")
      r.offset(obj)
    }
  }

  /** Read a vlen-STRING attribute value (h5py and some netcdf-c paths
    * write ALL NetCDF-4 string attributes this way): per element a
    * (length, global-heap address, index) descriptor whose heap object
    * holds the character payload. Multi-element values join with ", "
    * — the in-memory attr model is string-valued, and CF text
    * attributes are scalars in practice. */
  private def readVlenStrings(r: R, a: Attr): String = {
    val n = a.boundedElems(16) // 16-byte vlen descriptors, stored inline
    val b = a.data
    (0 until n).map { _ =>
      val len = b.getInt
      val gaddr = r.offset(b)
      val idx = b.getInt
      if (len == 0 || gaddr == Undef) "" // h5py's empty / null string
      else {
        val obj = globalHeapObject(r, gaddr, idx)
        require(len <= obj.remaining(),
          s"vlen string of $len chars in a ${obj.remaining()}-byte heap object")
        val bytes = new Array[Byte](len)
        obj.get(bytes)
        new String(bytes, "UTF-8")
      }
    }.mkString(", ")
  }

  // -------------------- dense (fractal-heap) group link storage -----
  // "Latest-format" libhdf5 (which libnetcdf enables for NetCDF-4
  // files) stores group links in a FRACTAL HEAP indexed by a v2
  // B-tree of (name-hash, heap id) records instead of the old
  // symbol-table node — reader support per the published File Format
  // Specification IV.A.2 (v2 B-trees) and III.F/G (fractal heaps).

  /** `H5VM_limit_enc_size`: bytes needed to encode values ≤ v. */
  private def encSize(v: Long): Int = {
    require(v > 0)
    ((63 - java.lang.Long.numberOfLeadingZeros(v)) / 8) + 1
  }

  private def uintAt(b: ByteBuffer, n: Int): Long = {
    var v = 0L
    var k = 0
    while (k < n) { v |= (b.get() & 0xffL) << (8 * k); k += 1 }
    v
  }

  /** One allocated direct block of a fractal heap: its starting heap
    * offset, logical (decompressed) size, file address, and — for
    * FILTERED heaps — the stored (on-disk) size and filter mask
    * (−1/0 when unfiltered). */
  private final case class FBlock(heapOff: Long, size: Long, addr: Long,
      stored: Long, mask: Int)

  /** Fractal heap geometry from an FRHP header — enough to resolve a
    * managed heap id to its bytes. `blocks` is the flat directory of
    * every allocated direct block sorted by heap offset (built by
    * walking the root indirect block and any nested indirect blocks —
    * the doubling table is global, so each FHIB's internal rows follow
    * the same row-size function from row 0); for a FILTERED heap
    * ([[filters]] non-empty) direct blocks are de-filtered whole and
    * sliced, with a per-heap one-block cache — link iteration touches
    * blocks in heap-offset order, so the working set is a single
    * decompressed block. */
  private final class FHeap(r: R, val offSize: Int, val lenSize: Int,
      blocks: Vector[FBlock], blockChecksums: Boolean,
      filters: Seq[(Int, Seq[Int])]) {

    /** (block address, stored size, mask, logical size, offset within
      * block) for heap offset `off` — heap offsets include each direct
      * block's header bytes, so locating is a binary search over the
      * sorted block directory. */
    private def locate(off: Long): (Long, Long, Int, Long, Long) = {
      var lo = 0; var hi = blocks.length - 1; var idx = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (blocks(mid).heapOff <= off) { idx = mid; lo = mid + 1 }
        else hi = mid - 1
      }
      require(idx >= 0, s"heap offset $off before first allocated block")
      val blk = blocks(idx)
      require(off < blk.heapOff + blk.size,
        s"heap offset $off in unallocated block")
      (blk.addr, blk.stored, blk.mask, blk.size, off - blk.heapOff)
    }

    private var cachedAddr: Long = Undef
    private var cachedBlock: Array[Byte] = null

    /** Managed-object bytes at heap offset `off`. */
    def read(off: Long, len: Long): ByteBuffer = {
      val (addr, stored, mask, logical, within) = locate(off)
      if (filters.isEmpty) r.window(addr + within, len)
      else {
        if (addr != cachedAddr) {
          val raw = new Array[Byte](stored.toInt)
          r.atLen(addr, stored).get(raw)
          cachedBlock = unfilterChunk(raw, mask, filters, logical.toInt, 1,
            "fractal heap direct block")
          val sig = new String(cachedBlock.take(4), "US-ASCII")
          require(sig == "FHDB", s"bad de-filtered direct block: '$sig'")
          cachedAddr = addr
        }
        require(within + len <= cachedBlock.length,
          s"heap object at $off+$len beyond block end")
        ByteBuffer.wrap(cachedBlock, within.toInt, len.toInt).slice()
          .order(ByteOrder.LITTLE_ENDIAN)
      }
    }
  }

  private def parseFractalHeap(r: R, addr: Long): FHeap = {
    val szOff = r.szOff; val szLen = r.szLen
    val hdrSize = 14 + 2 * szOff + 10 * szLen + 2 + 2 * szLen + 2 + 2 + szOff + 2 + 4
    // peek the I/O-filter length (bytes 7-8) to size the full window:
    // a filtered heap appends filtered-root-size + mask + pipeline
    val peek = r.window(addr, 9L)
    peek.position(7)
    val ioFilterLen = peek.getShort & 0xffff
    val fullSize = hdrSize +
      (if (ioFilterLen > 0) szLen + 4 + ioFilterLen else 0)
    val b = r.window(addr, fullSize.toLong)
    val sig = new Array[Byte](4); b.get(sig)
    require(new String(sig, "US-ASCII") == "FRHP", "bad fractal heap header")
    require((b.get() & 0xff) == 0, "fractal heap version")
    b.getShort // heap id length (recomputed from geometry below)
    b.getShort // ioFilterLen, already peeked
    val flags = b.get() & 0xff
    val maxManaged = b.getInt & 0xffffffffL
    uintAt(b, szLen) // next huge id
    r.offset(b) // huge-object btree
    uintAt(b, szLen) // free space
    r.offset(b) // free-space manager
    uintAt(b, szLen); uintAt(b, szLen); uintAt(b, szLen) // managed/alloc/iter
    uintAt(b, szLen) // n managed
    uintAt(b, szLen); uintAt(b, szLen); uintAt(b, szLen); uintAt(b, szLen)
    val width = b.getShort & 0xffff
    val startBlock = uintAt(b, szLen)
    val maxDirect = uintAt(b, szLen)
    val maxHeapBits = b.getShort & 0xffff
    b.getShort // starting rows
    val rootAddr = r.offset(b)
    val curRows = b.getShort & 0xffff
    // filtered heap: stored size + mask of the ROOT direct block (only
    // meaningful when curRows == 0) and the I/O filter pipeline, in
    // the same encoding as object-header message 0x000B
    val (filters, rootStored, rootMask) =
      if (ioFilterLen == 0) (Nil, -1L, 0)
      else {
        val fs = uintAt(b, szLen)
        val fm = b.getInt
        (parseFilterPipeline(b), fs, fm)
      }
    val offSize = (maxHeapBits + 7) / 8
    // heap_len_size = min(bytes for log2(maxDirect) bits, enc size of
    // the max managed object size) — libhdf5's H5HF_hdr math
    val maxDirBlkOffSize =
      (63 - java.lang.Long.numberOfLeadingZeros(maxDirect) + 7) / 8
    val lenSz = math.min(maxDirBlkOffSize, encSize(maxManaged))
    require(width > 0 && java.lang.Long.bitCount(width.toLong) == 1,
      s"fractal heap table width $width not a power of two")
    require(startBlock > 0 && java.lang.Long.bitCount(startBlock) == 1 &&
      maxDirect >= startBlock && java.lang.Long.bitCount(maxDirect) == 1,
      s"fractal heap block sizes $startBlock/$maxDirect not powers of two")
    def log2(v: Long): Int = 63 - java.lang.Long.numberOfLeadingZeros(v)
    val maxDirectRows = log2(maxDirect) - log2(startBlock) + 2
    def rowSize(row: Int): Long =
      if (row < 2) startBlock else startBlock << (row - 1)
    // nrows spanned by a child indirect block covering `span` bytes:
    // libhdf5's H5HF_dtable_size_to_rows
    def rowsForSpan(span: Long): Int =
      log2(span) - log2(startBlock) - log2(width.toLong) + 1
    // Walk the indirect-block tree into a flat directory of allocated
    // direct blocks. Rows < maxDirectRows of any FHIB hold direct-block
    // entries (+ stored size & mask when the heap is filtered); rows
    // beyond hold bare-address indirect children, each spanning that
    // row's block size and recursing with the global doubling table.
    val blockDir = Vector.newBuilder[FBlock]
    var nBlocks = 0L
    def walkIndirect(addr: Long, baseOff: Long, nrows: Int, depth: Int): Unit = {
      require(depth <= 16, "fractal heap indirect nesting beyond 16 levels")
      require(nrows >= 1 && nrows <= 2 * maxHeapBits,
        s"implausible indirect block row count $nrows")
      val nDir = math.min(nrows, maxDirectRows)
      val nInd = nrows - nDir
      // a filtered heap's indirect block carries (address, stored
      // size, mask) per DIRECT entry; indirect entries are bare
      val dirEntry = szOff + (if (ioFilterLen > 0) szLen + 4 else 0)
      val winLen = (4 + 1 + szOff + offSize).toLong +
        nDir.toLong * width * dirEntry + nInd.toLong * width * szOff + 4
      val ib = r.window(addr, winLen)
      val is = new Array[Byte](4); ib.get(is)
      require(new String(is, "US-ASCII") == "FHIB", "bad indirect block")
      require((ib.get() & 0xff) == 0, "indirect block version")
      r.offset(ib) // heap header address
      uintAt(ib, offSize) // block offset
      var row = 0
      var rowStart = 0L
      while (row < nrows) {
        val rs = rowSize(row)
        var col = 0
        while (col < width) {
          val off = baseOff + rowStart + col * rs
          val a = r.offset(ib)
          if (row < maxDirectRows) {
            val (st, mk) =
              if (ioFilterLen > 0) (uintAt(ib, szLen), ib.getInt) else (-1L, 0)
            if (a != Undef) {
              blockDir += FBlock(off, rs, a, st, mk)
              nBlocks += 1
              require(nBlocks <= (1L << 24),
                "fractal heap direct-block count beyond 16M")
            }
          } else if (a != Undef) {
            walkIndirect(a, off, rowsForSpan(rs), depth + 1)
          }
          col += 1
        }
        rowStart += width * rs
        row += 1
      }
    }
    val blocks: Vector[FBlock] =
      if (curRows == 0) {
        // root IS a single direct block
        if (rootAddr == Undef) Vector.empty
        else Vector(FBlock(0L, startBlock, rootAddr, rootStored, rootMask))
      } else {
        walkIndirect(rootAddr, 0L, curRows, 0)
        val v = blockDir.result()
        // the walk emits in (row, col) order per block, parents before
        // children — sort by heap offset for the binary search
        v.sortBy(_.heapOff)
      }
    // sanity-check the first direct block when unfiltered (a filtered
    // block is checked after de-filtering, in FHeap.read)
    if (blocks.nonEmpty && ioFilterLen == 0) {
      val db = r.window(blocks.head.addr, 5)
      val ds = new Array[Byte](4); db.get(ds)
      require(new String(ds, "US-ASCII") == "FHDB", "bad direct block")
    }
    new FHeap(r, offSize, lenSz, blocks, (flags & 0x2) != 0, filters)
  }

  /** All records of a v2 B-tree as raw record buffers, any depth,
    * in-order (left child, separator record, next child, …). Child
    * pointers inside an internal node at depth d are
    * (address, nrec[, all_nrec]) where nrec is sized to encode the
    * LEAF max record count (hdr->max_nrec_size in H5B2hdr.c — the
    * leaf holds the most records of any node type) and all_nrec — the
    * total records in the child's whole subtree, present only when the
    * child is itself internal (d ≥ 2) — is sized to encode the child
    * depth's cumulative max (node_info[d−1].cum_max_nrec_size). */
  private def v2BtreeRecords(r: R, addr: Long): Seq[Array[Byte]] = {
    val szOff = r.szOff; val szLen = r.szLen
    val hb = r.window(addr, (4 + 1 + 1 + 4 + 2 + 2 + 1 + 1 + szOff + 2 + szLen + 4).toLong)
    val sig = new Array[Byte](4); hb.get(sig)
    require(new String(sig, "US-ASCII") == "BTHD", "bad v2 btree header")
    require((hb.get() & 0xff) == 0, "v2 btree version")
    val btype = hb.get() & 0xff
    val nodeSize = hb.getInt
    val recSize = hb.getShort & 0xffff
    val depth = hb.getShort & 0xffff
    hb.get(); hb.get() // split/merge percent
    val rootAddr = r.offset(hb)
    val rootNRec = hb.getShort & 0xffff
    uintAt(hb, szLen) // total records
    val _ = btype
    require(recSize > 0, "v2 btree record size 0")
    require(depth <= 16, s"implausible v2 btree depth $depth")

    // libhdf5's H5B2_hdr_init sizing math: per-child-pointer field
    // widths derive from the max records a node at each depth can hold
    val maxLeafRec = (nodeSize - 10) / recSize
    require(maxLeafRec > 0, s"v2 btree node size $nodeSize too small")
    val nrecSize = encSize(maxLeafRec.toLong) // hdr->max_nrec_size
    // cumSize(u) = bytes to encode the total records of a depth-u
    // subtree (node_info[u].cum_max_nrec_size); cumSize(0) = 0
    val cumSize = new Array[Int](math.max(depth, 1))
    var cumMax = maxLeafRec.toLong
    var u = 1
    while (u < depth) {
      val ptr = szOff + nrecSize + cumSize(u - 1)
      val maxN = (nodeSize - 10 - ptr) / (recSize + ptr)
      require(maxN > 0, s"v2 btree node size $nodeSize too small for depth $depth")
      // two-step bound so (maxN+1)*cumMax + maxN cannot wrap Long
      cumMax =
        if (cumMax > (Long.MaxValue - maxN) / (maxN + 1)) Long.MaxValue / 4
        else (maxN + 1) * cumMax + maxN
      cumSize(u) = encSize(cumMax)
      u += 1
    }

    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]

    def walk(a: Long, nrec: Int, d: Int): Unit = {
      if (d == 0) {
        val b = r.window(a, (4 + 1 + 1).toLong + nrec.toLong * recSize + 4)
        val s = new Array[Byte](4); b.get(s)
        require(new String(s, "US-ASCII") == "BTLF", "bad v2 btree leaf")
        b.get(); b.get() // version, type
        var i = 0
        while (i < nrec) {
          val rec = new Array[Byte](recSize); b.get(rec); out += rec; i += 1
        }
      } else {
        val extra = cumSize(d - 1)
        val ptrSz = szOff + nrecSize + extra
        val b = r.window(a,
          (4 + 1 + 1).toLong + nrec.toLong * recSize + (nrec + 1).toLong * ptrSz + 4)
        val s = new Array[Byte](4); b.get(s)
        require(new String(s, "US-ASCII") == "BTIN", "bad v2 btree internal")
        b.get(); b.get() // version, type
        val recs = (0 until nrec).map { _ =>
          val rec = new Array[Byte](recSize); b.get(rec); rec
        }
        val kids = (0 to nrec).map { _ =>
          val ka = r.offset(b)
          val kn = uintAt(b, nrecSize).toInt
          if (extra > 0) uintAt(b, extra) // all_nrec in child subtree
          (ka, kn)
        }
        var i = 0
        while (i <= nrec) {
          walk(kids(i)._1, kids(i)._2, d - 1)
          if (i < nrec) out += recs(i)
          i += 1
        }
      }
    }

    walk(rootAddr, rootNRec, depth)
    out.toSeq
  }

  /** Parse one link message body: Some(name -> object header address)
    * for hard links, None otherwise. */
  private def parseLinkMessage(r: R, b: ByteBuffer): Option[(String, Long)] = {
    require((b.get() & 0xff) == 1, "link message version")
    val flags = b.get() & 0xff
    val ltype = if ((flags & 0x08) != 0) b.get() & 0xff else 0
    if ((flags & 0x04) != 0) b.position(b.position() + 8) // creation order
    if ((flags & 0x10) != 0) b.get() // charset
    val nameLen = (flags & 0x3) match {
      case 0 => b.get() & 0xffL
      case 1 => b.getShort & 0xffffL
      case 2 => b.getInt & 0xffffffffL
      case _ => b.getLong
    }
    val nb = new Array[Byte](nameLen.toInt); b.get(nb)
    if (ltype == 0) Some((new String(nb, "UTF-8"), r.offset(b))) else None
  }

  /** (name, object header address) pairs of a DENSE group: iterate the
    * name-index v2 B-tree's (hash, heap id) records and resolve each
    * managed heap id into the fractal heap's direct blocks. */
  private def readDenseLinks(r: R, fheapAddr: Long, nameBt: Long): Seq[(String, Long)] = {
    val heap = parseFractalHeap(r, fheapAddr)
    require(nameBt != Undef, "dense group without name index btree")
    v2BtreeRecords(r, nameBt).flatMap { rec =>
      val b = ByteBuffer.wrap(rec).order(ByteOrder.LITTLE_ENDIAN)
      b.getInt // name hash (lookup3) — unused: we read every record
      val idFlags = b.get() & 0xff
      require(((idFlags >> 4) & 0x3) == 0,
        "huge/tiny fractal heap object unsupported")
      val off = uintAt(b, heap.offSize)
      val len = uintAt(b, heap.lenSize)
      parseLinkMessage(r, heap.read(off, len))
    }
  }

  /** Attribute message bodies stored DENSELY (Attribute Info message
    * 0x0015): latest-format libhdf5 moves an object's attributes into
    * a fractal heap indexed by a type-8 name v2 B-tree once they
    * exceed the compact threshold (8 by default) — the exact analogue
    * of dense LINK storage, resolved with the same heap and B-tree
    * machinery. Real modern NetCDF-4 files with many global attributes
    * hit this path (VERDICT r12 #6). Returns the raw attribute-message
    * bodies in name order (hash-index order is not deterministic
    * across files); shared attribute messages raise loudly. */
  private def denseAttrMessages(r: R, b: ByteBuffer): Seq[ByteBuffer] = {
    b.get() // version
    val aiFlags = b.get() & 0xff
    if ((aiFlags & 1) != 0) b.getShort // max creation index
    val fheapAddr = r.offset(b)
    val nameBt = r.offset(b)
    if (fheapAddr == Undef) Nil
    else {
      require(nameBt != Undef, "dense attributes without name index btree")
      val heap = parseFractalHeap(r, fheapAddr)
      v2BtreeRecords(r, nameBt).map { rec =>
        // type-8 record: heap id (8 bytes, fixed) + message flags (1)
        // + creation order (4) + name hash (4)
        val rb = ByteBuffer.wrap(rec).order(ByteOrder.LITTLE_ENDIAN)
        val idFlags = rb.get() & 0xff
        require(((idFlags >> 4) & 0x3) == 0,
          "huge/tiny fractal heap object unsupported")
        val off = uintAt(rb, heap.offSize)
        val len = uintAt(rb, heap.lenSize)
        rb.position(8) // rest of the fixed-width heap id is padding
        val msgFlags = rb.get() & 0xff
        require((msgFlags & 0x02) == 0,
          "shared dense attribute message unsupported")
        heap.read(off, len)
      }.sortBy { body =>
        parseAttr(body.duplicate().order(ByteOrder.LITTLE_ENDIAN), r).name
      }
    }
  }

  /** Test hook: read a dense group's (name, address) links from a file
    * holding the fractal heap + name-index structures at the given
    * addresses (no superblock required — offsets are absolute). */
  private[graft] def denseLinksForTest(path: String, fheapAddr: Long,
      nameBt: Long): Seq[(String, Long)] = {
    val raf = new java.io.RandomAccessFile(path, "r")
    try readDenseLinks(new R(raf, 0L), fheapAddr, nameBt)
    finally raf.close()
  }

  /** Test hook: the 0x0003 datatype of the object header at `addr`
    * (absolute offsets, no superblock), shared messages resolved. */
  private[graft] def dtypeForTest(path: String, addr: Long): String = {
    val raf = new java.io.RandomAccessFile(path, "r")
    try {
      val r = new R(raf, 0L)
      headerMessages(r, addr).collectFirst {
        case (0x0003, b) => parseDtype(b).toString
      }.getOrElse(throw new IllegalArgumentException("no datatype message"))
    } finally raf.close()
  }

  /** Test hook: the first 0x000C attribute of the object header at
    * `addr` as (name, dtype, shape), shared dt/ds resolved. */
  private[graft] def attrForTest(path: String, addr: Long): (String, String, Seq[Long]) = {
    val raf = new java.io.RandomAccessFile(path, "r")
    try {
      val r = new R(raf, 0L)
      headerMessages(r, addr).collectFirst {
        case (0x000C, b) =>
          val a = parseAttr(b, r)
          (a.name, a.dtype.toString, a.shape)
      }.getOrElse(throw new IllegalArgumentException("no attribute message"))
    } finally raf.close()
  }

  private def decode(dtype: Dtype, shape: Seq[Long], raw: ByteBuffer): Array[_] = {
    val n = shape.product.toInt max (if (shape.isEmpty) 1 else 0)
    val b = raw.order(
      if (dtype.littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    (dtype.clazz, dtype.size) match {
      case (1, 8) => Array.fill(n)(b.getDouble)
      case (1, 4) => Array.fill(n)(b.getFloat)
      case (0, 8) => Array.fill(n)(b.getLong)
      case (0, 4) => Array.fill(n)(b.getInt)
      case (0, 2) => Array.fill(n)(b.getShort.toInt)
      case (0, 1) | (3, 1) => val a = new Array[Byte](n); b.get(a); a
      case (3, sz) => // fixed strings → concatenated char payload
        val a = new Array[Byte](n * sz); b.get(a); a
      case (c, s) => throw new IllegalArgumentException(
        s"unsupported HDF5 datatype class $c size $s")
    }
  }

  private def ncTypeOf(d: Dtype): Int = (d.clazz, d.size) match {
    case (1, 8) => NetCdf.NcDouble
    case (1, 4) => NetCdf.NcFloat
    case (0, 8) => NetCdf.NcInt64
    case (0, 4) => NetCdf.NcInt
    case (0, 2) => NetCdf.NcShort
    case (0, 1) => NetCdf.NcByte
    case (3, _) => NetCdf.NcChar
    case (c, s) => throw new IllegalArgumentException(
      s"unsupported HDF5 datatype class $c size $s")
  }

  /** Walk a v1 chunk B-tree (node type 1), calling `f(offsets,
    * storedSize, filterMask, chunkAddr)` per leaf chunk. Nodes are read
    * as exact-size windows. */
  private def forEachChunk(r: R, btree: Long, rank: Int, name: String)(
      f: (Seq[Long], Int, Int, Long) => Unit): Unit = {
    val keySize = 8 + 8 * (rank + 1)
    def walk(a: Long, depth: Int): Unit = {
      // levels strictly decrease toward the leaves in a valid v1
      // b-tree; crafted child pointers that cycle back to a level>0
      // node would otherwise recurse to StackOverflowError — a
      // VirtualMachineError NonFatal cannot quarantine
      require(depth <= 64, s"$name: chunk btree deeper than 64 levels")
      val probe = r.window(a, 8)
      val sig = new Array[Byte](4); probe.get(sig)
      require(new String(sig, "US-ASCII") == "TREE", s"$name: bad chunk btree")
      require((probe.get() & 0xff) == 1, s"$name: wrong btree node type")
      val level = probe.get() & 0xff
      val used = probe.getShort & 0xffff
      val tb = r.window(a, 24L + used.toLong * (keySize + r.szOff) + keySize)
      tb.position(8)
      r.offset(tb); r.offset(tb) // siblings
      (0 until used).foreach { _ =>
        val storedSize = tb.getInt
        val mask = tb.getInt
        val offs = (0 to rank).map(_ => tb.getLong).init
        val child = r.offset(tb)
        if (level > 0) walk(child, depth + 1) else f(offs, storedSize, mask, child)
      }
    }
    if (btree != Undef) walk(btree, 0)
  }

  /** Parse a filter-pipeline body (object-header message 0x000B v1/v2,
    * also embedded verbatim in filtered fractal-heap headers) into
    * (filter id, client data) pairs. */
  private def parseFilterPipeline(b: ByteBuffer): Seq[(Int, Seq[Int])] = {
    val ver = b.get() & 0xff
    val nf = b.get() & 0xff
    if (ver == 1) { b.getShort; b.getInt }
    (0 until nf).map { _ =>
      val id = b.getShort & 0xffff
      val nameLen =
        if (ver == 1 || id >= 256) b.getShort & 0xffff else 0
      b.getShort // flags
      val nvals = b.getShort & 0xffff
      val skip = if (ver == 1) (nameLen + 7) & ~7 else nameLen
      b.position(b.position() + skip)
      val vals = (0 until nvals).map(_ => b.getInt)
      if (ver == 1 && nvals % 2 == 1) b.getInt // pad
      (id, vals)
    }
  }

  /** Reverse a chunk's filter pipeline (fletcher32 / deflate / shuffle)
    * down to `fullChunk` raw bytes. */
  private def unfilterChunk(stored: Array[Byte], mask: Int,
      filters: Seq[(Int, Seq[Int])], fullChunk: Int, elem: Int,
      name: String): Array[Byte] = {
    var bytes = stored
    filters.zipWithIndex.reverse.foreach { case ((id, cdata), i) =>
      if ((mask & (1 << i)) == 0) id match {
        case 1 => bytes = inflateBytes(bytes, fullChunk)
        case 2 => bytes = unshuffleBytes(bytes, cdata.headOption.getOrElse(elem))
        case 3 => bytes = bytes.dropRight(4) // fletcher32 checksum
        case 32000 => bytes = lzfDecompress(bytes, fullChunk, name) // h5py lzf
        case 32004 => bytes = lz4FilterDecompress(bytes, fullChunk, name)
        case 32015 => bytes = zstdFilterDecompress(bytes, fullChunk, name)
        case o =>
          // name the well-known ids (the registered-filter table) so
          // the raise tells the user WHICH compressor their file needs
          // rather than a bare number
          val known = Map(4 -> "szip", 5 -> "nbit", 6 -> "scaleoffset",
            32001 -> "blosc", 32008 -> "bitshuffle", 32013 -> "zfp")
          throw new IllegalArgumentException(
            s"$name: unsupported HDF5 filter id $o" +
              known.get(o).map(n => s" ($n)").getOrElse(""))
      }
    }
    require(bytes.length == fullChunk,
      s"$name: chunk decoded to ${bytes.length} bytes, expected $fullChunk")
    bytes
  }

  /** Read a whole chunked dataset into row-major raw bytes. */
  /** Overflow-checked Int product for header-claimed sizes: a crafted
    * shape whose product wraps `.toInt` would otherwise allocate a
    * silently-too-small (or negative) buffer. `maxBytes` additionally
    * bounds the claim by what the FILE could possibly hold — deflate
    * expands at most ~1032×, so a dataset cannot decompress to more
    * than ~1100× the stored bytes (documented limitation: a sparse
    * dataset whose unwritten extent exceeds that rejects too; this
    * writer never produces one). Without it a 2^30-element claim
    * passes the Int check and OOMs the scan task under heap pressure —
    * found by CodecFuzzSpec under the full-suite heap. */
  private def checkedBytes(dims: Seq[Long], elem: Int, name: String,
      maxBytes: Long): Int = {
    val cap = math.min(Int.MaxValue.toLong, maxBytes)
    val n = dims.foldLeft(elem.toLong) { (a, d) =>
      require(d >= 0, s"$name: negative dimension $d")
      val p = a * d
      require(d == 0 || (p / d == a && p <= cap),
        s"$name: claimed byte size ($dims x $elem) exceeds $cap")
      p
    }
    require(n <= cap, s"$name: claimed byte size $n exceeds $cap")
    n.toInt
  }

  private def readChunks(r: R, btree: Long, chunkDims: Seq[Int], elem: Int,
      shape: Seq[Long], filters: Seq[(Int, Seq[Int])], name: String): Array[Byte] = {
    val out = new Array[Byte](checkedBytes(shape, elem, name, r.maxClaim))
    val fullChunk = checkedBytes(chunkDims.map(_.toLong), elem, name, r.maxClaim)
    forEachChunk(r, btree, chunkDims.length, name) { (offs, storedSize, mask, child) =>
      // window() clamps to the file, so a header-claimed size beyond
      // the file is caught here BEFORE the storedSize allocation
      val w = r.atLen(child, storedSize.toLong)
      require(storedSize >= 0 && w.remaining() == storedSize,
        s"$name: chunk of $storedSize bytes at $child extends past the file")
      val stored = new Array[Byte](storedSize)
      w.get(stored)
      val bytes = unfilterChunk(stored, mask, filters, fullChunk, elem, name)
      ndCopy(out, shape, elem, bytes, chunkDims, offs, toChunk = false)
    }
    out
  }

  /** Recursively collect datasets reachable from a group header. */
  private def collect(r: R, addr: Long, prefix: String,
      out: ArrayBuffer[Dataset], gattrs: ArrayBuffer[(String, String)],
      isRoot: Boolean): Unit = {
    // dense attributes expand to ordinary 0x000C messages up front so
    // both the dataset and group branches see one attribute shape
    val msgs = headerMessages(r, addr).flatMap {
      case (0x0015, b) => denseAttrMessages(r, b).map(m => (0x000C, m))
      case m => Seq(m)
    }
    val types = msgs.map(_._1).toSet

    if (types.contains(0x0001) || types.contains(0x0008)) {
      // ---- dataset
      var shape: Seq[Long] = Nil
      var dtype: Dtype = null
      var dataAddr = Undef
      var dataSize = 0L
      var compact: Array[Byte] = null
      var chunked: (Long, Seq[Int], Int) = null // btree addr, chunk dims, elem size
      var filters: Seq[(Int, Seq[Int])] = Nil
      val tattrs = ArrayBuffer.empty[(String, String)]
      val iattrs = scala.collection.mutable.Map.empty[String, Long]
      val fattrs = scala.collection.mutable.Map.empty[String, Double]
      var dimRefs: Seq[Long] = Nil
      msgs.foreach {
        case (0x0001, b) => shape = parseDataspace(b)
        case (0x0003, b) => dtype = parseDtype(b)
        case (0x000B, b) => // filter pipeline
          filters = parseFilterPipeline(b)
        case (0x0008, b) =>
          val ver = b.get() & 0xff
          if (ver == 3) {
            val clazz = b.get() & 0xff
            clazz match {
              case 1 => dataAddr = r.offset(b); dataSize = r.length(b)
              case 0 =>
                val sz = b.getShort & 0xffff
                compact = new Array[Byte](sz)
                b.get(compact)
                dataSize = sz.toLong
              case 2 =>
                val ndim = b.get() & 0xff
                val btree = r.offset(b)
                val sizes = (0 until ndim).map(_ => b.getInt)
                chunked = (btree, sizes.init, sizes.last)
              case c => throw new IllegalArgumentException(
                s"$prefix: layout class $c unsupported")
            }
          } else { // v1/v2
            val rank = b.get() & 0xff
            val clazz = b.get() & 0xff
            b.position(b.position() + 5)
            require(clazz == 1,
              s"$prefix: layout v$ver class $clazz unsupported")
            dataAddr = r.offset(b)
            b.position(b.position() + 4 * rank)
            dataSize = -1
          }
        case (0x000C, b) =>
          val a = parseAttr(b, r)
          a.dtype.clazz match {
            case 3 =>
              val bytes = new Array[Byte](a.boundedElems(a.dtype.size) * a.dtype.size)
              a.data.get(bytes)
              tattrs += ((a.name, cstr(bytes)))
            case 0 if a.shape.isEmpty || a.shape.product == 1 =>
              iattrs(a.name) = a.dtype.size match {
                case 8 => a.data.getLong
                case 4 => a.data.getInt.toLong
                case 2 => a.data.getShort.toLong
                case _ => (a.data.get() & 0xff).toLong
              }
            case 1 if a.shape.isEmpty || a.shape.product == 1 =>
              // scalar float attrs: the CF packing inputs
              // (scale_factor / add_offset / float _FillValue)
              fattrs(a.name) = a.dtype.size match {
                case 8 => a.data.getDouble
                case _ => a.data.getFloat.toDouble
              }
            case 9 if a.dtype.vlenType == 1 =>
              tattrs += ((a.name, readVlenStrings(r, a)))
            case 9 if a.name == "DIMENSION_LIST" =>
              dimRefs = readVlenRefs(r, a)
            case _ => () // REFERENCE_LIST and friends: ignore
          }
        case _ => ()
      }
      require(dtype != null, s"$prefix: dataset without datatype")
      out += Dataset(prefix, addr, shape, dtype, dataAddr, dataSize,
        compact, chunked, filters, tattrs.toSeq, iattrs.toMap, dimRefs,
        fattrs.toMap)
    } else {
      // ---- group
      if (isRoot) msgs.foreach {
        case (0x000C, b) =>
          val a = parseAttr(b, r)
          if (a.dtype.clazz == 3) {
            val bytes = new Array[Byte](a.boundedElems(a.dtype.size) * a.dtype.size)
            a.data.get(bytes)
            gattrs += ((a.name, cstr(bytes)))
          } else if (a.dtype.clazz == 9 && a.dtype.vlenType == 1) {
            gattrs += ((a.name, readVlenStrings(r, a)))
          }
        case _ => ()
      }
      def child(name: String, a: Long): Unit = {
        val p = if (prefix.isEmpty) name else s"$prefix/$name"
        collect(r, a, p, out, gattrs, isRoot = false)
      }
      var sawLinks = false
      msgs.foreach {
        case (0x0011, b) => // old-style group: B-tree v1 + local heap
          sawLinks = true
          val btree = r.offset(b); val heap = r.offset(b)
          val hb = r.at(heap)
          val sig = new Array[Byte](4); hb.get(sig)
          require(new String(sig, "US-ASCII") == "HEAP", "bad local heap")
          hb.getInt // version + reserved
          r.length(hb); r.length(hb)
          val heapData = r.offset(hb)
          def nameAt(off: Long): String = {
            val nb = r.at(heapData + off)
            val sb = new StringBuilder
            var c = nb.get()
            while (c != 0) { sb.append(c.toChar); c = nb.get() }
            sb.toString
          }
          def walkBtree(a: Long): Unit = {
            val tb = r.at(a)
            val ts = new Array[Byte](4); tb.get(ts)
            require(new String(ts, "US-ASCII") == "TREE", "bad btree node")
            tb.get() // node type
            val level = tb.get() & 0xff
            val used = tb.getShort & 0xffff
            r.offset(tb); r.offset(tb) // siblings
            val children = (0 until used).map { _ =>
              r.length(tb) // key i
              r.offset(tb) // child i
            }
            // trailing key ignored
            children.foreach { c =>
              if (level > 0) walkBtree(c)
              else {
                val sb2 = r.at(c)
                val ss = new Array[Byte](4); sb2.get(ss)
                require(new String(ss, "US-ASCII") == "SNOD", "bad SNOD")
                sb2.getShort
                val nSyms = sb2.getShort & 0xffff
                (0 until nSyms).foreach { _ =>
                  val nOff = r.offset(sb2)
                  val hAddr = r.offset(sb2)
                  sb2.getInt; sb2.getInt
                  sb2.position(sb2.position() + 16)
                  child(nameAt(nOff), hAddr)
                }
              }
            }
          }
          walkBtree(btree)
        case (0x0006, b) => // new-style compact link message
          sawLinks = true
          parseLinkMessage(r, b).foreach { case (n, a) => child(n, a) }
        case (0x0002, b) => // link info: walk DENSE links when present
          b.get(); val liFlags = b.get() & 0xff
          if ((liFlags & 1) != 0) b.position(b.position() + 8)
          val fheap = r.offset(b)
          val nameBt = r.offset(b)
          if (fheap != Undef) {
            sawLinks = true
            // hash-index order is not name order — sort for the same
            // deterministic traversal the symbol-table path yields
            readDenseLinks(r, fheap, nameBt).sortBy(_._1)
              .foreach { case (n, a) => child(n, a) }
          }
        case _ => ()
      }
      val _ = sawLinks
    }
  }

  /** Decode a dataset's full contents via ranged reads. */
  private def readRaw(r: R, d: Dataset): ByteBuffer = {
    val elems = checkedBytes(d.shape, d.dtype.size, d.name, r.maxClaim) max d.dtype.size
    if (d.chunked != null) {
      val (btree, chunkDims, elemSize) = d.chunked
      if (btree == Undef) ByteBuffer.wrap(new Array[Byte](elems))
      else ByteBuffer.wrap(
        readChunks(r, btree, chunkDims, elemSize, d.shape, d.filters, d.name))
    } else if (d.compactBytes != null) ByteBuffer.wrap(d.compactBytes)
    else if (d.dataAddr == Undef) // never-written data: zeros
      ByteBuffer.wrap(new Array[Byte](elems))
    else {
      if (d.dataSize >= 0)
        require(d.dataSize >= elems, s"${d.name}: truncated data")
      r.atLen(d.dataAddr, elems)
    }
  }

  /** Shared dims/vars assembly from collected dataset metadata. */
  private def assemble(datasets: Seq[Dataset]): (Seq[Dim], Seq[(Dataset, Seq[Int])]) = {
    val scales = datasets.filter(_.textAttrs.exists {
      case ("CLASS", v) => v == "DIMENSION_SCALE"
      case _ => false
    })
    val ordered = scales.sortBy(d =>
      d.intAttrs.getOrElse("_Netcdf4Dimid", Long.MaxValue))
    val dims = ordered.map(d => Dim(d.name, d.shape.headOption.getOrElse(0L).toInt))
    val addrToDimId = ordered.zipWithIndex.map { case (d, i) => d.addr -> i }.toMap
    val sizeToDimIds: Map[Long, Seq[Int]] = dims.zipWithIndex
      .groupBy(_._1.size.toLong).map { case (s, ds) => s -> ds.map(_._2).toSeq }
    def isPhantom(d: Dataset): Boolean = d.textAttrs.exists {
      case ("NAME", v) => v.startsWith(PhantomPrefix)
      case _ => false
    }
    val vars = datasets.filterNot(isPhantom).map { d =>
      val dimIds: Seq[Int] =
        if (d.dimRefs.nonEmpty) d.dimRefs.map(addrToDimId)
        else if (addrToDimId.contains(d.addr)) Seq(addrToDimId(d.addr))
        else d.shape.map(s => sizeToDimIds.get(s) match {
          case Some(Seq(one)) => one
          case Some(many) => throw new IllegalArgumentException(
            s"${d.name}: no DIMENSION_LIST and dimension size $s is " +
              s"ambiguous (${many.map(dims(_).name).mkString(", ")})")
          case None => throw new IllegalArgumentException(
            s"${d.name}: no dimension of size $s")
        })
      (d, dimIds)
    }
    (dims.toSeq, vars)
  }

  private val InternalAttrs = Set("CLASS", "NAME", "DIMENSION_LIST",
    "REFERENCE_LIST", "_Netcdf4Dimid", "_Netcdf4Coordinates", "_NCProperties")

  /** Read a NetCDF-4 (HDF5) file into the same [[NetCdf.NcFile]] model
    * as the classic reader: dimensions from DIMENSION_SCALE datasets
    * (ordered by _Netcdf4Dimid when present), variables with dim ids
    * resolved through DIMENSION_LIST references, phantom scales
    * excluded from the variable list. */
  def read(path: String): NcFile = withFile(path) { (r, rootAddr) =>
    val datasets = ArrayBuffer.empty[Dataset]
    val gattrs = ArrayBuffer.empty[(String, String)]
    collect(r, rootAddr, "", datasets, gattrs, isRoot = true)
    val (dims, vars) = assemble(datasets.toSeq)
    val out = vars.map { case (d, dimIds) =>
      Var(d.name, dimIds, ncTypeOf(d.dtype),
        d.textAttrs.filterNot(a => InternalAttrs(a._1)),
        decode(d.dtype, d.shape, readRaw(r, d)),
        d.numAttrs.filterNot(a => InternalAttrs(a._1)))
    }
    NcFile(dims, gattrs.toSeq.filterNot(a => InternalAttrs(a._1)), out)
  }

  // ------------------------------------ distributed-scan meta API -----

  final case class H5VarMeta private[io] (name: String, dimIds: Seq[Int],
    ncType: Int, attrs: Seq[(String, String)], private[io] ds: Dataset) {
    /** Scalar numeric attrs — the CF decode inputs for the scan path. */
    def numAttrs: Seq[(String, Double)] = ds.numAttrs
  }
  final case class H5Meta private[io] (dims: Seq[Dim],
      globalAttrs: Seq[(String, String)], varsMeta: Seq[H5VarMeta]) {
    def varMeta(name: String): H5VarMeta = varsMeta.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no variable $name"))
  }

  /** Metadata-only read: group traversal + dataset headers, no data
    * decode — the planning step of a distributed .nc scan. */
  def readMeta(path: String): H5Meta = withFile(path) { (r, rootAddr) =>
    val datasets = ArrayBuffer.empty[Dataset]
    val gattrs = ArrayBuffer.empty[(String, String)]
    collect(r, rootAddr, "", datasets, gattrs, isRoot = true)
    val (dims, vars) = assemble(datasets.toSeq)
    H5Meta(dims, gattrs.toSeq.filterNot(a => InternalAttrs(a._1)),
      vars.map { case (d, dimIds) =>
        H5VarMeta(d.name, dimIds, ncTypeOf(d.dtype),
          d.textAttrs.filterNot(a => InternalAttrs(a._1)), d)
      })
  }

  private def toDoubles(a: Array[_]): Array[Double] = a match {
    case d: Array[Double] => d
    case f: Array[Float] => f.map(_.toDouble)
    case i: Array[Int] => i.map(_.toDouble)
    case l: Array[Long] => l.map(_.toDouble)
    case s: Array[Short] => s.map(_.toDouble)
    case b: Array[Byte] => b.map(_.toDouble)
    case other => throw new IllegalArgumentException(
      s"not a numeric array: ${other.getClass}")
  }

  /** Whole numeric variable as doubles (used for coordinate axes). */
  def readVarDouble(path: String, vm: H5VarMeta): Array[Double] =
    withFile(path) { (r, _) =>
      toDoubles(decode(vm.ds.dtype, vm.ds.shape, readRaw(r, vm.ds)))
    }

  /** One leading-dimension slab (e.g. one time step of a (t,y,x)
    * variable) as doubles. Contiguous layout reads exactly the slab's
    * byte range; chunked layout reads and unfilters ONLY the chunks
    * whose leading-dim extent covers the slab — a pruned slab's other
    * chunks are never touched. */
  def readVarSlabDouble(path: String, vm: H5VarMeta, slab: Int): Array[Double] =
    withFile(path) { (r, _) =>
      val ds = vm.ds
      require(ds.shape.nonEmpty, s"${ds.name}: scalar variable has no slabs")
      val restShape = ds.shape.tail
      val rest = (restShape.product max 1L).toInt
      val elem = ds.dtype.size
      val outBytes =
        if (ds.chunked != null) {
          val (btree, chunkDims, elemSize) = ds.chunked
          val fullChunk = chunkDims.map(_.toLong).product.toInt * elemSize
          val cdRest = chunkDims.tail.map(_.toLong).product.toInt
          val out = new Array[Byte](rest * elem)
          forEachChunk(r, btree, chunkDims.length, ds.name) {
            (offs, storedSize, mask, child) =>
              if (offs.head <= slab && slab < offs.head + chunkDims.head) {
                val stored = new Array[Byte](storedSize)
                r.atLen(child, storedSize.toLong).get(stored)
                val bytes = unfilterChunk(stored, mask, ds.filters,
                  fullChunk, elemSize, ds.name)
                val k = (slab - offs.head).toInt
                val slice = java.util.Arrays.copyOfRange(bytes,
                  k * cdRest * elem, (k + 1) * cdRest * elem)
                if (restShape.isEmpty)
                  System.arraycopy(slice, 0, out, 0, elem)
                else ndCopy(out, restShape, elem, slice, chunkDims.tail,
                  offs.tail, toChunk = false)
              }
          }
          out
        } else if (ds.compactBytes != null)
          java.util.Arrays.copyOfRange(ds.compactBytes,
            slab * rest * elem, (slab + 1) * rest * elem)
        else if (ds.dataAddr == Undef) new Array[Byte](rest * elem)
        else {
          val b = new Array[Byte](rest * elem)
          r.atLen(ds.dataAddr + slab.toLong * rest * elem, rest.toLong * elem).get(b)
          b
        }
      toDoubles(decode(ds.dtype, restShape, ByteBuffer.wrap(outBytes)))
    }
}
