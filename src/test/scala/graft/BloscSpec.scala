package graft

import java.nio.{ByteBuffer, ByteOrder}

import org.scalatest.funsuite.AnyFunSuite

import graft.io.Blosc

class BloscSpec extends AnyFunSuite {

  test("roundtrip: shuffled split lz4 over every typesize and size shape") {
    for {
      typesize <- Seq(1, 2, 4, 8, 16, 24) // 24 > MAX_SPLITS -> unsplit path
      n <- Seq(0, 1, 7, 64, 1000, 131072, 131072 + 17, 400000)
    } {
      // compressible-ish payload (low-entropy deltas) so the lz4 arm
      // actually engages rather than falling to the memcpy frame
      val raw = Array.tabulate(n)(i => ((i / 7) % 13).toByte)
      val frame = Blosc.compress(raw, typesize)
      val back = Blosc.decompress(frame, n)
      assert(back.toSeq == raw.toSeq, s"typesize=$typesize n=$n")
      // unpinned decode must agree
      assert(Blosc.decompress(frame).toSeq == raw.toSeq)
    }
  }

  test("roundtrip: incompressible payload falls to a memcpy frame") {
    val rnd = new scala.util.Random(7)
    val raw = Array.fill(4096)(rnd.nextInt().toByte)
    val frame = Blosc.compress(raw, 8)
    assert((frame(2) & 0x02) != 0, "expected the memcpy flag")
    assert(frame.length == raw.length + 16)
    assert(Blosc.decompress(frame, 4096).toSeq == raw.toSeq)
  }

  test("hand-built frame pins the documented layout (unsplit, raw stream)") {
    // 12 bytes, typesize 4, no shuffle, lz4 codec id, blocks-not-split,
    // single block whose one stream is stored RAW (clen == neblock) —
    // every byte below comes straight from README_HEADER.rst, so this
    // test fails if reader and writer share a mirrored misreading
    val payload = Array.tabulate(12)(i => (i + 1).toByte)
    val frame = ByteBuffer.allocate(16 + 4 + 4 + 12)
      .order(ByteOrder.LITTLE_ENDIAN)
    frame.put(2.toByte).put(1.toByte)
    frame.put(((1 << 5) | 0x10).toByte) // lz4, dont-split
    frame.put(4.toByte) // typesize
    frame.putInt(12) // nbytes
    frame.putInt(12) // blocksize
    frame.putInt(36) // cbytes = whole frame
    frame.putInt(20) // bstarts[0]: block 0 at offset 20
    frame.putInt(12) // stream clen == neblock -> raw
    frame.put(payload)
    assert(Blosc.decompress(frame.array(), 12).toSeq == payload.toSeq)
  }

  test("hand-built frame pins byte-shuffle + split stream order") {
    // 8 bytes as 4 elements of typesize 2, shuffled into two byte
    // planes, split into 2 raw streams: plane of low bytes then plane
    // of high bytes. Original elements (le u16): 0x0201 0x0403 0x0605
    // 0x0807 -> bytes 01 02 03 04 05 06 07 08; shuffle(typesize=2)
    // planes: [01 03 05 07] then [02 04 06 08].
    val frame = ByteBuffer.allocate(16 + 4 + (4 + 4) * 2)
      .order(ByteOrder.LITTLE_ENDIAN)
    frame.put(2.toByte).put(1.toByte)
    frame.put(((1 << 5) | 0x01).toByte) // lz4, byte-shuffle, split
    frame.put(2.toByte) // typesize
    frame.putInt(8) // nbytes
    frame.putInt(8) // blocksize
    frame.putInt(36) // cbytes
    frame.putInt(20) // bstarts[0]
    frame.putInt(4) // stream 0: raw (clen == neblock = 4)
    frame.put(Array[Byte](1, 3, 5, 7))
    frame.putInt(4) // stream 1: raw
    frame.put(Array[Byte](2, 4, 6, 8))
    assert(Blosc.decompress(frame.array(), 8).toSeq ==
      Seq[Byte](1, 2, 3, 4, 5, 6, 7, 8))
  }

  test("zlib and zstd and snappy sub-codecs decode") {
    // build unsplit single-block frames whose one stream is compressed
    // by each library directly — pins the codec-id mapping
    val payload = Array.tabulate(1000)(i => (i % 17).toByte)
    def frameWith(codecId: Int, stream: Array[Byte]): Array[Byte] = {
      val f = ByteBuffer.allocate(16 + 4 + 4 + stream.length)
        .order(ByteOrder.LITTLE_ENDIAN)
      f.put(2.toByte).put(1.toByte)
      f.put(((codecId << 5) | 0x10).toByte).put(1.toByte)
      f.putInt(payload.length).putInt(payload.length)
      f.putInt(16 + 4 + 4 + stream.length)
      f.putInt(20).putInt(stream.length).put(stream)
      f.array()
    }
    val zlibOut = new java.io.ByteArrayOutputStream()
    val d = new java.util.zip.Deflater(5)
    d.setInput(payload); d.finish()
    val tmp = new Array[Byte](4096)
    while (!d.finished()) zlibOut.write(tmp, 0, d.deflate(tmp))
    d.end()
    assert(Blosc.decompress(frameWith(3, zlibOut.toByteArray), 1000).toSeq ==
      payload.toSeq)
    val zstd = com.github.luben.zstd.Zstd.compress(payload, 3)
    assert(Blosc.decompress(frameWith(4, zstd), 1000).toSeq == payload.toSeq)
    val snap = org.xerial.snappy.Snappy.compress(payload)
    assert(Blosc.decompress(frameWith(2, snap), 1000).toSeq == payload.toSeq)
  }

  test("unsupported sub-codecs and filters raise loudly") {
    val raw = Array.tabulate(4096)(i => ((i / 16) % 7).toByte)
    val frame = Blosc.compress(raw, 4)
    assert((frame(2) & 0x02) == 0, "payload must not fall to a memcpy frame")
    val blosclz = frame.clone()
    blosclz(2) = (blosclz(2) & 0x1f).toByte // codec bits -> 0 (blosclz)
    val e1 = intercept[IllegalArgumentException](Blosc.decompress(blosclz, 4096))
    assert(e1.getMessage.contains("blosclz"))
    val bitshuf = frame.clone()
    bitshuf(2) = (bitshuf(2) | 0x04).toByte
    val e2 = intercept[IllegalArgumentException](Blosc.decompress(bitshuf, 4096))
    assert(e2.getMessage.contains("bit-shuffle"))
  }

  test("crafted giant blocksize rejects before the shuffle scratch alloc") {
    // the shuffle temp buffer is sized from the header's blocksize —
    // before the bound, a frame claiming blocksize near Int.MaxValue
    // forced a ~2 GB allocation ahead of any stream check (the same
    // fatal-OOM-in-scan-task class as the HDF5 attribute guard)
    val raw = Array.tabulate(8192)(i => ((i / 5) % 31).toByte)
    val frame = Blosc.compress(raw, 8)
    assert((frame(2) & 0x02) == 0 && (frame(2) & 0x01) != 0,
      "need a shuffled compressed frame")
    val m = frame.clone()
    ByteBuffer.wrap(m, 8, 4).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(Int.MaxValue - 8)
    val e = intercept[IllegalArgumentException](Blosc.decompress(m, 8192))
    assert(e.getMessage.contains("blocksize"), e.getMessage)
  }

  test("hostile mutations decode or raise, never hang or misallocate") {
    val raw = Array.tabulate(8192)(i => ((i / 5) % 31).toByte)
    val base = Blosc.compress(raw, 8)
    val rnd = new scala.util.Random(1234)
    var raised = 0
    for (_ <- 0 until 300) {
      val m = base.clone()
      val flips = 1 + rnd.nextInt(4)
      for (_ <- 0 until flips)
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      try {
        val out = Blosc.decompress(m, 8192)
        assert(out.length == 8192) // decoded SOMETHING of the pinned size
      } catch {
        case _: IllegalArgumentException | _: IndexOutOfBoundsException |
            _: net.jpountz.lz4.LZ4Exception => raised += 1
        case e: RuntimeException if e.getClass.getName.startsWith("com.github.luben") ||
            e.getClass.getName.startsWith("org.xerial") => raised += 1
        case _: java.io.IOException => raised += 1
      }
    }
    assert(raised > 0) // the gauntlet actually exercised failure paths
    // truncations of every length: reject, don't overrun
    for (cut <- Seq(0, 1, 8, 15, 16, 17, base.length / 2, base.length - 1)) {
      intercept[Exception](Blosc.decompress(java.util.Arrays.copyOf(base, cut), 8192))
    }
    // a header demanding more than the caller's pinned size must raise
    val grown = base.clone()
    ByteBuffer.wrap(grown, 4, 4).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(1 << 30)
    intercept[IllegalArgumentException](Blosc.decompress(grown, 8192))
    // a stream length near Int.MaxValue must not WRAP past the bounds
    // check into the native decoders (zstd/snappy would OOB-read):
    // unsplit zstd frame whose one stream claims 0x7ffffff0 bytes
    val wrap = ByteBuffer.allocate(16 + 4 + 4 + 8)
      .order(ByteOrder.LITTLE_ENDIAN)
    wrap.put(2.toByte).put(1.toByte)
    wrap.put(((4 << 5) | 0x10).toByte).put(1.toByte) // zstd, dont-split
    wrap.putInt(8192).putInt(8192).putInt(32)
    wrap.putInt(20).putInt(0x7ffffff0).put(Array.fill[Byte](8)(0))
    val e = intercept[IllegalArgumentException](
      Blosc.decompress(wrap.array(), 8192))
    assert(e.getMessage.contains("overruns"))
  }
}
