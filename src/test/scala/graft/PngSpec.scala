package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.io.Png
import graft.io.Png.Image

/** The from-scratch PNG codec: every scanline filter, every supported
  * color type, palette expansion, CRC enforcement, loud rejection of
  * the unsupported formats. */
class PngSpec extends AnyFunSuite {

  private def mkPixels(n: Int): Array[Byte] = {
    val r = new scala.util.Random(42)
    val a = new Array[Byte](n)
    r.nextBytes(a)
    a
  }

  test("round-trips every filter type for every color type") {
    for (channels <- Seq(1, 2, 3, 4); filter <- 0 to 4) {
      val img = Image(13, 7, channels, mkPixels(13 * 7 * channels))
      val back = Png.decode(Png.encode(img, filter))
      assert(back.width === 13 && back.height === 7 &&
        back.channels === channels, s"c=$channels f=$filter")
      assert(back.pixels.toSeq === img.pixels.toSeq,
        s"pixel mismatch at channels=$channels filter=$filter")
    }
  }

  test("1x1 and single-row/column images round-trip") {
    for ((w, h) <- Seq((1, 1), (1, 9), (9, 1)); filter <- 0 to 4) {
      val img = Image(w, h, 3, mkPixels(w * h * 3))
      assert(Png.decode(Png.encode(img, filter)).pixels.toSeq ===
        img.pixels.toSeq, s"${w}x$h filter=$filter")
    }
  }

  /** One PNG chunk: length, type, data and the CRC over type + data. */
  private def chunk(typ: String, d: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val len = new Array[Byte](4)
    def wi(v: Int, dst: Array[Byte]) = {
      dst(0) = (v >>> 24).toByte; dst(1) = (v >>> 16).toByte
      dst(2) = (v >>> 8).toByte; dst(3) = v.toByte
    }
    wi(d.length, len); out.write(len)
    val tb = typ.getBytes("US-ASCII"); out.write(tb); out.write(d)
    val crc = new java.util.zip.CRC32(); crc.update(tb); crc.update(d)
    val cb = new Array[Byte](4); wi(crc.getValue.toInt, cb); out.write(cb)
    out.toByteArray
  }

  test("palette images expand to RGB through PLTE") {
    val palette = Array[Byte](
      10, 20, 30, // index 0
      40, 50, 60, // index 1
      70, 80, 90) // index 2
    val indices = Array[Byte](0, 1, 2, 2, 1, 0)
    // the codec writes no palette images: encode the indices as an
    // 8-bit grayscale image (filter None), then declare color type 3 in
    // its IHDR (bytes 16-28, CRC recomputed) and add a PLTE chunk
    val gray = Png.encode(Image(3, 2, 1, indices))
    val ihdr = gray.slice(16, 29).updated(9, 3.toByte)
    val pal = gray.take(8) ++ chunk("IHDR", ihdr) ++ chunk("PLTE", palette) ++
      gray.drop(33)
    val img = Png.decode(pal)
    assert(img.width === 3 && img.height === 2 && img.channels === 3)
    assert(img.pixels.toSeq === Seq[Byte](
      10, 20, 30, 40, 50, 60, 70, 80, 90,
      70, 80, 90, 40, 50, 60, 10, 20, 30))
  }

  test("multiple IDAT chunks concatenate into one zlib stream") {
    // split the encoded IDAT into two chunks by re-framing
    val img = Image(8, 8, 1, mkPixels(64))
    val one = Png.encode(img)
    // locate the IDAT chunk
    def readInt(b: Array[Byte], o: Int) =
      ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
        ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
    var pos = 8
    var idatOff = -1; var idatLen = -1
    while (idatOff < 0) {
      val len = readInt(one, pos)
      val typ = new String(one, pos + 4, 4, "US-ASCII")
      if (typ == "IDAT") { idatOff = pos; idatLen = len }
      else pos += 12 + len
    }
    val data = one.slice(idatOff + 8, idatOff + 8 + idatLen)
    val (d1, d2) = data.splitAt(data.length / 2)
    val reframed = one.slice(0, idatOff) ++ chunk("IDAT", d1) ++
      chunk("IDAT", d2) ++ one.slice(idatOff + 12 + idatLen, one.length)
    assert(Png.decode(reframed).pixels.toSeq === img.pixels.toSeq)
  }

  /** Rebuild a valid PNG with its single IDAT payload swapped for
    * `data` (length + CRC recomputed) — for crafting hostile zlib
    * streams behind an otherwise well-formed chunk layout. */
  private def withIdatPayload(png: Array[Byte],
      data: Array[Byte]): Array[Byte] = {
    def readInt(b: Array[Byte], o: Int) =
      ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
        ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
    var pos = 8
    var idatOff = -1; var idatLen = -1
    while (idatOff < 0) {
      val len = readInt(png, pos)
      if (new String(png, pos + 4, 4, "US-ASCII") == "IDAT") {
        idatOff = pos; idatLen = len
      } else pos += 12 + len
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write(png, 0, idatOff)
    def wi(v: Int): Unit = {
      out.write(v >>> 24); out.write((v >>> 16) & 0xff)
      out.write((v >>> 8) & 0xff); out.write(v & 0xff)
    }
    wi(data.length)
    val tb = "IDAT".getBytes("US-ASCII"); out.write(tb); out.write(data)
    val crc = new java.util.zip.CRC32(); crc.update(tb); crc.update(data)
    wi(crc.getValue.toInt)
    out.write(png, idatOff + 12 + idatLen,
      png.length - (idatOff + 12 + idatLen))
    out.toByteArray
  }

  test("an FDICT (preset-dictionary) zlib stream is rejected, not hung") {
    // zlib header 0x78 0x20: CMF=0x78, FLG has bit 5 (FDICT) set and
    // (0x78*256 + 0x20) % 31 == 0. Inflater then stalls with
    // needsDictionary() — pre-fix this spun the decode loop forever.
    val fdict = Array[Byte](0x78, 0x20, 1, 2, 3, 4, 0, 0, 0, 0)
    val hostile = withIdatPayload(
      Png.encode(Image(4, 4, 1, mkPixels(16))), fdict)
    val e = intercept[IllegalArgumentException](Png.decode(hostile))
    assert(e.getMessage.contains("dictionary"))
  }

  test("a deflate bomb aborts at the scanline bound, not after full inflation") {
    // ~8 MB of zeros deflates to a few KB; the 4x4 gray image expects
    // only (4+1)*4 = 20 bytes, so decode must abort within one buffer
    // of the bound instead of materialising the whole bomb first.
    val bomb = {
      val d = new java.util.zip.Deflater()
      d.setInput(new Array[Byte](8 * 1024 * 1024)); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end()
      out.toByteArray
    }
    val hostile = withIdatPayload(
      Png.encode(Image(4, 4, 1, mkPixels(16))), bomb)
    val e = intercept[IllegalArgumentException](Png.decode(hostile))
    assert(e.getMessage.contains("inflates past"))
  }

  test("a corrupted chunk CRC is rejected loudly") {
    val bytes = Png.encode(Image(5, 5, 1, mkPixels(25)))
    bytes(bytes.length - 6) = (bytes(bytes.length - 6) ^ 0x7f).toByte // IEND CRC
    val e = intercept[IllegalArgumentException](Png.decode(bytes))
    assert(e.getMessage.contains("CRC"))
  }

  /** Patch one byte inside the IHDR data and re-CRC the chunk, so the
    * decoder's semantic validation (not the CRC gate) is what fires. */
  private def patchIhdr(png: Array[Byte], ihdrByte: Int,
      value: Byte): Array[Byte] = {
    val out = png.clone()
    out(16 + ihdrByte) = value // 8 sig + 4 len + 4 type
    val crc = new java.util.zip.CRC32()
    crc.update(out, 12, 4 + 13)
    val v = crc.getValue.toInt
    val off = 16 + 13
    out(off) = (v >>> 24).toByte; out(off + 1) = (v >>> 16).toByte
    out(off + 2) = (v >>> 8).toByte; out(off + 3) = v.toByte
    out
  }

  test("non-PNG bytes, truncation, 16-bit and interlace are rejected") {
    intercept[IllegalArgumentException](
      Png.decode("not a png at all".getBytes))
    val ok = Png.encode(Image(5, 5, 1, mkPixels(25)))
    intercept[IllegalArgumentException](
      Png.decode(ok.take(ok.length / 2)))
    assert(intercept[IllegalArgumentException](
        Png.decode(patchIhdr(ok, 8, 16))) // bit depth 16
      .getMessage.contains("bit depth"))
    assert(intercept[IllegalArgumentException](
        Png.decode(patchIhdr(ok, 12, 1))) // Adam7
      .getMessage.contains("interlac"))
  }

  test("decodes EXTERNALLY-written PNGs (pinned against an independent decode)") {
    // system PNGs produced by real tooling — gray8, RGBA and palette;
    // expectations computed by an independent Python implementation.
    // assume(): skip, not fail, on a container without the files.
    val cases = Seq(
      ("/usr/share/doc/python3/_static/minus.png", 11, 11, 1, 26161L, 204, 204),
      ("/usr/share/doc/python3/_static/file.png", 16, 16, 4, 176330L, 153, 0),
      ("/usr/share/gitweb/static/git-logo.png", 72, 27, 3, 1292808L, 232, 199))
    cases.foreach { case (path, w, h, ch, sum, first, last) =>
      assume(java.nio.file.Files.exists(java.nio.file.Paths.get(path)),
        s"$path not present")
      val img = Png.decode(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
      assert(img.width === w && img.height === h && img.channels === ch, path)
      assert(img.pixels.map(b => (b & 0xff).toLong).sum === sum, path)
      assert((img.pixels.head & 0xff) === first, path)
      assert((img.pixels.last & 0xff) === last, path)
    }
  }

  test("ancillary chunks are skipped") {
    val img = Image(4, 4, 1, mkPixels(16))
    val one = Png.encode(img)
    // splice a tEXt chunk between IHDR and IDAT (IHDR = 8 + 12 + 13)
    val cut = 8 + 12 + 13
    val out = new java.io.ByteArrayOutputStream()
    val payload = "Comment\u0000hello".getBytes("US-ASCII")
    val len = new Array[Byte](4)
    len(3) = payload.length.toByte
    out.write(one, 0, cut)
    out.write(len); out.write("tEXt".getBytes("US-ASCII")); out.write(payload)
    val crc = new java.util.zip.CRC32()
    crc.update("tEXt".getBytes("US-ASCII")); crc.update(payload)
    val cb = new Array[Byte](4)
    val v = crc.getValue.toInt
    cb(0) = (v >>> 24).toByte; cb(1) = (v >>> 16).toByte
    cb(2) = (v >>> 8).toByte; cb(3) = v.toByte
    out.write(cb)
    out.write(one, cut, one.length - cut)
    assert(Png.decode(out.toByteArray).pixels.toSeq === img.pixels.toSeq)
  }
}
