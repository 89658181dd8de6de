package graft.io

import java.nio.ByteBuffer
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

/** Minimal single-file SQLite 3 database writer/reader, from the
  * published file-format spec (https://sqlite.org/fileformat2.html) —
  * the container format of GeoPackage (SURVEY §2.1 S3: the reference's
  * `to_file(..)` GPKG sink, wrf_voronoi.py:149).
  *
  * Scope (all the GeoPackage layer needs, checked with `require`):
  *  - table b-trees only (no indexes — DDL written by [[GeoPackage]]
  *    avoids constraints that imply auto-indexes);
  *  - single-page `sqlite_master`; table b-trees of any depth (interior
  *    levels are built bottom-up until one root page remains);
  *  - WRITER cell payloads of any size: payloads over the spec's X
  *    threshold (usable−35) spill into overflow-page chains with the
  *    local portion sized by the X/M/K formula (spec §"B-tree Pages"),
  *    symmetric with the reader below — real-world multipolygon WKB
  *    (the reference's borough-scale outputs, wrf_voronoi.py:185-187)
  *    routinely exceeds 4 KB.
  *
  * The READER walks arbitrary-depth table b-trees, follows
  * overflow-page chains (so multi-KB blobs in externally produced
  * GeoPackages load fine), and decodes all scalar serial types (incl.
  * the schema-format-4 constants 8/9) — verified against files written
  * by stock sqlite3 in SqliteInteropSpec, which also re-reads this
  * writer's chained payloads with stock sqlite3.
  */
object Sqlite {

  sealed trait SqlValue
  case object SqlNull extends SqlValue
  final case class SqlInt(v: Long) extends SqlValue
  final case class SqlReal(v: Double) extends SqlValue
  final case class SqlText(v: String) extends SqlValue
  final case class SqlBlob(v: Array[Byte]) extends SqlValue

  /** One table: its DDL (recorded verbatim in sqlite_master) and rows
    * as (rowid, values). An `INTEGER PRIMARY KEY` column must be
    * passed as SqlNull — its value IS the rowid, per the format. */
  final case class TableDef(name: String, createSql: String,
    rows: Seq[(Long, Seq[SqlValue])])

  private val PageSize = 4096
  private val Usable = PageSize // reserved-space byte in the header is 0
  // spec §"B-tree Pages" thresholds for table-leaf payload spilling:
  // payloads ≤ X stay local; larger ones keep K (or M) bytes local and
  // chain the rest through overflow pages of OverflowCap content bytes
  private val MaxLocal = Usable - 35
  private val MinLocal = (Usable - 12) * 32 / 255 - 23
  private val OverflowCap = Usable - 4

  // ------------------------------------------------------------ varint

  private def varint(v: Long): Array[Byte] = {
    if (v < 0 || v >= (1L << 56)) {
      // 9-byte form: 8 continuation bytes of 7 bits + one full byte
      val out = new Array[Byte](9)
      out(8) = (v & 0xff).toByte
      val hi = v >>> 8 // 56 bits
      var i = 0
      while (i < 8) {
        out(i) = (((hi >>> (7 * (7 - i))) & 0x7f) | 0x80).toByte
        i += 1
      }
      out
    } else {
      val bits = math.max(64 - java.lang.Long.numberOfLeadingZeros(v), 1)
      val need = (bits + 6) / 7
      val out = new Array[Byte](need)
      var vv = v
      var j = need - 1
      out(j) = (vv & 0x7f).toByte
      vv >>>= 7
      j -= 1
      while (j >= 0) { out(j) = ((vv & 0x7f) | 0x80).toByte; vv >>>= 7; j -= 1 }
      out
    }
  }

  private def readVarint(b: Array[Byte], off: Int): (Long, Int) = {
    var v = 0L
    var i = 0
    while (i < 8) {
      val x = b(off + i)
      v = (v << 7) | (x & 0x7f)
      if ((x & 0x80) == 0) return (v, i + 1)
      i += 1
    }
    ((v << 8) | (b(off + 8) & 0xff), 9)
  }

  // ------------------------------------------------------------ records

  private def serialAndBody(v: SqlValue): (Long, Array[Byte]) = v match {
    case SqlNull => (0L, Array.emptyByteArray)
    case SqlInt(x) =>
      val b = ByteBuffer.allocate(8).putLong(x).array()
      (6L, b)
    case SqlReal(x) =>
      (7L, ByteBuffer.allocate(8).putDouble(x).array())
    case SqlText(s) =>
      val b = s.getBytes("UTF-8"); (13L + 2 * b.length, b)
    case SqlBlob(b) => (12L + 2 * b.length, b)
  }

  private def record(values: Seq[SqlValue]): Array[Byte] = {
    val parts = values.map(serialAndBody)
    val serialBytes = parts.map(p => varint(p._1))
    val sLen = serialBytes.map(_.length).sum
    // header length varint includes itself; 1 byte is enough below 128
    var hLen = sLen + 1
    if (hLen >= 128) hLen = sLen + varint(sLen + 2).length // fixpoint for 2-byte case
    val out = new ArrayBuffer[Byte](hLen + parts.map(_._2.length).sum)
    out ++= varint(hLen)
    serialBytes.foreach(out ++= _)
    parts.foreach(out ++= _._2)
    out.toArray
  }

  private def decodeRecord(payload: Array[Byte]): IndexedSeq[SqlValue] = {
    val (hLen, n0) = readVarint(payload, 0)
    var off = n0
    val serials = new ArrayBuffer[Long]
    while (off < hLen) {
      val (s, n) = readVarint(payload, off); serials += s; off += n
    }
    var body = hLen.toInt
    serials.map { s =>
      def intN(n: Int): SqlValue = {
        var v = payload(body).toLong // sign-extends
        var i = 1
        while (i < n) { v = (v << 8) | (payload(body + i) & 0xff); i += 1 }
        body += n
        SqlInt(v)
      }
      s match {
        case 0 => SqlNull
        case 1 => intN(1)
        case 2 => intN(2)
        case 3 => intN(3)
        case 4 => intN(4)
        case 5 => intN(6)
        case 6 => intN(8)
        case 7 =>
          val v = ByteBuffer.wrap(payload, body, 8).getDouble; body += 8
          SqlReal(v)
        case 8 => SqlInt(0)
        case 9 => SqlInt(1)
        case s if s >= 13 && s % 2 == 1 =>
          val n = ((s - 13) / 2).toInt
          val v = new String(payload, body, n, "UTF-8"); body += n
          SqlText(v)
        case s if s >= 12 && s % 2 == 0 =>
          val n = ((s - 12) / 2).toInt
          // copyOfRange zero-PADS past the source end, so a crafted
          // serial type would allocate n bytes unchecked — bound first
          require(n >= 0 && body + n.toLong <= payload.length,
            s"blob of $n bytes at $body exceeds ${payload.length}-byte payload")
          val v = java.util.Arrays.copyOfRange(payload, body, body + n); body += n
          SqlBlob(v)
        case other => throw new IllegalArgumentException(s"serial type $other")
      }
    }.toIndexedSeq
  }

  // ------------------------------------------------------------ writer

  /** One leaf cell: `head` = varint(payloadLen) + varint(rowid) + the
    * local payload portion; `tail` = payload bytes that spill into an
    * overflow chain (empty when the whole payload is local). The
    * 4-byte first-overflow-page pointer is appended at render time,
    * once page numbers are assigned. */
  private final case class Cell(rowid: Long, head: Array[Byte], tail: Array[Byte]) {
    def onPageSize: Int = head.length + (if (tail.isEmpty) 0 else 4)
  }

  private def leafCell(rowid: Long, values: Seq[SqlValue]): Cell = {
    val payload = record(values)
    val p = payload.length
    val b = new ArrayBuffer[Byte]
    b ++= varint(p.toLong)
    b ++= varint(rowid)
    if (p <= MaxLocal) {
      b ++= payload
      Cell(rowid, b.toArray, Array.emptyByteArray)
    } else {
      // K = M + ((P−M) mod (usable−4)); keep K locally if ≤ X, else M —
      // exactly the split payloadOf() inverts on read
      val k = MinLocal + ((p - MinLocal) % OverflowCap)
      val local = if (k <= MaxLocal) k else MinLocal
      b ++= payload.view.slice(0, local)
      Cell(rowid, b.toArray, java.util.Arrays.copyOfRange(payload, local, p))
    }
  }

  /** Pack cells into leaf pages greedily, preserving rowid order. */
  private def packLeaves(cells: Seq[Cell]): Seq[Seq[Cell]] = {
    val leaves = new ArrayBuffer[Seq[Cell]]
    var cur = new ArrayBuffer[Cell]
    var used = 0
    val budget = PageSize - 8 // leaf header
    cells.foreach { c =>
      val extra = c.onPageSize + 2 // cell (+ overflow ptr) + pointer-array slot
      if (cur.nonEmpty && used + extra > budget) {
        leaves += cur.toSeq; cur = new ArrayBuffer[Cell]; used = 0
      }
      cur += c; used += extra
    }
    if (cur.nonEmpty || leaves.isEmpty) leaves += cur.toSeq
    leaves.toSeq
  }

  /** Render one leaf page; `cells` pairs each cell with its resolved
    * first-overflow page number (0 when the payload is fully local). */
  private def renderLeaf(cells: Seq[(Cell, Int)], headerOffset: Int): Array[Byte] = {
    val page = new Array[Byte](PageSize)
    val buf = ByteBuffer.wrap(page)
    var content = PageSize
    val ptrs = cells.map { case (c, firstOverflow) =>
      content -= c.onPageSize
      System.arraycopy(c.head, 0, page, content, c.head.length)
      if (c.tail.nonEmpty)
        ByteBuffer.wrap(page, content + c.head.length, 4).putInt(firstOverflow)
      content
    }
    buf.position(headerOffset)
    buf.put(0x0d.toByte)
    buf.putShort(0) // first freeblock
    buf.putShort(cells.size.toShort)
    buf.putShort(content.toShort) // 4096 fits u16; 0 only means 65536
    buf.put(0.toByte) // fragmented bytes
    ptrs.foreach(p => buf.putShort(p.toShort))
    page
  }

  /** Split one b-tree level's (page, max rowid) entries into interior
    * pages: as few as fit, filled evenly, so every page holds at least
    * two children (one cell plus its right-most pointer). A cell is a
    * 4-byte child pointer, the key varint and a 2-byte pointer slot. */
  private def packInterior(children: Seq[(Int, Long)]): Seq[Seq[(Int, Long)]] = {
    val cell = 6 + children.map(c => varint(c._2).length).max
    val fanout = (PageSize - 12) / cell + 1 // + the right-most child
    val pages = (children.size + fanout - 1) / fanout
    val bounds = (0 to pages).map(i => (i.toLong * children.size / pages).toInt)
    bounds.zip(bounds.tail).map { case (from, until) => children.slice(from, until) }
  }

  private def renderInterior(children: Seq[(Int, Long)], rightMost: Int): Array[Byte] = {
    val cells = children.map { case (child, key) =>
      val kb = varint(key)
      ByteBuffer.allocate(4 + kb.length).putInt(child).put(kb).array()
    }
    require(12 + cells.map(_.length + 2).sum <= PageSize, "interior page overflow")
    val page = new Array[Byte](PageSize)
    val buf = ByteBuffer.wrap(page)
    var content = PageSize
    val ptrs = cells.map { cell =>
      content -= cell.length
      System.arraycopy(cell, 0, page, content, cell.length)
      content
    }
    buf.put(0x05.toByte)
    buf.putShort(0)
    buf.putShort(children.size.toShort)
    buf.putShort(content.toShort)
    buf.put(0.toByte)
    buf.putInt(rightMost)
    ptrs.foreach(p => buf.putShort(p.toShort))
    page
  }

  /** Write the database. Tables' rows must be pre-sorted by rowid. */
  def write(path: String, tables: Seq[TableDef]): Unit = {
    // layout pass: leaves per table (cell sizes don't depend on page
    // numbers), then assign page numbers: 1 = sqlite_master root, then
    // per table [leaves + overflow...][interior levels...][root]
    val tableLeaves = tables.map { t =>
      packLeaves(t.rows.map { case (rid, vs) => leafCell(rid, vs) })
    }
    var next = 2
    val rootPages = new ArrayBuffer[Int]
    val pageImages = new ArrayBuffer[(Int, Array[Byte])]

    /** Allocate and render the overflow chain for one spilled payload;
      * each page = 4-byte next-page pointer (0 terminates) + up to
      * usable−4 content bytes. Returns the first page number. */
    def allocOverflow(tail: Array[Byte]): Int = {
      val n = (tail.length + OverflowCap - 1) / OverflowCap
      val first = next
      next += n
      var off = 0
      var i = 0
      while (i < n) {
        val page = new Array[Byte](PageSize)
        val nextPtr = if (i == n - 1) 0 else first + i + 1
        ByteBuffer.wrap(page).putInt(nextPtr)
        val chunk = math.min(OverflowCap, tail.length - off)
        System.arraycopy(tail, off, page, 4, chunk)
        off += chunk
        pageImages += (first + i) -> page
        i += 1
      }
      first
    }
    def resolve(cells: Seq[Cell]): Seq[(Cell, Int)] =
      cells.map(c => (c, if (c.tail.isEmpty) 0 else allocOverflow(c.tail)))

    // leaves first, then their overflow pages, then interior levels
    // bottom-up until one page remains: the table's root
    tableLeaves.foreach { leaves =>
      val leafNos = next until next + leaves.size
      next += leaves.size
      leafNos.zip(leaves).foreach { case (no, ls) =>
        pageImages += no -> renderLeaf(resolve(ls), 0)
      }
      var level: Seq[(Int, Long)] =
        leafNos.zip(leaves.map(ls => ls.lastOption.fold(0L)(_.rowid)))
      while (level.size > 1) {
        level = packInterior(level).map { kids =>
          val no = next
          next += 1
          pageImages += no -> renderInterior(kids.init, kids.last._1)
          (no, kids.last._2)
        }
      }
      rootPages += level.head._1
    }

    // sqlite_master (single leaf on page 1); master payloads are DDL
    // text — resolve() still handles a pathological multi-KB CREATE
    val masterCells = tables.zipWithIndex.map { case (t, i) =>
      leafCell(i + 1L, Seq(SqlText("table"), SqlText(t.name), SqlText(t.name),
        SqlInt(rootPages(i)), SqlText(t.createSql)))
    }
    require(masterCells.map(_.onPageSize + 2).sum <= PageSize - 100 - 8,
      "sqlite_master exceeds one page")
    val page1 = renderLeaf(resolve(masterCells), 100)
    val nPages = next - 1

    // 100-byte header
    val h = ByteBuffer.wrap(page1, 0, 100)
    h.put("SQLite format 3\u0000".getBytes("US-ASCII"))
    h.putShort(PageSize.toShort)
    h.put(1.toByte).put(1.toByte) // file format write/read version = legacy
    h.put(0.toByte)               // reserved space
    h.put(64.toByte).put(32.toByte).put(32.toByte)
    h.putInt(1)      // file change counter
    h.putInt(nPages) // database size in pages
    h.putInt(0).putInt(0) // freelist trunk, freelist count
    h.putInt(1)      // schema cookie
    h.putInt(4)      // schema format number
    h.putInt(0)      // default page cache size
    h.putInt(0)      // largest root (vacuum)
    h.putInt(1)      // text encoding = UTF-8
    h.putInt(0)      // user_version
    h.putInt(0)      // incremental vacuum
    h.putInt(0x47504B47) // application_id "GPKG"
    h.put(new Array[Byte](20))
    h.putInt(1)        // version-valid-for = change counter
    h.putInt(3045001)  // sqlite version number (3.45.1)

    val out = new Array[Byte](nPages * PageSize)
    System.arraycopy(page1, 0, out, 0, PageSize)
    pageImages.foreach { case (no, img) =>
      System.arraycopy(img, 0, out, (no - 1) * PageSize, PageSize)
    }
    Files.write(Paths.get(path), out)
  }

  // ------------------------------------------------------------ reader

  /** All (rowid, values) of a table b-tree, in rowid order. */
  def readTable(path: String, table: String): Seq[(Long, IndexedSeq[SqlValue])] = {
    val bytes = Files.readAllBytes(Paths.get(path))
    require(bytes.length >= 100 &&
      new String(bytes, 0, 15, "US-ASCII") == "SQLite format 3", "not sqlite")
    val pageSize0 = ((bytes(16) & 0xff) << 8) | (bytes(17) & 0xff)
    val pageSize = if (pageSize0 == 1) 65536 else pageSize0
    val usable = pageSize - (bytes(20) & 0xff) // minus reserved space
    def page(no: Int): (Int, Int) = ((no - 1) * pageSize, if (no == 1) 100 else 0)

    /** Cell payload, following the overflow-page chain when the local
      * part is truncated (spec §"B-tree Pages": X/M/K thresholds for
      * table leaves). */
    def payloadOf(cellOff: Int, payLen: Int): Array[Byte] = {
      // hostile-bytes discipline: the payload length is attacker
      // data — bound it by the file BEFORE allocating (a crafted
      // varint must throw, not OOM the scan task)
      require(payLen >= 0 && payLen <= bytes.length,
        s"payload length $payLen exceeds the ${bytes.length}-byte file")
      val x = usable - 35
      if (payLen <= x)
        return java.util.Arrays.copyOfRange(bytes, cellOff, cellOff + payLen)
      val m = (usable - 12) * 32 / 255 - 23
      val k = m + ((payLen - m) % (usable - 4))
      val local = if (k <= x) k else m
      val out = new Array[Byte](payLen)
      System.arraycopy(bytes, cellOff, out, 0, local)
      var next = ByteBuffer.wrap(bytes, cellOff + local, 4).getInt
      var filled = local
      // a valid chain advances ≥ usable-4 bytes per hop; the hop bound
      // turns a crafted CYCLIC chain (A→B→A never reaching 0, chunk
      // pinned at 0 once filled == payLen) into a loud reject instead
      // of an infinite loop inside the scan stage
      val maxHops = payLen / math.max(usable - 4, 1) + 2
      var hops = 0
      while (next != 0) {
        hops += 1
        require(hops <= maxHops,
          s"overflow chain exceeds $maxHops pages (cycle?)")
        val base = (next - 1) * pageSize
        val chunk = math.min(usable - 4, payLen - filled)
        System.arraycopy(bytes, base + 4, out, filled, chunk)
        filled += chunk
        next = ByteBuffer.wrap(bytes, base, 4).getInt
      }
      require(filled == payLen, s"overflow chain short: $filled of $payLen B")
      out
    }

    // interior-page recursion on a crafted self/ancestor pointer would
    // be a StackOverflowError — a VirtualMachineError that NonFatal
    // CANNOT quarantine. Reject revisits instead.
    val visited = scala.collection.mutable.HashSet.empty[Int]
    def walk(no: Int, out: ArrayBuffer[(Long, IndexedSeq[SqlValue])],
        depth: Int = 0): Unit = {
      require(visited.add(no), s"page $no revisited (b-tree cycle)")
      // a real table b-tree is a few levels deep even at TB sizes; a
      // crafted linear chain of distinct interior pages would otherwise
      // recurse to StackOverflowError before the cycle guard fires
      require(depth <= 64, "b-tree deeper than 64 levels")
      val (base, hdr) = page(no)
      val typ = bytes(base + hdr) & 0xff
      val nCells = (((bytes(base + hdr + 3) & 0xff) << 8) |
        (bytes(base + hdr + 4) & 0xff))
      typ match {
        case 0x05 =>
          val ptrBase = base + hdr + 12
          (0 until nCells).foreach { i =>
            val off = base + ((((bytes(ptrBase + 2 * i) & 0xff) << 8) |
              (bytes(ptrBase + 2 * i + 1) & 0xff)))
            val child = ByteBuffer.wrap(bytes, off, 4).getInt
            walk(child, out, depth + 1)
          }
          val rightMost = ByteBuffer.wrap(bytes, base + hdr + 8, 4).getInt
          walk(rightMost, out, depth + 1)
        case 0x0d =>
          val ptrBase = base + hdr + 8
          (0 until nCells).foreach { i =>
            val off = base + ((((bytes(ptrBase + 2 * i) & 0xff) << 8) |
              (bytes(ptrBase + 2 * i + 1) & 0xff)))
            val (payLen, n1) = readVarint(bytes, off)
            val (rowid, n2) = readVarint(bytes, off + n1)
            val payload = payloadOf(off + n1 + n2, payLen.toInt)
            out += rowid -> decodeRecord(payload)
          }
        case other =>
          throw new IllegalArgumentException(
            f"unsupported page type 0x$other%02x (index b-trees not supported)")
      }
    }

    val master = new ArrayBuffer[(Long, IndexedSeq[SqlValue])]
    walk(1, master)
    val root = master.collectFirst {
      case (_, vs) if vs.lift(1).contains(SqlText(table)) &&
        vs.head == SqlText("table") =>
        vs(3) match { case SqlInt(r) => r.toInt; case v => sys.error(s"rootpage $v") }
    }.getOrElse(throw new IllegalArgumentException(s"no such table: $table"))
    val rows = new ArrayBuffer[(Long, IndexedSeq[SqlValue])]
    walk(root, rows)
    rows.toSeq
  }
}
