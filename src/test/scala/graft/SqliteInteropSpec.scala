package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.io.Sqlite
import graft.io.Sqlite._

/** Reads a database written by STOCK sqlite3 (via python3), including
  * payloads large enough to spill into overflow-page chains — the
  * interop direction the [[Sqlite]] writer doesn't exercise. */
class SqliteInteropSpec extends AnyFunSuite {

  test("reads a stock-sqlite3 database with overflow-chain blobs") {
    val python = new java.io.File("/usr/bin/python3")
    assume(python.exists, "python3 not available")
    val path = Files.createTempDirectory("sq_interop").resolve("ext.db").toString
    val script =
      s"""import sqlite3
         |con = sqlite3.connect("$path")
         |con.execute("CREATE TABLE t (name TEXT, big BLOB, score REAL, flag INTEGER)")
         |rows = [
         |  ("small", b"abc", 1.5, 0),
         |  ("big", bytes(range(256)) * 80, -2.25, 1),   # 20480 B -> overflow
         |  ("huge", b"\\x7f" * 50000, 0.0, 1),          # multi-page chain
         |]
         |con.executemany("INSERT INTO t VALUES (?,?,?,?)", rows)
         |con.commit(); con.close()
         |print("WROTE")
         |""".stripMargin
    val p = new ProcessBuilder("/usr/bin/python3", "-c", script)
      .redirectErrorStream(true).start()
    val log = scala.io.Source.fromInputStream(p.getInputStream).mkString
    p.waitFor()
    assume(log.contains("WROTE"), s"python sqlite3 write failed:\n$log")

    val rows = Sqlite.readTable(path, "t")
    assert(rows.size == 3)
    val byName = rows.map { case (_, vs) =>
      vs(0).asInstanceOf[SqlText].v -> vs
    }.toMap
    assert(byName("small")(1).asInstanceOf[SqlBlob].v.sameElements("abc".getBytes))
    val big = byName("big")(1).asInstanceOf[SqlBlob].v
    assert(big.length == 20480)
    assert((0 until 20480).forall(i => (big(i) & 0xff) == i % 256))
    val huge = byName("huge")(1).asInstanceOf[SqlBlob].v
    assert(huge.length == 50000 && huge.forall(_ == 0x7f.toByte))
    assert(byName("big")(2) == SqlReal(-2.25))
    assert(byName("big")(3) == SqlInt(1))
    assert(byName("small")(3) == SqlInt(0))
  }

  test("stock sqlite3 reads overflow-chain blobs written by this writer") {
    val python = new java.io.File("/usr/bin/python3")
    assume(python.exists, "python3 not available")
    val dir = Files.createTempDirectory("sq_interop_w")
    val path = dir.resolve("ours.db").toString
    // payload sizes straddle every split regime: fully local (≤ X),
    // barely over X, K ≤ X vs K > X (local = M), and a multi-page
    // chain well past 16 KB
    val blobs = Seq(64, 4060, 4062, 4096, 8200, 16400, 50000).map { n =>
      n -> Array.tabulate(n)(i => ((i * 31 + n) % 256).toByte)
    }
    val rows = blobs.zipWithIndex.map { case ((n, b), i) =>
      (i + 1L) -> Seq[SqlValue](SqlInt(n.toLong), SqlBlob(b),
        SqlText("tag" + n))
    }
    Sqlite.write(path, Seq(TableDef("t",
      "CREATE TABLE t (n INTEGER, big BLOB, tag TEXT)", rows)))

    // our own reader first (pure round-trip)
    val back = Sqlite.readTable(path, "t")
    assert(back.size == blobs.size)
    back.zip(blobs).foreach { case ((_, vs), (n, b)) =>
      assert(vs(0) == SqlInt(n.toLong))
      assert(vs(1).asInstanceOf[SqlBlob].v.sameElements(b), s"blob $n")
      assert(vs(2) == SqlText("tag" + n))
    }

    // then stock sqlite3: lengths + a digest of every blob
    val script =
      s"""import sqlite3, hashlib
         |con = sqlite3.connect("$path")
         |for n, big, tag in con.execute("SELECT n, big, tag FROM t ORDER BY rowid"):
         |    print(n, len(big), hashlib.sha256(big).hexdigest(), tag)
         |con.close()
         |""".stripMargin
    val p = new ProcessBuilder("/usr/bin/python3", "-c", script)
      .redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
    assert(p.waitFor() == 0, s"stock sqlite3 failed to read our file:\n$out")
    val lines = out.trim.split("\n")
    assert(lines.length == blobs.size)
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    lines.zip(blobs).foreach { case (line, (n, b)) =>
      val Array(nn, len, dig, tag) = line.split(" ")
      assert(nn.toInt == n && len.toInt == n && tag == "tag" + n)
      val want = sha.digest(b).map("%02x".format(_)).mkString
      assert(dig == want, s"blob $n digest mismatch via stock sqlite3")
    }
  }

  test("a table past one interior page gets a multi-level b-tree " +
      "that stock sqlite3 validates") {
    val python = new java.io.File("/usr/bin/python3")
    assume(python.exists, "python3 not available")
    val path = Files.createTempDirectory("sq_deep").resolve("deep.db").toString
    // ~1 KB rows: four per leaf, so 2,400 rows fill 600 leaves — more
    // than one interior page can point at (~500), which forces a second
    // interior level above the first
    val n = 2400
    def blob(i: Int) = Array.tabulate(1000)(j => ((i * 7 + j) % 251).toByte)
    val rows = (1 to n).map { i =>
      i.toLong -> Seq[SqlValue](SqlInt(i * 3L), SqlBlob(blob(i)))
    }
    Sqlite.write(path, Seq(TableDef("t", "CREATE TABLE t (v INTEGER, b BLOB)", rows)))

    val back = Sqlite.readTable(path, "t")
    assert(back.map(_._1) == (1L to n.toLong))
    assert(back.forall { case (rid, vs) =>
      vs(0) == SqlInt(rid * 3) && vs(1).asInstanceOf[SqlBlob].v.sameElements(blob(rid.toInt))
    })

    val script =
      s"""import sqlite3
         |con = sqlite3.connect("$path")
         |print(con.execute("PRAGMA integrity_check").fetchone()[0])
         |print(con.execute("SELECT count(*), sum(v), sum(length(b)) FROM t").fetchone())
         |print(con.execute("SELECT rootpage FROM sqlite_master WHERE name = 't'").fetchone()[0])
         |con.close()
         |""".stripMargin
    val p = new ProcessBuilder("/usr/bin/python3", "-c", script)
      .redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
    assert(p.waitFor() == 0, s"stock sqlite3 failed to read our file:\n$out")
    val Array(integrity, counts, rootLine) = out.trim.split("\n")
    assert(integrity == "ok")
    assert(counts == s"($n, ${3L * n * (n + 1) / 2}, ${1000L * n})")

    // the root is an interior page whose first child is interior too
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
    def pageType(no: Int) = bytes((no - 1) * 4096) & 0xff
    def firstChild(no: Int) = {
      val base = (no - 1) * 4096
      val cell = ((bytes(base + 12) & 0xff) << 8) | (bytes(base + 13) & 0xff)
      java.nio.ByteBuffer.wrap(bytes, base + cell, 4).getInt
    }
    val root = rootLine.trim.toInt
    assert(pageType(root) == 0x05 && pageType(firstChild(root)) == 0x05)
    assert(pageType(firstChild(firstChild(root))) == 0x0d)
  }
}
