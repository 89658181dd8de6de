package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guard against hidden switches: every JVM-property or environment
  * read in the main sources must name a key on this allow-list. A
  * switch read inside an operator changes its plan behind the caller's
  * back; a new one has to be added here, in review, or not at all.
  * Engine settings are Spark session confs, and their set is pinned
  * here too. */
class SwitchGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")

  /** The deployment path of the multimodal fixtures. */
  private val knobs = Set("graft.fixtures.dir")

  /** The engine's own session confs. */
  private val sessionKeys = Set(
    "spark.graft.eagerShingleCache",
    "spark.graft.cfCalendarNone",
    "spark.graft.spatialJoin.cellSize")

  private def mainFiles = Files.walk(root).iterator().asScala
    .filter(_.toString.endsWith(".scala")).toSeq

  /** Harness variables are read only by the runnable mains. */
  private def harnessFile(rel: String): Boolean =
    Set("Bench.scala", "BenchOne.scala", "Verify.scala", "ScaleBench.scala")
      .contains(rel) || rel.startsWith("tools/")

  private def harnessKey(key: String): Boolean =
    key.startsWith("SPARK_GRAFT_") || key == "SPARK_MASTER"

  private val accessor = """sys\.props|sys\.env|System\.getProperty|System\.getenv"""
  private val access = accessor.r
  private val keyed = (s"(?:$accessor)" +
    """(?:\.get|\.getOrElse|\.contains|\.remove)?\s*\(\s*"([^"]*)"""").r

  test("main code reads no property or env key outside the allow-list") {
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val files = mainFiles
    val offences = files.flatMap { f =>
      val rel = root.relativize(f).toString.replace('\\', '/')
      Files.readAllLines(f).asScala.zipWithIndex.flatMap { case (line, i) =>
        val where = s"$rel:${i + 1}"
        val keys = keyed.findAllMatchIn(line).map(_.group(1)).toSeq
        val unkeyed =
          if (access.findAllMatchIn(line).size > keys.size)
            Seq(s"$where: read without a literal key")
          else Nil
        unkeyed ++ keys.collect {
          case k if harnessKey(k) && !harnessFile(rel) =>
            s"$where: harness variable $k outside the runnable mains"
          case k if !harnessKey(k) && !knobs(k) => s"$where: unlisted key $k"
        }
      }
    }
    assert(files.size > 100, s"scanned only ${files.size} files under $root")
    assert(offences.isEmpty, offences.mkString("\n", "\n", ""))
  }

  test("main code names exactly the engine's spark.graft session confs") {
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val literal = """"(spark\.graft\.[^"]*)"""".r
    val found = mainFiles.flatMap(f =>
      literal.findAllMatchIn(Files.readString(f)).map(_.group(1))).toSet
    assert(found == sessionKeys)
  }
}
