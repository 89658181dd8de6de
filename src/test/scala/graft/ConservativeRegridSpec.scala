package graft

import scala.util.Random

import graft.geom.{Wkb, st}
import graft.pipelines.Pipelines

/** The reference's conservative regrid (`delphine/regrid.py:260-289`)
  * under its own name: `Pipelines.conservativeRegrid` against a
  * driver-side JTS overlay of the same geometries. */
class ConservativeRegridSpec extends SparkSpec {
  import spark.implicits._

  /** A rectilinear lattice of `nx`×`ny` boxes of size `w`×`h` from
    * (`x0`, `y0`), as (id, x0, y0, x1, y1). */
  private def lattice(x0: Double, y0: Double, w: Double, h: Double,
      nx: Int, ny: Int): Seq[(Long, Double, Double, Double, Double)] =
    for (j <- 0 until ny; i <- 0 until nx)
      yield ((j * nx + i).toLong, x0 + i * w, y0 + j * h,
        x0 + (i + 1) * w, y0 + (j + 1) * h)

  test("conservativeRegrid equals a driver-side JTS overlay and conserves the total") {
    val rnd = new Random(20261018L)
    // sources: a jittered-origin lattice with seeded values
    val (sw, sh) = (1.0 + rnd.nextDouble(), 0.5 + rnd.nextDouble())
    val srcCells = lattice(rnd.nextDouble(), -rnd.nextDouble(), sw, sh, 7, 5)
    val values = srcCells.map(_ => rnd.nextDouble() * 100.0)
    // targets: a finer lattice with a different origin and aspect that
    // covers the sources' whole extent
    val (sx0, sy0) = (srcCells.head._2, srcCells.head._3)
    val (sx1, sy1) = (srcCells.last._4, srcCells.last._5)
    val (tw, th) = (0.4 + rnd.nextDouble() * 0.5, 0.3 + rnd.nextDouble() * 0.5)
    val (tx0, ty0) = (sx0 - rnd.nextDouble() * tw, sy0 - rnd.nextDouble() * th)
    val tgtCells = lattice(tx0, ty0, tw, th,
      math.ceil((sx1 - tx0) / tw).toInt + 1, math.ceil((sy1 - ty0) / th).toInt + 1)

    val src = srcCells.zip(values)
      .map { case ((id, x0, y0, x1, y1), v) => (id, x0, y0, x1, y1, v) }
      .toDF("sid", "x0", "y0", "x1", "y1", "value")
      .select($"sid", $"value", st.makeBox($"x0", $"y0", $"x1", $"y1").as("sg"))
    val tgt = tgtCells.toDF("tid", "x0", "y0", "x1", "y1")
      .select($"tid", st.makeBox($"x0", $"y0", $"x1", $"y1").as("tg"))

    val got = Pipelines.conservativeRegrid(src, tgt, "sg", "tg", "value",
        Seq("tid"), bucketCell = 1.0)
      .as[(Long, Double)].collect().toMap

    // the same WKB, overlaid on the driver: per target, Σ over the
    // intersecting sources of value / area_src · area_piece
    val srcGeoms = src.select("value", "sg").as[(Double, Array[Byte])].collect()
      .map { case (v, g) => (v, Wkb.read(g)) }
    val tgtGeoms = tgt.as[(Long, Array[Byte])].collect()
      .map { case (id, g) => (id, Wkb.read(g)) }
    val expected = tgtGeoms.flatMap { case (tid, t) =>
      val hits = srcGeoms.filter { case (_, s) => s.intersects(t) }
      if (hits.isEmpty) None
      else Some(tid -> hits.map { case (v, s) =>
        v / s.getArea * s.intersection(t).getArea }.sum)
    }.toMap

    assert(got.keySet == expected.keySet)
    for ((tid, e) <- expected)
      assert(math.abs(got(tid) - e) <= 1e-9, s"target $tid: ${got(tid)} vs $e")
    // the targets cover the sources, so every source's value is handed
    // out in full
    assert(math.abs(got.values.sum - values.sum) <= 1e-9,
      s"regridded total ${got.values.sum} vs source total ${values.sum}")
  }
}
