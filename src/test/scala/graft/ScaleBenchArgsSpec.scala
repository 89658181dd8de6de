package graft

import org.scalatest.funsuite.AnyFunSuite

/** ScaleBench's stage arguments and JSON line, checked without a Spark
  * session: parsing only reads the stage table. */
class ScaleBenchArgsSpec extends AnyFunSuite {

  private def parsed(args: String*): Seq[(String, Long)] =
    ScaleBench.parse(args).map { case (s, n) => s.name -> n }

  test("no argument runs every stage at its default size, in table order") {
    val all = parsed()
    assert(all.map(_._1) == ScaleBench.stages.map(_.name))
    assert(all.map(_._1).distinct.size == all.size)
    assert(all.take(4) == Seq("regrid" -> 0L, "voronoi" -> 1000L,
      "voronoi_domains" -> 0L, "voronoi_mixed" -> 0L))
    assert(all.map(_._1).takeRight(3) == Seq("cc", "cc_cliques", "warc_stream"))
    assert(all.filter(_._2 > 0) == Seq("voronoi" -> 1000L,
      "ivfpq_curve" -> 1000000L, "prep" -> 1000000L, "cc" -> 1000L))
  }

  test("name=size sizes a stage; named stages run alone, in the order given") {
    assert(parsed("voronoi=3163", "cc") == Seq("voronoi" -> 3163L, "cc" -> 1000L))
    assert(parsed("prep=2000000", "regrid", "ivfpq_curve=10000000") ==
      Seq("prep" -> 2000000L, "regrid" -> 0L, "ivfpq_curve" -> 10000000L))
  }

  test("an unknown stage name throws, naming it") {
    val e = intercept[IllegalArgumentException](ScaleBench.parse(Seq("cc", "voronoi10m")))
    assert(e.getMessage.contains("voronoi10m"))
  }

  test("a size given to a stage without one throws, naming the stage") {
    val e = intercept[IllegalArgumentException](ScaleBench.parse(Seq("cc_cliques=5")))
    assert(e.getMessage.contains("cc_cliques"))
  }

  test("a size must be a positive integer, and a stage is named at most once") {
    for (bad <- Seq("voronoi=0", "voronoi=-3", "voronoi=1e6", "voronoi="))
      assert(intercept[IllegalArgumentException](ScaleBench.parse(Seq(bad)))
        .getMessage.contains("voronoi"), bad)
    assert(intercept[IllegalArgumentException](ScaleBench.parse(Seq("cc", "cc=5")))
      .getMessage.contains("cc"))
  }

  test("the JSON line keeps key order and nests objects in arrays") {
    val line = ScaleBench.json(ScaleBench.Obj(Seq("metric" -> "reference_scale",
      "rows" -> 3L, "ratio" -> 0.5, "curve" -> Seq(
        ScaleBench.Obj(Seq("nprobe" -> 1, "recall_at_10" -> 0.9)),
        ScaleBench.Obj(Seq("nprobe" -> 2, "recall_at_10" -> 1.0))))))
    assert(line == """{"metric":"reference_scale","rows":3,"ratio":0.5,""" +
      """"curve":[{"nprobe":1,"recall_at_10":0.9},{"nprobe":2,"recall_at_10":1.0}]}""")
  }
}
