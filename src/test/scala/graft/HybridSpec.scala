package graft


import graft.operators.Hybrid

/** RRF fusion semantics: rank-only combination, missing-arm zeros,
  * integer micro-unit exactness, deterministic tie-break. */
class HybridSpec extends SparkSpec {
  import spark.implicits._

  test("rrfFuse combines ranks, zero-fills missing arms, breaks ties by id") {
    val text = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("id", "rank")
    val vec = Seq((20L, 1L), (40L, 2L)).toDF("id", "rank")
    val got = Hybrid.rrfFuse(Seq(text, vec), rrfK = 60, topN = 10)
      .orderBy("rank")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getLong(4)))
    // doc 20: 1e6/62 + 1e6/61 = 16129 + 16393 = 32522 (integer div)
    // doc 10: 1e6/61 = 16393; doc 40: 1e6/62 = 16129; doc 30: 1e6/63
    assert(got === Seq(
      (1L, 20L, Some(2L), Some(1L), 32522L),
      (2L, 10L, Some(1L), None, 16393L),
      (3L, 40L, None, Some(2L), 16129L),
      (4L, 30L, Some(3L), None, 15873L)))
  }

  test("rrf ties are broken by ascending id") {
    val a = Seq((5L, 1L), (3L, 2L)).toDF("id", "rank")
    val b = Seq((3L, 1L), (5L, 2L)).toDF("id", "rank")
    val got = Hybrid.rrfFuse(Seq(a, b), 60, 10)
      .select("rank", "id").as[(Long, Long)].collect().toSeq
    // both ids score 1e6/61 + 1e6/62 — tie; ascending id wins
    assert(got === Seq((1L, 3L), (2L, 5L)))
  }
}
