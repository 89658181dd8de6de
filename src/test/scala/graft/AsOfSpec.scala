package graft

import org.apache.spark.sql.functions._

import graft.operators.AsOf

class AsOfSpec extends SparkSpec {

  private def run(left: Seq[(Long, Long)], right: Seq[(Long, Long, String)]) = {
    import spark.implicits._
    val l = left.toDF("k", "t")
    val r = right.toDF("rk", "rt", "tag")
    AsOf.joinBackward(l, r, "k", "rk", "t", "rt")
      .select(col("k"), col("t"), col("__match.tag").as("tag"))
      .orderBy("k", "t")
      .collect()
      .map(row => (row.getLong(0), row.getLong(1),
        if (row.isNullAt(2)) null else row.getString(2)))
      .toSeq
  }

  test("picks the latest right row at-or-before each left time") {
    val out = run(
      left = Seq((1L, 5L), (1L, 10L), (1L, 20L)),
      right = Seq((1L, 4L, "a"), (1L, 10L, "b"), (1L, 15L, "c")))
    assert(out == Seq((1L, 5L, "a"), (1L, 10L, "b"), (1L, 20L, "c")))
  }

  test("equal timestamps match inclusively (right sorts before left)") {
    val out = run(Seq((1L, 7L)), Seq((1L, 7L, "exact")))
    assert(out == Seq((1L, 7L, "exact")))
  }

  test("no earlier right row yields null; keys never cross") {
    val out = run(
      left = Seq((1L, 3L), (2L, 100L)),
      right = Seq((1L, 50L, "late"), (3L, 1L, "other-key")))
    assert(out == Seq((1L, 3L, null), (2L, 100L, null)))
  }

  test("left rows are preserved exactly once (outer semantics)") {
    val left = (1L to 100L).map(i => (i % 5, i))
    val right = Seq((0L, 10L, "x"), (1L, 0L, "y"))
    val out = run(left, right)
    assert(out.size == 100)
    assert(out.count(_._3 != null) ==
      left.count { case (k, t) => (k == 0 && t >= 10) || k == 1 })
  }
}
