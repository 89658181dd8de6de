package graft

import graft.operators.Perceptron

/** Pins [[Perceptron.train]] against a hand-computed trajectory.
  *
  * Data: (y=+1, x=(2,0)), (y=−1, x=(0,3)), (y=+1, x=(1,1)), bias
  * appended. Round 0 (w=0): every example has y·0 ≤ 0 → all 3
  * misclassified; update = Σ y·x = (2+0+1, 0−3+1, 1−1+1) = (3,−2,1).
  * Round 1 margins: (+1)(3·2+1)=7, (−1)(−2·3+1)=5, (+1)(3−2+1)=2 —
  * all positive → converged; weights frozen, n=0 thereafter.
  */
class PerceptronSpec extends SparkSpec {
  import spark.implicits._

  test("batch updates follow the hand-computed trajectory and converge") {
    val df = Seq((1L, 2L, 0L), (-1L, 0L, 3L), (1L, 1L, 1L))
      .toDF("y", "x1", "x2")
    val got = Perceptron.train(df, "y", Seq("x1", "x2"), rounds = 3)
      .as[(Long, String, Long, Long)].collect().toSeq
    val want = Seq(
      (0L, "bias", 1L, 3L), (0L, "x1", 3L, 3L), (0L, "x2", -2L, 3L),
      (1L, "bias", 1L, 0L), (1L, "x1", 3L, 0L), (1L, "x2", -2L, 0L),
      (2L, "bias", 1L, 0L), (2L, "x1", 3L, 0L), (2L, "x2", -2L, 0L))
    assert(got === want)
  }

  test("matches a driver-side replica over random integer data") {
    val rnd = new scala.util.Random(7)
    val data = Seq.fill(200)((if (rnd.nextBoolean()) 1L else -1L,
      rnd.nextInt(5).toLong, rnd.nextInt(3).toLong))
    val got = Perceptron.train(data.toDF("y", "x1", "x2"),
      "y", Seq("x1", "x2"), rounds = 5)
      .as[(Long, String, Long, Long)].collect().toSeq
    // replica: same batch-update rule, plain Scala
    val w = Array(0L, 0L, 0L) // x1, x2, bias
    val want = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Long)]
    for (r <- 0 until 5) {
      var n = 0L
      val upd = Array(0L, 0L, 0L)
      data.foreach { case (y, x1, x2) =>
        if (y * (w(0) * x1 + w(1) * x2 + w(2)) <= 0) {
          n += 1
          upd(0) += y * x1; upd(1) += y * x2; upd(2) += y
        }
      }
      (0 until 3).foreach(i => w(i) += upd(i))
      want ++= Seq((r.toLong, "bias", w(2), n), (r.toLong, "x1", w(0), n),
        (r.toLong, "x2", w(1), n))
    }
    assert(got === want.toSeq)
  }

  test("registered query pins the sf0.001 trajectory start") {
    // round 0 always misclassifies every document (w=0); the update is
    // the label-weighted token-count sums — pinned from the oracle
    // replay (500 docs at sf0.001, 282 en → y-sum = 282-218 = 64...
    // actual: bias weight = sum(y) over all docs).
    val d = Tables(spark, "/root/testdata/sf0.001", "documents")
    val nEn = d.filter(org.apache.spark.sql.functions.col("lang") === "en").count()
    val n = d.count()
    val got = SparkEntry.queries("text_perceptron_train")(
      spark, "/root/testdata/sf0.001")
      .as[(Long, String, Long, Long)].collect().toSeq
    val r0 = got.filter(_._1 == 0L)
    assert(r0.map(_._4).distinct === Seq(n), "round 0 misclassifies all")
    assert(r0.find(_._2 == "bias").map(_._3) === Some(nEn - (n - nEn)),
      "round-0 bias weight is the label sum")
  }
}
