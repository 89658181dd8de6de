package graft

import org.apache.spark.sql.functions._

import graft.operators.Pca

class PcaSpec extends SparkSpec {
  import spark.implicits._

  private def approx(a: Double, b: Double, eps: Double = 1e-9): Boolean =
    math.abs(a - b) <= eps

  test("jacobiEigen solves a known symmetric 2x2") {
    // [[2,1],[1,2]] → eigenvalues 3, 1; eigenvectors (1,1)/√2, (1,-1)/√2
    val (vals, vecs) = Pca.jacobiEigen(
      Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(approx(vals(0), 3.0) && approx(vals(1), 1.0))
    val r2 = 1.0 / math.sqrt(2.0)
    assert(approx(math.abs(vecs(0)(0)), r2) && approx(math.abs(vecs(0)(1)), r2))
    // sign convention: largest-|.| component positive
    assert(vecs(0)(0) > 0 && vecs(1).exists(x => approx(math.abs(x), r2)))
  }

  test("jacobiEigen reconstructs A = VᵀΛV on a random symmetric 5x5") {
    val rnd = new scala.util.Random(7)
    val d = 5
    val a = Array.ofDim[Double](d, d)
    for (i <- 0 until d; j <- i until d) {
      val x = rnd.nextDouble() * 2 - 1
      a(i)(j) = x; a(j)(i) = x
    }
    val (vals, vecs) = Pca.jacobiEigen(a)
    // eigenvalues descending
    assert(vals.sliding(2).forall(p => p(0) >= p(1) - 1e-12))
    // orthonormal rows
    for (i <- 0 until d; j <- 0 until d) {
      val dot = (0 until d).map(k => vecs(i)(k) * vecs(j)(k)).sum
      assert(approx(dot, if (i == j) 1.0 else 0.0, 1e-9))
    }
    // reconstruction
    for (i <- 0 until d; j <- 0 until d) {
      val r = (0 until d).map(k => vals(k) * vecs(k)(i) * vecs(k)(j)).sum
      assert(approx(r, a(i)(j), 1e-9))
    }
  }

  test("fit recovers the dominant direction of correlated 2-D data") {
    // points along y = x with small orthogonal noise
    val pts = (0 until 200).map { i =>
      val t = i / 100.0 - 1.0
      val noise = ((i * 37) % 11 - 5) / 1000.0
      (i.toLong, Array((t + noise).toFloat, (t - noise).toFloat))
    }
    val df = pts.toDF("id", "vec")
    val m = Pca.fit(df, "vec", d = 2, k = 2)
    val r2 = 1.0 / math.sqrt(2.0)
    // PC1 ≈ (1,1)/√2, PC2 ≈ (1,-1)/√2, λ1 >> λ2
    assert(approx(math.abs(m.components(0)(0)), r2, 1e-3))
    assert(approx(math.abs(m.components(0)(1)), r2, 1e-3))
    assert(m.eigenvalues(0) > 100 * m.eigenvalues(1))
    // projections: PC1 of (t,t) is t√2·(pc1 sign); mean-centred
    val proj = df.withColumn("p", Pca.project(col("vec"), m))
      .select(col("id"), col("p").getItem(0).as("p1"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val t0 = -1.0 // id=0 → t=-1, centred ≈ t - mean(t)
    val meanT = (0 until 200).map(i => i / 100.0 - 1.0).sum / 200.0
    assert(approx(math.abs(proj(0L)), math.abs((t0 - meanT)) * math.sqrt(2.0), 2e-2))
  }

  test("covLongForm matches a hand-computed moment matrix") {
    val df = Seq(
      (1L, Array(1.0f, 2.0f)),
      (2L, Array(3.0f, 4.0f))
    ).toDF("id", "vec")
    val rows = Pca.covLongForm(df, "vec", d = 2, scale = 10L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // quantized: (10,20) and (30,40)
    assert(rows((0L, 0L)) === ((10 * 10 + 30 * 30, 40L, 40L, 2L)))
    assert(rows((0L, 1L)) === ((10 * 20 + 30 * 40, 40L, 60L, 2L)))
    assert(rows((1L, 1L)) === ((20 * 20 + 40 * 40, 60L, 60L, 2L)))
  }

  test("gram survives partial aggregation across partitions") {
    val df = (0 until 100).map(i => (i.toLong, Array(i.toFloat, (i % 7).toFloat)))
      .toDF("id", "vec").repartition(8)
    val r = Pca.gram(df, "vec", d = 2, scale = 1L).collect()(0)
    assert(r.getLong(0) === 100L)
    val sums = r.getSeq[Long](1)
    assert(sums(0) === (0 until 100).map(_.toLong).sum)
    assert(sums(1) === (0 until 100).map(i => (i % 7).toLong).sum)
    val tri = r.getSeq[Long](2)
    assert(tri(0) === (0 until 100).map(i => i.toLong * i).sum)
    assert(tri(1) === (0 until 100).map(i => i.toLong * (i % 7)).sum)
    assert(tri(2) === (0 until 100).map(i => (i % 7).toLong * (i % 7)).sum)
  }
}
