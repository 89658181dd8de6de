package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.expressions.GramAggregate

/** PCA / whitening for embedding columns — the dimensionality-
  * reduction and decorrelation step of a large-scale vector pipeline
  * (the rotation OPQ-style product quantization trains on, the
  * compaction before ANN indexing).
  *
  * Split by where the data lives:
  *   - [[gram]] / [[covLongForm]]: the DISTRIBUTED part — one
  *     [[GramAggregate]] pass reduces the corpus to d(d+1)/2 + d + 1
  *     exact integers (fixed-point quantized, order-independent, so
  *     the moment matrix hash-matches any engine at any parallelism).
  *   - [[fit]]: the DRIVER part — a d×d Jacobi eigendecomposition of
  *     the covariance derived from those integers. d is the embedding
  *     width (64 here); the model is KB-sized. This is the same
  *     driver-sized-model discipline as the IVF k-means fit
  *     (Ann.scala): the cluster reduces, the driver solves.
  *   - [[project]]: pure columnar arithmetic back over the corpus —
  *     codegen'd fold per component, no shuffle at all.
  */
object Pca {

  /** Fitted model: column means (original units), eigenvalues
    * (descending) and row-major orthonormal components of the sample
    * covariance. */
  final case class Model(d: Int, n: Long, mean: Array[Double],
      eigenvalues: Array[Double], components: Array[Array[Double]])

  /** Quantized moment aggregate: 1 row of (n, sums[d], gram[d(d+1)/2])
    * integer sums over `round(vec*scale)`. */
  def gram(df: DataFrame, vecCol: String, d: Int, scale: Long): DataFrame = {
    val q = transform(col(vecCol),
      x => round(x.cast("double") * scale).cast("long"))
    val agg = Bridge.column(
      GramAggregate(Bridge.expression(q), d).toAggregateExpression())
    df.agg(agg.as("g")).select(col("g.n").as("n"),
      col("g.sums").as("sums"), col("g.gram").as("gram"))
  }

  /** The moment matrix in oracle-friendly long form: one row per upper-
    * triangle entry (i ≤ j): `(dim_i, dim_j, s_ij, sum_i, sum_j, n)`,
    * all exact integers. Downstream covariance:
    * cov_ij = (s_ij/n − sum_i·sum_j/n²) / scale². */
  def covLongForm(df: DataFrame, vecCol: String, d: Int,
      scale: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val g = gram(df, vecCol, d, scale)
    // tiny driver-built (k → i, j) map for the packed upper triangle —
    // broadcast-joined against the exploded buffer (a literal
    // 2080-struct array here OOMs the optimizer at d=64)
    val triIdx = (0 until d).flatMap(i => (i until d).map(j => (i, j)))
      .zipWithIndex.map { case ((i, j), k) => (k, i.toLong, j.toLong) }
      .toDF("k", "dim_i", "dim_j")
    val sums = g.select(posexplode(col("sums")))
      .toDF("dim", "s").withColumn("dim", col("dim").cast("long"))
    val tri = g.select(col("n"), posexplode(col("gram")))
      .toDF("n", "k", "s_ij")
    tri.join(broadcast(triIdx), "k")
      .join(broadcast(sums.select(col("dim").as("dim_i"), col("s").as("sum_i"))), "dim_i")
      .join(broadcast(sums.select(col("dim").as("dim_j"), col("s").as("sum_j"))), "dim_j")
      .select(col("dim_i"), col("dim_j"), col("s_ij"),
        col("sum_i"), col("sum_j"), col("n"))
  }

  /** Fit: one distributed gram pass + a driver Jacobi solve. */
  def fit(df: DataFrame, vecCol: String, d: Int, k: Int,
      scale: Long = 1000000L): Model = {
    require(k >= 1 && k <= d, s"k=$k out of 1..$d")
    val row = gram(df, vecCol, d, scale).collect()(0)
    val n = row.getLong(0)
    require(n > 1, s"PCA needs n > 1 rows, got $n")
    val sums = row.getSeq[Long](1).toArray
    val tri = row.getSeq[Long](2).toArray
    val sc = scale.toDouble
    val mean = sums.map(_ / (n * sc))
    // sample covariance from exact integer moments
    val cov = Array.ofDim[Double](d, d)
    var idx = 0
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = (tri(idx).toDouble / n -
          (sums(i).toDouble / n) * (sums(j).toDouble / n)) / (sc * sc)
        cov(i)(j) = c; cov(j)(i) = c
        idx += 1; j += 1
      }
      i += 1
    }
    val (vals, vecs) = jacobiEigen(cov)
    Model(d, n, mean, vals.take(k), vecs.take(k))
  }

  /** Projection of `vecCol` onto component `c` of the model: one
    * codegen'd sequential fold (`aggregate(zip_with(...))`), no
    * shuffle. */
  def projectComponent(vecCol: Column, model: Model, c: Int): Column = {
    val comp = model.components(c)
    val offset = comp.zip(model.mean).map { case (w, m) => w * m }.sum
    aggregate(
      zip_with(vecCol, lit(comp), (x, w) => x.cast("double") * w),
      lit(0.0), (acc, y) => acc + y) - lit(offset)
  }

  /** All k projections as an `array<double>` column. */
  def project(vecCol: Column, model: Model): Column =
    array(model.components.indices.map(c =>
      projectComponent(vecCol, model, c)): _*)

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix —
    * deterministic sweep order, eigenpairs sorted by descending
    * eigenvalue, each eigenvector's sign fixed so its largest-|.|
    * component is positive. O(d³) per sweep on the driver; d is the
    * embedding width (tiny). */
  private[graft] def jacobiEigen(
      a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offDiag(a)
    while (off > 1e-14 && sweep < 64) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          if (math.abs(a(p)(q)) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            val t = math.signum(theta) /
              (math.abs(theta) + math.sqrt(theta * theta + 1.0)) match {
                case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
                case x => x
              }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            rotate(a, v, p, q, c, s, d)
          }
          q += 1
        }
        p += 1
      }
      off = offDiag(a)
      sweep += 1
    }
    // sort eigenpairs by descending eigenvalue; deterministic sign
    val pairs = (0 until d).map { i =>
      val vec = Array.tabulate(d)(r => v(r)(i))
      val mx = vec.indices.maxBy(r => (math.abs(vec(r)), -r))
      val fixed = if (vec(mx) < 0) vec.map(-_) else vec
      (a(i)(i), fixed)
    }.sortBy(-_._1)
    (pairs.map(_._1).toArray, pairs.map(_._2).toArray)
  }

  private def offDiag(a: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      var j = i + 1
      while (j < a.length) { s += a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    s
  }

  private def rotate(a: Array[Array[Double]], v: Array[Array[Double]],
      p: Int, q: Int, c: Double, s: Double, d: Int): Unit = {
    val app = a(p)(p); val aqq = a(q)(q); val apq = a(p)(q)
    a(p)(p) = c * c * app - 2.0 * s * c * apq + s * s * aqq
    a(q)(q) = s * s * app + 2.0 * s * c * apq + c * c * aqq
    a(p)(q) = 0.0; a(q)(p) = 0.0
    var r = 0
    while (r < d) {
      if (r != p && r != q) {
        val arp = a(r)(p); val arq = a(r)(q)
        a(r)(p) = c * arp - s * arq; a(p)(r) = a(r)(p)
        a(r)(q) = s * arp + c * arq; a(q)(r) = a(r)(q)
      }
      val vrp = v(r)(p); val vrq = v(r)(q)
      v(r)(p) = c * vrp - s * vrq
      v(r)(q) = s * vrp + c * vrq
      r += 1
    }
  }
}
