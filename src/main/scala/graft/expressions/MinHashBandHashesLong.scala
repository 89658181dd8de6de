package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, Murmur3HashFunction, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** minhash_band_hashes(shh, k, bands) — the LSH band-hash array in ONE
  * compiled pass over a PRE-HASHED shingle array (array<bigint>, the
  * [[SortedXxHash64Array]] cache), fusing [[MinHashSigLong]] with the
  * banding step `transform(sequence(0, bands-1), b -> hash(slice(sig,
  * b*rows+1, rows), 9999))`.
  *
  * Value-identical to that two-step Column form: the signature
  * components are [[MinHashSigLong]]'s (h1 = murmur3(elem: long, 42),
  * family f takes min over murmur3(f, h1)), and each band hash folds
  * its `rows` components through Murmur3 from the default seed 42 and
  * then mixes the 9999 literal — exactly how Spark's two-child
  * `hash(arr, lit(9999))` evaluates. Null/empty input yields sig
  * components that are all null, which Spark's array hash SKIPS, so
  * every band hash degenerates to the literal mix over the bare
  * seed — reproduced here explicitly.
  *
  * Why it exists (r14 near-dup profile): the two-step form pays an
  * interpreted per-band lambda, a `slice` ArrayData allocation per
  * band, and a boxed k-int signature array per document — none of
  * which survive this fusion. The banding stage is the single largest
  * compute block left in ScaleBench's `prep=10000000` stage.
  */
case class MinHashBandHashesLong(child: Expression, k: Int, bands: Int)
  extends UnaryExpression with CodegenFallback {
  require(k >= 1, s"k=$k")
  require(bands >= 1 && k % bands == 0,
    s"k=$k must be divisible by bands=$bands")

  private val rows = k / bands

  override def nullable: Boolean = false
  override lazy val deterministic: Boolean = true
  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
      case ArrayType(LongType, true) => TypeCheckResult.TypeCheckFailure(
        // same contract as MinHashSigLong: getLong on a null element
        // would silently read 0 — only non-null producers may fuse
        "minhash_band_hashes needs array<bigint> with non-null elements " +
          "(containsNull=false)")
      case t => TypeCheckResult.TypeCheckFailure(
        s"minhash_band_hashes needs array<bigint>, got ${t.sql}")
    }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return allSeed
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return allSeed
    val mins = Array.fill(k)(Int.MaxValue)
    var i = 0
    while (i < n) {
      // hash(x, lit(f)): h1 = murmur3(x, 42); component = murmur3(f, h1)
      val h1 = Murmur3HashFunction.hash(arr.getLong(i), LongType, 42L)
      var f = 0
      while (f < k) {
        val c = Murmur3HashFunction.hash(f, IntegerType, h1).toInt
        if (c < mins(f)) mins(f) = c
        f += 1
      }
      i += 1
    }
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      // hash(arr, lit(9999)) hashes TWO children from the default
      // seed 42: fold the band's components, then mix the 9999 literal
      var h = 42L
      var r = b * rows
      val end = r + rows
      while (r < end) {
        h = Murmur3HashFunction.hash(mins(r), IntegerType, h)
        r += 1
      }
      out(b) = Murmur3HashFunction.hash(9999, IntegerType, h).toInt
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Null/empty input: every signature component is null, Spark's
    * array hash skips nulls, every band hash degenerates to the
    * 9999-literal mix over the bare seed. */
  private def allSeed: GenericArrayData = {
    val h = Murmur3HashFunction.hash(9999, IntegerType, 42L).toInt
    new GenericArrayData(Array.fill[Any](bands)(h))
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashBandHashesLong =
    copy(child = newChild)
}
