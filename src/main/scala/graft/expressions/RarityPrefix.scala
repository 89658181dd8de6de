package graft.expressions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** rarity_prefix(shh) — the PPJoin prefix of a hashed shingle set
  * (`array<bigint>`, the xxhash64 longs of
  * [[graft.operators.Dedup.hashedShingles]]), computed entirely
  * map-side: tokens are sorted under the global total order
  * (corpusCount(tok), tok) and the first |X| − ⌈t·|X|⌉ + 1 are emitted
  * as (tok: bigint, rn: int) structs, rn being the token's 1-based
  * position in the FULL sorted order (what the positional filter
  * needs).
  *
  * `counts` is a driver-built, broadcast frequency table of the HEAVY
  * tokens only (tokens absent default to count 1): the prefix
  * principle is exact under ANY one total order, so approximate counts
  * cost nothing in correctness — rarity ordering is purely a
  * candidate-pruning device, and the frequent tokens (the ones whose
  * df² would explode the token self-join) are exactly the ones a
  * sampled table catches. Replacing the exact corpus-frequency path
  * (full token groupBy + token-keyed join + per-doc rank window —
  * three corpus-sized shuffles) with one broadcast lookup is the
  * 100 TB shape: the token stream never shuffles before the candidate
  * join itself.
  */
case class RarityPrefix(child: Expression,
    counts: Broadcast[Map[Long, Long]], threshold: Double)
  extends UnaryExpression with CodegenFallback {

  require(threshold > 0.0 && threshold <= 1.0, s"threshold=$threshold")

  override def nullable: Boolean = true
  override lazy val deterministic: Boolean = true
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("tok", LongType, nullable = false),
    StructField("rn", IntegerType, nullable = false))), containsNull = false)

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val sz = arr.numElements()
    if (sz == 0) return new GenericArrayData(Array.empty[Any])
    val ranks = counts.value
    // the conservative 1e-9 nudge matches the exact-frequency path: a
    // double product rounding a hair above the exact rational must
    // never shorten the prefix past an exactly-at-threshold pair
    val prefixLen = math.max(
      sz - math.ceil(sz * threshold - 1e-9).toLong + 1, 1L).min(sz).toInt
    val toks = arr.toLongArray()
    val order = (0 until sz).sortBy(j => (ranks.getOrElse(toks(j), 1L), toks(j)))
    val out = new Array[Any](prefixLen)
    var i = 0
    while (i < prefixLen) {
      out(i) = InternalRow(toks(order(i)), i + 1)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): RarityPrefix =
    copy(child = newChild)
}
