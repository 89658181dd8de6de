package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graftbridge.Bridge

import graft.expressions.BloomMightContain

/** Broadcast Bloom filter over 64-bit key hashes — the map-side
  * prefilter that keeps a 100 TB corpus OFF the shuffle in membership
  * joins against a driver-boundable reference set (benchmark
  * decontamination, URL blocklists, standing dedup indexes).
  *
  * Pattern: [[build]] aggregates the reference set's bit array
  * DISTRIBUTED (per-partition local bit sets, bitwise-OR reduce — the
  * driver only ever holds finished bit arrays); the filter then rides
  * the task broadcast into [[mightContain]], a compiled expression
  * evaluated map-side on the corpus. Survivors (true-positive ∪ ~1%
  * false-positive) are the ONLY rows that reach the exact-refine
  * equi-join, so final semantics stay EXACT while the big side's
  * shuffle volume drops by the non-member fraction (≈ the whole
  * corpus, for decontamination-shaped workloads).
  */
object Bloom {

  /** Immutable Bloom filter: `m` bits (power of two) in 64-bit words,
    * `k` probes by double hashing (h2 forced odd so probes cycle the
    * full table). */
  final case class Filter(bits: Array[Long], k: Int) {
    require(bits.nonEmpty && (bits.length & (bits.length - 1)) == 0,
      s"word count must be a power of two: ${bits.length}")
    private val mask = bits.length * 64L - 1L

    def mightContain(h: Long): Boolean = {
      val h2 = (h >>> 32) * 2 + 1
      var i = 0
      while (i < k) {
        val idx = (h + i * h2) & mask
        if ((bits((idx >>> 6).toInt) & (1L << (idx & 63))) == 0L) return false
        i += 1
      }
      true
    }

    def set(h: Long): Unit = {
      val h2 = (h >>> 32) * 2 + 1
      var i = 0
      while (i < k) {
        val idx = (h + i * h2) & mask
        bits((idx >>> 6).toInt) |= 1L << (idx & 63)
        i += 1
      }
    }

    /** Occupied-bit fraction — observability for sizing mistakes
      * (≥ 0.5 means the false-positive rate has left the design
      * envelope and the prefilter is passing junk downstream). */
    def loadFactor: Double =
      bits.map(java.lang.Long.bitCount).sum.toDouble / (bits.length * 64.0)
  }

  /** Size a filter for `expectedN` keys at `bitsPerKey` (10 → ≈1% fpp
    * with the optimal k ≈ 7). Word count rounds up to a power of two
    * so probe masking is a single AND. */
  def empty(expectedN: Long, bitsPerKey: Int = 10): Filter = {
    require(expectedN > 0 && bitsPerKey > 0)
    val bitsWanted = math.max(64L, expectedN * bitsPerKey)
    var words = 1
    while (words * 64L < bitsWanted && words < (1 << 26)) words <<= 1 // ≤512 MiB
    val k = math.max(1, math.round(bitsPerKey * math.log(2.0)).toInt)
    Filter(new Array[Long](words), k)
  }

  /** Build a filter over a LongType hash column, distributed: each
    * partition fills a local bit array; arrays bitwise-OR-reduce up a
    * tree. The reference set never collects — only `m/8`-byte bit
    * arrays move, log(partitions) of them to the driver. */
  def build(keys: DataFrame, hashCol: Column, expectedN: Long,
      bitsPerKey: Int = 10): Filter = {
    val proto = empty(expectedN, bitsPerKey)
    val k = proto.k
    val words = proto.bits.length
    val bits = keys.select(hashCol.cast("long")).rdd
      .map(_.getLong(0))
      .treeAggregate(new Array[Long](words))(
        seqOp = (acc, h) => { Filter(acc, k).set(h); acc },
        combOp = (a, b) => { var i = 0; while (i < a.length) { a(i) |= b(i); i += 1 }; a })
    Filter(bits, k)
  }

  /** `might_contain(filter, hash)` as a compiled map-side column. */
  def mightContain(f: Filter, h: Column): Column =
    Bridge.column(BloomMightContain(Seq(Bridge.expression(h)), f.bits, f.k))
}
