package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Order-independent exact aggregation helpers.
  *
  * Spark sums doubles in partial/final aggregation whose addition order
  * depends on partitioning; DuckDB (the correctness oracle) sums
  * sequentially. Plain `sum(double)` therefore differs in the low bits and
  * breaks hash comparison. For fixed-point data (prices with 2 decimals,
  * metric values with bounded precision) we instead sum exact integer
  * units (`long` — associative, order-independent) and divide back once.
  * The final integer→double division is a single IEEE op, identical on
  * both engines.
  */
object Exact {

  /** The exact integer-unit sum behind [[fixedSum]]/[[fixedAvg]]:
    * [[graft.expressions.Int128Sum]], a two-long-buffer 128-bit
    * accumulator, emitted as decimal(38,0) so the final `.cast(double)`
    * rounds exactly as the former `sum(decimal(38,0))` did. The stock
    * decimal sum allocated a BigDecimal per row (precision 38 never
    * takes Decimal's compact form) and cost ~134 ns/row — +1.5 s on
    * geo_distance_join's 11 M refined pairs; the 128-bit form is ~8
    * codegen'd long ops, and its sums equal the decimal form's
    * (Int128SumSpec compares the two). Non-finite units (NaN/±Inf,
    * which the decimal cast nulled and the sum skipped) are nulled
    * explicitly so the skip semantics survive the long cast. Per-VALUE
    * domain is |round(c·10^dec)| < 2^63 (the helpers' stated
    * fixed-point contract); the SUM is exact to 2^127 vs the decimal
    * form's 10^38 — the same order of overflow headroom at 1e10+ rows. */
  private[graft] def unitSum(c: Column, unit: Double): Column = {
    val u = round(c * unit)
    // Null out non-finite units AND finite units outside the long
    // domain (|u| >= 2^63): the old decimal(38,0) cast skipped the
    // former, and the double→long cast would silently saturate the
    // latter to Long.Min/MaxValue (legacy mode), corrupting the sum
    // for out-of-contract values instead of skipping them (ADVICE r16).
    val safe = when(isnan(u) || abs(u) >= 9.223372036854776e18, lit(null))
      .otherwise(u).cast("long")
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.expressions.Int128Sum(Bridge.expression(safe))
      .toAggregateExpression())
  }

  /** Exact sum of a fixed-point column with `dec` decimal digits.
    * Accumulates in 128-bit integer units ([[unitSum]]) so the sum
    * cannot overflow at ~1e10+ rows (single-long units would wrap
    * silently at 100 TB scale while the DuckDB oracle promotes to
    * HUGEINT). The final integer→double division is a single IEEE op,
    * identical on both engines. */
  def fixedSum(c: Column, dec: Int): Column = {
    val unit = math.pow(10, dec)
    unitSum(c, unit).cast("double") / lit(unit)
  }

  /** Exact mean of a fixed-point column with `dec` decimal digits. */
  def fixedAvg(c: Column, dec: Int): Column = {
    val unit = math.pow(10, dec)
    unitSum(c, unit).cast("double") / (count(lit(1)) * lit(unit))
  }

  /** Exact 128-bit sum of an integral LONG column, emitted as
    * decimal(38,0) — the allocation-free replacement for
    * `sum(cast(v as decimal(38,0)))` when the input is already a long
    * ([[unitSum]] is the fixed-point-double front end). */
  def int128Sum(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.expressions.Int128Sum(Bridge.expression(c))
      .toAggregateExpression())
  }

  /** Exact 128-bit Σ(x·y) of two integral LONG columns, emitted as
    * decimal(38,0) — the allocation-free replacement for
    * `sum(cast(x as decimal(38,0)) * cast(y as decimal(38,0)))`: the
    * per-row product is a codegen'd 64×64→128-bit mulhi instead of a
    * BigDecimal multiply ([[graft.expressions.Int128SumProduct]]). */
  def int128SumProduct(x: Column, y: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.expressions.Int128SumProduct(
        Bridge.expression(x), Bridge.expression(y))
      .toAggregateExpression())
  }

  /** SQL fragment equivalents for the DuckDB oracle. */
  def sqlFixedSum(expr: String, dec: Int): String = {
    val unit = "1" + "0" * dec
    s"sum(cast(round(($expr) * $unit) as bigint)) / $unit.0"
  }
}
