package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.Bridge

import graft.expressions.ZOrderValue

/** Data-layout clustering for write paths at scale.
  *
  * On 100 TB, query cost is dominated by how much of the table a scan
  * must read; the layout of rows into files decides that. Z-ordering
  * range-partitions rows by the Morton interleave of several key
  * columns, so each output file covers a small hyper-rectangle of the
  * key space: a range predicate on ANY of the dimensions then touches
  * few files (parquet footer min/max stats skip the rest), instead of
  * only predicates on the single leading sort column. A writer clusters
  * on the value with `repartitionByRange(numFiles, z)` and
  * `sortWithinPartitions(z)` (ZOrderSpec measures the file pruning).
  */
object Layout {

  /** Morton (Z-order) value of `cols` (each masked to `bits` bits) —
    * a compiled expression ([[ZOrderValue]]). */
  def zorderValue(cols: Seq[Column], bits: Int): Column =
    Bridge.column(ZOrderValue(cols.map(c =>
      Bridge.expression(c.cast("long"))), bits))
}
