package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.operators.Validation

/** Data-quality validation over the TPC-H tables: the declarative
  * constraint suite ([[graft.operators.Validation]]) a production
  * ingest pipeline runs as its admission gate. One aggregate pass per
  * table for every row-level check, one key-shuffle for uniqueness,
  * one join per referential rule.
  */
object ValidationQueries {

  type Q = (SparkSession, String) => DataFrame

  /** The full constraint suite: 8 row-level checks across lineitem and
    * orders (each table scanned ONCE), composite-key uniqueness on
    * lineitem, and both TPC-H referential arcs. All metrics are exact
    * integer num/den pairs — the result hashes bit-for-bit against the
    * SQL restatement of each rule. */
  val qQualityChecks: Q = (spark, dir) => {
    val li = Tables(spark, dir, "lineitem")
    val ord = Tables(spark, dir, "orders")
    val cust = Tables(spark, dir, "customer")
    val liRow = Validation.rowChecks(li, Seq(
      Validation.completeness("l_shipdate"),
      Validation.inSet("l_returnflag", Seq("A", "N", "R")),
      Validation.inRange("l_discount", 0.0, 0.1),
      Validation.minAtLeast("l_quantity", 1.0),
      Validation.maxAtMost("l_quantity", 50.0),
      Validation.nonEmpty("lineitem")))
    val ordRow = Validation.rowChecks(ord, Seq(
      Validation.matches("o_orderpriority", "^[1-5]-[A-Z]"),
      Validation.minAtLeast("o_totalprice", 0.0)))
    liRow.unionAll(ordRow)
      .unionAll(Validation.uniqueKey(li, Seq("l_orderkey", "l_linenumber")))
      .unionAll(Validation.referential(li, "l_orderkey", ord, "o_orderkey"))
      .unionAll(Validation.referential(ord, "o_custkey", cust, "c_custkey"))
      .orderBy("check_name", "target")
  }

  val qQualityChecksSql: String =
    """SELECT * FROM (
      |SELECT 'completeness' AS check_name, 'l_shipdate' AS target,
      |  count(l_shipdate) AS metric_num, count(*) AS metric_den,
      |  count(l_shipdate)*1000000 >= 1000000*count(*) AS passed
      |FROM lineitem
      |UNION ALL
      |SELECT 'in_set', 'l_returnflag',
      |  cast(sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 1 ELSE 0 END) as bigint),
      |  count(*),
      |  cast(sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 1 ELSE 0 END) as bigint)*1000000 >= 1000000*count(*)
      |FROM lineitem
      |UNION ALL
      |SELECT 'in_range', 'l_discount',
      |  cast(sum(CASE WHEN l_discount >= 0.0 AND l_discount <= 0.1 THEN 1 ELSE 0 END) as bigint),
      |  count(*),
      |  cast(sum(CASE WHEN l_discount >= 0.0 AND l_discount <= 0.1 THEN 1 ELSE 0 END) as bigint)*1000000 >= 1000000*count(*)
      |FROM lineitem
      |UNION ALL
      |SELECT 'min_at_least', 'l_quantity',
      |  cast(round(min(l_quantity)*100) as bigint), 100,
      |  cast(round(min(l_quantity)*100) as bigint) >= 100
      |FROM lineitem
      |UNION ALL
      |SELECT 'max_at_most', 'l_quantity',
      |  cast(round(max(l_quantity)*100) as bigint), 100,
      |  cast(round(max(l_quantity)*100) as bigint) <= 5000
      |FROM lineitem
      |UNION ALL
      |SELECT 'non_empty', 'lineitem', count(*), 1, count(*) >= 1
      |FROM lineitem
      |UNION ALL
      |SELECT 'matches', 'o_orderpriority',
      |  cast(sum(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-[A-Z]') THEN 1 ELSE 0 END) as bigint),
      |  count(*),
      |  cast(sum(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-[A-Z]') THEN 1 ELSE 0 END) as bigint)*1000000 >= 1000000*count(*)
      |FROM orders
      |UNION ALL
      |SELECT 'min_at_least', 'o_totalprice',
      |  cast(round(min(o_totalprice)*100) as bigint), 100,
      |  cast(round(min(o_totalprice)*100) as bigint) >= 0
      |FROM orders
      |UNION ALL
      |SELECT 'unique_key', 'l_orderkey,l_linenumber',
      |  cast(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) as bigint), count(*),
      |  cast(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) as bigint) = 0
      |FROM (SELECT count(*) AS cnt FROM lineitem GROUP BY l_orderkey, l_linenumber)
      |UNION ALL
      |SELECT 'referential', 'l_orderkey->o_orderkey',
      |  cast(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) as bigint),
      |  count(*),
      |  cast(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) as bigint) = 0
      |FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
      |  ON l.l_orderkey = o.o_orderkey
      |UNION ALL
      |SELECT 'referential', 'o_custkey->c_custkey',
      |  cast(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) as bigint),
      |  count(*),
      |  cast(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) as bigint) = 0
      |FROM orders o2 LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
      |  ON o2.o_custkey = c.c_custkey
      |) ORDER BY check_name, target""".stripMargin

  val queries: Map[String, Q] = Map(
    "quality_checks" -> qQualityChecks)

  val oracles: Map[String, String] = Map(
    "quality_checks" -> qQualityChecksSql)
}
