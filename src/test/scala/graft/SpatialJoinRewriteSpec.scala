package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec

import graft.geom.st
import graft.operators.SpatialJoin
import graft.plans.SpatialJoinRewrite

/** The spatial-join planner: a bare st_intersects join plans as a hash
  * equi-join on buckets instead of a BroadcastNestedLoopJoin, with
  * brute-force results, and the SpatialJoin API gets the same plan. */
class SpatialJoinRewriteSpec extends SparkSpec {
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ SpatialJoinRewrite
  }

  private val cellSizeKey = "spark.graft.spatialJoin.cellSize"

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def boxesA = (0 until 30).map(i =>
    (i.toLong, i % 6 * 2.0, i / 6 * 2.0)).toDF("aid", "ax", "ay")
    .select($"aid", st.makeBox($"ax", $"ay", $"ax" + 2.5, $"ay" + 2.5).as("ga"))
  private def boxesB = (0 until 20).map(i =>
    (100L + i, i % 5 * 3.0 + 1.0, i / 5 * 3.0 + 1.0)).toDF("bid", "bx0", "by0")
    .select($"bid", st.makeBox($"bx0", $"by0", $"bx0" + 1.5, $"by0" + 1.5).as("gb"))

  test("st_intersects join is rewritten to a bucketed equi-join") {
    val j = boxesA.join(boxesB, st.intersects($"ga", $"gb"))
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
      s"nested-loop join survived the rewrite:\n$plan")
    assert(plan.contains("Generate"), "bucket explode missing from plan")

    val viaRule = j.select("aid", "bid").as[(Long, Long)].collect().toSet
    val brute = boxesA.crossJoin(boxesB).filter(st.intersects($"ga", $"gb"))
      .select("aid", "bid").as[(Long, Long)].collect().toSet
    assert(viaRule == brute)
    assert(viaRule.nonEmpty)
  }

  test("each qualifying pair appears exactly once (reference-point dedup)") {
    val j = boxesA.join(boxesB, st.intersects($"ga", $"gb"))
      .groupBy("aid", "bid").count()
    assert(j.filter($"count" > 1).count() == 0)
  }

  test("ordinary equi-joins are untouched") {
    val l = Seq((1L, "a"), (2L, "b")).toDF("k", "v1")
    val r = Seq((1L, "x"), (3L, "y")).toDF("k", "v2")
    val j = l.join(r, "k")
    assert(!j.queryExecution.optimizedPlan.toString.contains("__bucket"))
    assert(j.count() == 1)
  }

  test("conjunction conditions rewrite, carrying the rest into the refine") {
    val j = boxesA.join(boxesB,
      st.intersects($"ga", $"gb") && $"aid" < 10 && $"bid" =!= 105L)
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
      s"nested-loop join survived the conjunction rewrite:\n$plan")
    val viaRule = j.select("aid", "bid").as[(Long, Long)].collect().toSet
    val brute = boxesA.crossJoin(boxesB)
      .filter(st.intersects($"ga", $"gb") && $"aid" < 10 && $"bid" =!= 105L)
      .select("aid", "bid").as[(Long, Long)].collect().toSet
    assert(viaRule == brute)
    assert(viaRule.nonEmpty)
  }

  test("equi+spatial conjunction joins keep the hash join on the key") {
    // When the condition carries a selective equi conjunct, Catalyst's
    // stock plan (hash join on the key, spatial predicate as join
    // filter) beats the bucket-explode rewrite (which replicates rows
    // per covering cell and joins on the less-selective bucket key) —
    // the rule must leave the join untouched.
    val l = boxesA.withColumn("k", $"aid" % 7)
    val r = boxesB.withColumn("k", $"bid" % 7)
    val j = l.join(r, l("k") === r("k") && st.intersects($"ga", $"gb"))
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("__bucket"), s"bucket rewrite hijacked an equi join:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected a hash/sort-merge join on the equi key:\n$plan")
    // and the results are the brute-force truth
    val got = j.select("aid", "bid").as[(Long, Long)].collect().toSet
    val truth = boxesA.crossJoin(boxesB)
      .filter(($"aid" % 7 === $"bid" % 7) && st.intersects($"ga", $"gb"))
      .select("aid", "bid").as[(Long, Long)].collect().toSet
    assert(got == truth)
    assert(got.nonEmpty)
    // the spatial-only shape still rewrites (no nested loop) in the
    // same session — the bail-out is per-join, not global
    val spatialOnly = boxesA.join(boxesB, st.intersects($"ga", $"gb"))
    val p2 = spatialOnly.queryExecution.executedPlan.toString
    assert(!p2.contains("BroadcastNestedLoop") && !p2.contains("CartesianProduct"))
  }

  test("st_contains / st_within joins rewrite to bucketed equi-joins") {
    // big A boxes containing small B boxes
    val contains = boxesA.join(boxesB, st.contains($"ga", $"gb"))
    val withinSwapped = boxesA.join(boxesB, st.within($"gb", $"ga"))
    for (j <- Seq(contains, withinSwapped)) {
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
        s"nested-loop join survived the contains/within rewrite:\n$plan")
    }
    val gotContains = contains.select("aid", "bid")
      .as[(Long, Long)].collect().toSet
    val gotWithin = withinSwapped.select("aid", "bid")
      .as[(Long, Long)].collect().toSet
    // within(b, a) ⇔ contains(a, b)
    assert(gotContains == gotWithin)
    // brute-force truth over collected geometries
    val as = boxesA.select($"aid", st.xmin($"ga"), st.ymin($"ga"),
      st.xmax($"ga"), st.ymax($"ga"))
      .as[(Long, Double, Double, Double, Double)].collect()
    val bs = boxesB.select($"bid", st.xmin($"gb"), st.ymin($"gb"),
      st.xmax($"gb"), st.ymax($"gb"))
      .as[(Long, Double, Double, Double, Double)].collect()
    val brute = (for {
      (aid, ax0, ay0, ax1, ay1) <- as
      (bid, bx0, by0, bx1, by1) <- bs
      if bx0 >= ax0 && by0 >= ay0 && bx1 <= ax1 && by1 <= ay1
    } yield (aid, bid)).toSet
    assert(gotContains == brute)
    assert(gotContains.nonEmpty)
  }

  test("the rewritten plan explodes st_envelope_cells and refines with st_pair_refine") {
    val plan = boxesA.join(boxesB, st.intersects($"ga", $"gb"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("st_envelope_cells") && plan.contains("st_pair_refine"),
      s"the fused explode and refine are missing from the plan:\n$plan")
  }

  test("a SQL-text st_within join plans no nested loop and equals brute force") {
    GraftFunctions.register(spark)
    boxesA.createOrReplaceTempView("sj_a")
    boxesB.createOrReplaceTempView("sj_b")
    val j = spark.sql(
      "SELECT a.aid, b.bid FROM sj_a a JOIN sj_b b ON st_within(b.gb, a.ga)")
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
      s"nested-loop join survived the SQL st_within rewrite:\n$plan")
    val got = j.as[(Long, Long)].collect().toSet
    val brute = boxesA.crossJoin(boxesB).filter(st.within($"gb", $"ga"))
      .select("aid", "bid").as[(Long, Long)].collect().toSet
    assert(got == brute)
    assert(got.nonEmpty)
  }

  test("SpatialJoin.joinContains plans like a plain st_contains join through the rule") {
    // Generate, Exchange and join nodes of the executed plan, with AQE
    // and broadcast off so both sides shuffle and nothing re-plans
    def shape(df: DataFrame) = {
      val p: SparkPlan = df.queryExecution.executedPlan
      (p.collect { case g: GenerateExec => g }.size,
        p.collect { case e: Exchange => e }.size,
        p.collect { case b: BaseJoinExec => b }.size)
    }
    def rows(df: DataFrame) =
      df.select("aid", "bid").as[(Long, Long)].collect().toSeq.sorted
    withConf(cellSizeKey -> "1.5", "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val viaApi = SpatialJoin.joinContains(boxesA, boxesB, "ga", "gb", 1.5)
      val viaRule = boxesA.join(boxesB, st.contains($"ga", $"gb"))
      assert(viaApi.columns.toSeq == viaRule.columns.toSeq)
      assert(rows(viaApi) == rows(viaRule))
      assert(rows(viaApi).nonEmpty)
      assert(shape(viaApi) == shape(viaRule))
      assert(shape(viaApi) == (2, 2, 1))
    }
  }

  test("a cell size that is not finite and > 0 is rejected on both entry points") {
    for (c <- Seq(-1.0, 0.0, Double.NaN, Double.PositiveInfinity)) {
      for (call <- Seq(
          () => SpatialJoin.joinContains(boxesA, boxesB, "ga", "gb", c),
          () => SpatialJoin.overlayIntersection(boxesA, boxesB, "ga", "gb", c))) {
        val e = intercept[IllegalArgumentException](call().collect())
        assert(e.getMessage.contains("cell size must be finite and > 0"),
          s"cellSize=$c: ${e.getMessage}")
      }
    }
    def confJoin() =
      boxesA.join(boxesB, st.intersects($"ga", $"gb")).collect()
    val negative = withConf(cellSizeKey -> "-1") {
      intercept[IllegalArgumentException](confJoin())
    }
    assert(negative.getMessage.contains("cell size must be finite and > 0"))
    val garbage = withConf(cellSizeKey -> "abc") {
      intercept[IllegalArgumentException](confJoin())
    }
    assert(garbage.getMessage.contains(s"$cellSizeKey must be a number"))
  }
}
