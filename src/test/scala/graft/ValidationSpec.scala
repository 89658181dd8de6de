package graft


import graft.operators.Validation

/** Hand-computed checks for the declarative validation suite. */
class ValidationSpec extends SparkSpec {
  import spark.implicits._

  private def byKey(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0) + "/" + r.getString(1),
      (r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap

  test("rowChecks evaluates all constraints in one pass with exact counts") {
    val df = Seq(
      (1L, Some("A"), 5.0, "1-URGENT"),
      (2L, Some("N"), 55.0, "5-LOW"),
      (3L, None, 20.0, "9-BOGUS"),
      (4L, Some("X"), -1.0, "2-HIGH")
    ).toDF("id", "flag", "qty", "prio")
    val out = byKey(Validation.rowChecks(df, Seq(
      Validation.completeness("flag"),
      Validation.inSet("flag", Seq("A", "N", "R")),
      Validation.inRange("qty", 0.0, 50.0, minFraction = 0.5),
      Validation.minAtLeast("qty", 0.0),
      Validation.maxAtMost("qty", 50.0),
      Validation.matches("prio", "^[1-5]-", minFraction = 0.75),
      Validation.nonEmpty("t", minRows = 5L))))
    // completeness: 3 of 4 non-null → fails at 1.0
    assert(out("completeness/flag") === ((3L, 4L, false)))
    // …but 3/4 meets a 0.75 threshold
    assert(byKey(Validation.rowChecks(df,
      Seq(Validation.completeness("flag", minFraction = 0.75))))
      .apply("completeness/flag") === ((3L, 4L, true)))
    // in_set: A,N in set; null and X are not
    assert(out("in_set/flag") === ((2L, 4L, false)))
    // in_range [0,50]: 5,20 in; 55,-1 out → 2/4 meets 0.5 exactly
    assert(out("in_range/qty") === ((2L, 4L, true)))
    // min = -1.0 → -100 cents, fails ≥ 0
    assert(out("min_at_least/qty") === ((-100L, 100L, false)))
    // max = 55.0 → 5500 cents, fails ≤ 5000
    assert(out("max_at_most/qty") === ((5500L, 100L, false)))
    // matches ^[1-5]-: 3 of 4 → exactly 0.75
    assert(out("matches/prio") === ((3L, 4L, true)))
    // 4 rows < minRows 5
    assert(out("non_empty/t") === ((4L, 1L, false)))
  }

  test("uniqueKey counts duplicate key groups exactly") {
    val df = Seq((1L, 1), (1L, 2), (2L, 1), (2L, 1), (3L, 1), (3L, 1))
      .toDF("k", "n")
    val r = Validation.uniqueKey(df, Seq("k", "n")).collect()(0)
    // distinct (k,n): (1,1),(1,2),(2,1),(3,1) = 4; dup groups: (2,1),(3,1)
    assert(r.getString(0) === "unique_key")
    assert(r.getString(1) === "k,n")
    assert(r.getLong(2) === 2L)
    assert(r.getLong(3) === 4L)
    assert(!r.getBoolean(4))

    val ok = Validation.uniqueKey(df.select("k", "n").distinct(), Seq("k", "n"))
      .collect()(0)
    assert(ok.getLong(2) === 0L && ok.getBoolean(4))
  }

  test("referential counts orphan child rows") {
    val child = Seq(1L, 1L, 2L, 5L, 6L).toDF("fk")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val r = Validation.referential(child, "fk", parent, "pk").collect()(0)
    assert(r.getString(1) === "fk->pk")
    assert(r.getLong(2) === 2L) // 5 and 6 are orphans
    assert(r.getLong(3) === 5L)
    assert(!r.getBoolean(4))
  }

  test("rowChecks plan is a single scan (one aggregate, no joins)") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val plan = Validation.rowChecks(df, Seq(
      Validation.completeness("s"),
      Validation.inSet("s", Seq("a")),
      Validation.nonEmpty("t"))).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"unexpected join in:\n$plan")
    // exactly one aggregation pair (partial+final), not one per check
    val nAggs = "HashAggregate".r.findAllIn(plan).size
    assert(nAggs <= 2, s"expected one partial+final aggregate, got:\n$plan")
  }
}
