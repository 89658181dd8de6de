package graft

import org.apache.spark.sql.functions._

import graft.operators.{Layout, Packing}

/** Z-order layout + sequence-packing specs: value correctness against a
  * straight-line reference, codegen execution, and the locality claim
  * that justifies the operator at scale. */
class ZOrderSpec extends SparkSpec {

  import spark.implicits._

  private def mortonRef(a: Long, b: Long, bits: Int): Long = {
    var z = 0L
    for (i <- 0 until bits) {
      z |= ((a >> i) & 1L) << (2 * i)
      z |= ((b >> i) & 1L) << (2 * i + 1)
    }
    z
  }

  /** The z write layout: range-partition by the z-value into `numFiles`
    * partitions and sort within each (one sampled range exchange, then
    * a per-partition sort). */
  private def clusterByZ(df: org.apache.spark.sql.DataFrame,
      cols: Seq[org.apache.spark.sql.Column], bits: Int, numFiles: Int) =
    df.withColumn("__z", Layout.zorderValue(cols, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")

  test("ZOrderValue codegen compiles eagerly and matches interpreted eval") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.LongType
    val e = graft.expressions.ZOrderValue(Seq(
      BoundReference(0, LongType, nullable = true),
      BoundReference(1, LongType, nullable = true)), 16)
    val proj = GenerateUnsafeProjection.generate(Seq(e)) // throws on bad Java
    for ((a, b) <- Seq((0L, 0L), (5L, 3L), (65535L, 1L), ((1L << 20) + 9L, 2L))) {
      val row = InternalRow(a, b)
      assert(proj(row).getLong(0) == mortonRef(a & 0xffffL, b & 0xffffL, 16))
      assert(e.eval(row) == proj(row).getLong(0))
    }
  }

  test("zorderValue matches the reference interleave (codegen path)") {
    val rng = new scala.util.Random(7)
    val rows = Seq.fill(200)((rng.nextInt(1 << 16).toLong, rng.nextInt(1 << 16).toLong))
    val got = rows.toDF("a", "b")
      .select(col("a"), col("b"),
        Layout.zorderValue(Seq(col("a"), col("b")), 16).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (a, b, z) => assert(z == mortonRef(a, b, 16), s"($a,$b)") }
    // masked inputs: values beyond `bits` bits don't bleed into z
    val masked = Seq(((1L << 20) + 5L, 3L)).toDF("a", "b")
      .select(Layout.zorderValue(Seq(col("a"), col("b")), 16).as("z"))
      .as[Long].head()
    assert(masked == mortonRef(5L, 3L, 16))
  }

  test("z-clustered layout concentrates a 2-D box into few files") {
    // 64x64 key grid, one row per cell, laid out into 16 "files"
    // (partitions tagged by spark_partition_id as a file stand-in)
    val grid = spark.range(64L * 64L)
      .select((col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"))
    def filesTouched(df: org.apache.spark.sql.DataFrame): Long =
      df.withColumn("f", spark_partition_id())
        .filter(col("x").between(8, 15) && col("y").between(40, 47))
        .select("f").distinct().count()
    val naive = grid.repartitionByRange(16, col("x")) // single-column sort layout
    val zed = clusterByZ(grid, Seq(col("x"), col("y")), 6, 16)
    val nNaive = filesTouched(naive)
    val nZ = filesTouched(zed)
    // x-sorted layout: the x-slab spans every y, so the box hits every
    // file covering x∈[8,15] but those files contain ALL y — a y-filter
    // prunes nothing. The z layout bounds both coordinates per file.
    assert(nZ <= 2, s"z layout touched $nZ of 16 files")
    assert(nZ < nNaive || nNaive <= 2,
      s"z=$nZ naive=$nNaive — z-order lost locality")
  }

  test("z-clustered Parquet write prunes real file reads under box predicates") {
    // End-to-end: write both layouts to ACTUAL parquet, read back with
    // predicates, and count the files that surface rows
    // (input_file_name) — parquet footer min/max stats make a file
    // invisible to the scan when the predicate excludes its whole range.
    val grid = spark.range(64L * 64L)
      .select((col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    val zDir = s"$tmp/z"; val nDir = s"$tmp/naive"
    clusterByZ(grid, Seq(col("x"), col("y")), 6, 16)
      .write.mode("overwrite").parquet(zDir)
    grid.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(nDir)

    def touched(dir: String, pred: org.apache.spark.sql.Column): (Long, Long) = {
      val df = spark.read.parquet(dir).filter(pred)
      // the range predicates must reach the parquet reader
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [") &&
        plan.contains("GreaterThanOrEqual"), s"filters not pushed:\n$plan")
      (df.select(input_file_name()).distinct().count(), df.count())
    }
    val box = col("x").between(8, 15) && col("y").between(40, 47)
    val yOnly = col("y").between(40, 47)

    val (zBoxFiles, zBoxRows) = touched(zDir, box)
    val (nBoxFiles, nBoxRows) = touched(nDir, box)
    assert(zBoxRows == 64 && nBoxRows == 64) // both layouts, same answer
    assert(zBoxFiles <= 2, s"box predicate surfaced $zBoxFiles z files")

    // the discriminating case: a y-only predicate. The x-sorted layout
    // spreads every y across all 16 files; the z layout pins y's high
    // bits per file, so only the files whose z range admits y∈[40,47]
    // surface rows.
    val (zYFiles, _) = touched(zDir, yOnly)
    val (nYFiles, _) = touched(nDir, yOnly)
    assert(zYFiles <= 4, s"y-only predicate surfaced $zYFiles of 16 z files")
    assert(nYFiles >= 12, s"expected the x-sorted layout to touch ~all files, got $nYFiles")
    assert(zYFiles < nYFiles)
  }

  test("packByBudget equals the single-window prefix sum") {
    val rng = new scala.util.Random(11)
    val docs = (0L until 1000L).map(i => (i, 1L + rng.nextInt(400).toLong))
      .toDF("doc_id", "n_tokens")
    val packed = Packing.packByBudget(docs, "doc_id", "n_tokens",
        budget = 2048, bucketSize = 64)
      .orderBy("id").as[(Long, Long, Long, Long)].collect()
    var off = 0L
    docs.orderBy("doc_id").as[(Long, Long)].collect().zip(packed).foreach {
      case ((id, tok), (pid, ptok, poff, pshard)) =>
        assert(pid == id && ptok == tok)
        assert(poff == off, s"doc $id offset")
        assert(pshard == off / 2048, s"doc $id shard")
        off += tok
    }
  }

  test("packByBudget never sorts more than a bucket in one task") {
    // plan audit: the only unbounded ordered window runs over the
    // bucket-totals frame, whose row count is corpus/bucketSize
    val docs = spark.range(1000)
      .select(col("id").as("doc_id"), lit(10L).as("n_tokens"))
    val plan = Packing.packByBudget(docs, "doc_id", "n_tokens", 2048, 64)
      .queryExecution.optimizedPlan.toString
    // two windows total: the tiny global one and the per-bucket one
    assert("windowspecdefinition".r.findAllIn(plan.toLowerCase).size <= 2)
  }
}
