package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.expressions.TopKByScore

/** Similarity search over an embedding column (north-star extension).
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set,
  * score every corpus row map-side, then a bounded-heap top-k AGGREGATE
  * per query: partial aggregation keeps ≤ k rows per task, so the
  * shuffle carries k·queries rows and no task ever ranks the whole
  * corpus (the round-1 single-task `Window.partitionBy(query_id)` rank
  * is gone). Scale path: sign-LSH bucketing ([[lshBucket]]) makes
  * candidate generation an equi-join on a 4-byte bucket key — the same
  * bucket-explode join skeleton as the spatial join (SURVEY §2.3 J3).
  */
object Ann {

  /** Sequential (left-to-right) double-precision dot product of two
    * float-array columns — bit-deterministic across engines. Runs as a
    * tight primitive loop ([[graft.expressions.VecDot]]) producing the
    * exact values of the equivalent `aggregate(zip_with(...))` chain. */
  def dot(a: Column, b: Column): Column =
    Bridge.column(graft.expressions.VecDot(
      Seq(Bridge.expression(a), Bridge.expression(b))))

  def norm(a: Column): Column =
    sqrt(Bridge.column(graft.expressions.VecSumSq(Seq(Bridge.expression(a)))))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Bounded-heap top-k aggregate column: best-first
    * array<struct<neighbor_id, cos_sim>>, ties broken on smaller id. */
  def topK(score: Column, id: Column, k: Int): Column =
    Bridge.column(TopKByScore(
      Bridge.expression(struct(score.cast("double"), id.cast("long"))), k)
      .toAggregateExpression())

  /** (query_id, rank, neighbor_id, cos_sim) from scored candidates via
    * the partial-aggregating top-k (identical output contract to a
    * row_number window rank, minus the single-task funnel). */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(topK(col("cos_sim"), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("col.neighbor_id").as("neighbor_id"),
        col("col.cos_sim").as("cos_sim"))

  /** Brute-force cosine top-k: for every query row, the k nearest corpus
    * rows (excluding self). Deterministic tie-break on corpus id. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    val scored = c.join(q, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("cos_sim"))
    rankTopK(scored, k)
  }

  /** Sign-LSH bucket id: `planes` random-hyperplane sign bits packed into
    * an int. Hyperplane components are ±1 derived from murmur3 of
    * (plane, dim) — deterministic everywhere, no stored model. Computed
    * by [[graft.expressions.SignLshBucket]] as one compiled pass per
    * vector (the HOF formulation evaluated planes × dims interpreted
    * lambda steps per row). */
  def lshBucket(vec: Column, planes: Int): Column =
    Bridge.column(graft.expressions.SignLshBucket(
      Seq(Bridge.expression(vec)), planes))

  /** Bucket under an independent plane family — band `seed` of a banded
    * cosine-LSH scheme. */
  def lshBucketSeeded(vec: Column, planes: Int, seed: Int): Column =
    Bridge.column(graft.expressions.SignLshBucket(
      Seq(Bridge.expression(vec)), planes, seed))

  /** Embedding-cosine NEAR-DUP pairs — the dedup-by-embedding mode of a
    * training-data pipeline: all pairs (id_a < id_b) with exact cosine ≥
    * `threshold`, found by BANDED sign-LSH (AND over `planesPerBand`
    * hyperplane signs within a band, OR over `bands` independent plane
    * families — the cosine analogue of MinHash banding) + exact-cosine
    * refine of candidates.
    *
    * Scale shape: membership rows are (id, band, 4-byte bucket); pairs
    * come from one grouped pass over the buckets under the `maxBucket`
    * size guard ([[Dedup.pairsFromBuckets]]);
    * vectors ride only the candidate refine joins. Miss probability per
    * true pair = (1 − (1 − θ/π)^p)^b — at cosine 0.99 with the defaults
    * (p=12, b=24) ≈ 1e-13. */
  def cosineNearDups(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bands: Int = 24, planesPerBand: Int = 12,
      maxBucket: Int = 4096): DataFrame = {
    val ids = corpus.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val memb = ids.select(col("id"), posexplode(array((0 until bands).map(b =>
      lshBucketSeeded(col("v"), planesPerBand, 1000 + b)): _*)))
      .select(col("id"), col("pos").as("band"), col("col").as("bval"))
    val cand = Dedup.pairsFromBuckets(memb, Seq("band", "bval"), maxBucket)
    val a = ids.select(col("id").as("id_a"), col("v").as("va"))
    val b = ids.select(col("id").as("id_b"), col("v").as("vb"))
    cand.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        cosine(col("va"), col("vb")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** IVF (inverted-file) ANN — the other classic scale path: a coarse
    * quantizer of `nlist` centroid cells partitions the corpus; a query
    * probes only its `nprobe` nearest cells and scores exactly within
    * them. Candidate generation is an equi-join on a 4-byte cell id
    * (same skeleton as LSH/spatial buckets); recall grows with nprobe.
    *
    * Centroids: deterministic stride-seeded init, refined by
    * `lloydIters` Lloyd iterations over FIXED-POINT component sums —
    * each vector component is scaled to a ×2^24 long before the
    * per-(cell, dim) sum, so the trained centroids are order-independent
    * and bit-identical under any partitioning (double/float summation
    * order would not be). One iteration costs one corpus pass (nlist
    * compiled cosines per row) plus a map-side-combined shuffle of
    * nlist·dims long partials; the driver only holds the nlist×dims
    * model. Empty cells keep their previous centroid. */
  /** Best `m` cells under `cents`, best first (compiled kernel —
    * [[graft.expressions.CentroidCells]]; ties → larger cell id). */
  private def cellsFor(cents: Array[Array[Float]], m: Int)(vec: Column): Column =
    Bridge.column(graft.expressions.CentroidCells(
      Seq(Bridge.expression(vec)), cents, m))

  /** Nearest cell under `cents`. */
  private def cellFor(cents: Array[Array[Float]])(vec: Column): Column =
    element_at(cellsFor(cents, 1)(vec), 1)

  /** Train the IVF coarse quantizer: deterministic stride-seeded init
    * refined by `lloydIters` fixed-point Lloyd iterations (see
    * [[ivfTopK]] — the model is bit-identical under any partitioning;
    * empty cells keep their previous centroid). Driver holds only the
    * nlist×dims array. */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, lloydIters: Int): Array[Array[Float]] = {
    val n = corpus.count()
    val stride = math.max(n / nlist, 1L)
    var centroids: Array[Array[Float]] = corpus
      .filter(col(idCol).cast("long") % stride === 0)
      .orderBy(col(idCol))
      .limit(nlist)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray)
    val fpScale = 1L << 24
    for (_ <- 0 until lloydIters) {
      val parts = corpus
        .select(cellFor(centroids)(col(vecCol)).as("cell"),
          posexplode(Bridge.column(graft.expressions.FixedPointLongs(
            Seq(Bridge.expression(col(vecCol))), fpScale))))
        .groupBy("cell", "pos")
        .agg(sum("col").as("s"), count(lit(1)).as("cnt"))
        .collect()
      val next = centroids.map(_.clone())
      parts.groupBy(_.getInt(0)).foreach { case (cell, rs) =>
        rs.foreach { r =>
          next(cell)(r.getInt(1)) =
            (r.getLong(2).toDouble / r.getLong(3) / fpScale).toFloat
        }
      }
      centroids = next
    }
    centroids
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
      lloydIters: Int = 1): DataFrame = {
    val centroids = ivfCentroids(corpus, idCol, vecCol, nlist, lloydIters)

    def cellOf(vec: Column): Column = cellFor(centroids)(vec)

    /** The query's nprobe nearest cells. */
    def probeCells(vec: Column): Column = cellsFor(centroids, nprobe)(vec)

    val q = broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .withColumn("cell", explode(probeCells(col("qvec")))))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
      cellOf(col(vecCol)).as("cell"))
    val scored = c.join(q, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("cos_sim"))
      .groupBy("query_id", "neighbor_id").agg(first("cos_sim").as("cos_sim"))
    rankTopK(scored, k)
  }

  /** LSH-bucketed ANN: candidates share a bucket (optionally probing all
    * single-bit-flip neighbor buckets), then exact cosine + top-k within
    * candidates. Multi-probe dup pairs are deduped AFTER map-side
    * scoring, so only (query, neighbor, score) triples — never vectors —
    * ride the shuffle. Recall < 1 by construction; the 100 TB path. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, planes: Int = 8, multiProbe: Boolean = true): DataFrame = {
    val probes: Column = {
      val base = lshBucket(col("qvec"), planes)
      if (multiProbe)
        array_union(array(base), transform(sequence(lit(0), lit(planes - 1)),
          p => base.bitwiseXOR(pow(lit(2.0), p).cast("int"))))
      else array(base)
    }
    val q = broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .withColumn("bucket", explode(probes)))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
      lshBucket(col(vecCol), planes).as("bucket"))
    val scored = c.join(q, Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("cos_sim"))
      .groupBy("query_id", "neighbor_id").agg(first("cos_sim").as("cos_sim"))
    rankTopK(scored, k)
  }

  /** Product-quantization codebook: for each of `m` equal subspaces,
    * the sub-vectors of the `k` smallest-id corpus rows. Seeded (not
    * Lloyd-refined) so the oracle can replay training end-to-end —
    * Lloyd-refined books plug into the same encode/search plans
    * exactly as [[ivfTopK]]'s fixed-point iterations would (the model
    * is a driver-sized Array either way). */
  def pqCodebook(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int): Array[Array[Array[Float]]] = {
    val seeds = corpus.filter(col(idCol).cast("long") < k)
      .orderBy(col(idCol))
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray)
    require(seeds.length == k, s"PQ codebook needs $k seed rows, got ${seeds.length}")
    val dim = seeds(0).length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    Array.tabulate(m)(s => seeds.map(_.slice(s * sub, s * sub + sub)))
  }

  /** Lloyd-refine a seeded PQ codebook: `iters` k-means steps run over
    * ALL subspaces in ONE corpus scan each — assign sub-codes with the
    * compiled [[graft.expressions.PqCodes]] kernel, then average each
    * (subspace, code) cell's members per dimension. Sums accumulate in
    * fixed-point longs (the [[ivfTopK]] discipline), so the refined
    * book is bit-deterministic under any shuffle order. Empty cells
    * keep their previous entry. The m×k×subdim partial-sum frame is
    * driver-sized (the codebook IS the model), exactly like IVF's
    * nlist×dims collect. */
  def pqCodebookLloyd(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int): Array[Array[Array[Float]]] = {
    var books = pqCodebook(corpus, idCol, vecCol, m, k)
    val sub = books(0)(0).length
    val fpScale = 1L << 24
    for (_ <- 0 until iters) {
      val parts = corpus.select(
          Bridge.column(graft.expressions.PqCodes(
            Seq(Bridge.expression(col(vecCol))), books)).as("codes"),
          Bridge.column(graft.expressions.FixedPointLongs(
            Seq(Bridge.expression(col(vecCol))), fpScale)).as("fp"))
        .select(posexplode(col("codes")).as(Seq("s", "code")), col("fp"))
        .select(col("s"), col("code"),
          posexplode(slice(col("fp"), col("s") * sub + 1, lit(sub))))
        .groupBy("s", "code", "pos")
        .agg(sum("col").as("t"), count(lit(1)).as("cnt"))
        .collect()
      val next = books.map(_.map(_.clone()))
      parts.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
          (r.getLong(3).toDouble / r.getLong(4) / fpScale).toFloat
      }
      books = next
    }
    books
  }

  /** PQ encode: (id, codes array<int>, one per subspace) — 1 small int
    * per subspace instead of `sub` floats. Pure map-side pass; the
    * codebook rides the closure (broadcast-sized). */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      books: Array[Array[Array[Float]]]): DataFrame =
    corpus.select(col(idCol).cast("long").as("id"),
      Bridge.column(graft.expressions.PqCodes(
        Seq(Bridge.expression(col(vecCol))), books)).as("codes"))

  /** ADC (asymmetric-distance) top-k over PQ codes: queries carry a
    * per-subspace distance table to every codebook entry; corpus rows
    * are scored from their CODES alone — M lookups + M adds per row,
    * never touching corpus vectors. The scan reads the compressed
    * corpus (codes), the broadcast carries queries × M × K doubles,
    * and the bounded-heap top-k keeps ≤ k rows per task — the
    * compressed-domain brute-force that makes 100 TB of embeddings
    * scannable at 1/64th the bytes. Approximation error is the PQ
    * reconstruction error; exactness of the REPORTED distances (vs the
    * codes) is bit-for-bit oracle-checked. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, books: Array[Array[Array[Float]]]): DataFrame = {
    val codes = pqEncode(corpus, idCol, vecCol, books)
      .select(col("id").as("neighbor_id"), col("codes"))
    val q = broadcast(queries.select(col(idCol).cast("long").as("query_id"),
      Bridge.column(graft.expressions.PqDistTable(
        Seq(Bridge.expression(col(vecCol))), books)).as("dt")))
    val scored = codes.join(q, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Bridge.column(graft.expressions.PqAdc(Seq(
          Bridge.expression(col("dt")),
          Bridge.expression(col("codes"))))).as("adc_dist"))
    scored.groupBy("query_id")
      .agg(topK(negate(col("adc_dist")), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("col.neighbor_id").as("neighbor_id"),
        negate(col("col.cos_sim")).as("adc_dist"))
  }

  /** Composed IVF-PQ — the production 100 TB serving shape (VERDICT r8
    * missing #3): IVF coarse quantization partitions the corpus into
    * `nlist` cells; each vector stores only its cell id plus the PQ
    * codes of its RESIDUAL (vec − centroid); a query probes its
    * `nprobe` nearest cells and ADC-scans just those cells' codes with
    * a per-probe distance table built from the query's own residual
    * against that cell's centroid.
    *
    * Scale shape: candidate generation is an equi-join on the 4-byte
    * cell id (broadcast query side: queries × nprobe rows, each
    * carrying an M×K double table); the corpus side ships 1 int + M
    * bytes-worth of codes per row — never vectors; the bounded-heap
    * top-k keeps ≤ k rows per task. Relative to flat-ADC [[pqTopK]]
    * the scan touches nprobe/nlist of the corpus; relative to
    * [[ivfTopK]] it reads codes instead of raw vectors. Residuals are
    * single-precision ([[graft.expressions.CentroidResidual]] — DuckDB
    * `REAL - REAL` reproduces them bit for bit), so with seeded models
    * the full ranking is SQL-replayable; Lloyd-refined centroids/books
    * (`lloydIters` > 0) plug into the identical plan. */
  /** [[ivfPqTopK]] + the production REFINEMENT stage: ADC produces a
    * `shortlist`-sized candidate set per query (compressed-domain, the
    * cheap pass), then ONLY those candidates' raw vectors are fetched
    * (equi-join on id — queries × shortlist rows, never the corpus)
    * and re-ranked by exact squared L2. Distances quantization
    * collapsed into ties are resolved exactly; output mirrors
    * [[l2TopK]] (query_id, rank, neighbor_id, l2_dist). */
  def ivfPqRerankTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, shortlist: Int, nlist: Int = 8,
      nprobe: Int = 2, m: Int = 4, codebookK: Int = 16,
      lloydIters: Int = 0): DataFrame =
    ivfPqServeRerank(ivfPqBuild(corpus, idCol, vecCol, nlist, m,
      codebookK, lloydIters), corpus, queries, idCol, vecCol, k,
      shortlist, nprobe)

  /** [[ivfPqRerankTopK]] against a prebuilt index — shortlist and
    * nprobe are serve-time operating-point knobs. */
  def ivfPqServeRerank(idx: IvfPqIndex, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      shortlist: Int, nprobe: Int): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist < k=$k")
    val cand = ivfPqServeTopK(idx, queries, idCol, vecCol, shortlist, nprobe)
      .select(col("query_id"), col("neighbor_id"))
    def ssq(v: Column) = Bridge.column(
      graft.expressions.VecSumSq(Seq(Bridge.expression(v))))
    val q = broadcast(queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("qvec")))
    val scored = cand
      .join(corpus.select(col(idCol).cast("long").as("neighbor_id"),
        col(vecCol).as("cvec")), Seq("neighbor_id"))
      .join(q, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        negate((ssq(col("qvec")) + ssq(col("cvec"))) -
          lit(2.0) * dot(col("qvec"), col("cvec"))).as("cos_sim"))
    rankTopK(scored, k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        negate(col("cos_sim")).as("l2_dist"))
  }

  /** A built IVF-PQ index: the driver-sized model (coarse centroids +
    * per-subspace residual codebooks) and the distributed code table —
    * one (neighbor_id, cell, codes) row per corpus vector, 4 + M small
    * ints wide. Build ONCE with [[ivfPqBuild]] (persist `codes` for
    * repeated serving), then serve at any `nprobe`/`shortlist`
    * operating point with [[ivfPqServeTopK]]/[[ivfPqServeRerank]] —
    * probe depth and shortlist size are SERVE-time knobs, so sweeping
    * the recall/latency curve (ScaleBench stage 6d) or retuning a
    * live service never retrains. */
  final case class IvfPqIndex(cents: Array[Array[Float]],
      books: Array[Array[Array[Float]]], codes: DataFrame)

  /** Train coarse centroids + residual codebooks and encode the corpus
    * ([[ivfPqTopK]]'s build half, verbatim). */
  def ivfPqBuild(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 8, m: Int = 4, codebookK: Int = 16,
      lloydIters: Int = 0): IvfPqIndex = {
    val cents = ivfCentroids(corpus, idCol, vecCol, nlist, lloydIters)
    def residual(vec: Column, cell: Column): Column =
      Bridge.column(graft.expressions.CentroidResidual(
        Seq(Bridge.expression(vec), Bridge.expression(cell)), cents))
    // residual frame: one pass computes cell + residual per corpus row
    val resid = corpus.select(col(idCol).cast("long").as("id"),
        cellFor(cents)(col(vecCol)).as("cell"), col(vecCol).as("v"))
      .withColumn("rvec", residual(col("v"), col("cell")))
    val books =
      if (lloydIters > 0)
        pqCodebookLloyd(resid, "id", "rvec", m, codebookK, lloydIters)
      else pqCodebook(resid, "id", "rvec", m, codebookK)
    // the index: cell id + residual codes — 4 + M small ints per row
    val index = resid.select(col("id").as("neighbor_id"), col("cell"),
      Bridge.column(graft.expressions.PqCodes(
        Seq(Bridge.expression(col("rvec"))), books)).as("codes"))
    IvfPqIndex(cents, books, index)
  }

  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 8, nprobe: Int = 2,
      m: Int = 4, codebookK: Int = 16, lloydIters: Int = 0): DataFrame =
    ivfPqServeTopK(ivfPqBuild(corpus, idCol, vecCol, nlist, m, codebookK,
      lloydIters), queries, idCol, vecCol, k, nprobe)

  /** Persist a built index as the SERVING layout: the code table
    * written `partitionBy("cell")` (so [[ivfPqServeTopK]]'s probed-cell
    * `isin` filter becomes parquet PARTITION PRUNING — a serve at
    * nprobe/nlist = 2/64 opens ~3 % of the index directories, the
    * 100 TB read path), and the driver-sized model as two tiny long-form
    * tables (`cents`: cell/pos/v, `books`: sub/code/pos/v). */
  def ivfPqSaveIndex(idx: IvfPqIndex, path: String): Unit = {
    val spark = idx.codes.sparkSession
    import spark.implicits._
    idx.codes.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/codes")
    idx.cents.zipWithIndex
      .flatMap { case (v, cell) => v.zipWithIndex.map { case (x, pos) =>
        (cell, pos, x) } }.toSeq
      .toDF("cell", "pos", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/cents")
    idx.books.zipWithIndex
      .flatMap { case (book, sub) => book.zipWithIndex.flatMap {
        case (v, code) => v.zipWithIndex.map { case (x, pos) =>
          (sub, code, pos, x) } } }.toSeq
      .toDF("sub", "code", "pos", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/books")
  }

  /** Load an [[ivfPqSaveIndex]] layout. The model tables are
    * driver-sized by construction (nlist·dim and m·k·subdim floats);
    * the code table stays a lazy partitioned scan — nothing corpus-
    * sized touches the driver. */
  def ivfPqLoadIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): IvfPqIndex = {
    val cRows = spark.read.parquet(s"$path/cents")
      .select("cell", "pos", "v").collect()
    val nlist = cRows.map(_.getInt(0)).max + 1
    val dim = cRows.map(_.getInt(1)).max + 1
    val cents = Array.ofDim[Float](nlist, dim)
    cRows.foreach(r => cents(r.getInt(0))(r.getInt(1)) = r.getFloat(2))
    val bRows = spark.read.parquet(s"$path/books")
      .select("sub", "code", "pos", "v").collect()
    val m = bRows.map(_.getInt(0)).max + 1
    val codebookK = bRows.map(_.getInt(1)).max + 1
    val sub = bRows.map(_.getInt(2)).max + 1
    val books = Array.ofDim[Float](m, codebookK, sub)
    bRows.foreach(r =>
      books(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getFloat(3))
    // partitionBy turned cell into a partition column (read back
    // last + possibly re-typed); restore the build-time column layout
    val codes = spark.read.parquet(s"$path/codes")
      .select(col("neighbor_id"), col("cell").cast("int").as("cell"),
        col("codes"))
    IvfPqIndex(cents, books, codes)
  }

  /** ADC top-k against a prebuilt index ([[ivfPqTopK]]'s serve half,
    * verbatim): nprobe distance tables per query, one equi-join on
    * cell id, compressed-domain scoring.
    *
    * The probed-cell set is pushed down as an `isin` filter on the
    * code table BEFORE the join — the filter is bounded by nlist
    * values (≤ the centroid count, regardless of query count: the
    * distinct-cell collect can never exceed it), so collecting it is
    * always driver-safe, and over a cell-partitioned/parquet index it
    * becomes partition pruning: a serve at nprobe/nlist = 2/64 reads
    * ~3% of the 100 TB code table instead of streaming all of it into
    * the broadcast join. Results are identical (the filter only drops
    * rows the equi-join would drop). */
  def ivfPqServeTopK(idx: IvfPqIndex, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nprobe: Int): DataFrame = {
    val cents = idx.cents
    val books = idx.books
    def residual(vec: Column, cell: Column): Column =
      Bridge.column(graft.expressions.CentroidResidual(
        Seq(Bridge.expression(vec), Bridge.expression(cell)), cents))
    // query side: one residual + distance table per probed cell.
    // Materialize the cell assignment ONCE (eager localCheckpoint) and
    // derive BOTH the probed-cell pushdown set and the broadcast side
    // from it — a non-deterministic `queries` plan (sample/rand
    // upstream) re-executed twice could otherwise probe cells the isin
    // filter already dropped, silently losing candidates.
    val assigned = queries
      .select(col(idCol).cast("long").as("query_id"), col(vecCol).as("qvec"))
      .withColumn("cell", explode(cellsFor(cents, nprobe)(col("qvec"))))
      .localCheckpoint(true)
    val q = broadcast(assigned
      .select(col("query_id"), col("cell"),
        Bridge.column(graft.expressions.PqDistTable(
          Seq(Bridge.expression(residual(col("qvec"), col("cell")))),
          books)).as("dt")))
    val probed = assigned.select("cell").distinct().collect().map(_.getInt(0))
    val scored = idx.codes.filter(col("cell").isin(probed.map(Int.box): _*))
      .join(q, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Bridge.column(graft.expressions.PqAdc(Seq(
          Bridge.expression(col("dt")),
          Bridge.expression(col("codes"))))).as("adc_dist"))
    scored.groupBy("query_id")
      .agg(topK(negate(col("adc_dist")), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("col.neighbor_id").as("neighbor_id"),
        negate(col("col.cos_sim")).as("adc_dist"))
  }

  /** Exact squared-L2 top-k — the ground truth PQ/ADC recall is
    * measured against (PQ approximates L2, not cosine). Same broadcast
    * + bounded-heap skeleton as [[bruteForceTopK]]; the distance is
    * `‖q‖² + ‖c‖² − 2·q·c` from the sequential compiled kernels, so a
    * SQL oracle replays it bit-for-bit with three `list_sum`s. */
  def l2TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("qvec")))
    val c = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).as("cvec"))
    def ssq(v: Column) = Bridge.column(
      graft.expressions.VecSumSq(Seq(Bridge.expression(v))))
    val scored = c.join(q, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        negate((ssq(col("qvec")) + ssq(col("cvec"))) -
          lit(2.0) * dot(col("qvec"), col("cvec"))).as("cos_sim"))
    rankTopK(scored, k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        negate(col("cos_sim")).as("l2_dist"))
  }

  /** Semantic dedup — the SemDeDup recipe's cluster-then-refine shape:
    * assign every vector to its nearest of `numSeeds` DETERMINISTIC
    * seed centroids (the vectors with the smallest ids — seeded
    * assignment, no Lloyd, so the oracle can replicate it), then mark
    * as duplicate any vector whose cosine to a SMALLER-id vector in
    * the same cluster reaches `threshold`. The drop rule is the
    * "similar to any earlier item" contract (order-deterministic,
    * engine-replayable), not the kept-set greedy — documented here as
    * the semantics.
    *
    * Argmax determinism: both engines compute the identical IEEE
    * cosine sequence (sequential compiled dot), ties break on the
    * smaller seed id.
    *
    * 100 TB shape: assignment is a broadcast of numSeeds vectors +
    * one map-side-combined argmax groupBy per vector id; the
    * quadratic sits INSIDE clusters — the SemDeDup cost model, where
    * cluster granularity bounds the pairwise work. For clusters too
    * large to pair exactly, compose [[cosineNearDups]] with the
    * cluster id added to the band key (same plan, banded candidates);
    * this exact-within-cluster form is the oracle-checkable core. */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
      numSeeds: Int, threshold: Double): DataFrame = {
    val withC = assignToSeeds(corpus, idCol, vecCol, numSeeds)
    val a = withC.select(col("cluster"), col("id").as("id_a"), col("v").as("va"))
    val b = withC.select(col("cluster"), col("id").as("id_b"), col("v").as("vb"))
    val dropped = a.join(b, Seq("cluster")).filter(col("id_a") < col("id_b"))
      .filter(cosine(col("va"), col("vb")) >= threshold)
      .select(col("id_b").as("id")).distinct()
    keepVerdict(withC, dropped)
  }

  /** The 100 TB form of [[semanticDedup]]: identical assignment and
    * drop contract, but within-cluster candidates come from BANDED
    * sign-LSH with the cluster id prepended to the band key — an
    * oversized cluster never pairs exactly, it pairs inside (cluster,
    * band, bucket) cells, grouped on that 3-column key by
    * [[Dedup.pairsFromBuckets]] under its `maxBucket` size guard. Same miss-probability algebra as [[cosineNearDups]]
    * (≈1e-13 per true pair at the defaults near the threshold), so
    * the exact within-cluster operator remains the test oracle. */
  def semanticDedupBanded(corpus: DataFrame, idCol: String, vecCol: String,
      numSeeds: Int, threshold: Double, bands: Int = 24,
      planesPerBand: Int = 12, maxBucket: Int = 4096): DataFrame = {
    val withC = assignToSeeds(corpus, idCol, vecCol, numSeeds)
    val memb = withC.select(col("id"), col("cluster"),
      posexplode(array((0 until bands).map(b =>
        lshBucketSeeded(col("v"), planesPerBand, 1000 + b)): _*)))
      .select(col("id"), col("cluster"),
        col("pos").as("band"), col("col").as("bval"))
    val cand = Dedup.pairsFromBuckets(memb, Seq("cluster", "band", "bval"),
      maxBucket)
    val a = withC.select(col("id").as("id_a"), col("v").as("va"))
    val b = withC.select(col("id").as("id_b"), col("v").as("vb"))
    val dropped = cand.join(a, "id_a").join(b, "id_b")
      .filter(cosine(col("va"), col("vb")) >= threshold)
      .select(col("id_b").as("id")).distinct()
    keepVerdict(withC, dropped)
  }

  /** Shared assignment stage: nearest-of-numSeeds smallest-id seed
    * vectors by cosine, ties to the smaller seed id. Returns
    * (id, v, cluster), persisted — both the pairing stage and the
    * verdict join reuse it.
    *
    * The seed model (≤ numSeeds vectors, bounded by the caller) is
    * collected once and the assignment runs as the row-local compiled
    * [[graft.expressions.SeedArgmax]] — the former crossJoin +
    * groupBy(id) top-1 shuffled corpus×seeds scored rows (64M at the
    * ScaleBench 1M/64 point) plus a corpus-sized re-join, all for a
    * per-row argmax. Output is bit-identical: SeedArgmax replicates
    * the exact VecDot/VecSumSq cosine arithmetic and the TopKByScore
    * Double.compare/smaller-id total order. */
  private def assignToSeeds(corpus: DataFrame, idCol: String,
      vecCol: String, numSeeds: Int): DataFrame = {
    val ids = corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // dedupe by id (a corpus with duplicate ids would violate
    // SeedArgmax's strictly-ascending precondition) and tolerate an
    // empty seed set — the old crossJoin+top-1 path yielded a null
    // cluster there, not a constructor crash (ADVICE r11). The
    // duplicate kept must not depend on collect() order (partition
    // order varies run to run): take the lexicographically smallest
    // vector, a deterministic total order over the conflicting rows.
    val seedRows = ids.filter(col("id") < numSeeds).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .groupBy(_._1)
      .map { case (_, rows) =>
        rows.minBy(_._2.toSeq)(
          math.Ordering.Implicits.seqOrdering[Seq, Float](
            math.Ordering.Float.TotalOrdering))
      }
      .toArray.sortBy(_._1)
    val cluster =
      if (seedRows.isEmpty) lit(null).cast("long")
      else Bridge.column(graft.expressions.SeedArgmax(
        Seq(Bridge.expression(col("v"))),
        seedRows.map(_._1), seedRows.map(_._2)))
    ids.select(col("id"), col("v"), cluster.as("cluster"))
  }

  private def keepVerdict(withC: DataFrame, dropped: DataFrame): DataFrame =
    withC.join(dropped.withColumn("__dup", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cluster"),
        not(coalesce(col("__dup"), lit(false))).as("keep"))
}
