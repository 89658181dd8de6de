package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.geom.st
import graft.plans.SpatialJoinRewrite

/** The DataFrame entry to the spatial-join planner (SURVEY §2.3 J3/J4,
  * §4 "spatial-index join").
  *
  * The reference leans on GeoPandas' in-RAM R-tree (`sjoin`
  * delphine/regrid.py:167-177, `overlay` :267-270) — single-process,
  * whole-dataset-in-memory. The scale-out re-expression is a grid-bucket
  * equi-join with an exact refine, built by ONE planner,
  * [[graft.plans.SpatialJoinRewrite]]: [[joinContains]] and
  * [[overlayIntersection]] write the plain join on `st_contains` /
  * `st_intersects` and hand it to that rule's rewrite with the call's
  * own cell size, the same plan a SQL join gets from the rule.
  *
  * 100 TB notes: shuffle volume is O(geoms × buckets-per-geom); pick
  * `cellSize` near the median geometry extent so buckets-per-geom stays
  * O(1). Skewed buckets (dense regions) are split by AQE skew-join
  * handling since the join is a plain equi-join.
  */
object SpatialJoin {

  /** `joined` — a plain join on one spatial predicate — planned by the
    * rule's rewrite at `cellSize`. */
  private def planned(joined: DataFrame, cellSize: Double): DataFrame =
    Bridge.ofRows(joined.sparkSession, SpatialJoinRewrite.rewrite(
      joined.queryExecution.analyzed.asInstanceOf[Join], cellSize))

  /** J3: point-in-polygon join (the reference's `sjoin`): every pair with
    * `st_contains(polyGeom, pointGeom)`, each exactly once. Column names
    * of the two sides must be disjoint. */
  def joinContains(polys: DataFrame, points: DataFrame,
      polyGeom: String, pointGeom: String, cellSize: Double): DataFrame =
    planned(polys.join(points, st.contains(col(polyGeom), col(pointGeom))),
      cellSize)

  /** J4: overlay intersection (the reference's `gpd.overlay(...,
    * "intersection")`) — qualifying pairs carry both attribute sets plus
    * the intersection piece and its area. Column names of the two sides
    * must be disjoint. */
  def overlayIntersection(left: DataFrame, right: DataFrame,
      leftGeom: String, rightGeom: String, cellSize: Double): DataFrame =
    planned(left.join(right, st.intersects(col(leftGeom), col(rightGeom))),
      cellSize)
      .withColumn("__piece", st.intersection(col(leftGeom), col(rightGeom)))
      .withColumn("piece_area", st.area(col("__piece")))
      .withColumnRenamed("__piece", "piece_geom")

  /** SELF distance join (`ST_DWithin`): every unordered pair of `pts`
    * within Euclidean distance `d`, as (id_a, id_b, dist) with id_a <
    * id_b. The refine compares SQUARED distances (`dx²+dy² ≤ d²` — exact
    * single IEEE ops), and `dist` is one final sqrt. Pick `cellSize` ≈
    * `d`: the disc bbox then covers ≤ 9 cells.
    *
    * A two-sided form explodes the probe side to the FULL disc-bbox
    * neighborhood (9 cells at cellSize ≈ d), so every qualifying pair
    * is generated — and distance-refined — in BOTH orientations, and
    * the caller then discards half. Here the probe side covers only
    * its own cell plus the lexicographically FORWARD (bx, by) cells of
    * the bbox (5 of 9 at cellSize ≈ d). For two points in DIFFERENT
    * cells exactly one of the two cells precedes the other, so exactly
    * one orientation probes the other's cell; SAME-cell pairs are both
    * generated and dedup on id order. Each unordered pair therefore
    * pays the equi-join and the distance refine exactly once: ~5/9 of
    * the exploded shuffle rows, half the refines (guide §2.3/§3).
    * Orientation of a cross-cell emission follows cell order, not id
    * order, so the output normalizes with least/greatest. */
  def selfJoinWithinDistance(pts: DataFrame, idCol: String, geomCol: String,
      d: Double, cellSize: Double): DataFrame = {
    require(d >= 0, s"d=$d")
    require(cellSize > 0, s"cellSize=$cellSize")
    val base = pts.select(col(idCol).as("__id"),
      st.stx(col(geomCol)).as("__x"), st.sty(col(geomCol)).as("__y"))
    def cellOf(x: Column, y: Column) = struct(
      floor(x / cellSize).cast("long").as("bx"),
      floor(y / cellSize).cast("long").as("by"))
    val ownBx = floor(col("__x") / cellSize).cast("long")
    val ownBy = floor(col("__y") / cellSize).cast("long")
    // own cell first, then forward cells: bx rows strictly past own
    // take the disc bbox's full by range; the own-bx row starts at own
    val fwd = flatten(transform(
      sequence(ownBx, floor((col("__x") + d) / cellSize).cast("long")), bx =>
        transform(
          sequence(
            when(bx === ownBx, ownBy)
              .otherwise(floor((col("__y") - d) / cellSize).cast("long")),
            floor((col("__y") + d) / cellSize).cast("long")), by =>
          struct(bx.as("bx"), by.as("by")))))
    val lhs = base
      .withColumn("__cell", explode(fwd))
      .select(col("__id").as("id_a"), col("__x").as("__ax"),
        col("__y").as("__ay"), col("__cell"))
    val rhs = base.select(col("__id").as("id_b"),
      col("__x").as("__bx"), col("__y").as("__by"),
      cellOf(col("__x"), col("__y")).as("__cell"))
    val dx = col("__ax") - col("__bx")
    val dy = col("__ay") - col("__by")
    // recomputed from the carried coords (3 cheap ops) instead of
    // shuffling a second 16-byte struct per exploded row
    val sameCell = col("__cell") === cellOf(col("__ax"), col("__ay"))
    // SHUFFLE_HASH, not broadcast: a small input here is an EXPLODED
    // side with O(1/cellSize²) fan-out and a single-file probe side —
    // Catalyst's size estimate would broadcast the exploded side and
    // run the probe at the parquet file's parallelism (near-serial on a
    // small file; a driver OOM at scale). Hash-partitioning both sides
    // on the cell key parallelizes candidate generation and the
    // distance refine with the shuffle partition count on both ends.
    lhs.join(rhs.hint("shuffle_hash"), "__cell")
      .filter(dx * dx + dy * dy <= lit(d) * lit(d) &&
        (!sameCell || col("id_a") < col("id_b")))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        sqrt(dx * dx + dy * dy).as("dist"))
  }
}
