package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.ArrayType

import graft.expressions.{STContains, STEnvelopeCells, STIntersects, STPairRefine, STWithin}

/** The engine's one spatial-join planner (SURVEY §4 "spatial-index
  * join", approach (a)). An inner join whose condition is
  * `st_intersects(l, r)` would be planned as a BroadcastNestedLoopJoin —
  * O(|L|·|R|) predicate evaluations. [[rewrite]] turns it into a
  * grid-bucket equi-join with a fused exact refine:
  *
  *   Project(original output)
  *     Filter(st_pair_refine(a, b, cell) ∧ carried conjuncts)
  *       Join(__bucket_l = __bucket_r)
  *         Generate(explode(st_envelope_cells(lGeom)), left)
  *         Generate(explode(st_envelope_cells(rGeom)), right)
  *
  * so Catalyst plans a stock shuffled/broadcast HASH join on the 16-byte
  * cell key (AQE skew-splitting included). Each geometry is exploded to
  * the cells its envelope covers ([[STEnvelopeCells]], one WKB parse per
  * row); [[STPairRefine]] keeps a candidate only in the cell holding the
  * min corner of the two envelopes' intersection (each pair is emitted
  * once, no `distinct()`) and runs the exact JTS predicate, one parse
  * per side per candidate.
  *
  * Two entry points share [[rewrite]]:
  *  - the rule itself, for SQL and plain DataFrame joins, with the cell
  *    size from `spark.graft.spatialJoin.cellSize` (default 1.0);
  *  - [[graft.operators.SpatialJoin]], the DataFrame API, with each
  *    call's own cell size.
  *
  * Matched shapes: the join condition's conjuncts are split and the
  * FIRST st_intersects / st_contains / st_within conjunct with one
  * geometry per side drives the rewrite (envelope overlap is a
  * necessary condition for all three predicates; `st_within(a, b)` is
  * refined as `b` contains `a`). Every remaining conjunct moves into the
  * refine filter above the bucket join. Disjunctions and predicates
  * mixing both sides' columns inside one geometry argument are left
  * untouched — as is any join whose condition ALSO carries an equi
  * conjunct across the two sides (hash join on the selective key +
  * spatial filter beats the bucket plan; see [[isEquiAcrossSides]]) and
  * any non-inner join, such as a `crossJoin`.
  *
  * Activate per session via `spark.experimental.extraOptimizations ++=
  * Seq(SpatialJoinRewrite)` or cluster-wide through [[graft.GraftExtensions]].
  */
object SpatialJoinRewrite extends Rule[LogicalPlan] {

  private val cellSizeKey = "spark.graft.spatialJoin.cellSize"

  /** A matched join: the refine predicate `a contains b` (or `a
    * intersects b`), one geometry per side, and the conjuncts carried
    * into the refine filter. */
  private case class Spatial(a: Expression, b: Expression,
      intersects: Boolean, rest: Seq[Expression])

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j: Join => spatialOf(j).fold[LogicalPlan](j)(build(j, _, confCellSize))
  }

  /** The bucket join for `j`, an inner join on a spatial predicate, at
    * grid cell size `cellSize`. */
  def rewrite(j: Join, cellSize: Double): LogicalPlan =
    build(j, spatialOf(j).getOrElse(throw new IllegalArgumentException(
      s"not a spatial-predicate join: ${j.condition}")), cellSize)

  private def confCellSize: Double = {
    val v = conf.getConfString(cellSizeKey, "1.0")
    v.toDoubleOption.getOrElse(throw new IllegalArgumentException(
      s"$cellSizeKey must be a number, got '$v'"))
  }

  private def splitConj(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConj(l) ++ splitConj(r)
    case other => Seq(other)
  }

  /** The refine form of `e` — (a, b, intersects) with the predicate
    * `a contains b` or `a intersects b` — when `e` is a supported
    * spatial predicate with one geometry argument per join side. */
  private def spatialPair(e: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[(Expression, Expression, Boolean)] = {
    val pair = e match {
      case STIntersects(Seq(a, b)) => Some((a, b, true))
      case STContains(Seq(a, b)) => Some((a, b, false))
      case STWithin(Seq(a, b)) => Some((b, a, false))
      case _ => None
    }
    pair.filter { case (a, b, _) => crossesSides(a, b, left, right) }
  }

  /** True when `a` reads only one side and `b` only the other. */
  private def crossesSides(a: Expression, b: Expression, left: LogicalPlan,
      right: LogicalPlan): Boolean = {
    val (ra, rb) = (a.references, b.references)
    (ra.subsetOf(left.outputSet) && rb.subsetOf(right.outputSet)) ||
      (rb.subsetOf(left.outputSet) && ra.subsetOf(right.outputSet))
  }

  /** True when `e` is an equi-join conjunct (`l.k = r.k`) referencing
    * both sides. If the original condition carries one, Catalyst's stock
    * plan — hash join on the selective equi key with the spatial
    * predicate as a post-join filter — strictly beats the bucket-explode
    * rewrite, which replicates every row per covering cell and joins on
    * the far-less-selective bucket key. Leave such joins untouched. */
  private def isEquiAcrossSides(e: Expression, left: LogicalPlan,
      right: LogicalPlan): Boolean = e match {
    case Equality(a, b) =>
      a.references.nonEmpty && b.references.nonEmpty &&
        crossesSides(a, b, left, right)
    case _ => false
  }

  private def spatialOf(j: Join): Option[Spatial] = j match {
    case Join(left, right, Inner, Some(cond), _) =>
      val conjuncts = splitConj(cond)
      if (conjuncts.exists(isEquiAcrossSides(_, left, right))) None
      else conjuncts.indices.iterator
        .flatMap(i => spatialPair(conjuncts(i), left, right).map {
          case (a, b, intersects) =>
            Spatial(a, b, intersects, conjuncts.patch(i, Nil, 1))
        })
        .nextOption()
    case _ => None
  }

  private def build(j: Join, m: Spatial, cellSize: Double): LogicalPlan = {
    // a non-positive cell size yields no cells (bx1 < bx0) and loses
    // pairs; zero or ±∞ puts envelopes in infinite or one-for-all cells
    require(cellSize > 0 && !cellSize.isInfinite,
      s"spatial-join cell size must be finite and > 0, got $cellSize")
    val (lGeom, rGeom) =
      if (m.a.references.subsetOf(j.left.outputSet)) (m.a, m.b) else (m.b, m.a)
    def cells(geom: Expression, side: LogicalPlan, name: String) = {
      val gen = STEnvelopeCells(Seq(geom), cellSize)
      val cell = AttributeReference(name,
        gen.dataType.asInstanceOf[ArrayType].elementType)()
      (cell, Generate(Explode(gen), Nil, outer = false, qualifier = None,
        generatorOutput = Seq(cell), child = side))
    }
    val (lCell, lGen) = cells(lGeom, j.left, "__bucket_l")
    val (rCell, rGen) = cells(rGeom, j.right, "__bucket_r")
    val refine = STPairRefine(Seq(m.a, m.b,
      GetStructField(lCell, 0), GetStructField(lCell, 1)), cellSize, m.intersects)
    Project(j.output, Filter((refine +: m.rest).reduce(And),
      Join(lGen, rGen, Inner, Some(EqualTo(lCell, rCell)), j.hint)))
  }
}
