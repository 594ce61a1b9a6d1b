package graft.sql

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType
import graft.expr.{CanonicalCell, CellOf, CellsAt, StContainsPoint, StIntersects, WkbEnvelope}

/** Optimizer rule rewriting brute-force spatial-predicate joins into
  * cell-keyed equi-joins (SURVEY.md §4 "optional Rule: auto-rewrite
  * st_intersects joins → cell joins" / §7.5 sql module).
  *
  * Two patterns, both requiring the predicate's arguments to split
  * cleanly across the join sides, no pre-existing cell key, and no usable
  * equi-key (Catalyst would hash-join on one anyway):
  *
  * 1. `st_contains_point(wkb, lon, lat)` — point-in-polygon:
  *
  *    points side  += __pip_cell = cell_of(lon, lat, L)
  *    polygon side += Generate(explode(cells_at(st_env(wkb), L)))
  *    join condition := (__pip_cell = __poly_cell) AND original
  *
  *    Each (point, polygon) pair meets on exactly ONE cell (the point's),
  *    so multiplicity is unchanged.
  *
  * 2. `st_intersects(a_wkb, b_wkb)` — geometry×geometry (the
  *    LayerAlgebra.pairGeoms shape, reference filter-refine over
  *    arbitrary geometry pairs, ogrlayer.cpp:4004-4072): BOTH sides
  *    explode their envelope covers and join on the cell. A pair whose
  *    envelopes share k cells would surface k times, so the rewrite adds
  *    the same canonical-cell conjunct the DataFrame operators use
  *    (graft.expr.CanonicalCell): the pair is kept only on the cell of
  *    its envelope intersection's min corner, restoring exactly-once
  *    multiplicity with no dedup (and no shuffle for it) in the plan.
  *
  * Without the rule Catalyst can only plan these as
  * BroadcastNestedLoopJoin / CartesianProduct — O(|A|·|B|) comparisons.
  * Output schema is restored by a trailing Project. The cell level is the
  * constructor's `level` (7 for PIP; geometry pairs, whose explode is
  * two-sided, use one level coarser, 6). Idempotent: rewritten joins
  * contain a CellOf/CellsAt conjunct and no longer match.
  */
case class CellJoinRule(level: Int = 7) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(_, _, Inner | Cross, Some(cond), _) if eligible(j) =>
      val conjuncts = splitConjuncts(cond)
      val pip = conjuncts.collectFirst {
        case p @ StContainsPoint(w, lon, lat)
          if sidesSplit(j, w, Seq(lon, lat)).isDefined => p
      }
      pip match {
        case Some(p) => rewritePip(j, p, cond)
        case None =>
          val gi = conjuncts.collectFirst {
            case p @ StIntersects(a, b) if sidesSplit(j, a, Seq(b)).isDefined => p
          }.get
          rewriteGeomPair(j, gi, cond)
      }
  }

  private def rewritePip(j: Join, pip: StContainsPoint, cond: Expression): LogicalPlan = {
    val (polySide, pointSide) = sidesSplit(j, pip.first, Seq(pip.second, pip.third)).get

    // point side: project the cell key
    val pCellAlias = Alias(CellOf(pip.second, pip.third, Literal(level)), "__pip_cell")()
    val pointProj = Project(pointSide.output :+ pCellAlias, pointSide)

    // polygon side: explode covering cells
    val gCellAttr = AttributeReference("__poly_cell", LongType, nullable = false)()
    val gen = Generate(
      Explode(CellsAt(WkbEnvelope(pip.first), Literal(level))),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(gCellAttr), child = polySide)

    val cellEq = EqualTo(pCellAlias.toAttribute, gCellAttr)
    val (newLeft, newRight) =
      if (pointSide eq j.left) (pointProj: LogicalPlan, gen: LogicalPlan)
      else (gen: LogicalPlan, pointProj: LogicalPlan)
    val newJoin = Join(newLeft, newRight, Inner, Some(And(cellEq, cond)), j.hint)
    Project(j.output, newJoin)
  }

  private def rewriteGeomPair(j: Join, gi: StIntersects, cond: Expression): LogicalPlan = {
    // geometry pairs explode BOTH sides — default one level coarser than
    // the point join to bound the two-sided explode factor
    val lvl = math.max(0, level - 1)
    val (aSide, bSide) = sidesSplit(j, gi.left, Seq(gi.right)).get
    val (aWkb, bWkb) = (gi.left, gi.right)

    val aCell = AttributeReference("__cell_a", LongType, nullable = false)()
    val bCell = AttributeReference("__cell_b", LongType, nullable = false)()
    val genA = Generate(Explode(CellsAt(WkbEnvelope(aWkb), Literal(lvl))),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(aCell), child = aSide)
    val genB = Generate(Explode(CellsAt(WkbEnvelope(bWkb), Literal(lvl))),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(bCell), child = bSide)

    // exactly one of the k shared cells carries the pair
    val canonical = EqualTo(aCell, CanonicalCell(WkbEnvelope(aWkb), WkbEnvelope(bWkb), Literal(lvl)))

    val (newLeft, newRight) =
      if (aSide eq j.left) (genA: LogicalPlan, genB: LogicalPlan)
      else (genB: LogicalPlan, genA: LogicalPlan)
    val newJoin = Join(newLeft, newRight, Inner,
      Some(And(EqualTo(aCell, bCell), And(canonical, cond))), j.hint)
    Project(j.output, newJoin)
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }

  /** Returns (sideOfWkb, sideOfOtherArgs) when the predicate arguments
    * split cleanly across the two join children. */
  private def sidesSplit(j: Join, wkb: Expression,
                         otherArgs: Seq[Expression]): Option[(LogicalPlan, LogicalPlan)] = {
    val wRefs = wkb.references
    val pRefs = AttributeSet(otherArgs.flatMap(_.references))
    if (wRefs.isEmpty || pRefs.isEmpty) return None
    if (wRefs.subsetOf(j.left.outputSet) && pRefs.subsetOf(j.right.outputSet))
      Some((j.left, j.right))
    else if (wRefs.subsetOf(j.right.outputSet) && pRefs.subsetOf(j.left.outputSet))
      Some((j.right, j.left))
    else None
  }

  private def eligible(j: Join): Boolean = j.condition.exists { cond =>
    val cs = splitConjuncts(cond)
    // not already cell-keyed (idempotence + respect explicit cell joins)
    !cs.exists(c => c.exists { case _: CellOf | _: CellsAt => true; case _ => false }) &&
      cs.exists {
        case StContainsPoint(w, lon, lat) => sidesSplit(j, w, Seq(lon, lat)).isDefined
        case StIntersects(a, b) => sidesSplit(j, a, Seq(b)).isDefined
        case _ => false
      } &&
      // no usable equi-key already present (would hash-join anyway)
      !cs.exists {
        case EqualTo(a, b) =>
          (a.references.subsetOf(j.left.outputSet) && b.references.subsetOf(j.right.outputSet) &&
            a.references.nonEmpty && b.references.nonEmpty) ||
            (a.references.subsetOf(j.right.outputSet) && b.references.subsetOf(j.left.outputSet) &&
              a.references.nonEmpty && b.references.nonEmpty)
        case _ => false
      }
  }
}
