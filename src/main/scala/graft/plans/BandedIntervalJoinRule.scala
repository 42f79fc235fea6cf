package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rule: banded rewrite of interval theta-joins — SURVEY §4's
  * "custom Rule where built-ins can't express it" tier.
  *
  * Spark plans `a JOIN b ON abs(a.x − b.y) <= tol` as a nested-loop join
  * (O(n·m) — every as-of/tolerance alignment, J3, degenerates at scale).
  * This rule rewrites it to the banded form used by
  * [[graft.operators.AsOfAlign.toleranceAlign]]:
  *
  *   band(l) = x div tol;  right exploded to bands {y div tol − 1, …, +1}
  *   equi-join on the band, then the exact |x − y| <= tol filter.
  *
  * Any pair within tolerance differs by at most one band, so the
  * candidate set is exact (no dedup needed: each right row appears once
  * per distinct band value, and the left row joins exactly one of them).
  * The equi-join shuffles on the band key — O(n + m + matches).
  *
  * Scope guards: inner joins, positive integer literal tolerance, both
  * sides integral (the archive's epoch-micros columns) and non-negative
  * domains (IntegralDivide truncates toward zero, which equals floor
  * there). [[graft.Session.build]] installs it through
  * `spark.experimental.extraOptimizations`.
  */
object BandedIntervalJoinRule extends Rule[LogicalPlan] {

  private def isIntegral(e: Expression): Boolean =
    e.dataType == LongType || e.dataType == IntegerType

  private def tolValue(l: Literal): Option[Long] = l.value match {
    case i: Int if i > 0   => Some(i.toLong)
    case i: Long if i > 0  => Some(i)
    case _                 => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner, Some(cond), hint)
        if bandable(j, cond).isDefined =>
      val (x, y, tol) = bandable(j, cond).get
      val tolLit = Literal(tol, LongType)

      // left: add band = x div tol
      val bandL = Alias(IntegralDivide(Cast(x, LongType), tolLit), "__band_l")()
      val left2 = Project(left.output :+ bandL, left)

      // right: explode band−1, band, band+1
      val b0 = IntegralDivide(Cast(y, LongType), tolLit)
      val bandsArr = CreateArray(Seq(
        Subtract(b0, Literal(1L)), b0, Add(b0, Literal(1L))))
      val bandR = AttributeReference("__band_r", LongType, nullable = true)()
      val right2 = Generate(Explode(bandsArr), Nil, outer = false,
        qualifier = None, generatorOutput = Seq(bandR), child = right)

      val equi = Join(left2, right2, Inner,
        Some(EqualTo(bandL.toAttribute, bandR)), hint)
      // exact predicate on the banded candidates, original output only
      Project(j.output, Filter(cond, equi))
  }

  /** Matches `abs(x − y) <= tol` (either operand order) with x/y fully
    * resolved from opposite sides. Returns (leftExpr, rightExpr, tol). */
  private def bandable(j: Join, cond: Expression)
      : Option[(Expression, Expression, Long)] = cond match {
    case LessThanOrEqual(Abs(Subtract(a, b, _), _), lit: Literal)
        if isIntegral(a) && isIntegral(b) =>
      tolValue(lit).flatMap { tol =>
        if (a.references.subsetOf(j.left.outputSet) &&
            b.references.subsetOf(j.right.outputSet))
          Some((a, b, tol))
        else if (b.references.subsetOf(j.left.outputSet) &&
            a.references.subsetOf(j.right.outputSet))
          Some((b, a, tol))
        else None
      }
    case _ => None
  }
}
