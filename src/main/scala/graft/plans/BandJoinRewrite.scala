package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** Optimizer rule: rewrite a key-less band join — an inner join whose only
  * cross-side predicate is `abs(l.t - r.t) <= w` — into the bucketed
  * equi-join [[graft.operators.RangeJoin]] builds by hand.
  *
  * Spark plans the naive form as BroadcastNestedLoopJoin (or a cartesian):
  * O(n·m) comparisons, a non-starter at 100 TB. But the band predicate
  * implies the two ordinates share one of three adjacent `w`-wide grid
  * cells, so the join is really an equi-join in disguise: explode the left
  * side to its {b-1, b, b+1} candidate cells, compute the right side's
  * cell, hash-join on the cell, and keep the original predicate as the
  * residual filter. Same results (the residual re-checks every pair, and
  * null ordinates still produce a null condition → dropped), hash-join
  * scaling.
  *
  * Bucketing uses exact integer arithmetic valid for NEGATIVE ordinates
  * too: `(t - pmod(t, w)) div w` is floor-division (pmod is non-negative),
  * so epoch-relative or centered ordinates bucket correctly — stricter
  * than RangeJoin's documented non-negative assumption, as an
  * always-on rule must be.
  *
  * Fires only when there is NO cross-side equality in the condition (if
  * one exists Spark already hash-joins and the band is a residual) and the
  * band bound is a positive integral literal on integral-typed,
  * deterministic ordinate expressions. The rewritten join contains a
  * cross-side equality, so the rule cannot re-fire on its own output.
  * Installed once per session by [[JoinRewrites.setup]] (which every
  * declared query runs first) and injected by [[graft.GraftExtensions]].
  */
object BandJoinRewrite extends Rule[LogicalPlan] with JoinRewriteSupport {

  private def integral(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  /** true -> refs entirely from l; false -> entirely from r */
  private def legacySub(a: Expression, b: Expression) = Subtract(a, b, EvalMode.LEGACY)
  private def legacyAdd(a: Expression, b: Expression) = Add(a, b, EvalMode.LEGACY)

  /** exact floor(t / w) for any sign: pmod is non-negative, so t - pmod(t, w)
    * is the greatest multiple of w at or below t and divides exactly */
  private def floorBucket(t: Expression, w: Literal): Expression = {
    val tl = Cast(t, LongType)
    IntegralDivide(legacySub(tl, Pmod(tl, w, EvalMode.LEGACY)), w, EvalMode.LEGACY)
  }

  def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(l, r, Inner, Some(cond), hint) =>
      val preds = splitConjunctivePredicates(cond)
      val hasCrossEquality = hasCrossSideEquality(preds, l, r)
      def bandOf(abs: Expression, w: Expression): Option[(Expression, Expression, Literal)] =
        (abs, w) match {
          case (Abs(Subtract(a, b, _), _), lw: Literal)
            if integral(a.dataType) && integral(b.dataType) && integral(lw.dataType) &&
               a.deterministic && b.deterministic &&
               lw.value != null && lw.value.asInstanceOf[Number].longValue > 0 =>
            (sideOf(a, l, r), sideOf(b, l, r)) match {
              case (Some(true), Some(false)) => Some((a, b, lw))
              case (Some(false), Some(true)) => Some((b, a, lw))
              case _ => None
            }
          case _ => None
        }
      // strict `< w` is a subset of `<= w`: the residual filter re-checks
      // the original predicate, so the rewrite only needs the bucket
      // candidate set to COVER the band — same three cells either way
      val band = preds.iterator.map {
        case LessThanOrEqual(abs, w)    => bandOf(abs, w)
        case GreaterThanOrEqual(w, abs) => bandOf(abs, w)
        case LessThan(abs, w)           => bandOf(abs, w)
        case GreaterThan(w, abs)        => bandOf(abs, w)
        case _                          => None
      }.collectFirst { case Some(b) => b }

      band match {
        case Some((lt, rt, w0)) if !hasCrossEquality =>
          val w = Literal(w0.value.asInstanceOf[Number].longValue, LongType)
          val lb = floorBucket(lt, w)
          val one = Literal(1L, LongType)
          val bAttr = AttributeReference("_graft_band_bucket", LongType,
            nullable = true)()
          val gen = Generate(
            Explode(CreateArray(Seq(legacySub(lb, one), lb, legacyAdd(lb, one)))),
            unrequiredChildIndex = Nil, outer = false, qualifier = None,
            generatorOutput = Seq(bAttr), child = l)
          val rbAlias = Alias(floorBucket(rt, w), "_graft_band_rbucket")()
          val proj = Project(r.output :+ rbAlias, r)
          val newCond = (EqualTo(bAttr, rbAlias.toAttribute) +: preds).reduce(And)
          Project(j.output, Join(gen, proj, Inner, Some(newCond), hint))
        case _ => j
      }
  }
}
