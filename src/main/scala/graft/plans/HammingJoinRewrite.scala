package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rule: rewrite a key-less hamming-distance join — an inner
  * join whose only cross-side predicate is
  * `bit_count(l.h ^ r.h) <= r` over integer fingerprints (the SimHash
  * near-dup join a user naively writes) — into the pigeonhole band
  * equi-join the q_simhash_pairs gate builds by hand.
  *
  * Spark plans the naive form as BroadcastNestedLoopJoin: O(n·m) popcount
  * evaluations, a non-starter at 100 TB. Splitting the B fingerprint bits
  * into r+1 disjoint ranges makes it an equi-join in disguise: a pair at
  * hamming distance <= r differs in at most r bits, so at least one of
  * the r+1 bands is bit-identical (pigeonhole) — each side explodes to
  * its r+1 (band, value) rows and the hash join runs on them, with the
  * ORIGINAL predicate kept as the residual. Exactly-once semantics (a
  * pair can agree on several bands, and a rule has no row identity to
  * dropDuplicates with) come from a FIRST-EQUAL-BAND witness: the joined
  * candidate survives only if every band below its index differs,
  * recomputed from the two fingerprints alone — the
  * [[FuzzyJoinRewrite]] canonical-witness idea with plain bit arithmetic
  * instead of a custom expression. No false negatives (pigeonhole), no
  * false positives (residual), exactly one surviving candidate per
  * qualifying pair: results are bit-identical to the nested loop's.
  *
  * Fires for r in [1, 15] (fan-out per row is r+1; each band keeps
  * >= floor(B/16) bits), only when there is no cross-side equality
  * (Spark would already hash-join), and only for deterministic INT/BIGINT
  * operands. The rewritten join contains cross-side equalities, so the
  * rule cannot re-fire on its own output. Installed once per session by
  * [[JoinRewrites.setup]] (which every declared query runs first) and
  * injected by [[graft.GraftExtensions]].
  */
object HammingJoinRewrite extends Rule[LogicalPlan] with JoinRewriteSupport {

  private val MaxR = 15

  /** Band `i`'s value of fingerprint expression `x`: unsigned-shift then
    * mask, in `x`'s own integral type. */
  private def bandVal(x: Expression, start: Int, width: Int): Expression = {
    val mask = x.dataType match {
      case LongType => Literal((if (width >= 64) -1L else (1L << width) - 1L))
      case _        => Literal((if (width >= 32) -1 else (1 << width) - 1))
    }
    BitwiseAnd(ShiftRightUnsigned(x, Literal(start)), mask)
  }

  def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(l, r, Inner, Some(cond), hint) =>
      val preds = splitConjunctivePredicates(cond)
      val hasCrossEquality = hasCrossSideEquality(preds, l, r)
      // bit_count(a ^ b) <= r in any orientation; strict < folds into
      // <= (r-1). Operands must be same-typed INT/BIGINT fingerprints.
      def hamOf(bc: Expression, bound: Expression, strict: Boolean): Option[(Expression, Expression, Int)] =
        (bc, bound) match {
          case (BitwiseCount(BitwiseXor(a, b)), Literal(v, IntegerType | LongType))
            if (a.dataType == LongType || a.dataType == IntegerType) &&
               a.dataType == b.dataType &&
               a.deterministic && b.deterministic && v != null =>
            val d = v.asInstanceOf[Number].intValue - (if (strict) 1 else 0)
            if (d < 1 || d > MaxR) None
            else (sideOf(a, l, r), sideOf(b, l, r)) match {
              case (Some(true), Some(false)) => Some((a, b, d))
              case (Some(false), Some(true)) => Some((b, a, d))
              case _ => None
            }
          case _ => None
        }
      val ham = preds.iterator.map {
        case LessThanOrEqual(bc, bound)    => hamOf(bc, bound, strict = false)
        case GreaterThanOrEqual(bound, bc) => hamOf(bc, bound, strict = false)
        case LessThan(bc, bound)           => hamOf(bc, bound, strict = true)
        case GreaterThan(bound, bc)        => hamOf(bc, bound, strict = true)
        case _                             => None
      }.collectFirst { case Some(x) => x }

      ham match {
        case Some((lh, rh, d)) if !hasCrossEquality =>
          val p = d + 1
          val bits = if (lh.dataType == LongType) 64 else 32
          val t = lh.dataType
          val ranges = HammingBands.ranges(bits, p)
          def explodeSide(child: LogicalPlan, h: Expression, prefix: String) = {
            val biAttr = AttributeReference(s"${prefix}bi", IntegerType, nullable = true)()
            val bvAttr = AttributeReference(s"${prefix}bv", t, nullable = true)()
            val structs = ranges.zipWithIndex.map { case ((start, w), i) =>
              CreateNamedStruct(Seq(
                Literal("bi"), Literal(i),
                Literal("bv"), bandVal(h, start, w)))
            }
            val gen = Generate(Inline(CreateArray(structs)),
              unrequiredChildIndex = Nil, outer = false, qualifier = None,
              generatorOutput = Seq(biAttr, bvAttr), child = child)
            (gen, biAttr, bvAttr)
          }
          val (genL, lbi, lbv) = explodeSide(l, lh, "_graft_hj_l")
          val (genR, rbi, rbv) = explodeSide(r, rh, "_graft_hj_r")
          // first-equal-band witness: candidate at band i survives only
          // if every band below i differs — recomputed from the two
          // fingerprints, so exactly one candidate per qualifying pair
          val witness = {
            val branches = (1 until p).map { i =>
              val allBelowDiffer = (0 until i).map { jdx =>
                val (s, w) = ranges(jdx)
                Not(EqualTo(bandVal(lh, s, w), bandVal(rh, s, w)))
              }.reduce[Expression](And)
              (EqualTo(lbi, Literal(i)), allBelowDiffer)
            }
            if (branches.isEmpty) Literal(true)
            else CaseWhen(branches, Some(Literal(true)))
          }
          val newCond = (Seq(
            EqualTo(lbi, rbi),
            EqualTo(lbv, rbv),
            witness) ++ preds).reduce(And)
          Project(j.output, Join(genL, genR, Inner, Some(newCond), hint))
        case _ => j
      }
  }
}
