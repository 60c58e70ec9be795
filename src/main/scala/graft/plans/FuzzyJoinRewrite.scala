package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

/** Optimizer rule: rewrite a key-less edit-distance join — an inner join
  * whose only cross-side predicate is `levenshtein(l.s, r.s) <= d` — into
  * the PassJoin blocked plan [[graft.operators.FuzzyJoin]] builds by hand.
  *
  * Spark plans the naive form as BroadcastNestedLoopJoin: O(n·m)
  * levenshtein evaluations, a non-starter at 100 TB. The pigeonhole makes
  * it an equi-join in disguise: the right side explodes to its d+1
  * segments, the left side to every (target length ±d, segment, position
  * ±d) substring that could contain one, and the hash join runs on
  * (length, segment-index, substring) with the ORIGINAL predicate kept as
  * the residual. Exactly-once semantics — the part a hand-written rewrite
  * gets from dropDuplicates but a rule cannot (no row identity) — comes
  * from [[graft.exprs.PassJoinWitness]]: each joined row also proves its
  * (segment, position) is the pair's CANONICAL match, so exactly one
  * candidate per qualifying pair survives. No false negatives (the
  * pigeonhole window is complete) and no false positives (the residual
  * re-checks), so results are identical to the nested loop's.
  *
  * Fires only for d in [1, 3] (the probe fan-out is (d+1)(2d+1)² rows —
  * 18/45/84; past that the rewrite's constant stops paying), only when
  * there is no cross-side equality (Spark would already hash-join), and
  * only for deterministic string operands. The rewritten join contains
  * cross-side equalities, so the rule cannot re-fire on its own output.
  * Installed once per session by [[JoinRewrites.setup]] (which every
  * declared query runs first) and injected by [[graft.GraftExtensions]].
  */
object FuzzyJoinRewrite extends Rule[LogicalPlan] with JoinRewriteSupport {

  private val MaxD = 3

  private def addI(a: Expression, b: Expression) = Add(a, b, EvalMode.LEGACY)
  private def subI(a: Expression, b: Expression) = Subtract(a, b, EvalMode.LEGACY)

  /** (start, slen) int expressions for segment `i` of a `p`-partition of
    * `len` — the FuzzyJoin.segOf / PassJoinWitness.seg rule. */
  private def segParams(len: Expression, i: Expression, p: Int): (Expression, Expression) = {
    val base = Cast(IntegralDivide(Cast(len, LongType),
      Literal(p.toLong), EvalMode.LEGACY), IntegerType)
    val rem = Remainder(len, Literal(p), EvalMode.LEGACY)
    val pMinusRem = subI(Literal(p), rem)
    val start = addI(Multiply(i, base, EvalMode.LEGACY),
      Greatest(Seq(Literal(0), subI(i, pMinusRem))))
    val slen = addI(base, If(GreaterThanOrEqual(i, pMinusRem), Literal(1), Literal(0)))
    (start, slen)
  }

  def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(l, r, Inner, Some(cond), hint) =>
      val preds = splitConjunctivePredicates(cond)
      val hasCrossEquality = hasCrossSideEquality(preds, l, r)
      // levenshtein(a, b) <= d in any orientation; strict < folds into
      // <= (d-1). Only the 2-arg form (the 3-arg threshold form already
      // caps its own work).
      def levOf(lv: Expression, bound: Expression, strict: Boolean): Option[(Expression, Expression, Int)] =
        (lv, bound) match {
          case (Levenshtein(a, b, None), Literal(v, IntegerType | LongType))
            if a.dataType == StringType && b.dataType == StringType &&
               a.deterministic && b.deterministic && v != null =>
            val d = v.asInstanceOf[Number].intValue - (if (strict) 1 else 0)
            if (d < 1 || d > MaxD) None
            else (sideOf(a, l, r), sideOf(b, l, r)) match {
              case (Some(true), Some(false)) => Some((a, b, d))
              case (Some(false), Some(true)) => Some((b, a, d))
              case _ => None
            }
          case _ => None
        }
      val lev = preds.iterator.map {
        case LessThanOrEqual(lv, bound)    => levOf(lv, bound, strict = false)
        case GreaterThanOrEqual(bound, lv) => levOf(lv, bound, strict = false)
        case LessThan(lv, bound)           => levOf(lv, bound, strict = true)
        case GreaterThan(bound, lv)        => levOf(lv, bound, strict = true)
        case _                             => None
      }.collectFirst { case Some(x) => x }

      lev match {
        case Some((ls, rs, d)) if !hasCrossEquality =>
          val p = d + 1
          // ---- right side: one row per segment (i, rlen, seg) ----
          val riAttr = AttributeReference("_graft_fj_ri", IntegerType, nullable = true)()
          val genR = Generate(
            Explode(CreateArray((0 until p).map(Literal(_)))),
            unrequiredChildIndex = Nil, outer = false, qualifier = None,
            generatorOutput = Seq(riAttr), child = r)
          val rLen = Length(rs)
          val (rStart, rSlen) = segParams(rLen, riAttr, p)
          val rLenAlias = Alias(rLen, "_graft_fj_rlen")()
          val rSegAlias = Alias(
            Substring(rs, addI(rStart, Literal(1)), rSlen), "_graft_fj_seg")()
          val projR = Project(r.output ++ Seq(riAttr, rLenAlias, rSegAlias), genR)
          // ---- left side: one row per (target length, segment, shift) ----
          val la = Length(ls)
          val combos = for {
            dl <- -d to d
            i <- 0 until p
            shift <- -d to d
          } yield {
            val rlen = addI(la, Literal(dl))
            val (start, _) = segParams(rlen, Literal(i), p)
            CreateNamedStruct(Seq(
              Literal("rlen"), rlen,
              Literal("i"), Literal(i),
              Literal("pos"), addI(start, Literal(shift))))
          }
          val lrAttr = AttributeReference("_graft_fj_lrlen", IntegerType, nullable = true)()
          val liAttr = AttributeReference("_graft_fj_li", IntegerType, nullable = true)()
          val lpAttr = AttributeReference("_graft_fj_pos", IntegerType, nullable = true)()
          // Inline (not Explode) flattens the array<struct> into columns
          val genL = Generate(
            Inline(CreateArray(combos)),
            unrequiredChildIndex = Nil, outer = false, qualifier = None,
            generatorOutput = Seq(lrAttr, liAttr, lpAttr), child = l)
          val (_, lSlen) = segParams(lrAttr, liAttr, p)
          // rlen >= 0, NOT >= 1: an empty right string pairs with any left
          // string of length <= d (levenshtein = llen <= d). segParams
          // degenerates safely at 0 (slen 0, empty-substring keys) and
          // PassJoinWitness keeps exactly the (i=0, pos=0) candidate.
          val valid = And(And(GreaterThanOrEqual(lrAttr, Literal(0)),
            GreaterThanOrEqual(lpAttr, Literal(0))),
            LessThanOrEqual(addI(lpAttr, lSlen), la))
          val filtL = Filter(valid, genL)
          val lSubAlias = Alias(
            Substring(ls, addI(lpAttr, Literal(1)), lSlen), "_graft_fj_sub")()
          val projL = Project(l.output ++ Seq(lrAttr, liAttr, lpAttr, lSubAlias), filtL)
          // ---- blocked join: equi keys + canonical witness + residual ----
          val witness = graft.exprs.PassJoinWitness(ls, rs, liAttr, lpAttr, d)
          // swap the residual to the THRESHOLD levenshtein (early-exit at
          // d, O(d·len) per candidate instead of O(len²)): on low-entropy
          // corpora one segment bucket can collide a large slice of both
          // sides, and the residual dominates the join's candidate loop
          val preds2 = preds.map { pr =>
            val m = pr match {
              case LessThanOrEqual(lv, bound)    => levOf(lv, bound, strict = false)
              case GreaterThanOrEqual(bound, lv) => levOf(lv, bound, strict = false)
              case LessThan(lv, bound)           => levOf(lv, bound, strict = true)
              case GreaterThan(bound, lv)        => levOf(lv, bound, strict = true)
              case _                             => None
            }
            m match {
              case Some((a, b, dd)) =>
                GreaterThanOrEqual(Levenshtein(a, b, Some(Literal(dd))), Literal(0))
              case None => pr
            }
          }
          val newCond = (Seq(
            EqualTo(lrAttr, rLenAlias.toAttribute),
            EqualTo(liAttr, riAttr),
            EqualTo(lSubAlias.toAttribute, rSegAlias.toAttribute),
            witness) ++ preds2).reduce(And)
          // round-robin both sides to the configured parallelism: either
          // side can end up as the streamed side of a broadcast join, and
          // a single-file source (or an AQE-coalesced tiny frame) would
          // run the whole candidate loop — which on low-entropy corpora is
          // far larger than the frame's bytes suggest — on one task (the
          // FuzzyJoin operator applies the same guard)
          val par = org.apache.spark.sql.internal.SQLConf.get.numShufflePartitions
          val parL = Repartition(math.max(8, par), shuffle = true, projL)
          val parR = Repartition(math.max(8, par), shuffle = true, projR)
          Project(j.output, Join(parL, parR, Inner, Some(newCond), hint))
        case _ => j
      }
  }
}
