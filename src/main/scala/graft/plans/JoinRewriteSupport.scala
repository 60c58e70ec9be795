package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** The key-less-join rewrites as one always-on set. Each rule is an exact
  * re-plan (its residual re-checks the original predicate), so it is
  * installed once per session rather than scoped to the queries that
  * need it: [[graft.relational.Q.run]] calls [[setup]] before every
  * declared query, and [[graft.GraftExtensions]] injects the same list.
  */
object JoinRewrites {
  val rules: Seq[Rule[LogicalPlan]] =
    Seq(BandJoinRewrite, FuzzyJoinRewrite, HammingJoinRewrite)

  /** Appends whichever of [[rules]] `session` lacks to its
    * `experimental.extraOptimizations`; a no-op once all are there. The
    * lock makes the read-modify-write atomic across threads sharing a
    * session, so no install can drop another's rule. */
  def setup(session: SparkSession): Unit = synchronized {
    val have = session.experimental.extraOptimizations
    val missing = rules.filterNot(r => have.exists(_ eq r))
    if (missing.nonEmpty) session.experimental.extraOptimizations = have ++ missing
  }
}

/** Shared side-classification for the key-less-join rewrite rules
  * ([[BandJoinRewrite]], [[FuzzyJoinRewrite]], [[HammingJoinRewrite]]) —
  * one copy of the two predicates every rule needs, so the rules cannot
  * drift in which joins they claim.
  */
private[plans] trait JoinRewriteSupport extends PredicateHelper {

  /** Some(true) if `e` only references the left side, Some(false) if only
    * the right, None if neither/both (constants have no side). */
  protected def sideOf(e: Expression, l: LogicalPlan, r: LogicalPlan): Option[Boolean] =
    if (e.references.isEmpty) None
    else if (e.references.subsetOf(l.outputSet)) Some(true)
    else if (e.references.subsetOf(r.outputSet)) Some(false)
    else None

  /** True when any conjunct is a cross-side equality — `=` OR `<=>`:
    * ExtractEquiJoinKeys plans BOTH as hash-join keys, so a rewrite on
    * such a join would trade a selective hash join for a fanned-out band
    * join (a plan regression, not a correctness issue). */
  protected def hasCrossSideEquality(preds: Seq[Expression],
                                     l: LogicalPlan, r: LogicalPlan): Boolean = {
    def cross(a: Expression, b: Expression): Boolean =
      (sideOf(a, l, r), sideOf(b, l, r)) match {
        case (Some(x), Some(y)) => x != y
        case _ => false
      }
    preds.exists {
      case EqualTo(a, b)       => cross(a, b)
      case EqualNullSafe(a, b) => cross(a, b)
      case _ => false
    }
  }
}

/** The pigeonhole bit-range split shared by [[HammingJoinRewrite]] and
  * the hand-callable [[graft.operators.LshBlocking.hammingPairs]] — one
  * copy of the band convention so rule and operator cannot
  * de-synchronize. */
object HammingBands {
  /** (start, width) bit ranges of a `p`-way split of `bits` — base-width
    * bands first, the `bits % p` one-bit-wider bands last (any fixed
    * convention works; all users must share it). */
  def ranges(bits: Int, p: Int): Seq[(Int, Int)] = {
    val base = bits / p
    val rem = bits % p
    val widths = Seq.tabulate(p)(i => base + (if (i >= p - rem) 1 else 0))
    widths.scanLeft(0)(_ + _).zip(widths)
  }
}
