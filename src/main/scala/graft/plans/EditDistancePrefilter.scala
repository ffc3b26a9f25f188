package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: bounded edit-distance predicates get a free
  * length-band prefilter.
  *
  * `levenshtein(a, b) ≤ k` (and the threshold form's
  * `levenshtein(a, b, t) != -1`) can never hold when
  * `abs(length(a) − length(b)) > k` — each unit of length difference
  * costs at least one edit — so the rule conjoins
  * `abs(length(a) − length(b)) <= bound` next to the comparison.
  * The guard is integer arithmetic on two string lengths; the DP it
  * short-circuits is O(threshold·len) per pair. On a blocked fuzzy
  * join (dedup09's shape) most candidate pairs die in the guard
  * without ever running the DP — the hand-written trick in
  * `ops/DedupQueries.scala:331` becomes automatic for every user of
  * the library (the idiomatic home for this knowledge is the
  * optimizer, not each caller).
  *
  * Safety:
  *   - Only distance-BOUNDING comparisons rewrite. The threshold
  *     form's `≤ k` is deliberately NOT matched: `levenshtein(a,b,t)`
  *     returns −1 past the threshold and `−1 ≤ k` is true, so that
  *     predicate also matches far-apart pairs and a guard would
  *     change its result.
  *   - Only top-level conjuncts of a Filter rewrite — a guard
  *     AND-ed into an OR branch would be wrong globally; a guard
  *     next to its own conjunct is sound in any case.
  *   - Null flow is unchanged: null input ⇒ both guard and original
  *     predicate evaluate null ⇒ the row was filtered either way.
  *   - Idempotent: a conjunct semantically equal to the guard
  *     already present (hand-written or from a prior pass) skips the
  *     rewrite, so the fixpoint batch terminates.
  *
  * Installed by `GraftExtensions.injectOptimizerRule`, so every
  * `GraftSession.local` session and every cluster session built with
  * the extensions conf has it.
  */
object EditDistancePrefilter extends Rule[LogicalPlan] {

  /** bound on |len(a) − len(b)| implied by the comparison, if any */
  private def impliedBound(e: Expression): Option[(Expression, Expression, Int)] =
    e match {
      // two-arg form: the comparison itself bounds the distance
      case LessThanOrEqual(Levenshtein(a, b, None), IntegerLiteral(k)) =>
        Some((a, b, k))
      case GreaterThanOrEqual(IntegerLiteral(k), Levenshtein(a, b, None)) =>
        Some((a, b, k))
      case LessThan(Levenshtein(a, b, None), IntegerLiteral(k)) =>
        Some((a, b, k - 1))
      case GreaterThan(IntegerLiteral(k), Levenshtein(a, b, None)) =>
        Some((a, b, k - 1))
      case EqualTo(Levenshtein(a, b, None), IntegerLiteral(c)) if c >= 0 =>
        Some((a, b, c))
      case EqualTo(IntegerLiteral(c), Levenshtein(a, b, None)) if c >= 0 =>
        Some((a, b, c))
      // threshold form: "within threshold" predicates bound by t
      case Not(EqualTo(Levenshtein(a, b, Some(IntegerLiteral(t))), IntegerLiteral(-1))) =>
        Some((a, b, t))
      case Not(EqualTo(IntegerLiteral(-1), Levenshtein(a, b, Some(IntegerLiteral(t))))) =>
        Some((a, b, t))
      case GreaterThanOrEqual(Levenshtein(a, b, Some(IntegerLiteral(t))), IntegerLiteral(c)) if c >= 0 =>
        Some((a, b, t))
      case EqualTo(Levenshtein(a, b, Some(IntegerLiteral(t))), IntegerLiteral(c)) if c >= 0 =>
        Some((a, b, math.min(c, t)))
      case EqualTo(IntegerLiteral(c), Levenshtein(a, b, Some(IntegerLiteral(t)))) if c >= 0 =>
        Some((a, b, math.min(c, t)))
      case _ => None
    }

  private def guardFor(a: Expression, b: Expression, bound: Int): Expression =
    LessThanOrEqual(Abs(Subtract(Length(a), Length(b))), Literal(bound))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) if cond.deterministic =>
      val conjuncts = splitConjuncts(cond)
      val guards = conjuncts.flatMap(impliedBound).collect {
        case (a, b, bound) if bound >= 0 => guardFor(a, b, bound)
      }
      val fresh = guards.filterNot(g => conjuncts.exists(_.semanticEquals(g)))
        .foldLeft(Seq.empty[Expression]) { (acc, g) =>
          if (acc.exists(_.semanticEquals(g))) acc else acc :+ g
        }
      if (fresh.isEmpty) f
      else Filter((fresh ++ conjuncts).reduceLeft(And), child)
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other     => Seq(other)
  }
}
