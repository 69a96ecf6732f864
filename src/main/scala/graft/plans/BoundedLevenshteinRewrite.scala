package graft.plans

import org.apache.spark.sql.catalyst.expressions.{
  Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual,
  Levenshtein, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Strength reduction for thresholded edit-distance predicates: any
  * `levenshtein(a, b) <= k` (or `<`, or the flipped spellings) with a
  * small integer-literal bound is rewritten to Spark's thresholded
  * `levenshtein(a, b, k) >= 0` — a banded O(k·n) comparison per row with
  * an early exit, which reads -1 over the bound, instead of the full
  * O(n·m) matrix. The predicate value is IDENTICAL for every input
  * (the thresholded form is exact below the bound; the SQL-level
  * `levenshtein_bounded` parity is fuzzed in CodegenParitySpec), so
  * unlike the engine's opt-in rewrites this one is ALWAYS ON — it is the
  * same class of transformation as constant folding, not a semantics
  * trade.
  *
  * Why it matters at scale: thresholded edit distance is the verifier
  * of every blocked fuzzy join (q217's shape), and users port SQL
  * written with the plain 2-arg spelling — the reference dialect, like
  * most, has no threshold argument. Without the rewrite the full DP
  * runs on every candidate pair; with it the work is proportional to
  * the threshold, which is small by construction. The rule runs after
  * the optimizer's `ReplaceExpressions`, so it emits Spark's expression
  * itself, never a `RuntimeReplaceable`. Bounds above [[MaxBound]] are
  * left alone — a wide band has no advantage over the classic DP. */
object BoundedLevenshteinRewrite extends Rule[LogicalPlan] {

  /** Past this the band is no longer narrow relative to typical keys. */
  val MaxBound = 16

  private def intLit(e: Expression): Option[Int] = e match {
    case Literal(v: Int, IntegerType) if v >= 0 && v <= MaxBound => Some(v)
    case _ => None
  }

  /** lev ≤ bound ⇔ the thresholded distance is not -1 */
  private def within(a: Expression, b: Expression, bound: Int): Expression =
    GreaterThanOrEqual(Levenshtein(a, b, Some(Literal(bound))), Literal(0))

  // lev <= k  ⇔  within(k);   lev < k  ⇔  within(k-1)
  def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case cmp @ LessThanOrEqual(l @ Levenshtein(a, b, None), k) if l.resolved =>
      intLit(k).map(within(a, b, _)).getOrElse(cmp)
    case cmp @ GreaterThanOrEqual(k, l @ Levenshtein(a, b, None)) if l.resolved =>
      intLit(k).map(within(a, b, _)).getOrElse(cmp)
    case cmp @ LessThan(l @ Levenshtein(a, b, None), k) if l.resolved =>
      intLit(k).filter(_ >= 1).map(v => within(a, b, v - 1)).getOrElse(cmp)
    case cmp @ GreaterThan(k, l @ Levenshtein(a, b, None)) if l.resolved =>
      intLit(k).filter(_ >= 1).map(v => within(a, b, v - 1)).getOrElse(cmp)
  }
}
