package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

/** Derived-predicate optimizer rule (builder-brief extension point (c),
  * `injectOptimizerRule`): a threshold on [[JaroWinkler]] IMPLIES a bound
  * on how much the two string lengths may differ, and that bound is a
  * two-`length()` check the kernel's O(|a|·|b|) match loop never has to
  * run for. The rule prepends the implied check to the same Filter, so
  * conjunct short-circuiting skips the kernel on length-mismatched pairs
  * — the classic derived-predicate optimization (cf. Catalyst's own
  * InferFiltersFromConstraints), applied to a domain function Catalyst
  * cannot reason about.
  *
  * Derivation (all from the kernel's exact formula): with s = min(l1,l2),
  * L = max(l1,l2), matches m <= s, so
  * `jaro <= (s/l1 + s/l2 + 1)/3 <= (2 + s/L)/3`, and the Winkler boost is
  * capped by `jw <= 0.6*jaro + 0.4` (p <= 4, factor 0.1). Therefore
  * `jw >= t` implies `s/L >= 3*(t - 0.4)/0.6 - 2` — a positive bound only
  * for t > 0.8, so the rule leaves weaker thresholds untouched.
  *
  * Soundness: the implied predicate is NEVER false for a row the original
  * predicate accepts (it is a relaxation), and on NULL inputs both
  * predicates are NULL — the rewritten filter drops exactly the same
  * rows. Idempotent: a conjunct semantically equal to the derived check
  * suppresses re-derivation (injected operator-optimization rules run
  * to fixpoint).
  */
object JaroWinklerLengthPrune extends Rule[LogicalPlan] {

  /** s/L lower bound implied by `jw >= t`, or None when vacuous. */
  private def ratioBound(t: Double): Option[Double] = {
    val jaroBound = (t - 0.4) / 0.6
    val b = 3.0 * jaroBound - 2.0
    if (b > 0.0 && t <= 1.0) Some(b) else None
  }

  private def lengthCheck(a: Expression, b: Expression, bound: Double): Expression = {
    val la = Cast(Length(a), DoubleType)
    val lb = Cast(Length(b), DoubleType)
    GreaterThanOrEqual(Least(Seq(la, lb)),
      Multiply(Literal(bound, DoubleType), Greatest(Seq(la, lb))))
  }

  /** The implied check for one conjunct, if it is a strong-enough
    * JaroWinkler threshold in either operand order.
    */
  private def derive(conjunct: Expression): Option[Expression] = conjunct match {
    case GreaterThanOrEqual(JaroWinkler(a, b), Literal(t: Double, DoubleType)) =>
      ratioBound(t).map(lengthCheck(a, b, _))
    case GreaterThan(JaroWinkler(a, b), Literal(t: Double, DoubleType)) =>
      ratioBound(t).map(lengthCheck(a, b, _))
    case LessThanOrEqual(Literal(t: Double, DoubleType), JaroWinkler(a, b)) =>
      ratioBound(t).map(lengthCheck(a, b, _))
    case LessThan(Literal(t: Double, DoubleType), JaroWinkler(a, b)) =>
      ratioBound(t).map(lengthCheck(a, b, _))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f @ Filter(cond, child) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val derived = conjuncts.flatMap(derive)
        .filterNot(d => conjuncts.exists(_.semanticEquals(d)))
        .distinct
      if (derived.isEmpty) f
      // derived checks FIRST: conjunct short-circuit order is evaluation
      // order, and the whole point is running length() before the kernel
      else Filter((derived :+ cond).reduce(And), child)
  }

  private def splitConjunctivePredicates(e: Expression): Seq[Expression] =
    e match {
      case And(l, r) => splitConjunctivePredicates(l) ++ splitConjunctivePredicates(r)
      case other => Seq(other)
    }
}
