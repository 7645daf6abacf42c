package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.bridge
import org.apache.spark.sql.types.DoubleType

import graft.functions.NGramJaccardSim
import graft.operators.Dedup

/** Optimizer rule: similarity-predicate theta-join → exact
  * set-similarity join (SURVEY §4's optional [E] rewrite, made real).
  *
  * A join whose condition thresholds the
  * [[graft.functions.NGramJaccardSim]] marker —
  *
  * {{{ a.join(b, Dedup.jaccardSim(a("text"), b("text"), 3) >= lit(0.8)) }}}
  *
  * — declares WHAT the user wants (every pair at least 0.8-similar),
  * but the only physical plan Spark has for a non-equi condition is a
  * nested-loop cross product: O(n·m) marker evaluations, each
  * recomputing both gram sets. This rule replaces the join with the
  * count-based exact algorithm ([[Dedup.textPairsByJaccard]]): distinct
  * texts per side, one gram explode each, the engine's shared count
  * join (`Dedup.countedPairs`: an equi-join on the gram, a size-bound
  * prune inside the join stage, a partial-aggregated pair count), and
  * an equi-join back to each side's full rows. Identical output on any
  * input — the count join's unrounded compare uses the same
  * `i/(|A|+|B|−i)` arithmetic the marker evaluates — with the cross
  * product replaced by hash joins that only ever touch gram-sharing
  * pairs.
  *
  * Scope and safety:
  *  - inner/cross joins only, marker compared (>=, >, <=, < reversed)
  *    against a foldable double in (0, 1]; one side of the marker must
  *    reference only the left plan, the other only the right
  *    (either orientation), both deterministic;
  *  - remaining conjuncts of the condition are re-applied as a filter
  *    on the rewritten join — only the marker conjunct is replaced;
  *  - the rewrite bails out (returns the join unchanged) unless the
  *    rebuilt plan still exposes the original output attribute ids, so
  *    a failed rewrite can never corrupt a parent plan;
  *  - without the rule the query still runs (the marker evaluates
  *    per pair) — installing the rule is purely a physical upgrade.
  *
  * Installed by [[graft.GraftSession]] via
  * `spark.experimental.extraOptimizations` and by
  * [[graft.GraftExtensions]] via `injectOptimizerRule` for
  * `spark.sql.extensions`-configured sessions.
  */
case class JaccardJoinRewrite(spark: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  private case class Marker(
      leftText: Expression, rightText: Expression, n: Int,
      t: Double, strict: Boolean)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(l, r, Inner | Cross, Some(cond), _) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val hit = conjuncts.iterator.map(c => (c, matchMarker(c, l, r))).collectFirst {
        case (c, Some(m)) => (c, m)
      }
      hit match {
        case Some((pred, m)) =>
          rewrite(j, m, conjuncts.filterNot(_ eq pred)).getOrElse(j)
        case None => j
      }
  }

  private def matchMarker(e: Expression, l: LogicalPlan, r: LogicalPlan): Option[Marker] = {
    def orient(a: Expression, b: Expression, n: Int, t: Double, strict: Boolean): Option[Marker] =
      if (!a.deterministic || !b.deterministic || t <= 0.0 || t > 1.0) None
      else if (a.references.subsetOf(l.outputSet) && b.references.subsetOf(r.outputSet))
        Some(Marker(a, b, n, t, strict))
      else if (b.references.subsetOf(l.outputSet) && a.references.subsetOf(r.outputSet))
        Some(Marker(b, a, n, t, strict))
      else None
    e match {
      case GreaterThanOrEqual(NGramJaccardSim(a, b, n), Literal(t: Double, DoubleType)) =>
        orient(a, b, n, t, strict = false)
      case GreaterThan(NGramJaccardSim(a, b, n), Literal(t: Double, DoubleType)) =>
        orient(a, b, n, t, strict = true)
      case LessThanOrEqual(Literal(t: Double, DoubleType), NGramJaccardSim(a, b, n)) =>
        orient(a, b, n, t, strict = false)
      case LessThan(Literal(t: Double, DoubleType), NGramJaccardSim(a, b, n)) =>
        orient(a, b, n, t, strict = true)
      case _ => None
    }
  }

  private def rewrite(
      j: Join, m: Marker, residual: Seq[Expression]): Option[LogicalPlan] = {
    val leftDf = bridge.ofRows(spark, j.left)
    val rightDf = bridge.ofRows(spark, j.right)
    val laCol = bridge.toColumn(m.leftText)
    val raCol = bridge.toColumn(m.rightText)
    // qualifying text pairs, computed over fresh wraps of both sides
    val pairs = Dedup.textPairsByJaccard(
      leftDf, laCol, rightDf, raCol, m.t, m.n, m.strict)
    // join back to full rows by text equality. Build as
    // right ⋈ (left ⋈ pairs) so the analyzer's self-join
    // deduplication regenerates ids inside the PAIRS copies of the two
    // plans, never on the top-level sides whose attributes the parent
    // plan references; the output check below guards the assumption.
    val inner = leftDf.join(pairs, laCol === col("__ta"))
    val full = rightDf.join(inner, raCol === col("__tb"))
    val residualDf = residual.foldLeft(full)((d, e) => d.filter(bridge.toColumn(e)))
    val projected = residualDf.select(j.output.map(bridge.toColumn): _*)
    val newPlan = projected.queryExecution.optimizedPlan
    newPlan match {
      case p if p.output.map(_.exprId) == j.output.map(_.exprId) => Some(p)
      case p if j.outputSet.subsetOf(p.outputSet) => Some(Project(j.output, p))
      case _ => None // dedup moved the original attributes — bail out
    }
  }
}
