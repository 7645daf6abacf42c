package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.bridge
import org.apache.spark.sql.types.DoubleType

import graft.functions.CosineSim
import graft.operators.Similarity

/** Optimizer rule: cosine-threshold theta-join → cell-pruned exact
  * similarity join — the vector sibling of [[JaccardJoinRewrite]],
  * proving the marker-rewrite framework generalizes across similarity
  * domains.
  *
  * {{{ a.join(b, Similarity.cosineSim(a("vec"), b("vec")) >= lit(0.8)) }}}
  *
  * declares every pair at least 0.8-cosine-similar; Spark's only plan
  * for the non-equi condition is a nested-loop cross product scoring
  * every pair. The rule replaces it with
  * [[Similarity.vecPairsByCosine]] — the bipartite form of the exact
  * cosine core under [[Similarity.similarPairsApprox]], over both
  * sides' distinct vectors: corpus-sized hyperplane-signature cells,
  * triangle-inequality pruning of cell pairs, exact cosine verify on
  * survivors (identical output — the bound is loss-free and NaN pairs
  * are enumerated out-of-band) — then equi-joins back to each side's
  * full rows by vector equality. Same
  * scope/safety contract as the jaccard rule: inner/cross joins,
  * foldable double threshold in (0, 1], deterministic side-separable
  * marker arguments, residual conjuncts re-applied, bail-out unless
  * the rebuilt plan preserves the original output attribute ids.
  */
case class CosineJoinRewrite(spark: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  private case class Marker(
      leftVec: Expression, rightVec: Expression, t: Double, strict: Boolean)

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
    def orient(a: Expression, b: Expression, t: Double, strict: Boolean): Option[Marker] =
      if (!a.deterministic || !b.deterministic || t <= 0.0 || t > 1.0) None
      else if (a.references.subsetOf(l.outputSet) && b.references.subsetOf(r.outputSet))
        Some(Marker(a, b, t, strict))
      else if (b.references.subsetOf(l.outputSet) && a.references.subsetOf(r.outputSet))
        Some(Marker(b, a, t, strict))
      else None
    e match {
      case GreaterThanOrEqual(CosineSim(a, b), Literal(t: Double, DoubleType)) =>
        orient(a, b, t, strict = false)
      case GreaterThan(CosineSim(a, b), Literal(t: Double, DoubleType)) =>
        orient(a, b, t, strict = true)
      case LessThanOrEqual(Literal(t: Double, DoubleType), CosineSim(a, b)) =>
        orient(a, b, t, strict = false)
      case LessThan(Literal(t: Double, DoubleType), CosineSim(a, b)) =>
        orient(a, b, t, strict = true)
      case _ => None
    }
  }

  private def rewrite(
      j: Join, m: Marker, residual: Seq[Expression]): Option[LogicalPlan] = {
    val leftDf = bridge.ofRows(spark, j.left)
    val rightDf = bridge.ofRows(spark, j.right)
    val laCol = bridge.toColumn(m.leftVec).cast("array<double>")
    val raCol = bridge.toColumn(m.rightVec).cast("array<double>")
    val pairs = Similarity.vecPairsByCosine(
      leftDf, laCol, rightDf, raCol, m.t, m.strict)
    // right ⋈ (left ⋈ pairs): analyzer self-join dedup regenerates ids
    // inside the pairs copies, never on the top-level sides (guarded
    // by the output check below). Vector-equality equi-joins: __va/__vb
    // were built from exactly cast(side expr as array<double>).
    val inner = leftDf.join(pairs, laCol === col("__va"))
    val full = rightDf.join(inner, raCol === col("__vb"))
    val residualDf = residual.foldLeft(full)((d, e) => d.filter(bridge.toColumn(e)))
    val projected = residualDf.select(j.output.map(bridge.toColumn): _*)
    val newPlan = projected.queryExecution.optimizedPlan
    newPlan match {
      case p if p.output.map(_.exprId) == j.output.map(_.exprId) => Some(p)
      case p if j.outputSet.subsetOf(p.outputSet) => Some(Project(j.output, p))
      case _ => None
    }
  }
}
