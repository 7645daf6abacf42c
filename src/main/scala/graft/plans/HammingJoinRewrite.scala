package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.bridge
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.operators.Dedup

/** Optimizer rule: Hamming-distance theta-join → pigeonhole-banded
  * equi-join — the SimHash sibling of [[JaccardJoinRewrite]] /
  * [[CosineJoinRewrite]], and the one that needs NO marker expression:
  * it recognizes Spark's own
  *
  * {{{ a.join(b, bit_count(a("sig") ^ b("sig")) <= lit(3)) }}}
  *
  * — the natural way to write a near-dup signature join, which Spark
  * can only plan as a nested-loop cross product. The rule replaces it
  * with [[Dedup.hammingPairsValues]], the value pairs of the engine's
  * one Hamming band join (the batch SimHash, image, audio and video
  * pair joins and drop sets run it too): distinct signature values banded into pigeonhole
  * slices (every pair within distance k MUST share a band, or at
  * k ≥ 6 a band one probed bit flip reaches — a guarantee, not a
  * probability), bucket equi-join, exact popcount verify, then
  * equi-joins back to each side's rows by signature equality.
  * Identical output: the banding is loss-free, null signatures never
  * pair on either path, and residual conjuncts re-apply. Scope: inner/cross joins, both signature
  * expressions LongType deterministic and side-separable, foldable
  * integral threshold with a budget in [0, 32) (`<=` form; `<` forms
  * verify strictly at the same banding width); the rebuilt plan must
  * preserve the original output attribute ids or the rule bails. */
case class HammingJoinRewrite(spark: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  private case class Marker(
      leftSig: Expression, rightSig: Expression, k: Int, strict: Boolean)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // structural self-guard: the rewritten plan's popcount VERIFY gets
    // pushed back into the banded (band, bucket) equi-join by
    // PushPredicateThroughJoin, where this rule would re-match its own
    // output forever (the JaccardJoinRewrite lesson). The banded
    // subplans are recognizable by their __ham_* value columns.
    case j @ Join(l, r, Inner | Cross, Some(cond), _)
        if !(l.output.exists(_.name.startsWith("__ham_")) ||
             r.output.exists(_.name.startsWith("__ham_"))) =>
      val conjuncts = splitConjunctivePredicates(cond)
      // Scope: the rewrite only pays when the popcount predicate is the
      // join's ONLY handle — with any cross-side equi conjunct Spark
      // already plans a hash/sort-merge join and the popcount is a
      // cheap post-join filter (this also keeps the rule off the
      // engine's own (band, bucket) bucket join in
      // Dedup.hammingPairsValues, whose pushed-down verify would
      // otherwise re-match here).
      val hasEqui = conjuncts.exists {
        case EqualTo(a, b) => crossSide(a, b, l, r)
        case EqualNullSafe(a, b) => crossSide(a, b, l, r)
        case _ => false
      }
      if (hasEqui) j
      else {
        val hit = conjuncts.iterator.map(c => (c, matchMarker(c, l, r))).collectFirst {
          case (c, Some(m)) => (c, m)
        }
        hit match {
          case Some((pred, m)) =>
            rewrite(j, m, conjuncts.filterNot(_ eq pred)).getOrElse(j)
          case None => j
        }
      }
  }

  private def crossSide(a: Expression, b: Expression,
      l: LogicalPlan, r: LogicalPlan): Boolean =
    (a.references.subsetOf(l.outputSet) && b.references.subsetOf(r.outputSet) &&
      a.references.nonEmpty && b.references.nonEmpty) ||
    (b.references.subsetOf(l.outputSet) && a.references.subsetOf(r.outputSet) &&
      a.references.nonEmpty && b.references.nonEmpty)

  private def intLit(e: Expression): Option[Int] = e match {
    case Literal(v: Int, IntegerType) => Some(v)
    case Literal(v: Long, LongType) if v.isValidInt => Some(v.toInt)
    case Literal(v: Short, ShortType) => Some(v.toInt)
    case Literal(v: Byte, ByteType) => Some(v.toInt)
    case c: Cast => intLit(c.child)
    case _ => None
  }

  /** bit_count(a ^ b), possibly under an implicit cast. */
  private def popcount(e: Expression): Option[(Expression, Expression)] = e match {
    case BitwiseCount(BitwiseXor(a, b)) => Some((a, b))
    case c: Cast => popcount(c.child)
    case _ => None
  }

  private def matchMarker(e: Expression, l: LogicalPlan, r: LogicalPlan): Option[Marker] = {
    def orient(a: Expression, b: Expression, k: Int, strict: Boolean): Option[Marker] = {
      val budget = if (strict) k - 1 else k // max admissible distance
      if (!a.deterministic || !b.deterministic) None
      else if (a.dataType != LongType || b.dataType != LongType) None
      else if (budget < 0 || k >= 32) None
      else if (a.references.subsetOf(l.outputSet) && b.references.subsetOf(r.outputSet))
        Some(Marker(a, b, k, strict))
      else if (b.references.subsetOf(l.outputSet) && a.references.subsetOf(r.outputSet))
        Some(Marker(b, a, k, strict))
      else None
    }
    e match {
      case LessThanOrEqual(pc, lit) =>
        for { (a, b) <- popcount(pc); k <- intLit(lit)
              m <- orient(a, b, k, strict = false) } yield m
      case LessThan(pc, lit) =>
        for { (a, b) <- popcount(pc); k <- intLit(lit)
              m <- orient(a, b, k, strict = true) } yield m
      case GreaterThanOrEqual(lit, pc) =>
        for { (a, b) <- popcount(pc); k <- intLit(lit)
              m <- orient(a, b, k, strict = false) } yield m
      case GreaterThan(lit, pc) =>
        for { (a, b) <- popcount(pc); k <- intLit(lit)
              m <- orient(a, b, k, strict = true) } yield m
      case _ => None
    }
  }

  private def rewrite(
      j: Join, m: Marker, residual: Seq[Expression]): Option[LogicalPlan] = {
    val leftDf = bridge.ofRows(spark, j.left)
    val rightDf = bridge.ofRows(spark, j.right)
    val lsCol = bridge.toColumn(m.leftSig)
    val rsCol = bridge.toColumn(m.rightSig)
    val pairs = Dedup.hammingPairsValues(
      Dedup.spreadWide(leftDf), lsCol, Dedup.spreadWide(rightDf), rsCol, m.k, m.strict)
    // right ⋈ (left ⋈ pairs) by signature equality — the
    // CosineJoinRewrite join-back shape; analyzer self-join dedup
    // regenerates ids inside the pairs copies only (output-id check
    // below guards the top-level sides).
    val inner = leftDf.join(pairs, lsCol === col("__ham_sa"))
    val full = rightDf.join(inner, rsCol === col("__ham_sb"))
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
