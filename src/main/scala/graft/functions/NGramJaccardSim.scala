package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** Exact character-n-gram Jaccard similarity of two strings — the
  * MARKER expression of the similarity-join rewrite.
  *
  * Semantics are identical to computing
  * `J = |A∩B| / (|A|+|B|−|A∩B|)` over the [[CharNGrams]] sentinel gram
  * sets (`J(∅,∅)=1`, `J(∅,S)=0`, null for null inputs), so the
  * expression is correct ANYWHERE a double expression is: in a
  * projection it evaluates per row; in a join predicate
  * `ngram_jaccard_sim(a.text, b.text, n) >= t` it evaluates per PAIR,
  * which Spark can only plan as a nested-loop cross product — that
  * exact shape is what [[graft.plans.JaccardJoinRewrite]] pattern-
  * matches and replaces with the count-based exact set-similarity join
  * ([[graft.operators.Dedup.textPairsByJaccard]], a caller of the
  * engine's one count join, `Dedup.countedPairs`, whose unrounded
  * compare is [[NGramJaccardSim.compute]]'s arithmetic). Without the
  * rule installed the query still answers correctly, just O(n·m).
  *
  * Codegen is a single static call (same discipline as [[CharNGrams]]:
  * library bytecode JITs once per JVM; fused Janino trees don't).
  */
case class NGramJaccardSim(left: Expression, right: Expression, n: Int)
    extends BinaryExpression {
  require(n >= 1, "n-gram size must be >= 1")

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "ngram_jaccard_sim"

  override def nullSafeEval(a: Any, b: Any): Any =
    NGramJaccardSim.compute(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.NGramJaccardSim.compute($a, $b, $n);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NGramJaccardSim =
    copy(left = newLeft, right = newRight)
}

object NGramJaccardSim {

  /** Distinct-gram Jaccard; arithmetic matches the count join's
    * unrounded `i / (|A|+|B|−i)` double division exactly (same
    * operands, same order), so a threshold comparison agrees
    * bit-for-bit between the naive and rewritten plans
    * (JaccardRewriteSpec pins thresholds at and within 1e-7 of J). */
  def compute(a: UTF8String, b: UTF8String, n: Int): Double = {
    val sa = gramSet(a, n)
    val sb = gramSet(b, n)
    // sentinel semantics: numChars < n behaves as the {""} set
    if (sa.isEmpty && sb.isEmpty) return 1.0
    if (sa.isEmpty || sb.isEmpty) return 0.0
    val (small, big) = if (sa.size <= sb.size) (sa, sb) else (sb, sa)
    var i = 0
    val it = small.iterator()
    while (it.hasNext) if (big.contains(it.next())) i += 1
    i.toDouble / (sa.size + sb.size - i)
  }

  private def gramSet(s: UTF8String, n: Int): java.util.HashSet[UTF8String] = {
    val set = new java.util.HashSet[UTF8String]()
    val nc = s.numChars()
    var i = 0
    while (i + n <= nc) {
      set.add(s.substring(i, i + n))
      i += 1
    }
    set
  }
}
