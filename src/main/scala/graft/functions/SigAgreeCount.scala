package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, IntegerType}

/** Number of positions at which two `array<bigint>` MinHash signatures
  * agree, as a native Catalyst expression with codegen.
  *
  * Semantics are EXACTLY `size(filter(zip_with(a, b, _ === _), v => v))`
  * for equal-length arrays: positions where both elements are non-null
  * and equal count; positions involving a null element don't. Null for
  * length-mismatched inputs (signatures are fixed-width by
  * construction, so a mismatch is a caller bug surfaced as null, which
  * the ≥-threshold verify then drops).
  *
  * This is the verification kernel of the banded-LSH dedup
  * ([[graft.operators.Dedup.minhashDedup]]): candidate pairs are made
  * distinct before the verify, so it runs once per distinct pair
  * (however many bands the pair collides in). The
  * higher-order-function formulation interprets three lambda
  * dispatches per signature position — ~128 interpreted calls per
  * verify on a numPerm=128 signature. Here it is one allocation-free
  * loop inside whole-stage codegen.
  */
case class SigAgreeCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sig_agree_count"

  /** Nullable because a length mismatch yields null even for
    * non-nullable inputs (see DotProduct for the Janino constraint on
    * assigning `ev.isNull` with non-nullable children). */
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var i = 0
    var agree = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i))
        agree += 1
      i += 1
    }
    agree
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val agree = ctx.freshName("agree")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $agree = 0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if (!$a.isNullAt($i) && !$b.isNullAt($i) &&
         |        $a.getLong($i) == $b.getLong($i)) { $agree++; }
         |  }
         |  ${ev.value} = $agree;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigAgreeCount =
    copy(left = newLeft, right = newRight)
}
