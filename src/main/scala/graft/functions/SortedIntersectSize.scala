package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, IntegerType}

/** `|A ∩ B|` for two ASCENDING-SORTED, duplicate-free `array<string>`
  * columns, as a native Catalyst expression with codegen.
  *
  * This is the verification kernel of the set-similarity join family
  * (behind [[graft.operators.Dedup.jaccardOfSets]], which verifies the
  * banded candidates of [[graft.operators.Dedup.jaccardPairs]] and
  * `jaccardJoin`):
  * a candidate-verify pass evaluates |A∩B| millions of times, and
  * Spark's `array_intersect` builds a fresh hash set PER ROW (string
  * hashing + boxing + a growing table) — ~45 µs/pair on ~300-element
  * gram sets. Two presorted arrays intersect in a single allocation-free
  * two-pointer merge over `UTF8String.binaryCompare` (binary order — the
  * exact order `sort_array` produces for default-collation strings):
  * ~1 µs/pair, and the count is bit-identical to
  * `size(array_intersect(a, b))` on distinct-element inputs.
  *
  * PRECONDITION (caller-enforced, not checked): both arrays sorted
  * ascending with distinct elements — e.g. `sort_array(array_distinct(…))`
  * (`sort_array` ascending places null elements FIRST, which is the
  * order the merge assumes). Null ELEMENTS follow `array_intersect`'s
  * null-safe equality — a null in both sides counts as one common
  * element. Null for null ARRAY inputs only.
  *
  * The generated code never assigns `ev.isNull` — with non-nullable
  * children Spark materializes it as an unassignable constant, and an
  * assignment fails Janino compilation, silently demoting every task
  * to interpreted eval (~100× slower). The result is total given
  * non-null arrays, so no assignment is needed.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_intersect_size"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var n = 0
    while (i < nx && j < ny) {
      val an = x.isNullAt(i)
      val bn = y.isNullAt(j)
      if (an && bn) { n += 1; i += 1; j += 1 }
      else if (an) i += 1
      else if (bn) j += 1
      else {
        // binaryCompare, NOT compareTo: Spark 4's compareTo runs a
        // collation assertion guarded by isTesting(), which calls
        // System.getenv PER COMPARISON — ~3 µs + cross-thread
        // contention on the env map, a ~1000× tax on a merge kernel.
        // sort_array orders default-collation strings by exactly this
        // binary order, so the merge semantics are unchanged.
        val c = x.getUTF8String(i).binaryCompare(y.getUTF8String(j))
        if (c == 0) { n += 1; i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val an = ctx.freshName("an")
      val bn = ctx.freshName("bn")
      val c = ctx.freshName("c")
      s"""
         |final int $nx = $a.numElements();
         |final int $ny = $b.numElements();
         |int $i = 0; int $j = 0; int $n = 0;
         |while ($i < $nx && $j < $ny) {
         |  final boolean $an = $a.isNullAt($i);
         |  final boolean $bn = $b.isNullAt($j);
         |  if ($an && $bn) { $n++; $i++; $j++; }
         |  else if ($an) { $i++; }
         |  else if ($bn) { $j++; }
         |  else {
         |    final int $c = $a.getUTF8String($i).binaryCompare($b.getUTF8String($j));
         |    if ($c == 0) { $n++; $i++; $j++; }
         |    else if ($c < 0) { $i++; } else { $j++; }
         |  }
         |}
         |${ev.value} = $n;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)
}
