package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** MinHash signature (`numPerm` 64-bit minimums) of a token array as a
  * native Catalyst expression with codegen.
  *
  * One pass over the tokens: each token is hashed once, then `numPerm`
  * cheap xorshift-derived permutation hashes update the running
  * minima — a tight primitive loop instead of numPerm interpreted
  * column evaluations. Deterministic (seeds derived from the
  * permutation index), so signatures are reproducible across runs and
  * cluster shapes.
  *
  * The estimated Jaccard similarity of two token sets is the fraction
  * of agreeing signature positions; banding the signature gives the
  * classic LSH bucket join (see graft.operators.Dedup.minhashDedup).
  */
case class MinHashSig(child: Expression, numPerm: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${child.dataType.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[ArrayData], numPerm)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashSig.compute($c, $numPerm)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  /** splitmix64 finalizer — full-period mix for permutation hashing. */
  @inline private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Folds one token (`len` bytes at `base`/`off`) into the running
    * minima: two Murmur3 seeds (42, 1042) make the 64-bit token hash,
    * then `sig.length` splitmix permutations of it. The one token hash
    * behind [[compute]] and [[ShingleMinHash]]. */
  def add(sig: Array[Long], base: AnyRef, off: Long, len: Int): Unit = {
    val lo = Murmur3_x86_32.hashUnsafeBytes(base, off, len, 42)
    val hi = Murmur3_x86_32.hashUnsafeBytes(base, off, len, 1042)
    val h = (hi.toLong << 32) | (lo.toLong & 0xFFFFFFFFL)
    var p = 0
    while (p < sig.length) {
      val ph = mix(h ^ (p.toLong * 0xC2B2AE3D27D4EB4FL))
      if (ph < sig(p)) sig(p) = ph
      p += 1
    }
  }

  def compute(tokens: ArrayData, numPerm: Int): ArrayData = {
    val sig = Array.fill(numPerm)(Long.MaxValue)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val s = tokens.getUTF8String(i)
        add(sig, s.getBaseObject, s.getBaseOffset, s.numBytes)
      }
      i += 1
    }
    new GenericArrayData(sig)
  }
}
