package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Word shingles of a string: the `n`-field windows of
  * `split(s, "\\s+")`, each joined by one space; a text of at most `n`
  * fields is ONE whole-text shingle, and `n <= 1` yields the fields
  * themselves. This is the shingle definition of the MinHash family
  * ([[graft.operators.Dedup.shingles]]), and [[ShingleMinHash]] signs
  * the same shingles without materializing them.
  *
  * Fields follow the Java-regex split exactly, artifacts included: a
  * leading or trailing whitespace run yields a leading or trailing ""
  * field, a whitespace-only string is two "" fields and "" is one. So
  * the result equals the Column formulation
  * `transform(sequence(0, size(ws) − n), i → array_join(slice(ws, i+1, n), " "))`
  * over `ws = split(s, "\\s+")` (PropertySpec cross-validates), which
  * re-evaluates the split once per shingle inside an interpreted
  * lambda; here the split runs once and the codegen is one static call.
  *
  * Whitespace is Java regex `\s` without UNICODE_CHARACTER_CLASS: tab,
  * LF, VT, FF, CR and space, all single bytes that never occur inside
  * a multi-byte UTF-8 sequence, so the byte scan is exact.
  */
case class Shingles(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "shingles"

  override def nullSafeEval(input: Any): Any =
    Shingles.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Shingles.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)
}

/** The MinHash signature of a string's [[Shingles]] —
  * `MinHashSig(Shingles(s, n), numPerm)` in one pass: the string is
  * split once and each shingle is joined into one reused byte buffer
  * and hashed from there ([[MinHashSig.add]]), so no shingle string or
  * array is allocated. Bit-identical to the two-step form. */
case class ShingleMinHash(child: Expression, n: Int, numPerm: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "shingle_minhash"

  override def nullSafeEval(input: Any): Any =
    ShingleMinHash.compute(input.asInstanceOf[UTF8String], n, numPerm)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ShingleMinHash.compute($c, $n, $numPerm)")

  override protected def withNewChildInternal(newChild: Expression): ShingleMinHash =
    copy(child = newChild)
}

/** The splitter shared by [[Shingles]] and [[ShingleMinHash]]. */
private[functions] final class Fields(s: UTF8String, n: Int) {
  private val bytes: Array[Byte] = s.getBytes
  private val nb = bytes.length

  private def isWs(b: Byte): Boolean = b == 0x20 || (b >= 0x09 && b <= 0x0d)

  /** Field spans of `split(s, "\\s+", -1)`: one more field than
    * whitespace runs. */
  private val (starts, ends) = {
    var runs = 0
    var i = 0
    while (i < nb) {
      if (isWs(bytes(i))) {
        runs += 1
        while (i < nb && isWs(bytes(i))) i += 1
      } else i += 1
    }
    val st = new Array[Int](runs + 1)
    val en = new Array[Int](runs + 1)
    var f = 0
    i = 0
    while (i < nb) {
      if (isWs(bytes(i))) {
        en(f) = i
        while (i < nb && isWs(bytes(i))) i += 1
        f += 1
        st(f) = i
      } else i += 1
    }
    en(f) = nb
    (st, en)
  }

  /** Fields per shingle: 1 for `n <= 1`, all of them for a text of at
    * most `n` fields, else `n`. */
  private val k = if (n <= 1) 1 else math.min(n, starts.length)

  val count: Int = starts.length - k + 1

  /** A buffer that holds any shingle: its fields joined by single
    * spaces never outgrow the span they were split from. */
  def newBuffer(): Array[Byte] = new Array[Byte](nb)

  /** Writes shingle `g` into `buf`; returns its byte length. */
  def join(g: Int, buf: Array[Byte]): Int = {
    var pos = 0
    var j = g
    while (j < g + k) {
      if (j > g) { buf(pos) = 0x20; pos += 1 }
      val len = ends(j) - starts(j)
      System.arraycopy(bytes, starts(j), buf, pos, len)
      pos += len
      j += 1
    }
    pos
  }
}

object Shingles {
  def compute(s: UTF8String, n: Int): ArrayData = {
    val f = new Fields(s, n)
    val buf = f.newBuffer()
    val out = new Array[Any](f.count)
    var g = 0
    while (g < f.count) {
      // fromBytes wraps without copying, so each shingle gets its own
      out(g) = UTF8String.fromBytes(java.util.Arrays.copyOf(buf, f.join(g, buf)))
      g += 1
    }
    new GenericArrayData(out)
  }
}

object ShingleMinHash {
  def compute(s: UTF8String, n: Int, numPerm: Int): ArrayData = {
    val sig = Array.fill(numPerm)(Long.MaxValue)
    val f = new Fields(s, n)
    val buf = f.newBuffer()
    var g = 0
    while (g < f.count) {
      MinHashSig.add(sig, buf, Platform.BYTE_ARRAY_OFFSET, f.join(g, buf))
      g += 1
    }
    new GenericArrayData(sig)
  }
}
