package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructField, StructType}

/** The banded LSH keys of a MinHash signature: one `(band, bucket)`
  * struct per band `b` in `0 until bands`, where `bucket` folds
  * `XXH64.hashLong` over the band's `r` slots from seed 42 — exactly
  * `xxhash64(slice(sig, b·r + 1, r))`, so keys persisted in text dedup
  * state before this kernel existed still probe correctly
  * (PropertySpec cross-validates against the Column formulation).
  *
  * Replaces `transform(sequence(0, bands − 1), b → struct(b, xxhash64(slice(..))))`,
  * an interpreted lambda per band; this codegen is one static call.
  * Like `xxhash64`, a null slot or a null signature is skipped, not
  * propagated: a null signature keys every band to the seed. Never
  * null, never assigns `ev.isNull`.
  */
case class MinHashBandKeys(child: Expression, bands: Int, r: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(MinHashBandKeys.KeyType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "minhash_band_keys"

  override def eval(input: InternalRow): Any =
    MinHashBandKeys.compute(child.eval(input).asInstanceOf[ArrayData], bands, r)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.functions.MinHashBandKeys.compute(${c.isNull} ? null : ${c.value}, $bands, $r);
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashBandKeys =
    copy(child = newChild)
}

object MinHashBandKeys {
  val KeyType: StructType = StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("bucket", LongType, nullable = false)))

  def compute(sig: ArrayData, bands: Int, r: Int): ArrayData = {
    val n = if (sig == null) 0 else sig.numElements()
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      var h = 42L
      var i = b * r
      val end = math.min(i + r, n)
      while (i < end) {
        if (!sig.isNullAt(i)) h = XXH64.hashLong(sig.getLong(i), h)
        i += 1
      }
      out(b) = InternalRow(b, h)
      b += 1
    }
    new GenericArrayData(out)
  }
}
