package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}

/** `bloom_contains(h, mask, k, m)` — Bloom-filter membership of a
  * 64-bit hash against a driver-assembled bitmask (d11's prefilter).
  * Kirsch-Mitzenmacher double hashing: bit positions g_i = (h1 + i·h2)
  * mod m for i < k, h1 = low 32 bits, h2 = bits 30.. forced odd — the
  * same positions the distributed build sets (Dedup.bloomOf).
  *
  * The mask rides as a CONSTRUCTOR field, not a child expression (the
  * typed builder takes the `long[]`; the SQL builder swallows the array
  * literal at analysis time), so
  * plans print `bloom_contains(h)` instead of dumping 16 384 longs into
  * every plan string (the element_at spelling did — ~1 MB of plan text
  * per probe stage), and codegen references ONE shared array object via
  * addReferenceObj instead of re-materializing literal ArrayData. Same
  * mechanism as Spark's own runtime bloom-filter `might_contain`.
  */
case class BloomContains(child: Expression, mask: Array[Long], k: Int, mBits: Int)
    extends UnaryExpression {

  require(k > 0 && mBits >= 64 && (mBits & (mBits - 1)) == 0 && mask.length == mBits / 64,
    s"bloom_contains: need power-of-two m >= 64 with mask.length == m/64, " +
      s"got k=$k m=$mBits len=${mask.length}")

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_contains"

  // Array fields compare by REFERENCE under case-class equality, which
  // would make structurally identical predicates never equal — breaking
  // ExpressionSet dedup / CSE / reuse rules that match on expression
  // equality. Compare the mask by content.
  override def equals(other: Any): Boolean = other match {
    case BloomContains(c, m, kk, mb) =>
      c == child && kk == k && mb == mBits && java.util.Arrays.equals(m, mask)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, java.lang.Integer.valueOf(k),
      java.lang.Integer.valueOf(mBits),
      java.lang.Integer.valueOf(java.util.Arrays.hashCode(mask)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bloom_contains needs a bigint hash, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    BloomMaskKernel.contains(input.asInstanceOf[Long], mask, k, mBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("bloomMask", mask, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BloomMaskKernel.contains($c, $m, $k, $mBits);")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomContains =
    copy(child = newChild)
}

object BloomMaskKernel {
  /** All k double-hashed bits of `h` set in `mask` (mBits a power of
    * two, mask.length == mBits/64). One tight loop, early-exit on the
    * first clear bit — the overwhelmingly common case for clean rows.
    */
  def contains(h: Long, mask: Array[Long], k: Int, mBits: Int): Boolean = {
    val h1 = h & 0xFFFFFFFFL
    val h2 = (h >>> 30) | 1L
    var i = 0
    while (i < k) {
      val p = ((h1 + i * h2) % mBits).toInt
      if (((mask(p >> 6) >>> (p & 63)) & 1L) == 0L) return false
      i += 1
    }
    true
  }
}
