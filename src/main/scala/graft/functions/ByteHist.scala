package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType}

/** `byte_hist(payload, dim)` — byte-class histogram of a binary column:
  * one `array<long>` of `dim` counts per row, bucket = (byte & 0xff) %
  * dim. The native kernel for the m3 decode-feature stub.
  *
  * The column-algebra spelling (hex the payload, regex-split into
  * per-byte rows, conv() each two-char string back to an int, hash-agg
  * the counts) materializes a 2-char string PLUS an exploded row per
  * payload BYTE and then shuffles |docs|·dim count partials. This
  * expression is one fused loop over the raw bytes — no hex round-trip,
  * no per-byte rows, no aggregate, no Exchange anywhere — and per-row
  * state is `dim` longs regardless of payload size, so GB-scale media
  * blobs stream through without the array-explosion hazard the frame
  * chunking existed to bound. At 100 TB of media the difference is the
  * scan being CPU-bound on a regex engine vs running at memory
  * bandwidth.
  */
case class ByteHist(child: Expression, dim: Int) extends UnaryExpression {

  require(dim > 0, s"byte_hist: dim must be positive, got $dim")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "byte_hist"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"byte_hist needs binary, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(ByteHistKernel.hist(input.asInstanceOf[Array[Byte]], dim))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
            graft.functions.ByteHistKernel.hist($c, $dim));""")

  override protected def withNewChildInternal(newChild: Expression): ByteHist =
    copy(child = newChild)
}

object ByteHistKernel {
  def hist(bytes: Array[Byte], dim: Int): Array[Long] = {
    val h = new Array[Long](dim)
    var i = 0
    while (i < bytes.length) { h((bytes(i) & 0xff) % dim) += 1; i += 1 }
    h
  }
}

/** `byte_simhash(payload, nbits)` — SimHash signature of a binary column
  * over its ROLLING 4-byte grams: the content fingerprint for media
  * near-dup detection (d4's signature machinery, byte edition). Each
  * gram is hashed as the md5 of its lowercase-hex rendering (the
  * engine-portable spelling: DuckDB replays `md5(substr(hex(payload),
  * 2i+1, 8))` over the identical characters), per-bit ±1 counts
  * accumulate across grams, and bit b of the signature is set iff its
  * count is strictly positive — exactly d4's rule, so byte and text
  * signatures share downstream machinery (pigeonhole pairing, hamming
  * verify).
  *
  * One fused loop per row: no hex materialization, no per-gram rows,
  * no shuffle — |bytes| md5 calls map-side, constant (nbits counters)
  * per-row state. The column-algebra spelling would explode one row per
  * payload byte (the m3 lesson).
  */
case class ByteSimhash(child: Expression, nbits: Int) extends UnaryExpression {

  require(nbits > 0 && nbits <= 60,
    s"byte_simhash: nbits must be in (0, 60] (the portable-hash width), got $nbits")

  override def dataType: DataType = LongType
  override def prettyName: String = "byte_simhash"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"byte_simhash needs binary, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    ByteSimhashKernel.simhash(input.asInstanceOf[Array[Byte]], nbits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ByteSimhashKernel.simhash($c, $nbits);")

  override protected def withNewChildInternal(newChild: Expression): ByteSimhash =
    copy(child = newChild)
}

object ByteSimhashKernel {
  private val HexChars = "0123456789abcdef".getBytes

  def simhash(bytes: Array[Byte], nbits: Int): Long = {
    val counts = new Array[Int](nbits)
    val gram = new Array[Byte](8)
    var i = 0
    while (i + 4 <= bytes.length) {
      var j = 0
      while (j < 4) {
        val b = bytes(i + j) & 0xff
        gram(2 * j) = HexChars(b >> 4)
        gram(2 * j + 1) = HexChars(b & 15)
        j += 1
      }
      val h = Md5LongKernel.hashBytes(gram)
      var b = 0
      while (b < nbits) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < nbits) { if (counts(b) > 0) sig |= 1L << b; b += 1 }
    sig
  }
}
