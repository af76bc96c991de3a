package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken:
  * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03)
  * as a native Catalyst expression.
  *
  * `winnow_fp(text, k, w)` → array<bigint>: Rabin-Karp rolling hashes of
  * all k-byte grams, winnowed to the minimum per w-length window
  * (rightmost-min rule, consecutive duplicates collapsed). Guarantee:
  * documents sharing a substring of at least w + k - 1 bytes share at
  * least one fingerprint — the property exact-dedup lacks and MinHash
  * only approximates.
  *
  * Why a custom `Expression` and not a UDF (SURVEY §7.3 preference
  * order): the kernel is a tight byte loop; as a native expression with
  * `doGenCode` emitting a static call it stays inside WholeStageCodegen
  * — no Scala-lambda boxing, no codegen fallback, null handling shared
  * with the generated pipeline. The operator itself stays embarrassingly
  * parallel (no shuffle) at any scale.
  */
case class WinnowFingerprint(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fp"

  override protected def nullSafeEval(input: Any): Any =
    WinnowKernel.winnow(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WinnowKernel.winnow($c, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprint =
    copy(child = newChild)
}

object WinnowKernel {
  private val Base = 257L
  private val Mod = (1L << 61) - 1 // Mersenne prime 2^61-1

  /** All k-gram Rabin-Karp hashes of the UTF-8 bytes, winnowed with
    * window w. Called from generated code — keep the signature static.
    */
  def winnow(s: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length - k + 1
    if (n <= 0) return new GenericArrayData(Array.empty[Long])
    // rolling k-gram hashes
    val hs = new Array[Long](n)
    var h = 0L
    var pow = 1L // Base^(k-1) mod Mod
    var i = 0
    while (i < k) {
      h = mulMod(h, Base) + (bytes(i) & 0xff)
      if (h >= Mod) h -= Mod
      if (i < k - 1) pow = mulMod(pow, Base)
      i += 1
    }
    hs(0) = h
    i = 1
    while (i < n) {
      h = h - mulMod(bytes(i - 1) & 0xff, pow)
      if (h < 0) h += Mod
      h = mulMod(h, Base) + (bytes(i + k - 1) & 0xff)
      if (h >= Mod) h -= Mod
      hs(i) = h
      i += 1
    }
    if (n <= w) {
      // document shorter than a window: single global minimum
      var m = hs(0); i = 1
      while (i < n) { if (hs(i) <= m) m = hs(i); i += 1 }
      return new GenericArrayData(Array(m))
    }
    // winnow: rightmost minimum of each w-window, record on change
    val out = new java.util.ArrayList[java.lang.Long]()
    var last = -1 // index of last recorded fingerprint
    var start = 0
    while (start + w <= n) {
      var minIdx = start
      var j = start + 1
      while (j < start + w) { if (hs(j) <= hs(minIdx)) minIdx = j; j += 1 }
      if (minIdx != last) { out.add(hs(minIdx)); last = minIdx }
      start += 1
    }
    val arr = new Array[Long](out.size())
    i = 0
    while (i < arr.length) { arr(i) = out.get(i); i += 1 }
    new GenericArrayData(arr)
  }

  /** (a * b) mod 2^61-1 without overflow, via 128-bit multiply. */
  private def mulMod(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    // fold 128-bit product into mod 2^61-1: (hi*2^64 + lo) mod (2^61-1)
    val part = ((hi << 3) | (lo >>> 61)) + (lo & Mod)
    val r = if (part >= Mod) part - Mod else part
    if (r >= Mod) r - Mod else r
  }
}
