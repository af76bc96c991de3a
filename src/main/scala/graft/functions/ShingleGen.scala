package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{StructField, StructType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** `shingle_gen(text, n)` — the fused shingle-hash GENERATOR: one row per
  * word n-gram of `text`, carrying the portable 60-bit hash `h`
  * ([[Md5LongKernel]]) of the space-joined shingle. Emits exactly what
  * the dedup family's explode pipeline
  * (`explode(spansK(words(text), n))` → `md5_long(shingle)`, see
  * [[graft.pipeline.Portable]]) emits — same normalization (trim, then
  * lowercase, then split on `\s+` with Java limit −1 semantics), same
  * join, same hash — so swapping it under [[graft.pipeline.Dedup]]'s
  * shared shingle index leaves every oracle hash unchanged by
  * construction.
  *
  * Why a custom Catalyst `Generator` (the library's remaining extension
  * class beside its scalar Expressions and the q68
  * TypedImperativeAggregate): the explode pipeline materializes per row
  * (a) the full words array, (b) the full array of space-joined shingle
  * STRINGS as an UnsafeArrayData, and only then explodes and hashes —
  * three transient columnar materializations per document on the
  * hottest corpus pass the library has. The generator fuses them: words
  * are split once into reused byte slices, each window is concatenated
  * into ONE reused byte buffer and digested in place, and only the
  * 8-byte hash reaches the row stream. `doGenCode` emits the Stack-style
  * IterableOnce-of-rows value, so `GenerateExec` keeps the whole
  * pipeline inside WholeStageCodegen (`codeGenIterableOnce`) — no
  * CodegenFallback seam on the corpus scan.
  *
  * Scale shape: embarrassingly parallel (per-row, no state), the output
  * is |shingles| ~ |words| rows of (join-key, long) — strictly smaller
  * than the string-array intermediate it replaces, which is what the
  * 100 TB explode pass cares about.
  */
case class ShingleGenerator(child: Expression, n: Int, positional: Boolean = false)
    extends UnaryExpression with Generator {

  require(n > 0, s"$prettyName: ${if (positional) "k" else "n"} must be positive, got $n")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _: org.apache.spark.sql.types.StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName: text must be STRING, got ${other.simpleString}")
    }

  /** `span_gen` (positional = true) additionally emits the 1-based
    * window start `i` — the spelling d8/d9's span-position table needs
    * (`posexplode` is 0-based; the fused row carries the oracle's
    * `generate_series(1, …)` convention directly, absorbing the
    * `(pos + 1).cast(long)` projection too).
    */
  override def elementSchema: StructType =
    if (positional)
      StructType(Seq(StructField("i", LongType, nullable = false),
        StructField("h", LongType, nullable = false)))
    else StructType(Seq(StructField("h", LongType, nullable = false)))

  override def prettyName: String = if (positional) "span_gen" else "shingle_gen"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = child.eval(input)
    if (t == null) Iterator.empty
    else ShingleGenKernel.rows(t.asInstanceOf[UTF8String], n, positional)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    // Stack's pattern: declare ev.value OURSELVES as an IterableOnce —
    // GenerateExec.codeGenIterableOnce calls `.iterator()` on it
    val iterClass = "scala.collection.IterableOnce<InternalRow>"
    ev.copy(code =
      code"""
         |${childGen.code}
         |$iterClass ${ev.value} = ${childGen.isNull}
         |  ? graft.functions.ShingleGenKernel.empty()
         |  : graft.functions.ShingleGenKernel.rows(${childGen.value}, $n, $positional);
       """.stripMargin, isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleGenerator =
    copy(child = newChild)
}

object ShingleGenKernel {
  // identical split semantics to Spark's `split(str, "\\s+")` (Java
  // regex, limit −1: leading empties survive, so an all-whitespace or
  // empty input yields one empty "word" — under any n ≥ 2 that emits
  // nothing, same as the spansK length gate)
  private val Ws = java.util.regex.Pattern.compile("\\s+")

  def empty(): IterableOnce[InternalRow] = Iterator.empty

  /** All word n-gram hashes of `text` as generator rows — `(h)` or,
    * positional, `(i, h)` with 1-based window starts. Called from
    * generated code — keep the signature static.
    */
  def rows(text: UTF8String, n: Int, positional: Boolean): IterableOnce[InternalRow] = {
    // trim-then-lowercase on the UTF8String, exactly lower(trim(c))
    val s = text.trim().toLowerCase().toString
    val words = Ws.split(s, -1)
    val count = words.length - n + 1
    if (count <= 0) return Iterator.empty
    // reused concat buffer: bytes of words(i..i+n-1) joined by ' '
    val wb = new Array[Array[Byte]](words.length)
    var i = 0
    while (i < words.length) {
      wb(i) = words(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      i += 1
    }
    var cap = n - 1 // the separators
    i = 0
    while (i < words.length) { cap = math.max(cap, n - 1 + maxWindowBytes(wb, i, n)); i += 1 }
    val buf = new Array[Byte](cap)
    val out = new Array[InternalRow](count)
    i = 0
    while (i < count) {
      var len = 0
      var j = 0
      while (j < n) {
        if (j > 0) { buf(len) = ' '; len += 1 }
        val w = wb(i + j)
        System.arraycopy(w, 0, buf, len, w.length)
        len += w.length
        j += 1
      }
      val h = Md5LongKernel.hashBytes(buf, len)
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        if (positional) Array[Any](i + 1L, h) else Array[Any](h))
      i += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  private def maxWindowBytes(wb: Array[Array[Byte]], start: Int, n: Int): Int = {
    var sum = 0
    var j = start
    val end = math.min(start + n, wb.length)
    while (j < end) { sum += wb(j).length; j += 1 }
    sum
  }
}
