package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.GraftSql.{column, expression}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, LongType}

/** The 15 graft functions and the one way program code calls them: a
  * typed `Column` builder each, which constructs the Catalyst node
  * directly — no function-registry lookup, so the DataFrame analyzes in
  * any session. Each node's constructor checks its argument values, so
  * a bad argument fails with the same message here and through SQL.
  *
  * SQL text reaches the same nodes by name through [[all]]: the
  * (identifier, info, builder) triples [[register]] puts in one
  * session's registry (the [[graft.Graft]] facade) and
  * [[GraftExtensions]] injects via `spark.sql.extensions`. One list, so
  * the two SQL paths cannot diverge; its builders only check arity and
  * unpack their literal arguments.
  */
object GraftFunctions {

  /** `winnow_fp(text, k, w)` → array<bigint> ([[WinnowFingerprint]]). */
  def winnowFp(text: Column, k: Int, w: Int): Column =
    column(WinnowFingerprint(expression(text), k, w))

  /** `md5_long(s)` → the portable 60-bit hash ([[Md5Long]]). */
  def md5Long(s: Column): Column = column(Md5Long(expression(s)))

  /** `kmv_kth(h, k)` aggregate → the k-th smallest distinct hash
    * ([[KmvSketchAgg]]).
    */
  def kmvKth(h: Column, k: Int): Column =
    column(KmvSketchAgg(expression(h), k).toAggregateExpression())

  /** `shingle_gen(text, n)` generator → one `h` row per word n-gram
    * ([[ShingleGenerator]]).
    */
  def shingleGen(text: Column, n: Int): Column =
    column(ShingleGenerator(expression(text), n))

  /** `span_gen(text, k)` generator → `(i, h)` rows, 1-based window starts. */
  def spanGen(text: Column, k: Int): Column =
    column(ShingleGenerator(expression(text), k, positional = true))

  /** `run_stats(arr)` → struct(maxrun, dup) ([[RunStats]]). */
  def runStats(arr: Column): Column = column(RunStats(expression(arr)))

  /** `vec_dot(a, b)` → double ([[VecDot]]). */
  def vecDot(a: Column, b: Column): Column = column(VecDot(expression(a), expression(b)))

  /** `byte_hist(payload, dim)` → array<bigint> ([[ByteHist]]). */
  def byteHist(payload: Column, dim: Int): Column =
    column(ByteHist(expression(payload), dim))

  /** `raster_gen(id, w, h)` → binary ([[RasterGen]]). */
  def rasterGen(id: Column, w: Column, h: Column): Column =
    column(RasterGen(expression(id), expression(w), expression(h)))

  /** `resize_nn(payload, w, h, ow, oh)` → binary ([[ResizeNn]]). */
  def resizeNn(payload: Column, w: Column, h: Column, ow: Int, oh: Int): Column =
    column(ResizeNn(expression(payload), expression(w), expression(h), ow, oh))

  /** `bloom_contains(h, mask, k, m)` → boolean ([[BloomContains]]). */
  def bloomContains(h: Column, mask: Array[Long], k: Int, m: Int): Column =
    column(BloomContains(expression(h), mask, k, m))

  /** `byte_simhash(payload, nbits)` → bigint ([[ByteSimhash]]). */
  def byteSimhash(payload: Column, nbits: Int): Column =
    column(ByteSimhash(expression(payload), nbits))

  /** `pcm_gen(id, n_frames, frame)` → binary ([[PcmGen]]). */
  def pcmGen(id: Column, nFrames: Column, frame: Int): Column =
    column(PcmGen(expression(id), expression(nFrames), frame))

  /** `pcm_requant(payload)` → binary ([[PcmRequant]]). */
  def pcmRequant(payload: Column): Column = column(PcmRequant(expression(payload)))

  /** `audio_stats(payload, frame, silence)` → array<bigint> ([[AudioStats]]). */
  def audioStats(payload: Column, frame: Int, silence: Long): Column =
    column(AudioStats(expression(payload), frame, silence))

  /** Evaluate a literal int argument with a contract-naming error when
    * the caller passes a column or NULL (a bare eval() would throw an
    * obscure UnresolvedException / NPE deep in analysis).
    */
  private def literalInt(e: Expression, fn: String, arg: String): Int = {
    require(e.foldable, s"$fn: $arg must be a literal integer, got $e")
    val v = e.eval()
    require(v != null, s"$fn: $arg must not be NULL")
    v.asInstanceOf[Number].intValue()
  }

  /** One SQL entry: `build` gets the arguments and `int(i)`, argument i
    * unpacked as a literal int; a wrong arity fails naming the signature.
    */
  private def sqlFn(name: String, cls: Class[_], args: String*)(
      build: (Seq[Expression], Int => Int) => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), { exprs: Seq[Expression] =>
      require(exprs.length == args.length, s"$name(${args.mkString(", ")})")
      build(exprs, i => literalInt(exprs(i), name, args(i)))
    })

  private[functions] val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    sqlFn("winnow_fp", classOf[WinnowFingerprint], "text", "k", "w") { (e, int) =>
      WinnowFingerprint(e(0), int(1), int(2)) },
    sqlFn("md5_long", classOf[Md5Long], "s") { (e, _) => Md5Long(e(0)) },
    // raw AggregateFunction: the analyzer wraps it in an
    // AggregateExpression exactly as for built-in aggregates
    sqlFn("kmv_kth", classOf[KmvSketchAgg], "h", "k") { (e, int) => KmvSketchAgg(e(0), int(1)) },
    sqlFn("shingle_gen", classOf[ShingleGenerator], "text", "n") { (e, int) =>
      ShingleGenerator(e(0), int(1)) },
    sqlFn("span_gen", classOf[ShingleGenerator], "text", "k") { (e, int) =>
      ShingleGenerator(e(0), int(1), positional = true) },
    sqlFn("run_stats", classOf[RunStats], "arr") { (e, _) => RunStats(e(0)) },
    sqlFn("vec_dot", classOf[VecDot], "a", "b") { (e, _) => VecDot(e(0), e(1)) },
    sqlFn("byte_hist", classOf[ByteHist], "payload", "dim") { (e, int) => ByteHist(e(0), int(1)) },
    sqlFn("raster_gen", classOf[RasterGen], "id", "w", "h") { (e, _) => RasterGen(e(0), e(1), e(2)) },
    sqlFn("resize_nn", classOf[ResizeNn], "payload", "w", "h", "ow", "oh") { (e, int) =>
      ResizeNn(e(0), e(1), e(2), int(3), int(4)) },
    sqlFn("bloom_contains", classOf[BloomContains], "h", "mask", "k", "m") { (e, int) =>
      // the mask literal is swallowed HERE, at analysis time: the
      // built expression holds a plain long[] constructor field, so
      // the 16k-entry array never appears as a plan-tree literal
      // (which would print in full into every plan string)
      require(e(1).foldable, s"bloom_contains: mask must be a literal array, got ${e(1)}")
      // type-check BEFORE eval: a wrongly-typed array (array<int>)
      // would otherwise die in toLongArray with a bare ClassCastException
      require(e(1).dataType match {
        case ArrayType(LongType, _) => true
        case _ => false
      }, s"bloom_contains: mask must be array<bigint>, got ${e(1).dataType}")
      val maskData = e(1).eval()
      require(maskData != null, "bloom_contains: mask must not be NULL")
      val arr = maskData.asInstanceOf[ArrayData]
      // toLongArray on UnsafeArrayData copies raw bytes IGNORING the
      // null bitmap — a null element would silently become a zeroed
      // word and produce false negatives; reject it loudly instead
      require((0 until arr.numElements()).forall(!arr.isNullAt(_)),
        "bloom_contains: mask must not contain NULL elements")
      BloomContains(e(0), arr.toLongArray(), int(2), int(3))
    },
    sqlFn("byte_simhash", classOf[ByteSimhash], "payload", "nbits") { (e, int) =>
      ByteSimhash(e(0), int(1)) },
    sqlFn("pcm_gen", classOf[PcmGen], "id", "n_frames", "frame") { (e, int) =>
      PcmGen(e(0), e(1), int(2)) },
    sqlFn("pcm_requant", classOf[PcmRequant], "payload") { (e, _) => PcmRequant(e(0)) },
    sqlFn("audio_stats", classOf[AudioStats], "payload", "frame", "silence") { (e, int) =>
      val silence = e(2)
      require(silence.foldable, s"audio_stats: silence must be a literal, got $silence")
      val sv = silence.eval()
      require(sv != null, "audio_stats: silence must not be NULL")
      val svLong = sv match {
        case n: Number => n.longValue()
        case other => throw new IllegalArgumentException(
          s"audio_stats: silence must be an integer literal, " +
            s"got ${other.getClass.getSimpleName} ($other)")
      }
      AudioStats(e(0), int(1), svLong)
    },
  )

  /** Register [[all]] in `spark`'s function registry, so SQL text can
    * name the functions (idempotent).
    */
  def register(spark: SparkSession): Unit =
    all.foreach { case (ident, info, builder) =>
      if (!spark.sessionState.functionRegistry.functionExists(ident))
        spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
}
