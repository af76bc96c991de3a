package graft.sort

/** Building blocks of the row-format strategy's normalized key
  * (reference `src/lib.rs:35-53`: `RowConverter::convert_columns`): each
  * row's columns encode, in schema order, into one byte string whose
  * unsigned byte order is the row order. The encoding is the classic
  * order-preserving ("normalized key") format — the idea behind Arrow's
  * row format and Spark's `UnsafeExternalRowSorter` prefix keys:
  *  - a nullable column: null → a single 0x00 marker; non-null → 0x01,
  *    then the value encoding (ascending, nulls first — the shared
  *    Arrow/Spark default). Null-free columns carry no marker.
  *  - i64 → big-endian with the sign bit flipped.
  *  - f64 → [[doubleBits]], big-endian.
  *  - utf8 → the UTF-8 bytes with 0x00 escaped as (0x00,0xFF) and a
  *    (0x00,0x01) terminator ([[putUtf8Bytes]]), preserving prefix-first
  *    order for any input; a column of zero-free strings skips the
  *    escape, and one whose strings also fit 8 bytes writes its
  *    zero-padded 8-byte prefix as a fixed-width field.
  *  - dictionary → the value's 4-byte big-endian rank in the batch's
  *    dictionary.
  * Every field is fixed-width or terminated, so no field's bytes can run
  * into the next field's.
  */
private[sort] object KeyCodec {

  /** Big-endian long view over byte[] — one store instead of eight. */
  val LongBE: java.lang.invoke.VarHandle =
    java.lang.invoke.MethodHandles.byteArrayViewVarHandle(
      classOf[Array[Long]], java.nio.ByteOrder.BIG_ENDIAN)

  /** IEEE-754 monotonic transform (negative → ~bits, else bits |
    * signbit); -0.0 and NaN normalized first to match Spark SQL double
    * ordering (NaN greatest, NaN==NaN, -0.0==0.0).
    */
  def doubleBits(d: Double): Long = {
    val norm = if (d.isNaN) Double.NaN else if (d == 0.0d) 0.0d else d
    val bits = java.lang.Double.doubleToLongBits(norm)
    if (bits < 0) ~bits else bits | Long.MinValue
  }

  /** Escape-copy already-encoded UTF-8 bytes (Arrow layout) into the key
    * buffer: 0x00 → (0x00,0xFF), then the (0x00,0x01) terminator.
    */
  def putUtf8Bytes(w: KeyWriter, bytes: Array[Byte]): Unit = {
    w.ensure(bytes.length * 2L + 2)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if (b == 0) { w.buf(w.len) = 0; w.buf(w.len + 1) = 0xff.toByte; w.len += 2 }
      else { w.buf(w.len) = b; w.len += 1 }
      i += 1
    }
    w.buf(w.len) = 0; w.buf(w.len + 1) = 1; w.len += 2
  }
}

/** Unsynchronized growable byte sink (ByteArrayOutputStream's lock and
  * per-byte call overhead dominate the kernels otherwise).
  */
private[sort] final class KeyWriter(initial: Int) {
  var buf = new Array[Byte](initial)
  var len = 0
  /** Room for `n` more bytes. Sizes are computed in Long, so a buffer
    * near the JVM array limit fails here, by name, instead of wrapping
    * negative and failing at the next store.
    */
  def ensure(n: Long): Unit = {
    val need = len + n
    if (need > buf.length) buf = java.util.Arrays.copyOf(buf, KeyWriter.grownSize(buf.length, need))
  }
  def put(b: Int): Unit = { ensure(1); buf(len) = b.toByte; len += 1 }
  def putLong(x: Long): Unit = {
    ensure(8)
    KeyCodec.LongBE.set(buf, len, x)
    len += 8
  }
}

private[sort] object KeyWriter {
  /** The largest byte array the JVM allocates. */
  val MaxSize: Int = Int.MaxValue - 8

  /** A buffer of `current` bytes grown to hold `need`: doubled, at
    * least `need`, at most [[MaxSize]].
    */
  def grownSize(current: Int, need: Long): Int = {
    if (need > MaxSize)
      throw new IllegalStateException(
        s"row-format key buffer needs $need bytes, past the JVM array limit of $MaxSize")
    math.min(math.max(current * 2L, need), MaxSize.toLong).toInt
  }
}
