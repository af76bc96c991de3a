package graft.sort

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Columnar batch + the reference's two sort kernels in their native
  * habitat: the reference operates on Arrow `RecordBatch`es — typed
  * contiguous column arrays — not row objects. `lexsort_to_indices`
  * (strategy A) chains per-COLUMN comparators over an index vector and
  * `take` gathers each column by the sorted indices (`src/lib.rs:29-34,
  * 56-73`). Encoding through boxed `Row`s would spend the whole budget
  * pointer-chasing the heap; these kernels read primitive arrays.
  *
  * Column representation: `Array[Double] | Array[Long] | Utf8Col |
  * DictCol` (the types the reference generates, SURVEY §1.2), and a
  * [[NullableCol]] around one of them when the column holds a null.
  * Null contract (Arrow's kernel default): both strategies sort every
  * column ascending with nulls first, all nulls equal. The reference's
  * generated batches are null-free (`src/data.rs:220-231`), and a
  * null-free column stays a raw array, so the benchmark's batches never
  * meet the null paths.
  */
/** UTF-8 string column in Arrow's physical layout: raw bytes, compared
  * with `Arrays.compareUnsigned` (a JIT-vectorized memcmp) — the same
  * comparison the reference's Arrow kernels perform.
  *
  * The layout also carries an 8-byte big-endian prefix per string
  * (the StringView / "German string" trick, and what Spark's own
  * UnsafeExternalSorter radix prefix does): an unsigned compare of two
  * prefix longs orders identically to a memcmp of the first 8 bytes
  * (shorter strings zero-pad, and a zero pad vs a real 0x00 byte can
  * only TIE, never mis-order), so the full byte compare runs only on
  * prefix ties. On the JVM this removes the two array-dereferences +
  * bounds setup per comparison that make all-string sorts 3× slower
  * than Rust's contiguous-offset memcmp.
  */
final class Utf8Col private (
    val values: Array[Array[Byte]],
    val prefixes: Array[Long],
    /** True when every string fits in its 8-byte prefix: comparisons are
      * then long compares, with a prefix tie meaning equal when the
      * column is also zero-free, else broken by length (trailing 0x00
      * bytes are the only way two distinct <=8-byte strings tie).
      */
    val allShort: Boolean,
    /** True when no string contains an 0x00 byte: the row-format encoder
      * can then bulk-copy the bytes (no per-byte escape loop).
      */
    val noZeroBytes: Boolean,
) extends Serializable

object Utf8Col {
  /** Gather-path constructor: the per-column stats are permutation-
    * invariant, so they carry over verbatim (rebuilding them would
    * pointer-chase every byte array again).
    */
  def withPrefixes(
      values: Array[Array[Byte]], prefixes: Array[Long],
      allShort: Boolean, noZeroBytes: Boolean): Utf8Col =
    new Utf8Col(values, prefixes, allShort, noZeroBytes)

  /** Build a column in ONE pass over the byte arrays: prefixes,
    * allShort, and noZeroBytes all fall out of the same walk (three
    * separate passes would pointer-chase every array thrice — wasted
    * setup in the very kernels this module exists to time).
    */
  def apply(values: Array[Array[Byte]]): Utf8Col = {
    val p = new Array[Long](values.length)
    var allShort = true
    var noZero = true
    var i = 0
    while (i < values.length) {
      val b = values(i)
      if (b.length > 8) allShort = false
      val m = if (b.length < 8) b.length else 8
      var v = 0L
      var j = 0
      while (j < m) {
        val by = b(j)
        if (by == 0) noZero = false
        v |= (by & 0xffL) << ((7 - j) * 8)
        j += 1
      }
      while (noZero && j < b.length) { // tail bytes of >8-byte strings
        if (b(j) == 0) noZero = false
        j += 1
      }
      p(i) = v
      i += 1
    }
    new Utf8Col(values, p, allShort, noZero)
  }
}

/** Dictionary-encoded string column (the reference's
  * `Dictionary<Int32, Utf8>` layout, `src/data.rs:142-144`): int codes
  * into a small dictionary. Comparisons go through precomputed value
  * RANKS, so sorting is integer-speed — the property the reference's
  * dictionary cases exist to measure.
  */
final class DictCol(val codes: Array[Int], val dict: Array[String]) extends Serializable {
  /** rank(code) = position of dict(code) in UTF-8 sort order. */
  lazy val ranks: Array[Int] = {
    val order = dict.indices.sortBy(identity)(Ordering.comparatorToOrdering(
      (a: Int, b: Int) => RowOrder.compareUtf8(dict(a), dict(b))))
    val r = new Array[Int](dict.length)
    order.zipWithIndex.foreach { case (dictIdx, rank) => r(dictIdx) = rank }
    r
  }
}

/** A column that holds a null: a null-free column `values` and each
  * row's null flag — Arrow's validity bitmap, one byte a row. No order
  * reads the value under a null ([[ColumnBatch.fromRows]] puts 0 or the
  * empty string there).
  */
final class NullableCol(val values: AnyRef, val isNull: Array[Boolean]) extends Serializable

final case class ColumnBatch(schema: StructType, cols: Array[AnyRef]) {
  def numRows: Int = if (cols.isEmpty) 0 else ColumnBatch.len(cols(0))

  def toRows: IndexedSeq[Row] =
    (0 until numRows).map(i => Row.fromSeq(cols.toIndexedSeq.map(ColumnBatch.value(_, i))))

  /** Dictionary-encode the given string columns (reference generator
    * behavior for the dictionary cases).
    */
  def dictEncoded(colIdxs: Set[Int]): ColumnBatch = {
    def encode(col: AnyRef): AnyRef = col match {
      case a: Utf8Col =>
        val dict = new java.util.LinkedHashMap[String, Integer]()
        val codes = a.values.map { b =>
          val s = new String(b, java.nio.charset.StandardCharsets.UTF_8)
          var c = dict.get(s)
          if (c == null) { c = dict.size(); dict.put(s, c) }
          c.intValue()
        }
        new DictCol(codes, dict.keySet().toArray(new Array[String](0)))
      case c: NullableCol => new NullableCol(encode(c.values), c.isNull)
      case c => c
    }
    ColumnBatch(schema, cols.zipWithIndex.map { case (c, i) => if (colIdxs.contains(i)) encode(c) else c })
  }
}

object ColumnBatch {
  private def len(col: AnyRef): Int = col match {
    case a: Array[Double] => a.length
    case a: Array[Long] => a.length
    case a: Utf8Col => a.values.length
    case d: DictCol => d.codes.length
    case c: NullableCol => c.isNull.length
    case other => throw new IllegalArgumentException(s"bad column $other")
  }

  private def value(col: AnyRef, i: Int): Any = col match {
    case a: Array[Double] => a(i)
    case a: Array[Long] => a(i)
    case a: Utf8Col => new String(a.values(i), java.nio.charset.StandardCharsets.UTF_8)
    case d: DictCol => d.dict(d.codes(i))
    case c: NullableCol => if (c.isNull(i)) null else value(c.values, i)
    case other => throw new IllegalStateException(s"bad column $other")
  }

  /** Columns of `rows` by `schema`; a column that holds a null becomes a
    * [[NullableCol]], every other one a raw column.
    */
  def fromRows(rows: IndexedSeq[Row], schema: StructType): ColumnBatch = {
    val n = rows.length
    val cols: Array[AnyRef] = schema.fields.zipWithIndex.map { case (f, j) =>
      // one pass per column, as for a null-free one: a null row sets its
      // flag and leaves the value slot at its default
      val isNull = new Array[Boolean](n)
      var nulls = 0
      val values: AnyRef = f.dataType match {
        case DoubleType =>
          val a = new Array[Double](n); var i = 0
          while (i < n) {
            val r = rows(i)
            if (r.isNullAt(j)) { isNull(i) = true; nulls += 1 } else a(i) = r.getDouble(j)
            i += 1
          }
          a
        case LongType =>
          val a = new Array[Long](n); var i = 0
          while (i < n) {
            val r = rows(i)
            if (r.isNullAt(j)) { isNull(i) = true; nulls += 1 } else a(i) = r.getLong(j)
            i += 1
          }
          a
        case StringType =>
          // Arrow-faithful layout: strings live as UTF-8 bytes, so the
          // kernels memcmp instead of walking UTF-16 chars
          val a = new Array[Array[Byte]](n); var i = 0
          while (i < n) {
            val r = rows(i)
            if (r.isNullAt(j)) { isNull(i) = true; nulls += 1; a(i) = Array.emptyByteArray }
            else a(i) = r.getString(j).getBytes(java.nio.charset.StandardCharsets.UTF_8)
            i += 1
          }
          Utf8Col(a)
        case other => throw new IllegalArgumentException(s"unsupported columnar type $other")
      }
      if (nulls > 0) new NullableCol(values, isNull) else values
    }
    ColumnBatch(schema, cols)
  }
}

object ColumnSort {

  /** Per-column index comparator — the `DynComparator` unit Arrow chains
    * in `lexsort_to_indices` (`src/lib.rs:33-34`).
    */
  private abstract class ColCmp {
    def cmp(i: Int, j: Int): Int
  }

  private def colCmp(col: AnyRef): ColCmp = col match {
    case a: Array[Double] => new ColCmp {
      def cmp(i: Int, j: Int) = RowOrder.compareDouble(a(i), a(j))
    }
    case a: Array[Long] => new ColCmp {
      def cmp(i: Int, j: Int) = java.lang.Long.compare(a(i), a(j))
    }
    case a: Utf8Col if a.allShort && a.noZeroBytes => new ColCmp {
      // zero-free short strings: a prefix tie means IDENTICAL strings
      // (a zero pad can't collide with a real byte), so the compare is a
      // pure long compare with no per-element dereference at all
      private val p = a.prefixes
      def cmp(i: Int, j: Int) = java.lang.Long.compareUnsigned(p(i), p(j))
    }
    case a: Utf8Col => new ColCmp {
      private val v = a.values
      private val p = a.prefixes
      def cmp(i: Int, j: Int) = {
        val c = java.lang.Long.compareUnsigned(p(i), p(j))
        if (c != 0) c
        else {
          // prefix tie between two <=8-byte strings: they differ only in
          // trailing zero bytes, so length order IS memcmp order — skip
          // the memcmp (its ~30ns setup dominates short strings)
          val vi = v(i); val vj = v(j)
          if (vi.length <= 8 && vj.length <= 8) Integer.compare(vi.length, vj.length)
          else java.util.Arrays.compareUnsigned(vi, vj)
        }
      }
    }
    case d: DictCol => new ColCmp {
      // integer rank comparison — the dictionary-encoding payoff
      private val r = d.ranks; private val c = d.codes
      def cmp(i: Int, j: Int) = java.lang.Integer.compare(r(c(i)), r(c(j)))
    }
    case c: NullableCol => new ColCmp {
      private val nul = c.isNull; private val values = colCmp(c.values)
      def cmp(i: Int, j: Int) = {
        val ni = nul(i); val nj = nul(j)
        if (ni || nj) java.lang.Boolean.compare(nj, ni) // nulls first
        else values.cmp(i, j)
      }
    }
    case other => throw new IllegalArgumentException(s"bad column $other")
  }

  /** A column's exact 8-byte key, where one exists: unsigned-long order
    * is the column's order and equal keys mean equal values. f64 →
    * order-preserving bit flip, i64 → sign flip, dict → rank, short
    * zero-free utf8 → the zero-padded prefix. Returns null when no exact
    * key exists (general utf8: a prefix tie does NOT imply equality; a
    * nullable column: a null needs a 65th value below every 64-bit key).
    */
  private def exactKey(col: AnyRef): Array[Long] = col match {
    case a: Array[Double] =>
      val k = new Array[Long](a.length); var i = 0
      while (i < a.length) { k(i) = KeyCodec.doubleBits(a(i)); i += 1 }; k
    case a: Array[Long] =>
      val k = new Array[Long](a.length); var i = 0
      while (i < a.length) { k(i) = a(i) ^ Long.MinValue; i += 1 }; k
    case d: DictCol =>
      val r = d.ranks; val c = d.codes
      val k = new Array[Long](c.length); var i = 0
      while (i < c.length) { k(i) = r(c(i)).toLong; i += 1 }; k
    // noZeroBytes required: with 0x00 bytes a zero PAD ties with a real
    // zero byte ("a" vs "a\u0000"), so equal keys would not mean equal
    case a: Utf8Col if a.allShort && a.noZeroBytes => a.prefixes
    case _ => null
  }

  /** Lexsort's tie comparator: the per-column chain Arrow's
    * `lexsort_to_indices` builds (`src/lib.rs:33-34`), the first column
    * that differs deciding. Each sort builds it over the columns its
    * packed key did not settle, `cols.drop(keys.settled)`
    * ([[packKeys]]); over all of a batch's columns it is the tests'
    * reference order.
    */
  private[sort] def colChain(cols: Array[AnyRef]): IndexCmp = {
    val cmps = cols.map(colCmp)
    new IndexCmp {
      def lt(i: Int, j: Int): Boolean = {
        var k = 0
        while (k < cmps.length) {
          val c = cmps(k).cmp(i, j)
          if (c != 0) return c < 0
          k += 1
        }
        false
      }
    }
  }

  /** Strategy A: chained per-column comparators over an index vector.
    * The packed key ([[keyedIndices]]) runs the presorted scan and the
    * radix sort; [[colChain]] orders only rows whose packed keys tie,
    * and is built only when two such rows meet.
    */
  def lexsortIndices(batch: ColumnBatch): Array[Int] = keyedIndices(batch, colChain)

  /** Strategy B's normalized-key encoder ([[KeyCodec]]), one per column. */
  private abstract class ColEnc {
    def enc(i: Int, w: KeyWriter): Unit
  }

  private def colEnc(col: AnyRef): ColEnc = col match {
    case a: Array[Double] => new ColEnc {
      def enc(i: Int, w: KeyWriter) = w.putLong(KeyCodec.doubleBits(a(i)))
    }
    case a: Array[Long] => new ColEnc {
      def enc(i: Int, w: KeyWriter) = w.putLong(a(i) ^ Long.MinValue)
    }
    case a: Utf8Col if a.allShort && a.noZeroBytes => new ColEnc {
      // every string fits in 8 bytes and is zero-free: the big-endian
      // zero-padded prefix long IS an order-preserving fixed-width key
      // ("a" < "ab" because 0x00 pad < 'b'; no terminator needed for a
      // fixed-width field) — one 8-byte store replaces the copy loop
      private val p = a.prefixes
      def enc(i: Int, w: KeyWriter) = w.putLong(p(i))
    }
    case a: Utf8Col if a.noZeroBytes => new ColEnc {
      // zero-free strings (the common case, known per-column): the
      // escape loop degenerates to a bulk copy + 2-byte terminator
      private val v = a.values
      def enc(i: Int, w: KeyWriter) = {
        val b = v(i)
        w.ensure(b.length + 2)
        System.arraycopy(b, 0, w.buf, w.len, b.length)
        w.len += b.length
        w.buf(w.len) = 0; w.buf(w.len + 1) = 1; w.len += 2
      }
    }
    case a: Utf8Col => new ColEnc {
      private val v = a.values
      def enc(i: Int, w: KeyWriter) = KeyCodec.putUtf8Bytes(w, v(i))
    }
    case d: DictCol => new ColEnc {
      // 4-byte big-endian rank: order-preserving within the batch and
      // 5-10x smaller than re-encoding the string per row (what Arrow's
      // RowConverter dictionary handling achieves)
      private val r = d.ranks; private val c = d.codes
      def enc(i: Int, w: KeyWriter) = {
        val v = r(c(i))
        w.ensure(4)
        w.buf(w.len) = (v >>> 24).toByte; w.buf(w.len + 1) = (v >>> 16).toByte
        w.buf(w.len + 2) = (v >>> 8).toByte; w.buf(w.len + 3) = v.toByte
        w.len += 4
      }
    }
    case c: NullableCol => new ColEnc {
      private val nul = c.isNull; private val values = colEnc(c.values)
      def enc(i: Int, w: KeyWriter) =
        if (nul(i)) w.put(0x00) else { w.put(0x01); values.enc(i, w) }
    }
    case other => throw new IllegalArgumentException(s"bad column $other")
  }

  /** Row i's normalized key: every column's field, in schema order. */
  private def encodeRow(encs: Array[ColEnc], i: Int, w: KeyWriter): Unit = {
    var j = 0
    while (j < encs.length) { encs(j).enc(i, w); j += 1 }
  }

  /** Row-format tie order over the normalized-key bytes of `cols`, the
    * columns the packed key did not settle: rows it is asked about agree
    * on every settled column, whose fields would encode to identical
    * leading bytes, so the bytes of the rest order them as the full key
    * would. A row is encoded into one growing slab the first time a
    * compare reads it, so only rows whose packed keys tie are ever
    * encoded. Row i's key is `[from(i), until(i))`; `until(i) == 0` marks
    * a row not yet encoded (every key is at least one byte long).
    */
  private final class SlabRowCmp(cols: Array[AnyRef], n: Int) extends IndexCmp {
    private val encs = cols.map(colEnc)
    private val w = new KeyWriter(1024)
    private val from = new Array[Int](n)
    private val until = new Array[Int](n)
    private def encode(i: Int): Unit =
      if (until(i) == 0) { from(i) = w.len; encodeRow(encs, i, w); until(i) = w.len }
    def lt(i: Int, j: Int): Boolean = {
      encode(i); encode(j)
      java.util.Arrays.compareUnsigned(w.buf, from(i), until(i), w.buf, from(j), until(j)) < 0
    }
  }

  /** Strategy B: the row-format normalized key (`src/lib.rs:35-53`
    * rebuilt columnar). The packed key ([[keyedIndices]]) runs the
    * presorted scan and the radix sort; a row's key bytes
    * ([[SlabRowCmp]]) are built only when its packed key ties with
    * another's, so the order is still the normalized-key bytes' order.
    */
  def rowFormatIndices(batch: ColumnBatch): Array[Int] =
    keyedIndices(batch, new SlabRowCmp(_, batch.numRows))

  /** Every row's normalized key ([[KeyCodec]]) in one slab, row i at
    * `[offsets(i), offsets(i + 1))` — Arrow's `Rows` buffer layout, which
    * [[SlabRowCmp]] builds row by row over the unsettled columns.
    */
  private[sort] def encodeRows(batch: ColumnBatch): (Array[Byte], Array[Int]) = {
    val n = batch.numRows
    val encs = batch.cols.map(colEnc) // hoisted: no per-row type dispatch
    val w = new KeyWriter(slabCapacity(n, batch.cols.length))
    val offsets = new Array[Int](n + 1)
    var i = 0
    while (i < n) {
      encodeRow(encs, i, w)
      offsets(i + 1) = w.len
      i += 1
    }
    (w.buf, offsets)
  }

  /** Initial slab capacity for `rows` rows of `cols` fields, at 12 bytes
    * a field: computed in Long (an Int product goes negative past ~44.7M
    * rows at 4 columns) and clamped to the largest array the JVM
    * allocates. [[KeyWriter]] grows the slab when keys run longer.
    */
  private[sort] def slabCapacity(rows: Int, cols: Int): Int =
    math.min(math.max(64L, rows.toLong * cols * 12), KeyWriter.MaxSize.toLong).toInt

  /** `take`: gather every column by the index vector (`src/lib.rs:56-73`;
    * bounds checks are JVM-inherent — the reference disables Arrow's,
    * `src/lib.rs:67-69`).
    *
    * Identity fast path: when the index vector is the identity
    * permutation (what the adaptive presorted sort path emits), the
    * gather degenerates to a contiguous copy — `clone()` compiles to a
    * memcpy intrinsic, where the general loop pays a data-dependent load
    * per element. Rust gets the same effect for free: a gather over
    * sequential indices auto-vectorizes to block copies. Output is still
    * a fresh batch (same take semantics, no aliased mutation hazards
    * beyond the shared immutable byte arrays the general path also
    * shares).
    */
  def take(batch: ColumnBatch, idx: Array[Int]): ColumnBatch = {
    var ident = idx.length == batch.numRows
    var ii = 0
    while (ident && ii < idx.length) { ident = idx(ii) == ii; ii += 1 }
    ColumnBatch(batch.schema, if (ident) batch.cols.map(copyCol) else batch.cols.map(gatherCol(_, idx)))
  }

  private def copyCol(col: AnyRef): AnyRef = col match {
    case a: Array[Double] => a.clone()
    case a: Array[Long] => a.clone()
    case a: Utf8Col =>
      Utf8Col.withPrefixes(a.values.clone(), a.prefixes.clone(), a.allShort, a.noZeroBytes)
    case d: DictCol => new DictCol(d.codes.clone(), d.dict)
    case c: NullableCol => new NullableCol(copyCol(c.values), c.isNull.clone())
    case other => throw new IllegalArgumentException(s"bad column $other")
  }

  private def gatherCol(col: AnyRef, idx: Array[Int]): AnyRef = col match {
    case a: Array[Double] =>
      val r = new Array[Double](idx.length); var i = 0
      while (i < idx.length) { r(i) = a(idx(i)); i += 1 }; r
    case a: Array[Long] =>
      val r = new Array[Long](idx.length); var i = 0
      while (i < idx.length) { r(i) = a(idx(i)); i += 1 }; r
    case a: Utf8Col =>
      val r = new Array[Array[Byte]](idx.length)
      val rp = new Array[Long](idx.length)
      var i = 0
      while (i < idx.length) {
        val s = idx(i); r(i) = a.values(s); rp(i) = a.prefixes(s); i += 1
      }
      Utf8Col.withPrefixes(r, rp, a.allShort, a.noZeroBytes)
    case d: DictCol =>
      val r = new Array[Int](idx.length); var i = 0
      while (i < idx.length) { r(i) = d.codes(idx(i)); i += 1 }
      new DictCol(r, d.dict)
    case c: NullableCol =>
      val r = new Array[Boolean](idx.length); var i = 0
      while (i < idx.length) { r(i) = c.isNull(idx(i)); i += 1 }
      new NullableCol(gatherCol(c.values, idx), r)
    case other => throw new IllegalArgumentException(s"bad column $other")
  }

  def sortBatch(batch: ColumnBatch, rowFormat: Boolean): ColumnBatch =
    take(batch, if (rowFormat) rowFormatIndices(batch) else lexsortIndices(batch))

  private[sort] abstract class IndexCmp {
    def lt(i: Int, j: Int): Boolean
  }

  /** One long per row, `(key << idxBits) | row`, with `keyBits` key bits.
    * Words are non-negative, so `<` on two words that [[decides]] is
    * their rows' order. The key packs the first `settled` of the batch's
    * `columns` exactly and in full, so rows with equal keys are equal on
    * those columns: every tie comparator is built over the rest, and is
    * only ever asked about rows whose packed keys are equal.
    */
  private[sort] final class PackedKeys(
      val words: Array[Long], val keyBits: Int, val idxBits: Int, val settled: Int, columns: Int) {
    /** Equal keys mean equal rows: no tie ever needs the comparator. */
    val complete: Boolean = settled == columns

    /** Low bits a word's order ignores: none for a complete key (row
      * indices break its ties), else the row index.
      */
    private val tieShift = if (complete) 0 else idxBits

    /** Whether words `a` and `b` alone order their rows (as `a < b`):
      * their keys differ, or the key is complete and the row indices
      * break the tie. Otherwise only the tie comparator can.
      */
    def decides(a: Long, b: Long): Boolean = ((a ^ b) >>> tieShift) != 0
  }

  private[sort] object PackedKeys {
    /** No word sorts after it: the head word of an exhausted merge run. */
    val Last: Long = Long.MaxValue
  }

  /** Bits a row index of a batch of `n` rows needs: ceil(log2 n). */
  private[sort] def idxBitsFor(n: Int): Int =
    if (n < 2) 0 else 32 - Integer.numberOfLeadingZeros(n - 1)

  /** Pack the leading columns' normalized keys ([[exactKey]]; a general
    * utf8 column contributes its prefixes as an inexact key) into
    * `63 - idxBits` key bits above the row index. Each column is
    * range-compressed: its unsigned min is subtracted, the low bits
    * every value shares (zero in OR of `k(i) ^ k(0)`) are shifted out,
    * and it takes the bits the rest of its span needs (0 for a constant
    * column) — so integral doubles below 2^17 take 27 bits, not 63. A
    * column whose exact key fits in full is settled, and packing goes on
    * only past a settled column: it stops after an inexact column or one
    * that fits only partly (it keeps its top bits), and before a
    * nullable one. Every step is monotone in the row order, so a key
    * never orders two rows against the comparator: it is ≤ where they
    * are in order, and equal only where the packed columns could not
    * tell them apart. Every sort of this object, and the k-way merge,
    * starts here.
    */
  private[sort] def packKeys(cols: Array[AnyRef], n: Int, idxBits: Int): PackedKeys = {
    val words = new Array[Long](n)
    val budget = 63 - idxBits
    var used = 0
    var settled = 0
    var j = 0
    while (j == settled && j < cols.length && !cols(j).isInstanceOf[NullableCol]) {
      val exact = exactKey(cols(j))
      val k = if (exact != null) exact else cols(j) match {
        case u: Utf8Col => u.prefixes
        case other => throw new IllegalArgumentException(s"bad column $other")
      }
      // unsigned min and max as signed ones over sign-flipped values
      var lo = Long.MaxValue; var hi = Long.MinValue; var differ = 0L
      val first = if (n == 0) 0L else k(0)
      var i = 0
      while (i < n) {
        val v = k(i)
        lo = math.min(lo, v ^ Long.MinValue)
        hi = math.max(hi, v ^ Long.MinValue)
        differ |= v ^ first
        i += 1
      }
      val min = lo ^ Long.MinValue; val max = hi ^ Long.MinValue
      // min and max share those low bits, so max - min is zero in them
      val shared = java.lang.Long.numberOfTrailingZeros(differ)
      val span = if (differ == 0) 0 else 64 - java.lang.Long.numberOfLeadingZeros(max - min) - shared
      val b = math.min(span, budget - used)
      val drop = shared + span - b
      if (b > 0) {
        i = 0
        while (i < n) { words(i) = (words(i) << b) | ((k(i) - min) >>> drop); i += 1 }
        used += b
      }
      if (exact != null && b == span) settled += 1
      j += 1
    }
    var i = 0
    while (i < n) { words(i) = (words(i) << idxBits) | i; i += 1 }
    new PackedKeys(words, used, idxBits, settled, cols.length)
  }

  /** Stable LSD radix sort of `words` by bits `[lo, lo + bits)`, in
    * equal digits of at most 11 bits; one counting pass builds every
    * digit's histogram, and a digit all words share is skipped. Returns
    * the sorted array: `words` itself or its scratch twin.
    */
  private def radixSort(words: Array[Long], lo: Int, bits: Int): Array[Long] = {
    val n = words.length
    if (bits == 0 || n < 2) return words
    val passes = (bits + 10) / 11
    val width = (bits + passes - 1) / passes
    val radix = 1 << width
    val mask = radix - 1
    val counts = new Array[Int](passes * radix)
    var i = 0
    while (i < n) {
      val w = words(i)
      var p = 0
      while (p < passes) {
        counts(p * radix + ((w >>> (lo + p * width)).toInt & mask)) += 1
        p += 1
      }
      i += 1
    }
    var src = words
    var dst: Array[Long] = null
    var p = 0
    while (p < passes) {
      val base = p * radix
      val shift = lo + p * width
      if (counts(base + ((src(0) >>> shift).toInt & mask)) != n) {
        if (dst == null) dst = new Array[Long](n)
        var sum = 0
        var d = 0
        while (d < radix) { val c = counts(base + d); counts(base + d) = sum; sum += c; d += 1 }
        i = 0
        while (i < n) {
          val w = src(i)
          val slot = base + ((w >>> shift).toInt & mask)
          dst(counts(slot)) = w
          counts(slot) += 1
          i += 1
        }
        val t = src; src = dst; dst = t
      }
      p += 1
    }
    src
  }

  /** Radix-sort the packed keys, then stable-sort each run of equal keys
    * by `ties` (skipped for a complete key). LSD radix is stable and the
    * words start in row order, so every run starts in ascending index
    * order, and the result is exactly the stable sort by `ties` — the
    * packed key only ever agrees with it or ties.
    */
  private[sort] def sortPacked(keys: PackedKeys, ties: => IndexCmp): Array[Int] = {
    val sorted = radixSort(keys.words, keys.idxBits, keys.keyBits)
    val n = sorted.length
    val idxMask = (1L << keys.idxBits) - 1
    val idx = new Array[Int](n)
    var i = 0
    while (i < n) { idx(i) = (sorted(i) & idxMask).toInt; i += 1 }
    if (!keys.complete) {
      lazy val cmp = ties
      var lo = 0
      while (lo < n) {
        var hi = lo + 1
        while (hi < n && !keys.decides(sorted(lo), sorted(hi))) hi += 1
        if (hi - lo > InsertionRun) mergeRun(idx, lo, hi, cmp)
        else if (hi - lo > 1) insertionRun(idx, lo, hi, cmp)
        lo = hi
      }
    }
    idx
  }

  /** Tie runs up to this length are insertion-sorted. */
  private val InsertionRun = 16

  /** Sort `0 until n` on the packed key of the batch's leading columns
    * ([[packKeys]]), with `ties` over the columns the key did not settle
    * ordering rows whose keys are equal; it is built the first time two
    * such rows meet. One scan over the packed words comes first: sorted
    * input (the reference's generated batches are, `src/data.rs` sorts
    * every case) returns the identity in O(n). Anything else goes to
    * [[sortPacked]] on the same words.
    */
  private def keyedIndices(batch: ColumnBatch, ties: Array[AnyRef] => IndexCmp): Array[Int] = {
    val n = batch.numRows
    val keys = packKeys(batch.cols, n, idxBitsFor(n))
    lazy val cmp = ties(batch.cols.drop(keys.settled))
    val words = keys.words
    var s = 1
    var sorted = true
    while (sorted && s < n) {
      val a = words(s - 1); val b = words(s)
      sorted = if (keys.decides(a, b)) a < b else !cmp.lt(s, s - 1)
      s += 1
    }
    if (sorted) Array.range(0, n) else sortPacked(keys, cmp)
  }

  /** Stable bottom-up merge sort of `0 until n` by `c`, after a
    * presorted scan (sorted input → O(n) compares): the reference order
    * the key-carrying sort must reproduce, index for index.
    */
  private[sort] def sortedIndices(n: Int, c: IndexCmp): Array[Int] = {
    val idx = Array.tabulate(n)(identity)
    var s = 1
    while (s < n && !c.lt(s, s - 1)) s += 1
    if (s < n) mergeRun(idx, 0, n, c)
    idx
  }

  /** Stable insertion sort of `idx[lo, hi)` by `c`. */
  private def insertionRun(idx: Array[Int], lo: Int, hi: Int, c: IndexCmp): Unit = {
    var i = lo + 1
    while (i < hi) {
      val x = idx(i)
      var j = i
      while (j > lo && c.lt(x, idx(j - 1))) { idx(j) = idx(j - 1); j -= 1 }
      idx(j) = x
      i += 1
    }
  }

  /** Stable bottom-up merge sort of `idx[from, until)` by `c`. */
  private def mergeRun(idx: Array[Int], from: Int, until: Int, c: IndexCmp): Unit = {
    val n = until - from
    if (n < 2) return
    var src = java.util.Arrays.copyOfRange(idx, from, until)
    var dst = new Array[Int](n)
    var width = 1
    while (width < n) {
      var lo = 0
      while (lo < n) {
        val mid = math.min(lo + width, n)
        val hi = math.min(lo + 2 * width, n)
        if (mid == hi || !c.lt(src(mid), src(mid - 1))) {
          System.arraycopy(src, lo, dst, lo, hi - lo)
        } else {
          var i = lo; var j = mid; var k = lo
          while (i < mid && j < hi) {
            if (c.lt(src(j), src(i))) { dst(k) = src(j); j += 1 }
            else { dst(k) = src(i); i += 1 } // <=: stability
            k += 1
          }
          while (i < mid) { dst(k) = src(i); i += 1; k += 1 }
          while (j < hi) { dst(k) = src(j); j += 1; k += 1 }
        }
        lo = hi
      }
      val tmp = src; src = dst; dst = tmp
      width *= 2
    }
    System.arraycopy(src, 0, idx, from, n)
  }
}
