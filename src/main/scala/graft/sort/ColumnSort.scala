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
  * Column representation: `Array[Double] | Array[Long] | Array[String]`
  * (the three types the reference generates, SURVEY §1.2; nulls are not
  * representable here — the reference's generated batches are null-free,
  * `src/data.rs:220-231`; the null-handling paths live in the Row-level
  * kernels of [[BatchSort]]/[[RowFormatSort]] which the engine uses).
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
      (a: Int, b: Int) => BatchSort.compareUtf8(dict(a), dict(b))))
    val r = new Array[Int](dict.length)
    order.zipWithIndex.foreach { case (dictIdx, rank) => r(dictIdx) = rank }
    r
  }
}

final case class ColumnBatch(schema: StructType, cols: Array[AnyRef]) {
  def numRows: Int = if (cols.isEmpty) 0 else ColumnBatch.len(cols(0))

  def toRows: IndexedSeq[Row] =
    (0 until numRows).map { i =>
      Row.fromSeq(cols.toIndexedSeq.map {
        case a: Array[Double] => a(i)
        case a: Array[Long] => a(i)
        case a: Utf8Col => new String(a.values(i), java.nio.charset.StandardCharsets.UTF_8)
        case d: DictCol => d.dict(d.codes(i))
        case other => throw new IllegalStateException(s"bad column $other")
      })
    }

  /** Dictionary-encode the given string columns (reference generator
    * behavior for the dictionary cases).
    */
  def dictEncoded(colIdxs: Set[Int]): ColumnBatch = {
    val out = cols.zipWithIndex.map {
      case (a: Utf8Col, i) if colIdxs.contains(i) =>
        val dict = new java.util.LinkedHashMap[String, Integer]()
        val codes = a.values.map { b =>
          val s = new String(b, java.nio.charset.StandardCharsets.UTF_8)
          var c = dict.get(s)
          if (c == null) { c = dict.size(); dict.put(s, c) }
          c.intValue()
        }
        new DictCol(codes, dict.keySet().toArray(new Array[String](0))): AnyRef
      case (c, _) => c
    }
    ColumnBatch(schema, out)
  }
}

object ColumnBatch {
  private def len(col: AnyRef): Int = col match {
    case a: Array[Double] => a.length
    case a: Array[Long] => a.length
    case a: Utf8Col => a.values.length
    case d: DictCol => d.codes.length
    case other => throw new IllegalArgumentException(s"bad column $other")
  }

  def fromRows(rows: IndexedSeq[Row], schema: StructType): ColumnBatch = {
    val n = rows.length
    val cols: Array[AnyRef] = schema.fields.zipWithIndex.map { case (f, j) =>
      f.dataType match {
        case DoubleType =>
          val a = new Array[Double](n); var i = 0
          while (i < n) { a(i) = rows(i).getDouble(j); i += 1 }; a: AnyRef
        case LongType =>
          val a = new Array[Long](n); var i = 0
          while (i < n) { a(i) = rows(i).getLong(j); i += 1 }; a: AnyRef
        case StringType =>
          // Arrow-faithful layout: strings live as UTF-8 bytes, so the
          // kernels memcmp instead of walking UTF-16 chars
          val a = new Array[Array[Byte]](n); var i = 0
          while (i < n) {
            a(i) = rows(i).getString(j).getBytes(java.nio.charset.StandardCharsets.UTF_8)
            i += 1
          }
          Utf8Col(a): AnyRef
        case other => throw new IllegalArgumentException(s"unsupported columnar type $other")
      }
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
      def cmp(i: Int, j: Int) = BatchSort.compareDouble(a(i), a(j))
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
    case a: Utf8Col if a.allShort => new ColCmp {
      // short strings that may contain 0x00: a prefix tie means the
      // strings agree on their overlap and differ only in TRAILING zero
      // bytes ("a" vs "a\u0000"), so memcmp order is exactly length order
      private val p = a.prefixes
      private val v = a.values
      def cmp(i: Int, j: Int) = {
        val c = java.lang.Long.compareUnsigned(p(i), p(j))
        if (c != 0) c else Integer.compare(v(i).length, v(j).length)
      }
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
    case other => throw new IllegalArgumentException(s"bad column $other")
  }

  /** Normalized 8-byte leading key for the FIRST sort column, when one
    * exists whose unsigned-long order is EXACT (a key tie means the
    * column values are equal, so the chain may fall through to column 1):
    * f64 → order-preserving bit flip, i64 → sign flip, dict → rank,
    * short-only utf8 → the zero-padded prefix. The first column decides
    * the vast majority of comparisons in a lexsort, and inlining it as a
    * primitive long compare removes the megamorphic comparator dispatch +
    * NaN/zero normalization from the hot path (the same reason Spark's
    * UnsafeExternalSorter sorts on an 8-byte radix prefix first).
    * Returns null when no exact key exists (general utf8: a prefix tie
    * does NOT imply equality).
    */
  private def exactLeadingKey(col: AnyRef): Array[Long] = col match {
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
    // zero byte ("a" vs "a\u0000"), so the key would falsely fall through
    case a: Utf8Col if a.allShort && a.noZeroBytes => a.prefixes
    case _ => null
  }

  /** The full lexicographic index comparator for a batch — the chain
    * [[lexsortIndices]] orders key ties with (leading exact 64-bit keys
    * hoisted to primitive long compares, megamorphic per-column chain
    * for the rest), also used by consumers that ORDER BY it without
    * sorting: the k-way merge of sorted runs ([[MergeStreams]]). Built
    * eagerly (both hoisted key arrays): its callers compare across
    * unsorted positions.
    */
  private[sort] def fullChain(batch: ColumnBatch): IndexCmp = hoistedChain(batch.cols, 2)

  /** Lexicographic comparator over `cols` with up to `hoist` leading
    * columns (while each has an exact key) compared as unsigned longs
    * ahead of the per-column chain.
    */
  private def hoistedChain(cols: Array[AnyRef], hoist: Int): IndexCmp = {
    val k0 = if (hoist > 0 && cols.nonEmpty) exactLeadingKey(cols(0)) else null
    if (k0 == null) {
      val cmps = cols.map(colCmp)
      return new IndexCmp {
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
    val k1 = if (hoist > 1 && cols.length > 1) exactLeadingKey(cols(1)) else null
    if (k1 == null) {
      val rest = cols.drop(1).map(colCmp)
      return new IndexCmp {
        def lt(i: Int, j: Int): Boolean = {
          val c0 = java.lang.Long.compareUnsigned(k0(i), k0(j))
          if (c0 != 0) return c0 < 0
          var k = 0
          while (k < rest.length) {
            val c = rest(k).cmp(i, j)
            if (c != 0) return c < 0
            k += 1
          }
          false
        }
      }
    }
    val rest2 = cols.drop(2).map(colCmp)
    new IndexCmp {
      def lt(i: Int, j: Int): Boolean = {
        val c0 = java.lang.Long.compareUnsigned(k0(i), k0(j))
        if (c0 != 0) return c0 < 0
        val c1 = java.lang.Long.compareUnsigned(k1(i), k1(j))
        if (c1 != 0) return c1 < 0
        var k = 0
        while (k < rest2.length) {
          val c = rest2(k).cmp(i, j)
          if (c != 0) return c < 0
          k += 1
        }
        false
      }
    }
  }

  /** Strategy A: chained per-column comparators over an index vector.
    * The presorted scan runs with only the first column's exact key
    * hoisted (building more key arrays would be pure O(n) overhead on
    * sorted input). Unsorted input goes through the key-carrying radix
    * sort ([[keyedIndices]]), and [[fullChain]] orders only the runs of
    * rows whose packed leading keys tie.
    */
  def lexsortIndices(batch: ColumnBatch): Array[Int] =
    keyedIndices(batch, hoistedChain(batch.cols, 1), fullChain(batch))

  /** Strategy B: row-format (normalized-key) encode into one slab, then
    * sort, with the byte compare ordering leading-key ties
    * (`src/lib.rs:35-53` rebuilt columnar).
    */
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
    case other => throw new IllegalArgumentException(s"bad column $other")
  }

  /** Bits of normalized key a column contributes when it is FIXED-width
    * and register-packable; -1 when it isn't. Dict columns need only
    * ceil(log2(|dict|)) bits (the rank), primitives 64, short zero-free
    * utf8 64 (the padded prefix is a complete order-preserving key).
    */
  private def packedBits(col: AnyRef): Int = col match {
    case d: DictCol =>
      math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, d.dict.length - 1L)).toInt)
    case _: Array[Long] => 64
    case _: Array[Double] => 64
    case a: Utf8Col if a.allShort && a.noZeroBytes => 64
    case _ => -1
  }

  private def packedField(col: AnyRef): Int => Long = col match {
    case d: DictCol =>
      val r = d.ranks; val c = d.codes
      i => r(c(i)).toLong
    case a: Array[Long] => i => a(i) ^ Long.MinValue
    case a: Array[Double] => i => KeyCodec.doubleBits(a(i))
    case a: Utf8Col => a.prefixes(_)
  }

  /** Row-format fast path: when every column's normalized key is fixed
    * width and they sum to ≤128 bits, the whole row key packs into one
    * or two machine words (dict ranks in log2(|dict|) bits, primitives/
    * short-utf8 in 64) — the same normalized-key bytes as the slab
    * encoding, held as a (hi, lo) long pair per row instead of a heap
    * slab. The pair compare runs the presorted scan and orders the
    * leading-key ties of [[keyedIndices]]; keys are COMPLETE (every
    * column participates), so a pair tie means identical rows.
    */
  private def packedRowIndices(batch: ColumnBatch, bits: Array[Int]): Array[Int] = {
    val n = batch.numRows
    val fields = batch.cols.map(packedField)
    val his = new Array[Long](n)
    val los = new Array[Long](n)
    var i = 0
    while (i < n) {
      var hi = 0L; var lo = 0L
      var j = 0
      while (j < fields.length) {
        val b = bits(j)
        val v = fields(j)(i)
        // shift the 128-bit (hi, lo) accumulator left by b, then OR in v.
        // b == 64: everything accumulated so far still fits in lo (total
        // key ≤ 128 bits), so the shift is exactly hi ← lo, lo ← v.
        if (b == 64) { hi = lo; lo = v }
        else { hi = (hi << b) | (lo >>> (64 - b)); lo = (lo << b) | v }
        j += 1
      }
      his(i) = hi; los(i) = lo
      i += 1
    }
    val anyHi = bits.sum > 64
    val chain: IndexCmp =
      if (anyHi) new IndexCmp {
        def lt(i: Int, j: Int): Boolean = {
          val c = java.lang.Long.compareUnsigned(his(i), his(j))
          if (c != 0) c < 0
          else java.lang.Long.compareUnsigned(los(i), los(j)) < 0
        }
      }
      else new IndexCmp {
        def lt(i: Int, j: Int): Boolean =
          java.lang.Long.compareUnsigned(los(i), los(j)) < 0
      }
    keyedIndices(batch, chain, chain)
  }

  /** Strategy B: every row's normalized key in one slab (or, when the
    * keys are narrow, in [[packedRowIndices]]' long pairs). The slab
    * memcmp runs the presorted scan and orders the leading-key ties of
    * [[keyedIndices]].
    */
  def rowFormatIndices(batch: ColumnBatch): Array[Int] = {
    val n = batch.numRows
    val bits = batch.cols.map(packedBits)
    if (batch.cols.nonEmpty && !bits.contains(-1) && bits.sum <= 128)
      return packedRowIndices(batch, bits)
    val encs = batch.cols.map(colEnc) // hoisted: no per-row type dispatch
    val w = new KeyWriter(slabCapacity(n, batch.cols.length))
    val offsets = new Array[Int](n + 1)
    var i = 0
    while (i < n) {
      var j = 0
      while (j < encs.length) {
        encs(j).enc(i, w)
        j += 1
      }
      offsets(i + 1) = w.len
      i += 1
    }
    val slab = w.buf
    val chain = new IndexCmp {
      def lt(i: Int, j: Int): Boolean =
        java.util.Arrays.compareUnsigned(
          slab, offsets(i), offsets(i + 1), slab, offsets(j), offsets(j + 1)) < 0
    }
    keyedIndices(batch, chain, chain)
  }

  /** Initial slab capacity for `rows` rows of `cols` fields, at 12 bytes
    * a field: computed in Long (an Int product goes negative past ~44.7M
    * rows at 4 columns) and clamped to the largest array the JVM
    * allocates. [[KeyWriter]] grows the slab when keys run longer.
    */
  private[sort] def slabCapacity(rows: Int, cols: Int): Int =
    math.min(math.max(64L, rows.toLong * cols * 12), Int.MaxValue - 8L).toInt

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
    if (ident) {
      val out: Array[AnyRef] = batch.cols.map {
        case a: Array[Double] => a.clone(): AnyRef
        case a: Array[Long] => a.clone(): AnyRef
        case a: Utf8Col =>
          Utf8Col.withPrefixes(
            a.values.clone(), a.prefixes.clone(), a.allShort, a.noZeroBytes): AnyRef
        case d: DictCol => new DictCol(d.codes.clone(), d.dict): AnyRef
        case other => throw new IllegalArgumentException(s"bad column $other")
      }
      return ColumnBatch(batch.schema, out)
    }
    val out: Array[AnyRef] = batch.cols.map {
      case a: Array[Double] =>
        val r = new Array[Double](idx.length); var i = 0
        while (i < idx.length) { r(i) = a(idx(i)); i += 1 }; r: AnyRef
      case a: Array[Long] =>
        val r = new Array[Long](idx.length); var i = 0
        while (i < idx.length) { r(i) = a(idx(i)); i += 1 }; r: AnyRef
      case a: Utf8Col =>
        val r = new Array[Array[Byte]](idx.length)
        val rp = new Array[Long](idx.length)
        var i = 0
        while (i < idx.length) {
          val s = idx(i); r(i) = a.values(s); rp(i) = a.prefixes(s); i += 1
        }
        Utf8Col.withPrefixes(r, rp, a.allShort, a.noZeroBytes): AnyRef
      case d: DictCol =>
        val r = new Array[Int](idx.length); var i = 0
        while (i < idx.length) { r(i) = d.codes(idx(i)); i += 1 }
        new DictCol(r, d.dict): AnyRef
      case other => throw new IllegalArgumentException(s"bad column $other")
    }
    ColumnBatch(batch.schema, out)
  }

  def sortBatch(batch: ColumnBatch, rowFormat: Boolean): ColumnBatch =
    take(batch, if (rowFormat) rowFormatIndices(batch) else lexsortIndices(batch))

  private[sort] abstract class IndexCmp {
    def lt(i: Int, j: Int): Boolean
  }

  /** How much of the row order the packed leading key of [[packKeys]]
    * decides.
    */
  private[sort] sealed trait KeyOutcome
  private[sort] object KeyOutcome {
    /** Every column packed exactly and in full: the key IS the row
      * order, and equal keys mean equal rows.
      */
    case object Complete extends KeyOutcome
    /** Only exact keys packed, but a column lost its low bits or did
      * not fit: equal keys still need the tie comparator.
      */
    case object Truncated extends KeyOutcome
    /** A utf8 prefix was packed: equal keys say nothing about the
      * bytes past it (or, for short strings with 0x00 bytes, about a
      * zero pad against a real zero byte).
      */
    case object Inexact extends KeyOutcome
  }

  /** One long per row, `(key << idxBits) | row`, with `keyBits` key bits. */
  private[sort] final class PackedKeys(
      val words: Array[Long], val keyBits: Int, val idxBits: Int, val outcome: KeyOutcome)

  /** Bits a row index of a batch of `n` rows needs: ceil(log2 n). */
  private[sort] def idxBitsFor(n: Int): Int =
    if (n < 2) 0 else 32 - Integer.numberOfLeadingZeros(n - 1)

  /** Pack the leading columns' normalized keys ([[exactLeadingKey]]; a
    * general utf8 column contributes its prefixes as an inexact key)
    * into `63 - idxBits` key bits above the row index. Each column is
    * range-compressed: its unsigned min is subtracted, and it takes the
    * `64 - nlz(max - min)` bits its span needs (0 for a constant
    * column). Packing stops after an inexact column or after one that
    * fits only partly (it keeps its top bits). Every step is monotone
    * in the row order, so a key never orders two rows against the
    * comparator: it is ≤ where they are in order, and equal only where
    * the packed columns could not tell them apart.
    */
  private[sort] def packKeys(cols: Array[AnyRef], n: Int, idxBits: Int): PackedKeys = {
    val words = new Array[Long](n)
    val budget = 63 - idxBits
    var used = 0
    var outcome: KeyOutcome = KeyOutcome.Complete
    var j = 0
    while (j < cols.length && outcome == KeyOutcome.Complete) {
      val exact = exactLeadingKey(cols(j))
      val k = if (exact != null) exact else cols(j) match {
        case u: Utf8Col => u.prefixes
        case other => throw new IllegalArgumentException(s"bad column $other")
      }
      if (exact == null) outcome = KeyOutcome.Inexact
      var min = -1L; var max = 0L
      var i = 0
      while (i < n) {
        val v = k(i)
        if (java.lang.Long.compareUnsigned(v, min) < 0) min = v
        if (java.lang.Long.compareUnsigned(v, max) > 0) max = v
        i += 1
      }
      val span = if (n == 0) 0 else 64 - java.lang.Long.numberOfLeadingZeros(max - min)
      val b = math.min(span, budget - used)
      val drop = span - b
      if (drop > 0 && outcome == KeyOutcome.Complete) outcome = KeyOutcome.Truncated
      if (b > 0) {
        i = 0
        while (i < n) { words(i) = (words(i) << b) | ((k(i) - min) >>> drop); i += 1 }
        used += b
      }
      j += 1
    }
    var i = 0
    while (i < n) { words(i) = (words(i) << idxBits) | i; i += 1 }
    new PackedKeys(words, used, idxBits, outcome)
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
    if (keys.outcome != KeyOutcome.Complete) {
      lazy val cmp = ties
      val shift = keys.idxBits
      var lo = 0
      while (lo < n) {
        val key = sorted(lo) >>> shift
        var hi = lo + 1
        while (hi < n && (sorted(hi) >>> shift) == key) hi += 1
        if (hi - lo > InsertionRun) mergeRun(idx, lo, hi, cmp)
        else if (hi - lo > 1) insertionRun(idx, lo, hi, cmp)
        lo = hi
      }
    }
    idx
  }

  /** Tie runs up to this length are insertion-sorted. */
  private val InsertionRun = 16

  /** Sort `0 until n`: the presorted scan by `scan` first (sorted input
    * returns the identity in O(n)), else the key-carrying sort of the
    * batch's leading columns with `ties` ordering equal keys.
    */
  private def keyedIndices(batch: ColumnBatch, scan: IndexCmp, ties: => IndexCmp): Array[Int] = {
    val n = batch.numRows
    if (scanSorted(n, scan) == n) Array.tabulate(n)(identity)
    else sortPacked(packKeys(batch.cols, n, idxBitsFor(n)), ties)
  }

  /** Stable bottom-up merge sort of `0 until n` by `lt`, with the
    * already-ordered-segments shortcut (presorted input → O(n) compares).
    * Primitive int arrays: a `Comparator[Integer]` would box every index.
    * The reference order the key-carrying sort reproduces, and the
    * sort of [[RowFormatSort]]'s row kernel.
    */
  private[sort] def sortedIndices(n: Int, c: IndexCmp): Array[Int] =
    if (scanSorted(n, c) == n) Array.tabulate(n)(identity)
    else mergeIndices(n, c)

  /** Adaptive fast-path detector: one O(n) scan, returning the length of
    * the leading sorted run (== n for fully-ordered input, which then
    * skips key packing and sorting entirely). The reference gets this
    * for free — Rust's `sort_unstable_by` is pdqsort, which detects
    * ascending runs, and the benchmark's generated batches ARE pre-sorted
    * (src/data.rs sorts every case at build time).
    */
  private def scanSorted(n: Int, c: IndexCmp): Int = {
    if (n < 2) return n
    var s = 1
    while (s < n && !c.lt(s, s - 1)) s += 1
    s
  }

  private def mergeIndices(n: Int, c: IndexCmp): Array[Int] = {
    val idx = Array.tabulate(n)(identity)
    mergeRun(idx, 0, n, c)
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
