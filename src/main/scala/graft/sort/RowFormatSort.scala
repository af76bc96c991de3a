package graft.sort

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The reference's strategy B at kernel level: encode the sort key of each
  * row into a memcmp-able byte string, sort by unsigned byte comparison,
  * then gather ("take") the rows in index order
  * (reference `src/lib.rs:35-53`: `RowConverter::new` → `convert_columns`
  * → `sort_unstable_by` on byte compare → `take`).
  *
  * The encoding is the classic order-preserving ("normalized key") format
  * from the sort literature — the same idea behind Arrow's row format and
  * Spark's `UnsafeExternalRowSorter` prefix keys:
  *  - null → single 0x00 marker; non-null → 0x01 then the value encoding
  *    (gives ascending nulls-first, the shared Arrow/Spark default).
  *  - signed integers → big-endian with the sign bit flipped.
  *  - doubles → IEEE-754 bits with the standard monotonic transform
  *    (negative → ~bits, else bits | signbit); -0.0 normalized to 0.0 and
  *    NaN to the canonical quiet NaN first, so the byte order equals Spark
  *    SQL's double ordering (NaN greatest, NaN==NaN, -0.0==0.0).
  *  - strings → UTF-8 bytes with 0x00 escaped as (0x00,0xFF) and a
  *    (0x00,0x01) terminator, preserving prefix-first order for any input.
  *
  * Keys live in one contiguous slab with per-row offsets (Arrow's `Rows`
  * buffer layout); a primitive-int stable merge sort permutes the index
  * array. Ties break by input position, which only fixes an order the
  * reference's `sort_unstable_by` leaves arbitrary.
  *
  * Like the reference, the converter is (re)built on every `sortKernel`
  * call — the experiment deliberately measures the non-amortized cost
  * (SURVEY §4.2 "amortization structure").
  */
object RowFormatSort {

  // Primitive-signature encoder (a Function3 lambda would box the Int
  // column index on every call — 4 boxes/row in the measured hot loop).
  private abstract class FieldEnc extends Serializable {
    def enc(r: Row, i: Int, w: KeyWriter): Unit
  }

  private def fieldEncoder(dt: DataType): FieldEnc = dt match {
    case LongType => new FieldEnc { def enc(r: Row, i: Int, w: KeyWriter) = w.putLong(r.getLong(i) ^ Long.MinValue) }
    case IntegerType => new FieldEnc { def enc(r: Row, i: Int, w: KeyWriter) = w.putLong(r.getInt(i).toLong ^ Long.MinValue) }
    case ShortType => new FieldEnc { def enc(r: Row, i: Int, w: KeyWriter) = w.putLong(r.getShort(i).toLong ^ Long.MinValue) }
    case ByteType => new FieldEnc { def enc(r: Row, i: Int, w: KeyWriter) = w.putLong(r.getByte(i).toLong ^ Long.MinValue) }
    case BooleanType => new FieldEnc { def enc(r: Row, i: Int, w: KeyWriter) = w.put(if (r.getBoolean(i)) 1 else 0) }
    case DoubleType => new FieldEnc { def enc(r: Row, i: Int, w: KeyWriter) = w.putLong(KeyCodec.doubleBits(r.getDouble(i))) }
    case FloatType => new FieldEnc { def enc(r: Row, i: Int, w: KeyWriter) = w.putLong(KeyCodec.doubleBits(r.getFloat(i).toDouble)) }
    case StringType => new FieldEnc { def enc(r: Row, i: Int, w: KeyWriter) = KeyCodec.putString(w, r.getString(i)) }
    case other => throw new IllegalArgumentException(s"unsupported row-format type $other")
  }

  /** Encode one row's full-tuple sort key (without the index suffix) —
    * exposed for tests.
    */
  def encodeKey(schema: StructType): Row => Array[Byte] = {
    val encs = schema.fields.map(f => fieldEncoder(f.dataType))
    val w = new KeyWriter(schema.length * 12)
    row => {
      w.reset()
      var i = 0
      while (i < encs.length) {
        if (row.isNullAt(i)) w.put(0x00)
        else { w.put(0x01); encs(i).enc(row, i, w) }
        i += 1
      }
      w.key()
    }
  }

  /** Full strategy-B kernel: convert → byte-sort → gather.
    *
    * All keys live in ONE contiguous slab with per-row offsets — the same
    * memory layout as Arrow's `Rows` buffer — and the sort permutes an
    * index array comparing slab ranges. One big allocation per call
    * instead of n small ones keeps GC out of the measured loop.
    */
  def sortKernel(rows: Array[Row], schema: StructType): Array[Row] = {
    val encs = schema.fields.map(f => fieldEncoder(f.dataType)) // RowConverter::new analog
    val n = rows.length
    val w = new KeyWriter(ColumnSort.slabCapacity(n, schema.length))
    val offsets = new Array[Int](n + 1)
    var i = 0
    while (i < n) {
      val row = rows(i)
      var j = 0
      while (j < encs.length) {
        if (row.isNullAt(j)) w.put(0x00)
        else { w.put(0x01); encs(j).enc(row, j, w) }
        j += 1
      }
      offsets(i + 1) = w.len
      i += 1
    }
    val slab = w.buf
    // Shared stable bottom-up merge (ColumnSort.sortedIndices — one
    // implementation of the stability-critical loop, with the same
    // presorted O(n) fast path), keyed here by slab-range memcmp.
    val chain = new ColumnSort.IndexCmp {
      def lt(a: Int, b: Int): Boolean =
        java.util.Arrays.compareUnsigned(
          slab, offsets(a), offsets(a + 1), slab, offsets(b), offsets(b + 1)) < 0
    }
    val idx = ColumnSort.sortedIndices(n, chain)
    val outRows = new Array[Row](n)
    i = 0
    while (i < n) { outRows(i) = rows(idx(i)); i += 1 }
    outRows
  }
}
