package graft.sort

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The reference order of the paper's one operator: every schema column
  * in schema order, ascending, nulls first (reference `make_sort_exprs`,
  * `src/lib.rs:78-87`; Arrow's `SortOptions::default()` equals Spark's
  * `asc` — SURVEY §2.1 #4). Both [[ColumnSort]] strategies must sort to
  * this order; the tests compare them against [[rowOrdering]], and the
  * kernels share its two value compares.
  */
object RowOrder {

  /** Chained comparator with Spark SQL ordering semantics per column:
    * nulls first; strings by unsigned UTF-8 byte comparison (Spark binary
    * collation — NOT Java's UTF-16 `String.compareTo`, which disagrees for
    * supplementary code points); doubles with NaN greatest, NaN == NaN,
    * and -0.0 == 0.0 (Spark normalizes signed zeros). Covers the three
    * column types a [[ColumnBatch]] holds.
    */
  def rowOrdering(schema: StructType): java.util.Comparator[Row] = {
    val types = schema.fields.map(_.dataType)
    types.foreach {
      case StringType | LongType | DoubleType =>
      case other => throw new IllegalArgumentException(s"unsupported sort column type $other")
    }
    (a: Row, b: Row) => {
      var i = 0
      var c = 0
      while (c == 0 && i < types.length) {
        val an = a.isNullAt(i); val bn = b.isNullAt(i)
        c =
          if (an || bn) java.lang.Boolean.compare(bn, an) // nulls first
          else types(i) match {
            case StringType => compareUtf8(a.getString(i), b.getString(i))
            case LongType => java.lang.Long.compare(a.getLong(i), b.getLong(i))
            case _ => compareDouble(a.getDouble(i), b.getDouble(i))
          }
        i += 1
      }
      c
    }
  }

  /** Unicode code-point order == unsigned UTF-8 byte order (what Spark's
    * `UTF8String.compareTo` / binary collation does). Allocation-free:
    * walks code points instead of materializing UTF-8 byte arrays. NOT
    * UTF-16 `String.compareTo`, which misorders supplementary planes
    * against U+E000..U+FFFF.
    */
  def compareUtf8(a: String, b: String): Int = {
    val la = a.length; val lb = b.length
    var i = 0
    // fast path: identical UTF-16 prefixes need no code-point logic
    val minLen = math.min(la, lb)
    while (i < minLen && a.charAt(i) == b.charAt(i)) i += 1
    if (i == minLen) return Integer.compare(la, lb)
    val ca = Character.codePointAt(a, i)
    val cb = Character.codePointAt(b, i)
    // differing chars at i: if either is a high surrogate the code points
    // decide; otherwise the chars themselves are the code points
    Integer.compare(ca, cb)
  }

  /** Spark SQL double ordering: -0.0 == 0.0, NaN == NaN, NaN greatest. */
  def compareDouble(a: Double, b: Double): Int = {
    val an = java.lang.Double.isNaN(a); val bn = java.lang.Double.isNaN(b)
    if (an && bn) 0
    else if (an) 1
    else if (bn) -1
    else java.lang.Double.compare(if (a == 0.0d) 0.0d else a, if (b == 0.0d) 0.0d else b)
  }
}
