package graft.sort

import graft.datagen.Case
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Differential suite: the two sort strategies must produce identical
  * output — the property the reference assumes but never checks (its
  * harness compares only runtimes, `src/main.rs:46-55`; SURVEY §5) — and
  * both must sort to the [[RowOrder]] reference. Includes adversarial
  * inputs (nulls, NaN, ±0.0, ±Inf, empty and non-ASCII strings) that the
  * reference generators never produce.
  */
class SortDifferentialSpec extends AnyFunSuite {

  /** -0.0→0.0 and NaN→canonical so multiset comparison is stable across
    * signed-zero normalization.
    */
  private def canon(v: Any): Any = v match {
    case d: Double if d.isNaN => "NaN" // NaN != NaN under ==; use a token
    case d: Double if d == 0.0d => 0.0d
    case x => x
  }
  private def canonRows(rows: Seq[Row]): Seq[Seq[Any]] =
    rows.map(_.toSeq.map(canon))

  private def assertBothStrategiesAgree(
      input: IndexedSeq[Row], schema: StructType, dictCols: Set[Int] = Set.empty): Unit = {
    val batch = ColumnBatch.fromRows(input, schema).dictEncoded(dictCols)
    val a = ColumnSort.sortBatch(batch, rowFormat = false).toRows
    val b = ColumnSort.sortBatch(batch, rowFormat = true).toRows
    // 1. both outputs are permutations of the input
    assert(canonRows(a).sorted(SeqOrdering) == canonRows(input).sorted(SeqOrdering))
    assert(canonRows(b).sorted(SeqOrdering) == canonRows(input).sorted(SeqOrdering))
    // 2. both outputs are non-decreasing under the composite key
    val ord = RowOrder.rowOrdering(schema)
    def assertSorted(rows: Seq[Row], label: String): Unit =
      rows.sliding(2).zipWithIndex.foreach {
        case (Seq(x, y), i) => assert(ord.compare(x, y) <= 0, s"$label out of order at $i: $x > $y")
        case _ =>
      }
    assertSorted(a, "dyn-comparator")
    assertSorted(b, "rows-format")
    // 3. the sorted sequences are key-equivalent position by position
    //    (rows tying under Spark equality — NaN==NaN, -0.0==0.0 — may
    //    permute among themselves; key-level comparison absorbs that)
    a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
      assert(ord.compare(x, y) == 0, s"strategies disagree at row $i: $x vs $y")
    }
  }

  // lexicographic ordering on canonicalized row value-seqs, for multiset compare
  private object SeqOrdering extends Ordering[Seq[Any]] {
    def compare(a: Seq[Any], b: Seq[Any]): Int = {
      val it = a.iterator.zip(b.iterator)
      while (it.hasNext) {
        val (x, y) = it.next()
        val c = (x, y) match {
          case (null, null) => 0
          case (null, _) => -1
          case (_, null) => 1
          case (p: Double, q: Double) => RowOrder.compareDouble(p, q)
          case (p: String, q: String) => RowOrder.compareUtf8(p, q)
          case (p, q) => p.toString.compareTo(q.toString)
        }
        if (c != 0) return c
      }
      Integer.compare(a.size, b.size)
    }
  }

  /** `rows` stably sorted by their [[ColumnSort.encodeRows]] keys alone:
    * the byte encoding, without the packed-key path or the presorted scan.
    */
  private def sortedByKeys(rows: IndexedSeq[Row], schema: StructType, dictCols: Set[Int]): Seq[Row] = {
    val (slab, off) = ColumnSort.encodeRows(ColumnBatch.fromRows(rows, schema).dictEncoded(dictCols))
    val idx = Array.tabulate[Integer](rows.length)(Integer.valueOf)
    java.util.Arrays.sort(idx, (x: Integer, y: Integer) =>
      java.util.Arrays.compareUnsigned(slab, off(x), off(x + 1), slab, off(y), off(y + 1)))
    idx.toSeq.map(rows(_))
  }

  private def assertKeyOrder(rows: IndexedSeq[Row], schema: StructType, dictCols: Set[Int] = Set.empty): Unit = {
    val viaBytes = sortedByKeys(rows, schema, dictCols)
    val ord = RowOrder.rowOrdering(schema)
    val viaCmp = rows.toArray
    java.util.Arrays.sort(viaCmp, ord)
    viaBytes.zip(viaCmp).zipWithIndex.foreach { case ((x, y), i) =>
      assert(ord.compare(x, y) == 0, s"kernels disagree at $i: $x vs $y")
    }
  }

  for (c <- Case.all; n <- Seq(0, 1, 100, 5000)) {
    test(s"differential: ${c.name} n=$n") {
      assertBothStrategiesAgree(new scala.util.Random(n).shuffle(c.rows(n)), c.schema, c.dictCols)
    }
  }

  private val adversarialSchema = StructType(Seq(
    StructField("d", DoubleType, nullable = true),
    StructField("s", StringType, nullable = true),
    StructField("l", LongType, nullable = true)))

  test("differential: adversarial doubles/strings/nulls") {
    val rows = IndexedSeq(
      Row(Double.NaN, "a", 1L),
      Row(-0.0d, "a", 2L),
      Row(0.0d, "a", 3L),
      Row(Double.NegativeInfinity, "", 4L),
      Row(Double.PositiveInfinity, "😀 emoji", 5L), // U+1F600: UTF-8 vs UTF-16 order differs
      Row(null, "� high BMP", 6L), // U+FFFD sorts AFTER U+1F600 in UTF-16, BEFORE in UTF-8
      Row(1.5d, null, 7L),
      Row(1.5d, "b", null),
      Row(null, null, null),
      Row(-1.0e300, "ascii", Long.MinValue),
      Row(1.0e-300, "ASCII", Long.MaxValue),
    )
    assertBothStrategiesAgree(rows, adversarialSchema)
    assertBothStrategiesAgree(rows, adversarialSchema, dictCols = Set(1))
  }

  for (c <- Case.all) {
    test(s"kernel differential: rows-format encoding agrees with comparator on ${c.name}") {
      assertKeyOrder(new scala.util.Random(3).shuffle(c.rows(3000)), c.schema, c.dictCols)
    }
  }

  test("kernel differential: adversarial values through the byte encoding") {
    val rows = IndexedSeq(
      Row(Double.NaN, "a", 1L),
      Row(-0.0d, "a\u0000b", 2L), // embedded NUL exercises the escape
      Row(0.0d, "a", 3L),
      Row(Double.NegativeInfinity, "", -5L),
      Row(Double.PositiveInfinity, "a\u0000", 5L),
      Row(null, "😀", 6L),
      Row(1.5d, null, Long.MinValue),
      Row(-1.5d, "b", Long.MaxValue),
      Row(null, null, null),
    )
    assertKeyOrder(rows, adversarialSchema)
    assertKeyOrder(rows, adversarialSchema, dictCols = Set(1))
  }

  for (c <- Case.all; rowFormat <- Seq(false, true)) {
    val label = if (rowFormat) "rows-format" else "lexsort"
    test(s"columnar kernel ($label) agrees with row comparator on ${c.name}") {
      val rows = c.rows(2500)
      val batch = ColumnBatch.fromRows(rows, c.schema)
      val sorted = ColumnSort.sortBatch(batch, rowFormat).toRows
      val expected = rows.toArray
      java.util.Arrays.sort(expected, RowOrder.rowOrdering(c.schema))
      val ord = RowOrder.rowOrdering(c.schema)
      sorted.zip(expected).zipWithIndex.foreach { case ((x, y), i) =>
        assert(ord.compare(x, y) == 0, s"columnar $label disagrees at $i: $x vs $y")
      }
      assert(sorted.size == rows.size)
    }
  }

  // The case generators PRE-SORT their batches, which the adaptive
  // fast path now short-circuits in O(n) — so the merge/packed-key
  // machinery must additionally be proven on UNSORTED input, or the
  // sorted-input tests above would pass vacuously.
  for (c <- Case.all; rowFormat <- Seq(false, true)) {
    val label = if (rowFormat) "rows-format" else "lexsort"
    test(s"columnar kernel ($label) agrees with row comparator on shuffled ${c.name}") {
      val rng = new scala.util.Random(7)
      val rows = rng.shuffle(c.rows(2500))
      val batch = ColumnBatch.fromRows(rows, c.schema).dictEncoded(c.dictCols)
      val sorted = ColumnSort.sortBatch(batch, rowFormat).toRows
      val expected = rows.toArray
      val ord = RowOrder.rowOrdering(c.schema)
      java.util.Arrays.sort(expected, ord)
      sorted.zip(expected).zipWithIndex.foreach { case ((x, y), i) =>
        assert(ord.compare(x, y) == 0, s"columnar $label disagrees at $i: $x vs $y")
      }
      assert(sorted.size == rows.size)
    }
  }

  for (c <- Seq(Case.DictionaryTuple, Case.MixedDictionaryTuple); rowFormat <- Seq(false, true)) {
    val label = if (rowFormat) "rows-format" else "lexsort"
    test(s"dict-encoded columnar kernel ($label) agrees with plain on ${c.name}") {
      val rows = c.rows(2000)
      val plain = ColumnBatch.fromRows(rows, c.schema)
      val dict = plain.dictEncoded(c.dictCols)
      val a = ColumnSort.sortBatch(dict, rowFormat).toRows
      val b = ColumnSort.sortBatch(plain, rowFormat).toRows
      assert(a == b, "dictionary encoding must not change sort output")
    }
  }

  // Regression: <=8-byte strings containing 0x00 zero-pad to the SAME
  // prefix long as their shorter twin ("a" vs "a\u0000"), so every
  // prefix-tie-means-equal shortcut must either require noZeroBytes or
  // tie-break by length — a false tie falls through to later sort
  // columns and produces genuinely mis-ordered output.
  private val nulShort = IndexedSeq( // every string <=8 bytes: ties broken by length
    Row("a\u0000\u0000", 1L), Row("a", 9L), Row("a\u0000", 5L),
    Row("\u0000", 8L), Row("", 10L), Row("a\u0000b", 0L),
    Row("b", 2L), Row("a", 3L), Row("a\u0000", 4L))
  private val nulMixed = nulShort ++ IndexedSeq( // >8-byte strings: ties broken by memcmp
    Row("longer-than-8-bytes\u0000", -1L), Row("longer-than-8-bytes", -2L),
    Row("len8-pad\u0000", -3L), Row("len8-pad", -4L))
  for (rowFormat <- Seq(false, true);
       (fixtureName, rows) <- Seq("all-short" -> nulShort, "mixed-length" -> nulMixed)) {
    val label = if (rowFormat) "rows-format" else "lexsort"
    test(s"columnar kernel ($label, $fixtureName) orders short strings with NUL bytes (prefix-tie regression)") {
      val schema = StructType(Seq(
        StructField("s", StringType, nullable = false),
        StructField("l", LongType, nullable = false)))
      // paired with longs DESCENDING where the strings ascend, so a false
      // string tie surfaces as a visible l-column mis-order
      val batch = ColumnBatch.fromRows(rows, schema)
      val sorted = ColumnSort.sortBatch(batch, rowFormat).toRows
      val expected = rows.toArray
      val ord = RowOrder.rowOrdering(schema)
      java.util.Arrays.sort(expected, ord)
      sorted.zip(expected).zipWithIndex.foreach { case ((x, y), i) =>
        assert(ord.compare(x, y) == 0, s"columnar $label disagrees at $i: $x vs $y")
      }
      // the NUL-bearing column must not collapse distinct values
      assert(sorted.map(_.getString(0)).toSeq ==
        rows.map(_.getString(0)).sorted(Ordering.comparatorToOrdering(
          (a: String, b: String) => RowOrder.compareUtf8(a, b))))
    }
  }

  test("sort key covers every column in schema order, ascending") {
    // a base row, then one row per column j that ties it on every other
    // column and is larger at j: sorted, the row bumped at the LAST
    // column comes right after the base and the one bumped at column 0
    // comes last, so every column counts, ascending, and an earlier
    // column outranks a later one
    for (c <- Case.all; rowFormat <- Seq(false, true)) {
      val base = c.rows(1).head
      def bumped(j: Int): Row = Row.fromSeq(base.toSeq.updated(j, base.get(j) match {
        case d: Double => d + 1
        case l: Long => l + 1
        case s: String => s + "~"
      }))
      val expected = base +: c.schema.indices.reverse.map(bumped)
      val batch = ColumnBatch.fromRows(expected.reverse, c.schema).dictEncoded(c.dictCols)
      assert(ColumnSort.sortBatch(batch, rowFormat).toRows == expected, s"${c.name} rowFormat=$rowFormat")
    }
  }
}
