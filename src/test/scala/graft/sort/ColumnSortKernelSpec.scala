package graft.sort

import java.nio.charset.StandardCharsets.UTF_8

import graft.datagen.Case
import graft.sort.ColumnSortKernelSpec._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Exact-order suite for the key-carrying columnar sort: both strategies'
  * index vectors must equal, index for index, the stable merge sort by
  * the per-column chain over all of the batch's columns
  * (`sortedIndices(n, colChain(b.cols))`) — ties included, so the packed
  * key and the tie-run pass over the unsettled columns together must
  * reproduce a stable sort. Each fixture names how many leading columns
  * its packed key settles at 1025 rows, and why packing stops there:
  * Complete (every column settled, no tie pass), Truncated (an exact key
  * lost bits, did not fit, or came before a nullable column) or Inexact
  * (a utf8 prefix was packed). Rows with equal packed keys must be equal
  * on the settled columns, since no tie comparator reads them.
  */
class ColumnSortKernelSpec extends AnyFunSuite {

  /** An independent stable sort (TimSort over boxed indices) by the same
    * comparator, so the reference itself is checked too.
    */
  private def timsortReference(b: ColumnBatch): Array[Int] = {
    val cmp = ColumnSort.colChain(b.cols)
    val boxed = Array.tabulate[Integer](b.numRows)(Integer.valueOf)
    java.util.Arrays.sort(boxed, (x: Integer, y: Integer) =>
      if (cmp.lt(x, y)) -1 else if (cmp.lt(y, x)) 1 else 0)
    boxed.map(_.intValue)
  }

  private def assertExactOrder(b: ColumnBatch, label: String): Unit = {
    val ref = reference(b)
    assert(ColumnSort.lexsortIndices(b).toSeq == ref.toSeq, s"$label: lexsort != stable reference")
    assert(ColumnSort.rowFormatIndices(b).toSeq == ref.toSeq, s"$label: row format != stable reference")
  }

  for (f <- fixtures; n <- sizes) {
    test(s"exact order: ${f.name}, n=$n") {
      val b = f.at(n)
      assert(reference(b).toSeq == timsortReference(b).toSeq, "merge reference is not the stable sort")
      assertExactOrder(b, s"${f.name} n=$n")
    }
  }

  for (f <- fixtures) {
    test(s"key outcome at 1025 rows: ${f.name} is ${f.outcome}") {
      val b = f.make(new scala.util.Random(7), 1025)
      val keys = ColumnSort.packKeys(b.cols, 1025, ColumnSort.idxBitsFor(1025))
      assert(keys.settled == f.settled)
      assert(keys.complete == (f.outcome == "Complete"))
    }

    test(s"equal packed keys mean equal settled columns: ${f.name}") {
      val n = 1025
      val b = f.at(n)
      val sorted = ColumnSort.take(b, reference(b))
      val keys = ColumnSort.packKeys(sorted.cols, n, ColumnSort.idxBitsFor(n))
      val settled = ColumnSort.colChain(sorted.cols.take(keys.settled))
      def key(i: Int) = keys.words(i) >>> keys.idxBits
      for (s <- 1 until n if key(s) == key(s - 1))
        assert(!settled.lt(s - 1, s) && !settled.lt(s, s - 1),
          s"rows ${s - 1} and $s share a packed key but differ on a settled column")
    }

    test(s"packing with 31 index bits keeps the exact order: ${f.name}") {
      val b = f.make(new scala.util.Random(11), 1025)
      val keys = ColumnSort.packKeys(b.cols, 1025, idxBits = 31)
      assert(keys.keyBits <= 32)
      val ties = ColumnSort.colChain(b.cols.drop(keys.settled))
      assert(ColumnSort.sortPacked(keys, ties).toSeq == reference(b).toSeq)
    }
  }

  test("index bits: ceil(log2 n), 31 at the largest batch") {
    assert(Seq(0, 1, 2, 3, 4, 5, 1024, 1025).map(ColumnSort.idxBitsFor) == Seq(0, 0, 1, 2, 2, 3, 10, 11))
    assert(ColumnSort.idxBitsFor(Int.MaxValue) == 31)
  }

  test("slab capacity is computed in Long and clamped") {
    assert(ColumnSort.slabCapacity(0, 3) == 64)
    assert(ColumnSort.slabCapacity(100, 4) == 4800)
    // 44.8M rows at 4 columns: the Int product goes negative
    assert(44800000 * 4 * 12 < 0)
    assert(ColumnSort.slabCapacity(44800000, 4) == Int.MaxValue - 8)
    assert(ColumnSort.slabCapacity(Int.MaxValue, 1000) == Int.MaxValue - 8)
  }

  test("utf8 order: U+FFFD sorts before U+1F600 as Utf8Col and DictCol") {
    // UTF-16 puts U+1F600 (surrogates D83D DE00) before U+FFFD; code
    // points and UTF-8 bytes (EF BF BD against F0 9F 98 80) put it after.
    // The expected order is literal: DictCol.ranks and RowOrder share
    // compareUtf8, so checking against RowOrder would miss its mistakes.
    val short = Seq("😀x", "\uFFFD", "😀", "a")
    val mixed = short ++ Seq("\uFFFD-long-string", "😀-long-string")
    for ((input, expected) <- Seq(
        short -> Seq("a", "\uFFFD", "😀", "😀x"),
        mixed -> Seq("a", "\uFFFD", "\uFFFD-long-string", "😀", "😀-long-string", "😀x"))) {
      val layouts = Seq[(String, AnyRef)](
        "Utf8Col" -> Utf8Col(input.map(_.getBytes(UTF_8)).toArray),
        "DictCol" -> new DictCol(input.indices.toArray, input.toArray))
      for ((layout, col) <- layouts; rowFormat <- Seq(false, true)) {
        val sorted = ColumnSort.sortBatch(batch("s" -> col), rowFormat).toRows.map(_.getString(0))
        assert(sorted == expected, s"$layout rowFormat=$rowFormat")
      }
    }
  }

  // the benchmark's four cases, shuffled, at its 100k rows, with the
  // columns their keys settle: dictionary ranks pack completely;
  // mixed-tuple's f64 and both low-card strings settle, and its 46-bit
  // key runs out inside the i64; utf8-tuple packs two exact prefixes,
  // then the inexact high-card one
  private val caseOutcomes = Seq(
    Case.Utf8Tuple -> (2, "Inexact"),
    Case.MixedTuple -> (3, "Truncated"),
    Case.DictionaryTuple -> (3, "Complete"),
    Case.MixedDictionaryTuple -> (4, "Complete"))

  for ((c, (settled, outcome)) <- caseOutcomes) {
    test(s"exact order: shuffled ${c.name} at 100k rows ($outcome)") {
      val n = 100000
      val rows = new scala.util.Random(5).shuffle(c.rows(n))
      val b = ColumnBatch.fromRows(rows, c.schema).dictEncoded(c.dictCols)
      val keys = ColumnSort.packKeys(b.cols, n, ColumnSort.idxBitsFor(n))
      assert(keys.settled == settled)
      assert(keys.complete == (outcome == "Complete"))
      if (c == Case.DictionaryTuple) assert(keys.keyBits == 21)
      if (c == Case.MixedDictionaryTuple) assert(keys.keyBits == 38)
      assertExactOrder(b, s"shuffled ${c.name}")
    }
  }

  private lazy val presorted = Case.all.map(c => c -> c.rows(100000)).toMap

  for (c <- Case.all) {
    test(s"exact order: presorted ${c.name} at 100k rows") {
      val b = ColumnBatch.fromRows(presorted(c), c.schema).dictEncoded(c.dictCols)
      val identity = (0 until 100000).toSeq
      assert(ColumnSort.lexsortIndices(b).toSeq == identity, "lexsort")
      assert(ColumnSort.rowFormatIndices(b).toSeq == identity, "row format")
    }
  }

  // the presorted scan compares packed keys and asks the tie comparator
  // only where two keys are equal: an inversion between two such rows
  // is the one a pack-first scan could miss
  for (f <- fixtures) {
    test(s"presorted scan catches an inversion under an equal packed key: ${f.name}") {
      val n = 1025
      val b = f.at(n)
      val sorted = ColumnSort.take(b, reference(b))
      val keys = ColumnSort.packKeys(sorted.cols, n, ColumnSort.idxBitsFor(n))
      val chain = ColumnSort.colChain(sorted.cols)
      def key(i: Int) = keys.words(i) >>> keys.idxBits
      val s = (1 until n).find(s => key(s) == key(s - 1) && chain.lt(s - 1, s))
      if (keys.complete) assert(s.isEmpty, "a complete key tied two different rows")
      s match {
        case Some(i) =>
          val swap = Array.tabulate(n)(identity)
          swap(i) = i - 1; swap(i - 1) = i
          val nearlySorted = ColumnSort.take(sorted, swap)
          assert(reference(nearlySorted).toSeq != (0 until n), "the swap left the batch sorted")
          assertExactOrder(nearlySorted, s"${f.name} with rows ${i - 1} and $i swapped")
        case None => // no such pair (i64 budget split: its 40 leading bits never repeat)
          assertExactOrder(sorted, s"sorted ${f.name}")
      }
    }
  }

  test("shared low bits: mixed-tuple's f64 column alone packs in at most 27 bits, complete") {
    val n = 100000
    val b = ColumnBatch.fromRows(presorted(Case.MixedTuple), Case.MixedTuple.schema)
    val keys = ColumnSort.packKeys(Array(b.cols(0)), n, ColumnSort.idxBitsFor(n))
    assert(keys.keyBits <= 27)
    assert(keys.settled == 1 && keys.complete)
  }

  test("KeyWriter fails by name past the JVM array limit instead of wrapping") {
    val w = new KeyWriter(16)
    w.len = Int.MaxValue - 4 // no big allocation: only the length is near the limit
    val e = intercept[IllegalStateException](w.ensure(8))
    assert(e.getMessage.contains("JVM array limit"))
    intercept[IllegalStateException](w.putLong(1L))
    intercept[IllegalStateException](KeyCodec.putUtf8Bytes(w, Array[Byte](1, 2)))
    assert(w.buf.length == 16)
  }

  test("KeyWriter growth doubles in Long and is capped at the array limit") {
    assert(KeyWriter.grownSize(64, 65) == 128)
    assert(KeyWriter.grownSize(64, 1000) == 1000)
    // doubling past Int.MaxValue goes negative in Int
    assert((Int.MaxValue / 2 + 1) * 2 < 0)
    assert(KeyWriter.grownSize(Int.MaxValue / 2 + 1, Int.MaxValue / 2 + 2L) == KeyWriter.MaxSize)
    assert(KeyWriter.grownSize(16, KeyWriter.MaxSize.toLong) == KeyWriter.MaxSize)
  }
}

/** The adversarial fixtures, shared with [[MergeStreamsKernelSpec]]. */
object ColumnSortKernelSpec {
  /** A fixture whose packed key settles `settled` leading columns at
    * 1025 rows; `outcome` names why packing stops there, in test titles.
    */
  final case class Fixture(
      name: String, settled: Int, outcome: String, make: (scala.util.Random, Int) => ColumnBatch) {
    /** The fixture at `n` rows, from the seed every exact-order test uses. */
    def at(n: Int): ColumnBatch = make(new scala.util.Random(n * 31 + name.hashCode), n)
  }

  /** The stable reference order: merge sort by every column's comparator. */
  def reference(b: ColumnBatch): Array[Int] =
    ColumnSort.sortedIndices(b.numRows, ColumnSort.colChain(b.cols))

  private def typeOf(col: AnyRef): DataType = col match {
    case _: Array[Double] => DoubleType
    case _: Array[Long] => LongType
    case c: NullableCol => typeOf(c.values)
    case _ => StringType
  }
  private def batch(cols: (String, AnyRef)*): ColumnBatch = ColumnBatch(
    StructType(cols.map { case (name, col) =>
      StructField(name, typeOf(col), nullable = col.isInstanceOf[NullableCol])
    }),
    cols.map(_._2).toArray)

  private def longs(n: Int)(f: => Long): Array[Long] = Array.fill(n)(f)
  private def pick[T](rng: scala.util.Random, xs: IndexedSeq[T]): T = xs(rng.nextInt(xs.length))
  private def utf8(n: Int)(f: => String): Utf8Col = Utf8Col(Array.fill(n)(f.getBytes(UTF_8)))
  private def dict(rng: scala.util.Random, n: Int, values: IndexedSeq[String]): DictCol =
    new DictCol(Array.fill(n)(rng.nextInt(values.length)), values.toArray)
  /** `values` with about a quarter of its rows null; the value under a
    * null stays, and no order may read it.
    */
  private def nullable(rng: scala.util.Random, n: Int, values: AnyRef): NullableCol =
    new NullableCol(values, Array.fill(n)(rng.nextInt(4) == 0))

  private val specialDoubles =
    IndexedSeq(Double.NaN, -0.0d, 0.0d, Double.PositiveInfinity, Double.NegativeInfinity, 1.5d, -1.5d)
  private val extremeLongs = IndexedSeq(Long.MinValue, Long.MaxValue, -1L, 0L, 1L)
  private val nulStrings = IndexedSeq("", "a", "a\u0000", "a\u0000\u0000", "\u0000", "b", "a\u0000b", "ab")

  val fixtures: Seq[Fixture] = Seq(
    // three dict ranks (one a 1-entry dict: a 0-bit span) and a small
    // range long fit in the budget together
    Fixture("dict columns", 4, "Complete", (rng, n) => batch(
      "a" -> dict(rng, n, IndexedSeq("pear", "apple", "fig", "kiwi", "date")),
      "b" -> dict(rng, n, IndexedSeq("only")),
      "c" -> dict(rng, n, (0 until 100).map(i => s"value$i")),
      "d" -> longs(n)(rng.nextInt(1000).toLong))),
    // few distinct rows: complete keys with many identical rows, whose
    // order the radix passes alone must keep stable
    Fixture("duplicate small longs", 2, "Complete", (rng, n) => batch(
      "a" -> longs(n)(rng.nextInt(4).toLong),
      "b" -> longs(n)(rng.nextInt(6) - 3L))),
    Fixture("constant columns", 4, "Complete", (rng, n) => batch(
      "a" -> longs(n)(7L),
      "b" -> Array.fill(n)(Double.NaN),
      "c" -> utf8(n)("same"),
      "d" -> longs(n)(rng.nextInt(50).toLong))),
    // Long.MinValue and Long.MaxValue give a 64-bit span
    Fixture("i64 extremes", 0, "Truncated", (rng, n) => batch(
      "a" -> longs(n)(if (rng.nextInt(3) == 0) pick(rng, extremeLongs) else rng.nextLong()),
      "b" -> dict(rng, n, IndexedSeq("x", "y", "z")))),
    // the budget runs out inside the third column, which keeps its top bits
    Fixture("i64 budget split", 2, "Truncated", (rng, n) => batch(
      "a" -> longs(n)(rng.nextInt(1 << 20).toLong),
      "b" -> longs(n)(rng.nextInt(1 << 20).toLong),
      "c" -> longs(n)(rng.nextInt(1 << 20).toLong),
      "d" -> longs(n)(rng.nextInt(3).toLong))),
    // once "a" spans its 40 bits, "b" keeps at most 22 of its 34: the
    // kept top bits repeat over random low 8 bits, so rows tie on the
    // packed key while their "b" differs, and only a tie comparator
    // that reads "b" orders them
    Fixture("truncated i64 repeating its top bits", 1, "Truncated", (rng, n) => batch(
      "a" -> longs(n)(pick(rng, IndexedSeq(0L, 1L << 39, (1L << 40) - 1))),
      "b" -> longs(n)(rng.nextInt(4).toLong << 32 | rng.nextInt(256)),
      "c" -> longs(n)(rng.nextInt(3).toLong))),
    Fixture("f64 NaN, signed zeros and infinities", 0, "Truncated", (rng, n) => batch(
      "a" -> Array.fill(n)(if (rng.nextBoolean()) pick(rng, specialDoubles) else rng.nextInt(20) - 10.0d),
      "b" -> longs(n)(rng.nextInt(3).toLong))),
    Fixture("short zero-free strings", 0, "Truncated", (rng, n) => batch(
      "a" -> utf8(n)(rng.alphanumeric.take(rng.nextInt(9)).mkString),
      "b" -> longs(n)(rng.nextInt(3).toLong))),
    // a zero pad ties with a real 0x00 byte, so the prefix is inexact
    Fixture("short strings with NUL bytes", 0, "Inexact", (rng, n) => batch(
      "a" -> utf8(n)(pick(rng, nulStrings)),
      "b" -> longs(n)(rng.nextInt(3).toLong))),
    // every string shares its first 8 bytes: a 0-bit key and one tie
    // run over the whole batch
    Fixture("strings longer than 8 bytes", 0, "Inexact", (rng, n) => batch(
      "a" -> utf8(n)("prefix--" + rng.alphanumeric.take(rng.nextInt(4)).mkString),
      "b" -> longs(n)(rng.nextInt(3).toLong))),
    Fixture("mixed-length strings, then doubles", 0, "Inexact", (rng, n) => batch(
      "a" -> utf8(n)(pick(rng, IndexedSeq("value", "value-long-", "v\u0000", "")) + rng.nextInt(12)),
      "b" -> Array.fill(n)(pick(rng, specialDoubles)))),
    // a nullable column has no key, so packing stops before it: here
    // before the first column, and one tie run covers the whole batch
    Fixture("nullable leading column", 0, "Truncated", (rng, n) => batch(
      "a" -> nullable(rng, n, longs(n)(rng.nextInt(5).toLong)),
      "b" -> nullable(rng, n, utf8(n)(pick(rng, nulStrings))),
      "c" -> longs(n)(rng.nextInt(3).toLong))),
    Fixture("nullable doubles and dict after a long", 1, "Truncated", (rng, n) => batch(
      "a" -> longs(n)(rng.nextInt(4).toLong),
      "b" -> nullable(rng, n, Array.fill(n)(pick(rng, specialDoubles))),
      "c" -> nullable(rng, n, dict(rng, n, IndexedSeq("x", "y", "z"))))),
    // multiples of 2^40 over the whole i64 range and non-negative
    // integral doubles: both shed their shared low zero bits and fit
    Fixture("shared low zero bits", 2, "Complete", (rng, n) => batch(
      "a" -> longs(n)(rng.nextLong() >> 40 << 40),
      "b" -> Array.fill(n)(rng.nextInt(1024).toDouble))),
  )

  val sizes = Seq(0, 1, 2, 15, 16, 17, 1023, 1024, 1025)
}
