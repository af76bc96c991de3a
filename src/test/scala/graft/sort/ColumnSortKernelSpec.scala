package graft.sort

import java.nio.charset.StandardCharsets.UTF_8

import graft.datagen.Case
import graft.sort.ColumnSort.KeyOutcome
import graft.sort.ColumnSortKernelSpec.Fixture
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Exact-order suite for the key-carrying columnar sort: both strategies'
  * index vectors must equal, index for index, the stable merge sort by
  * the batch's full comparator (`sortedIndices(n, fullChain(b))`) —
  * ties included, so the packed key and the tie-run pass together must
  * reproduce a stable sort. Each fixture names the key outcome it hits
  * at 1025 rows: complete (the key is the row order, no tie pass),
  * truncated (exact keys that lost bits or did not fit) or inexact (a
  * utf8 prefix was packed).
  */
class ColumnSortKernelSpec extends AnyFunSuite {

  private def reference(b: ColumnBatch): Array[Int] =
    ColumnSort.sortedIndices(b.numRows, ColumnSort.fullChain(b))

  /** An independent stable sort (TimSort over boxed indices) by the same
    * comparator, so the reference itself is checked too.
    */
  private def timsortReference(b: ColumnBatch): Array[Int] = {
    val cmp = ColumnSort.fullChain(b)
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

  private def field(name: String, t: DataType) = StructField(name, t, nullable = false)
  private def batch(cols: (String, AnyRef)*): ColumnBatch = ColumnBatch(
    StructType(cols.map { case (name, col) =>
      field(name, col match {
        case _: Array[Double] => DoubleType
        case _: Array[Long] => LongType
        case _ => StringType
      })
    }),
    cols.map(_._2).toArray)

  private def longs(n: Int)(f: => Long): Array[Long] = Array.fill(n)(f)
  private def pick[T](rng: scala.util.Random, xs: IndexedSeq[T]): T = xs(rng.nextInt(xs.length))
  private def utf8(n: Int)(f: => String): Utf8Col = Utf8Col(Array.fill(n)(f.getBytes(UTF_8)))
  private def dict(rng: scala.util.Random, n: Int, values: IndexedSeq[String]): DictCol =
    new DictCol(Array.fill(n)(rng.nextInt(values.length)), values.toArray)

  private val specialDoubles =
    IndexedSeq(Double.NaN, -0.0d, 0.0d, Double.PositiveInfinity, Double.NegativeInfinity, 1.5d, -1.5d)
  private val extremeLongs = IndexedSeq(Long.MinValue, Long.MaxValue, -1L, 0L, 1L)
  private val nulStrings = IndexedSeq("", "a", "a\u0000", "a\u0000\u0000", "\u0000", "b", "a\u0000b", "ab")

  private val fixtures = Seq(
    // three dict ranks (one a 1-entry dict: a 0-bit span) and a small
    // range long fit in the budget together
    Fixture("dict columns", KeyOutcome.Complete, (rng, n) => batch(
      "a" -> dict(rng, n, IndexedSeq("pear", "apple", "fig", "kiwi", "date")),
      "b" -> dict(rng, n, IndexedSeq("only")),
      "c" -> dict(rng, n, (0 until 100).map(i => s"value$i")),
      "d" -> longs(n)(rng.nextInt(1000).toLong))),
    // few distinct rows: complete keys with many identical rows, whose
    // order the radix passes alone must keep stable
    Fixture("duplicate small longs", KeyOutcome.Complete, (rng, n) => batch(
      "a" -> longs(n)(rng.nextInt(4).toLong),
      "b" -> longs(n)(rng.nextInt(6) - 3L))),
    Fixture("constant columns", KeyOutcome.Complete, (rng, n) => batch(
      "a" -> longs(n)(7L),
      "b" -> Array.fill(n)(Double.NaN),
      "c" -> utf8(n)("same"),
      "d" -> longs(n)(rng.nextInt(50).toLong))),
    // Long.MinValue and Long.MaxValue give a 64-bit span
    Fixture("i64 extremes", KeyOutcome.Truncated, (rng, n) => batch(
      "a" -> longs(n)(if (rng.nextInt(3) == 0) pick(rng, extremeLongs) else rng.nextLong()),
      "b" -> dict(rng, n, IndexedSeq("x", "y", "z")))),
    // the budget runs out inside the third column, which keeps its top bits
    Fixture("i64 budget split", KeyOutcome.Truncated, (rng, n) => batch(
      "a" -> longs(n)(rng.nextInt(1 << 20).toLong),
      "b" -> longs(n)(rng.nextInt(1 << 20).toLong),
      "c" -> longs(n)(rng.nextInt(1 << 20).toLong),
      "d" -> longs(n)(rng.nextInt(3).toLong))),
    Fixture("f64 NaN, signed zeros and infinities", KeyOutcome.Truncated, (rng, n) => batch(
      "a" -> Array.fill(n)(if (rng.nextBoolean()) pick(rng, specialDoubles) else rng.nextInt(20) - 10.0d),
      "b" -> longs(n)(rng.nextInt(3).toLong))),
    Fixture("short zero-free strings", KeyOutcome.Truncated, (rng, n) => batch(
      "a" -> utf8(n)(rng.alphanumeric.take(rng.nextInt(9)).mkString),
      "b" -> longs(n)(rng.nextInt(3).toLong))),
    // a zero pad ties with a real 0x00 byte, so the prefix is inexact
    Fixture("short strings with NUL bytes", KeyOutcome.Inexact, (rng, n) => batch(
      "a" -> utf8(n)(pick(rng, nulStrings)),
      "b" -> longs(n)(rng.nextInt(3).toLong))),
    // every string shares its first 8 bytes: a 0-bit key and one tie
    // run over the whole batch
    Fixture("strings longer than 8 bytes", KeyOutcome.Inexact, (rng, n) => batch(
      "a" -> utf8(n)("prefix--" + rng.alphanumeric.take(rng.nextInt(4)).mkString),
      "b" -> longs(n)(rng.nextInt(3).toLong))),
    Fixture("mixed-length strings, then doubles", KeyOutcome.Inexact, (rng, n) => batch(
      "a" -> utf8(n)(pick(rng, IndexedSeq("value", "value-long-", "v\u0000", "")) + rng.nextInt(12)),
      "b" -> Array.fill(n)(pick(rng, specialDoubles)))),
  )

  private val sizes = Seq(0, 1, 2, 15, 16, 17, 1023, 1024, 1025)

  for (f <- fixtures; n <- sizes) {
    test(s"exact order: ${f.name}, n=$n") {
      val b = f.make(new scala.util.Random(n * 31 + f.name.hashCode), n)
      assert(reference(b).toSeq == timsortReference(b).toSeq, "merge reference is not the stable sort")
      assertExactOrder(b, s"${f.name} n=$n")
    }
  }

  for (f <- fixtures) {
    test(s"key outcome at 1025 rows: ${f.name} is ${f.outcome}") {
      val b = f.make(new scala.util.Random(7), 1025)
      assert(ColumnSort.packKeys(b.cols, 1025, ColumnSort.idxBitsFor(1025)).outcome == f.outcome)
    }

    test(s"packing with 31 index bits keeps the exact order: ${f.name}") {
      val b = f.make(new scala.util.Random(11), 1025)
      val keys = ColumnSort.packKeys(b.cols, 1025, idxBits = 31)
      assert(keys.keyBits <= 32)
      assert(ColumnSort.sortPacked(keys, ColumnSort.fullChain(b)).toSeq == reference(b).toSeq)
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

  // the benchmark's four cases, shuffled, at its 100k rows: dictionary
  // ranks pack completely; the f64 column's 63-bit span is truncated;
  // utf8-tuple packs two exact prefixes, then the inexact high-card one
  private val caseOutcomes = Seq(
    Case.Utf8Tuple -> KeyOutcome.Inexact,
    Case.MixedTuple -> KeyOutcome.Truncated,
    Case.DictionaryTuple -> KeyOutcome.Complete,
    Case.MixedDictionaryTuple -> KeyOutcome.Complete)

  for ((c, outcome) <- caseOutcomes) {
    test(s"exact order: shuffled ${c.name} at 100k rows ($outcome)") {
      val n = 100000
      val rows = new scala.util.Random(5).shuffle(c.rows(n))
      val b = ColumnBatch.fromRows(rows, c.schema).dictEncoded(c.dictCols)
      val keys = ColumnSort.packKeys(b.cols, n, ColumnSort.idxBitsFor(n))
      assert(keys.outcome == outcome)
      if (c == Case.DictionaryTuple) assert(keys.keyBits == 21)
      if (c == Case.MixedDictionaryTuple) assert(keys.keyBits == 38)
      assertExactOrder(b, s"shuffled ${c.name}")
    }
  }
}

object ColumnSortKernelSpec {
  final case class Fixture(name: String, outcome: KeyOutcome, make: (scala.util.Random, Int) => ColumnBatch)
}
