package graft.sort

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based differential tests (SURVEY §5): for arbitrary rows —
  * including nulls, NaN, ±0.0, empty/weird strings — every sort kernel
  * yields a permutation of its input, non-decreasing under the composite
  * key, and all kernels agree at key level.
  */
class SortPropertySpec extends AnyFunSuite {

  /** Drive scalacheck generators deterministically (no scalatestplus
    * bridge in the offline dep set): 30 samples per property, seeded.
    */
  private def forAllSamples[T](gen: Gen[T], n: Int = 30)(body: T => Unit): Unit = {
    val params = Gen.Parameters.default
    (0 until n).foreach { i =>
      body(gen.pureApply(params, Seed(42L + i)))
    }
  }

  private val schema = StructType(Seq(
    StructField("d", DoubleType, nullable = true),
    StructField("s", StringType, nullable = true),
    StructField("l", LongType, nullable = true)))

  private val genDouble: Gen[Any] = Gen.frequency(
    (6, Gen.chooseNum(-1e6, 1e6).map(x => x: Any)),
    (1, Gen.oneOf[Any](Double.NaN, 0.0d, -0.0d, Double.PositiveInfinity, Double.NegativeInfinity)),
    (1, Gen.const(null)))
  private val genString: Gen[Any] = Gen.frequency(
    (6, Gen.alphaNumStr.map(s => s.take(12): Any)),
    (1, Gen.oneOf[Any]("", " ", "\u0000x", "ß", "😀", "value5")),
    (1, Gen.const(null)))
  private val genLong: Gen[Any] = Gen.frequency(
    (6, Gen.chooseNum(Long.MinValue, Long.MaxValue).map(x => x: Any)),
    (1, Gen.const(null)))

  private val genRows: Gen[List[Row]] =
    Gen.listOfN(60, Gen.zip(genDouble, genString, genLong).map { case (d, s, l) => Row(d, s, l) })

  /** Each row's [[ColumnSort.encodeRows]] key, as hex. */
  private def keys(rows: Seq[Row]): IndexedSeq[String] = {
    val (slab, off) = ColumnSort.encodeRows(ColumnBatch.fromRows(rows.toIndexedSeq, schema))
    rows.indices.map(i => slab.slice(off(i), off(i + 1)).map("%02x".format(_)).mkString)
  }

  test("property: row kernel is a sorted permutation and matches the comparator") {
    val ord = RowOrder.rowOrdering(schema)
    forAllSamples(genRows) { rowsList =>
      val rows = rowsList.toIndexedSeq
      val viaCmp = rows.toArray
      java.util.Arrays.sort(viaCmp, ord)
      for (rowFormat <- Seq(false, true)) {
        val viaKernel = ColumnSort.sortBatch(ColumnBatch.fromRows(rows, schema), rowFormat).toRows
        // permutation (multiset equality via canonical key encoding)
        assert(keys(viaKernel).sorted == keys(rows).sorted)
        // non-decreasing + key-level agreement
        viaKernel.sliding(2).foreach {
          case Seq(a, b) => assert(ord.compare(a, b) <= 0)
          case _ =>
        }
        viaKernel.zip(viaCmp).foreach { case (a, b) => assert(ord.compare(a, b) == 0) }
      }
    }
  }

  test("property: key encoding is order-isomorphic to the comparator") {
    val ord = RowOrder.rowOrdering(schema)
    forAllSamples(genRows) { rowsList =>
      val rows = rowsList.take(15)
      val (slab, off) = ColumnSort.encodeRows(ColumnBatch.fromRows(rows.toIndexedSeq, schema))
      for (i <- rows.indices; j <- rows.indices) {
        val (a, b) = (rows(i), rows(j))
        val byCmp = Integer.signum(ord.compare(a, b))
        val byKey = Integer.signum(
          java.util.Arrays.compareUnsigned(slab, off(i), off(i + 1), slab, off(j), off(j + 1)))
        assert(byCmp == byKey, s"ordering mismatch for $a vs $b: cmp=$byCmp key=$byKey")
      }
    }
  }
}
