package graft.sort

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based differential tests (SURVEY §5): for arbitrary rows —
  * including nulls, NaN, ±0.0, empty/weird strings — every sort kernel
  * yields a permutation of its input, non-decreasing under the composite
  * key, and all kernels agree at key level.
  */
class SortPropertySpec extends SparkSpec {

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

  private def canonKey(rows: Seq[Row]): Seq[String] = {
    val enc = RowFormatSort.encodeKey(schema)
    rows.map(r => enc(r).map("%02x".format(_)).mkString).sorted
  }

  test("property: row kernel is a sorted permutation and matches the comparator") {
    val ord = BatchSort.rowOrdering(schema)
    forAllSamples(genRows) { rowsList =>
      val rows = rowsList.toArray
      val viaBytes = RowFormatSort.sortKernel(rows.clone(), schema)
      val viaCmp = rows.clone()
      java.util.Arrays.sort(viaCmp, ord)
      // permutation (multiset equality via canonical key encoding)
      assert(canonKey(viaBytes.toSeq) == canonKey(rows.toSeq))
      // non-decreasing + key-level agreement
      viaBytes.toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(ord.compare(a, b) <= 0)
        case _ =>
      }
      viaBytes.zip(viaCmp).foreach { case (a, b) => assert(ord.compare(a, b) == 0) }
    }
  }

  test("property: key encoding is order-isomorphic to the comparator") {
    val ord = BatchSort.rowOrdering(schema)
    val enc = RowFormatSort.encodeKey(schema)
    forAllSamples(genRows) { rowsList =>
      for (a <- rowsList.take(15); b <- rowsList.take(15)) {
        val byCmp = Integer.signum(ord.compare(a, b))
        val byKey = Integer.signum(java.util.Arrays.compareUnsigned(enc(a), enc(b)))
        assert(byCmp == byKey, s"ordering mismatch for $a vs $b: cmp=$byCmp key=$byKey")
      }
    }
  }

  test("mixed-tuple dyn-comparator: the two-key hoist preconditions hold on generator data") {
    // col0 is a raw Array[Double] (always exact-keyable via doubleBits)
    // and col1's generator strings are <= 8 bytes with no NUL, so the
    // prefix key qualifies: fullChain hoists both keys into long
    // compares. That chain orders lexsort's runs of rows whose packed
    // leading key ties (the f64 key is truncated to the key budget, so
    // equal f64 values tie) and the k-way merge of MergeStreams.
    val c = graft.datagen.Case.byName("mixed-tuple")
    val cb = graft.sort.ColumnBatch.fromRows(c.rows(5000), c.schema)
    assert(cb.cols(0).isInstanceOf[Array[Double]], "leading f64 must stay a primitive column")
    cb.cols(1) match {
      case u: graft.sort.Utf8Col =>
        assert(u.allShort && u.noZeroBytes,
          "utf_low1 must qualify for the prefix key (two-key hoist precondition)")
      case other => fail(s"col1 expected Utf8Col, got ${other.getClass}")
    }
  }
}
