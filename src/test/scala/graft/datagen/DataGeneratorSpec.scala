package graft.datagen

import graft.SparkSpec
import graft.sort.RowOrder

/** Distributional-contract tests for the generators (SURVEY §5:
  * low-card = exactly the 100 strings value0..value99; high-card 20-char
  * alphabetic; i64 uniform in [0, n); every batch pre-sorted & null-free;
  * fixed seed → identical batch on every call).
  */
class DataGeneratorSpec extends SparkSpec {

  test("determinism: same call twice yields identical rows") {
    for (c <- Case.all) {
      assert(c.rows(500) == c.rows(500), s"${c.name} not deterministic")
    }
  }

  test("low-cardinality columns draw from value0..value99 only") {
    val rows = Case.Utf8Tuple.rows(5000)
    val allowed = (0 until 100).map("value" + _).toSet
    val lowVals = rows.flatMap(r => Seq(r.getString(0), r.getString(1))).toSet
    assert(lowVals.subsetOf(allowed))
    assert(lowVals.size > 50, "5000 draws should cover most of the 100 values")
  }

  test("high-cardinality column: 20-char ASCII-alphabetic, near-unique") {
    val rows = Case.Utf8Tuple.rows(2000)
    val highs = rows.map(_.getString(2))
    assert(highs.forall(s => s.length == 20 && s.forall(ch => ch.isLetter && ch < 128)))
    assert(highs.distinct.size > 1990, "20 random alpha chars should rarely collide")
  }

  test("i64 uniform in [0, n) with ~1/3 repeats") {
    val rows = Case.MixedTuple.rows(6000)
    val longs = rows.map(_.getLong(3))
    assert(longs.forall(v => v >= 0 && v < 6000))
    val distinctFrac = longs.distinct.size.toDouble / longs.size
    assert(distinctFrac > 0.5 && distinctFrac < 0.75, s"distinct fraction $distinctFrac") // e^-1 missing ≈ .632 present
  }

  test("f64 column is integral doubles from the i64 distribution") {
    val rows = Case.MixedTuple.rows(3000)
    val ds = rows.map(_.getDouble(0))
    assert(ds.forall(d => !d.isNaN && !d.isInfinite && d == math.floor(d) && d >= 0 && d < 3000))
  }

  test("every generated batch is pre-sorted by the full tuple and null-free") {
    for (c <- Case.all) {
      val rows = c.rows(1000)
      assert(rows.forall(r => (0 until r.length).forall(!r.isNullAt(_))), s"${c.name} has nulls")
      val ord = RowOrder.rowOrdering(c.schema)
      rows.sliding(2).foreach {
        case Seq(a, b) => assert(ord.compare(a, b) <= 0, s"${c.name} not pre-sorted")
        case _ =>
      }
    }
  }

  test("single-partition DataFrame round-trip preserves rows") {
    val c = Case.MixedDictionaryTuple
    val df = c.df(spark, 300)
    assert(df.rdd.getNumPartitions == 1)
    assert(df.collect().toSeq == c.rows(300))
  }
}
