package graft.datagen

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.math.Ordering.Double.TotalOrdering
import scala.util.Random

/** Deterministic synthetic workload generators — the reference's four
  * benchmark "cases" rebuilt in Scala (reference: `src/data.rs:13-29`).
  *
  * Distributional contracts (reference `src/data.rs:185-242`):
  *  - `i64`: uniform in `[0, n)` → ≈1/3 repeated values (`src/data.rs:198-203`)
  *  - `f64`: the `i64` distribution cast to double — integral, finite,
  *    never NaN (`src/data.rs:104,206-208`)
  *  - `utf8_low`: uniform pick from exactly 100 strings
  *    `"value0".."value99"` (`src/data.rs:210-224`)
  *  - `utf8_high`: 20-char random ASCII-alphabetic string
  *    (`src/data.rs:226-241`)
  *
  * Determinism is a hard contract: the reference seeds a fresh RNG with 42
  * on every call (`src/data.rs:193`), so regenerating a batch yields
  * identical data. We mirror that: `new Random(Seed)` per call. (We do NOT
  * promise byte-equality with the Rust RNG stream — only the same
  * distributions, cardinalities, and the same determinism property.)
  *
  * Every generated batch is null-free and pre-sorted ascending by the full
  * column tuple (`src/data.rs:67,98,137,164`), i.e. the benchmark sorts
  * already-sorted input.
  */
object DataGenerator {
  val Seed = 42L
  val LowCardinality = 100 // "value0".."value99", src/data.rs:212-214
  val HighCardStringLen = 20 // src/data.rs:234-241

  private val Alpha = (('a' to 'z') ++ ('A' to 'Z')).toArray

  def i64Values(rng: Random, n: Int): Array[Long] =
    Array.fill(n)(rng.nextLong(n.toLong.max(1L)))

  def f64Values(rng: Random, n: Int): Array[Double] =
    i64Values(rng, n).map(_.toDouble)

  def utf8LowValues(rng: Random, n: Int): Array[String] =
    Array.fill(n)("value" + rng.nextInt(LowCardinality))

  def randomString(rng: Random): String = {
    val sb = new java.lang.StringBuilder(HighCardStringLen)
    var i = 0
    while (i < HighCardStringLen) { sb.append(Alpha(rng.nextInt(Alpha.length))); i += 1 }
    sb.toString
  }

  def utf8HighValues(rng: Random, n: Int): Array[String] =
    Array.fill(n)(randomString(rng))
}

/** One benchmark workload shape (reference `Case`, `src/data.rs:13-19`). */
sealed abstract class Case(val name: String) {
  def schema: StructType
  /** Rows pre-sorted ascending by the full tuple, deterministic in `n`. */
  def rows(n: Int): IndexedSeq[Row]

  /** Columns the reference stores dictionary-encoded
    * (`src/data.rs:142-144,170-172`); the columnar sort kernels mirror
    * that layout for these cases.
    */
  def dictCols: Set[Int] = Set.empty

  /** The generated batch as a single-partition DataFrame (the Spark analog
    * of "one in-memory RecordBatch", SURVEY §1.4).
    *
    * Generation happens EXECUTOR-side: the task closure ships only this
    * case object (i.e. the seed + recipe) and each task materializes its
    * rows locally — the only datagen pattern that survives at cluster
    * scale. Driver-side `parallelize(rows(n))` would serialize the whole
    * batch into the task binary (the "task of very large size" warning).
    */
  def df(spark: SparkSession, n: Int): DataFrame = {
    val self = this
    val rdd = spark.sparkContext.parallelize(Seq(n), 1)
      .mapPartitions(it => it.flatMap(self.rows))
    spark.createDataFrame(rdd, schema)
  }
}

object Case {
  import DataGenerator._

  /** The four benchmark cases (`src/data.rs:13-19`). */
  val all: Seq[Case] = Seq(Utf8Tuple, MixedTuple, DictionaryTuple, MixedDictionaryTuple)

  def byName(s: String): Case =
    all.find(_.name == s).getOrElse(
      throw new IllegalArgumentException(
        s"unknown case '$s' (expected one of ${all.map(_.name).mkString(", ")})"))

  private def str(n: String) = StructField(n, StringType, nullable = true)
  private def lng(n: String) = StructField(n, LongType, nullable = true)
  private def dbl(n: String) = StructField(n, DoubleType, nullable = true)

  /** 3-col (low-card, low-card, high-card) strings — `src/data.rs:56-84`. */
  case object Utf8Tuple extends Case("utf8-tuple") {
    val schema = StructType(Seq(str("utf_low1"), str("utf_low2"), str("utf_high")))
    def rows(n: Int): IndexedSeq[Row] = {
      val rng = new Random(Seed)
      val (a, b, c) = (utf8LowValues(rng, n), utf8LowValues(rng, n), utf8HighValues(rng, n))
      (0 until n).map(i => (a(i), b(i), c(i))).sorted
        .map { case (x, y, z) => Row(x, y, z) }
    }
  }

  /** 4-col (f64, utf_low1, utf_low2, i64) — `src/data.rs:87-116`; the f64
    * column is integral doubles derived from i64 draws (`src/data.rs:104`).
    */
  case object MixedTuple extends Case("mixed-tuple") {
    val schema = StructType(Seq(dbl("f64"), str("utf_low1"), str("utf_low2"), lng("i64")))
    def rows(n: Int): IndexedSeq[Row] = {
      val rng = new Random(Seed)
      val f = f64Values(rng, n)
      val (a, b) = (utf8LowValues(rng, n), utf8LowValues(rng, n))
      val l = i64Values(rng, n)
      (0 until n).map(i => (f(i), a(i), b(i), l(i))).sorted
        .map { case (w, x, y, z) => Row(w, x, y, z) }
    }
  }

  /** 3-col low-card strings, dictionary-encoded in the reference
    * (`src/data.rs:129-152`); Spark has no user-visible dictionary type —
    * plain StringType, encoding happens in Parquet/ColumnVector (SURVEY §1.2).
    */
  case object DictionaryTuple extends Case("dictionary-tuple") {
    val schema = StructType(Seq(str("a"), str("b"), str("c")))
    override val dictCols = Set(0, 1, 2)
    def rows(n: Int): IndexedSeq[Row] = {
      val rng = new Random(Seed)
      val (a, b, c) = (utf8LowValues(rng, n), utf8LowValues(rng, n), utf8LowValues(rng, n))
      (0 until n).map(i => (a(i), b(i), c(i))).sorted
        .map { case (x, y, z) => Row(x, y, z) }
    }
  }

  /** Single-column variants (reference defines but never invokes them —
    * `src/data.rs:32-53,119-126`; SURVEY §2 #11).
    */
  case object Utf8Low extends Case("utf8-low") {
    val schema = StructType(Seq(str("utf_low")))
    def rows(n: Int): IndexedSeq[Row] = {
      val rng = new Random(Seed)
      utf8LowValues(rng, n).sorted(Ordering.String).toIndexedSeq.map(Row(_))
    }
  }

  case object Utf8High extends Case("utf8-high") {
    val schema = StructType(Seq(str("utf_high")))
    def rows(n: Int): IndexedSeq[Row] = {
      val rng = new Random(Seed)
      utf8HighValues(rng, n).sorted(Ordering.String).toIndexedSeq.map(Row(_))
    }
  }

  case object Dict extends Case("dict") {
    val schema = StructType(Seq(str("a")))
    def rows(n: Int): IndexedSeq[Row] = {
      val rng = new Random(Seed)
      utf8LowValues(rng, n).sorted(Ordering.String).toIndexedSeq.map(Row(_))
    }
  }

  /** 3× dict string + i64 — `src/data.rs:155-182`. */
  case object MixedDictionaryTuple extends Case("mixed-dictionary-tuple") {
    val schema = StructType(Seq(str("a"), str("b"), str("c"), lng("d")))
    override val dictCols = Set(0, 1, 2)
    def rows(n: Int): IndexedSeq[Row] = {
      val rng = new Random(Seed)
      val (a, b, c) = (utf8LowValues(rng, n), utf8LowValues(rng, n), utf8LowValues(rng, n))
      val d = i64Values(rng, n)
      (0 until n).map(i => (a(i), b(i), c(i), d(i))).sorted
        .map { case (w, x, y, z) => Row(w, x, y, z) }
    }
  }
}
