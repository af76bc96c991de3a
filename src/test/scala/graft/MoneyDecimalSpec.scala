package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Pins [[Agg.money]] to Spark's own `CAST(c AS DECIMAL(30, s))`: the
  * same value on half units and large values, the same NULLs and the
  * same exception classes, with ANSI on and off, generated and
  * interpreted — and no other money-decimal spelling in
  * `src/main/scala`.
  */
class MoneyDecimalSpec extends SparkSpec {

  private val scales = Seq(2, 9)

  /** Runs `body` with ANSI `ansi` and, for `interpreted`, no codegen. */
  private def withConf[T](ansi: Boolean, interpreted: Boolean)(body: => T): T = {
    val confs = Map(
      "spark.sql.ansi.enabled" -> ansi.toString,
      "spark.sql.codegen.wholeStage" -> (!interpreted).toString,
      "spark.sql.codegen.factoryMode" -> (if (interpreted) "NO_CODEGEN" else "FALLBACK"))
    val old = confs.keys.map(k => k -> spark.conf.getOption(k))
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val modes = for (ansi <- Seq(true, false); interp <- Seq(false, true)) yield (ansi, interp)

  private def doubles(xs: Seq[java.lang.Double]): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(xs.map(Option(_).map(_.doubleValue)), 4).toDF("d")
  }

  /** Rows where money and the cast differ (`<=>`: NULLs compare too). */
  private def mismatches(df: DataFrame, scale: Int): Long =
    df.select(Agg.money(col("d"), scale).as("m"), col("d").cast(DecimalType(30, scale)).as("c"))
      .filter(!(col("m") <=> col("c"))).count()

  /** Each input's result, or the class of what it throws, through `f`. */
  private def outcomes(xs: Seq[java.lang.Double], f: Column => Column): Seq[Any] =
    xs.map { x =>
      try doubles(Seq(x)).select(f(col("d"))).head().get(0)
      catch {
        case e: Throwable =>
          Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getClass.getName).toList
      }
    }

  private def boundary(scale: Int): Seq[java.lang.Double] = {
    val unit = math.pow(10, -scale)
    val halves = (Seq(0L, 1L, 2L, 7L, 67L, 100L, 267L, 1004L, 123456789L) ++ (0L until 200L))
      .flatMap(k => Seq((k + 0.5) * unit, -(k + 0.5) * unit,
        k * unit + unit / 2 * 0.999999, k * unit + unit / 2 * 1.000001))
    val large = 1e13 * unit
    val nearLarge = Seq(large, -large, large - unit, -(large - unit), large + unit, -(large + unit),
      math.nextDown(large), math.nextUp(large), large * 10, large / 10 + unit / 2)
    val special = Seq(-0.0, 0.0, java.lang.Double.MIN_VALUE, -java.lang.Double.MIN_VALUE,
      java.lang.Double.MIN_NORMAL, 1e-310, unit / 3, 2.675, 1.005, 0.1 + 0.2, 1e20, -1e20)
    (halves ++ nearLarge ++ special).map(java.lang.Double.valueOf) :+ null
  }

  private val offRange: Seq[java.lang.Double] = Seq(
    Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 1e29, -1e29, Double.MaxValue)
      .map(java.lang.Double.valueOf)

  test("money equals Spark's cast on half units, large values, signed zeros, subnormals and NULL") {
    for (scale <- scales; (ansi, interp) <- modes) withConf(ansi, interp) {
      assert(mismatches(doubles(boundary(scale)), scale) == 0,
        s"scale $scale, ansi $ansi, interpreted $interp")
    }
  }

  test("money gives the cast's NULL or exception class on NaN, infinities and overflow") {
    for (scale <- scales; (ansi, interp) <- modes) withConf(ansi, interp) {
      val got = outcomes(offRange, Agg.money(_, scale))
      val want = outcomes(offRange, _.cast(DecimalType(30, scale)))
      assert(got == want, s"scale $scale, ansi $ansi, interpreted $interp")
      // Spark casts NaN and the infinities to NULL in both modes; an
      // overflow is NULL without ANSI and an error with it
      if (!ansi) assert(got.forall(_ == null), s"a non-ANSI cast gives NULL: $got")
      else assert(got.takeRight(3).forall(_.isInstanceOf[List[_]]), s"an ANSI overflow throws: $got")
    }
  }

  test("dsum over random groups equals sum(cast).cast(double), with NULLs") {
    val rnd = new scala.util.Random(7L)
    val xs = Seq.fill(200000)(rnd.nextInt(20) match {
      case 0 => null
      case 1 => java.lang.Double.valueOf(rnd.nextDouble() * 1e6)
      case _ => java.lang.Double.valueOf(rnd.nextInt(100000000) / 100.0 * (if (rnd.nextBoolean()) 1 else -1))
    })
    import spark.implicits._
    val df = spark.sparkContext.parallelize(xs.zipWithIndex.map { case (x, i) =>
      (i % 97, Option(x).map(_.doubleValue)) }, 4).toDF("g", "d")
    for (scale <- scales; (ansi, interp) <- modes) withConf(ansi, interp) {
      val got = df.groupBy("g").agg(Agg.dsum(col("d"), scale).as("s"))
      val want = df.groupBy("g").agg(sum(col("d").cast(DecimalType(30, scale))).cast("double").as("w"))
      val joined = got.join(want, "g")
      assert(joined.count() == 97)
      assert(joined.filter(!(col("s") <=> col("w"))).count() == 0,
        s"scale $scale, ansi $ansi, interpreted $interp")
    }
  }

  test("no money-decimal spelling in src/main/scala outside core.scala") {
    val offenders = SourceScan("src/main/scala")
      .filterNot(_._1.getFileName.toString == "core.scala") // Agg.money itself
      .collect { case (p, src) if src.replaceAll("\\s+", "").contains("DecimalType(30") =>
        p.getFileName.toString }
    assert(offenders.isEmpty,
      s"DecimalType(30 outside Agg.money — cast money through graft.Agg.money: $offenders")
  }
}
