package graft.functions

import graft.{CorpusCache, SourceScan, SparkEntry, SparkSpec}
import graft.functions.GraftFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The typed builders are the one way program code calls a graft
  * function: they build the Catalyst nodes directly, so a DataFrame
  * made with them analyzes in a session whose registry holds no graft
  * function, and they agree with the by-name SQL spelling — values and
  * argument-check messages alike.
  */
class GraftFunctionsSpec extends SparkSpec {

  private val names: Set[String] = GraftFunctions.all.map(_._1.funcName).toSet

  /** A session with no graft function in its registry. */
  private def fresh(): SparkSession = {
    val s = spark.newSession()
    assert(names.forall(n => !s.catalog.functionExists(n)), "a new session registers nothing")
    s
  }

  private def frame(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (1L, "one two three four five", Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0),
        Array[Byte](1, 2, 3, -6)),
      (2L, "a b a b a", Seq(0.5), Seq(-2.0), Array[Byte](7, 7)),
    ).toDF("id", "text", "a", "b", "p")
  }

  private val mask = Array(0x0f0f0f0f0f0f0f0fL)

  /** (typed builder, the same call by name in SQL), one select each:
    * generators and the aggregate cannot share a projection.
    */
  private val cases: Seq[(Column, String)] = Seq(
    winnowFp(col("text"), 4, 3) -> "winnow_fp(text, 4, 3)",
    md5Long(col("text")) -> "md5_long(text)",
    runStats(split(col("text"), " ")) -> "run_stats(split(text, ' '))",
    vecDot(col("a"), col("b")) -> "vec_dot(a, b)",
    byteHist(col("p"), 4) -> "byte_hist(p, 4)",
    rasterGen(col("id"), lit(4), lit(3)) -> "raster_gen(id, 4, 3)",
    resizeNn(rasterGen(col("id"), lit(4), lit(3)), lit(4), lit(3), 2, 2) ->
      "resize_nn(raster_gen(id, 4, 3), 4, 3, 2, 2)",
    bloomContains(col("id"), mask, 2, 64) -> s"bloom_contains(id, array(${mask(0)}L), 2, 64)",
    byteSimhash(col("p"), 32) -> "byte_simhash(p, 32)",
    pcmGen(col("id"), lit(2), 8) -> "pcm_gen(id, 2, 8)",
    pcmRequant(pcmGen(col("id"), lit(2), 8)) -> "pcm_requant(pcm_gen(id, 2, 8))",
    audioStats(pcmGen(col("id"), lit(2), 8), 8, 100L) -> "audio_stats(pcm_gen(id, 2, 8), 8, 100)",
    shingleGen(col("text"), 2) -> "shingle_gen(text, 2)",
    spanGen(col("text"), 2) -> "span_gen(text, 2)",
  )

  test("every typed builder evaluates in a fresh session and equals its SQL spelling") {
    GraftFunctions.register(spark)
    val s = fresh()
    val typed = frame(s)
    val named = frame(spark)
    for ((c, sql) <- cases) {
      val got = typed.select(c).collect().toSeq
      assert(got.nonEmpty && got == named.selectExpr(sql).collect().toSeq, sql)
    }
    val kth = typed.agg(kmvKth(col("id"), 2)).collect().toSeq
    assert(kth == named.selectExpr("kmv_kth(id, 2)").collect().toSeq && kth.head.getLong(0) == 2L)
    assert(typed.select(md5Long(lit("abc"))).head().getLong(0) ==
      java.lang.Long.parseLong("900150983cd24fb", 16))
    assert(names.forall(n => !s.catalog.functionExists(n)), "the builders registered nothing")
  }

  test("registry-free inventory queries run in a fresh session at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val s = fresh()
    try {
      for (n <- Seq("d3b_lsh_pairs", "s1_knn_brute", "t5_winnow", "m7_resize_neardup",
          "q68_kmv_agg", "d11_bloom_decontam"))
        assert(SparkEntry.queries(n)(s, dir).collect().length >= 0, n)
    } finally CorpusCache.release(dir)
  }

  test("a bad argument fails with the same message through SQL and the typed builder") {
    GraftFunctions.register(spark)
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    val bad: Seq[(String, () => Column)] = Seq(
      "shingle_gen('a b', 0)" -> (() => shingleGen(lit("a b"), 0)),
      "span_gen('a b', 0)" -> (() => spanGen(lit("a b"), 0)),
      "kmv_kth(1L, 0)" -> (() => kmvKth(lit(1L), 0)),
      "byte_hist(X'01', 0)" -> (() => byteHist(lit(Array[Byte](1)), 0)),
      "resize_nn(X'00', 1, 1, 0, 2)" -> (() => resizeNn(lit(Array[Byte](0)), lit(1), lit(1), 0, 2)),
      "bloom_contains(1L, array(0L), 1, 96)" -> (() => bloomContains(lit(1L), Array(0L), 1, 96)),
      "bloom_contains(1L, array(0L), 1, 128)" -> (() => bloomContains(lit(1L), Array(0L), 1, 128)),
      "bloom_contains(1L, array(0L), 0, 64)" -> (() => bloomContains(lit(1L), Array(0L), 0, 64)),
      "byte_simhash(X'01', 0)" -> (() => byteSimhash(lit(Array[Byte](1)), 0)),
      "byte_simhash(X'01', 61)" -> (() => byteSimhash(lit(Array[Byte](1)), 61)),
      "pcm_gen(1L, 2, 0)" -> (() => pcmGen(lit(1L), lit(2), 0)),
      "audio_stats(X'01', 0, 5)" -> (() => audioStats(lit(Array[Byte](1)), 0, 5L)),
    )
    for ((sql, build) <- bad) {
      val typed = intercept[IllegalArgumentException](build()).getMessage
      val viaSql = intercept[Exception](spark.sql(s"SELECT $sql").collect())
      assert(messages(viaSql).exists(_.contains(typed)), s"$sql: <$typed> vs $viaSql")
    }
  }

  test("operator code calls graft functions only through the typed builders") {
    val alt = names.toSeq.sorted.mkString("|")
    val byName = s"""call_function\\(\\s*"($alt)"""".r
    // the string argument of a Spark-side SQL text: expr("…"), selectExpr("…"), s.sql("…")
    val sqlText = "(?:\\bexpr|\\bselectExpr|\\.sql)\\(\\s*s?(\"\"\"[\\s\\S]*?\"\"\"|\"(?:[^\"\\\\]|\\\\.)*\")".r
    val inSql = s"\\b($alt)\\s*\\(".r
    val offenders = SourceScan()
      .filterNot { case (p, _) =>
        p.toString.contains("/functions/") || p.getFileName.toString == "Graft.scala"
      }
      .flatMap { case (p, src) =>
        Option.when(src.contains("GraftFunctions.register("))(s"$p: register") ++
          byName.findAllMatchIn(src).map(m => s"$p: call_function ${m.group(1)}") ++
          sqlText.findAllMatchIn(src).flatMap(m => inSql.findFirstMatchIn(m.group(1)))
            .map(m => s"$p: ${m.group(1)} in SQL text")
      }
    assert(offenders.isEmpty,
      s"call the typed builder in graft.functions.GraftFunctions instead: ${offenders.mkString("; ")}")
  }
}
