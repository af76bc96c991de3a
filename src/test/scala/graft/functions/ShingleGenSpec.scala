package graft.functions

import graft.SparkSpec
import graft.pipeline.Portable
import org.apache.spark.sql.functions._

/** shingle_gen custom Generator: hash-differential against the explode
  * pipeline it replaces (the dedup oracles' correctness rests on this
  * equivalence), plan shape (one Generate node, inside WholeStageCodegen),
  * and the registration/typing contract.
  */
class ShingleGenSpec extends SparkSpec {

  private def gen(df: org.apache.spark.sql.DataFrame, n: Int) = {
    GraftFunctions.register(spark)
    df.select(col("doc_id"), call_function("shingle_gen", col("text"), lit(n)).as("h"))
  }

  /** The chain rawShingles ran before the generator landed — kept here
    * as the differential oracle.
    */
  private def legacy(df: org.apache.spark.sql.DataFrame, n: Int) = {
    df.select(col("doc_id"), explode(Portable.spansK(Portable.words(col("text")), n)).as("s"))
      .select(col("doc_id"), Portable.md5Long(col("s")).as("h"))
  }

  test("differential: generator rows == explode+md5 rows on the corpus (n=3 and n=2)") {
    val docs = graft.Tables.t(spark, "/root/testdata/sf0.001", "documents")
    for (n <- Seq(2, 3)) {
      val a = gen(docs, n)
      val b = legacy(docs, n)
      // multiset equality both directions (exceptAll is bag semantics)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"n=$n: generator and explode pipeline must emit identical (doc_id, h) bags")
      assert(a.count() == b.count())
    }
  }

  test("edge cases: null, empty, whitespace-only, fewer-than-n words, weird spacing") {
    import spark.implicits._
    val edge = Seq(
      (1L, null.asInstanceOf[String]),
      (2L, ""),
      (3L, "   \t \n "),
      (4L, "one two"),
      (5L, "  Tabs\tand  runs   collapse "),
      (6L, "a b c d"),
      (7L, "Ünïcode ÉXPECTS lower casing too yes"),
    ).toDF("doc_id", "text")
    val a = gen(edge, 3).collect().toSeq
    val b = legacy(edge, 3).collect().toSeq
    assert(a.sortBy(r => (r.getLong(0), r.getLong(1))) ==
      b.sortBy(r => (r.getLong(0), r.getLong(1))))
    // null and thin docs emit nothing; doc 6 emits 2 shingles
    val byDoc = a.groupBy(_.getLong(0)).view.mapValues(_.size).toMap
    assert(!byDoc.contains(1L) && !byDoc.contains(2L) && !byDoc.contains(3L) && !byDoc.contains(4L))
    assert(byDoc(6L) == 2)
  }

  test("span_gen differential: (i, h) rows == posexplode+1+md5 rows (d8's chain, k=8)") {
    GraftFunctions.register(spark)
    val docs = graft.Tables.t(spark, "/root/testdata/sf0.001", "documents")
    val a = docs.select(col("doc_id"), call_function("span_gen", col("text"), lit(8)))
    val b = docs
      .select(col("doc_id"), posexplode(Portable.spansK(Portable.words(col("text")), 8)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("i"),
        Portable.md5Long(col("col")).as("h"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "span_gen and the posexplode chain must emit identical (doc_id, i, h) bags")
    // 1-based: every doc's minimum i is exactly 1
    val minI = a.groupBy("doc_id").agg(min(col("i")).as("m")).select("m").distinct().collect()
    assert(minI.map(_.getLong(0)).toSeq == Seq(1L), "window starts must be 1-based")
  }

  test("plan: ONE Generate node with the generator, no shingle-string intermediates") {
    val docs = graft.Tables.t(spark, "/root/testdata/sf0.001", "documents")
    val plan = gen(docs, 3).queryExecution.executedPlan.toString
    assert(plan.contains("shingle_gen"), s"expected the generator node:\n$plan")
    assert(!plan.contains("md5_long"),
      s"the fused generator must not leave a separate hash projection:\n$plan")
    // the generator supports codegen (not a CodegenFallback): the
    // Generate node participates in WholeStageCodegen
    assert(ShingleGenerator(org.apache.spark.sql.catalyst.expressions.Literal("x"), 3)
      .supportCodegen)
    // the tree string marks codegen'd nodes with a `*(stage)` prefix —
    // the Generate node must carry one (GenerateExec.codeGenIterableOnce)
    assert(plan.linesIterator.exists(l => l.trim.matches("""\*\(\d+\) Generate shingle_gen.*""")),
      s"Generate must sit inside WholeStageCodegen:\n$plan")
  }

  test("registration rejects bad arity/args; typing fails non-string at analysis") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      df.select(call_function("shingle_gen", col("text"), lit(0))).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("n must be positive")), s"got: $e")
    val e2 = intercept[Exception] {
      df.select(call_function("shingle_gen", col("doc_id"), lit(3))).collect()
    }
    assert(messages(e2).exists(_.toLowerCase.contains("string")), s"got: $e2")
  }
}
