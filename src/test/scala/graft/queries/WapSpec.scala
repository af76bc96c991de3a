package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q58 write-audit-publish: the decision semantics the oracle checks
  * by hash, pinned here as named assertions — the clean batch lands,
  * the poisoned batch is rejected with every row attributed, and the
  * published census is exactly base ∪ accepted — and the audit is one
  * corpus query, not a job per check.
  */
class WapSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("q58: clean batch publishes, poisoned batch rejected whole, census = base + 3") {
    val r = graft.SparkEntry.queries("q58_wap")(spark, dir).cache()
    try {
      val audit = r.filter(col("part") === "audit")
        .select("k", "n").collect().map(x => (x.getString(0), x.getLong(1))).toMap
      assert(audit("batchA") == 0L, "the clean batch must audit clean")
      assert(audit("batchB") == 5L,
        "every poisoned row is a violation (null FK, dup pair x2, orphan FK, bad status)")
      val published = r.filter(col("part") === "published")
        .agg(sum("n")).head().getLong(0)
      val base = graft.Tables.t(spark, dir, "orders").count()
      assert(published == base + 3,
        "published census is exactly the base table plus the accepted batch")
    } finally r.unpersist(blocking = true)
  }

  test("q58: the accepted batch's rows are really inside the published census") {
    val r = graft.SparkEntry.queries("q58_wap")(spark, dir)
    // re-derive the expected census membership receipt for batch A's
    // statuses: XOR over base rows of that status plus A's key — one
    // wrong/missing accepted row flips the receipt
    val keyX = graft.pipeline.Portable.md5Long(col("o_orderkey").cast("string"))
    val expected = graft.Tables.t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"))
      .unionByName(spark.sql("""
        SELECT CAST(k AS BIGINT) AS o_orderkey, st AS o_orderstatus
        FROM VALUES (910000001, 'O'), (910000002, 'F'), (910000003, 'P') AS v(k, st)"""))
      .groupBy(col("o_orderstatus"))
      .agg(bit_xor(keyX).as("want_xor"))
    val got = r.filter(col("part") === "published")
      .select(col("k").as("o_orderstatus"), col("key_xor"))
    val bad = got.join(expected, "o_orderstatus")
      .filter(col("key_xor") =!= col("want_xor"))
    assert(bad.count() == 0,
      "published membership per status must equal base ∪ accepted batch exactly")
  }

  test("q58: a NULL o_orderstatus group publishes as a NULL census row") {
    import spark.implicits._
    val tiny = java.nio.file.Files.createTempDirectory("graft-q58-null").toString
    Seq[(Long, Long, String, Double)]((1L, 1L, "O", 100.0), (2L, 2L, null, 50.0))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .write.parquet(s"$tiny/orders.parquet")
    (1L to 3L).toDF("c_custkey").write.parquet(s"$tiny/customer.parquet")
    val published = graft.SparkEntry.queries("q58_wap")(spark, tiny)
      .filter(col("part") === "published").collect()
    val nullRow = published.filter(_.isNullAt(1))
    assert(nullRow.length == 1, s"one NULL-status group expected: ${published.toSeq}")
    assert(nullRow.head.getLong(2) == 1L)
    assert(published.head.isNullAt(1), "the NULL group sorts first")
    assert(published.map(r => Option(r.getString(1)) -> r.getLong(2)).toMap ==
      Map(None -> 1L, Some("O") -> 2L, Some("F") -> 1L, Some("P") -> 1L),
      "the clean batch publishes beside the NULL group")
  }

  test("q58 builds its result with at most 3 Spark jobs") {
    graft.SparkEntry.queries("q58_wap")(spark, dir) // warm: the tables' schemas are inferred
    val jobs = graft.JobCount(spark)(graft.SparkEntry.queries("q58_wap")(spark, dir))
    assert(jobs <= 3, s"q58 ran $jobs construction jobs")
  }
}
