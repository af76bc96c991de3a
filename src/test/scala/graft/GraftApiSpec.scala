package graft

/** The facade is the library's front door — pin that one `register`
  * call makes the whole surface reachable from plain `spark.sql`, and
  * that `sql` reads the corpus as it is at the call.
  */
class GraftApiSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("register wires every table view and the custom functions") {
    Graft.register(spark, dir)
    for (n <- Tables.names)
      assert(spark.sql(s"SELECT * FROM $n LIMIT 1").count() == 1L,
        s"view $n must be queryable after register")
    val fp = spark.sql(
      "SELECT md5_long(text) AS h, size(winnow_fp(text, 8, 4)) AS n FROM documents LIMIT 5")
      .collect()
    assert(fp.length == 5 && fp.forall(r => !r.isNullAt(0)),
      "custom expressions must be callable from SQL")
  }

  test("run executes any inventory operator by name; unknown names fail loudly") {
    assert(Graft.queryNames.size == SparkEntry.queries.size)
    assert(Graft.run(spark, dir, "q1_agg").count() > 0)
    val e = intercept[IllegalArgumentException](Graft.run(spark, dir, "nope"))
    assert(e.getMessage.contains("unknown graft query"))
  }

  test("sql composes registration with an ad-hoc query") {
    val n = Graft.sql(spark, dir,
      "SELECT count(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey")
      .collect()(0).getLong(0)
    assert(n > 0)
  }

  test("sql reads a corpus rewritten in place between two calls") {
    val fix = java.nio.file.Files.createTempDirectory("graft-api-rewrite").toString
    Tables.names.foreach(n => java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/$n.parquet"), java.nio.file.Paths.get(s"$fix/$n.parquet")))
    def keys = Graft.sql(spark, fix, "SELECT o_orderkey FROM orders")
      .collect().map(_.getLong(0)).toSet
    val all = keys
    val kept = all.filter(_ % 5 == 0)
    Tables.read(spark, s"$dir/orders.parquet")
      .filter(org.apache.spark.sql.functions.col("o_orderkey") % 5 === 0)
      .write.mode("overwrite").parquet(s"$fix/orders.parquet")
    assert(kept.nonEmpty && kept != all)
    assert(keys == kept, "the second call must read the rewritten orders")
  }
}
