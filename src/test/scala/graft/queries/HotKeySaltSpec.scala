package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q67b hot-key-only salting: the census split's correctness on BOTH
  * regimes. The oracle gate runs on uniform corpora where the hot set is
  * empty (cold branch only), so the salted branch's equality is pinned
  * here against the zipf fixture, and the uniform plan's degeneration to
  * a plain join is pinned structurally.
  */
class HotKeySaltSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def salted(d: String) =
    Advanced.hotKeySaltedJoined(spark, d)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        graft.Agg.dsum(col("l_extendedprice")).as("sum_price"))

  private def plainJoin(d: String) = {
    val li = graft.Tables.t(spark, d, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"))
    val ord = graft.Tables.t(spark, d, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        graft.Agg.dsum(col("l_extendedprice")).as("sum_price"))
  }

  test("skew fixture: salted branch carries the zipf head, result equals the plain join") {
    // sf0.01, not sf0.001: the operator's census runs on a 1% sample,
    // and the smallest fixture's head (~1200 rows) sits ON the sampled
    // cut (λ≈12 vs cut 10) — at sf0.01 the head samples λ≈120, so the
    // hot branch engages deterministically
    val skewDir = graft.bench.SkewBench.prepare(spark, "/root/testdata/sf0.01")
    // the fixture's hot key exceeds the cut (20% of the corpus on one
    // key) UNDER THE OPERATOR'S OWN SAMPLED CENSUS, so the ×S branch
    // actually runs
    val hotCount = graft.Tables.t(spark, skewDir, "lineitem")
      .sample(withReplacement = false, Advanced.CensusRate, seed = 42)
      .groupBy("l_orderkey").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > Advanced.HotKeyRows * Advanced.CensusRate).count()
    assert(hotCount >= 1, "fixture must produce at least one sampled-hot key")
    val got = salted(skewDir)
      .orderBy("o_orderstatus").collect().toSeq
    val exp = plainJoin(skewDir)
      .orderBy("o_orderstatus").collect().toSeq
    assert(got == exp, s"salted result must equal the plain join:\n$got\nvs\n$exp")
  }

  test("uniform corpus: hot set is empty and only the cold (salt-0) branch carries rows") {
    val hot = graft.Tables.t(spark, dir, "lineitem")
      .groupBy("l_orderkey").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > Advanced.HotKeyRows)
    assert(hot.isEmpty, "uniform data (<=7 rows/key) must produce no hot keys")
    val got = salted(dir)
      .orderBy("o_orderstatus").collect().toSeq
    val exp = plainJoin(dir).orderBy("o_orderstatus").collect().toSeq
    assert(got == exp)
  }
}
