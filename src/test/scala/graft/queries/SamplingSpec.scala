package graft.queries

import graft.{SparkEntry, SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** q31/q32 behavior + plan pins: the two-phase sampler's oversample
  * margin and plan shape, and unpivot's Expand-lowering.
  */
class SamplingSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("q31: exactly k rows per stratum, hash-deterministic across runs") {
    val out = SparkEntry.queries("q31_sample")(spark, dir)
    val perStratum = out.groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perStratum.values.forall(_ == 100L), s"per-stratum counts: $perStratum")
    // reproducible: a second run returns the same sample (no rand())
    val again = SparkEntry.queries("q31_sample")(spark, dir)
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
  }

  test("q31: the sorted sliver is oversample-bounded, not the corpus") {
    import graft.pipeline.Portable.md5Long
    val li = Tables.t(spark, dir, "lineitem")
    val n = li.count()
    val withH = li.withColumn("h",
      md5Long(concat_ws("-", col("l_orderkey"), col("l_linenumber"))))
    // replicate the cut rule for the largest stratum and check the two
    // phase-1 guarantees: the sliver holds >= k rows (correctness — the
    // window sees every rank-k candidate) and is a small corpus fraction
    // (scale — the per-stratum sort never receives the stratum)
    val counts = withH.groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    counts.foreach { case (flag, nS) =>
      if (nS > 800) {
        val cut = ((BigInt(1) << 60) * BigInt(800) / BigInt(nS) + 1).toLong
        val sliver = withH.filter(col("l_returnflag") === flag && col("h") < cut).count()
        assert(sliver >= 100, s"stratum $flag sliver $sliver < k")
        assert(sliver < nS / 2, s"stratum $flag sliver $sliver not a sliver of $nS")
      }
    }
  }

  test("q31 plan: hash filter runs before the window exchange") {
    val p = SparkEntry.queries("q31_sample")(spark, dir)
      .queryExecution.executedPlan.toString
    // plan prints top-down: the sliver filter (h < cut, an md5_long
    // comparison) must sit BELOW the stratum exchange, directly over the
    // scan — the map side sheds the corpus before anything shuffles
    val sliverIdx = p.indexOf("Filter (md5_long")
    val exchangeIdx = p.indexOf("Exchange")
    val windowIdx = p.indexOf("Window ")
    assert(sliverIdx >= 0 && exchangeIdx >= 0 && windowIdx >= 0, s"markers missing:\n$p")
    assert(windowIdx < exchangeIdx && exchangeIdx < sliverIdx,
      s"expected Window <- Exchange <- sliver Filter ordering:\n$p")
    // bonus from declarativity: Spark caps each map task at k rows per
    // stratum BEFORE the exchange (partial WindowGroupLimit), so the
    // shuffle carries at most k * tasks rows even inside the sliver
    assert(p.indexOf("WindowGroupLimit") >= 0 &&
      p.indexOf("Partial") > exchangeIdx,
      s"expected partial window-group-limit below the exchange:\n$p")
  }

  test("q35: per-stratum counts follow the proportional allocation") {
    val li = Tables.t(spark, dir, "lineitem")
    val counts = li.groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = counts.values.sum
    // the spec'd rule, recomputed independently: floor division, min 1
    val expected = counts.map { case (f, ng) =>
      f -> math.min(ng, math.max(1L, 600L * ng / n))
    }
    val perStratum = SparkEntry.queries("q35_weighted_sample")(spark, dir)
      .groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perStratum == expected, s"got $perStratum want $expected")
  }

  test("q35 plan: allocation joins by broadcast, corpus never sort-merges") {
    val df = SparkEntry.queries("q35_weighted_sample")(spark, dir)
    df.collect() // finalize the adaptive plan (AQE picks the join strategy)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"the |strata|-row allocation table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must not sort-merge against the allocation:\n$p")
  }

  test("q32: melt preserves mass and lowers to Expand (no pre-agg shuffle)") {
    val df = SparkEntry.queries("q32_unpivot")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Expand"), s"unpivot should lower to Expand:\n$p")
    // exactly one Exchange: the final (brand, metric) aggregate
    assert(p.sliding("Exchange".length).count(_ == "Exchange") == 1,
      s"only the aggregate may shuffle:\n$p")
    val out = df.collect()
    val nParts = Tables.t(spark, dir, "part").count()
    assert(out.map(_.getLong(2)).sum == 2 * nParts, "every part contributes 2 melted rows")
    assert(out.map(_.getString(1)).toSet == Set("p_size", "p_retailprice"))
  }
}
