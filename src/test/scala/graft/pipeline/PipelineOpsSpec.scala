package graft.pipeline

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** Behavior pins for the round-4 operator wave (t7/t8/d7) on crafted
  * fixtures with hand-computed expectations, plus invariants on the real
  * testdata where the operator composes a whole upstream pipeline (d7).
  */
class PipelineOpsSpec extends SparkSpec {

  private val fixtureDir = "target/pipeline-ops-fixture"

  private def writeDocs(rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$fixtureDir/documents.parquet")
  }

  test("t7: repetition ratios match hand-computed values") {
    writeDocs(Seq(
      (1L, "a a a a"),          // one word ×4: top=1, dup=1; trigram 'a a a' ×2 → dup_tri=1
      (2L, "a b c d"),          // all distinct: top=0.25, dup=0, trigrams distinct → dup_tri=0
      (3L, "x y"),              // < 3 words: no trigrams → dup_tri_ratio NULL
    ))
    val out = SparkEntry.queries("t7_repetition")(spark, fixtureDir)
      .orderBy("doc_id").collect()
    assert(out.length == 3)
    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getDouble(2) == 1.0 && byId(1L).getDouble(3) == 1.0)
    assert(byId(1L).getLong(4) == 2 && byId(1L).getDouble(5) == 1.0)
    assert(byId(2L).getDouble(2) == 0.25 && byId(2L).getDouble(3) == 0.0)
    assert(byId(2L).getLong(4) == 2 && byId(2L).getDouble(5) == 0.0)
    assert(byId(3L).getLong(4) == 0 && byId(3L).isNullAt(5))
  }

  test("t8: email masked before digits; counts are of the original text") {
    writeDocs(Seq(
      (1L, "call 123 or mail bob.x@mail.com today 7 times"),
      (2L, "no digits here"),
    ))
    val out = SparkEntry.queries("t8_redact")(spark, fixtureDir)
      .orderBy("doc_id").collect()
    val r1 = out(0)
    assert(r1.getInt(1) == 1, "one email")
    assert(r1.getInt(2) == 2, "digit runs 123 and 7")
    // redacted text is fully deterministic: fingerprint equals md5 of the
    // hand-redacted string (email first, then digit runs)
    val expected = "call <NUM> or mail <EMAIL> today <NUM> times"
    val exMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(expected.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r1.getString(3) == exMd5)
    assert(r1.getInt(4) == expected.length - "call 123 or mail bob.x@mail.com today 7 times".length)
    val r2 = out(1)
    assert(r2.getInt(1) == 0 && r2.getInt(2) == 0 && r2.getInt(4) == 0)
  }

  test("t8 plan: pure per-row projection — no exchange at all") {
    val p = SparkEntry.queries("t8_redact")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"t8 must be shuffle-free:\n$p")
  }

  test("e5: funnel stage order is strict — crafted users pin the semantics") {
    import spark.implicits._
    val base = 1700000000000000L // epoch µs
    def ts(off: Long) = new java.sql.Timestamp((base + off * 1000000L) / 1000)
    val rows = Seq(
      // user 1: view -> click -> purchase = full conversion
      (1L, 10L, "view", ts(0)), (1L, 11L, "click", ts(10)), (1L, 12L, "purchase", ts(20)),
      // user 2: click BEFORE first view never qualifies -> no conversion
      (2L, 20L, "click", ts(0)), (2L, 21L, "view", ts(10)), (2L, 22L, "purchase", ts(20)),
      // user 3: purchase BEFORE first qualified click -> counts click only
      (3L, 30L, "view", ts(0)), (3L, 31L, "purchase", ts(10)), (3L, 32L, "click", ts(20)),
      // user 4: purchase alone reaches no stage
      (4L, 40L, "purchase", ts(0)),
    )
    rows.toDF("user_id", "event_id", "event_type", "ts")
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$fixtureDir/events.parquet")
    val r = SparkEntry.queries("e5_funnel")(spark, fixtureDir).collect()(0)
    assert(r.getLong(0) == 4, "n_users")
    assert(r.getLong(1) == 3, "n_view: users 1,2,3")
    assert(r.getLong(2) == 2, "n_click: users 1,3 (user 2's click precedes the view)")
    assert(r.getLong(3) == 1, "n_purchase: user 1 only")
    assert(r.getLong(4) == 20L * 1000000, "latency = 20s for user 1")
    assert(r.getDouble(5) == 0.333333)
  }

  test("e5 plan: one user_id shuffle feeds both windows and the aggregate") {
    val df = SparkEntry.queries("e5_funnel")(spark, "/root/testdata/sf0.001")
    df.collect()
    // the adaptive plan prints Final AND Initial plans — count in Final only
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val userExchanges = p.sliding("hashpartitioning(user_id".length)
      .count(_ == "hashpartitioning(user_id")
    assert(userExchanges == 1, s"expected exactly one user_id exchange:\n$p")
  }

  test("d7: cluster provenance invariants against d6 on real testdata") {
    val dir = "/root/testdata/sf0.001"
    val d7 = SparkEntry.queries("d7_cross_source")(spark, dir).collect()
    assert(d7.nonEmpty, "sf0.001 has near-dup clusters")
    d7.foreach { r =>
      val (nSources, nDocs, cross) = (r.getLong(1), r.getLong(2), r.getBoolean(3))
      assert(nDocs >= 2, "every cluster has at least a keeper and a loser")
      assert(nSources >= 1 && nSources <= nDocs)
      assert(cross == (nSources >= 2))
    }
    // cluster count and membership agree with d6's labelling
    val d6 = SparkEntry.queries("d6_dup_clusters")(spark, dir)
    val byRoot = d6.groupBy("root").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d7.length == byRoot.size)
    d7.foreach(r => assert(byRoot(r.getLong(0)) == r.getLong(2)))
  }

  test("t9: mixture invariants — shares sum to 1, budget conserved, rates capped") {
    val rows = SparkEntry.queries("t9_domain_mix")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    val shares = rows.map(_.getAs[Double]("mix_share"))
    assert(math.abs(shares.sum - 1.0) < 1e-9)
    val totalTokens = rows.map(_.getAs[Long]("n_tokens")).sum.toDouble
    val allocs = rows.map(_.getAs[Double]("alloc_tokens"))
    assert(math.abs(allocs.sum - 0.5 * totalTokens) < 1e-6 * totalTokens,
      "allocations spend exactly the half-corpus budget")
    rows.foreach { r =>
      val rate = r.getAs[Double]("sample_rate")
      assert(rate > 0.0 && rate <= 1.0)
      // sqrt temperature upsamples small domains: rate must decrease
      // with domain size ordering (checked pairwise on the extremes)
    }
    val bySize = rows.sortBy(_.getAs[Long]("n_tokens"))
    assert(bySize.head.getAs[Double]("sample_rate") >=
      bySize.last.getAs[Double]("sample_rate"),
      "smallest domain samples at >= the largest domain's rate")
  }

  test("t9 plan: one aggregate over the corpus; window ranges over the tiny side") {
    val df = SparkEntry.queries("t9_domain_mix")(spark, "/root/testdata/sf0.001")
    val p = df.queryExecution.executedPlan.toString
    // corpus read once: a single scan of documents feeds the plan
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"t9 must read the corpus exactly once:\n$p")
  }

  test("t11: novelty semantics on a crafted corpus — copies score 0, fresh content 1") {
    writeDocs(Seq(
      (1L, "alpha beta gamma delta epsilon"), // first owner of all its shingles
      (2L, "alpha beta gamma delta epsilon"), // exact copy of 1 -> novelty 0
      (3L, "zeta eta theta iota kappa"),      // disjoint -> novelty 1
      // 4 shingles: "alpha beta gamma" (owned by 1), "zeta eta theta"
      // (owned by 3), plus the two seam trigrams only 4 has -> 0.5
      (4L, "alpha beta gamma zeta eta theta"),
    ))
    try {
      val nv = SparkEntry.queries("t11_novelty")(spark, fixtureDir)
        .collect().map(r => r.getLong(0) -> r.getAs[Double]("novelty")).toMap
      assert(nv(1L) == 1.0, s"doc 1 owns all its shingles: $nv")
      assert(nv(2L) == 0.0, s"doc 2 is an exact copy: $nv")
      assert(nv(3L) == 1.0, s"doc 3 is disjoint: $nv")
      assert(nv(4L) == 0.5, s"doc 4 owns only its two seam shingles: $nv")
      val all = SparkEntry.queries("t11_novelty")(spark, fixtureDir)
        .agg(min("novelty"), max("novelty")).head()
      assert(all.getDouble(0) >= 0.0 && all.getDouble(1) <= 1.0)
    } finally graft.CorpusCache.release(fixtureDir)
  }
}
