package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Executable proofs of the cluster-scale techniques the library leans
  * on: bucketed co-located joins (no shuffle), and watermark-bounded
  * streaming state. These run tiny here but the plan shapes are exactly
  * what a 1000-executor deployment relies on.
  */
class ScaleTechniquesSpec extends SparkSpec {

  test("bucketed tables join without any shuffle exchange") {
    // default warehouse dir (./spark-warehouse, gitignored) — the
    // warehouse location is a static conf on the shared test session
    val dir = "/root/testdata/sf0.001"
    val o = Tables.t(spark, dir, "orders")
    val l = Tables.t(spark, dir, "lineitem")
    // bucket both fact tables by the join key — at 100 TB this is done
    // once at ingest and every subsequent orderkey join is shuffle-free
    o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("orders_b")
    l.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("lineitem_b")
    try {
      // hint("merge"): at this toy size Spark would broadcast; two real
      // 100 TB fact tables sort-merge, which is the case bucketing serves
      val joined = spark.table("orders_b").hint("merge")
        .join(spark.table("lineitem_b"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ over buckets:\n$plan")
      // the join inputs must come straight from the bucketed scans — the
      // ONLY exchange allowed is the final tiny aggregate of 5 groups
      assert(!plan.split("SortMergeJoin")(1).contains("Exchange"),
        s"bucketed join must not shuffle its inputs:\n$plan")
      assert(joined.collect().map(_.getLong(1)).sum == l.count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("d2 shingle df cap is ABSOLUTE: bucket size bounded regardless of corpus size") {
    import spark.implicits._
    // synthetic corpus where one boilerplate shingle spans every doc —
    // the hot-key shape that makes a corpus-RELATIVE cap (n/100)
    // quadratic at scale: here n=600 docs, so the boilerplate df (600)
    // must exceed the cap and be dropped, while per-doc shingles survive
    val docs = (0 until 600).map { i =>
      (i.toLong, s"common boiler plate here unique text item nr$i x$i y$i")
    }.toDF("doc_id", "text")
    val raw = graft.pipeline.Dedup.rawShingles(docs)
    val rawMaxDf = raw.groupBy("h").count().agg(max("count")).first().getLong(0)
    assert(rawMaxDf > graft.pipeline.Dedup.ShingleDfCap,
      s"fixture must contain a hot shingle: rawMaxDf=$rawMaxDf")
    val capped = graft.pipeline.Dedup.applyDfCap(raw)
    val cappedMaxDf = capped.groupBy("h").count().agg(max("count")).first().getLong(0)
    // the surviving df — and so the worst join bucket, O(df²) — is
    // bounded by the cap CONSTANT, independent of how many docs exist
    assert(cappedMaxDf <= graft.pipeline.Dedup.ShingleDfCap,
      s"cap not absolute: maxDf=$cappedMaxDf > ${graft.pipeline.Dedup.ShingleDfCap}")
    assert(capped.count() > 0, "cap must not drop the whole index")
  }

  test("repeated dedup invocations reuse materialized tables; no cache-entry leak") {
    val dir = "/root/testdata/sf0.001"
    def persisted: Int = spark.sparkContext.getPersistentRDDs.size
    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
    run("d2_ngram_jaccard") // builds shared shingle index + capped index
    val after1 = persisted
    run("d2_ngram_jaccard") // identical plan: must REUSE, not re-persist
    run("d3_minhash")       // reads the shared index, persists nothing new
    val after2 = persisted
    assert(after2 == after1,
      s"dedup re-invocations grew the cache: $after1 -> $after2 persisted RDDs")
    run("d3b_lsh_pairs")    // adds its signature + candidate tables ONCE
    run("d3b_lsh_pairs")
    val after3 = persisted
    assert(after3 <= after1 + 2,
      s"d3b re-invocation leaked cache entries: $after1 -> $after3")
  }

  test("s3 near-dup compare buckets are materially smaller than label blocks") {
    val dir = "/root/testdata/sf0.001"
    val buckets = graft.pipeline.Similarity.s3BucketSizes(spark, dir)
      .collect().map(r => (r.getAs[Number](0).longValue(), r.getLong(2)))
    val maxBucket = buckets.map(_._2).max
    val maxBlock = buckets.groupBy(_._1).values.map(_.map(_._2).sum / 4).max // 4 bands per vector
    // pair work is quadratic in the largest COMPARE bucket; the band
    // slice must cut the worst label block by well over half for the
    // blocked-all-pairs scale risk to be gone
    assert(maxBucket * 2 <= maxBlock,
      s"band slicing is not bounding blocks: maxBucket=$maxBucket maxBlock=$maxBlock")
  }

  test("s4 IVF: K grows as sqrt(n) and the probe FRACTION shrinks as the corpus grows") {
    import graft.pipeline.Similarity
    def probeStats(dir: String): (Double, Int, Long) = {
      val cells = Similarity.ivfCellSizes(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val corpus = cells.map(_._2).sum
      val k = Similarity.numCentroids(corpus)
      // every centroid attracts SOME vectors (its own vector at least —
      // no collapsed index)
      assert(cells.length == k, s"expected $k non-empty cells, got ${cells.length}")
      val worstProbe = cells.map(_._2).sorted.reverse.take(Similarity.NProbe).sum
      // probe bound: NProbe worst-case cells stay well under the corpus
      // — the quantity that makes IVF cheaper than brute force
      assert(worstProbe * 2 <= corpus,
        s"probing $worstProbe of $corpus rows — IVF not bounding probe cost")
      (worstProbe.toDouble / corpus, k, corpus)
    }
    val (fracSmall, kSmall, nSmall) = probeStats("/root/testdata/sf0.001")
    val (fracBig, kBig, nBig) = probeStats("/root/testdata/sf0.1")
    assert(nBig > nSmall && kBig > kSmall,
      s"fixture regression: need growing corpora, got n=$nSmall->$nBig K=$kSmall->$kBig")
    // the round-2 weakness was K fixed at 16: probing NProbe/K = 1/4 of
    // the corpus FOREVER. With K ~ sqrt(n) the probed fraction must fall
    // as the corpus grows.
    assert(fracBig < fracSmall,
      f"probe fraction not shrinking: $fracSmall%.3f (n=$nSmall) -> $fracBig%.3f (n=$nBig)")
  }

  test("s4 two-level quantizer: per-vector candidate centroids stay O(sqrt(K))") {
    import graft.pipeline.Similarity
    // stage-1 cost is the super-cell count C = ceil(K/m); stage-2 cost
    // is the vector's super-cell population — both must stay ~sqrt(K)
    // for the n*K -> n*sqrt(K) index-build claim to hold
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.1")) {
      val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
      val k = Similarity.numCentroids(n)
      val sqrtK = math.ceil(math.sqrt(k.toDouble)).toLong
      val sizes = Similarity.superCellSizes(spark, dir)
        .collect().map(r => r.getLong(1))
      assert(sizes.sum == k, s"$dir: every centroid must map to a super-cell")
      val supers = sizes.length.toLong
      assert(supers <= sqrtK + 1, s"$dir: $supers super-cells for K=$k")
      assert(sizes.max <= 2 * sqrtK,
        s"$dir: hot super-cell ${sizes.max} exceeds 2*sqrt(K)=$sqrtK for K=$k")
      // per-vector dot products: C supers + its super-cell's centroids
      assert(supers + sizes.max <= 4 * sqrtK,
        s"$dir: candidate count ${supers + sizes.max} not O(sqrt(K)) for K=$k")
    }
  }

  test("s3 adaptive band width bounds compare buckets even on a skewed hot label") {
    import spark.implicits._
    import graft.pipeline.Similarity
    val rng = new scala.util.Random(11)
    // one label holds HALF the corpus — the hot-block shape a FIXED band
    // width cannot bound (bucket = block/2^4 grows with the block)
    val rows = (0 until 2000).map { i =>
      val label = if (i < 1000) 0L else 1L + (i % 7)
      (i.toLong, label, Seq.fill(64)(rng.nextDouble() * 2 - 1))
    }
    val e = rows.toDF("vec_id", "label", "v")
    assert(Similarity.s3Bits(1000) > Similarity.S3MinBits,
      "adaptivity must engage on a 1000-vector block")
    val buckets = Similarity.s3BandedDf(e).groupBy("label", "band").count()
    val maxBucket = buckets.agg(max("count")).first().getLong(0)
    // adaptive width holds the largest (label, band) bucket near the
    // ABSOLUTE target — not a fixed fraction of the hot block
    assert(maxBucket <= 8 * Similarity.S3TargetBucket,
      s"hot-label bucket not bounded: $maxBucket > ${8 * Similarity.S3TargetBucket}")
  }

  test("d4b adaptive piece width bounds random-collision buckets as the corpus grows") {
    import spark.implicits._
    import graft.pipeline.Dedup
    // the ladder's law: the smallest width with n <= target * 2^bits,
    // so the EXPECTED bucket n/2^bits never exceeds the absolute target
    // (until the signature-width ceiling)
    for (n <- Seq(100L, 4096L, 5000L, 50000L, 200000L)) {
      val b = Dedup.d4bPieceBits(n)
      if (b < Dedup.D4bMaxPieceBits)
        assert(n <= Dedup.D4bTargetBucket * (1L << b),
          s"ladder violated: n=$n bits=$b")
      if (b > Dedup.D4bMinPieceBits)
        assert(n > Dedup.D4bTargetBucket * (1L << (b - 1)),
          s"ladder not minimal: n=$n bits=$b")
    }
    // adaptivity must engage at the skew-fixture corpus size (sf0.1 =
    // 5000 docs): round 3's fixed 8-bit pieces are no longer enough
    assert(Dedup.d4bPieceBits(5000) > Dedup.D4bMinPieceBits,
      "width must grow beyond the 32-bit floor at skew-fixture scale")
    // bucket bound on a UNIFORM-bit corpus (independent random tokens):
    // this is the random-collision term the width ladder bounds. (On
    // naturally clustered corpora — boilerplate, templates — signature
    // pieces of true near-dups collide BY DESIGN; those buckets are
    // recall, not cost overrun, and the hamming verify filters them.)
    val rng = new scala.util.Random(13)
    val docs = (0 until 6000).map { i =>
      (i.toLong, Seq.fill(31)(s"w${rng.nextInt(500000)}").mkString(" "))
    }.toDF("doc_id", "text")
    val fixtureDir = "target/d4b-fixture"
    docs.write.mode("overwrite").parquet(s"$fixtureDir/documents.parquet")
    try {
      val buckets = Dedup.d4bPieces(spark, fixtureDir)
        .groupBy("piece").count().agg(max("count")).first().getLong(0)
      assert(buckets <= 8 * Dedup.D4bTargetBucket,
        s"random-collision bucket not bounded: $buckets > ${8 * Dedup.D4bTargetBucket}")
    } finally graft.CorpusCache.release(fixtureDir) // fixture teardown
  }

  test("round-6 cuts stay bounded at both gate SFs: quota, top-k, z-cover") {
    for (sf <- Seq("sf0.001", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      // p5: output is sources x quota however large the corpus
      val nSources = Tables.t(spark, dir, "documents")
        .select("source").distinct().count()
      assert(SparkEntry.queries("p5_domain_quota")(spark, dir).count()
        == nSources * graft.pipeline.Curation.QuotaPerSource, s"p5 at $sf")
      // t12: at most k rows per document
      val nDocs = Tables.t(spark, dir, "documents").count()
      assert(SparkEntry.queries("t12_tfidf")(spark, dir).count()
        <= nDocs * graft.pipeline.Text.TfidfTopK, s"t12 at $sf")
      // q37: the planning-time bucket cover is the GRID constant — the
      // same 16-cell IN-list at any corpus size (the scale claim itself)
      val p = SparkEntry.queries("q37_zorder")(spark, dir)
        .queryExecution.executedPlan.toString
      val cover = "PartitionFilters: \\[[^\\]]*\\]".r.findFirstIn(p)
        .getOrElse(fail(s"no partition filter at $sf:\n$p"))
      val nLits = "\\d+".r.findAllIn(cover).size
      assert(nLits >= 8 && nLits <= 24,
        s"q37 cover should be ~16 z-cell literals at $sf, saw $nLits in: $cover")
    }
  }

  test("watermark drops state for late data beyond the threshold") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val query = graft.streaming.EventStream.hourlyCounts(
      mem.toDF().toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("wm_test")
      .outputMode("append").start()
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:30:00")
    try {
      mem.addData((ts(1), "a", 1.0))
      query.processAllAvailable()
      // advance event time far past the 2h watermark → window [1:00,2:00)
      // finalizes and is emitted in append mode
      mem.addData((ts(6), "a", 1.0))
      query.processAllAvailable()
      // this event is 5h late — behind the watermark, must be DROPPED
      mem.addData((ts(1), "a", 100.0))
      query.processAllAvailable()
      mem.addData((ts(9), "a", 1.0))
      query.processAllAvailable()
      val rows = spark.table("wm_test").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(2), r.getDouble(3))).toSet
      // the finalized hour-1 window contains ONLY the on-time event
      assert(rows.contains(("2024-01-01 01:00:00.0", 1L, 1.0)),
        s"expected finalized on-time window, got $rows")
      assert(!rows.exists(_._3 == 101.0), s"late data leaked into state: $rows")
    } finally query.stop()
  }
}
