package graft.pipeline

import graft.{SparkSpec, SparkEntry}
import org.apache.spark.sql.functions._

/** End-to-end invariants of the p1 curation pipeline — the properties a
  * training-set consumer relies on, checked on real testdata (the
  * DuckDB hash oracle pins exact values; these pin the SEMANTICS).
  */
class CurationSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private lazy val manifest =
    SparkEntry.queries("p1_curation")(spark, dir).cache()

  test("every manifest row satisfies the length gate") {
    val bad = manifest
      .filter(col("n_words") < Curation.MinWords || col("n_words") > Curation.MaxWords)
      .count()
    assert(bad == 0, s"$bad rows escaped the length gate")
  }

  test("no verified near-dup pair survives intact in the manifest") {
    val dups = Dedup.lshVerifiedPairs(spark, dir).filter(col("is_dup"))
    val ids = manifest.select("doc_id")
    val survivingPairs = dups
      .join(ids.withColumnRenamed("doc_id", "doc1"), "doc1")
      .join(ids.withColumnRenamed("doc_id", "doc2"), "doc2")
      .count()
    assert(survivingPairs == 0,
      s"$survivingPairs verified near-dup pairs fully survived curation")
  }

  test("manifest doc_ids are unique and drawn from the corpus") {
    val n = manifest.count()
    assert(manifest.select("doc_id").distinct().count() == n)
    val corpus = graft.Tables.t(spark, dir, "documents").select("doc_id")
    assert(manifest.select("doc_id").join(corpus, Seq("doc_id"), "left_anti").count() == 0)
  }

  test("near-dup loser survives when its keeper was gated out (no content loss)") {
    import spark.implicits._
    // doc 0: 1005 words (fails MaxWords), doc 1: the same text minus the
    // last 7 words (passes). They share ~99% of shingles, so LSH pairs
    // them and exact Jaccard confirms; doc 0 is the lower-id "keeper"
    // but the gate already dropped it — doc 1 must SURVIVE, else the
    // content vanishes from the corpus entirely.
    val wordsA = (1 to 1005).map(i => s"w${i % 97}")
    val fixtures = Seq(
      (0L, wordsA.mkString(" ")),
      (1L, wordsA.dropRight(7).mkString(" ")),
      (2L, (1 to 100).map(i => s"z${i * 31 % 89} q${i % 13}").mkString(" ")))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
    val dir = "target/curation-retention-fixture"
    fixtures.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val manifest = SparkEntry.queries("p1_curation")(spark, dir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // sanity: the pair really was LSH-verified (else the test is vacuous)
      val dups = Dedup.lshVerifiedPairs(spark, dir)
        .filter(col("is_dup")).select("doc1", "doc2")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(dups.contains((0L, 1L)), s"fixture pair must LSH-verify, got $dups")
      assert(manifest.contains(1L),
        s"doc 1 must survive: its keeper (doc 0) was gated out; manifest=$manifest")
      assert(!manifest.contains(0L), "doc 0 exceeds the length gate")
    } finally graft.CorpusCache.release(dir)
  }

  test("the canonical (lowest-id) copy survives exact dedup, not an arbitrary one") {
    // every gated doc's fingerprint group keeps exactly its min doc_id;
    // equivalently: no manifest doc has a LOWER-id twin with the same
    // fingerprint in the gated corpus
    val gated = graft.Tables.t(spark, dir, "documents")
      .select(col("doc_id"), Portable.normFingerprint(col("text")).as("fingerprint"),
        Portable.nWords(col("text")).as("n_words"))
      .filter(col("n_words").between(Curation.MinWords, Curation.MaxWords))
    val minPerFp = gated.groupBy("fingerprint").agg(min("doc_id").as("min_id"))
    val nonCanonical = manifest
      .join(gated.select(col("doc_id"), col("fingerprint")), "doc_id")
      .join(minPerFp, "fingerprint")
      .filter(col("doc_id") =!= col("min_id"))
      .count()
    assert(nonCanonical == 0, s"$nonCanonical non-canonical copies survived")
  }

  test("p2: lake wins over a LOWER-id delta near-copy; delta rules pin") {
    import spark.implicits._
    val textX = (1 to 100).map(i => s"x${i % 83} k${i % 19}").mkString(" ")
    val textY = (1 to 100).map(i => s"y${i * 29 % 71} p${i % 17}").mkString(" ")
    val fixtures = Seq(
      // lake: doc 10 holds content X
      (10L, textX, "src0"),
      // delta doc 5: near-copy of X with a LOWER id than its lake twin —
      // plain min-label would keep 5 and displace the lake; the offset
      // mapping must drop 5 (lake stability)
      (5L, textX.split(" ").dropRight(3).mkString(" "), "src18"),
      // delta doc 20: byte-identical to the lake doc -> exact-rejected
      (20L, textX, "src18"),
      // delta near-copies 21/22: canonical 21 survives, 22 drops
      (21L, textY, "src19"),
      (22L, textY.split(" ").dropRight(3).mkString(" "), "src19"),
      // delta doc 23: fresh content -> survives
      (23L, (1 to 50).map(i => s"f${i * 13 % 61} g${i % 11}").mkString(" "), "src18"),
      // delta doc 24: below the length gate
      (24L, "too short to pass the gate", "src19"),
    ).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
    val fdir = "target/p2-delta-fixture"
    fixtures.coalesce(1).write.mode("overwrite").parquet(s"$fdir/documents.parquet")
    try {
      // sanity: the cross-tier near-dup pair really LSH-verifies
      val dups = Dedup.lshVerifiedPairs(spark, fdir)
        .filter(col("is_dup")).select("doc1", "doc2")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(dups.contains((5L, 10L)), s"fixture pair (5,10) must verify, got $dups")
      assert(dups.contains((21L, 22L)), s"fixture pair (21,22) must verify, got $dups")
      val accepted = SparkEntry.queries("p2_delta_curation")(spark, fdir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(accepted == Set(21L, 23L),
        s"expected {21, 23}: 5 loses to the lake despite its lower id, " +
          s"20 is an exact lake dup, 22 loses to 21, 24 is gated; got $accepted")
    } finally graft.CorpusCache.release(fdir)
  }

  test("p2 on real data: delta-only ids, unique, no intact verified pair") {
    val p2 = SparkEntry.queries("p2_delta_curation")(spark, dir).cache()
    try {
      val n = p2.count()
      assert(n > 0, "delta manifest must be non-empty at sf0.001")
      assert(p2.select("doc_id").distinct().count() == n)
      val deltaIds = graft.Tables.t(spark, dir, "documents")
        .filter(col("source").isin(Curation.DeltaSources: _*)).select("doc_id")
      assert(p2.select("doc_id").join(deltaIds, Seq("doc_id"), "left_anti").count() == 0,
        "p2 must only ever emit delta-source docs")
      val ids = p2.select("doc_id")
      val intact = Dedup.lshVerifiedPairs(spark, dir).filter(col("is_dup"))
        .join(ids.withColumnRenamed("doc_id", "doc1"), "doc1")
        .join(ids.withColumnRenamed("doc_id", "doc2"), "doc2")
        .count()
      assert(intact == 0, s"$intact verified pairs survived within the delta manifest")
    } finally p2.unpersist()
  }

  test("p4: split assignment is total, deterministic, and ~90/5/5 in every stratum") {
    // sf0.01 for the distributional check — 500 docs/source bounds the
    // binomial noise enough for a ±6-point window per stratum
    val d01 = "/root/testdata/sf0.01"
    val p4 = SparkEntry.queries("p4_split_assign")(spark, d01).cache()
    try {
      val total = graft.Tables.t(spark, d01, "documents").count()
      assert(p4.count() == total, "every document must receive a split")
      assert(p4.select("doc_id").distinct().count() == total, "exactly one split per doc")
      // determinism: a re-invocation assigns identically (pure hash)
      val again = SparkEntry.queries("p4_split_assign")(spark, d01)
      assert(p4.exceptAll(again).count() == 0, "assignment must be reproducible")
      // stratified fractions: train ~0.90 within every source
      val bySrc = p4.groupBy("source")
        .agg(
          (sum(when(col("split") === "train", 1).otherwise(0)) / count(lit(1)))
            .as("f_train"),
          count(lit(1)).as("n"))
        .collect()
      bySrc.foreach { r =>
        val f = r.getAs[Double]("f_train")
        val n = r.getLong(2)
        // binomial 3-sigma window around 0.90, stratum-size aware (the
        // sources are uneven; a 25-doc stratum legitimately hits 0.96)
        val tol = 3 * math.sqrt(0.9 * 0.1 / n) + 1e-9
        assert(math.abs(f - 0.9) <= tol,
          s"source ${r.getString(0)}: train fraction $f outside 0.90±$tol (n=$n)")
      }
      assert(p4.select("split").distinct().count() == 3, "all three splits must occur")
    } finally p4.unpersist()
  }
}
