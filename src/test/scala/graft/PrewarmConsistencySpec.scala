package graft

import org.apache.spark.sql.DataFrame

/** The bench prewarms shared index artifacts by KEY
  * ([[graft.CorpusCache]] is key-trusting: a hit returns the live table
  * without comparing plans). If an operator's own construction ever
  * drifts from the prewarm's under the same key, the prewarmed table
  * would silently serve the WRONG shape. This spec pins the contract:
  * every index-backed operator returns identical rows whether its
  * caches were filled by its own first run or by the prewarm helpers.
  */
class PrewarmConsistencySpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private val indexQueries = Seq(
    "d2_ngram_jaccard", "d5_lsh_verified", "s2_knn_lsh",
    "s3_cosine_neardup", "s4_knn_ivf", "s5_knn_sq8",
    "s6_knn_pq", "s8_ann_layout", "t6_bigram_lm", "m6_media_neardup",
    "d10_semantic_clusters",
    // round 7: s10/s11's frozen artifacts (s10.cent, s10.cb,
    // s10.baseasg) joined the prewarm set
    "s10_ann_delta", "s11_ann_drift",
    // round 8: m7/m8's shared canonical-thumbnail table (m78.thumb)
    // and s12's flagged-member table (s12.members) over the s10
    // artifacts
    "m7_resize_neardup", "m8_phash_neardup", "s12_ann_retrain",
    // round 8 second wave: s13's base layout (graft_s13_base files)
    // joined the prewarm set
    "s13_ann_compact")

  private def release(): Unit = CorpusCache.release(dir)

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("index-backed operators return identical rows fresh vs prewarmed") {
    release()
    val fresh = indexQueries.map(n => n -> rows(SparkEntry.queries(n)(spark, dir))).toMap
    release()
    graft.pipeline.Dedup.prewarmIndexes(spark, dir)
    graft.pipeline.Similarity.prewarmIndexes(spark, dir)
    graft.pipeline.Text.prewarmIndexes(spark, dir)
    graft.multimodal.Multimodal.prewarmIndexes(spark, dir)
    val warmed = indexQueries.map(n => n -> rows(SparkEntry.queries(n)(spark, dir))).toMap
    release()
    for (n <- indexQueries) {
      assert(fresh(n).nonEmpty, s"$n: empty result at sf0.001")
      assert(fresh(n) == warmed(n),
        s"$n: prewarm-filled caches diverge from the operator's own build " +
          s"(fresh ${fresh(n).size} rows, warmed ${warmed(n).size})")
    }
  }
}
