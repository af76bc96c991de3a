package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** t13 CCNet-style LM-score bucketing: the contracts behind the
  * aggregate gate — terciles are equal-height within each language
  * (rank-based, sizes differ by ≤1), the head bucket really holds the
  * highest-scored (most corpus-expected) docs with ties legal only at
  * the boundary, every scored document lands in exactly one bucket,
  * and only scorable docs (≥2 words) enter at all.
  */
class PplBucketSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def buckets = {
    val b = Text.bigramIndex(spark, dir)
    val freq = b.groupBy("h").agg(count(lit(1)).as("c"))
    val scores = b.join(freq, "h").groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("c")).as("sum_df"))
      .withColumn("score", col("sum_df").cast("double") / col("n_bigrams"))
    val withLang = scores.join(
      graft.Tables.t(spark, dir, "documents").select(col("doc_id"), col("lang")), "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("score").desc, col("doc_id").asc)
    withLang.withColumn("bucket", ntile(3).over(w))
  }

  test("terciles are equal-height per language: sizes differ by at most one") {
    val sizes = buckets.groupBy("lang", "bucket").count()
      .groupBy("lang").agg(max("count").as("mx"), min("count").as("mn"),
        countDistinct("bucket").as("nb"))
      .collect()
    assert(sizes.nonEmpty)
    sizes.foreach { r =>
      assert(r.getAs[Long]("nb") == 3L, s"every language must fill 3 buckets: $r")
      assert(r.getAs[Long]("mx") - r.getAs[Long]("mn") <= 1L,
        s"ntile buckets must be equal-height ±1: $r")
    }
  }

  test("head scores dominate middle, middle dominate tail (ties only at the boundary)") {
    val bk = buckets.cache()
    try {
      val edges = bk.groupBy("lang", "bucket")
        .agg(min("score").as("mn"), max("score").as("mx"))
        .collect().map(r => (r.getString(0), r.getInt(1)) -> (r.getDouble(2), r.getDouble(3)))
        .toMap
      edges.keys.map(_._1).toSeq.distinct.foreach { lang =>
        assert(edges(lang -> 1)._1 >= edges(lang -> 2)._2,
          s"$lang: head min must be >= middle max")
        assert(edges(lang -> 2)._1 >= edges(lang -> 3)._2,
          s"$lang: middle min must be >= tail max")
      }
    } finally bk.unpersist(blocking = true)
  }

  test("every scored document lands in exactly one bucket; only >=2-word docs score") {
    val bk = buckets.cache()
    try {
      assert(bk.groupBy("doc_id").count().filter(col("count") > 1).count() == 0L,
        "no document may appear in two buckets")
      val scorable = graft.Tables.t(spark, dir, "documents")
        .filter(size(graft.pipeline.Portable.words(col("text"))) >= 2).count()
      assert(bk.count() == scorable,
        "bucketed docs must be exactly the bigram-scorable ones")
    } finally bk.unpersist(blocking = true)
  }
}
