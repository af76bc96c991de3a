package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A corpus rewritten in place inside one session, with no release call,
  * is recomputed by every cell that keeps per-corpus state: d3b's
  * shingle index and LSH tables, s10's delta boundary and frozen index,
  * m7's max doc id and thumbnails, q50's log census and its on-disk
  * lake. Each re-run must equal a fresh session's run over a separate
  * copy of the rewritten corpus.
  */
class CorpusRewriteSpec extends SparkSpec {
  private val src = "/root/testdata/sf0.001"

  private val cells = Seq("d3b_lsh_pairs", "s10_ann_delta", "m7_resize_neardup", "q50_change_feed")

  /** The rewritten tables and their ids. The rewrite keeps the rows with
    * ids below 80% of the max, so max-derived metadata moves too, and
    * gives the even orders a new status, so pre-images read from a lake
    * built before the rewrite would differ.
    */
  private val rewritten = Seq("documents" -> "doc_id", "embeddings" -> "vec_id", "orders" -> "o_orderkey")

  private def copyOf(tag: String): String = {
    val dir = Files.createTempDirectory(tag).toString
    Tables.names.foreach(n => Files.copy(Paths.get(s"$src/$n.parquet"), Paths.get(s"$dir/$n.parquet")))
    dir
  }

  private def rewrite(dir: String): Unit = rewritten.foreach { case (n, id) =>
    val df = Tables.read(spark, s"$src/$n.parquet")
    val mx = df.agg(max(id)).first().getAs[Number](0).longValue
    val kept = df.filter(col(id) < mx * 8 / 10)
    (if (n != "orders") kept
     else kept.withColumn("o_orderstatus",
       when(col(id) % 2 === 0, lit("X")).otherwise(col("o_orderstatus"))))
      .write.mode("overwrite").parquet(s"$dir/$n.parquet")
  }

  private def rows(s: SparkSession, dir: String): Map[String, Set[String]] =
    cells.map(c => c -> SparkEntry.queries(c)(s, dir).collect().map(_.toString).toSet).toMap

  test("d3b, s10, m7 and q50 recompute a corpus rewritten in place") {
    val dir = copyOf("graft-rewrite")
    val freshDir = copyOf("graft-rewrite-fresh")
    try {
      val before = rows(spark, dir)
      rewrite(dir)
      val after = rows(spark, dir)
      rewrite(freshDir)
      val fresh = rows(spark.newSession(), freshDir)
      for (c <- cells) {
        assert(fresh(c).nonEmpty, s"$c: empty on the rewritten corpus")
        assert(fresh(c) != before(c), s"$c: the rewrite must change the result")
      }
      val stale = cells.filter(c => after(c) != fresh(c)).map { c =>
        s"$c (${after(c).size} vs ${fresh(c).size} rows, ${(after(c) -- fresh(c)).size} stale)"
      }
      assert(stale.isEmpty, s"re-runs after the rewrite differ from a fresh session's: $stale")
    } finally Seq(dir, freshDir).foreach(CorpusCache.release)
  }
}
