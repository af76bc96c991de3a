package graft.bench

import org.apache.spark.sql.functions.{count, lit}

/** Writes the bench cardinality manifest (VERDICT r10 item 7): every
  * inventory query's result row count at the bench SF, one
  * `name<TAB>count` line, tagged with the SF dir it was measured at.
  * `Bench` checks its observed counts against this file, so a query
  * whose result silently went empty (or exploded) fails the bench even
  * when its wall-time stayed green. The manifest is written into
  * [[graft.Bench.resultsDir]], the tree the bench reads it from.
  * Regenerate (and commit) whenever a
  * query is added or its semantics legitimately change:
  *
  *   `sbt "runMain graft.bench.CardManifest"`   (env: SPARK_GRAFT_SF_DIR)
  *
  * Counts are computed with the same Observation-at-the-root the bench
  * uses — one noop action per query, no second pass.
  */
object CardManifest {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.local()
    graft.pipeline.Dedup.prewarmIndexes(spark, sfDir)
    graft.pipeline.Similarity.prewarmIndexes(spark, sfDir)
    // benched + headline-only: the manifest exists for Bench's gate, so
    // it records exactly the cells (and spellings) the bench observes
    val counts = graft.SparkEntry.inventory.filter(_.benchHeadline).flatMap { q =>
      try {
        val obs = org.apache.spark.sql.Observation()
        q.benched(spark, sfDir)
          .observe(obs, count(lit(1)).as("n_rows"))
          .write.format("noop").mode("overwrite").save()
        val n = obs.get.apply("n_rows").asInstanceOf[Long]
        System.err.println(s"[card] ${q.name}: $n")
        Some(q.name -> n)
      } catch { case e: Throwable =>
        System.err.println(s"[card] ${q.name} FAILED: ${e.getMessage}")
        None
      }
    }
    val out = graft.Bench.resultsDir()
    java.nio.file.Files.createDirectories(out)
    val body = (s"# sf=${new java.io.File(sfDir).getName}" +:
      counts.map { case (n, c) => s"$n\t$c" }).mkString("", "\n", "\n")
    java.nio.file.Files.writeString(out.resolve("cardinality_manifest.tsv"), body)
    println(s"wrote ${counts.size} counts to ${out.resolve("cardinality_manifest.tsv")}")
    spark.stop()
  }
}
