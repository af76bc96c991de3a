package graft.bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Multi-split twin of a driver testdata directory — the bench's input
  * relayout (round 14, VERDICT r13 item 1 / "Next round" item 1).
  *
  * WHY: every driver testdata table ships as ONE parquet file with ONE
  * row group, and a row group is the unit of scan parallelism
  * (`Tables.t`'s documented caveat) — so at the bench SF every base
  * scan is a single task regardless of core count. Round 13's driver
  * scaling block measured the consequence directly: 8 cores beat 32 on
  * the suite total (68.0 vs 79.1 s) because nothing upstream of the
  * first exchange can use more than one core. That is a FIXTURE
  * property, not an operator property — a real 100 TB table arrives in
  * thousands of splits — and it was masking operator scaling from the
  * family-level measurements (the 10x scale probes, which build
  * multi-split inputs, showed the parallelism the bench could not).
  *
  * WHAT: each table is rewritten ONCE per corpus listing (a
  * `Scratch.buildOnce` memo, like the graft-lake and ingest fixtures)
  * into ceil(bytes / 256 KiB) files, capped at 32 — so the
  * big tables (lineitem, orders, events) scan as tens of tasks while
  * the dimensions stay single-file. Rows are hash-distributed on
  * `xxhash64` of the full row — DETERMINISTIC (guide §2.5: a retried
  * write task must reproduce the same row→file assignment; round-robin
  * would also pay sortBeforeRepartition) — and the fixture is built
  * from `Tables.t`, so the rewritten content is bit-identical to what
  * every query reads today (events' ts normalization included: the
  * fixture stores the session-zoned micros the loader produces, which
  * the loader's TimestampType branch passes through unchanged).
  *
  * WHAT THIS DOES NOT CHANGE: every declared query is a deterministic
  * function of table CONTENT (the DuckDB oracle hash-verifies exactly
  * that), and content is preserved row-for-row — so no result, row
  * count, or oracle hash can move. The one layout-sensitive expression
  * in the inventory, q67b's sampled hot-key census, only decides WHICH
  * keys get salted; its result is salt-invariant by construction (the
  * oracle pins that). Verify and the oracle path never see this
  * fixture — they read the original testdata directly.
  *
  * DISCLOSURE: the bench's main query pass times the SAME queries over
  * the SAME rows in this multi-split layout (OPTIMIZATION_r14.md
  * records both layouts' totals). `SPARK_GRAFT_RG_FIX=0` restores the
  * original single-row-group input for like-for-like comparisons
  * ([[benchDir]]).
  */
object RgFixture {
  /** Target bytes per output file. 256 KiB of this corpus' parquet is
    * roughly 15 k lineitem rows — small in absolute terms, but the
    * POINT is split count at gate scale: lineitem lands at the 32-file
    * cap (one split per bench core), orders ~10, events ~8. Production
    * files are 128 MB-1 GB (guide §6); this constant is bench-fixture
    * geometry, not a production recommendation.
    */
  val TargetFileBytes: Long = 256L << 10

  /** Max files per table: the bench's own core ceiling. */
  val MaxFiles = 32

  /** The split size the relayout is read with (see [[prepare]]). */
  val SplitBytes = "4m"

  /** The directory the bench times: this relayout of `sfDir`, or
    * `sfDir` itself when `SPARK_GRAFT_RG_FIX=0` (like-for-like A/Bs
    * against the original layout, under the session's own split size)
    * or when the build fails (unwritable scratch) — a fixture failure
    * must not fail the bench.
    */
  def benchDir(spark: SparkSession, sfDir: String): String =
    if (sys.env.get("SPARK_GRAFT_RG_FIX").contains("0")) sfDir
    else
      try prepare(spark, sfDir)
      catch {
        case e: Throwable =>
          System.err.println(s"[rgfix] fixture failed (${e.getMessage}); " +
            "timing the original layout")
          sfDir
      }

  /** Builds (once per corpus listing, named by its
    * [[graft.CorpusCache.fingerprint]]) the relayout and sets the split size
    * it needs on `spark`: the fixture's per-table files are ~256 KiB,
    * and under the DEFAULT 128 MB maxPartitionBytes the open-cost
    * packer would glue ~30 of them back into one split, re-serializing
    * the scans the fixture exists to parallelize. [[SplitBytes]], 4 MB
    * (= the default openCostInBytes, so each file is its own split), is
    * bench-fixture geometry, frozen with the bench input; a production
    * table's 128 MB-1 GB files want the default or LARGER (guide §6).
    */
  def prepare(spark: SparkSession, sfDir: String): String = {
    spark.conf.set("spark.sql.files.maxPartitionBytes", SplitBytes)
    val root = s"${graft.Scratch.dir}/rgfix/${graft.CorpusCache.fingerprint(spark, sfDir)}"
    graft.Scratch.buildOnce(root) { stage =>
      graft.Tables.names.foreach { name =>
        val bytes = new java.io.File(s"$sfDir/$name.parquet").length()
        val k = math.min(MaxFiles.toLong,
          math.max(1L, (bytes + TargetFileBytes - 1) / TargetFileBytes)).toInt
        val df = graft.Tables.t(spark, sfDir, name)
        // deterministic content-hash spread, 64x more key values than
        // files so the murmur3 bucketing stays even (guide §2.5)
        val spread = pmod(xxhash64(df.columns.map(col): _*), lit(k * 64L))
        df.repartition(k, spread)
          .write.mode("overwrite").parquet(s"$stage/$name.parquet")
      }
    }
  }
}
