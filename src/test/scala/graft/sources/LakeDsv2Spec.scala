package graft.sources

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** The DSv2 `graft-lake` provider's contracts (VERDICT r11 item 3;
  * round 13 rebuilt the layout on parquet with a DSv2 write path,
  * columnar reads, manifest-stats aggregate pushdown and a log view):
  * the custom BatchScan appears in the plan, the manifest-pruned file
  * set is exactly the CoW model's (newest rewrite ≤ v per fid), k-bound
  * pushdown skips files by stats without changing results, runtime
  * pruning is bucket-exact (and floorMod-correct on negative keys),
  * emptied buckets tombstone instead of resurrecting, aggregates are
  * answered from the manifest with zero file opens, and the provider's
  * rows equal the logical asOfState spelling row-for-row.
  */
class LakeDsv2Spec extends graft.SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def lakeRead(v: Int) = {
    val root = LakeLayout.ensure(spark, dir)
    spark.read.format("graft-lake")
      .option("path", root).option("asOf", v.toString).load()
  }

  private def lakeScan(df: org.apache.spark.sql.DataFrame): LakeScan =
    df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec if b.scan.isInstanceOf[LakeScan] =>
        b.scan.asInstanceOf[LakeScan]
    }.getOrElse(fail("no GraftLakeScan in plan:\n" +
      df.queryExecution.executedPlan.toString))

  test("provider rows equal asOfState for every version") {
    for (v <- 0 to 2) {
      val got = lakeRead(v).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      val want = graft.queries.Advanced.asOfState(spark, dir, v).drop("v").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      assert(got == want,
        s"asOf=$v: ${got.size} vs ${want.size} rows; " +
          s"only-lake=${(got -- want).take(3)}, only-logical=${(want -- got).take(3)}")
    }
  }

  test("plan shows the custom BatchScan with manifest-pruned file listing") {
    val df = lakeRead(2)
    val scan = lakeScan(df)
    assert(scan.description().contains("GraftLakeScan asOf=2"))
    // the CoW contract: per fid exactly ONE file survives, the newest
    // rewrite ≤ v — pinned against the manifest union
    val root = LakeLayout.ensure(spark, dir)
    val planned = scan.plannedFiles
    assert(planned.map(_.fid).distinct.size == planned.size,
      "a fid must appear once per as-of read")
    val newest = (0 to 2).flatMap(b => LakeLayout.manifest(root, b))
      .groupBy(_.fid).map { case (fid, es) => fid -> es.map(_.b).max }
    planned.foreach(e => assert(e.b == newest(e.fid),
      s"fid ${e.fid}: planned b=${e.b}, newest rewrite ≤2 is ${newest(e.fid)}"))
    // v=0 reads only base files
    assert(lakeScan(lakeRead(0)).plannedFiles.forall(_.b == 0))
  }

  test("data files are parquet and the scan serves columnar batches") {
    val root = LakeLayout.ensure(spark, dir)
    val planned = lakeScan(lakeRead(1)).plannedFiles
    assert(planned.nonEmpty && planned.forall(_.path.endsWith(".parquet")),
      s"manifest must name parquet files: ${planned.take(3).map(_.path)}")
    // magic bytes: the shards really are parquet, not renamed text
    val head = java.nio.file.Files.readAllBytes(
      java.nio.file.Path.of(s"$root/${planned.head.path}")).take(4)
    assert(new String(head, "US-ASCII") == "PAR1")
    // the reader factory commits to columnar reads and the physical
    // plan crosses a ColumnarToRow boundary — the scan feeds
    // whole-stage codegen as vectorized batches, not row-at-a-time
    val factory = lakeScan(lakeRead(1)).createReaderFactory()
    assert(factory.supportColumnarReads(LakeInputPartition(Array.empty, Array.empty)))
    val plan = lakeRead(1).queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), s"no columnar boundary in:\n$plan")
  }

  test("k-bound pushdown prunes files by stats without changing rows") {
    val root = LakeLayout.ensure(spark, dir)
    val total = LakeLayout.manifest(root, 1).size
    // a selective k bound: most files' [minK, maxK] sit above it
    val cut = LakeLayout.manifest(root, 1).map(_.minK).min + 1
    val filtered = lakeRead(1).filter(col("k") <= cut)
    val scan = lakeScan(filtered)
    assert(scan.plannedFiles.size < total,
      s"pushdown pruned nothing: ${scan.plannedFiles.size}/$total " +
        s"(desc: ${scan.description()})")
    assert(scan.description().contains("pushedK=[LessThanOrEqual(k,"))
    // pruning is an optimization, never a row filter: results match the
    // residual-only spelling exactly
    val want = lakeRead(1).collect().map(_.getLong(0)).filter(_ <= cut).sorted.toSeq
    val got = filtered.collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want)
  }

  test("scan.filter applies bucket-exact runtime pruning") {
    val root = LakeLayout.ensure(spark, dir)
    val s = new LakeScanBuilder(root, 1).build().asInstanceOf[LakeScan]
    val total = s.plannedFiles.size
    assert(total > 10, s"fixture too small to prove pruning: $total files")
    val e = LakeLayout.manifest(root, 1).head
    s.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("k", Array(e.minK))))
    val kept = s.plannedFiles
    // one IN value → exactly its bucket's file survives (a file holds
    // only keys ≡ fid mod SnapFidMod, so bucket pruning is EXACT)
    assert(kept.size == 1 && kept.head.fid == e.fid,
      s"kept ${kept.map(f => (f.b, f.fid))} for value ${e.minK} (fid ${e.fid})")
    assert(s.description().contains("runtimeK=[In(k,"))
  }

  test("a non-Long runtime IN value keeps the file (safe fallthrough)") {
    val root = LakeLayout.ensure(spark, dir)
    val s = new LakeScanBuilder(root, 1).build().asInstanceOf[LakeScan]
    val total = s.plannedFiles.size
    // runtime pruning is correctness-bearing, so an untyped value must
    // fail OPEN: keep every file and let the join re-check rows
    s.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("k", Array[Any]("not-a-long"))))
    assert(s.plannedFiles.size == total,
      s"non-Long IN value must not prune: ${s.plannedFiles.size}/$total")
  }

  test("runtime filtering (DPP) prunes lake files through a broadcast join") {
    val root = LakeLayout.ensure(spark, dir)
    val lake = lakeRead(1)
    // keys that survive into v1 (batch 1 deletes %47) and exist in the
    // orders table (no re-keyed inserts)
    val keys = graft.Tables.t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(47)) =!= 0)
      .select(col("o_orderkey")).limit(3).collect().map(_.getLong(0)).toSeq
    val want = lake.collect().count(r => keys.contains(r.getLong(0)))
    assert(want > 0, "chosen keys must be present at v1")
    val total = LakeLayout.manifest(root, 1).size
    // build side = a REAL file-backed relation with a selective filter:
    // DPP requires a surviving Filter on the filtering side, and a
    // local/in-memory dim constant-folds to a bare LocalRelation
    // (measured: the optimizer evaluated it and the pruning gate never
    // saw a predicate)
    val dim = graft.Tables.t(spark, dir, "orders")
      .filter(col("o_orderkey").isin(keys: _*))
      .select(col("o_orderkey").as("k2"))
    LakeReader.FilesOpened.set(0)
    val joined = lake.join(broadcast(dim), col("k") === col("k2"))
    val got = joined.collect().length
    assert(got == want, s"join rows $got != expected $want")
    val opened = LakeReader.FilesOpened.get()
    // 3 keys → ≤3 buckets → ≤3 files; without runtime pruning the one
    // bin-packed split would open all `total` files
    assert(opened <= keys.size && total > 10,
      s"runtime pruning did not shrink the read: opened $opened of $total files\n" +
        s"OPTIMIZED:\n${joined.queryExecution.optimizedPlan.toString.take(3000)}")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.contains("RuntimeFilters"),
      s"no runtime filter in plan:\n${plan.take(1500)}")
  }

  test("column pruning reaches the reader") {
    val df = lakeRead(1).select(col("o_orderstatus"))
    val scan = lakeScan(df)
    assert(scan.readSchema().fieldNames.toSeq == Seq("o_orderstatus"),
      s"read schema: ${scan.readSchema()}")
    assert(scan.description().contains("cols=[o_orderstatus]"))
    assert(df.distinct().count() >= 1)
  }

  test("aggregate pushdown answers count/min/max from the manifest, zero file opens") {
    val base = lakeRead(1)
    val want = base.agg(count(lit(1)), min(col("k")), max(col("k"))).collect()(0)
    LakeReader.FilesOpened.set(0)
    val df = lakeRead(1).agg(count(lit(1)).as("n"),
      min(col("k")).as("min_k"), max(col("k")).as("max_k"))
    val got = df.collect()(0)
    assert(LakeReader.FilesOpened.get() == 0L,
      s"stats pushdown must open no data files; plan:\n" +
        df.queryExecution.executedPlan.toString.take(1500))
    assert(df.queryExecution.executedPlan.toString.contains("GraftLakeStatsScan"))
    assert(got.getLong(0) == want.getLong(0) &&
      got.getLong(1) == want.getLong(1) && got.getLong(2) == want.getLong(2),
      s"stats row $got != recomputed $want")
    // a filtered aggregate must NOT take the stats path (residuals
    // cannot re-filter rows the stats never materialize)
    val filtered = lakeRead(1).filter(col("k") > 100L).agg(count(lit(1)))
    assert(!filtered.queryExecution.executedPlan.toString.contains("GraftLakeStatsScan"))
  }

  test("CoW tombstone: a batch that empties a bucket shades it out of later manifests") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-lake-tomb").toString
    // fid(1) = fid(252) = 1; fid(2) = 2 (mod 251)
    Seq((1L, "A", 1.0), (252L, "B", 2.0), (2L, "C", 3.0))
      .toDF("k", "o_orderstatus", "price")
      .write.format("graft-lake").option("path", root).option("batch", "0")
      .mode("append").save()
    // batch 1 TOUCHES fid 1 and deletes every key in it: zero survivors.
    // The manifest entry set must derive from the touched set, not from
    // surviving rows — otherwise manifest-1 falls back to the stale
    // b=0 file and keys 1/252 resurrect (ADVICE r12).
    spark.emptyDataset[(Long, String, Double)]
      .toDF("k", "o_orderstatus", "price")
      .write.format("graft-lake").option("path", root).option("batch", "1")
      .option("touchedFids", "1").mode("append").save()
    LakeLayout.commitManifests(root, 1)
    assert(LakeLayout.manifest(root, 0).map(_.fid).toSet == Set(1L, 2L))
    assert(LakeLayout.manifest(root, 1).map(_.fid).toSet == Set(2L),
      s"emptied fid 1 must be omitted from manifest-1: ${LakeLayout.manifest(root, 1)}")
    def keysAt(v: Int) = spark.read.format("graft-lake")
      .option("path", root).option("asOf", v.toString).load()
      .collect().map(_.getLong(0)).toSet
    assert(keysAt(0) == Set(1L, 252L, 2L))
    assert(keysAt(1) == Set(2L), "deleted keys must not resurrect in as-of reads")
  }

  test("negative keys bucket identically in the writer and runtime pruning") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-lake-neg").toString
    // floorMod(-5, 251) = 246; Scala's -5 % 251 = -5 — the mismatch
    // ADVICE r12 flagged would prune this row's file and LOSE it
    Seq((-5L, "N", 1.0), (7L, "P", 2.0)).toDF("k", "o_orderstatus", "price")
      .write.format("graft-lake").option("path", root).option("batch", "0")
      .mode("append").save()
    LakeLayout.commitManifests(root, 0)
    assert(LakeLayout.manifest(root, 0).map(_.fid).toSet == Set(246L, 7L))
    val s = new LakeScanBuilder(root, 0).build().asInstanceOf[LakeScan]
    s.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("k", Array(-5L))))
    assert(s.plannedFiles.map(_.fid) == Seq(246L),
      s"runtime IN(-5) must keep exactly fid 246: ${s.plannedFiles.map(_.fid)}")
  }

  test("empty projection falls back to footer-counted rows, no column reads") {
    val root = LakeLayout.ensure(spark, dir)
    val e = LakeLayout.manifest(root, 0).head
    val factory = new LakeReaderFactory(new org.apache.spark.sql.types.StructType())
    val p = LakeInputPartition(Array(s"$root/${e.path}"), Array(e.bytes))
    assert(!factory.supportColumnarReads(p))
    val r = factory.createReader(p)
    var n = 0L
    while (r.next()) { assert(r.get().numFields == 0); n += 1 }
    r.close()
    assert(n == e.rows, s"footer count $n != manifest rows ${e.rows}")
  }

  test("log view: batch read equals the CDC log; stream arrives through batch offsets") {
    val root = LakeLayout.ensure(spark, dir)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("b").cast("int"), col("k"), col("o_orderstatus"),
        col("price"), col("act"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2),
          r.getDouble(3), r.getString(4))).toSet
    val want = canon(graft.queries.Advanced.cdcLogs(spark, dir))
    val batch = spark.read.format("graft-lake")
      .option("path", root).option("view", "log").option("asOf", "2").load()
    assert(canon(batch) == want, "provider log view must equal the logical CDC log")
    // streaming: the same provider serves the log as a MicroBatchStream
    val q = spark.readStream.format("graft-lake")
      .option("path", root).option("view", "log").load()
      .writeStream.format("memory").queryName("lake_log_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(canon(spark.table("lake_log_stream")) == want,
        "provider MicroBatchStream must deliver the full log")
    } finally q.stop()
  }
}
