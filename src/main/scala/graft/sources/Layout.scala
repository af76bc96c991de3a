package graft.sources

import graft.{CorpusCache, Q, Scratch, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-layout operators: the write-side techniques that let a 100 TB
  * deployment ELIDE work at read time, made visible as gate queries.
  *
  * Both entries read a session-scoped REWRITE of a driver table, built
  * once per (session, corpus) on the RAM-backed scratch volume
  * ([[graft.Scratch]]) and reused by every later invocation (Bench's
  * warm re-runs, repeated Verify calls):
  *
  *  - q33: `lineitem` and `orders` bucketed + sorted on the join key.
  *    The shuffle that a fact-fact equi-join otherwise pays EVERY query
  *    is paid ONCE at write time — at 100 TB the bucketed layout is the
  *    difference between a join that moves 100 TB per run and one that
  *    moves nothing (a cluster co-locates matching buckets; single-node
  *    Spark proves the plan shape: zero Exchange below the join).
  *  - q34: `events` partitioned by `event_type`. A selective query reads
  *    ONE directory (`PartitionFilters` prune at planning time, before
  *    any I/O) — the parquet-footer twin of a cluster's partition-pruned
  *    metastore scan.
  *
  * Each rewrite is named by its corpus' [[graft.CorpusCache.fingerprint]]:
  * a corpus rewritten in place within one session gets a fresh layout,
  * and the planning metadata read from a layout (grid dims, per-file
  * blooms, probe keys) are [[graft.CorpusCache]] entries, valid exactly
  * as long. The layout lives under the JVM's applicationId, so
  * concurrent JVMs never clobber each other.
  */
object Layout {
  import Tables.t

  private val BucketCount = 8

  private def layoutRoot(s: SparkSession): String =
    s"${Scratch.dir}/layout-${s.sparkContext.applicationId}"

  /** Memoized parquet layout rewrite: build once per (applicationId,
    * corpus listing) behind the `_SUCCESS` marker, serialized on this
    * object so concurrent callers never double-write. Every path-based
    * layout twin routes through HERE — the locking/marker convention
    * has one home instead of a copy per layout (the copies were
    * drifting; `bucketed` stays separate only because it memoizes via
    * the session catalog, not a path probe). Reentrant: a build lambda
    * may itself resolve another memoized layout (q39's compaction
    * reads the fragmented twin).
    *
    * STAGED: the lambda writes into a `.build` staging dir that is
    * renamed into place only when it finishes. This is what makes the
    * marker check sound for MULTI-STEP builds — a two-write fixture
    * (overwrite then append) carries `_SUCCESS` from its first write
    * the whole time, so probing the build dir directly would accept a
    * half-built layout after a mid-append crash; with staging, the
    * final path exists only complete, and a crashed attempt's staging
    * debris is wiped on the next call.
    */
  private[graft] def memoLayout(s: SparkSession, name: String, dir: String)(
      write: String => Unit): String = {
    val path = s"${layoutRoot(s)}/${name}_${CorpusCache.fingerprint(s, dir)}"
    this.synchronized {
      if (!new java.io.File(path, "_SUCCESS").isFile) {
        val staging = new java.io.File(path + ".build")
        if (staging.exists()) deleteTree(staging)
        write(staging.getAbsolutePath)
        require(new java.io.File(staging, "_SUCCESS").isFile,
          s"layout build for $name finished without a completion marker")
        val dest = new java.io.File(path)
        if (dest.exists()) deleteTree(dest)
        require(staging.renameTo(dest), s"failed to publish layout $name to $path")
      }
    }
    path
  }

  /** Memoized bucketed+sorted twin of a base table, registered in the
    * session catalog as an external parquet table. The pre-write
    * `repartition(n, key)` uses the SAME hash family as the bucket spec,
    * so every bucket lands in exactly one sorted file. The join above
    * still plans a LOCAL per-bucket Sort (Spark ≥3 ignores bucket
    * sortBy metadata at read time by default — one file per bucket is a
    * write side effect, not a table contract) — what bucketing removes
    * is the Exchange, which is the part that moves 100 TB.
    */
  private def bucketed(
      s: SparkSession, dir: String, table: String, key: String): DataFrame = {
    val name = s"graft_bkt_${table}_${CorpusCache.fingerprint(s, dir)}"
    this.synchronized {
      if (!s.catalog.tableExists(name)) {
        t(s, dir, table)
          .repartition(BucketCount, col(key))
          .write
          .bucketBy(BucketCount, key)
          .sortBy(key)
          .option("path", s"${layoutRoot(s)}/$name")
          .mode("overwrite")
          .format("parquet")
          .saveAsTable(name)
      }
    }
    s.table(name)
  }

  /** Memoized event_type-partitioned twin of `events` (ts pre-truncated
    * to microseconds by the loader, so the copy round-trips exactly).
    */
  private def partitionedEvents(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, memoLayout(s, "graft_part_events", dir) { path =>
      t(s, dir, "events").write
        .partitionBy("event_type")
        .mode("overwrite")
        .parquet(path)
    })

  /** Ingest fragments the q39 fixture writes per partition — the
    * small-files debris a streaming/micro-batch ingest leaves behind
    * (every micro-batch commits one file per partition it touched).
    */
  private val FragmentCount = 16

  /** Fragmented twin of `events`: event_type-partitioned with each
    * partition split across ~[[FragmentCount]] small files — the
    * BEFORE state of the compaction story. Memoized like the other
    * layout rewrites.
    */
  private[graft] def fragmentedEventsPath(s: SparkSession, dir: String): String =
    memoLayout(s, "graft_frag_events", dir) { path =>
      t(s, dir, "events")
        .repartition(FragmentCount, pmod(col("event_id"), lit(FragmentCount)))
        .write.partitionBy("event_type").mode("overwrite").parquet(path)
    }

  /** Bin-packing target: output files carry at most this many rows, so
    * a partition compacts to exactly ⌈n/target⌉ files — the knob that
    * keeps compacted files scan-task-sized instead of unbounded. 1024
    * rows makes the multi-file regime REAL at the gate SFs (sf0.01:
    * ~2k rows/type → 2 files; sf0.1 → 20) while tiny corpora still
    * compact to one. A byte-budget target is the production spelling;
    * rows are its deterministic stand-in on fixed-width gate rows.
    */
  private[graft] val TargetRowsPerFile = 1024

  /** Compaction rewrite (the lakehouse OPTIMIZE/maintenance operator):
    * read the fragmented layout, ONE shuffle keyed on the partition
    * column (every row of a type lands in one task), rewrite with
    * `maxRecordsPerFile` — Spark's built-in bin-packing — so each
    * partition directory compacts to exactly ⌈n/[[TargetRowsPerFile]]⌉
    * files instead of either fragment debris OR one unbounded file.
    * What compaction buys at scale: footer/listing overhead per query
    * drops from O(micro-batches) to O(⌈n/target⌉) per partition, and
    * scan tasks stop being per-fragment-sized (the Tables.t scaladoc's
    * split-parallelism constraint works the other way around here —
    * thousands of tiny row groups each cost a footer read and a task).
    */
  private[graft] def compactedEvents(s: SparkSession, dir: String): DataFrame = {
    val src = fragmentedEventsPath(s, dir)
    Tables.read(s, memoLayout(s, "graft_compact_events", dir) { path =>
      Tables.read(s, src)
        .repartition(col("event_type"))
        .write
        .option("maxRecordsPerFile", TargetRowsPerFile)
        .partitionBy("event_type").mode("overwrite").parquet(path)
    })
  }

  /** Debris threshold for q46's selective planner: partitions holding
    * more than this many data files get rewritten, the rest are left
    * alone. Absolute (like ShingleDfCap): "needs compaction" is a
    * property of one partition's file count, not of table size.
    */
  private[graft] val CompactFileThreshold = 4

  /** Parquet data files of a partition directory (markers excluded). */
  private[graft] def dataFiles(d: java.io.File): Array[java.io.File] = {
    val fs = d.listFiles()
    if (fs == null) Array.empty
    else fs.filter(f => f.isFile && f.getName.endsWith(".parquet"))
  }

  /** Swap a rewritten partition's files into place: the fresh data
    * files move from `tmp` into `pdir` BEFORE the old ones are deleted
    * (no interleaving leaves the directory empty), and every
    * rename/delete is checked — a silently failed swap would serve a
    * partition with lost rows. ONE spelling shared by q46's selective
    * compaction and s13's ANN cell fold: the crash-safety choreography
    * must not drift between call sites.
    */
  private[graft] def swapInFiles(
      pdir: java.io.File, tmp: java.io.File, tag: String): Unit = {
    require(pdir.isDirectory || pdir.mkdirs(), s"$tag: cannot create $pdir")
    val old = dataFiles(pdir)
    val fresh = dataFiles(tmp)
    require(fresh.nonEmpty, s"$tag: rewrite produced no files for $pdir")
    fresh.foreach { f =>
      val target = new java.io.File(pdir, f.getName)
      require(f.renameTo(target), s"$tag: failed to move ${f.getName} into $pdir")
    }
    old.foreach(f => require(f.delete(), s"$tag: failed to delete stale $f"))
  }

  /** Mixed-health twin of `events`: even-length type names arrive as
    * ingest debris ([[FragmentCount]] files per partition), odd-length
    * ones were written compact — the BEFORE state q46's planner must
    * triage. The split rule is deterministic from the type name alone
    * so every SF produces both regimes.
    */
  private[graft] def mixedHealthEventsPath(s: SparkSession, dir: String): String =
    memoLayout(s, "graft_mixedfrag_events", dir) { path =>
      val ev = t(s, dir, "events")
      val debris = length(col("event_type")) % 2 === 0
      ev.filter(debris)
        .repartition(FragmentCount, pmod(col("event_id"), lit(FragmentCount)))
        .write.partitionBy("event_type").mode("overwrite").parquet(path)
      ev.filter(!debris)
        .repartition(col("event_type"))
        .write.partitionBy("event_type").mode("append").parquet(path)
    }

  /** q46's selective (incremental) OPTIMIZE: clone the mixed layout (a
    * stand-in for operating on the live table — the shared fixture
    * must stay pristine), PLAN from per-partition file counts (table
    * metadata, bounded by |partitions|; at scale this read comes from
    * the transaction log, not a listing), and rewrite ONLY the debris
    * partitions — each bin-packed exactly like q39 — swapping the new
    * files into the partition directory so healthy partitions' files
    * are left BYTE-IDENTICAL, never rewritten. At 100 TB this is the
    * difference between maintenance proportional to one day's ingest
    * debris and a full-table rewrite per OPTIMIZE run.
    */
  private[graft] def selectivelyCompactedPath(s: SparkSession, dir: String): String = {
    val src = mixedHealthEventsPath(s, dir)
    memoLayout(s, "graft_selcompact_events", dir) { path =>
      // Build discipline on top of memoLayout's staging: copyTree
      // skips the source's marker and the completion marker is created
      // LAST, so the staged tree only publishes whole. Per-partition
      // tmp dirs live inside the staging root under an underscore name
      // (Spark listings ignore "_"-prefixed dirs, and a crashed
      // attempt's debris dies with the staging wipe). Every
      // rename/delete is checked — a silently failed swap would serve
      // a partition with lost rows — and new files move in BEFORE old
      // ones are deleted, so no interleaving leaves the partition
      // empty.
      val root = new java.io.File(path)
      copyTree(new java.io.File(src), root)
      val parts = root.listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("event_type="))
      parts.filter(p => dataFiles(p).length > CompactFileThreshold).foreach { pdir =>
        val tmp = new java.io.File(root, "_tmp-" + pdir.getName)
        Tables.read(s, pdir.getAbsolutePath)
          .repartition(1)
          .write.option("maxRecordsPerFile", TargetRowsPerFile)
          .mode("overwrite").parquet(tmp.getAbsolutePath)
        swapInFiles(pdir, tmp, "q46")
        deleteTree(tmp)
      }
      require(new java.io.File(root, "_SUCCESS").createNewFile(),
        s"q46: failed to mark $path complete")
    }
  }

  private[graft] def copyTree(src: java.io.File, dst: java.io.File): Unit = {
    dst.mkdirs()
    src.listFiles().foreach { f =>
      val t = new java.io.File(dst, f.getName)
      if (f.isDirectory) copyTree(f, t)
      else if (f.getName != "_SUCCESS") // the caller decides completion
        java.nio.file.Files.copy(f.toPath, t.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private[graft] def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteTree)
    f.delete()
  }

  /** q39/q46's shared content-integrity gate: per partition, row
    * count, decimal-exact value sum, and an order-insensitive XOR of
    * per-row identity hashes against the ORIGINAL events — a lost or
    * duplicated fragment cannot cancel out.
    */
  private def eventsIntegritySql: String = s"""
        SELECT event_type, count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value,
               bit_xor(${graft.pipeline.Portable.md5LongSql("CAST(event_id AS VARCHAR)")}) AS id_xor
        FROM events
        GROUP BY 1"""

  private def eventsIntegrityAgg(df: DataFrame): DataFrame =
    df.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        graft.Agg.dsum(col("value")).as("sum_value"),
        bit_xor(graft.pipeline.Portable.md5Long(col("event_id").cast("string")))
          .as("id_xor"))

  def all: Seq[Q] = Seq(
    // ---- q33: fact-fact join over co-bucketed tables — zero Exchange
    //      below the join (PlanSpec-asserted). The `merge` hint keeps the
    //      planner honest at gate SFs where orders would otherwise
    //      broadcast (fine at 0.1 GB, impossible at 100 TB — the bucketed
    //      layout is precisely the plan that does not degrade). ----
    Q(
      "q33_bucketed_join",
      (s, dir) => {
        val li = bucketed(s, dir, "lineitem", "l_orderkey")
        val ord = bucketed(s, dir, "orders", "o_orderkey")
        li.join(ord.hint("merge"), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(
            count(lit(1)).as("n_items"),
            graft.Agg.dsum(col("l_extendedprice")).as("sum_price"))
      },
      Some("""
        SELECT o_orderpriority, count(*) AS n_items,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_price
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1"""),
    ),

    // ---- q34: partition-pruned scan — the event_type predicate prunes
    //      directories at planning time (PartitionFilters, not
    //      PushedFilters), so the purchase slice is the ONLY data read.
    //      Daily revenue roll-up over the surviving partition. ----
    Q(
      "q34_partition_prune",
      (s, dir) =>
        partitionedEvents(s, dir)
          .filter(col("event_type") === "purchase")
          .groupBy(unix_micros(date_trunc("DAY", col("ts"))).as("day_us"))
          .agg(
            count(lit(1)).as("n"),
            graft.Agg.dsum(col("value")).as("sum_value")),
      Some("""
        SELECT epoch_us(date_trunc('day', ts)) AS day_us, count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1"""),
    ),

    // ---- q39: small-files COMPACTION — the maintenance rewrite that
    //      keeps a streamed-into layout queryable. The gate reads the
    //      compacted table and proves content integrity against the
    //      ORIGINAL events via the oracle: per partition, row count,
    //      decimal-exact value sum, and an order-insensitive XOR of
    //      per-row identity hashes (a lost or duplicated fragment can't
    //      cancel out). File-count physics (many fragments -> exactly
    //      one file per partition) is pinned in CompactionSpec — an
    //      on-disk property the SQL oracle can't see. ----
    Q(
      "q39_compaction",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        eventsIntegrityAgg(compactedEvents(s, dir))
      },
      Some(eventsIntegritySql),
    ),

    // ---- q46: SELECTIVE compaction — the incremental OPTIMIZE q39's
    //      full rewrite grows into at scale: a planner triages
    //      partitions by file count (table metadata, |partitions|-
    //      bounded) and rewrites ONLY the ones above the debris
    //      threshold; healthy partitions keep their files
    //      byte-identical (SelectiveCompactionSpec pins the untouched
    //      file identity and the rewritten partitions' ⌈n/target⌉
    //      physics). Maintenance cost is proportional to debris, not
    //      table size. Content integrity gated exactly like q39:
    //      the oracle cannot see files, so it checks per-partition
    //      count + decimal sum + XOR identity hashes. ----
    Q(
      "q46_selective_compact",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        eventsIntegrityAgg(Tables.read(s, selectivelyCompactedPath(s, dir)))
      },
      Some(eventsIntegritySql),
    ),

    // ---- q37: Z-ORDER clustered layout — 2-D (customer × day) range
    //      queries over `orders` served by a z-bucket-partitioned copy.
    //      Each dim is scaled to a 16-cell grid off its corpus min/max
    //      (integer arithmetic, oracle-replayed), the two 4-bit cell
    //      coords are bit-interleaved into a 256-bucket Morton code, and
    //      the table is written partitioned by that bucket. A query
    //      rectangle then prunes to exactly its intersecting z-cells at
    //      PLANNING time (the cell cover is computed driver-side over
    //      the 256-cell grid — bounded by the grid constant, never the
    //      corpus — and injected as a partition IN-filter). This is the
    //      lakehouse clustering technique single-dimension partitioning
    //      (q34) can't reach: at 100 TB a (customer, time) rectangle
    //      reads ~|rect|/|space| of the files instead of a full
    //      customer- OR time-slice. The residual rectangle predicate
    //      stays in the plan — the cover is a superset in general (here
    //      cell-aligned, so it filters nothing, but the operator must
    //      not silently rely on that). ----
    Q(
      "q37_zorder",
      (s, dir) => {
        val zd = zorderedOrders(s, dir)
        val xb = zCellExpr("o_custkey", zd.ckMin, zd.ckSpan)
        val yb = zCellExpr("day_no", zd.dayMin, zd.daySpan)
        val buckets = for {
          x <- ZQueryXCells; y <- ZQueryYCells
        } yield zInterleaveScala(x, y)
        zd.df
          .filter(col("zbucket").isin(buckets: _*)) // planning-time prune
          .filter(xb.between(ZQueryXCells.head, ZQueryXCells.last)
            && yb.between(ZQueryYCells.head, ZQueryYCells.last)) // residual
          .select(col("o_orderkey"), col("o_custkey"), col("day_no"),
            col("o_totalprice"), col("zbucket").cast("long").as("zbucket"))
      },
      Some(s"""
        WITH mm AS (
          SELECT min(o_custkey) AS ckmin,
                 max(o_custkey) - min(o_custkey) + 1 AS ckspan,
                 min(epoch_us(o_orderdate) // 86400000000) AS dmin,
                 max(epoch_us(o_orderdate) // 86400000000)
                   - min(epoch_us(o_orderdate) // 86400000000) + 1 AS dspan
          FROM orders),
        cells AS (
          SELECT o_orderkey, o_custkey,
                 epoch_us(o_orderdate) // 86400000000 AS day_no,
                 o_totalprice,
                 ((o_custkey - ckmin) * $ZCells) // ckspan AS xb,
                 (((epoch_us(o_orderdate) // 86400000000) - dmin) * $ZCells) // dspan AS yb
          FROM orders, mm)
        SELECT o_orderkey, o_custkey, day_no, o_totalprice,
               ${zInterleaveSql("xb", "yb")} AS zbucket
        FROM cells
        WHERE xb BETWEEN ${ZQueryXCells.head} AND ${ZQueryXCells.last}
          AND yb BETWEEN ${ZQueryYCells.head} AND ${ZQueryYCells.last}"""),
    ),

    // ---- q63: HILBERT clustering — the same 2-D rectangle problem as
    //      q37 answered by the locality-superior curve and the OTHER
    //      pruning mechanism. Hilbert's defining property over Morton:
    //      every consecutive-index step is grid-adjacent (255/255 vs
    //      128/255 on this grid), so a query rectangle's cell cover
    //      collapses to FEWER contiguous index runs — on the gate's
    //      deliberately unaligned 5×6 rectangle, 5 runs vs Morton's 7
    //      (5.60 vs 9.29 mean over all rectangles; HilbertSpec sweeps
    //      it). The layout realizes the curve the way Delta's liquid
    //      clustering does: files RANGE-partitioned + sorted on the
    //      Hilbert index (no partition directories), so each cover run
    //      is one pushable BETWEEN and parquet zone maps skip every
    //      non-intersecting row group — q45's sort-order-as-index
    //      lifted from 1-D to 2-D. At 100 TB the rectangle reads
    //      ~12% of the table in 5 contiguous byte ranges instead of 7
    //      (fewer, longer sequential scans — the seek/task-count win
    //      grows with file count), and the curve index itself is a
    //      256-entry constant-folded array literal, never a per-row
    //      function call or a join. Residual predicate stays in the
    //      plan (cover ⊇ rectangle in general, q37's discipline). ----
    Q("q63_hilbert", q63Run, Some(q63OracleSql)),

    // ---- q45: LINEARLY CLUSTERED layout + zone-map pruning — the
    //      single-column workhorse beside q37's 2-D z-order: `orders`
    //      range-repartitioned AND sorted on the derived DATE key
    //      `o_date` (NOT the raw TIMESTAMP_NTZ column — its pushed
    //      filters don't prune row groups; see clusteredOrders), so each
    //      output file owns a DISJOINT date range and its parquet
    //      row-group stats (the zone map every columnar format keeps
    //      for free) discriminate perfectly. A narrow date-range scan
    //      then pushes its predicates into the reader (PushedFilters)
    //      and the stats skip every non-intersecting row group — at
    //      100 TB a week-of-data query reads ~|week|/|history| of the
    //      table instead of all of it, with NO partition directories,
    //      no metastore, no bucket count to choose: sort order IS the
    //      index. The unsorted original cannot skip anything (its one
    //      row group spans the full date range) — ClusterSpec measures
    //      exactly that contrast via scan-emitted row counts, plus the
    //      disjoint-file-range contract that makes skipping work. ----
    Q(
      "q45_cluster_prune",
      (s, dir) =>
        clusteredOrders(s, dir)
          .filter(col("o_date") >= lit(ClusterQueryLo).cast("date")
            && col("o_date") < lit(ClusterQueryHi).cast("date"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            graft.Agg.dsum(col("o_totalprice")).as("sum_price")),
      Some(s"""
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_price
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '$ClusterQueryLo 00:00:00'
          AND o_orderdate < TIMESTAMP '$ClusterQueryHi 00:00:00'
        GROUP BY 1"""),
    ),

    // ---- q49: FILE-LEVEL BLOOM SKIPPING — the data-skipping index for
    //      the case zone maps (q45) cannot touch: a point lookup on a
    //      key UNCORRELATED with the clustering order. The q45 layout
    //      is date-clustered, so every file's o_orderkey min/max spans
    //      the whole key domain and min/max skipping prunes NOTHING;
    //      instead each file carries a bloom filter over its keys
    //      (built in one distributed pass at write time; per-file
    //      metadata the size Delta/Iceberg keep in manifests), and a
    //      point lookup prunes at PLANNING time by probing blooms —
    //      the driver touches only metadata, like partition pruning.
    //      Probe hashes are computed BY THE ENGINE with the same
    //      md5_long expression the build uses (no driver-side hash
    //      twin to drift); blooms have no false negatives, so the
    //      pruned read then filters EXACTLY — a false positive costs
    //      one extra file read, never a wrong row. At 100 TB: blooms
    //      ride in the table's manifest (8 KB per file here), the
    //      build amortizes into the write path, and a primary-key
    //      lookup reads ~k files of millions instead of the full scan
    //      this table's clustering would otherwise force (BloomSkipSpec
    //      measures the file counts and pins no-false-negatives). ----
    Q(
      "q49_bloom_skip",
      (s, dir) => {
        val sel = bloomSelectedFiles(s, dir)
        val probes = probeKeyHashes(s, dir).map(_._1)
        s.read.parquet(sel: _*)
          .filter(col("o_orderkey").isin(probes: _*))
          .select(col("o_orderkey").as("k"), col("o_custkey"),
            col("o_orderstatus"), col("o_totalprice").as("price"))
      },
      Some(s"""
        WITH pk AS (
          SELECT o_orderkey FROM orders
          WHERE o_orderkey >= (SELECT max(o_orderkey) // 2 FROM orders)
          ORDER BY o_orderkey LIMIT $Q49Probes)
        SELECT o.o_orderkey AS k, o.o_custkey, o.o_orderstatus,
               o.o_totalprice AS price
        FROM orders o JOIN pk ON o.o_orderkey = pk.o_orderkey"""),
    ),

    // ---- q54: PARTITION-SPEC EVOLUTION — the lake reality q42
    //      (schema evolution) has for COLUMNS, replayed for the
    //      PARTITIONING: real tables start unpartitioned (spec v0)
    //      and adopt daily partitions later (spec v1), and old files
    //      are never rewritten — so one logical table permanently
    //      spans two specs. Spark can't read mixed partition schemas
    //      under one root; the Iceberg-shaped answer is per-spec scan
    //      planning — each spec's files read under their OWN spec,
    //      unioned — which is exactly what a manifest planner does
    //      when it groups scan tasks by partition spec. A date-window
    //      query spanning the spec boundary then shows the economics:
    //      the v1 side prunes to its in-window DIRECTORIES at
    //      planning time (PartitionFilters, PlanSpec-asserted); the
    //      v0 side must scan all its files and row-filter (the cost
    //      that motivated the evolution — and why backfills rewrite
    //      old specs when that cost bites). The oracle replays the
    //      window over the original table: any row lost or doubled at
    //      the spec seam splits counts, sums and day keys. ----
    Q(
      "q54_spec_evolution",
      (s, dir) => {
        val root = specEvolvedEventsPath(s, dir)
        val v0 = Tables.read(s, s"$root/spec=v0")
          .filter(to_date(col("ts")).between(lit(SpecWindowLo), lit(SpecWindowHi)))
        val v1 = Tables.read(s, s"$root/spec=v1")
          .filter(col("pd").between(lit(SpecWindowLo), lit(SpecWindowHi)))
          .drop("pd")
        v0.unionByName(v1)
          .groupBy(col("event_type"),
            unix_micros(date_trunc("DAY", col("ts"))).as("day_us"))
          .agg(count(lit(1)).as("n"),
            graft.Agg.dsum(col("value")).as("sum_value"))
      },
      Some(s"""
        SELECT event_type, epoch_us(date_trunc('day', ts)) AS day_us,
               count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        FROM events
        WHERE CAST(ts AS DATE) BETWEEN DATE '$SpecWindowLo' AND DATE '$SpecWindowHi'
        GROUP BY 1, 2"""),
    ),
  )

  /** q54's spec boundary: events dated on or before this day were
    * written under the unpartitioned v0 spec; later days under daily
    * v1 partitions. Mid-corpus so both specs hold real data at every
    * SF.
    */
  private[graft] val SpecBoundary = "2024-01-15"

  /** q54's query window — straddles [[SpecBoundary]] so the read must
    * stitch both specs, and covers a strict subset of v1's days so
    * partition pruning is observable (5 of ~15 directories).
    */
  private[graft] val SpecWindowLo = "2024-01-10"
  private[graft] val SpecWindowHi = "2024-01-20"

  /** The two-spec layout: `spec=v0/` holds the pre-evolution rows as
    * plain unpartitioned parquet; `spec=v1/` holds the rest under
    * `pd=<date>` daily partitions. Memoized + staged like every layout
    * twin; the root marker lands only after BOTH specs are complete.
    */
  private[graft] def specEvolvedEventsPath(s: SparkSession, dir: String): String =
    memoLayout(s, "graft_specevo_events", dir) { path =>
      val e = t(s, dir, "events")
      e.filter(to_date(col("ts")) <= lit(SpecBoundary))
        .write.mode("overwrite").parquet(s"$path/spec=v0")
      e.filter(to_date(col("ts")) > lit(SpecBoundary))
        .withColumn("pd", to_date(col("ts")))
        .write.partitionBy("pd").mode("overwrite").parquet(s"$path/spec=v1")
      java.nio.file.Files.writeString(
        new java.io.File(path, "_SUCCESS").toPath, "")
    }

  /** q49's bloom geometry: 64 Kbit (8 KB) per file at k = 4 hashes —
    * manifest-scale metadata. At the gate SFs per-file fill stays low
    * (≤ ~60% at sf0.1, fp ≈ 10% worst case); a production writer
    * derives m from the file's row count the way d4b's piece-width
    * ladder derives from corpus size. [[Q49Probes]] point lookups on
    * the (unique) order key: each probe lives in exactly ONE file of
    * the date-clustered layout, so pruning stays real at every SF.
    */
  private[sources] val Q49Bits = 1 << 16
  private[sources] val Q49K = 4
  private[sources] val Q49Probes = 5

  // Per-file blooms are planning metadata consulted by every q49 run in
  // a gate session (Q + spec probes) — memoized like the z-layout dims,
  // for as long as the corpus listing the layout was built from.
  /** Per-file key blooms over the date-clustered orders layout: one
    * distributed pass — distinct (file, key-hash), each hash exploded
    * to its [[Q49K]] Kirsch-Mitzenmacher bit positions (the exact
    * positions [[graft.functions.BloomMaskKernel]] probes), bit_or'd
    * into 64-bit words per file, and collected as constant-bounded
    * metadata (files × [[Q49Bits]]/64 words).
    */
  private[graft] def fileBlooms(s: SparkSession, dir: String): Map[String, Array[Long]] =
    CorpusCache(s, dir, "q49.blooms") {
      graft.functions.GraftFunctions.register(s)
      val nWords = Q49Bits / 64
      val words = clusteredOrders(s, dir)
        .select(input_file_name().as("fname"),
          graft.pipeline.Portable.md5Long(col("o_orderkey").cast("string")).as("h"))
        .distinct()
        .withColumn("h1", col("h").bitwiseAND(lit(0xFFFFFFFFL)))
        .withColumn("h2", expr("shiftrightunsigned(h, 30) | 1"))
        .select(col("fname"), explode(array((0 until Q49K).map(i =>
          (col("h1") + lit(i.toLong) * col("h2")) % lit(Q49Bits.toLong)): _*)).as("p"))
        .groupBy(col("fname"), expr("p div 64").as("w"))
        .agg(expr("bit_or(shiftleft(1L, CAST(p % 64 AS INT)))").as("word"))
      graft.BoundedCollect.rows(words, ClusterFileCount * nWords, "q49 file blooms")
        .groupBy(_.getString(0)).map { case (f, rs) =>
          val arr = new Array[Long](nWords)
          rs.foreach(r => arr(r.getLong(1).toInt) = r.getLong(2))
          f -> arr
        }
    }

  /** q49's probe set: the [[Q49Probes]] smallest order keys AT OR ABOVE
    * the key-domain midpoint (deterministic at every SF; mid-domain, so
    * the keys sit inside essentially every file's min/max range — edge
    * keys would hand the zone map a free win the index exists to not
    * need) paired with their portable hashes — computed by the engine
    * via the SAME md5_long expression the bloom build uses, so build
    * and probe can never disagree on the hash.
    */
  // Probe keys are planning metadata read twice per q49 run (the file
  // selection and the exact filter) plus by every BloomSkipSpec probe —
  // memoized like fileBlooms, so the midpoint scan and the top-k run
  // once per session.
  private[graft] def probeKeyHashes(s: SparkSession, dir: String): Seq[(Long, Long)] =
    CorpusCache(s, dir, "q49.probes") {
      graft.functions.GraftFunctions.register(s)
      val orders = t(s, dir, "orders")
      val mid = graft.BoundedCollect.rows(
        orders.agg(expr("max(o_orderkey) div 2").as("mid")),
        1, "q49 key-domain midpoint")(0).getLong(0)
      val pk = orders.filter(col("o_orderkey") >= mid)
        .orderBy(col("o_orderkey")).limit(Q49Probes)
        .select(col("o_orderkey").as("k"),
          graft.pipeline.Portable.md5Long(col("o_orderkey").cast("string")).as("h"))
      graft.BoundedCollect.rows(pk, Q49Probes, "q49 probe keys")
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    }

  /** Planning-time file selection: the files whose bloom might contain
    * ANY probe key (union over probes — a point-lookup batch). No
    * false negatives by bloom construction; [[BloomMaskKernel]] is the
    * shared probe kernel, driver-side here because blooms are
    * planning metadata, exactly like partition pruning.
    */
  private[graft] def bloomSelectedFiles(s: SparkSession, dir: String): Seq[String] = {
    val hs = probeKeyHashes(s, dir).map(_._2)
    fileBlooms(s, dir).collect {
      case (f, mask) if hs.exists(h =>
        graft.functions.BloomMaskKernel.contains(h, mask, Q49K, Q49Bits)) => f
    }.toSeq.sorted
  }

  /** q45's clustering geometry and gate window: enough files that the
    * multi-file skipping regime is real at every gate SF, and a
    * ~3-month slice of the ~6.5-year order history (≈4% of rows) so
    * pruning has something to prove. Day-level bounds, so the DATE
    * clustering key and the oracle's timestamp predicate agree exactly.
    */
  private[graft] val ClusterFileCount = 16
  private[graft] val ClusterQueryLo = "1998-03-01"
  private[graft] val ClusterQueryHi = "1998-06-01"

  /** Memoized date-clustered twin of `orders`: a derived DATE
    * clustering key (`o_date = o_orderdate`'s day — parquet INT32,
    * whose row-group stats Spark's reader provably prunes on; the raw
    * TIMESTAMP_NTZ column's stats it does not, measured in
    * ClusterSpec's history), range-repartitioned so each output file
    * owns a disjoint date range (sampled boundaries) and sorted within
    * files so every row group's min/max is tight. This is the
    * write-side half of zone-map skipping; the read side is plain
    * parquet pushdown. Exposed for ClusterSpec's on-disk contracts.
    */
  private[graft] def clusteredOrders(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, memoLayout(s, "graft_clust_orders", dir) { path =>
      t(s, dir, "orders")
        .withColumn("o_date", to_date(col("o_orderdate")))
        .repartitionByRange(ClusterFileCount, col("o_date"))
        .sortWithinPartitions(col("o_date"))
        .write.mode("overwrite").parquet(path)
    })

  /** Z-grid resolution: 16 cells per dimension, 256 Morton buckets. */
  private val ZBits = 4
  private val ZCells = 1 << ZBits // 16

  /** The gate query's rectangle, in cell coords: a quarter of each dim
    * (cell-aligned so the bucket cover is exact — see the q37 comment),
    * i.e. 16 of 256 buckets ≈ 6% of the layout read.
    */
  private val ZQueryXCells: Seq[Int] = 4 to 7
  private val ZQueryYCells: Seq[Int] = 8 to 11

  /** Cell coordinate of a value on a min/span-scaled 16-cell grid —
    * `((v - min) * 16) div span`, kept in integer arithmetic so Spark
    * and DuckDB agree exactly ('div'/'//'; a double division could
    * round differently at cell edges).
    */
  private def zCellExpr(name: String, min: Long, span: Long): Column =
    expr(s"(($name - ${min}L) * $ZCells) div ${span}L")

  /** Morton interleave of two [[ZBits]]-bit cell coords (x even bits,
    * y odd bits) — column, SQL-oracle, and driver-side Scala twins.
    */
  private def zInterleaveCol(xb: Column, yb: Column): Column =
    (0 until ZBits).map { b =>
      shiftright(xb, b).bitwiseAND(lit(1L)) * lit(1L << (2 * b)) +
        shiftright(yb, b).bitwiseAND(lit(1L)) * lit(1L << (2 * b + 1))
    }.reduce(_ + _)
  private def zInterleaveSql(xb: String, yb: String): String =
    (0 until ZBits).map { b =>
      s"((($xb >> $b) & 1) * ${1L << (2 * b)} + (($yb >> $b) & 1) * ${1L << (2 * b + 1)})"
    }.mkString(" + ")
  private def zInterleaveScala(x: Int, y: Int): Long =
    (0 until ZBits).map { b =>
      (((x >> b) & 1).toLong << (2 * b)) + (((y >> b) & 1).toLong << (2 * b + 1))
    }.sum

  /** The z-clustered `orders` layout plus the grid geometry it was
    * written with. The min/max dims are four driver-side longs
    * (BoundedCollect, q31 precedent) — index metadata, not data.
    */
  private final case class ZLayout(
      df: DataFrame, ckMin: Long, ckSpan: Long, dayMin: Long, daySpan: Long)

  /** `orders` with the derived day number both curve layouts cluster on.
    * o_orderdate is TIMESTAMP_NTZ; session tz is UTC, so the cast reads
    * the same instant DuckDB's epoch_us sees (q25 precedent).
    */
  private def ordersWithDay(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .withColumn("day_no",
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"))

  /** The (custkey, day) grid geometry shared by q37's Morton and q63's
    * Hilbert layouts — ONE computation per (session, corpus listing),
    * so both curves cluster the identical 16×16 grid and their covers
    * are comparable cell-for-cell. Valid exactly as long as the layout
    * path the dims describe: a corpus regenerated at the same dir gets
    * a new layout AND new dims, never a layout over stale geometry
    * (ADVICE r6).
    */
  private def gridDims(s: SparkSession, dir: String): (Long, Long, Long, Long) =
    CorpusCache(s, dir, "q37.grid") {
      val r = graft.BoundedCollect.rows(
        ordersWithDay(s, dir).agg(
          min("o_custkey"), max("o_custkey"), min("day_no"), max("day_no")),
        1, "q37/q63 grid dims")(0)
      (r.getLong(0), r.getLong(1) - r.getLong(0) + 1,
        r.getLong(2), r.getLong(3) - r.getLong(2) + 1)
    }

  private def zorderedOrders(s: SparkSession, dir: String): ZLayout = {
    val withDay = ordersWithDay(s, dir)
    val (ckMin, ckSpan, dayMin, daySpan) = gridDims(s, dir)
    val path = memoLayout(s, "graft_zorder_orders", dir) { p =>
      withDay
        .withColumn("zbucket",
          zInterleaveCol(
            zCellExpr("o_custkey", ckMin, ckSpan),
            zCellExpr("day_no", dayMin, daySpan)).cast("int"))
        .select("o_orderkey", "o_custkey", "day_no", "o_totalprice", "zbucket")
        // one shuffle on the bucket so each partition dir is one file,
        // not one fragment per input task — the write-side compaction a
        // clustered layout needs anyway
        .repartition(col("zbucket"))
        .write.partitionBy("zbucket").mode("overwrite").parquet(p)
    }
    ZLayout(Tables.read(s, path), ckMin, ckSpan, dayMin, daySpan)
  }

  // ------------------------------------------------------------------
  // q63: Hilbert-curve clustering (the locality-superior space-filling
  // curve beside q37's Morton order)
  // ------------------------------------------------------------------

  /** Hilbert index of a cell on the [[ZCells]]×[[ZCells]] grid — the
    * classic iterated quadrant-rotation form of xy→d (Hilbert 1891; the
    * standard public xy2d formulation). Driver-side only: the engine
    * never evaluates this per row — it reads the 256-entry
    * [[HilbertLut]] this generates, which is grid-resolution-bounded
    * metadata (like q37's cell cover), never corpus-scaled.
    */
  private def hilbertXY2D(x0: Int, y0: Int): Long = {
    var x = x0; var y = y0; var d = 0L
    var s = ZCells / 2
    while (s > 0) {
      val rx = if ((x & s) > 0) 1 else 0
      val ry = if ((y & s) > 0) 1 else 0
      d += s.toLong * s * ((3 * rx) ^ ry)
      if (ry == 0) { // rotate the quadrant so the curve connects
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val tmp = x; x = y; y = tmp
      }
      s /= 2
    }
    d
  }

  /** Row-major (x·16 + y) table of all 256 Hilbert indices — a
    * bijection onto [0, 256) (HilbertSpec pins it, plus the property
    * that makes Hilbert worth a second layout: ALL 255 consecutive-d
    * steps are grid-adjacent, where Morton manages only 128 — so a
    * query rectangle's cover splinters into fewer contiguous d-runs).
    */
  private[graft] val HilbertLut: IndexedSeq[Long] =
    for { x <- 0 until ZCells; y <- 0 until ZCells }
      yield hilbertXY2D(x, y)

  /** Morton twin of [[HilbertLut]]'s per-cell index, exposed for the
    * spec's run-count comparison.
    */
  private[graft] def mortonD(x: Int, y: Int): Long = zInterleaveScala(x, y)

  /** Engine-side Hilbert index: a constant 256-element array literal
    * indexed by the cell coords — constant-folded, codegen-friendly, no
    * join, and byte-identical between build and probe. DuckDB twin
    * below (1-based list indexing in both spellings).
    */
  private def hilbertCol(xb: Column, yb: Column): Column =
    element_at(
      array(HilbertLut.map(v => lit(v)): _*),
      (xb * lit(ZCells.toLong) + yb + lit(1L)).cast("int"))
  private def hilbertSql(xb: String, yb: String): String =
    s"CAST((${HilbertLut.mkString("[", ", ", "]")})" +
      s"[CAST($xb * $ZCells + $yb + 1 AS INT)] AS BIGINT)"

  /** q63's gate rectangle, in cell coords: deliberately UNALIGNED
    * (5×6 cells, 30/256 ≈ 12% of the grid) — on aligned power-of-2
    * tiles Hilbert and Morton both cover in one run and the curves are
    * indistinguishable; real dashboards don't ask cell-aligned
    * rectangles. On this one the Hilbert cover is 5 contiguous d-runs
    * vs Morton's 7 (and 5.60 vs 9.29 mean runs over ALL rectangles of
    * the grid — HilbertSpec sweeps that exhaustively).
    */
  private[graft] val HQueryXCells: Seq[Int] = 3 to 7
  private[graft] val HQueryYCells: Seq[Int] = 6 to 11

  /** The rectangle's Hilbert cover collapsed to maximal contiguous
    * d-runs — the form the scan filter takes. Bounded by the 256-cell
    * grid, computed driver-side like q37's bucket cover.
    */
  private[graft] def contiguousRuns(cover: Seq[Long]): Seq[(Long, Long)] = {
    val sorted = cover.distinct.sorted
    sorted.foldLeft(Vector.empty[(Long, Long)]) {
      case (acc :+ ((lo, hi)), v) if v == hi + 1 => acc :+ (lo -> v)
      case (acc, v) => acc :+ (v -> v)
    }
  }

  private def hilbertCoverRuns: Seq[(Long, Long)] =
    contiguousRuns(for { x <- HQueryXCells; y <- HQueryYCells }
      yield HilbertLut(x * ZCells + y))

  /** 16 range-partitioned files along the curve — the liquid-clustering
    * file layout: each file owns one contiguous d-range, so a cover
    * run intersects ⌈run/16⌉ files and fewer runs IS fewer scan ranges.
    */
  private val HilbertFileCount = 16

  /** The Hilbert-clustered `orders` layout: d computed on the SAME grid
    * as q37 (shared [[gridDims]]), files RANGE-clustered on d (not
    * directory-partitioned like q37's zbucket — this is the other half
    * of the clustering design space: sort-order-as-index with zone-map
    * skipping, q45's mechanism lifted from 1-D to a space-filling
    * curve).
    */
  private def hilbertOrders(s: SparkSession, dir: String): ZLayout = {
    val withDay = ordersWithDay(s, dir)
    val (ckMin, ckSpan, dayMin, daySpan) = gridDims(s, dir)
    val path = memoLayout(s, "graft_hilbert_orders", dir) { p =>
      withDay
        .withColumn("hd",
          hilbertCol(
            zCellExpr("o_custkey", ckMin, ckSpan),
            zCellExpr("day_no", dayMin, daySpan)))
        .select("o_orderkey", "o_custkey", "day_no", "o_totalprice", "hd")
        .repartitionByRange(HilbertFileCount, col("hd"))
        .sortWithinPartitions(col("hd"))
        .write.mode("overwrite").parquet(p)
    }
    ZLayout(Tables.read(s, path), ckMin, ckSpan, dayMin, daySpan)
  }

  private[graft] def q63Run(s: SparkSession, dir: String): DataFrame = {
    val hl = hilbertOrders(s, dir)
    val xb = zCellExpr("o_custkey", hl.ckMin, hl.ckSpan)
    val yb = zCellExpr("day_no", hl.dayMin, hl.daySpan)
    // the cover as maximal d-runs: 5 pushable BETWEEN ranges (Morton
    // would need 7 on the same rectangle) — parquet prunes row groups
    // against each range's min/max
    val coverFilter = hilbertCoverRuns
      .map { case (lo, hi) => col("hd").between(lo, hi) }
      .reduce(_ || _)
    hl.df
      .filter(coverFilter)
      .filter(xb.between(HQueryXCells.head, HQueryXCells.last)
        && yb.between(HQueryYCells.head, HQueryYCells.last)) // residual
      .select(col("o_orderkey"), col("o_custkey"), col("day_no"),
        col("o_totalprice"), col("hd"))
  }

  private[graft] def q63OracleSql: String = s"""
        WITH mm AS (
          SELECT min(o_custkey) AS ckmin,
                 max(o_custkey) - min(o_custkey) + 1 AS ckspan,
                 min(epoch_us(o_orderdate) // 86400000000) AS dmin,
                 max(epoch_us(o_orderdate) // 86400000000)
                   - min(epoch_us(o_orderdate) // 86400000000) + 1 AS dspan
          FROM orders),
        cells AS (
          SELECT o_orderkey, o_custkey,
                 epoch_us(o_orderdate) // 86400000000 AS day_no,
                 o_totalprice,
                 ((o_custkey - ckmin) * $ZCells) // ckspan AS xb,
                 (((epoch_us(o_orderdate) // 86400000000) - dmin) * $ZCells) // dspan AS yb
          FROM orders, mm)
        SELECT o_orderkey, o_custkey, day_no, o_totalprice,
               ${hilbertSql("xb", "yb")} AS hd
        FROM cells
        WHERE xb BETWEEN ${HQueryXCells.head} AND ${HQueryXCells.last}
          AND yb BETWEEN ${HQueryYCells.head} AND ${HQueryYCells.last}"""
}
