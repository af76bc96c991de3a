package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: the scale properties the queries claim
  * (pushdown, pruning, broadcast, codegen) must actually appear in the
  * optimized physical plans — `.explain` as a test, not a hope.
  */
class PlanSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  /** Plan AFTER execution: AQE finalizes stages (and wraps them in
    * WholeStageCodegen) only once the query runs, so codegen assertions
    * must look at the final adaptive plan, not the initial one.
    */
  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.collect() // a write would spawn a SEPARATE QueryExecution; collect
    // finalizes THIS one's adaptive plan
    df.queryExecution.executedPlan.toString
  }

  test("q2: filter is pushed into the parquet scan and columns are pruned") {
    val p = plan("q2_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull"), s"expected pushed filters in scan:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipda"), s"shipdate filter not pushed:\n$p")
    // projection needs 5 output + 3 filter columns; the 11-column
    // lineitem scan must NOT read the rest
    assert(!p.contains("l_partkey") && !p.contains("l_tax"),
      s"scan should prune unused columns:\n$p")
  }

  test("e11: z-score window runs over the aggregated hourly series, not raw events") {
    val p = plan("e11_rate_anomaly")
    // two-stage hash aggregate (map-side partials) feeds the window
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"hourly roll-up should partial-aggregate map-side:\n$p")
    assert(p.contains("Window"), s"expected a window over the series:\n$p")
    val readSchemas = raw"ReadSchema: struct<[^>]*>".r.findAllIn(p).toList
    assert(readSchemas.nonEmpty && readSchemas.forall(rs =>
      !rs.contains("props") && !rs.contains("user_id") && !rs.contains("value")),
      s"events scan should read only ts/event_type, got $readSchemas:\n$p")
  }

  test("p4: split assignment is a shuffle-free narrow map with a pruned scan") {
    val p = plan("p4_split_assign")
    assert(!p.contains("Exchange"), s"pure per-row map must not shuffle:\n$p")
    val readSchemas = raw"ReadSchema: struct<[^>]*>".r.findAllIn(p).toList
    assert(readSchemas.nonEmpty && readSchemas.forall(!_.contains("text")),
      s"documents scan should not read text, got $readSchemas:\n$p")
  }

  test("t11: novelty joins are hash-bucketed — no pair explosion, no cartesian") {
    val p = plan("t11_novelty")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"owner join must be an equi-join on h:\n$p")
    // reuses the session-materialized shingle index, not a fresh corpus scan
    assert(p.contains("InMemoryTableScan") || p.contains("Scan parquet"),
      s"expected the shared index (or its first build) to feed the join:\n$p")
  }

  test("e12: one event_type shuffle feeds the stateful ring") {
    val p = plan("e12_stream_anomaly")
    // batch runs plan flatMapGroupsWithState as MapGroups (state no-ops)
    assert(p.contains("FlatMapGroupsWithState") || p.contains("MapGroups"),
      s"expected the state machine:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"at most one shuffle (event_type) below the state op:\n$p")
  }

  test("q5: dimension chain is broadcast, not shuffled") {
    val p = plan("q5_star_join")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"), "star-join dims must not sort-merge")
  }

  test("q3: filtered customer dim broadcasts; orders filter pushed") {
    val p = plan("q3_join_topk")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("PushedFilters"))
  }

  test("q1: aggregation is partial (map-side combine) before the exchange") {
    val p = plan("q1_agg")
    val firstHashAgg = p.indexOf("HashAggregate")
    val exchange = p.indexOf("Exchange")
    assert(firstHashAgg >= 0 && exchange >= 0)
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "expected partial aggregation")
  }

  test("q10: global top-k is TakeOrderedAndProject, not a full sort") {
    val p = plan("q10_topk")
    assert(p.contains("TakeOrderedAndProject"), s"top-k should not globally sort:\n$p")
  }

  test("whole-stage codegen covers the scan->filter->project pipeline of q2") {
    val p = executedPlan("q2_filter_project")
    // the final adaptive plan marks codegen stages with "*(n)"
    assert(p.contains("*(1)"), s"pipeline should be codegen'd:\n$p")
  }

  test("t3 text ops stay in one codegen stage with a pruned scan") {
    val p = executedPlan("t3_tokens")
    assert(p.contains("*(1)"), s"should be codegen'd:\n$p")
    assert(p.contains("doc_id") && p.contains("text")
      && !p.contains("lang"), s"documents scan should prune:\n$p")
  }

  test("s1: corpus side of knn is broadcast-joined against the tiny query set") {
    val p = plan("s1_knn_brute")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query set should broadcast:\n$p")
  }

  test("d2: hot-shingle cap is a broadcast ANTI-join — big side never shuffles to filter") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // assert on the UNCACHED builder: in the inventory query the capped
    // index is materialized, so its plan hides inside an InMemoryRelation
    val docs = Seq((1L, "one two three four"), (2L, "two three four five"))
      .toDF("doc_id", "text")
    val p = graft.pipeline.Dedup.applyDfCap(graft.pipeline.Dedup.rawShingles(docs))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"df cap must be a broadcast anti-join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"df cap must not shuffle the index:\n$p")
  }

  test("s9: metadata predicate pushes to the documents scan; filter precedes distance work") {
    val p = plan("s9_filtered_knn")
    assert(p.contains("EqualTo(lang,en)") && p.contains("GreaterThanOrEqual(n_chars,200)"),
      s"metadata predicate must reach the parquet scan:\n$p")
    // column pruning: check the SCANS' ReadSchema specifically — a bare
    // substring match on the whole plan also hits file paths/expression
    // names and can fail (or silently pass) for unrelated reasons
    val readSchemas = raw"ReadSchema: struct<[^>]*>".r.findAllIn(p).toList
    assert(readSchemas.nonEmpty, s"expected parquet scans with ReadSchema:\n$p")
    assert(readSchemas.forall(!_.contains("text")),
      s"the filter scan must prune the text column, got $readSchemas:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query set should broadcast:\n$p")
  }

  test("s4: centroid assignment and probes broadcast; no cartesian product") {
    val p = plan("s4_knn_ivf")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"centroid/probe joins must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"IVF must never plan a cartesian product:\n$p")
  }

  test("m3: native byte_hist decode plans with zero Exchange and no RDD seam") {
    val p = plan("m3_decode_features")
    assert(!p.contains("Exchange"),
      s"per-row histogram must not shuffle anything:\n$p")
    assert(!p.contains("Scan ExistingRDD"),
      s"decode stub must stay in the Tungsten pipeline:\n$p")
  }

  test("p1: uniq computes once (materialized); loser anti-join broadcasts by stats") {
    val p = plan("p1_curation")
    // there is deliberately NO broadcast hint on the loser side (a forced
    // broadcast of a corpus-fraction loser set is an OOM at 100 TB); at
    // gate scale the planner still picks broadcast because the cached
    // side's stats are known-small
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"loser removal should plan as a (stats-chosen) broadcast anti-join:\n$p")
    // the gate + dedup-window subtree must appear ONLY inside the cached
    // uniq build: everything above the first InMemoryRelation is the
    // consumer plan, and a Window there means uniq recomputed
    val consumer = p.substring(0, p.indexOf("InMemoryRelation"))
    assert(consumer.contains("InMemoryTableScan"),
      s"uniq must be read from the materialized cache:\n$p")
    assert(!consumer.contains("Window"),
      s"dedup window recomputed outside the materialized uniq:\n$p")
    // the exact-dedup window (inside the cache build) must hash-partition
    // on fingerprint — a global (empty-key) window would serialize the
    // corpus on one task
    assert(p.contains("hashpartitioning(fingerprint"),
      s"dedup row_number must partition by fingerprint:\n$p")
  }

  test("q33: co-bucketed join plans with zero Exchange below it") {
    // cut at AQE's "== Initial Plan ==" trailer: it repeats the
    // pre-adaptive tree (including the aggregate's Exchange) below the
    // final plan's join in the flat string
    val p = executedPlan("q33_bucketed_join").split("== Initial Plan ==")(0)
    val joinAt = p.indexOf("SortMergeJoin")
    assert(joinAt >= 0, s"bucketed join must sort-merge (not broadcast):\n$p")
    // in the tree print the join's children (the bucketed scans) appear
    // below it; the only Exchange allowed in the whole plan is the final
    // aggregate's, which prints ABOVE the join. (A LOCAL per-bucket Sort
    // below the join is expected: Spark ≥3 ignores bucket sortBy
    // metadata at read time by default — one-file-per-bucket is a write
    // side effect, not a table contract — and the in-memory bucket sort
    // is the cheap part; the shuffle is what bucketing removes.)
    val below = p.substring(joinAt)
    assert(!below.contains("Exchange"),
      s"bucketed sides must not re-shuffle:\n$p")
    assert(below.contains("Bucketed: true") && below.contains("SelectedBucketsCount"),
      s"join inputs must be the bucketed scans:\n$p")
  }

  test("q25: as-of rides the union timeline — no join fan-out, no sort aggregate") {
    // Round 13: the join-then-argmax spelling fanned every event out to
    // all its user's earlier orders and sorted that fan-out twice
    // (max_by's struct ordering key demotes the aggregate to
    // SortAggregate). The union-trick plan must have NO join at all —
    // events and orders meet in one per-user timeline — and exactly one
    // Window (the running last over the union), never a SortAggregate.
    val p = plan("q25_asof_join")
    assert(!p.contains("Join"),
      s"as-of must not join-fan-out the event stream:\n$p")
    assert(!p.contains("SortAggregate"),
      s"as-of must not sort-aggregate a fan-out:\n$p")
    assert(p.contains("Window") && p.contains("Union"),
      s"expected the running-last window over the union timeline:\n$p")
  }

  test("q34: event_type predicate prunes partitions at planning time") {
    val p = plan("q34_partition_prune")
    assert(p.contains("PartitionFilters") && p.contains("event_type"),
      s"expected a partition filter on event_type:\n$p")
    assert(p.contains("(event_type#") || p.contains("= purchase"),
      s"purchase slice should prune directories:\n$p")
  }

  test("q17/q21: grouping-set Expand multiplies pre-aggregated partials, not the fact table") {
    for (name <- Seq("q17_rollup", "q21_cube")) {
      val p = plan(name).split("== Initial Plan ==")(0)
      val i = p.indexOf("Expand")
      assert(i >= 0, s"$name must still plan a grouping-set Expand:\n$p")
      // two-phase signature: an aggregate BELOW the Expand (tree prints
      // children underneath) — the naive plan expands raw scan rows
      assert(p.substring(i).contains("HashAggregate"),
        s"$name: Expand must sit above the pre-aggregation, not the scan:\n$p")
    }
  }

  test("q60: the runtime bloom filter injects into the fact side of the join") {
    val p = plan("q60_runtime_filter")
    assert(p.contains("might_contain"),
      s"the fact scan must be guarded by the runtime bloom probe:\n${p.take(2000)}")
    assert(p.contains("bloom_filter_agg"),
      s"the selective side must build the bloom at runtime:\n${p.take(2000)}")
  }

  test("q57: count/min/max are answered from parquet footers, not data pages") {
    val p = plan("q57_agg_pushdown")
    assert(p.contains("PushedAggregation: [COUNT(*)"),
      s"the scan must carry the pushed aggregate list:\n$p")
    assert(p.contains("MIN(l_quantity)") && p.contains("MAX(l_orderkey)"),
      s"all five stats must push down, not just the count:\n$p")
  }

  test("q55: the hierarchy walk runs through the engine's UnionLoop, not a rewrite") {
    val p = plan("q55_recursive_cte")
    assert(p.contains("UnionLoop"),
      s"WITH RECURSIVE must plan Spark 4's UnionLoop operator:\n$p")
    val r = SparkEntry.queries("q55_recursive_cte")(spark, dir)
    val depths = BoundedCollect.rows(r, 100, "q55 spec roots")
    assert(depths.nonEmpty && depths.map(_.getInt(1)).max >= 2,
      "the gate corpus tree must actually recurse multiple levels")
  }

  test("q54: the v1 spec prunes day directories; the v0 spec reads all its files") {
    val p = plan("q54_spec_evolution")
    // the daily-spec scan must carry a NON-EMPTY planning-time
    // partition filter on pd (q37's bracket rule: 'PartitionFilters:'
    // prints (empty) on every partitioned scan)
    assert("PartitionFilters: \\[[^\\]]*pd".r.findFirstIn(p).isDefined,
      s"the v1 window must be a planning-time partition filter on pd:\n$p")
    // the in-window day count, observed from the actual fixture: the
    // pruned scan reads a strict subset of v1's directories
    val root = graft.sources.Layout.specEvolvedEventsPath(spark, dir)
    val v1Days = new java.io.File(s"$root/spec=v1").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("pd="))
    val inWindow = new java.io.File(s"$root/spec=v1").listFiles()
      .count { f =>
        val n = f.getName
        n.startsWith("pd=") &&
          n.stripPrefix("pd=") >= graft.sources.Layout.SpecWindowLo &&
          n.stripPrefix("pd=") <= graft.sources.Layout.SpecWindowHi
      }
    assert(inWindow > 0 && inWindow < v1Days,
      s"window must cover a strict subset of v1 days ($inWindow of $v1Days)")
    // sparkPlan, not executedPlan: AQE wraps the tree and hides the
    // scans from collect until execution
    val scanned = SparkEntry.queries("q54_spec_evolution")(spark, dir)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
    assert(scanned.size == 2, s"one scan per spec:\n$p")
    val parts = scanned.map(_.selectedPartitions.partitionCount)
    assert(parts.contains(inWindow),
      s"the v1 scan must select exactly the $inWindow in-window day dirs, got $parts")
  }

  test("q37: z-bucket cover prunes partitions at planning time") {
    val p = plan("q37_zorder")
    // the filter must sit INSIDE the scan's PartitionFilters bracket —
    // 'PartitionFilters:' prints (empty) on every partitioned scan, and
    // a post-scan Filter node would also mention zbucket, so substring
    // checks alone can green-light an unpruned full read
    assert("PartitionFilters: \\[[^\\]]*zbucket".r.findFirstIn(p).isDefined,
      s"the z-cover must be a NON-EMPTY planning-time partition filter:\n$p")
    assert("PartitionFilters: \\[[^\\]]*(INSET| IN \\()".r.findFirstIn(p).isDefined,
      s"the 16-cell cover should be a literal IN/INSET partition filter:\n$p")
  }

  test("q38: refresh reads cached lake partials; only the delta scans orders") {
    val p = plan("q38_incremental_agg")
    assert(p.contains("InMemoryTableScan") || p.contains("Scan In-memory"),
      s"the lake's partial aggregates must come from the materialized cache:\n$p")
    // exactly one relation LEAF besides the cache (the delta side) in
    // the optimized logical tree — the executed-plan STRING nests the
    // cache's original build plan inside InMemoryRelation, so leaves are
    // counted structurally, not textually
    val leaves = SparkEntry.queries("q38_incremental_agg")(spark, dir)
      .queryExecution.optimizedPlan.collectLeaves().map(_.nodeName)
    assert(leaves.count(_ == "InMemoryRelation") == 1
      && leaves.count(_ != "InMemoryRelation") == 1,
      s"expected exactly {cache leaf, delta scan leaf}, got: $leaves")
    // inside the bracket, not anywhere in the plan: every parquet scan
    // prints 'PushedFilters: [...]' (possibly empty) and reads
    // o_orderdate for the filter column, so substring checks alone
    // cannot fail even when pushdown regresses
    assert("PushedFilters: \\[[^\\]]*o_orderdate".r.findFirstIn(p).isDefined,
      s"the delta cutoff must be pushed into the orders scan:\n$p")
  }

  test("t10: per-source pack partitions on source; no global range sort") {
    val p = plan("t10_seq_pack")
    assert(p.contains("hashpartitioning(source"),
      s"pack must shuffle once on source:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"a global sort would funnel the corpus through few reducers:\n$p")
  }

  test("m5: byte_simhash fingerprint plans with zero Exchange") {
    val p = plan("m5_payload_phash")
    assert(!p.contains("Exchange"),
      s"the per-row signature must not shuffle anything:\n$p")
  }

  test("e10: trending rank runs over aggregated rows with a group limit") {
    val p = plan("e10_trending")
    assert(p.contains("partial_count"),
      s"hourly counts must partial-aggregate map-side:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"the rk<=3 filter should prune inside the window sort:\n$p")
  }

  test("p5: per-source quota prunes inside the window sort, scan reads only keys") {
    val p = plan("p5_domain_quota")
    assert(p.contains("WindowGroupLimit"),
      s"the rk<=quota filter must prune per-source before the shuffle:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string"),
      s"the documents scan must not read text for a (doc_id,source) quota:\n$p")
  }

  test("t12: tf and df partial-aggregate map-side; top-k is a group limit") {
    val p = plan("t12_tfidf")
    assert(p.contains("partial_count"),
      s"tf/df counts must partial-aggregate before their exchanges:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"the per-doc top-3 must prune inside the window sort:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"tf⋈df must stay an equi-join on term:\n$p")
  }

  test("e13: batch dedup twin is one fingerprint shuffle with map-side partial dedup") {
    val p = plan("e13_stream_dedup")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"exactly one exchange (on the content fingerprint) expected:\n$p")
    assert(p.contains("partial_first") || p.contains("HashAggregate"),
      s"survivor pick must partial-aggregate map-side:\n$p")
  }

  test("s11: drift joins stay broadcast/index-sized; base side reads the checkpointed assignment") {
    val p = executedPlan("s11_ann_drift")
    assert(!p.contains("CartesianProduct"), s"no cartesian in the drift report:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin"),
      s"K-row drift joins must broadcast, not sort-merge:\n${p.take(3000)}")
    // the base-corpus assignment must come from the materialized
    // (localCheckpoint'd) artifact, not a re-run of the frozen-assign
    // pipeline over 90% of the corpus. A plan-string scan is VACUOUS
    // here (the centroid table is also checkpointed, so 'Scan
    // ExistingRDD' always appears) — pin the helper's own analyzed
    // plan instead: a LogicalRDD leaf IS the checkpoint.
    val baseLeafs = graft.pipeline.Similarity.s10BaseAssigned(spark, dir)
      .queryExecution.analyzed.collectLeaves()
    assert(baseLeafs.forall(_.getClass.getSimpleName == "LogicalRDD"),
      s"base assignment must be served from the checkpointed artifact, got " +
        baseLeafs.map(_.getClass.getSimpleName).mkString(","))
  }

  test("q42: merged evolved read prunes the wide text column") {
    val p = plan("q42_schema_evolution")
    val rs = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(rs.contains("doc_id") && rs.contains("n_chars") && rs.contains("source"),
      s"read schema: $rs")
    assert(!rs.contains("text"),
      s"text (the table's byte volume) must be pruned from the evolved read: $rs")
  }

  test("q39: compaction gate aggregate partial-combines over the compacted layout") {
    val p = plan("q39_compaction")
    // InMemoryFileIndex truncates long paths in plan strings — match
    // the distinctive prefix of the compacted dir name
    assert(p.contains("graft_com"),
      s"gate must read the COMPACTED layout, not the source table:\n${p.take(2500)}")
    assert(p.contains("partial_count") || p.contains("partial_"),
      s"per-partition counts must map-side combine:\n${p.take(2500)}")
  }

  test("q46: selective-compaction gate reads the SELECTIVELY compacted layout") {
    val p = plan("q46_selective_compact")
    // without this pin, a regression returning the mixed (or original)
    // path would still pass the oracle — the integrity aggregate over
    // ANY faithful copy of events hashes identically
    assert(p.contains("graft_sel"),
      s"gate must read the selectively compacted layout:\n${p.take(2500)}")
  }

  test("q40: JSONL scan is schema-first with pruned read schema") {
    val p = plan("q40_jsonl_ingest")
    assert(p.contains("FileScan json"), s"expected a json file scan:\n${p.take(2500)}")
    // the gate touches doc_id/lang/n_chars/_corrupt_record only — text
    // and source must be pruned out of the ReadSchema (at 100 TB `text`
    // IS the table's byte volume)
    val rs = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(rs.contains("doc_id") && rs.contains("_corrupt_record"), s"read schema: $rs")
    assert(!rs.contains("text") && !rs.contains("source"),
      s"unused wide columns must be pruned from the JSONL read: $rs")
  }

  test("entry flagship returns rows (the driver's smoke check)") {
    assert(SparkEntry.entry(spark).count() > 0, "entry must return rows at sf0.001")
  }

  test("single-column sources: contracts hold") {
    import graft.datagen.Case
    for (c <- Seq(Case.Utf8Low, Case.Utf8High, Case.Dict)) {
      val rows = c.rows(800)
      assert(rows.size == 800)
      assert(rows.map(_.getString(0)) == rows.map(_.getString(0)).sorted)
    }
    assert(Case.Utf8Low.rows(800).map(_.getString(0)).toSet
      .subsetOf((0 until 100).map("value" + _).toSet))
    assert(Case.Utf8High.rows(200).map(_.getString(0)).forall(_.length == 20))
  }
}
