package graft.streaming

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Batch-equivalence inventory entries for the Structured Streaming
  * twins: each runs a streaming module's transform in BATCH mode (the
  * backfill path — watermarks no-op, state starts empty, each group sees
  * its full history) and checks it against a DuckDB oracle. This is the
  * lambda-free contract made testable: the SAME function body serves the
  * live stream and the replay, so an oracle-green batch run pins the
  * semantics both paths share. The streaming-only properties (state
  * eviction, watermark drops, micro-batch merging) are covered by
  * EventStreamSpec/DocStreamSpec; THESE entries put the twins' logic
  * under the driver's per-round hash gate.
  */
object StreamTwins {
  import Tables.t

  def all: Seq[Q] = Seq(
    // ---- e7: batch run of the funnelStages state machine — must emit
    //      exactly e5's per-user stage times, one row per reached stage.
    //      Scale shape: one shuffle on user_id (groupByKey), per-user
    //      work linear in that user's events; state machine semantics
    //      identical to e5's running-min windows (proved by the shared
    //      oracle chain). ----
    Q(
      "e7_stream_funnel",
      (s, dir) => {
        import s.implicits._
        EventStream.funnelStages(
          t(s, dir, "events")
            .select(col("ts"), col("user_id"), col("event_id"), col("event_type"))
            .as[EventStream.FunnelEv]
        ).toDF()
      },
      Some("""
        WITH ev AS (
          SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
        st1 AS (
          SELECT *, min(CASE WHEN event_type = 'view' THEN ts_us END)
                      OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_view
          FROM ev),
        st2 AS (
          SELECT *, CASE WHEN event_type = 'click' AND first_view IS NOT NULL
                              AND ts_us > first_view THEN ts_us END AS click_after
          FROM st1),
        st3 AS (
          SELECT *, min(click_after)
                      OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_click
          FROM st2),
        st4 AS (
          SELECT *, CASE WHEN event_type = 'purchase' AND first_click IS NOT NULL
                              AND ts_us > first_click THEN ts_us END AS purchase_after
          FROM st3),
        pu AS (
          SELECT user_id,
                 min(CASE WHEN event_type = 'view' THEN ts_us END) AS t_view,
                 min(click_after) AS t_click,
                 min(purchase_after) AS t_purchase
          FROM st4 GROUP BY 1)
        SELECT user_id, 'view' AS stage, t_view AS ts_us FROM pu WHERE t_view IS NOT NULL
        UNION ALL
        SELECT user_id, 'click' AS stage, t_click FROM pu WHERE t_click IS NOT NULL
        UNION ALL
        SELECT user_id, 'purchase' AS stage, t_purchase FROM pu WHERE t_purchase IS NOT NULL"""),
    ),

    // ---- e8: batch run of retentionIncrements — must emit e6's
    //      triangle EXPANDED to per-user increments: one row per
    //      distinct (user, active week) with the user's cohort week and
    //      offset. ----
    Q(
      "e8_stream_retention",
      (s, dir) =>
        EventStream.retentionIncrements(t(s, dir, "events")).toDF(),
      Some("""
        WITH wk AS (
          SELECT DISTINCT user_id, epoch_us(date_trunc('week', ts)) AS week_us
          FROM events)
        SELECT user_id,
               min(week_us) OVER (PARTITION BY user_id) AS cohort_us,
               week_us,
               (week_us - min(week_us) OVER (PARTITION BY user_id)) // 604800000000 AS week_offset
        FROM wk"""),
    ),

    // ---- e9: batch run of the flatMapGroupsWithState sessionize — in
    //      batch, state starts empty and no timeout ever fires, so the
    //      function emits every CLOSED session and each user's final
    //      session stays in (discarded) state: the oracle is e3's window
    //      chain MINUS each user's last session. total_value is omitted
    //      from the checked projection: the state machine accumulates it
    //      as an order-dependent IEEE double sum, which no engine-
    //      independent oracle can replay exactly (boundaries and counts
    //      are the semantics under test). ----
    Q(
      "e9_stream_sessions",
      (s, dir) => {
        import s.implicits._
        EventStream.sessionize(
          t(s, dir, "events")
            .select(col("ts"), col("user_id"), col("value"))
            .as[EventStream.Ev]
        ).toDF()
          .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"))
      },
      Some("""
        WITH g AS (
          SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
                 lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC) AS prev_us
          FROM events),
        m AS (
          SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 30 * 60 * 1000000
                         THEN 1 ELSE 0 END AS new_session
          FROM g),
        sess AS (
          SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
          FROM m),
        agg AS (
          SELECT user_id, session_seq,
                 min(ts_us) AS start_us, max(ts_us) AS end_us,
                 count(*) AS n_events
          FROM sess GROUP BY 1, 2)
        SELECT user_id, start_us, end_us, n_events
        FROM (SELECT *, max(session_seq) OVER (PARTITION BY user_id) AS last_seq FROM agg)
        WHERE session_seq < last_seq"""),
    ),

    // ---- p3: batch run of deltaIngest — the ingest-time exact stages
    //      of p2 (gate, in-batch exact dedup, lake-fingerprint
    //      rejection) over the delta sources, with the lake's
    //      fingerprint column as the static side. ingest_ts is a
    //      deterministic function of doc_id (1 s apart) so the
    //      timestamp survives the oracle boundary as doc_id·10⁶ µs. ----
    Q(
      "p3_stream_delta",
      (s, dir) => {
        import graft.pipeline.Curation
        val docs = t(s, dir, "documents")
        val isDelta = col("source").isin(Curation.DeltaSources: _*)
        val delta = docs.filter(isDelta)
          .select(timestamp_micros(col("doc_id") * 1000000L).as("ingest_ts"),
            col("doc_id"), col("text"))
        val lake = docs.filter(!isDelta)
          .select(graft.pipeline.Portable.normFingerprint(col("text")).as("fingerprint"))
        DocStream.deltaIngest(delta, lake)
          .select(unix_micros(col("ingest_ts")).as("ingest_us"),
            col("doc_id"), col("pred_lang"), col("n_words"),
            col("bpe_tokens"), col("fingerprint"))
      },
      Some(s"""
        WITH ${graft.pipeline.Curation.featsGatedCtesSql},
        lake AS (
          -- IS NOT NULL: a single NULL in a NOT IN set makes the whole
          -- predicate never-true (SQL three-valued logic), silently
          -- emptying delta_uniq; Spark's left_anti treats NULL keys as
          -- non-matching, so the engines would split on NULL-text docs
          SELECT fingerprint FROM feats
          WHERE source NOT IN (${graft.pipeline.Curation.deltaSourcesSql})
            AND fingerprint IS NOT NULL),
        delta_uniq AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
            FROM gated
            WHERE source IN (${graft.pipeline.Curation.deltaSourcesSql})
              AND fingerprint NOT IN (SELECT fingerprint FROM lake))
          WHERE rn = 1)
        SELECT doc_id * 1000000 AS ingest_us, doc_id, pred_lang, n_words,
               bpe_tokens, fingerprint
        FROM delta_uniq"""),
    ),

    // ---- e12: batch run of the rateAnomaly state machine — must emit
    //      exactly e11's rows (it SHARES e11's oracle): the per-type
    //      closed-hour ring replayed over the full history scores every
    //      hour with the identical exact-integer-sums formula. Scale
    //      shape: one shuffle on event_type; state is ~25 pairs of longs
    //      per type however large the stream. ----
    Q(
      "e12_stream_anomaly",
      (s, dir) => EventStream.rateAnomaly(t(s, dir, "events")).toDF(),
      Some(graft.pipeline.Events.rateAnomalySql),
    ),

    // ---- e13: batch run of dedupStream — the streaming content-dedup
    //      twin of d1 over events. In batch, dropDuplicatesWithinWatermark
    //      degenerates to an exact dedup (watermark no-ops, state spans
    //      the whole input), keeping ONE survivor per content
    //      fingerprint; WHICH physical row survives is execution-order
    //      noise, so the driver-facing projection is the deterministic
    //      part of the contract — the surviving content-key set
    //      (user_id, event_type, value), which equals the distinct
    //      triple set because the fingerprint is a pure function of
    //      exactly those three fields. Scale shape: one shuffle on the
    //      fingerprint with map-side partial dedup; streaming state is
    //      watermark-bounded (EventStreamSpec covers eviction). ----
    Q(
      "e13_stream_dedup",
      (s, dir) =>
        EventStream.dedupStream(
          t(s, dir, "events")
            .select(col("ts"), col("user_id"), col("event_type"), col("value")))
          // value + 0.0: the fingerprint canonicalizes -0.0 to +0.0, so
          // if a (user, type) ever carries BOTH signed zeros, WHICH
          // physical row survives is execution-order noise — projecting
          // the canonicalized value makes the emitted row deterministic
          // and matches the oracle's DISTINCT representative (check_
          // oracle's canon() renders -0.0 and 0.0 differently; ADVICE r6)
          .select(col("user_id"), col("event_type"),
            (col("value") + lit(0.0)).as("value")),
      // value + 0.0 on the ORACLE side too: DuckDB's DISTINCT keeps the
      // first-seen physical zero (verified: returns -0.0 when it scans
      // first), and check_oracle's canon() renders the two zeros
      // differently — the canonicalization must be two-sided or the fix
      // just moves the flake to the oracle
      Some("""
        SELECT DISTINCT user_id, event_type, value + 0.0 AS value FROM events"""),
    ),

    // ---- q44: batch run of cdcCompact + the reader's merge — the
    //      lake family's twin: CONTINUOUS CDC ingestion (streamed
    //      change-log compaction to latest-action-per-key state) must
    //      land on exactly the state the batch merge-on-read computes.
    //      In batch, mapGroupsWithState sees each key's full log with
    //      empty state, so the emission is q43's max_by argmax; merging
    //      with the frozen lake through the same broadcast anti-join
    //      must therefore equal q43's "as of latest" read — the oracle
    //      is q43's replay restricted to v = 2. Scale shape: one
    //      shuffle of the day-scale log on key; state is one row per
    //      touched key; the lake never shuffles. Round 13: the log is
    //      consumed through the `graft-lake` provider's LOG VIEW — the
    //      same physical source the streaming twin reads as a
    //      MicroBatchStream (VERDICT r12 item 6), so batch and stream
    //      cannot drift on what "the log" is. ----
    Q(
      "q44_cdc_stream",
      (s, dir) => {
        import s.implicits._
        val root = graft.sources.LakeLayout.ensure(s, dir)
        val resolved = LakeStream.cdcCompact(
          s.read.format("graft-lake").option("path", root)
            .option("view", "log").option("asOf", "2").load()
            .select(col("b"), col("k"), col("o_orderstatus"), col("price"), col("act"))
            .as[LakeStream.Chg]).toDF()
        graft.queries.Advanced
          .mergeResolved(graft.queries.Advanced.cdcLake(s, dir), resolved,
            hintSmall = graft.queries.Advanced.cdcLogCount(s, dir) <=
              graft.queries.Advanced.MergeBroadcastCap)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            graft.Agg.dsum(col("price")).as("sum_price"),
            bit_xor(graft.pipeline.Portable.md5Long(col("k").cast("string")))
              .as("key_xor"))
      },
      Some(s"""
        WITH ${graft.queries.Advanced.cdcLogCtesSql},
        resolved AS (
          SELECT k, max_by(act, b) AS act,
                 max_by(o_orderstatus, b) AS o_orderstatus,
                 max_by(price, b) AS price
          FROM logs GROUP BY 1),
        merged AS (
          SELECT b.k, b.o_orderstatus, b.price FROM base b
          WHERE NOT EXISTS (SELECT 1 FROM resolved r WHERE r.k = b.k)
          UNION ALL
          SELECT k, o_orderstatus, price FROM resolved WHERE act = 'U')
        SELECT o_orderstatus, count(*) AS n,
               CAST(sum(CAST(price AS DECIMAL(30,2))) AS DOUBLE) AS sum_price,
               bit_xor(${graft.pipeline.Portable.md5LongSql("CAST(k AS VARCHAR)")}) AS key_xor
        FROM merged GROUP BY 1"""),
    ),

    // ---- e20: batch run of the SCD2 maintainer — q61's streaming
    //      twin: the same flatMapGroupsWithState fold that maintains
    //      dimension history incrementally (each action closes the
    //      open version, upserts open a new one, the open version is
    //      re-emitted flagged current), run over base-as-batch-0 ∪ the
    //      full log. In batch every key sees its whole change sequence
    //      at once, so the emission is EXACTLY q61's one-pass window
    //      ledger — StreamScd2Spec pins bit-equality plus the live
    //      MemoryStream behavior (update-mode supersession by
    //      (k, valid_from)). Scale shape: one key shuffle; state = one
    //      open version per live key, never the history. ----
    Q(
      "e20_stream_scd2",
      (s, dir) => {
        import s.implicits._
        LakeStream.scd2Maintain(
          graft.queries.Advanced.scd2Input(s, dir).as[LakeStream.Chg]).toDF()
      },
      Some(graft.queries.Advanced.scd2OracleSql),
    ),

    // ---- e18: batch run of the gapFill state machine — the streaming
    //      resampler twin of the e16 family, per-series form: each
    //      type's DENSE hourly grid from its first to its last observed
    //      hour, gaps explicit (n = 0) with the last observed dsum
    //      carried forward. In batch the watermark is absent, so the
    //      end-of-input flush emits the complete per-type grid — which
    //      is exactly what the oracle recomputes (per-type
    //      generate_series + LOCF window). The live prefix property
    //      (stream output = a contiguous prefix of this series per
    //      type) is pinned in EventStreamSpec against a real
    //      withWatermark MemoryStream. Scale shape: one shuffle on
    //      event_type; state = the LOCF carry + open-hour counters,
    //      calendar-bounded. ----
    Q(
      "e18_stream_gapfill",
      (s, dir) =>
        EventStream.gapFill(
          t(s, dir, "events").select(col("ts"), col("event_type"), col("value")))
          .toDF(),
      Some("""
        WITH h AS MATERIALIZED (
          SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
                 count(*) AS n,
                 CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sv
          FROM events GROUP BY 1, 2),
        b AS (SELECT event_type, min(hour_us) AS mn, max(hour_us) AS mx
              FROM h GROUP BY 1),
        grid AS (SELECT event_type,
                        unnest(generate_series(mn, mx, 3600000000)) AS hour_us
                 FROM b),
        j AS (SELECT g.event_type, g.hour_us, coalesce(h.n, 0) AS n, h.sv
              FROM grid g LEFT JOIN h
                ON g.event_type = h.event_type AND g.hour_us = h.hour_us)
        SELECT event_type, hour_us, n,
               last_value(sv IGNORE NULLS) OVER (
                 PARTITION BY event_type ORDER BY hour_us ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value
        FROM j"""),
    ),

    // ---- e19: batch run of segmentRevenue — the STREAM-STATIC
    //      enrichment twin, completing the streaming join matrix
    //      (stream-stream e4/attribution, stream dedup e13,
    //      stream-static here): the unbounded purchase stream joined
    //      against the bounded broadcast customer dimension, rolled up
    //      hourly per market segment. In batch the watermark no-ops
    //      and the join/window semantics are plain relational algebra
    //      — exactly what the oracle replays; the live micro-batch
    //      path (same function body) is pinned in EventStreamSpec.
    //      Scale shape: the stream side never shuffles for the join
    //      (broadcast dimension), then one map-side-combined window
    //      aggregate. ----
    Q(
      "e19_stream_enrich",
      (s, dir) =>
        EventStream.segmentRevenue(
          t(s, dir, "events")
            .select(col("ts"), col("user_id"), col("event_type"), col("value")),
          t(s, dir, "customer")),
      Some("""
        SELECT epoch_us(date_trunc('hour', e.ts)) AS hour_us,
               coalesce(c.c_mktsegment, '<unknown>') AS segment,
               count(*) AS n,
               CAST(sum(CAST(e.value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        WHERE e.event_type = 'purchase'
        GROUP BY 1, 2"""),
    ),

    // ---- e22: batch run of the NATIVE session_window aggregate —
    //      the built-in merging-session operator beside e9's hand-
    //      rolled flatMapGroupsWithState (same functions, different
    //      machinery: here the STATE STORE merges sessions). The
    //      oracle replays the native fine print exactly: sessions
    //      merge at gap ≤ 30 min — an event landing exactly ON the
    //      half-open session end still extends it (MEASURED in
    //      SessionWindowSpec's boundary probe; the gate corpus never
    //      exercises µs-exact gaps, so only a probe can pin this) —
    //      and end = last event + gap. That makes the merge rule
    //      identical to e3's `> gap` split, differing only in the
    //      emitted end timestamp.
    //      In batch every session emits (no watermark cut); the live
    //      append-mode path — watermark-finalized sessions only — is
    //      pinned against a MemoryStream in SessionWindowSpec.
    //      Scale shape: one shuffle on user_id, then partition-local
    //      merge; exact-decimal value sums (dsum) so parallel partial
    //      aggregation is order-insensitive. ----
    Q(
      "e22_session_window",
      (s, dir) =>
        EventStream.sessionWindowAgg(
          t(s, dir, "events").select(col("ts"), col("user_id"), col("value"))),
      Some("""
        WITH g AS (
          SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
                 lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC) AS prev_us
          FROM events),
        m AS (
          SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 30 * 60 * 1000000
                         THEN 1 ELSE 0 END AS new_session
          FROM g),
        sess AS (
          SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
          FROM m)
        SELECT user_id, min(ts_us) AS start_us,
               max(ts_us) + 30 * 60 * 1000000 AS end_us,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS session_value
        FROM sess GROUP BY user_id, session_seq"""),
    ),

    // ---- e23: batch run of the NATIVE watermark-bounded dedup —
    //      `dropDuplicatesWithinWatermark` beside e13's hand-rolled
    //      state ring (the same pairing as e22/e9: framework operator
    //      vs custom state machine). Spark rejects the operator in
    //      batch plans, so the shared function routes batch to plain
    //      dropDuplicates on the keys — the streaming operator's
    //      single-window limit; WHICH row survives a key is
    //      partition-order-dependent, so the checked projection is the
    //      per-type distinct-key census, which is not. The live
    //      semantics the batch path cannot show — drop within the
    //      delay, EVICT at watermark, re-admit a late re-send — are
    //      pinned in DropDupWatermarkSpec. ----
    Q(
      "e23_dropdup_watermark",
      (s, dir) =>
        EventStream.dedupWithinWatermark(
          t(s, dir, "events").select(col("ts"), col("event_type"), col("props")))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_distinct")),
      Some("""
        -- + NULL-key term: Spark's dropDuplicates keeps a NULL props
        -- as one surviving key, count(DISTINCT) would drop it — the
        -- gate corpus is 100% non-null (term = 0) but the oracle must
        -- encode the operator's semantics, not the corpus's accident
        SELECT event_type,
               count(DISTINCT props)
                 + CAST(max(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_distinct
        FROM events GROUP BY 1"""),
    ),

    // ---- e24: batch run of the transformWithState processor — Spark
    //      4's arbitrary-state API (typed named state variables in the
    //      state store) computing per-user lifetime event counts and
    //      exact-cents money totals. In batch each key's rows arrive in
    //      ONE call over empty state, so the emitted running snapshot
    //      is the final total = plain groupBy — which is exactly what
    //      the oracle replays; the running-snapshot-per-micro-batch
    //      live behavior is pinned in TransformWithStateSpec. ----
    Q(
      "e24_transform_state",
      (s, dir) => {
        import s.implicits._
        EventStream.runningTotals(
          t(s, dir, "events")
            .select(col("user_id"), col("value")).as[(Long, Double)])
          .toDF()
      },
      Some("""
        SELECT user_id, count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS total_value
        FROM events GROUP BY 1"""),
    ),

    // ---- e26: batch run of the trending top-k processor — the
    //      MapState + event-time-timer half of transformWithState
    //      (e24 covers ValueState). In batch every registered timer
    //      fires once the input is exhausted, so each hour emits its
    //      final top-3 = e10's window query, which the oracle replays.
    //      The incremental live behavior (hours emit as the watermark
    //      closes them, state clears per hour) is pinned in
    //      TransformWithStateSpec. ----
    Q(
      "e26_stream_trending",
      (s, dir) =>
        EventStream.trendingTopK(
          t(s, dir, "events").select(col("ts"), col("event_type"))).toDF(),
      Some("""
        WITH c AS (
          SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
                 count(*) AS n
          FROM events GROUP BY 1, 2)
        SELECT hour_us, event_type, n, rk FROM (
          SELECT *, CAST(row_number() OVER (
                   PARTITION BY hour_us ORDER BY n DESC, event_type ASC) AS INT) AS rk
          FROM c)
        WHERE rk <= 3"""),
    ),

    // ---- e27: batch run of the KMV sketch maintainer — the sketch-IVM
    //      rung of the IVM family (q38 aggregates, q59 joins, s10 ANN
    //      postings; sketches were the missing summary class). The
    //      processor folds hash arrivals into fixed-size per-source
    //      bottom-k state (folding a batch IS the KMV merge); in batch
    //      every source's hashes arrive in one call, so the output
    //      degenerates to exactly q65's per-source k-th order
    //      statistic + estimate, which the oracle replays from the
    //      shared w/g/hs CTE spelling. Scale shape: the one corpus
    //      pass is the session-shared shingle index re-key; state and
    //      output are |sources|·k longs forever. Live semantics
    //      (snapshots ACROSS micro-batches tighten monotonically)
    //      pinned in KmvStreamSpec. ----
    Q(
      "e27_stream_kmv",
      (s, dir) => {
        import s.implicits._
        val hs = graft.queries.Advanced.sourceHashes(s, dir)
          .as[(String, Long)]
        DocStream.kmvMaintain(hs, KmvK)
      },
      Some(s"""
        WITH ${graft.queries.Advanced.srcHashCtesSql},
        rk AS (SELECT source, h,
                      row_number() OVER (PARTITION BY source ORDER BY h ASC) AS rk
               FROM hs)
        SELECT source, h AS kth_h,
               round(${KmvK - 1}.0 * 1152921504606846976.0 / h, 6) AS est_ndv
        FROM rk WHERE rk = $KmvK"""),
    ),
  )

  /** e27 shares q65's sketch size (and therefore its oracle estimate
    * arithmetic verbatim).
    */
  private def KmvK: Int = graft.queries.Advanced.KmvK
}
