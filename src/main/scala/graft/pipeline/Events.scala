package graft.pipeline

import graft.{CorpusCache, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Event-stream analytics over the `events` table (`event_id`, `ts`,
  * `user_id`, `event_type`, `value`, `props` JSON-text).
  *
  * These are the batch twins of the Structured Streaming module
  * (graft.streaming): identical window/sessionization semantics, which
  * is exactly how a Lambda-free Spark pipeline validates its streaming
  * jobs. Timestamps cross the oracle boundary as epoch-microsecond longs
  * to sidestep timestamp-rendering differences between engines.
  */
object Events {
  import Tables.t

  def all: Seq[Q] = Seq(
    // ---- e1: tumbling 1-hour windows per event type ----
    Q(
      "e1_hourly_window",
      (s, dir) =>
        t(s, dir, "events")
          .groupBy(
            unix_micros(date_trunc("HOUR", col("ts"))).as("hour_us"),
            col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            graft.Agg.dsum(col("value")).as("sum_value")),
      Some("""
        SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
               count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2"""),
    ),

    // ---- e2: JSON prop extraction + aggregation ----
    Q(
      "e2_json_props",
      (s, dir) =>
        t(s, dir, "events")
          .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
          // signed % (not pmod): DuckDB's % is signed, and the two only
          // agree when the bucketing matches for ALL ints, not just the
          // non-negative k the current fixtures happen to contain
          .groupBy((col("k") % lit(10)).as("k_bucket"))
          .agg(
            count(lit(1)).as("n"),
            graft.Agg.dsum(col("value")).as("sum_value")),
      Some("""
        SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
               count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1"""),
    ),

    // ---- e3: sessionization — 30-min-gap sessions per user ----
    Q(
      "e3_sessionize",
      (s, dir) => {
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
        t(s, dir, "events")
          .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
          .withColumn("new_session",
            when(col("prev_us").isNull ||
              unix_micros(col("ts")) - col("prev_us") > 30L * 60 * 1000000, 1L).otherwise(0L))
          .withColumn("session_seq", sum(col("new_session")).over(
            Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("session_seq"))
          .agg(
            count(lit(1)).as("n_events"),
            min(unix_micros(col("ts"))).as("start_us"),
            max(unix_micros(col("ts"))).as("end_us"),
            graft.Agg.dsum(col("value")).as("session_value"))
      },
      Some("""
        WITH g AS (
          -- ORDER BY epoch_us(ts): Spark reads this nanosecond column
          -- truncated to microseconds, so the oracle must tie-break on the
          -- same truncated value or same-µs events sessionize differently
          SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
                 lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC) AS prev_us
          FROM events),
        m AS (
          SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 30 * 60 * 1000000
                         THEN 1 ELSE 0 END AS new_session
          FROM g),
        sess AS (
          -- CAST: DuckDB sum(int) yields HUGEINT; Spark's is BIGINT
          SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
          FROM m)
        SELECT user_id, session_seq, count(*) AS n_events,
               min(ts_us) AS start_us, max(ts_us) AS end_us,
               CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS session_value
        FROM sess GROUP BY 1, 2"""),
    ),

    // ---- e4: purchase→click attribution — the batch run of the
    //      watermarked stream-stream interval join (the SAME function
    //      the streaming path runs; see EventStream.attributionJoin).
    //      Scale shape: both sides shuffle once on user_id and the
    //      event-time bound caps matched rows per key; in streaming the
    //      same bound is what lets Spark evict join state. Timestamps
    //      cross the oracle boundary as epoch-µs longs (e1/e3's
    //      convention). ----
    Q(
      "e4_attribution",
      (s, dir) =>
        graft.streaming.EventStream.attributionJoin(t(s, dir, "events"))
          .select(
            col("purchase_id"), col("p_user").as("user_id"),
            unix_micros(col("purchase_ts")).as("purchase_us"),
            col("click_id"), unix_micros(col("click_ts")).as("click_us"),
            col("value")),
      Some("""
        SELECT p.event_id AS purchase_id, p.user_id AS user_id,
               epoch_us(p.ts) AS purchase_us,
               c.event_id AS click_id, epoch_us(c.ts) AS click_us,
               p.value AS value
        FROM events p JOIN events c
          ON p.user_id = c.user_id
         AND epoch_us(c.ts) < epoch_us(p.ts)
         AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
        WHERE p.event_type = 'purchase' AND c.event_type = 'click'"""),
    ),

    // ---- e21: OUTER attribution — the left-outer run of e4's
    //      watermarked stream-stream join, completing the streaming-join
    //      matrix (inner e4, stream-static e19, outer here): purchases
    //      with NO attributable click emit NULL-padded. In streaming the
    //      NULL row surfaces only after the watermark passes the join
    //      bound (a match could still arrive until then — the
    //      EventStreamSpec live test pins that ordering); this batch run
    //      is the same function with the horizon spanning the input.
    //      Note the click-side type filter lives in the pre-join
    //      projection (Spark) / ON clause (oracle) — in a WHERE it would
    //      silently turn the outer join back into an inner one. ----
    Q(
      "e21_outer_attribution",
      (s, dir) =>
        graft.streaming.EventStream
          .attributionJoin(t(s, dir, "events"), "left_outer")
          .select(
            col("purchase_id"), col("p_user").as("user_id"),
            unix_micros(col("purchase_ts")).as("purchase_us"),
            col("click_id"), unix_micros(col("click_ts")).as("click_us"),
            col("value")),
      Some("""
        SELECT p.event_id AS purchase_id, p.user_id AS user_id,
               epoch_us(p.ts) AS purchase_us,
               c.event_id AS click_id, epoch_us(c.ts) AS click_us,
               p.value AS value
        FROM events p LEFT JOIN events c
          ON p.user_id = c.user_id
         AND c.event_type = 'click'
         AND epoch_us(c.ts) < epoch_us(p.ts)
         AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
        WHERE p.event_type = 'purchase'"""),
    ),

    // ---- e25: FULL-outer attribution — the last cell of the
    //      stream-stream join matrix (inner e4, left-outer e21, full
    //      here): every purchase with its preceding-hour clicks, PLUS
    //      the unattributed purchases (NULL click side, e21's rows)
    //      PLUS the clicks that converted nothing (NULL purchase side
    //      — the audience-leak census only the full join surfaces).
    //      Same shared attributionJoin body; in streaming both buffers
    //      carry watermarks and the two-sided time bound lets Spark
    //      emit each side's NULL-padded rows at state eviction. The
    //      type filters live BEFORE the join in both engines — for a
    //      full join a WHERE after it would silently drop the other
    //      side's NULL rows (the classic outer-join-predicate trap;
    //      the oracle spells it with filtered CTEs for the same
    //      reason). user_id is emitted per SIDE: a coalesced key would
    //      erase which side of an unmatched row carried it. ----
    Q(
      "e25_full_attribution",
      (s, dir) =>
        graft.streaming.EventStream
          .attributionJoin(t(s, dir, "events"), "full_outer")
          .select(
            col("purchase_id"), col("p_user").as("purchase_user"),
            unix_micros(col("purchase_ts")).as("purchase_us"), col("value"),
            col("click_id"), col("c_user").as("click_user"),
            unix_micros(col("click_ts")).as("click_us")),
      Some("""
        WITH p AS (
          SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
          FROM events WHERE event_type = 'purchase'),
        c AS (
          SELECT event_id, user_id, epoch_us(ts) AS ts_us
          FROM events WHERE event_type = 'click')
        SELECT p.event_id AS purchase_id, p.user_id AS purchase_user,
               p.ts_us AS purchase_us, p.value AS value,
               c.event_id AS click_id, c.user_id AS click_user,
               c.ts_us AS click_us
        FROM p FULL JOIN c
          ON p.user_id = c.user_id
         AND c.ts_us < p.ts_us
         AND c.ts_us >= p.ts_us - 3600000000"""),
    ),

    // ---- e5: ordered funnel — view → click → purchase, each stage
    //      strictly after the user's FIRST completion of the previous
    //      stage (the product-analytics sequence query). Running
    //      conditional mins over ONE per-user sort express the order
    //      dependence: first_view is a running min, a click qualifies
    //      only against the views before it, a purchase only against the
    //      qualified clicks before it. Scale shape: the corpus shuffles
    //      ONCE on user_id — both Window operators and the per-user
    //      aggregate reuse the same exchange+sort — and the summary is a
    //      single-row map-side-partial reduce. (The 3-joins spelling of
    //      this funnel shuffles three times; the window spelling is the
    //      one that survives 100 TB of events.) ----
    Q(
      "e5_funnel",
      (s, dir) => {
        val wRun = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us").asc, col("event_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val staged = t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("ts_us"))
          .withColumn("first_view",
            min(when(col("event_type") === "view", col("ts_us"))).over(wRun))
          .withColumn("click_after",
            when(col("event_type") === "click" && col("first_view").isNotNull &&
              col("ts_us") > col("first_view"), col("ts_us")))
          .withColumn("first_click", min(col("click_after")).over(wRun))
          .withColumn("purchase_after",
            when(col("event_type") === "purchase" && col("first_click").isNotNull &&
              col("ts_us") > col("first_click"), col("ts_us")))
        staged
          .groupBy("user_id")
          .agg(
            min(when(col("event_type") === "view", col("ts_us"))).as("t_view"),
            min(col("click_after")).as("t_click"),
            min(col("purchase_after")).as("t_purchase"))
          .agg(
            count(lit(1)).as("n_users"),
            count(col("t_view")).as("n_view"),
            count(col("t_click")).as("n_click"),
            count(col("t_purchase")).as("n_purchase"),
            sum(col("t_purchase") - col("t_view")).as("sum_latency_us"),
            round(count(col("t_purchase")) / count(col("t_view")), 6).as("conv_rate"))
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
        SELECT count(*) AS n_users,
               count(t_view) AS n_view,
               count(t_click) AS n_click,
               count(t_purchase) AS n_purchase,
               CAST(sum(t_purchase - t_view) AS BIGINT) AS sum_latency_us,
               round(count(t_purchase) / CAST(count(t_view) AS DOUBLE), 6) AS conv_rate
        FROM pu"""),
    ),

    // ---- e6: weekly cohort retention — users grouped by their FIRST
    //      active ISO week, counted in every later week they return (the
    //      growth-analytics triangle). Scale shape: ONE shuffle on
    //      user_id (the cohort window); the user-week dedupe rides the
    //      same exchange (hash(user_id) satisfies the wider grouping
    //      clustering), and the final roll-up shuffles only the already
    //      deduped user-week pairs. Week starts cross the oracle
    //      boundary as epoch-µs longs; offsets divide exactly under the
    //      session's UTC clock (no DST — a week is 604 800 000 000 µs).
    //      ----
    Q(
      "e6_retention",
      (s, dir) =>
        t(s, dir, "events")
          .select(col("user_id"),
            unix_micros(date_trunc("WEEK", col("ts"))).as("week_us"))
          .withColumn("cohort_us",
            min(col("week_us")).over(Window.partitionBy(col("user_id"))))
          .distinct()
          .groupBy(col("cohort_us"),
            expr("(week_us - cohort_us) div 604800000000").as("week_offset"))
          .agg(count(lit(1)).as("n_users")),
      Some("""
        WITH wk AS (
          SELECT DISTINCT user_id, epoch_us(date_trunc('week', ts)) AS week_us
          FROM events),
        coh AS (
          SELECT user_id, week_us,
                 min(week_us) OVER (PARTITION BY user_id) AS cohort_us
          FROM wk)
        SELECT cohort_us, (week_us - cohort_us) // 604800000000 AS week_offset,
               count(*) AS n_users
        FROM coh GROUP BY 1, 2"""),
    ),

    // ---- e10: trending — top-3 event types per hour by count, the
    //      agg-then-rank-per-window dashboard shape. Scale: the count is
    //      a map-side-partial two-stage aggregate; the rank window runs
    //      over |event types| rows per hour (already aggregated, tiny)
    //      and Spark's WindowGroupLimit prunes below the rank filter —
    //      the corpus itself is never window-sorted. ----
    Q(
      "e10_trending",
      (s, dir) => {
        val w = Window.partitionBy(col("hour_us"))
          .orderBy(col("n").desc, col("event_type").asc)
        t(s, dir, "events")
          .groupBy(
            unix_micros(date_trunc("HOUR", col("ts"))).as("hour_us"),
            col("event_type"))
          .agg(count(lit(1)).as("n"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
      },
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

    // ---- e11: event-rate anomaly detection — per-type hourly counts
    //      z-scored against that type's own trailing 24-hour window
    //      (ROWS frame, excluding the current hour), the ops-monitoring
    //      query every ingestion pipeline runs on itself. Cross-engine
    //      determinism by construction: the window carries only EXACT
    //      integer sums (n, sum, sum of squares of counts — all exact in
    //      64-bit), and mean/variance/z are derived from them with the
    //      TEXTUALLY identical scalar formula in both engines, so the
    //      doubles match bitwise (a stddev_samp aggregate would sum
    //      squared deviations in engine-specific order and drift in the
    //      last ulp). Scale: the hourly roll-up is a map-side-partial
    //      aggregate down to |types|·|hours| rows; the window runs over
    //      that tiny series, partitioned by type — at 100 TB of events
    //      the z-score input is still just the calendar. Warm-up hours
    //      (fewer than 12 trailing samples) and zero-variance windows
    //      are excluded, not NaN-scored. ----
    Q(
      "e11_rate_anomaly",
      (s, dir) => {
        val w = Window.partitionBy(col("event_type")).orderBy(col("hour_us"))
          .rowsBetween(-24, -1)
        val z = (col("cnt") - col("mean")) / sqrt(col("variance"))
        t(s, dir, "events")
          .groupBy(
            col("event_type"),
            unix_micros(date_trunc("HOUR", col("ts"))).as("hour_us"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("n_w", count(lit(1)).over(w))
          .withColumn("s1", sum(col("cnt")).over(w))
          .withColumn("s2", sum(col("cnt") * col("cnt")).over(w))
          .filter(col("n_w") >= 12)
          .withColumn("mean", col("s1").cast("double") / col("n_w"))
          .withColumn("variance",
            (col("s2") - col("s1").cast("double") * col("s1") / col("n_w"))
              / (col("n_w") - 1))
          .filter(col("variance") > 0)
          .select(col("event_type"), col("hour_us"), col("cnt"),
            round(z, 4).as("z"),
            (abs(z) >= 3.0).as("is_anomaly"))
      },
      Some(rateAnomalySql),
    ),

    // ---- e14: WATERMARK-LATENESS AUDIT — the tuning query every
    //      streaming deployment runs BEFORE picking `withWatermark`'s
    //      delay: how out-of-order does this stream actually arrive,
    //      and what fraction of events would each candidate delay
    //      drop? Arrival order is modeled as event time plus a
    //      deterministic per-event network delay (portable md5 jitter,
    //      [[ArrJitterUs]] max — in production this column IS the
    //      ingestion timestamp; the jitter stands in for it the way
    //      m-family rasters stand in for codecs). An event is dropped
    //      by delay D iff the event-time high-water-mark at its
    //      arrival exceeds its own timestamp by more than D — exactly
    //      Spark's watermark semantics. The naive hwm spelling is a
    //      GLOBAL running max over arrival order (one partition, the
    //      100 TB killer); instead the prefix-max runs two-pass:
    //      per-arrival-hour max (map-side partial agg down to calendar
    //      size), a cumulative prefix over that tiny bucket series,
    //      broadcast back, and a WITHIN-bucket running max partitioned
    //      by bucket — corpus-sized work stays hour-partitioned, the
    //      single-partition window touches only the calendar (q43's
    //      log-sized-argmax class). The output curve is monotone and
    //      hits an EXACT zero at [[ArrJitterUs]]: arrival inversion is
    //      bounded by the max network delay, so a watermark at least
    //      that large provably drops nothing (WatermarkAuditSpec pins
    //      both, plus naive-vs-two-pass hwm equality). ----
    Q(
      "e14_watermark_audit",
      (s, dir) => {
        val ev = arrivalEvents(s, dir)
          .withColumn("bk", expr(s"arr div $ArrBucketUs"))
        // global prefix-max over the BUCKET census (|arrival minutes|
        // rows, never the event stream) — boundedW spells that bound
        val prefix = ev.groupBy(col("bk")).agg(max(col("t")).as("bmax"))
          .withColumn("pre", max(col("bmax")).over(
            graft.pipeline.Portable.boundedW(col("bk")).orderBy(col("bk"))
              .rowsBetween(Window.unboundedPreceding, -1)))
          .select(col("bk"), col("pre"))
        val inBk = Window.partitionBy(col("bk"))
          .orderBy(col("arr"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val curve = WatermarkDelaysSec.map(d =>
          sum(when(col("late") > d * 1000000L, 1L).otherwise(0L)).as(s"d$d"))
        ev.join(broadcast(prefix), Seq("bk"))
          .withColumn("hwm", greatest(max(col("t")).over(inBk),
            coalesce(col("pre"), col("t"))))
          .withColumn("late", col("hwm") - col("t"))
          .agg(count(lit(1)).as("n"), curve: _*)
          .select(col("n"), expr(
            s"stack(${WatermarkDelaysSec.size}, " +
              WatermarkDelaysSec.map(d => s"$d, d$d").mkString(", ") +
              ") as (delay_s, n_dropped)"))
          .select(col("delay_s"), col("n_dropped"),
            expr("n_dropped * 1000000L div n").as("drop_ppm"))
      },
      Some {
        val h = graft.pipeline.Portable.md5LongSql(
          "concat_ws('|', 'arr-v1', event_id)")
        // Every sum() is CAST AS BIGINT at the aggregation site and the
        // arithmetic re-CAST at the output boundary: bare DuckDB sum()
        // over integers is HUGEINT, whose client-side rendering is
        // version-sensitive — the r08 driver-only hash mismatch. Same
        // convention as every other integer-sum oracle in the repo.
        val sums = WatermarkDelaysSec.map(d =>
          s"CAST(sum(CASE WHEN hwm - t > ${d}000000 THEN 1 ELSE 0 END) AS BIGINT) AS d$d")
          .mkString(",\n                 ")
        val rows = WatermarkDelaysSec.map(d =>
          s"SELECT $d AS delay_s, CAST(d$d AS BIGINT) AS n_dropped, " +
            s"CAST((d$d * 1000000) // n AS BIGINT) AS drop_ppm FROM g")
          .mkString("\n        UNION ALL ")
        s"""
        WITH ev AS (
          SELECT event_id, epoch_us(ts) AS t,
                 epoch_us(ts) + $h % $ArrJitterUs AS arr
          FROM events),
        a AS (
          SELECT t, max(t) OVER (ORDER BY arr ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hwm
          FROM ev),
        g AS MATERIALIZED (
          -- MATERIALIZED: five UNION ALL branches read g; DuckDB 1.0
          -- inlines multi-referenced CTEs per reference (the s12
          -- lesson), which would re-run the global running max 5x
          SELECT count(*) AS n,
                 $sums
          FROM a)
        $rows"""
      },
    ),

    // ---- e15: WATERMARK ADMISSION AUDIT — e14 sizes the delay; e15
    //      predicts, window by window, what a watermarked streaming
    //      aggregation will actually EMIT under that delay: per
    //      5-minute event-time window, how many events are admitted
    //      and how many arrive after Spark's micro-batch watermark
    //      has passed their window's end and are dropped. The
    //      semantics are the engine's own, replicated exactly — the
    //      watermark a batch filters with is the max event time over
    //      all PRIOR micro-batches (ms-truncated, the engine's
    //      event-time-stats precision) minus the delay, and the drop
    //      rule is window-END, not per-event lateness.
    //      WatermarkAdmissionSpec closes the loop live: a real
    //      `withWatermark` + windowed-count stream fed micro-batch by
    //      micro-batch emits EXACTLY this prediction's admitted
    //      counts. Scale shape: [[admissionAudit]]'s two-pass
    //      prefix-max — per-batch maxima (map-side), a batch-id-table
    //      cumulative prefix, broadcast back, one shuffle to the
    //      window grouping. The capacity-planning read: which windows
    //      will under-count by how much BEFORE the stream ships. ----
    Q(
      "e15_admission_audit",
      (s, dir) =>
        admissionAudit(
          arrivalEvents(s, dir).withColumn("bk", expr(s"arr div $AdmBatchUs")),
          AdmWindowUs, AdmDelayMs),
      Some {
        val h = graft.pipeline.Portable.md5LongSql(
          "concat_ws('|', 'arr-v1', event_id)")
        s"""
        WITH ev AS (
          SELECT event_id, epoch_us(ts) AS t,
                 epoch_us(ts) + $h % $ArrJitterUs AS arr
          FROM events),
        b AS (SELECT t, arr // $AdmBatchUs AS bk FROM ev),
        bm AS (SELECT bk, max(t) AS bmax FROM b GROUP BY 1),
        pre AS (
          SELECT bk, max(bmax) OVER (ORDER BY bk ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pre
          FROM bm),
        d AS (
          SELECT CAST((t // $AdmWindowUs) * $AdmWindowUs AS BIGINT) AS wstart_us,
                 CASE WHEN pre IS NOT NULL
                       AND (t // $AdmWindowUs + 1) * ${AdmWindowUs / 1000L}
                           <= pre // 1000 - $AdmDelayMs
                      THEN 1 ELSE 0 END AS dropped
          FROM b JOIN pre USING (bk))
        -- CAST AS BIGINT: bare sum() is HUGEINT, rendering is
        -- DuckDB-version-sensitive (the r08 driver-only hash fail)
        SELECT wstart_us, CAST(sum(1 - dropped) AS BIGINT) AS n_admitted,
               CAST(sum(dropped) AS BIGINT) AS n_dropped
        FROM d GROUP BY 1"""
      },
    ),

    // ---- e16: GAP-FILL + LOCF RESAMPLE — the regularization step
    //      between sparse event aggregates and anything that consumes
    //      a time SERIES (forecasting, the e11 anomaly ring, charting):
    //      a (type × hour) grid over the corpus' hour range with
    //      missing hours made explicit (n = 0) and the last observed
    //      hourly sum carried forward; hours before a type's first
    //      observation stay NULL rather than inventing a value. Scale
    //      shape: the sparse hourly table is calendar-sized (map-side
    //      partial agg from the corpus — materialized: the grid join
    //      and the bounds row both read it); the grid is types ×
    //      calendar built by an unbounded window over that tiny table
    //      + sequence explode (never a corpus-sized cross product —
    //      see denseHourlyGrid); the LOCF
    //      window partitions by type over calendar-length series. At
    //      100 TB the grid is STILL just |types| × |hours| — the
    //      corpus only ever passes through the first aggregate. ----
    Q(
      "e16_gap_fill",
      (s, dir) => {
        val w = Window.partitionBy(col("event_type")).orderBy(col("hour_us"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        denseHourlyGrid(s, dir)
          .withColumn("locf_value", last(col("sv"), ignoreNulls = true).over(w))
          .drop("sv")
      },
      Some("""
        WITH h AS MATERIALIZED (
          -- MATERIALIZED: the grid join, the bounds row and the type
          -- list all read h (the DuckDB 1.0 per-reference inlining
          -- lesson)
          SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
                 count(*) AS n,
                 CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sv
          FROM events GROUP BY 1, 2),
        b AS (SELECT min(hour_us) AS mn, max(hour_us) AS mx FROM h),
        cal AS (SELECT unnest(generate_series(mn, mx, 3600000000)) AS hour_us FROM b),
        grid AS (SELECT event_type, hour_us
                 FROM (SELECT DISTINCT event_type FROM h) CROSS JOIN cal),
        j AS (
          SELECT g.event_type, g.hour_us, coalesce(h.n, 0) AS n, h.sv
          FROM grid g LEFT JOIN h
            ON g.event_type = h.event_type AND g.hour_us = h.hour_us)
        SELECT event_type, hour_us, n,
               last_value(sv IGNORE NULLS) OVER (
                 PARTITION BY event_type ORDER BY hour_us ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value
        FROM j"""),
    ),

    // ---- e17: LINEAR-INTERPOLATION RESAMPLE — e16's sibling for
    //      consumers that need a CONTINUOUS signal (rate estimation,
    //      charting) rather than a step function: interior gaps get
    //      the time-weighted blend of the surrounding observations,
    //      observed hours keep their own sum, and hours outside a
    //      type's observed envelope stay NULL (interpolation never
    //      extrapolates). Same calendar-sized scale shape as e16 —
    //      the corpus passes through one partial aggregate, then all
    //      work is |types| × |hours|; the two directional windows
    //      share e16's per-type sort, and the arithmetic is pure
    //      IEEE double ops (int64 diffs cast to double, one divide,
    //      one multiply-add) so the oracle matches bit-for-bit with
    //      no rounding fudge. ----
    Q(
      "e17_interp",
      (s, dir) => {
        val back = Window.partitionBy(col("event_type")).orderBy(col("hour_us"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val fwd = Window.partitionBy(col("event_type")).orderBy(col("hour_us"))
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        val obsHour = when(col("sv").isNotNull, col("hour_us"))
        denseHourlyGrid(s, dir)
          .withColumn("pv", last(col("sv"), ignoreNulls = true).over(back))
          .withColumn("ph", last(obsHour, ignoreNulls = true).over(back))
          .withColumn("nv", first(col("sv"), ignoreNulls = true).over(fwd))
          .withColumn("nh", first(obsHour, ignoreNulls = true).over(fwd))
          .select(col("event_type"), col("hour_us"), col("n"),
            when(col("sv").isNotNull, col("sv"))
              .otherwise(col("pv") + (col("nv") - col("pv")) *
                ((col("hour_us") - col("ph")).cast("double") /
                  (col("nh") - col("ph")).cast("double")))
              .as("interp_value"))
      },
      Some("""
        WITH h AS MATERIALIZED (
          SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
                 count(*) AS n,
                 CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sv
          FROM events GROUP BY 1, 2),
        b AS (SELECT min(hour_us) AS mn, max(hour_us) AS mx FROM h),
        cal AS (SELECT unnest(generate_series(mn, mx, 3600000000)) AS hour_us FROM b),
        grid AS (SELECT event_type, hour_us
                 FROM (SELECT DISTINCT event_type FROM h) CROSS JOIN cal),
        j AS (
          SELECT g.event_type, g.hour_us, coalesce(h.n, 0) AS n, h.sv
          FROM grid g LEFT JOIN h
            ON g.event_type = h.event_type AND g.hour_us = h.hour_us),
        w AS (
          SELECT event_type, hour_us, n, sv,
                 last_value(sv IGNORE NULLS) OVER pb AS pv,
                 last_value(CASE WHEN sv IS NOT NULL THEN hour_us END
                   IGNORE NULLS) OVER pb AS ph,
                 first_value(sv IGNORE NULLS) OVER pf AS nv,
                 first_value(CASE WHEN sv IS NOT NULL THEN hour_us END
                   IGNORE NULLS) OVER pf AS nh
          FROM j
          WINDOW pb AS (PARTITION BY event_type ORDER BY hour_us ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 pf AS (PARTITION BY event_type ORDER BY hour_us ASC
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        SELECT event_type, hour_us, n,
               CASE WHEN sv IS NOT NULL THEN sv
                    ELSE pv + (nv - pv) *
                      (CAST(hour_us - ph AS DOUBLE) / CAST(nh - ph AS DOUBLE))
               END AS interp_value
        FROM w"""),
    ),
  )

  /** The shared e16/e17 resample scaffold: the corpus folded once into
    * a calendar-sized hourly partial aggregate (session-materialized —
    * the grid join and the bounds row both read it), global hour
    * bounds via an unbounded window over that tiny table (a
    * literal-keyed bounds join would constant-fold into a
    * BroadcastNestedLoopJoin), the dense grid via per-type sequence
    * explode, and missing hours made explicit with n = 0 and a NULL
    * sum. Columns: event_type, hour_us, n, sv.
    */
  private def denseHourlyGrid(s: SparkSession, dir: String): DataFrame = {
    val hourly = CorpusCache.table(s, dir, "e16.hourly")(
      t(s, dir, "events")
        .groupBy(
          unix_micros(date_trunc("HOUR", col("ts"))).as("hour_us"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          graft.Agg.dsum(col("value")).as("sv")))
    // global min/max over the hourly CENSUS (|hours|·|types| rows,
    // never the event stream) — boundedW spells the bound
    val wAll = graft.pipeline.Portable.boundedW(col("event_type")).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val grid = hourly.select(col("event_type"),
        min(col("hour_us")).over(wAll).as("mn"),
        max(col("hour_us")).over(wAll).as("mx"))
      .distinct()
      .select(col("event_type"),
        explode(sequence(col("mn"), col("mx"), lit(3600000000L)))
          .as("hour_us"))
    grid.join(hourly, Seq("event_type", "hour_us"), "left")
      .select(col("event_type"), col("hour_us"),
        coalesce(col("n"), lit(0L)).as("n"), col("sv"))
  }

  /** e14's arrival model and curve: per-event network delay is
    * `md5_long("arr-v1|" + event_id) % ArrJitterUs` (deterministic,
    * portable — the p4 split-hash convention), arrival buckets are
    * hours (the prefix table is calendar-sized at any corpus size),
    * and the candidate-watermark curve ends AT the max jitter, where
    * the drop count is provably zero.
    */
  private[graft] val ArrJitterUs = 600000000L
  private[graft] val ArrBucketUs = 3600000000L
  private[graft] val WatermarkDelaysSec = Seq(0, 60, 180, 300, 600)

  /** The shared arrival model behind e14/e15: each event's modeled
    * arrival is its event time plus a deterministic portable-hash
    * network delay. In production this column IS the ingestion
    * timestamp the pipeline already records.
    */
  private[graft] def arrivalEvents(s: SparkSession, dir: String): DataFrame = {
    // Materialized: e14/e15 each read this from two plan branches (the
    // batch-maxima groupBy and the probe side of the prefix join), and
    // branches sharing a subtree get no exchange reuse — without the
    // persist every run scans events and pays the md5 jitter twice
    // (the t6/m6/s3 precedent).
    CorpusCache.table(s, dir, "e14.arr")(
      t(s, dir, "events").select(
        col("event_id"),
        unix_micros(col("ts")).as("t"),
        (unix_micros(col("ts")) +
          graft.pipeline.Portable.md5Long(
            concat_ws("|", lit("arr-v1"), col("event_id"))) % ArrJitterUs)
          .as("arr")))
  }

  /** e15's per-window admission prediction under Spark's exact
    * micro-batch watermark semantics: the watermark a batch filters
    * with is `max event-time over all PRIOR batches` (milliseconds,
    * floor-truncated — the engine tracks event-time stats in ms)
    * minus the delay, and a row is dropped iff its WINDOW END is at
    * or below that watermark — the window-end rule, not the per-event
    * rule e14's lateness curve uses. `ev` carries (t event-time µs,
    * bk micro-batch id — any non-decreasing function of arrival
    * order; e15 uses arrival minutes, the live spec uses count-based
    * batches). Same two-pass prefix-max shape as e14: the only
    * unpartitioned window runs over the batch-id table.
    */
  private[graft] def admissionAudit(
      ev: DataFrame, windowUs: Long, delayMs: Long): DataFrame = {
    val wMs = windowUs / 1000L
    // same bounded-census global window as e14 (|batches| rows)
    val pre = ev.groupBy(col("bk")).agg(max(col("t")).as("bmax"))
      .withColumn("pre", max(col("bmax")).over(
        graft.pipeline.Portable.boundedW(col("bk")).orderBy(col("bk"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("bk"), col("pre"))
    ev.join(broadcast(pre), Seq("bk"))
      .withColumn("wstart_us", expr(s"(t div $windowUs) * $windowUs"))
      .withColumn("dropped", when(col("pre").isNotNull &&
        expr(s"(t div $windowUs + 1) * $wMs") <= expr("pre div 1000") - delayMs,
        1L).otherwise(0L))
      .groupBy(col("wstart_us"))
      .agg(sum(lit(1L) - col("dropped")).as("n_admitted"),
        sum(col("dropped")).as("n_dropped"))
  }

  /** e15's streaming geometry: 5-minute event-time windows, 1-minute
    * arrival micro-batches, a 60 s watermark delay — the regime where
    * the [[ArrJitterUs]] disorder actually crosses batch boundaries.
    */
  private[graft] val AdmWindowUs = 300000000L
  private[graft] val AdmBatchUs = 60000000L
  private[graft] val AdmDelayMs = 60000L

  /** e11's oracle — shared verbatim with e12, the streaming twin's
    * batch-equivalence entry (the two MUST emit identical rows on a
    * complete replay, so they share one ground truth).
    */
  private[graft] val rateAnomalySql: String = """
        WITH c AS (
          SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hour_us,
                 count(*) AS cnt
          FROM events GROUP BY 1, 2),
        win AS (
          SELECT event_type, hour_us, cnt,
                 count(*) OVER w AS n_w,
                 sum(cnt) OVER w AS s1,
                 sum(cnt * cnt) OVER w AS s2
          FROM c
          WINDOW w AS (PARTITION BY event_type ORDER BY hour_us
                       ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        stats AS (
          SELECT event_type, hour_us, cnt,
                 CAST(s1 AS DOUBLE) / n_w AS mean,
                 (s2 - CAST(s1 AS DOUBLE) * s1 / n_w) / (n_w - 1) AS variance
          FROM win WHERE n_w >= 12)
        SELECT event_type, hour_us, cnt,
               round((cnt - mean) / sqrt(variance), 4) AS z,
               abs((cnt - mean) / sqrt(variance)) >= 3.0 AS is_anomaly
        FROM stats WHERE variance > 0"""
}
