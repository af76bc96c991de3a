package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType

/** Structured Streaming twins of the batch event analytics
  * (graft.pipeline.Events). The transforms are plain
  * `DataFrame => DataFrame` so the SAME code runs over `spark.read` and
  * `spark.readStream` — batch runs are the replayable backfill path, the
  * streaming runs are the live path (no lambda-architecture fork).
  *
  * Scale notes: windowed aggregations carry watermarks so state is
  * bounded and late data older than the watermark is dropped;
  * sessionization uses `flatMapGroupsWithState` with an event-time
  * timeout so per-user state is evicted once a session closes.
  */
object EventStream {

  /** Tumbling 1-hour windows per event type, 2h watermark. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        graft.Agg.dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** e15's live side: tumbling event-time window counts at the
    * admission-audit geometry (5-minute windows, 60 s watermark —
    * `graft.pipeline.Events.AdmWindowUs`/`AdmDelayMs`). Fed micro-batch
    * by micro-batch in arrival order, the append-mode emission per
    * window must equal `Events.admissionAudit`'s predicted
    * `n_admitted` exactly — the engine's own watermark drop behavior
    * is the prediction's contract (WatermarkAdmissionSpec pins it).
    */
  def watermarkedWindowCounts(events: DataFrame): DataFrame = {
    val wSec = graft.pipeline.Events.AdmWindowUs / 1000000L
    val dSec = graft.pipeline.Events.AdmDelayMs / 1000L
    events
      .withWatermark("ts", s"$dSec seconds")
      .groupBy(window(col("ts"), s"$wSec seconds"))
      .agg(count(lit(1)).as("n_admitted"))
      .select(unix_micros(col("window.start")).as("wstart_us"),
        col("n_admitted"))
  }

  /** e19's shared transform: STREAM-STATIC enrichment — the third join
    * kind beside stream-stream (attributionJoin) and stream dedup.
    * Each micro-batch of the unbounded purchase stream joins the
    * BOUNDED customer dimension and rolls up hourly revenue per market
    * segment. The static side is broadcast explicitly: a dimension
    * re-shuffled per micro-batch is the classic streaming-enrichment
    * anti-pattern — at 100 TB/day of events the stream side must never
    * move for the join's sake. Left-outer with an `<unknown>` bucket:
    * an event from a user the dimension hasn't caught up with yet is
    * DATA (a late-dimension audit signal), not a dropped row.
    */
  def segmentRevenue(events: DataFrame, customers: DataFrame): DataFrame =
    events
      .filter(col("event_type") === "purchase")
      .withWatermark("ts", "2 hours")
      .join(
        broadcast(customers.select(col("c_custkey").as("user_id"),
          col("c_mktsegment").as("segment"))),
        Seq("user_id"), "left_outer")
      .withColumn("segment", coalesce(col("segment"), lit("<unknown>")))
      .groupBy(window(col("ts"), "1 hour"), col("segment"))
      .agg(count(lit(1)).as("n"),
        graft.Agg.dsum(col("value")).as("sum_value"))
      .select(unix_micros(col("window.start")).as("hour_us"),
        col("segment"), col("n"), col("sum_value"))

  /** Built-in session windows (30-min gap), the declarative path. */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        graft.Agg.dsum(col("value")).as("session_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("session_value"))

  final case class Ev(ts: java.sql.Timestamp, user_id: Long, value: Double)
  final case class SessionState(startUs: Long, lastUs: Long, n: Long, total: Double)
  final case class SessionOut(user_id: Long, start_us: Long, end_us: Long, n_events: Long, total_value: Double)

  /** Event timestamp in microseconds — `getTime` alone truncates to
    * milliseconds; the sub-millisecond part lives in `getNanos` (this is
    * what keeps session boundaries aligned with the batch twin's
    * `unix_micros`).
    */
  private def eventUs(e: Ev): Long =
    e.ts.getTime * 1000 + (e.ts.getNanos / 1000) % 1000

  /** Custom stateful sessionization via flatMapGroupsWithState — the
    * escape hatch for session semantics `session_window` can't express
    * (here: emit closed sessions only, with explicit state eviction).
    *
    * State is bounded two ways: a newer event past the gap closes and
    * emits the previous session, and an event-time timeout flushes +
    * evicts the open session of a user who stops sending events entirely
    * (without it, one-visit users would pin state forever). EventTime
    * rather than ProcessingTime timeout deliberately: processing-time
    * timeouts make `shouldRunAnotherBatch` permanently true, so the query
    * busy-loops no-data micro-batches (and `processAllAvailable` never
    * returns); event-time timeouts re-batch only when the watermark
    * advances. In batch mode the watermark node is optimized away and
    * `setTimeoutTimestamp` is a no-op, so the SAME function serves the
    * backfill path with closed-sessions-only semantics.
    */
  /** NATIVE session windows — Spark's built-in merging
    * `session_window` aggregate, the framework answer to the problem
    * [[sessionize]] solves by hand with `flatMapGroupsWithState`. The
    * two differ on purpose and e22's oracle pins the NATIVE semantics:
    * a session's end is last-event + gap, and an event landing exactly
    * ON that end still MERGES (diff ≤ gap extends; split only at
    * diff > gap — measured in SessionWindowSpec's boundary probe, and
    * the same split rule as e3, so the two spellings differ only in
    * the emitted end timestamp). In streaming the state store
    * merges overlapping candidate sessions per key and the watermark
    * finalizes a session only when it can no longer extend; in batch
    * the same plan degenerates to a sort-based merge per key. Scale
    * shape: one shuffle on user_id (the session merge is
    * partition-local after it), value sum in exact decimal
    * (order-insensitive under partial aggregation — the dsum
    * discipline), state bounded by the watermark.
    */
  def sessionWindowAgg(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .withWatermark("ts", s"$gapMinutes minutes") // no-op in batch
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        graft.Agg.dsum(col("value")).as("session_value"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("start_us"),
        unix_micros(col("sw.end")).as("end_us"),
        col("n_events"), col("session_value"))

  /** NATIVE watermark-bounded dedup — `dropDuplicatesWithinWatermark`,
    * the built-in answer to the problem e13 solves with a hand-rolled
    * state ring. Semantics the live spec pins: the FIRST arrival of a
    * key emits, later arrivals within the watermark delay are dropped,
    * and once the watermark passes first-arrival + delay the key's
    * state is EVICTED — a later re-send is re-admitted (that is the
    * difference from streaming `dropDuplicates`, whose state never
    * shrinks and whose memory therefore grows with distinct keys
    * forever — unusable on an unbounded stream). Spark 4.1 REJECTS the
    * operator in batch plans outright (UnsupportedOperationChecker —
    * measured, not assumed), so the batch degeneration is routed
    * explicitly: plain `dropDuplicates` on the same keys, which is
    * exactly what the streaming operator converges to when every event
    * fits one watermark window. e23's checked projection aggregates to
    * per-type distinct counts (WHICH row survives a key is
    * partition-order-dependent; the key set is not). Scale shape: one
    * shuffle on the dedup key, state bounded by
    * keys-per-watermark-window, map-side partial dedup before the
    * exchange.
    */
  def dedupWithinWatermark(events: DataFrame): DataFrame = {
    val w = events.withWatermark("ts", "1 hour")
    if (events.isStreaming) w.dropDuplicatesWithinWatermark("event_type", "props")
    else w.dropDuplicates("event_type", "props")
  }

  // ---- e24: transformWithState — Spark 4's arbitrary-state API ----

  final case class TotalsAcc(n: Long, cents: Long)
  final case class TotalsOut(user_id: Long, n_events: Long, total_value: Double)

  /** Per-user lifetime totals as a [[org.apache.spark.sql.streaming.StatefulProcessor]]
    * — the third stateful-machinery rung beside flatMapGroupsWithState
    * (e9/e18) and the native operators (e22/e23): NAMED, TYPED state
    * variables managed by the state store instead of one opaque state
    * blob. The money total lives in state as exact integer cents
    * (per-value HALF_UP to 2 decimals — the same Cast-to-DECIMAL the
    * batch dsum performs, e18's discipline), so accumulation order
    * cannot drift the float and the emitted double equals the oracle's
    * decimal-sum-cast exactly. Each input batch emits the key's
    * UPDATED RUNNING SNAPSHOT — the live-dashboard shape; in batch all
    * of a key's rows arrive in one call over empty state, so exactly
    * one final row per key emits (= groupBy count/sum, the oracle).
    */
  class TotalsProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Double), TotalsOut] {
    @transient private var totals: org.apache.spark.sql.streaming.ValueState[TotalsAcc] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      totals = getHandle.getValueState[TotalsAcc](
        "totals",
        org.apache.spark.sql.Encoders.product[TotalsAcc],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[(Long, Double)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[TotalsOut] = {
      val prev = if (totals.exists()) totals.get() else TotalsAcc(0L, 0L)
      val next = rows.foldLeft(prev) { (a, r) =>
        TotalsAcc(a.n + 1, a.cents + gapCents(r._2))
      }
      totals.update(next)
      Iterator.single(TotalsOut(key, next.n, next.cents / 100.0))
    }
  }

  /** e24's shared path: running per-user totals over (user_id, value)
    * pairs. TimeMode.None — pure key state, no timers, so the SAME
    * processor serves batch (one call per key, empty state) and
    * streaming (snapshot per micro-batch). Streaming requires the
    * RocksDB state store provider (the spec sets it); batch does not.
    */
  def runningTotals(events: Dataset[(Long, Double)]): Dataset[TotalsOut] = {
    import events.sparkSession.implicits._
    if (!events.isStreaming) {
      // Batch transformWithState instantiates the RocksDB provider,
      // whose snapshot-upload telemetry RPCs the StateStoreCoordinator
      // endpoint that ONLY a streaming query registers — in a
      // batch-only session the task dies with CANNOT_LOAD_STATE_STORE
      // / RpcEndpointNotFoundException (measured on 4.1.2). Session
      // conf can't reach it either: the batch operator builds its
      // StateStoreConf from a FRESH default SQLConf
      // (TransformWithStateExec.initNewStateStoreAndProcessData), so
      // the telemetry kill-switch conf is ignored. Fix: register the
      // coordinator endpoint ourselves — forDriver is public and
      // idempotent (returns the existing ref when a streaming query
      // beat us to it).
      org.apache.spark.sql.execution.streaming.state.StateStoreCoordinatorRef
        .forDriver(org.apache.spark.SparkEnv.get,
          events.sparkSession.sessionState.conf)
    }
    events
      .groupByKey(_._1)
      .transformWithState(
        new TotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append(),
        implicitly[org.apache.spark.sql.Encoder[TotalsOut]])
  }

  final case class TrendOut(hour_us: Long, event_type: String, n: Long, rk: Int)

  /** e26: live hourly top-k trending — e10's batch window query as a
    * [[org.apache.spark.sql.streaming.StatefulProcessor]] exercising
    * the OTHER half of the transformWithState API e24 doesn't touch:
    * MAP state (per-type counters inside each hour's key) and
    * EVENT-TIME TIMERS (one per open hour at the hour's end; the
    * watermark delay supplies the lateness budget, so the timer fires
    * exactly when the hour can no longer change). On expiry the hour
    * emits its top-k (count desc, type asc — e10's tie rule) and
    * clears state, so memory is |open hours|·|types|, never the
    * stream. In batch the engine fires every registered timer after
    * the input is exhausted (the end-of-data watermark), so the SAME
    * processor degenerates to e10's full answer — the oracle replays
    * that with the window spelling.
    */
  class TrendingProcessor(k: Int, batchMode: Boolean)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String), TrendOut] {
    @transient private var counts: org.apache.spark.sql.streaming.MapState[String, Long] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      counts = getHandle.getMapState[String, Long](
        "counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        hourUs: Long,
        rows: Iterator[(Long, String)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[TrendOut] = {
      val hourEndMs = hourUs / 1000L + 3600L * 1000L
      if (!batchMode && hourEndMs <= timerValues.getCurrentWatermarkInMs()) {
        // The hour's timer already fired (watermark passed its end):
        // its top-k was emitted and its state cleared. The grouping key
        // projected the ts column away, so Spark's built-in late-record
        // filter can't run — without this guard a straggler row would
        // rebuild MapState and re-register a past-due timer that fires
        // on the NEXT batch, emitting a duplicate partial top-k for the
        // same hour_us. Enforce clear-and-never-re-emit here instead.
        return Iterator.empty
      }
      rows.foreach { case (_, et) =>
        val prev = if (counts.containsKey(et)) counts.getValue(et) else 0L
        counts.updateValue(et, prev + 1L)
      }
      if (batchMode) {
        // batch TWS rejects event-time timers outright
        // (INTERNAL_ERROR_TWS "Failed to find time values" — measured
        // on 4.1.2), and batch delivers ALL of a key's rows in this one
        // call anyway, so emission here IS the timer's end-of-hour
        // emission
        emitTopK(hourUs)
      } else {
        // one timer per open hour, at the hour's END (epoch ms); the
        // watermark's delay already encodes allowed lateness.
        // Re-register is idempotent (same key, same timestamp).
        getHandle.registerTimer(hourUs / 1000L + 3600L * 1000L)
        Iterator.empty
      }
    }

    private def emitTopK(hourUs: Long): Iterator[TrendOut] = {
      val top = counts.iterator().toSeq
        .sortBy { case (et, n) => (-n, et) }
        .take(k)
      counts.clear()
      top.iterator.zipWithIndex.map { case ((et, n), i) =>
        TrendOut(hourUs, et, n, i + 1)
      }
    }

    override def handleExpiredTimer(
        hourUs: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[TrendOut] =
      emitTopK(hourUs)
  }

  /** e26's shared path: hourly top-k event types, emitted when the
    * watermark closes each hour. Same batch coordinator boot as
    * [[runningTotals]].
    */
  def trendingTopK(events: DataFrame, k: Int = 3): Dataset[TrendOut] = {
    val session = events.sparkSession
    import session.implicits._
    if (!events.isStreaming) {
      org.apache.spark.sql.execution.streaming.state.StateStoreCoordinatorRef
        .forDriver(org.apache.spark.SparkEnv.get, session.sessionState.conf)
    }
    events
      .withWatermark("ts", "2 hours")
      .select(unix_micros(date_trunc("HOUR", col("ts"))).as("hour_us"),
        col("event_type"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .transformWithState(
        new TrendingProcessor(k, batchMode = !events.isStreaming),
        if (events.isStreaming) org.apache.spark.sql.streaming.TimeMode.EventTime()
        else org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append(),
        implicitly[org.apache.spark.sql.Encoder[TrendOut]])
  }

  def sessionize(events: Dataset[Ev], gapMinutes: Int = 30): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes.toLong * 60 * 1000000
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[List[SessionState]]) =>
          if (state.hasTimedOut) {
            // the watermark passed last-event-time + gap: the open
            // session can never be extended — emit it and evict state
            val flushed = state.getOption.flatMap(_.headOption).map(s =>
              SessionOut(userId, s.startUs, s.lastUs, s.n, s.total))
            state.remove()
            flushed.iterator
          } else {
            // sort this micro-batch's events; merge into open session state
            val sorted = evs.toSeq.sortBy(e => (eventUs(e), e.value))
            var open = state.getOption.flatMap(_.headOption)
            val closed = scala.collection.mutable.ListBuffer[SessionOut]()
            for (e <- sorted) {
              val us = eventUs(e)
              open match {
                case Some(s) if us - s.lastUs <= gapUs =>
                  // min/max, not overwrite: a LATE event (cross-batch,
                  // above-watermark) has us < lastUs, and assigning it
                  // would move the session end BACKWARD — corrupting
                  // end_us and every later gap check, and splitting
                  // sessions the batch twin keeps whole
                  open = Some(s.copy(
                    startUs = math.min(s.startUs, us),
                    lastUs = math.max(s.lastUs, us),
                    n = s.n + 1, total = s.total + e.value))
                case Some(s) =>
                  closed += SessionOut(userId, s.startUs, s.lastUs, s.n, s.total)
                  open = Some(SessionState(us, us, 1, e.value))
                case None =>
                  open = Some(SessionState(us, us, 1, e.value))
              }
            }
            open match {
              case Some(s) =>
                state.update(List(s))
                // watermark filtering guarantees lastUs >= watermark, so
                // this timestamp is always ahead of the watermark
                state.setTimeoutTimestamp(s.lastUs / 1000 + gapMinutes.toLong * 60 * 1000)
              case None => state.remove()
            }
            closed.iterator
          }
      }
  }

  /** Watermarked stream-stream interval join — purchase→click
    * attribution: each purchase pairs with the same user's clicks in the
    * PRECEDING hour. Both inputs carry watermarks and the join condition
    * bounds event-time distance in both directions (click strictly
    * before purchase, and at most one hour before), so Spark derives a
    * state watermark for EACH buffer and evicts joined rows as event
    * time advances — without the time bound, stream-stream join state
    * grows with the stream and never shrinks. Batch runs of the same
    * function are the backfill/oracle path (watermarks are no-ops in
    * batch), which is how e4's DuckDB oracle checks the join semantics.
    *
    * `joinType = "left_outer"` is e21's path — the OUTER stream-stream
    * join, the third cell of the streaming-join matrix (inner = e4,
    * stream-static = e19): a purchase with no attributable click must
    * STILL emit, NULL-padded. In streaming that emission is
    * watermark-driven — the row surfaces only once the watermark passes
    * purchase_ts + the join bound, because until then a matching click
    * could still arrive; in batch the same function emits it
    * immediately (the horizon spans the input). Same state eviction,
    * one more retention rule: the unmatched side holds until expiry
    * rather than until first match.
    */
  def attributionJoin(events: DataFrame, joinType: String = "inner"): DataFrame = {
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "2 hours")
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", "2 hours")
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("click_ts") < col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"),
      joinType)
  }

  /** Streaming exact-dedup twin of batch d1: drop repeated documents /
    * events by content fingerprint as they arrive. State is bounded by
    * the watermark — `dropDuplicatesWithinWatermark` evicts a
    * fingerprint's state once the watermark passes its event time, so
    * the dedup map never grows beyond one watermark-window of distinct
    * keys (an unbounded `dropDuplicates` would pin every fingerprint
    * ever seen — a scale-killer on an infinite stream). Exactly the
    * ingest-time shape of a 100 TB pipeline: near-duplicate bursts
    * (retries, crawler refetches) collapse inside the window; the
    * batch d1 pass remains the global, exact backstop.
    *
    * Output contract: the `value` column is rewritten in place as
    * `value + 0.0` — so −0.0 comes out as +0.0 (every other value, NULL
    * included, passes unchanged), and a non-double `value` is implicitly
    * cast to DOUBLE. The output also carries the added `fingerprint`
    * column.
    */
  def dedupStream(events: DataFrame, watermark: String = "2 hours"): DataFrame = {
    val fp = events
      // value canonicalized IN PLACE: -0.0 + 0.0 = +0.0 (IEEE; every
      // other value, NULL included, unchanged) — to_json renders the two
      // zeros differently while SQL DISTINCT/grouping treats them equal,
      // so an unnormalized fingerprint would split a pair the e13 oracle
      // merges; e13's projection re-canonicalized the emitted value for
      // the same reason, which the in-place form makes a no-op.
      .withColumn("value", col("value") + lit(0.0))
      // CONTENT fingerprint (deliberately no event_id/ts: retries and
      // refetch bursts arrive with fresh ids, and collapsing them is the
      // point). to_json(struct(...)) rather than concat_ws: concat_ws
      // SKIPS nulls, so (7, NULL, "42.0") and (7, "42.0", NULL) would
      // collide on "7|42.0" — JSON names each present field, so distinct
      // null patterns always fingerprint differently.
      .withColumn("fingerprint",
        md5(to_json(struct(col("user_id"), col("event_type"), col("value")))))
    // Batch is the backfill/replay path: the watermark horizon spans the
    // whole input, so the windowed dedup degenerates to a global exact
    // dedup. Spark refuses dropDuplicatesWithinWatermark on batch inputs
    // outright, so the degeneration is written out rather than relied on
    // — both branches keep one survivor per fingerprint; only the state
    // RETENTION policy differs, which is exactly the streaming-only
    // property EventStreamSpec covers.
    if (fp.isStreaming)
      fp.withWatermark("ts", watermark).dropDuplicatesWithinWatermark("fingerprint")
    else {
      // HASH-AGGREGABLE batch degeneration (round 14, VERDICT r13 "Next
      // round" item 4): dropDuplicates("fingerprint") rewrites to an
      // aggregate whose non-key columns ride first() buffers, and the
      // STRING buffers (event_type — plus the fingerprint itself when it
      // is not the key) disqualify HashAggregate, so the whole corpus was
      // SORTED on both sides of the exchange. The fingerprint is a pure
      // function of (user_id, event_type, value), so widening the dedup
      // key with exactly those columns groups IDENTICALLY (same groups,
      // same survivor count — md5 collisions aside, where the wide key
      // matches the oracle's DISTINCT and the narrow key would not) while
      // moving every string into the GROUP KEY, where HashAggregate
      // handles it; the only remaining buffer is first(ts), a primitive.
      // Still the same dropDuplicates operator the streaming twin pins —
      // only its key set names the functional dependency explicitly.
      val detCols = Seq("user_id", "event_type", "value").filter(fp.columns.contains)
      fp.dropDuplicates("fingerprint" +: detCols)
    }
  }

  final case class UserWeek(user_id: Long, week_us: Long)
  final case class RetentionInc(
      user_id: Long, cohort_us: Long, week_us: Long, week_offset: Long)

  private val WeekUs = 7L * 86400L * 1000000L

  /** Streaming twin of batch e6 (cohort retention): emits one increment
    * per NEW (user, active-week) pair, tagged with the user's cohort
    * week and offset — a downstream update-mode count over
    * (cohort_us, week_offset) maintains the live retention triangle.
    *
    * State is bounded in two tiers: the user-week dedup holds only one
    * watermark horizon of distinct pairs
    * (`dropDuplicatesWithinWatermark`), and the per-user cohort state is
    * a single long — the irreducible state of the semantic (a user's
    * first-active week never stops mattering), 8 bytes per user, growing
    * with |users|, not |events|. Late data: an event BELOW a user's
    * established cohort refines the cohort for later emissions but
    * cannot retract already-emitted offsets — the batch e6 backfill is
    * the corrector, the same batch-fixes-stream contract as
    * [[dedupStream]]'s global d1 backstop. In batch runs (watermarks
    * no-op, state starts empty, the group sees all weeks sorted) the
    * emitted increments equal e6's triangle exactly.
    */
  def retentionIncrements(
      events: DataFrame, watermark: String = "14 days"): Dataset[RetentionInc] = {
    import events.sparkSession.implicits._
    val weeks = events
      .withColumn("week", date_trunc("WEEK", col("ts")))
    // the watermark-bounded dedup is a streaming-only operator (batch
    // rejects it at analysis); the batch path dedups globally — exactly
    // the backfill semantic the streaming horizon approximates
    val deduped =
      if (events.isStreaming)
        weeks.withWatermark("week", watermark)
          .dropDuplicatesWithinWatermark("user_id", "week")
      else weeks.dropDuplicates("user_id", "week")
    deduped
      .select(col("user_id"), unix_micros(col("week")).as("week_us"))
      .as[UserWeek]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, RetentionInc](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[UserWeek], state: GroupState[Long]) =>
          val weeks = rows.map(_.week_us).toSeq.sorted
          var cohort = state.getOption.getOrElse(Long.MaxValue)
          val out = scala.collection.mutable.ListBuffer[RetentionInc]()
          for (w <- weeks) {
            if (w < cohort) cohort = w
            out += RetentionInc(uid, cohort, w, (w - cohort) / WeekUs)
          }
          state.update(cohort)
          out.iterator
      }
  }

  final case class FunnelEv(
      ts: java.sql.Timestamp, user_id: Long, event_id: Long, event_type: String)
  final case class FunnelState(view: Long, click: Long, purchase: Long, lastUs: Long)
  final case class StageHit(user_id: Long, stage: String, ts_us: Long)

  /** Streaming twin of batch e5 (ordered view→click→purchase funnel):
    * a per-user state machine over `flatMapGroupsWithState` that emits
    * one [[StageHit]] the first time a user reaches each stage — the
    * same strict-order rule as e5 (a click counts only strictly after
    * the first view, a purchase only strictly after the first qualifying
    * click). A downstream count over `stage` maintains the live funnel;
    * batch e5 over the landed data is the exact backfill.
    *
    * State is three longs + a last-activity stamp per IN-FLIGHT user,
    * and is evicted on both exits: a COMPLETED funnel (purchase reached)
    * removes its state immediately — only users mid-funnel cost memory —
    * and an event-time timeout evicts users inactive for `horizonDays`
    * (production funnels are horizon-bounded; an abandoning user must
    * not pin 32 bytes forever). Events inside a micro-batch are
    * processed in (event-time, event_id) order, so in-order delivery
    * reproduces e5's transitions exactly; a LATE view below an already-
    * established first view cannot retroactively re-qualify an earlier
    * click — the batch backfill corrects, the same batch-fixes-stream
    * contract as [[retentionIncrements]].
    */
  def funnelStages(
      events: Dataset[FunnelEv], horizonDays: Int = 30): Dataset[StageHit] = {
    import events.sparkSession.implicits._
    def us(e: FunnelEv): Long =
      e.ts.getTime * 1000 + (e.ts.getNanos / 1000) % 1000
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, StageHit](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, evs: Iterator[FunnelEv], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            state.remove() // horizon passed with no activity: abandoned
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L, 0L))
            val out = scala.collection.mutable.ListBuffer[StageHit]()
            for (e <- evs.toSeq.sortBy(e => (us(e), e.event_id))) {
              val t = us(e)
              st = st.copy(lastUs = math.max(st.lastUs, t))
              e.event_type match {
                case "view" if st.view < 0 =>
                  st = st.copy(view = t); out += StageHit(uid, "view", t)
                case "click" if st.view >= 0 && st.click < 0 && t > st.view =>
                  st = st.copy(click = t); out += StageHit(uid, "click", t)
                case "purchase" if st.click >= 0 && st.purchase < 0 && t > st.click =>
                  st = st.copy(purchase = t); out += StageHit(uid, "purchase", t)
                case _ => // stage already reached, or out of order: no-op
              }
            }
            if (st.purchase >= 0) state.remove() // complete: evict now
            else {
              state.update(st)
              // no-op in batch runs, like sessionize's
              state.setTimeoutTimestamp(
                st.lastUs / 1000 + horizonDays.toLong * 86400L * 1000)
            }
            out.iterator
          }
      }
  }

  final case class RateEv(ts: java.sql.Timestamp, event_type: String)
  final case class RateHour(hourUs: Long, cnt: Long)
  final case class RateState(
      closed: Seq[RateHour],
      /** Hours still accepting events, hourUs → count. Streaming bound:
        * only hours whose end the watermark hasn't passed stay open —
        * ≤ watermark-delay/1h + 1 entries (3-4 at the 2 h default). A
        * batch replay accumulates the group's full hour histogram here
        * (|hours|, far below |events|) and flushes it at end of input.
        */
      open: Map[Long, Long],
      lastUs: Long,
      /** Highest closed hourUs — a stream-side guard dropping the only
        * events the watermark contract allows us to drop.
        */
      closedThroughUs: Long)
  final case class AnomalyOut(
      event_type: String, hour_us: Long, cnt: Long, z: Double, is_anomaly: Boolean)

  private val HourUsLen = 3600L * 1000000L
  private val RateWindowHours = 24
  private val RateMinSamples = 12

  private def rateUs(e: RateEv): Long =
    e.ts.getTime * 1000 + (e.ts.getNanos / 1000) % 1000

  /** Score one closing hour against the trailing closed-hour ring with
    * EXACTLY e11's arithmetic: the ring carries only exact integer sums,
    * and mean/variance/z reproduce the SQL formula operation for
    * operation (each `.toDouble` below mirrors a Cast in e11's plan), so
    * the emitted doubles match the batch operator and the shared DuckDB
    * oracle bitwise. Warm-up (<12 samples) and zero-variance windows
    * emit nothing, like e11's filters.
    */
  private def scoreHour(etype: String, closed: Seq[RateHour], h: RateHour): Option[AnomalyOut] = {
    val nW = closed.size
    if (nW < RateMinSamples) None
    else {
      val s1 = closed.map(_.cnt).sum
      val s2 = closed.map(c => c.cnt * c.cnt).sum
      val mean = s1.toDouble / nW
      val variance = (s2.toDouble - s1.toDouble * s1 / nW) / (nW - 1)
      if (variance <= 0) None
      else {
        val z = (h.cnt - mean) / math.sqrt(variance)
        val zRounded = BigDecimal(z).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        Some(AnomalyOut(etype, h.hourUs, h.cnt, zRounded, math.abs(z) >= 3.0))
      }
    }
  }

  private def pushRing(closed: Seq[RateHour], h: RateHour): Seq[RateHour] =
    (closed :+ h).takeRight(RateWindowHours)

  // NOTE: the state-function helpers below are OBJECT methods, not local
  // defs inside rateAnomaly — a local def lifts to an instance method of
  // this (non-serializable) module and drags it into the task closure.

  /** Current watermark in micros, or -1 when absent (batch replay). */
  private def rateWmUs(state: GroupState[_]): Long =
    try state.getCurrentWatermarkMs() * 1000L
    catch { case _: UnsupportedOperationException => -1L }

  /** Arm the event-time timeout, clamped just above the watermark — a
    * timestamp at or below it throws (a watermark that jumped more than
    * the horizon in one trigger, e.g. a backfill burst, would otherwise
    * kill the whole query); the firing's sweep closes everything ready
    * regardless of how tight the clamp landed.
    */
  private def rateArmTimeout(state: GroupState[_], atMs: Long, wmUs: Long): Unit =
    state.setTimeoutTimestamp(math.max(atMs, wmUs / 1000 + 1))

  private def rateNextTimeout(
      state: GroupState[RateState], st: RateState, wmUs: Long, idleDays: Int): Unit =
    rateArmTimeout(state,
      if (st.open.nonEmpty) st.open.keys.min / 1000 + HourUsLen / 1000 // earliest open end
      else st.lastUs / 1000 + idleDays.toLong * 86400L * 1000,
      wmUs)

  /** Close (score + push to ring) every open hour the event-time
    * watermark has passed, in ascending hour order; `wmUs < 0` (batch:
    * watermarks are absent) closes nothing.
    */
  private def closeReadyHours(
      etype: String, st: RateState, wmUs: Long): (RateState, Seq[AnomalyOut]) = {
    val ready = st.open.keys.filter(h => wmUs >= 0 && h + HourUsLen <= wmUs).toSeq.sorted
    var cur = st
    val out = Seq.newBuilder[AnomalyOut]
    for (h <- ready) {
      val hour = RateHour(h, cur.open(h))
      out ++= scoreHour(etype, cur.closed, hour)
      cur = cur.copy(
        closed = pushRing(cur.closed, hour),
        open = cur.open - h,
        closedThroughUs = math.max(cur.closedThroughUs, h))
    }
    (cur, out.result())
  }

  /** Streaming twin of batch e11 (trailing-window z-score rate
    * anomalies): per event type, a [[flatMapGroupsWithState]] keeps the
    * OPEN hours' running counts plus a ring of the last 24 CLOSED hourly
    * counts (exact integer sums). An hour closes only when the
    * EVENT-TIME WATERMARK passes its end — not when a later hour's
    * first event arrives — so out-of-order arrival within the
    * watermark's tolerance can never undercount an hour (a
    * close-on-succession rule silently drops exactly the disorder the
    * watermark promises to absorb). Streaming state is therefore the
    * ring + at most watermark-delay/1h + 1 open hours (~28 pairs of
    * longs per type at the 2 h default). A batch replay (watermarks
    * absent) accumulates the group's hour histogram — |hours| entries,
    * never |events| — and flushes it ascending at end of input, which
    * emits EXACTLY e11's rows (e12 shares e11's oracle). Truly late
    * events (below the watermark, hour already closed) are dropped and
    * corrected by the batch backfill, the same batch-fixes-stream
    * contract as [[funnelStages]]. Idle types evict after `idleDays`.
    *
    * Hour buckets are UTC-floored epoch hours; e11's `date_trunc` twin
    * matches only under the UTC session timezone every graft main pins,
    * so that contract is asserted here rather than silently diverging.
    */
  def rateAnomaly(events: DataFrame, idleDays: Int = 7): Dataset[AnomalyOut] = {
    import events.sparkSession.implicits._
    // semantic check, not string equality: "Etc/UTC", "GMT", "+00:00"
    // all bucket hours identically to "UTC"
    val sessionZone = java.time.ZoneId.of(
      events.sparkSession.conf.get("spark.sql.session.timeZone"))
    require(sessionZone.getRules.isFixedOffset
      && sessionZone.getRules.getOffset(java.time.Instant.EPOCH) == java.time.ZoneOffset.UTC,
      "rateAnomaly buckets hours in UTC; set spark.sql.session.timeZone to a " +
        s"UTC-equivalent zone (got $sessionZone) so the e11 twin's date_trunc('HOUR') agrees")
    val isStream = events.isStreaming
    events.select(col("ts"), col("event_type")).as[RateEv]
      .withWatermark("ts", "2 hours")
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[RateState, AnomalyOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (etype: String, evs: Iterator[RateEv], state: GroupState[RateState]) =>
          val wmUs = rateWmUs(state)
          if (state.hasTimedOut) {
            val st0 = state.get
            val (st2, out) = closeReadyHours(etype, st0, wmUs)
            // a sweep that closed hours (even unscored warm-up ones) must
            // KEEP the ring — only a firing that found nothing open at
            // all is the idle horizon
            if (st0.open.isEmpty) {
              state.remove() // idle horizon passed with nothing open
              Iterator.empty
            } else {
              state.update(st2)
              rateNextTimeout(state, st2, wmUs, idleDays)
              out.iterator
            }
          } else {
            // Long.MinValue sentinel, NOT -1: pre-epoch timestamps floor
            // to negative hour buckets, and a -1 sentinel would silently
            // drop them as "already closed"
            var st = state.getOption.getOrElse(
              RateState(Nil, Map.empty, 0L, Long.MinValue))
            for (e <- evs) { // streaming iteration: no group-sized buffer
              val us = rateUs(e)
              val h = Math.floorDiv(us, HourUsLen) * HourUsLen
              // h <= closedThroughUs only for sub-watermark stragglers
              // (Spark already filters those); belt-and-braces drop
              if (h > st.closedThroughUs)
                st = st.copy(open = st.open.updated(h, st.open.getOrElse(h, 0L) + 1L))
              st = st.copy(lastUs = math.max(st.lastUs, us))
            }
            val (swept, out0) = closeReadyHours(etype, st, wmUs)
            st = swept
            val out = scala.collection.mutable.ListBuffer[AnomalyOut](out0: _*)
            if (!isStream) {
              // complete replay: no watermark will ever close these —
              // flush the full histogram ascending, exactly e11's series
              for (h <- st.open.keys.toSeq.sorted) {
                val hour = RateHour(h, st.open(h))
                out ++= scoreHour(etype, st.closed, hour)
                st = st.copy(closed = pushRing(st.closed, hour), open = st.open - h)
              }
            }
            state.update(st)
            rateNextTimeout(state, st, wmUs, idleDays) // no-op in batch runs
            out.iterator
          }
      }
  }

  // ------------------------------------------------------------- e18
  final case class GapEv(ts: java.sql.Timestamp, event_type: String, value: Option[Double])

  /** Per-open-hour accumulator: row count, exact cent sum of the
    * non-null values (each value rounded to 2 decimals HALF_UP first —
    * the same per-value Cast-to-DECIMAL(30,2) the batch dsum performs),
    * and whether any non-null value arrived (n > 0 with no values is a
    * LOCF gap, exactly e16's sv-null rule).
    */
  final case class GapHourAgg(n: Long, cents: Long, saw: Boolean)

  final case class GapState(
      open: Map[Long, GapHourAgg],
      lastEmittedUs: Long, // last grid hour emitted; MinValue before any
      carryCents: Long, hasCarry: Boolean, // the LOCF carry
      lastObsUs: Long, // max observed event hour (emission cap)
      lastUs: Long) // max raw event time (idle horizon)

  final case class GapOut(
      event_type: String, hour_us: Long, n: Long, locf_value: Option[Double])

  /** Spark's Cast(double → DECIMAL(30,2)) as exact integer cents — the
    * state must sum what the batch twin sums or the emitted doubles
    * split the shared oracle hash.
    */
  private def gapCents(v: Double): Long =
    (BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact

  /** Emit every grid hour that is (a) final under the event-time
    * watermark, (b) not past the last OBSERVED hour (the resampler
    * fills interior gaps; it never invents an unbounded zero tail for a
    * series that went quiet — those hours emit later, when an
    * observation arrives and proves the series continued), and (c)
    * contiguous with what was already emitted. Batch replay
    * (`isStream = false`): everything through the last observed hour
    * flushes — exactly the per-type dense grid the oracle computes.
    */
  private def gapSweep(
      etype: String, st0: GapState, wmUs: Long, isStream: Boolean): (GapState, Seq[GapOut]) = {
    if (st0.open.isEmpty && st0.lastEmittedUs == Long.MinValue) return (st0, Nil)
    val closable =
      if (!isStream) st0.lastObsUs
      else if (wmUs < 0) Long.MinValue
      else math.min(
        Math.floorDiv(wmUs - HourUsLen, HourUsLen) * HourUsLen, st0.lastObsUs)
    var cur = st0
    val out = Seq.newBuilder[GapOut]
    var h =
      if (cur.lastEmittedUs == Long.MinValue) cur.open.keys.min
      else cur.lastEmittedUs + HourUsLen
    while (h <= closable) {
      cur.open.get(h) match {
        case Some(GapHourAgg(n, c, true)) =>
          cur = cur.copy(carryCents = c, hasCarry = true)
          out += GapOut(etype, h, n, Some(c.toDouble / 100.0))
        case Some(GapHourAgg(n, _, false)) =>
          out += GapOut(etype, h, n,
            if (cur.hasCarry) Some(cur.carryCents.toDouble / 100.0) else None)
        case None =>
          out += GapOut(etype, h, 0L,
            if (cur.hasCarry) Some(cur.carryCents.toDouble / 100.0) else None)
      }
      cur = cur.copy(open = cur.open - h, lastEmittedUs = h)
      h += HourUsLen
    }
    (cur, out.result())
  }

  /** Arm the next wake-up: while grid hours await closing, at the
    * moment the watermark can close the next one; otherwise at the
    * idle horizon (evict a series that stopped for `idleDays`).
    */
  private def gapArm(
      state: GroupState[GapState], st: GapState, wmUs: Long, idleDays: Int): Unit = {
    val nextH =
      if (st.lastEmittedUs == Long.MinValue)
        st.open.keys.minOption.getOrElse(Long.MaxValue / 2)
      else st.lastEmittedUs + HourUsLen
    val pending = nextH <= st.lastObsUs
    rateArmTimeout(state,
      if (pending) (nextH + HourUsLen) / 1000
      else st.lastUs / 1000 + idleDays.toLong * 86400L * 1000,
      wmUs)
  }

  /** Streaming twin of the e16/e17 resample family, per-series form
    * (e18): per event type, a [[flatMapGroupsWithState]] emits the
    * DENSE hourly grid — observed hours carry their exact dsum, gap
    * hours emit n = 0 with the last observed sum carried forward —
    * as the EVENT-TIME WATERMARK finalizes each hour. The emission
    * contract live and batch share: rows appear in contiguous hour
    * order per type, from the type's first observed hour through
    * min(watermark-final, last observed) — a live run's output is
    * always a PREFIX of the batch replay's per-type series
    * (EventStreamSpec pins that equality on a real withWatermark
    * stream). Streaming state is the LOCF carry + the open (not yet
    * watermark-final) hours' counters — calendar-bounded, never
    * event-bounded. Batch replay (watermarks absent) flushes the full
    * per-type grid, which is exactly what the shared DuckDB oracle
    * recomputes. Hour buckets are UTC-floored like the rest of the
    * family; the same session-timezone contract as [[rateAnomaly]] is
    * asserted. At 100 TB: one shuffle on event_type; per-type state is
    * tens of longs however large the stream.
    */
  def gapFill(events: DataFrame, idleDays: Int = 7): Dataset[GapOut] = {
    import events.sparkSession.implicits._
    val sessionZone = java.time.ZoneId.of(
      events.sparkSession.conf.get("spark.sql.session.timeZone"))
    require(sessionZone.getRules.isFixedOffset
      && sessionZone.getRules.getOffset(java.time.Instant.EPOCH) == java.time.ZoneOffset.UTC,
      "gapFill buckets hours in UTC; set spark.sql.session.timeZone to a " +
        s"UTC-equivalent zone (got $sessionZone) so the e16-family date_trunc twin agrees")
    val isStream = events.isStreaming
    events.select(col("ts"), col("event_type"), col("value")).as[GapEv]
      .withWatermark("ts", "2 hours")
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[GapState, GapOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (etype: String, evs: Iterator[GapEv], state: GroupState[GapState]) =>
          val wmUs = rateWmUs(state)
          if (state.hasTimedOut) {
            val st0 = state.get
            val (st2, out) = gapSweep(etype, st0, wmUs, isStream = true)
            if (out.isEmpty && st2.open.isEmpty && st2.lastEmittedUs >= st2.lastObsUs) {
              state.remove() // idle horizon, series fully drained
              Iterator.empty
            } else {
              state.update(st2)
              gapArm(state, st2, wmUs, idleDays)
              out.iterator
            }
          } else {
            var st = state.getOption.getOrElse(
              GapState(Map.empty, Long.MinValue, 0L, false, Long.MinValue, Long.MinValue))
            for (e <- evs) { // streaming iteration: no group-sized buffer
              val us = e.ts.getTime * 1000 + (e.ts.getNanos / 1000) % 1000
              val h = Math.floorDiv(us, HourUsLen) * HourUsLen
              // sub-watermark stragglers for already-emitted hours are
              // filtered by Spark; belt-and-braces drop
              if (h > st.lastEmittedUs || st.lastEmittedUs == Long.MinValue) {
                val prev = st.open.getOrElse(h, GapHourAgg(0L, 0L, saw = false))
                val agg = e.value match {
                  case Some(v) => GapHourAgg(prev.n + 1, prev.cents + gapCents(v), saw = true)
                  case None => prev.copy(n = prev.n + 1)
                }
                st = st.copy(open = st.open.updated(h, agg),
                  lastObsUs = math.max(st.lastObsUs, h))
              }
              st = st.copy(lastUs = math.max(st.lastUs, us))
            }
            val (st2, out) = gapSweep(etype, st, wmUs, isStream)
            state.update(st2)
            if (isStream) gapArm(state, st2, wmUs, idleDays)
            out.iterator
          }
      }
  }

  /** File-source streaming reader with the events schema — at scale this
    * is the replay path over a parquet landing zone. The `ts` encoding
    * is sniffed from a driver-side batch footer read and normalized with
    * the SAME three branches as the batch loader (`Tables.t`): the
    * driver has shipped the column as int64 nanos AND as micros-NTZ,
    * and a reader pinned to one encoding crashes (or silently compresses
    * every timestamp 1000×) when the landing zone flips — the round-4
    * regression class, streaming edition.
    *
    * CONTRACT: the sniff runs once, at stream DEFINITION time, so the
    * landing zone's `ts` encoding must stay stable for the lifetime of
    * the stream — a mid-stream encoding flip needs a stream restart
    * (file sources give no per-file schema hook to re-sniff). An EMPTY
    * landing zone falls back to the nanos-as-long schema the driver
    * currently ships (the pre-sniff fixed schema), so a stream can be
    * started before the first file arrives.
    */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema =
      try graft.Tables.read(spark, dir).schema // footer-only, driver-side
      catch {
        // ONLY the no-files-yet condition falls back (empty-dir starts
        // worked before the sniff existed). Any other analysis failure —
        // mixed ts encodings across files, corrupt footers — must
        // surface here, at start, instead of silently pinning the
        // nanos-as-long schema and mis-reading every micro-batch (the
        // exact silent-failure class the sniff exists to prevent).
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "UNABLE_TO_INFER_SCHEMA"
              || e.getMessage.contains("Unable to infer schema") =>
          org.apache.spark.sql.types.StructType.fromDDL(
            "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
      }
    val st = spark.readStream.schema(schema).parquet(dir)
    schema("ts").dataType match {
      case LongType =>
        st.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        st.withColumn("ts", col("ts").cast("timestamp"))
      case _ => st
    }
  }
}
