package graft.queries

import graft.{CorpusCache, Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Advanced relational operators: cube, percentiles, pivot, range join,
  * as-of join, sketches. The as-of join follows SURVEY §7.3's preference
  * order (a): composed from built-in ops (union trick / window argmax)
  * rather than a custom physical operator — Catalyst can then optimize
  * through it.
  */
object Advanced {
  import Tables.t

  import graft.Agg.dsum

  /** q64 count-min geometry: 4 rows × 256 buckets. Width 256 against
    * ~960 bigram keys makes collisions real (load ≈ 3.7 keys/bucket),
    * so the min-over-rows correction is exercised, not vacuous; 4 rows
    * put a collision-free estimate at 1−(avg load/width)⁴ per probe.
    */
  private val CmsRows = 4
  private val CmsWidth = 256

  /** q65 bottom-k sketch size: k=64 ⇒ relative NDV error ~1/√k ≈ 12%.
    * Every gate source carries ≥64 distinct shingle hashes at sf0.001
    * (~1.2k); a thinner source would drop out of BOTH engines' output
    * identically (no k-th order statistic exists).
    */
  private[graft] val KmvK = 64

  /** ONE spelling of the KMV estimate (k−1)·2⁶⁰ / kth on the Spark
    * side — the Scala twin of the constant srcHashCtesSql centralizes
    * for SQL. Every sketch cell (q65/q66/q68/e27) renders its estimate
    * through this, so a discipline change cannot silently split one
    * cell's cross-engine hash. Unrounded: callers apply q65's
    * round(…, 6) (q66 composes before rounding).
    */
  private[graft] def kmvEstRaw(
      kth: org.apache.spark.sql.Column,
      k: Int = KmvK): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.lit((k - 1).toDouble) *
      org.apache.spark.sql.functions.lit(1152921504606846976.0) /
      kth.cast("double")

  /** The per-source distinct shingle-hash table q65/q66 sketch over.
    * Rides the SESSION-SHARED shingle index (the same (doc_id,
    * 3-gram-md5) table d2/d3/t11 build once — shingles3 IS the
    * spansK(words, 3) these sketches hash), re-keyed to source by one
    * doc_id join. Materialized because q65's window input, its exact
    * twins, and q66's pairwise sketch algebra all read it — a
    * per-branch recompute made q65 the suite's slowest cell at 4.7 s
    * sf0.1 (review r9s2).
    */
  private[graft] def sourceHashes(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    CorpusCache.table(s, dir, "q65.hashes") {
      graft.pipeline.Dedup.shingleIndex(s, dir)
        .join(t(s, dir, "documents").select(col("doc_id"), col("source")), "doc_id")
        .select(col("source"), col("h"))
        .distinct()
    }

  /** DuckDB twin of [[sourceHashes]] — the w/g/hs CTE prefix shared by
    * the q65 and q66 oracles (one spelling, so a hash-discipline edit
    * lands in both).
    */
  /** The per-source bottom-k sketch rows `(source, h, rk ≤ KmvK)` —
    * session-materialized (round 13): q65 reads it in two branches and
    * q66's pair algebra in FOUR (ta/tb × the full-sketch source
    * census), and the window-rank subtree it contains got re-planned
    * once per reference (40 Window nodes in q66's round-12 plan, the
    * same per-branch recompute that motivated [[sourceHashes]]). The
    * table is |sources|·k rows — sketch metadata, not corpus.
    */
  private[graft] def kmvSketch(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    CorpusCache.table(s, dir, "q65.sk") {
      sourceHashes(s, dir)
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("h").asc)))
        .filter(col("rk") <= KmvK) // WindowGroupLimit: map-side bottom-k
    }

  private[graft] def srcHashCtesSql: String =
    s"""w AS (
          SELECT source, ${graft.pipeline.Portable.wordsSql("text")} AS ws
          FROM documents),
        g AS (
          SELECT source, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
          FROM (SELECT source, ws, unnest(generate_series(1, len(ws)-2)) AS i
                FROM w WHERE len(ws) >= 3)),
        hs AS (SELECT DISTINCT source,
                      ${graft.pipeline.Portable.md5LongSql("gram")} AS h
               FROM g)"""

  /** Dir suffix of a temp-view name: createOrReplaceTempView mutates
    * SESSION catalog state, and a generic name ("lineitem_v") could be
    * rebound by a concurrent query or another SF dir on the same
    * session (ADVICE r8 / VERDICT r9). The md5 prefix keeps it a legal
    * identifier while staying deterministic per dir.
    */
  private def viewTag(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString

  /** `table` of `dir` as a dir-scoped temp view; returns its name. */
  private def scopedView(s: org.apache.spark.sql.SparkSession, dir: String,
      table: String, tag: String): String = {
    val view = s"${table}_${tag}_${viewTag(dir)}"
    t(s, dir, table).createOrReplaceTempView(view)
    view
  }

  def all: Seq[Q] = Seq(
    // ---- q21: CUBE aggregation — TWO-PHASE (q17's rewrite, one more
    //      grouping set): the fact table reduces to the 6-row key
    //      domain before the cube's ×4 Expand, so the expansion
    //      multiplies partials, not the corpus. ----
    Q(
      "q21_cube",
      (s, dir) => {
        val pre = t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("pn"),
            sum(graft.Agg.money(col("l_extendedprice"))).as("psum"))
        // Empty-input semantics, MEASURED (ADVICE r6 suggested a
        // coalesce here; its premise was wrong): Spark 4 cube/rollup
        // over an EMPTY input emits ZERO rows — including no
        // grand-total row — in both the SQL and Dataset spellings, so
        // the two-phase rewrite already equals the direct one
        // (AdviceR6Spec pins that equality and the zero-row shape).
        // DuckDB follows the other standard reading and emits a lone
        // grand-total row with count 0; that engine divergence exists
        // for DIRECT cubes too and only on empty corpora, which the
        // gate never ships — documented here rather than papered over
        // with a synthetic-row union that would complicate every
        // non-degenerate plan.
        pre.cube(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(col("pn")).as("n"), sum(col("psum")).cast("double").as("revenue"))
      },
      Some("""
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"""),
    ),

    // ---- q22: exact percentiles (continuous interpolation). ONE
    //      array-form percentile call (round 13): three scalar
    //      percentile() aggregates each buffered the whole column per
    //      group (exact percentile is a buffer-everything
    //      TypedImperativeAggregate — that triple buffer was 3× the
    //      memory and 3× the per-group sort); the array form shares
    //      one buffer and interpolates all three points from the same
    //      sorted pass. Identical values (same aggregate, same
    //      interpolation). ----
    Q(
      "q22_percentiles",
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy(col("o_orderstatus"))
          .agg(expr("percentile(o_totalprice, array(0.5D, 0.9D, 0.99D))").as("ps"))
          .select(col("o_orderstatus"),
            round(col("ps").getItem(0), 4).as("p50"),
            round(col("ps").getItem(1), 4).as("p90"),
            round(col("ps").getItem(2), 4).as("p99")),
      Some("""
        SELECT o_orderstatus,
               round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
               round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
               round(quantile_cont(o_totalprice, 0.99), 4) AS p99
        FROM orders GROUP BY 1"""),
    ),

    // ---- q23: pivot — order counts by year x status ----
    Q(
      "q23_pivot",
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .pivot(col("o_orderstatus"), Seq("F", "O", "P"))
          .agg(count(lit(1)))
          .na.fill(0L)
          .withColumnsRenamed(Map("F" -> "n_f", "O" -> "n_o", "P" -> "n_p")),
      Some("""
        SELECT CAST(year(o_orderdate) AS INT) AS o_year,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
               count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
               count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        FROM orders GROUP BY 1"""),
    ),

    // ---- q24: range join — lineitems shipped within 60 days of order date
    //      (equi key + range residual: stays a hash join, no n^2) ----
    Q(
      "q24_range_join",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val l = t(s, dir, "lineitem")
        o.join(l,
            col("o_orderkey") === col("l_orderkey") &&
              col("l_shipdate") >= col("o_orderdate") &&
              col("l_shipdate") < col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_fast_lines"),
            dsum(col("l_extendedprice")).as("fast_revenue"))
      },
      Some("""
        SELECT o_orderpriority, count(*) AS n_fast_lines,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS fast_revenue
        FROM orders JOIN lineitem
          ON o_orderkey = l_orderkey
         AND l_shipdate >= o_orderdate
         AND l_shipdate < o_orderdate + INTERVAL 60 DAY
        GROUP BY 1"""),
    ),

    // ---- q25: as-of join — each event joined to the user's most recent
    //      order at event time (composed: equi join on user + max_by
    //      argmax per event; no custom operator needed). max_by, not a
    //      row_number window: the aggregate partial-combines MAP-SIDE, so
    //      the post-join exchange carries at most one row per (event,
    //      upstream partition) instead of the full (event x matching
    //      order) pair stream — at 100x a hot user inflates the pair
    //      space, and the window spelling would shuffle and sort all of
    //      it before the rn=1 filter. ----
    Q(
      "q25_asof_join",
      (s, dir) => {
        val e = t(s, dir, "events")
          .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
        val o = t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            // o_orderdate is TIMESTAMP_NTZ; session tz is UTC, so the
            // cast is a pure reinterpretation
            unix_micros(col("o_orderdate").cast("timestamp")).as("od_us"))
        // UNION-TRICK as-of (round 13; SURVEY §7.3 preference (a)): the
        // previous join-then-argmax spelling fanned every event out to
        // ALL its user's earlier orders (measured 1.0 M joined rows
        // from 100 k events at sf0.1) and then SORTED that fan-out
        // twice — max_by's struct ordering key disqualifies
        // HashAggregate, so both partial and final aggregates were
        // SortAggregates. Here events and orders UNION into one
        // per-user timeline (|e|+|o| rows, no fan-out), one
        // shuffle+sort by (user, time, kind, orderkey), and a running
        // `last(..., ignoreNulls)` carries the latest order image to
        // each event row. Ordering (t asc, kind order<event, orderkey
        // asc) makes the running last exactly the argmax by
        // (od_us, o_orderkey) among orders with od ≤ ts — inclusive
        // ties land before the event via the kind column; an
        // orderless prefix yields the same NULL columns the outer
        // join produced. Orders with NULL od never matched the
        // original join predicate, so they are filtered before the
        // union rather than entering the timeline.
        val oRows = o.filter(col("od_us").isNotNull).select(
          col("o_custkey").as("uid"), col("od_us").as("t"),
          lit(0).as("kind"), lit(null).cast("long").as("event_id"),
          col("o_orderkey"))
        val eRows = e.select(
          col("user_id").as("uid"), col("ts_us").as("t"),
          lit(1).as("kind"), col("event_id"),
          lit(null).cast("long").as("o_orderkey"))
        val w = Window.partitionBy(col("uid"))
          .orderBy(col("t").asc, col("kind").asc, col("o_orderkey").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        oRows.unionByName(eRows)
          .withColumn("asof",
            last(when(col("kind") === 0,
              struct(col("t").as("od_us"), col("o_orderkey"))),
              ignoreNulls = true).over(w))
          .filter(col("kind") === 1)
          .select(col("event_id"), col("uid").as("user_id"),
            col("asof.o_orderkey").as("asof_orderkey"),
            col("asof.od_us").as("asof_od_us"))
      },
      Some("""
        WITH j AS (
          SELECT e.event_id, e.user_id, o.o_orderkey, epoch_us(o.o_orderdate) AS od_us,
                 row_number() OVER (PARTITION BY e.event_id
                                    ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
          FROM events e LEFT OUTER JOIN orders o
            ON e.user_id = o.o_custkey AND epoch_us(o.o_orderdate) <= epoch_us(e.ts))
        SELECT event_id, user_id, o_orderkey AS asof_orderkey, od_us AS asof_od_us
        FROM j WHERE rn = 1"""),
    ),

    // ---- q27: window function suite — lag/lead/ntile/first over
    //      per-customer order history ----
    Q(
      "q27_window_suite",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        t(s, dir, "orders")
          .filter(col("o_custkey") <= 30L)
          .select(
            col("o_custkey"), col("o_orderkey"),
            lag(col("o_totalprice"), 1).over(w).as("prev_price"),
            lead(col("o_totalprice"), 1).over(w).as("next_price"),
            ntile(4).over(w).as("quartile"),
            first(col("o_orderkey")).over(w).as("first_order"))
      },
      Some("""
        SELECT o_custkey, o_orderkey,
               lag(o_totalprice, 1) OVER w AS prev_price,
               lead(o_totalprice, 1) OVER w AS next_price,
               ntile(4) OVER w AS quartile,
               first_value(o_orderkey) OVER w AS first_order
        FROM orders WHERE o_custkey <= 30
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)"""),
    ),

    // ---- q28: SQL frontend — the same engine surface through
    //      spark.sql over registered views (correlated scalar subquery) ----
    Q(
      "q28_sql_frontend",
      (s, dir) => {
        val partV = scopedView(s, dir, "part", "q28")
        val liV = scopedView(s, dir, "lineitem", "q28")
        s.sql(s"""
          SELECT p_brand, count(*) AS n_parts,
                 CAST(sum(CAST(p_retailprice AS DECIMAL(30,2))) AS DOUBLE) AS brand_value
          FROM $partV p
          WHERE p_size > (SELECT avg(p_size) FROM $partV)
            AND EXISTS (SELECT 1 FROM $liV l WHERE l.l_partkey = p.p_partkey)
          GROUP BY p_brand""")
      },
      Some("""
        SELECT p_brand, count(*) AS n_parts,
               CAST(sum(CAST(p_retailprice AS DECIMAL(30,2))) AS DOUBLE) AS brand_value
        FROM part p
        WHERE p_size > (SELECT avg(p_size) FROM part)
          AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
        GROUP BY p_brand"""),
    ),

    // ---- q29: schema-based JSON parsing (from_json -> typed struct) ----
    Q(
      "q29_from_json",
      // (Round 13 A/B'd q1's re-shard here too — a WASH: the fixture's
      // props are 8-char {"k": n} docs, so the parse is scan-floor
      // cheap and the extra exchange buys nothing. Left single-pass.)
      (s, dir) =>
        t(s, dir, "events")
          .withColumn("parsed", from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT")))
          .filter(col("parsed.k").isNotNull)
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            max(col("parsed.k")).as("max_k"),
            round(avg(col("parsed.k")), 6).as("avg_k")),
      Some("""
        SELECT event_type, count(*) AS n,
               max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k,
               round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 6) AS avg_k
        FROM events
        WHERE CAST(json_extract_string(props, '$.k') AS INT) IS NOT NULL
        GROUP BY 1"""),
    ),

    // ---- q26: sketches — HLL distinct estimate. Estimator internals
    //      differ per engine, so the oracle-checkable output is the exact
    //      count plus a deterministic accuracy bit (|approx-exact|/exact
    //      within 5% at rsd=0.02) that DuckDB asserts as a constant;
    //      tighter accuracy properties live in SketchSpec. The exact
    //      `countDistinct` is VERIFICATION apparatus (it exists so DuckDB
    //      can assert the bound), so the BENCH times the sketch-only
    //      spelling (`benchRun`): the production path is one pass of
    //      fixed-size HLL partials — and its measured scale exponent must
    //      come from that path, not from shuffling a 10×-NDV exact pair
    //      set (VERDICT r11 item 4). ----
    Q(
      "q26_approx_distinct",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
            countDistinct(col("l_partkey")).as("exact_parts"))
          .select(
            col("l_returnflag"),
            col("exact_parts"),
            (abs(col("approx_parts") - col("exact_parts")).cast("double")
              / col("exact_parts") <= 0.05).as("within_5pct")),
      Some("""
        SELECT l_returnflag,
               count(DISTINCT l_partkey) AS exact_parts,
               true AS within_5pct
        FROM lineitem GROUP BY 1"""),
      benchRun = Some((s, dir) =>
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))),
    ),

    // ---- q62: sketch percentiles — the MERGEABLE answer to q22's exact
    //      path. Exact `percentile` buffers every value of a group on
    //      one reducer; at 100 TB that buffer IS the scale problem. The
    //      sketch is a fixed-width histogram: bucket = floor(price/100)
    //      (pure IEEE floor on the same stored double → engine-exact),
    //      per-(status, bucket) counts combine map-side and merge by
    //      addition — the classic mergeable-summary shape — then one
    //      window over the BOUNDED bucket census (≤ ~5000 rows per
    //      status, never the corpus) walks the CDF to the type-1
    //      quantile positions ceil(q·n), computed as integer
    //      (n·k + d−1) div d so no float position ever forms. Output is
    //      each quantile's bucket LOWER BOUND in whole dollars (BIGINT):
    //      deterministic, ±$100 of the true order statistic by
    //      construction (SketchPercentileSpec pins that bound against
    //      an independently sorted replay). ----
    Q(
      "q62_sketch_percentiles",
      (s, dir) => {
        val hist = t(s, dir, "orders")
          .select(col("o_orderstatus").as("st"),
            floor(col("o_totalprice") / lit(100.0)).cast("long").as("bkt"))
          .groupBy("st", "bkt").agg(count(lit(1)).as("c"))
        val tot = hist.groupBy("st").agg(sum(col("c")).as("n"))
        val w = Window.partitionBy(col("st")).orderBy(col("bkt").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        hist.withColumn("cum", sum(col("c")).over(w))
          .join(broadcast(tot), "st")
          .withColumn("lb", col("bkt") * lit(100L))
          .groupBy(col("st").as("o_orderstatus"))
          .agg(
            min(when(col("cum") >= expr("(n + 1) div 2"), col("lb"))).as("p50_lb"),
            min(when(col("cum") >= expr("(n * 9 + 9) div 10"), col("lb"))).as("p90_lb"),
            min(when(col("cum") >= expr("(n * 99 + 99) div 100"), col("lb"))).as("p99_lb"),
            max(col("n")).as("n"))
      },
      Some("""
        WITH b AS (SELECT o_orderstatus AS st,
                          CAST(floor(o_totalprice / 100.0) AS BIGINT) AS bkt
                   FROM orders),
        hist AS (SELECT st, bkt, count(*) AS c FROM b GROUP BY 1, 2),
        tot AS (SELECT st, CAST(sum(c) AS BIGINT) AS n FROM hist GROUP BY 1),
        cum AS (SELECT h.st, h.bkt, t.n, h.bkt * 100 AS lb,
                       CAST(sum(h.c) OVER (PARTITION BY h.st ORDER BY h.bkt ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                FROM hist h JOIN tot t USING (st))
        SELECT st AS o_orderstatus,
               CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN lb END) AS BIGINT) AS p50_lb,
               CAST(min(CASE WHEN cum >= (n * 9 + 9) // 10 THEN lb END) AS BIGINT) AS p90_lb,
               CAST(min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN lb END) AS BIGINT) AS p99_lb,
               CAST(max(n) AS BIGINT) AS n
        FROM cum GROUP BY 1"""),
    ),

    // ---- q64: COUNT-MIN SKETCH heavy hitters — the mergeable answer to
    //      "what are the most frequent items" beside q62's quantile
    //      histogram (and q65's cardinality sketch; together the three
    //      sketch primitives a 100 TB profiler ships). The sketch is a
    //      4×256 counter grid: each bigram increments one counter per
    //      row r at bucket md5_long(term||'|r') mod 256; a probe's
    //      estimate is the MIN over its four counters — an OVERestimate
    //      by construction (collisions only add), within εN with
    //      probability 1−(1/2)⁴ (Cormode & Muthukrishnan 2005). Unlike
    //      q26's HLL, every byte here is PORTABLE: the hash is the
    //      md5_long discipline the oracle replays exactly, so the
    //      DuckDB twin rebuilds the identical grid — the estimates
    //      cross the engine boundary bit-for-bit. Scale shape: the grid
    //      is ONE map-side-combinable aggregate (explode ×4 collapses
    //      to ≤1024 cells per task before any shuffle — partial
    //      aggregation IS the sketch merge); the probe set and the grid
    //      are both constant-bounded metadata joined under AQE
    //      broadcast. The exact counts exist for the gate contract
    //      (cms_n ≥ exact_n, pinned per row); at 100 TB you drop the
    //      exact twin and keep the one-pass grid, as with q26. Bigrams
    //      (vocab², ~960 keys) rather than unigrams (31) so collisions
    //      at width 256 are REAL and the min-over-rows does work. ----
    Q(
      "q64_cms_topk",
      (s, dir) => {
        import graft.pipeline.Portable.{bigrams, md5Long, words}
        // Materialized: both the sketch grid (`cells`) and the exact
        // top-20 twin (`top`) consume this full-corpus words+bigrams
        // explode — without memoization the suite's most expensive scan
        // here ran TWICE per execution (the same per-branch recompute
        // that made q65 the slowest cell before its cache, review r9).
        val bigr = CorpusCache.table(s, dir, "q64.bigrams") {
          t(s, dir, "documents")
            .select(explode(bigrams(words(col("text")))).as("term"))
        }
        def rbArr = array((0 until CmsRows).map { r =>
          struct(lit(r).as("r"),
            pmod(md5Long(concat(col("term"), lit("|" + r))),
              lit(CmsWidth.toLong)).as("b"))
        }: _*)
        // Round 13: the grid derives from the TERM CENSUS, not the
        // instance stream — the previous spelling exploded every
        // corpus bigram INSTANCE ×CmsRows and md5-hashed each copy;
        // grid counts are per-(r, bucket) sums of term counts, so
        // aggregating to (term, count) first (the same census `top`
        // already needs — ReuseExchange shares the shuffle) cuts the
        // ×4 explode and its hashes from corpus-instance-scale to
        // vocabulary-scale. Identical counters by distributivity.
        val census = bigr.groupBy(col("term"))
          .agg(count(lit(1)).as("exact_n"))
        val cells = census.select(explode(rbArr).as("rb"), col("exact_n"))
          .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
          .agg(sum(col("exact_n")).as("c"))
        val top = census
          .orderBy(col("exact_n").desc, col("term").asc)
          .limit(20)
        top.select(col("term"), col("exact_n"), explode(rbArr).as("rb"))
          .select(col("term"), col("exact_n"),
            col("rb.r").as("r"), col("rb.b").as("b"))
          .join(cells, Seq("r", "b"))
          .groupBy(col("term"), col("exact_n"))
          .agg(min(col("c")).as("cms_n"))
      },
      Some(s"""
        WITH w AS (
          SELECT ${graft.pipeline.Portable.wordsSql("text")} AS ws FROM documents),
        bigr AS (
          SELECT ws[i] || ' ' || ws[i+1] AS term
          FROM (SELECT ws, unnest(generate_series(1, len(ws)-1)) AS i
                FROM w WHERE len(ws) >= 2)),
        rows4(r, sfx) AS (VALUES ${(0 until CmsRows).map(r => s"($r, '|$r')").mkString(", ")}),
        cells AS (
          SELECT r, ${graft.pipeline.Portable.md5LongSql("term || sfx")} % $CmsWidth AS b,
                 count(*) AS c
          FROM bigr CROSS JOIN rows4 GROUP BY 1, 2),
        exact AS (SELECT term, count(*) AS exact_n FROM bigr GROUP BY 1),
        top AS (SELECT term, exact_n FROM exact
                ORDER BY exact_n DESC, term ASC LIMIT 20),
        probes AS (
          SELECT t.term, t.exact_n, r.r,
                 ${graft.pipeline.Portable.md5LongSql("t.term || r.sfx")} % $CmsWidth AS b
          FROM top t CROSS JOIN rows4 r)
        SELECT p.term, CAST(p.exact_n AS BIGINT) AS exact_n,
               CAST(min(c.c) AS BIGINT) AS cms_n
        FROM probes p JOIN cells c USING (r, b)
        GROUP BY 1, 2"""),
    ),

    // ---- q65: BOTTOM-K (KMV) cardinality sketch — the mergeable,
    //      PORTABLE answer to "how many distinct" (q26's HLL estimates
    //      cannot cross the oracle boundary; this one's do). Per source,
    //      keep the k=64 smallest distinct md5_long shingle hashes; the
    //      k-th smallest h estimates NDV ≈ (k−1)·2⁶⁰/h (Bar-Yossef et
    //      al. 2002) — hashes uniform on [0,2⁶⁰) make the k-th order
    //      statistic a density probe. The GLOBAL row is computed from
    //      the MERGED per-source sketches (bottom-k of the ≤20·64-row
    //      sketch union — the lossless merge that makes KMV a
    //      distributive rollup), while the oracle derives it from
    //      scratch over all hashes: the cross-engine hash match PROVES
    //      merge-equivalence, not just agreement. Scale shape: the
    //      rank-k filter compiles to WindowGroupLimit (map-side
    //      per-partition bottom-k before the shuffle — partial top-k IS
    //      the sketch build), per-source state is k hashes, the merge
    //      input is |sources|·k metadata. est_ndv is one IEEE multiply
    //      + divide rounded to 6 (t6's discipline); 63·2⁶⁰ is exactly
    //      representable so both engines fold the same constant. The
    //      exact NDV twin exists for the gate contract; at 100 TB you
    //      keep only the sketch (one shuffle of distinct hashes — and
    //      even that collapses to per-partition bottom-k candidates). ----
    Q(
      "q65_kmv_ndv",
      (s, dir) => {
        val hs = sourceHashes(s, dir)
        val sk = kmvSketch(s, dir)
        def estimate(kth: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          round(kmvEstRaw(kth), 6)
        val per = sk.filter(col("rk") === KmvK)
          .select(col("source"), col("h").as("kth_h"))
          .join(hs.groupBy("source").agg(count(lit(1)).as("exact_ndv")), "source")
        // the merge path: global sketch from the per-source sketches
        val gkth = sk.select(col("h")).distinct()
          .orderBy(col("h").asc).limit(KmvK)
          .agg(max(col("h")).as("kth_h"))
        val gexact = hs.select(col("h")).distinct()
          .agg(count(lit(1)).as("exact_ndv"))
        val global = gkth.crossJoin(gexact) // two 1-row sketches of metadata
          .select(lit("ALL").as("source"), col("kth_h"), col("exact_ndv"))
        per.select(col("source"), col("kth_h"), col("exact_ndv"))
          .unionByName(global)
          .select(col("source"), col("kth_h"),
            estimate(col("kth_h")).as("est_ndv"), col("exact_ndv"))
      },
      Some(s"""
        WITH $srcHashCtesSql,
        rk AS (SELECT source, h,
                      row_number() OVER (PARTITION BY source ORDER BY h ASC) AS rk
               FROM hs),
        ex AS (SELECT source, count(*) AS exact_ndv FROM hs GROUP BY 1),
        per AS (
          SELECT s.source, s.h AS kth_h, e.exact_ndv
          FROM rk s JOIN ex e USING (source) WHERE s.rk = $KmvK),
        gh AS (SELECT DISTINCT h FROM hs),
        grk AS (SELECT h, row_number() OVER (ORDER BY h ASC) AS rk FROM gh),
        gper AS (
          SELECT 'ALL' AS source, g.h AS kth_h, t.exact_ndv
          FROM grk g CROSS JOIN (SELECT count(*) AS exact_ndv FROM gh) t
          WHERE g.rk = $KmvK),
        u AS (SELECT * FROM per UNION ALL SELECT * FROM gper)
        SELECT source, kth_h,
               round(${KmvK - 1}.0 * 1152921504606846976.0 / kth_h, 6) AS est_ndv,
               CAST(exact_ndv AS BIGINT) AS exact_ndv
        FROM u"""),
      // The exact-NDV twin is VERIFICATION apparatus (it exists so
      // DuckDB can hash-check the estimate against truth); production
      // keeps only the sketch. The bench times the sketch-only path —
      // q26's benchRun precedent (VERDICT r11 item 4) — with the same
      // result cardinality (one row per full-sketch source + ALL), so
      // the row-count gate still applies. Round 13.
      benchRun = Some { (s, dir) =>
        val sk = kmvSketch(s, dir)
        val per = sk.filter(col("rk") === KmvK)
          .select(col("source"), col("h").as("kth_h"))
        val gkth = sk.select(col("h")).distinct()
          .orderBy(col("h").asc).limit(KmvK)
          .agg(max(col("h")).as("kth_h"))
          .select(lit("ALL").as("source"), col("kth_h"))
        per.unionByName(gkth)
          .select(col("source"), col("kth_h"),
            round(kmvEstRaw(col("kth_h")), 6).as("est_ndv"))
      },
    ),

    // ---- q66: KMV SET ALGEBRA — union/intersection NDV estimates
    //      between every source PAIR, from the same bottom-k sketches
    //      q65 builds. This is the mergeable-sketch property doing real
    //      work: kmv_k(A ∪ B) is computable from kmv_k(A) ∪ kmv_k(B)
    //      alone (any of the k smallest of the union is among the k
    //      smallest of its own side), and for an element of the union
    //      sketch, membership in A is DECIDABLE from kmv_k(A) (its rank
    //      in A is ≤ its rank in the union ≤ k) — so the entire
    //      pairwise overlap matrix computes on 20·k sketch rows with
    //      ZERO additional corpus passes. est_inter = (n_both/k) ·
    //      est_union is the standard KMV Jaccard route (Beyer et al.
    //      2007). Scale shape: the one corpus pass is the shared
    //      materialized [[sourceHashes]]; everything after is
    //      |sources|²-bounded metadata (the domain census, not the
    //      corpus — at 100 TB sources number thousands, pairs millions,
    //      still sketch-side work). All arithmetic is the q65 estimate
    //      discipline (same double expression both engines), n_both is
    //      an exact integer, so the full row hash-matches. ----
    Q(
      "q66_kmv_setops",
      (s, dir) => {
        // the shared materialized bottom-k sketch, exactly q65's cut
        val skr = kmvSketch(s, dir)
        val sk = skr.select(col("source"), col("h"))
        // pair census over FULL sketches only (a source with a k-th row
        // has ≥ k distinct hashes) — q65's drop rule applied up front,
        // so the pair count is C(|q65 sources|, 2) by construction even
        // on a fixture with thinner-than-k sources (ADVICE r10: deriving
        // srcs from sk retained thin sources and only the downstream
        // kth_u filter dropped them)
        val srcs = skr.filter(col("rk") === KmvK).select(col("source"))
        // |sources|² pair table — domain-census-scale, broadcast both ways
        val pairs = srcs.as("x").join(srcs.as("y"),
            col("x.source") < col("y.source"))
          .select(col("x.source").as("src_a"), col("y.source").as("src_b"))
        val ta = pairs.join(sk, col("source") === col("src_a"))
          .select(col("src_a"), col("src_b"), col("h"),
            lit(1).as("ina"), lit(0).as("inb"))
        val tb = pairs.join(sk, col("source") === col("src_b"))
          .select(col("src_a"), col("src_b"), col("h"),
            lit(0).as("ina"), lit(1).as("inb"))
        val u = ta.unionByName(tb)
          .groupBy(col("src_a"), col("src_b"), col("h"))
          .agg(max(col("ina")).as("ina"), max(col("inb")).as("inb"))
        val uw = Window.partitionBy(col("src_a"), col("src_b"))
          .orderBy(col("h").asc)
        val est = kmvEstRaw(col("kth_u"))
        u.withColumn("rk", row_number().over(uw))
          .filter(col("rk") <= KmvK)
          .groupBy(col("src_a"), col("src_b"))
          .agg(
            max(when(col("rk") === KmvK, col("h"))).as("kth_u"),
            sum(when(col("ina") === 1 && col("inb") === 1, 1L)
              .otherwise(0L)).as("n_both"))
          .filter(col("kth_u").isNotNull) // a pair thinner than k drops in BOTH engines
          .select(col("src_a"), col("src_b"), col("kth_u"),
            round(est, 6).as("est_union"),
            col("n_both"),
            round(est * col("n_both").cast("double") / lit(KmvK.toDouble), 6)
              .as("est_inter"))
      },
      Some(s"""
        WITH $srcHashCtesSql,
        rk AS (SELECT source, h,
                      row_number() OVER (PARTITION BY source ORDER BY h ASC) AS rk
               FROM hs),
        sk AS (SELECT source, h FROM rk WHERE rk <= $KmvK),
        srcs AS (SELECT source FROM rk WHERE rk = $KmvK),
        prs AS (SELECT a.source AS src_a, b.source AS src_b
                FROM srcs a JOIN srcs b ON a.source < b.source),
        u AS (SELECT src_a, src_b, h, max(ina) AS ina, max(inb) AS inb FROM (
                SELECT p.src_a, p.src_b, s.h, 1 AS ina, 0 AS inb
                FROM prs p JOIN sk s ON s.source = p.src_a
                UNION ALL
                SELECT p.src_a, p.src_b, s.h, 0 AS ina, 1 AS inb
                FROM prs p JOIN sk s ON s.source = p.src_b)
              GROUP BY 1, 2, 3),
        urk AS (SELECT *, row_number() OVER (PARTITION BY src_a, src_b
                                             ORDER BY h ASC) AS rk
                FROM u),
        agg AS (SELECT src_a, src_b,
                       max(CASE WHEN rk = $KmvK THEN h END) AS kth_u,
                       CAST(sum(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both
                FROM urk WHERE rk <= $KmvK GROUP BY 1, 2)
        SELECT src_a, src_b, kth_u,
               round(${KmvK - 1}.0 * 1152921504606846976.0 / kth_u, 6) AS est_union,
               n_both,
               round(${KmvK - 1}.0 * 1152921504606846976.0 / kth_u * n_both / $KmvK.0, 6) AS est_inter
        FROM agg WHERE kth_u IS NOT NULL"""),
    ),

    // ---- q30: GROUPING SETS — the general form cube/rollup specialize
    //      (q21/q17 cover those); explicit sets + grouping() markers
    //      disambiguate aggregate NULLs from grouping NULLs. TWO-PHASE
    //      (q21's rewrite, round 13): the corpus first reduces to the
    //      6-row (flag, status) key domain with ONE plain hash
    //      aggregate, and the GROUPING SETS Expand then multiplies
    //      partials, not the corpus — the direct spelling's Expand fed
    //      |sets| × |input| rows through the partial aggregate
    //      (measured 1.84 s vs 0.6 s at sf0.1/32). Decimal partial
    //      sums re-sum exactly (decimal addition is associative), so
    //      the result is bit-identical to the one-phase plan. ----
    Q(
      "q30_grouping_sets",
      (s, dir) => {
        val pre = t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("pn"),
            sum(graft.Agg.money(col("l_quantity"))).as("psum"))
        val preV = s"q30_pre_${viewTag(dir)}"
        pre.createOrReplaceTempView(preV)
        s.sql(s"""
          SELECT l_returnflag, l_linestatus,
                 grouping(l_returnflag) AS g_flag,
                 grouping(l_linestatus) AS g_status,
                 sum(pn) AS n,
                 CAST(sum(psum) AS DOUBLE) AS sum_qty
          FROM $preV
          GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""")
      },
      Some("""
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS TINYINT) AS g_flag,
               CAST(grouping(l_linestatus) AS TINYINT) AS g_status,
               count(*) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())"""),
    ),

    // ---- q31: deterministic stratified sampling — the eval-set /
    //      debug-slice primitive a 100 TB pipeline needs constantly:
    //      top-k per stratum by a uniform deterministic hash of the row
    //      key (reproducible across runs AND engines, unlike rand()).
    //      TWO-PHASE for scale: a naive per-stratum row_number sorts the
    //      whole corpus through 3 reducers (the stratum count, not the
    //      cluster, sets the parallelism — the classic skew trap). Here
    //      a cheap exact count per stratum derives a hash cutoff with an
    //      8x oversample, the corpus is FILTERED to ~8k rows per stratum
    //      by a pushdown-able per-row predicate, and only that sliver is
    //      sorted. P(sliver < k) is Chernoff-negligible (e^-300 at 8x);
    //      a stratum smaller than 8k skips the filter entirely, so the
    //      result equals the oracle's full-sort row_number EXACTLY.
    //      Driver-side state: 3 (flag, count) rows — index metadata. ----
    Q(
      "q31_sample",
      (s, dir) => {
        import graft.pipeline.Portable.md5Long
        val k = 100L
        val over = 8L
        val li = t(s, dir, "lineitem")
        val withH = li.withColumn("h",
          md5Long(concat_ws("-", col("l_orderkey"), col("l_linenumber"))))
        // bound: the stratum key is the return-flag DOMAIN (3 values),
        // not the corpus — 8 leaves headroom without admitting a scan
        val counts = graft.BoundedCollect
          .rows(withH.groupBy("l_returnflag").count(), 8, "q31 stratum counts")
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val cutExpr = counts.foldLeft(lit(Long.MaxValue)) { case (acc, (flag, n)) =>
          val cut =
            if (n <= over * k) Long.MaxValue // stratum fits: keep all rows
            else ((BigInt(1) << 60) * BigInt(over * k) / BigInt(n) + 1).toLong
          when(col("l_returnflag") === flag, lit(cut)).otherwise(acc)
        }
        // (l_orderkey, l_linenumber) is NOT unique in the testdata, so
        // duplicate keys share h; l_quantity breaks the remaining tie on
        // every column the output carries, making the sampled multiset
        // engine-independent.
        val w = Window.partitionBy("l_returnflag")
          .orderBy(col("h"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        withH.filter(col("h") < cutExpr)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= k)
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("rn"))
      },
      Some(s"""
        WITH h AS (
          SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
                 ${graft.pipeline.Portable.md5LongSql(
                   "CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)")} AS h
          FROM lineitem),
        r AS (
          SELECT *, row_number() OVER (
                   PARTITION BY l_returnflag
                   ORDER BY h, l_orderkey, l_linenumber, l_quantity) AS rn
          FROM h)
        SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
               CAST(rn AS INT) AS rn
        FROM r WHERE rn <= 100"""),
    ),

    // ---- q32: unpivot/melt — wide-to-long reshaping (feature matrices,
    //      per-metric fan-out before a metric-keyed aggregate). Spark's
    //      native unpivot lowers to one Expand node (each input row
    //      emits |values| rows map-side, no join, no shuffle until the
    //      downstream aggregate), so the reshape itself is corpus-linear
    //      and stays inside WholeStageCodegen; the oracle spells the
    //      same thing as UNION ALL. ----
    Q(
      "q32_unpivot",
      (s, dir) => {
        val p = t(s, dir, "part").select(
          col("p_partkey"), col("p_brand"),
          col("p_size").cast("double").as("p_size"), col("p_retailprice"))
        p.unpivot(
            Array(col("p_partkey"), col("p_brand")),
            Array(col("p_size"), col("p_retailprice")),
            "metric", "val")
          .groupBy("p_brand", "metric")
          .agg(
            count(lit(1)).as("n"),
            dsum(col("val")).as("total"),
            min("val").as("mn"),
            max("val").as("mx"))
      },
      Some("""
        WITH m AS (
          SELECT p_partkey, p_brand, 'p_size' AS metric,
                 CAST(p_size AS DOUBLE) AS val
          FROM part
          UNION ALL
          SELECT p_partkey, p_brand, 'p_retailprice', p_retailprice FROM part)
        SELECT p_brand, metric, count(*) AS n,
               CAST(sum(CAST(val AS DECIMAL(30,2))) AS DOUBLE) AS total,
               min(val) AS mn, max(val) AS mx
        FROM m GROUP BY 1, 2"""),
    ),

    // ---- q36: RANGE-frame moving average — trailing-7-day mean of
    //      daily revenue, the time-series smoothing query. RANGE (not
    //      ROWS): the frame is defined by VALUE distance on the
    //      ordering key, so missing days widen the row span correctly —
    //      a ROWS frame would silently average "last 7 rows" across
    //      gaps. Scale shape: the daily roll-up is a map-side-partial
    //      aggregate down to |days| rows; only that tiny series flows
    //      through the unpartitioned window (at 100 TB of orders the
    //      window input is still just the calendar). ----
    Q(
      "q36_moving_avg",
      (s, dir) => {
        val day = 86400000000L
        // bounded global window: input is the daily roll-up (|days|
        // rows — the calendar, not the orders table)
        val w = graft.pipeline.Portable.boundedW(col("day_us"))
          .orderBy(col("day_us")).rangeBetween(-6 * day, 0)
        t(s, dir, "orders")
          .groupBy(unix_micros(col("o_orderdate").cast("timestamp")).as("day_us"))
          .agg(dsum(col("o_totalprice")).as("revenue"))
          .withColumn("ma7", round(avg(col("revenue")).over(w), 4))
          .withColumn("n_days7", count(lit(1)).over(w))
      },
      Some("""
        WITH d AS (
          SELECT epoch_us(o_orderdate) AS day_us,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue
          FROM orders GROUP BY 1)
        SELECT day_us, revenue,
               round(avg(revenue) OVER w, 4) AS ma7,
               count(*) OVER w AS n_days7
        FROM d
        WINDOW w AS (ORDER BY day_us
                     RANGE BETWEEN 518400000000 PRECEDING AND CURRENT ROW)"""),
    ),

    // ---- q35: WEIGHTED stratified sampling — per-stratum k
    //      proportional to stratum mass (k_g = max(1, K·n_g/n), floor
    //      division), the eval-set shape where strata must be
    //      represented by population share rather than equally. Unlike
    //      q31 (fixed k per stratum, driver-collected counts), the
    //      count table here stays DISTRIBUTED: a map-side-combined
    //      group-by (|strata| rows) self-normalized by an unpartitioned
    //      window sum, then joined back onto the corpus — AQE
    //      broadcasts the |strata|-row side, so the corpus never
    //      re-shuffles for the allocation. The per-stratum hash cut
    //      (same 60-bit md5 ladder as q31, integer-only so both
    //      engines agree bit-for-bit: (2^60 div n_g)·(over·k_g), no
    //      overflow since the ELSE branch implies over·k_g < n_g)
    //      prefilters to ~over·k_g rows per stratum BEFORE the
    //      row_number window, so the only sort is over the ~over·K
    //      survivors, not the corpus. ----
    Q(
      "q35_weighted_sample",
      (s, dir) => {
        import graft.pipeline.Portable.md5Long
        val k = 600L // total sample budget, split across strata by mass
        val over = 8L
        val li = t(s, dir, "lineitem")
        val alloc = li.groupBy("l_returnflag").agg(count(lit(1)).as("n_g"))
          // bounded global sum: |strata| rows (the return-flag domain)
          .withColumn("n", sum("n_g").over(
            graft.pipeline.Portable.boundedW(col("l_returnflag"))))
          .withColumn("k_g", greatest(lit(1L), expr(s"($k * n_g) div n")))
          .withColumn("cut",
            when(col("n_g") <= lit(over) * col("k_g"), lit(Long.MaxValue))
              .otherwise(expr(s"(1152921504606846976L div n_g) * ($over * k_g) + 1")))
          .select("l_returnflag", "k_g", "cut")
        val w = Window.partitionBy("l_returnflag")
          .orderBy(col("h"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        li.withColumn("h",
            md5Long(concat_ws("-", col("l_orderkey"), col("l_linenumber"))))
          .join(alloc, "l_returnflag")
          .filter(col("h") < col("cut"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= col("k_g"))
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("rn"))
      },
      Some(s"""
        WITH c AS (
          SELECT l_returnflag, count(*) AS n_g FROM lineitem GROUP BY 1),
        alloc AS (
          SELECT l_returnflag, n_g,
                 greatest(1, (600 * n_g) // sum(n_g) OVER ()) AS k_g
          FROM c),
        cuts AS (
          SELECT l_returnflag, k_g,
                 CASE WHEN n_g <= 8 * k_g THEN 9223372036854775807
                      ELSE (1152921504606846976 // n_g) * (8 * k_g) + 1
                 END AS cut
          FROM alloc),
        h AS (
          SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
                 ${graft.pipeline.Portable.md5LongSql(
                   "CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)")} AS h
          FROM lineitem),
        r AS (
          SELECT h.l_returnflag, h.l_orderkey, h.l_linenumber, h.l_quantity,
                 cuts.k_g,
                 row_number() OVER (
                   PARTITION BY h.l_returnflag
                   ORDER BY h.h, h.l_orderkey, h.l_linenumber, h.l_quantity) AS rn
          FROM h JOIN cuts USING (l_returnflag)
          WHERE h.h < cuts.cut)
        SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
               CAST(rn AS INT) AS rn
        FROM r WHERE rn <= k_g"""),
    ),

    // ---- q38: INCREMENTAL aggregate maintenance — the materialized-
    //      view refresh shape: per-customer order stats kept current by
    //      merging the frozen lake's PARTIAL aggregates with a partial
    //      aggregate of only the delta (orders ≥ the cutoff), exploiting
    //      that (count, decimal-sum) is a commutative monoid. The lake
    //      partials build once per (session, corpus) — every refresh
    //      after that touches |customers| cached rows plus the delta
    //      scan, never the lake's raw rows. At 100 TB that is the
    //      difference between a nightly full re-aggregation of the lake
    //      and a job proportional to one day of ingest (the same
    //      lake-immutable contract as p2). Decimal partials make the
    //      merge order-insensitive, so merged == full-recompute exactly
    //      — which is precisely what the oracle (a full recompute)
    //      asserts. ----
    Q(
      "q38_incremental_agg",
      (s, dir) => {
        val cutoff = lit(IncAggCutoff).cast("timestamp_ntz")
        def partials(src: org.apache.spark.sql.DataFrame) =
          src.groupBy("o_custkey").agg(
            count(lit(1)).as("pn"),
            sum(graft.Agg.money(col("o_totalprice"))).as("psum"))
        val lake = CorpusCache.table(s, dir, "q38.lake") {
          partials(t(s, dir, "orders").filter(col("o_orderdate") < cutoff))
        }
        val delta = partials(t(s, dir, "orders").filter(col("o_orderdate") >= cutoff))
        lake.unionByName(delta)
          .groupBy("o_custkey")
          .agg(sum(col("pn")).as("n_orders"),
            sum(col("psum")).cast("double").as("sum_total"))
      },
      Some(s"""
        SELECT o_custkey, count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_total
        FROM orders GROUP BY 1"""),
    ),

    // ---- q59: INCREMENTAL maintenance of a JOIN view — the delta-
    //      join rule that completes q38 (which maintains an
    //      aggregate): for V = O ⋈ C with O = O₀∪ΔO and C = C₀∪ΔC,
    //      ΔV = ΔO⋈C₀ ∪ O₀⋈ΔC ∪ ΔO⋈ΔC — three delta terms merged
    //      into the lake's frozen partials, NEVER a recompute of
    //      O₀⋈C₀. The fixture exercises BOTH delta sides: ΔO is the
    //      q38 date boundary (the nightly fact delta), ΔC is a
    //      deterministic late-arriving dimension slice (custkey ≡ 9
    //      mod 10 — the SCD backfill case). The cost asymmetry is the
    //      point at 100 TB: ΔO⋈C₀ is day-scale × broadcast dim,
    //      ΔO⋈ΔC is tiny, and the one term touching the full fact
    //      lake — O₀⋈ΔC — BROADCASTS the dimension delta so the lake
    //      streams through without shuffling. The oracle is the full
    //      recompute, so a wrong/missing delta term splits counts,
    //      sums and the group keys. ----
    Q(
      "q59_join_ivm",
      (s, dir) => {
        val cutoff = lit(IncAggCutoff).cast("timestamp_ntz")
        val o = t(s, dir, "orders").select(col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
        val c = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
        val (o0, dO) = (o.filter(col("o_orderdate") < cutoff),
          o.filter(col("o_orderdate") >= cutoff))
        val (c0, dC) = (c.filter(pmod(col("c_custkey"), lit(10)) =!= 9),
          c.filter(pmod(col("c_custkey"), lit(10)) === 9))
        def partials(of: org.apache.spark.sql.DataFrame,
            cf: org.apache.spark.sql.DataFrame) =
          of.join(cf, col("o_custkey") === col("c_custkey"))
            .groupBy(col("c_mktsegment"), col("o_orderstatus"))
            .agg(count(lit(1)).as("pn"),
              sum(graft.Agg.money(col("o_totalprice"))).as("psum"))
        val lake = CorpusCache.table(s, dir, "q59.lake") {
          partials(o0, c0)
        }
        val inc = partials(dO, c0)
          .unionByName(partials(o0, broadcast(dC)))
          .unionByName(partials(dO, dC))
        lake.unionByName(inc)
          .groupBy(col("c_mktsegment"), col("o_orderstatus"))
          .agg(sum(col("pn")).as("n_orders"),
            sum(col("psum")).cast("double").as("sum_total"))
      },
      Some("""
        SELECT c_mktsegment, o_orderstatus, count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_total
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2"""),
    ),

    // ---- q43: TIME TRAVEL over a merge-on-read change log — the
    //      other canonical lake layout. q41 (copy-on-write) rewrites
    //      the survivor set per merge; here the lake stays FROZEN and
    //      each batch appends a day-scale log of upserts/tombstones
    //      (Kafka-compacted-topic semantics: full-row images, latest
    //      action per key wins). Reading "as of version v" resolves
    //      each touched key's final action ≤ v with one map-side-
    //      combinable max_by argmax over the LOG (q25's trick — the
    //      log is day-scale × versions, never lake-scale), then
    //      broadcast-anti-joins the lake: untouched rows stream
    //      through, upserts append their row image, tombstones vanish.
    //      At 100 TB: write amplification is zero (append-only log),
    //      an as-of read costs one lake scan + a broadcast, and EVERY
    //      historical version stays readable from the same two tables
    //      — the query gates v=0,1,2 in one union (real readers pick
    //      one v; each as-of is independently one scan). Contracts
    //      pinned: batch-2-wins on twice-updated keys, tombstones
    //      delete across batches, a later upsert RESURRECTS a
    //      tombstoned key, batch-1 inserts survive batch 2.
    //      Round 12: the as-of reads go through the library's DSv2
    //      `graft-lake` TableProvider ([[graft.sources.LakeLayout]]) —
    //      a PHYSICAL snapshot layout (fid-sharded immutable files +
    //      per-version manifests with file stats) read via a custom
    //      BatchScan with manifest-pruned listing, stats-based file
    //      skipping and column pruning (VERDICT r11 item 3). The oracle
    //      is unchanged and replays the states from the raw tables, so
    //      the gate now covers writer + manifests + pruning + reader;
    //      asOfState stays the logical spelling (it writes the layout
    //      and serves q47/q50/q52, and TimeTravelSpec pins the two
    //      paths equal row-level). ----
    Q(
      "q43_time_travel",
      (s, dir) => {
        val root = graft.sources.LakeLayout.ensure(s, dir)
        (0 to 2).map { v =>
          s.read.format("graft-lake")
            .option("path", root).option("asOf", v.toString).load()
            .withColumn("v", lit(v))
        }.reduce(_ unionByName _)
          .groupBy(col("v"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            graft.Agg.dsum(col("price")).as("sum_price"),
            bit_xor(graft.pipeline.Portable.md5Long(col("k").cast("string")))
              .as("key_xor"))
      },
      Some(s"""
        WITH $cdcLogCtesSql,
        vs AS (SELECT * FROM (VALUES (1), (2)) AS t(v)),
        resolved AS (
          SELECT vs.v, l.k,
                 max_by(l.act, l.b) AS act,
                 max_by(l.o_orderstatus, l.b) AS o_orderstatus,
                 max_by(l.price, l.b) AS price
          FROM logs l JOIN vs ON l.b <= vs.v
          GROUP BY 1, 2),
        states AS (
          SELECT 0 AS v, k, o_orderstatus, price FROM base
          UNION ALL
          SELECT vs.v, b.k, b.o_orderstatus, b.price
          FROM base b CROSS JOIN vs
          WHERE NOT EXISTS (
            SELECT 1 FROM resolved r WHERE r.v = vs.v AND r.k = b.k)
          UNION ALL
          SELECT v, k, o_orderstatus, price FROM resolved WHERE act = 'U')
        SELECT v, o_orderstatus, count(*) AS n,
               CAST(sum(CAST(price AS DECIMAL(30,2))) AS DOUBLE) AS sum_price,
               bit_xor(${graft.pipeline.Portable.md5LongSql("CAST(k AS VARCHAR)")}) AS key_xor
        FROM states GROUP BY 1, 2"""),
    ),

    // ---- q69: MANIFEST-STATS AGGREGATES over the lake — the table
    //      format answering COUNT(*)/MIN(k)/MAX(k) from its own
    //      metadata, zero data-file opens (VERDICT r12 item 3; the q57
    //      parquet-footer trick lifted to the custom DSv2 source via
    //      SupportsPushDownAggregates). Each version's scan collapses
    //      to a single manifest-derived row — at 100 TB the difference
    //      between a metadata read and a full lake scan for the
    //      row-count/key-range probes every pipeline health check
    //      runs. The oracle replays all three as-of states from the
    //      raw tables and aggregates them for real, so a stats-path
    //      bug (stale manifest, wrong tombstone handling, off-by-one
    //      min/max) splits the hash. LakeDsv2Spec additionally pins
    //      FilesOpened == 0 on this exact plan shape. ----
    Q(
      "q69_lake_stats_agg",
      (s, dir) => {
        val root = graft.sources.LakeLayout.ensure(s, dir)
        (0 to 2).map { v =>
          s.read.format("graft-lake")
            .option("path", root).option("asOf", v.toString).load()
            .agg(count(lit(1)).as("n"),
              min(col("k")).as("min_k"), max(col("k")).as("max_k"))
            .select(lit(v).as("v"), col("n"), col("min_k"), col("max_k"))
        }.reduce(_ unionByName _)
      },
      Some(s"""
        WITH $cdcLogCtesSql,
        vs AS (SELECT * FROM (VALUES (1), (2)) AS t(v)),
        resolved AS (
          SELECT vs.v, l.k,
                 max_by(l.act, l.b) AS act,
                 max_by(l.o_orderstatus, l.b) AS o_orderstatus,
                 max_by(l.price, l.b) AS price
          FROM logs l JOIN vs ON l.b <= vs.v
          GROUP BY 1, 2),
        states AS (
          SELECT 0 AS v, k FROM base
          UNION ALL
          SELECT vs.v, b.k
          FROM base b CROSS JOIN vs
          WHERE NOT EXISTS (
            SELECT 1 FROM resolved r WHERE r.v = vs.v AND r.k = b.k)
          UNION ALL
          SELECT v, k FROM resolved WHERE act = 'U')
        SELECT v, count(*) AS n, min(k) AS min_k, max(k) AS max_k
        FROM states GROUP BY 1"""),
    ),

    // ---- q41: CDC MERGE (copy-on-write) — the refresh every
    //      lake-resident dataset runs when a changes feed arrives:
    //      updates REPLACE their lake twins on the key, tombstones
    //      DELETE them (winning over a same-key update — the
    //      precedence every CDC consumer must define), inserts append.
    //      The feed is deterministic (every 20th key re-priced, every
    //      47th tombstoned, every 31st re-keyed past max), so the
    //      DuckDB oracle replays the merge itself — a wrong anti-join
    //      (dup keys, lost updates, surviving tombstones, phantom lake
    //      rows) splits the count AND the per-status sums AND the XOR
    //      of key hashes. Spelling: survivors ∪ (lake ⟵anti
    //      touched-keys), the CoW shape — the touched-key set is
    //      broadcast (a day's changes vs the lake), so the 100 TB side
    //      never shuffles; a window-over-union spelling would sort the
    //      whole lake by key instead. ----
    Q(
      "q41_cdc_upsert",
      (s, dir) => {
        cdcMerged(s, dir).groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            graft.Agg.dsum(col("price")).as("sum_price"),
            bit_xor(graft.pipeline.Portable.md5Long(col("k").cast("string")))
              .as("key_xor"))
      },
      Some(s"""
        WITH mk AS (SELECT max(o_orderkey) AS mx FROM orders),
        lake AS (
          SELECT o_orderkey AS k, o_orderstatus, o_totalprice AS price
          FROM orders),
        merged AS (
          SELECT k, o_orderstatus, price + 100.0 AS price
          FROM lake WHERE k % 20 = 0 AND k % 47 <> 0
          UNION ALL
          SELECT k + mx + 1, o_orderstatus, price FROM lake, mk WHERE k % 31 = 0
          UNION ALL
          SELECT * FROM lake WHERE k % 20 <> 0 AND k % 47 <> 0)
        SELECT o_orderstatus, count(*) AS n,
               CAST(sum(CAST(price AS DECIMAL(30,2))) AS DOUBLE) AS sum_price,
               bit_xor(${graft.pipeline.Portable.md5LongSql("CAST(k AS VARCHAR)")}) AS key_xor
        FROM merged GROUP BY 1"""),
    ),

    // ---- q47: CDC LOG CHECKPOINT / retention — the missing third of
    //      the merge-on-read lifecycle (q43 reads as-of any version,
    //      but its change log grows forever; real lake tables
    //      periodically FOLD the log into a new base and truncate it).
    //      Checkpoint at cp=1: the b≤1 log entries resolve through the
    //      same [[mergeResolved]] convention into a new compacted base
    //      (exactly the v=1 state — materialized, modeling the rewritten
    //      base files), and the retained log keeps ONLY b>1 entries.
    //      The RETENTION CONTRACT — as-of reads at versions > cp are
    //      IDENTICAL pre/post checkpoint — is what the gate hashes: the
    //      query serves the v=2 state through BOTH paths (pre = frozen
    //      lake + full log; post = compacted base + truncated log),
    //      labeled, and the oracle emits the independently-replayed v=2
    //      state under both labels, so any divergence (a key resolved
    //      differently against the folded base, a tombstone lost in the
    //      fold, double-applied row images) splits count, sums, AND the
    //      key XOR of whichever path drifted. At 100 TB: the fold costs
    //      one lake scan + a broadcast (q43's as-of price, paid once),
    //      bounds every future read's log side to the retention window,
    //      and frees pre-cp log storage — without it the max_by argmax
    //      over the log grows without bound while 99% of entries are
    //      shadowed by later batches. Versions < cp become unreadable:
    //      that is the retention trade, made explicit here (the
    //      checkpoint is a NEW pair of tables; a deployment keeps the
    //      old pair until its readers drain). ----
    Q(
      "q47_log_checkpoint",
      (s, dir) => {
        val pre = asOfState(s, dir, 2).drop("v").withColumn("path", lit("pre"))
        val post = asOfCheckpointed(s, dir, cp = 1, v = 2).withColumn("path", lit("post"))
        pre.unionByName(post)
          .groupBy(col("path"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            graft.Agg.dsum(col("price")).as("sum_price"),
            bit_xor(graft.pipeline.Portable.md5Long(col("k").cast("string")))
              .as("key_xor"))
      },
      Some(s"""
        WITH $cdcLogCtesSql,
        resolved AS (
          SELECT l.k,
                 max_by(l.act, l.b) AS act,
                 max_by(l.o_orderstatus, l.b) AS o_orderstatus,
                 max_by(l.price, l.b) AS price
          FROM logs l WHERE l.b <= 2
          GROUP BY 1),
        state AS (
          SELECT b.k, b.o_orderstatus, b.price FROM base b
          WHERE NOT EXISTS (SELECT 1 FROM resolved r WHERE r.k = b.k)
          UNION ALL
          SELECT k, o_orderstatus, price FROM resolved WHERE act = 'U'),
        paths AS (SELECT 'pre' AS path UNION ALL SELECT 'post')
        SELECT p.path, s.o_orderstatus, count(*) AS n,
               CAST(sum(CAST(s.price AS DECIMAL(30,2))) AS DOUBLE) AS sum_price,
               bit_xor(${graft.pipeline.Portable.md5LongSql("CAST(s.k AS VARCHAR)")}) AS key_xor
        FROM state s CROSS JOIN paths p GROUP BY 1, 2"""),
    ),

    // ---- q48: POSITION-DELETE (deletion-vector) read — the OTHER
    //      lake delete mechanism, completing the taxonomy: q41/q43
    //      delete by KEY (row-image tombstones); Iceberg/Delta
    //      deletion vectors delete by (file, row position), which
    //      needs no key at all and costs one bitmap per touched file.
    //      Synthetic twin: the lake shards into deterministic "files"
    //      (fid = k % 8) and position = rank of k within its file —
    //      the cross-engine-replayable stand-in for the physical row
    //      offset (at 100 TB positions come FREE from the scan as
    //      per-file offsets; no engine sorts for them — the window
    //      here exists only so DuckDB can derive identical positions).
    //      The DV marks a scattered rule (every 97th position) plus a
    //      contiguous head range in one file (positions ≤ 5 of fid 0 —
    //      the "deleted first rows" range shape DV bitmaps compress
    //      best). The read is one broadcast anti-join on (fid, pos):
    //      DVs are day-scale metadata (|lake|/97 + 5 entries) against
    //      a lake that never reshuffles — delete cost is proportional
    //      to deletes, zero rewrite amplification, and the surviving
    //      rows' count/sums/key-XOR gate that EXACTLY the marked
    //      positions vanished. ----
    Q(
      "q48_position_delete",
      (s, dir) => {
        val withPos = lakeWithPositions(s, dir)
        withPos.join(broadcast(deletionVector(withPos)), Seq("fid", "pos"), "left_anti")
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            graft.Agg.dsum(col("price")).as("sum_price"),
            bit_xor(graft.pipeline.Portable.md5Long(col("k").cast("string")))
              .as("key_xor"))
      },
      Some(s"""
        WITH lake AS (
          SELECT o_orderkey AS k, o_orderstatus, o_totalprice AS price,
                 o_orderkey % 8 AS fid
          FROM orders),
        wp AS (
          SELECT *, row_number() OVER (PARTITION BY fid ORDER BY k) AS pos
          FROM lake),
        dv AS (
          SELECT fid, pos FROM wp
          WHERE pos % 97 = 0 OR (fid = 0 AND pos <= 5))
        SELECT o_orderstatus, count(*) AS n,
               CAST(sum(CAST(price AS DECIMAL(30,2))) AS DOUBLE) AS sum_price,
               bit_xor(${graft.pipeline.Portable.md5LongSql("CAST(k AS VARCHAR)")}) AS key_xor
        FROM wp ANTI JOIN dv USING (fid, pos)
        GROUP BY 1"""),
    ),

    // ---- q50: NET CHANGE FEED between versions — the CONSUMER side
    //      of the merge-on-read log (q43 reads a state; an incremental
    //      downstream job wants only WHAT CHANGED since its last sync,
    //      Delta CDF / Iceberg incremental-read semantics, net-effect
    //      form). The feed over (v1, v2] resolves each touched key's
    //      final in-range action (the one max_by convention), fetches
    //      pre-images at v1 for ONLY the touched keys, and classifies:
    //      I (key absent at v1 — including a tombstoned key a later
    //      upsert resurrects), U (row image differs from the
    //      pre-image), D (key existed at v1). Net-effect suppression
    //      is the point: a key inserted-and-deleted inside the range
    //      emits NOTHING (the consumer never saw it exist), and an
    //      upsert identical to the pre-image emits nothing (no-op
    //      churn never reaches the consumer). The (1, 2] window
    //      exercises resurrection-as-I (%47-deleted then %13-upserted)
    //      and shadowed-delete suppression (%59 keys already
    //      %47-tombstoned at v1). At 100 TB: the feed is day-scale —
    //      the log resolves map-side, pre-images cost ONE lake scan
    //      restricted through a broadcast of the touched keys (the
    //      lake never shuffles), and the consumer applies |changes|
    //      work instead of re-reading the table. ----
    Q(
      "q50_change_feed",
      (s, dir) => changeFeed(s, dir, v1 = 1, v2 = 2),
      Some(s"""
        WITH $cdcLogCtesSql,
        rng AS (
          SELECT l.k,
                 max_by(l.act, l.b) AS act,
                 max_by(l.o_orderstatus, l.b) AS o_orderstatus,
                 max_by(l.price, l.b) AS price
          FROM logs l WHERE l.b > 1 AND l.b <= 2
          GROUP BY 1),
        resolved1 AS (
          SELECT l.k,
                 max_by(l.act, l.b) AS act,
                 max_by(l.o_orderstatus, l.b) AS o_orderstatus,
                 max_by(l.price, l.b) AS price
          FROM logs l WHERE l.b <= 1
          GROUP BY 1),
        state1 AS (
          SELECT b.k, b.o_orderstatus, b.price FROM base b
          WHERE NOT EXISTS (SELECT 1 FROM resolved1 r WHERE r.k = b.k)
          UNION ALL
          SELECT k, o_orderstatus, price FROM resolved1 WHERE act = 'U'),
        pre AS (
          SELECT s.k, TRUE AS pre_exists,
                 s.o_orderstatus AS pre_status, s.price AS pre_price
          FROM state1 s JOIN rng USING (k)),
        feed AS (
          SELECT r.k,
                 CASE WHEN r.act = 'D' AND p.pre_exists THEN 'D'
                      WHEN r.act = 'U' AND p.pre_exists IS NULL THEN 'I'
                      WHEN r.act = 'U' AND (r.price IS DISTINCT FROM p.pre_price
                             OR r.o_orderstatus IS DISTINCT FROM p.pre_status) THEN 'U'
                 END AS op,
                 r.o_orderstatus, CAST(r.price AS DOUBLE) AS price,
                 p.pre_status, CAST(p.pre_price AS DOUBLE) AS pre_price
          FROM rng r LEFT JOIN pre p USING (k))
        SELECT k, op, o_orderstatus, price, pre_status, pre_price
        FROM feed WHERE op IS NOT NULL"""),
    ),

    // ---- q51: EQUALITY-DELETE read — the third lake delete mechanism,
    //      completing the taxonomy (q41/q43 delete by KEY row images,
    //      q48 by (file, position); Iceberg v2 equality deletes carry
    //      COLUMN VALUES and apply at read time to every matching row
    //      in data files with a LOWER sequence number). Two delete
    //      files exercise both real shapes: seq-2 equality on the row
    //      key (a day's key-targeted deletes, written without knowing
    //      where the rows live — no scan at delete time, which is the
    //      whole point), and seq-4 equality on o_custkey (the GDPR
    //      "erase this customer everywhere" shape — one delete row
    //      fans out to every matching order). The SEQUENCE SCOPING is
    //      the semantics under test: a seq-3 append file resurrects
    //      half the seq-2-deleted keys, and those rows SURVIVE the
    //      key delete (2 < 3 — the delete predates the data) while
    //      still dying to the seq-4 customer erase (3 < 4). An
    //      unscoped anti-join gets every resurrected row wrong. The
    //      read is two chained broadcast anti-joins with the
    //      seq-comparison folded into the join condition: delete
    //      files are day-scale metadata against a lake that never
    //      reshuffles — delete cost stays proportional to deletes,
    //      zero rewrite amplification, and (unlike q48) no per-file
    //      position bookkeeping at write time. Gate: per-(seq, status)
    //      count/sum/key-XOR, so base-vs-appended survivors split
    //      independently and any scoping error lands in a hash. ----
    Q(
      "q51_equality_delete",
      (s, dir) => {
        eqDeleteRead(s, dir).groupBy(col("seq"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            graft.Agg.dsum(col("price")).as("sum_price"),
            bit_xor(graft.pipeline.Portable.md5Long(col("k").cast("string")))
              .as("key_xor"))
      },
      Some(s"""
        WITH base AS (
          SELECT o_orderkey AS k, o_custkey AS c, o_orderstatus,
                 o_totalprice AS price, 1 AS seq
          FROM orders),
        appended AS (
          SELECT k, c, o_orderstatus, price + 50.0 AS price, 3 AS seq
          FROM base WHERE k % 46 = 0),
        data AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        del_k AS (SELECT k, 2 AS dseq FROM base WHERE k % 23 = 0),
        del_c AS (SELECT DISTINCT c, 4 AS dseq FROM base WHERE c % 97 = 0)
        SELECT seq, o_orderstatus, count(*) AS n,
               CAST(sum(CAST(price AS DECIMAL(30,2))) AS DOUBLE) AS sum_price,
               bit_xor(${graft.pipeline.Portable.md5LongSql("CAST(k AS VARCHAR)")}) AS key_xor
        FROM data d
        WHERE NOT EXISTS (
                SELECT 1 FROM del_k WHERE del_k.k = d.k AND d.seq < del_k.dseq)
          AND NOT EXISTS (
                SELECT 1 FROM del_c WHERE del_c.c = d.c AND d.seq < del_c.dseq)
        GROUP BY 1, 2"""),
    ),

    // ---- q52: SNAPSHOT EXPIRY + VACUUM — the lifecycle piece q47's
    //      log checkpoint does not cover: the FILE layer. A CoW lake
    //      is snapshots referencing immutable files; rewrites leave
    //      old files referenced only by old snapshots, and storage is
    //      reclaimed by expiring snapshots below the retention floor
    //      then deleting ORPHANS (files no retained manifest
    //      references). Model: the CDC lake sharded into key-hash
    //      files (fid = k % 251), each log batch CoW-rewriting exactly
    //      the files holding touched keys (file content at (b, f) =
    //      the as-of-b state restricted to f — the one resolution
    //      convention again), manifests as newest-rewrite-≤-v per
    //      file. Expire v0, retain {v1, v2}: live = manifest(1) ∪
    //      manifest(2), orphans = allFiles − live (provably the
    //      v0 files whose fid batch 1 rewrote). The gate reads v1 AND
    //      v2 through the file layer twice — pre-vacuum (all files
    //      present) and post-vacuum (only live files present) — plus
    //      the orphan inventory (count + file-id XOR); the oracle
    //      emits the independently-resolved states under both labels,
    //      so an over-deleting vacuum (a live file removed) splits the
    //      post path's hashes and an under-deleting one splits the
    //      inventory row. At 100 TB: manifests and the file inventory
    //      are metadata (≤ 3·251 entries here; file-count-scale, never
    //      row-scale — every join against them broadcasts), the vacuum
    //      decision never reads data files at all, and reads scan only
    //      the files their manifest names. The retention trade is
    //      explicit: v0 becomes unreadable the moment its exclusive
    //      files go (SnapshotExpirySpec pins exactly which rows die). ----
    Q(
      "q52_snapshot_expiry",
      (s, dir) => {
        // METADATA-PLANE RESOLUTION ON THE DRIVER (round 13): the file
        // inventory is ≤ 3·SnapFidMod rows by construction — exactly
        // the file-count metadata a real table format resolves on the
        // driver (Iceberg's snapshot expiry reads manifests, never
        // data). The previous spelling computed manifests/live/orphans
        // as ~10 tiny shuffle stages UNDER a broadcast build each run
        // (measured ~3 s warm of pure stage latency over ≤753-row
        // frames); pulling the inventory through BoundedCollect and
        // resolving the same algebra in memory leaves the corpus-scale
        // work as ONE broadcast join against the cached batch-tagged
        // states plus a ≤|orphans|-row aggregate.
        val afRows: Seq[(Int, Long)] = graft.BoundedCollect.rows(
            snapAllFiles(s, dir), 3 * SnapFidMod + 3, "q52 file inventory")
          .map(r => (r.getInt(0), r.getLong(1)))
        def manifestOf(v: Int): Set[(Int, Long)] = afRows.filter(_._1 <= v)
          .groupBy(_._2).iterator // iterator: a Map.map of pairs would collapse on the b key
          .map { case (fid, es) => (es.map(_._1).max, fid) }.toSet
        val liveSet = manifestOf(1) ++ manifestOf(2)
        val orphans = afRows.distinct.filterNot(liveSet)
        val allSet = afRows.toSet
        // All four file-layer reads (v ∈ {1,2} × pre/post-vacuum) as
        // ONE broadcast join: label each read's manifest∩present file
        // set with (path, v) and dispatch the batch-tagged cached
        // states through a single (b, fid) join — same row set as four
        // snapRead unions, one broadcast build, one cached scan.
        val fileSetRows = for {
          v <- Seq(1, 2)
          (path, present) <- Seq("pre" -> allSet, "post" -> liveSet)
          (b, fid) <- manifestOf(v) if present((b, fid))
        } yield (path, v, b, fid)
        import s.implicits._
        val fileSets = fileSetRows.toDF("path", "v", "b", "fid")
        val reads = snapStates(s, dir)
          .join(broadcast(fileSets), Seq("b", "fid"))
          .select(col("path"), col("v"), col("o_orderstatus"),
            col("kx"), col("price"))
        val agg = reads.groupBy(col("path"), col("v"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            graft.Agg.dsum(col("price")).as("sum_price"),
            // kx: md5 precomputed once per cached state row, not per
            // (path, v) labeled copy — see snapStates
            bit_xor(col("kx")).as("key_xor"))
        val orph = (if (orphans.isEmpty)
            Seq.empty[(Int, Long)] else orphans).toDF("b", "fid")
          .agg(count(lit(1)).as("n"),
            coalesce(bit_xor(graft.pipeline.Portable.md5Long(
              concat_ws("-", col("b"), col("fid")))), lit(0L)).as("key_xor"))
          .select(lit("orphans").as("path"), lit(0).as("v"),
            lit("*").as("o_orderstatus"), col("n"),
            lit(0.0).as("sum_price"), col("key_xor"))
        agg.unionByName(orph)
      },
      Some(s"""
        WITH $cdcLogCtesSql,
        basefids AS (SELECT DISTINCT k % 251 AS fid FROM base),
        t1 AS (SELECT DISTINCT k % 251 AS fid FROM logs WHERE b = 1),
        t2 AS (SELECT DISTINCT k % 251 AS fid FROM logs WHERE b = 2),
        allfiles AS (
          SELECT 0 AS b, fid FROM basefids
          UNION ALL SELECT 1, fid FROM t1
          UNION ALL SELECT 2, fid FROM t2),
        live AS (
          SELECT fid, max(b) AS b FROM allfiles WHERE b <= 1 GROUP BY fid
          UNION
          SELECT fid, max(b) AS b FROM allfiles WHERE b <= 2 GROUP BY fid),
        orphans AS (
          SELECT b, fid FROM allfiles
          EXCEPT
          SELECT b, fid FROM live),
        resolved1 AS (
          SELECT l.k, max_by(l.act, l.b) AS act,
                 max_by(l.o_orderstatus, l.b) AS o_orderstatus,
                 max_by(l.price, l.b) AS price
          FROM logs l WHERE l.b <= 1 GROUP BY 1),
        resolved2 AS (
          SELECT l.k, max_by(l.act, l.b) AS act,
                 max_by(l.o_orderstatus, l.b) AS o_orderstatus,
                 max_by(l.price, l.b) AS price
          FROM logs l WHERE l.b <= 2 GROUP BY 1),
        state1 AS (
          SELECT b.k, b.o_orderstatus, b.price FROM base b
          WHERE NOT EXISTS (SELECT 1 FROM resolved1 r WHERE r.k = b.k)
          UNION ALL
          SELECT k, o_orderstatus, price FROM resolved1 WHERE act = 'U'),
        state2 AS (
          SELECT b.k, b.o_orderstatus, b.price FROM base b
          WHERE NOT EXISTS (SELECT 1 FROM resolved2 r WHERE r.k = b.k)
          UNION ALL
          SELECT k, o_orderstatus, price FROM resolved2 WHERE act = 'U'),
        reads AS (
          SELECT 1 AS v, k, o_orderstatus, price FROM state1
          UNION ALL
          SELECT 2 AS v, k, o_orderstatus, price FROM state2),
        paths AS (SELECT 'pre' AS path UNION ALL SELECT 'post')
        SELECT p.path, r.v, r.o_orderstatus, count(*) AS n,
               CAST(sum(CAST(r.price AS DECIMAL(30,2))) AS DOUBLE) AS sum_price,
               bit_xor(${graft.pipeline.Portable.md5LongSql("CAST(r.k AS VARCHAR)")}) AS key_xor
        FROM reads r CROSS JOIN paths p GROUP BY 1, 2, 3
        UNION ALL
        SELECT 'orphans', 0, '*', count(*),
               0.0,
               coalesce(bit_xor(${graft.pipeline.Portable.md5LongSql(
                 "CAST(b AS VARCHAR) || '-' || CAST(fid AS VARCHAR)")}), 0)
        FROM orphans"""),
    ),

    // ---- q53: ANALYZE-style column statistics — the table-stats
    //      collection every cost-based optimizer feeds on (row count,
    //      per-column null count, NDV, min/max): the metadata that
    //      decides broadcast-vs-shuffle joins, join order, and skew
    //      handling on a 100 TB cluster. ONE scan computes all five
    //      columns' stats (count/min/max partial-aggregate map-side;
    //      the multi-distinct NDVs share a single Expand), then a
    //      `stack` unpivots the 1-row aggregate into the per-column
    //      stats table — the scan cost is paid once however many
    //      columns are profiled. NDV here is EXACT (the oracle needs a
    //      hashable truth); the documented scale path for high-card
    //      columns is q26's HLL sketch — same plan shape, partial
    //      sketches merged map-side — while low-card NDVs collapse in
    //      the partials either way. Min/max render engine-portably:
    //      timestamps as epoch micros, integral-valued doubles through
    //      a bigint cast — a raw double/timestamp→string cast is
    //      formatting-dependent and would split the hash without any
    //      real divergence. ----
    Q(
      "q53_table_stats",
      (s, dir) => {
        val li = t(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("long").as("l_quantity"),
          col("l_returnflag"),
          unix_micros(col("l_shipdate").cast("timestamp")).as("l_shipdate_us"))
        val cols = Seq("l_orderkey", "l_linenumber", "l_quantity",
          "l_returnflag", "l_shipdate_us")
        // TWO aggregates, not one: min/max(string) carries a
        // variable-length aggregation buffer, which disqualifies
        // HashAggregate — and one string buffer demotes the WHOLE
        // aggregate to SortAggregate, inserting a full Sort of the
        // 6x multi-distinct Expand (measured: 5.4 s warm at sf0.1 vs
        // 0.9 s split). Counts+NDVs (all-numeric buffers, string
        // GROUPING keys are fine) stay in the hash-planned
        // multi-distinct aggregate; min/max fold in a keyless
        // SortAggregate that needs no Sort; the two 1-row results
        // recombine with a trivial join. (Round 13 A/B'd folding the
        // min/max into the multi-distinct aggregate via an
        // ascii()/chr() pack: all-hash plan, ONE scan — but the
        // min/max partial updates then ride every one of the 6×
        // Expand rows and the cell measured ~1.8× SLOWER; the second
        // keyless scan is the cheaper spelling and stays.)
        val cntMeasures = cols.flatMap(c => Seq(
          count(col(c)).as(s"c_$c"),
          countDistinct(col(c)).as(s"d_$c")))
        val mmMeasures = cols.flatMap(c => Seq(
          min(col(c)).cast("string").as(s"mn_$c"),
          max(col(c)).cast("string").as(s"mx_$c")))
        li.agg(count(lit(1)).as("n"), cntMeasures: _*)
          .crossJoin(li.agg(mmMeasures.head, mmMeasures.tail: _*))
          .selectExpr("n",
            s"stack(${cols.length}, " + cols.map(c =>
              s"'$c', c_$c, d_$c, mn_$c, mx_$c").mkString(", ") +
              ") as (col_name, n_notnull, ndv, min_s, max_s)")
          .select(col("col_name"), col("n").as("n_rows"),
            (col("n") - col("n_notnull")).as("n_null"),
            col("ndv"), col("min_s"), col("max_s"))
      },
      Some(s"""
        WITH li AS (
          SELECT l_orderkey, l_linenumber,
                 CAST(l_quantity AS BIGINT) AS l_quantity,
                 l_returnflag, epoch_us(l_shipdate) AS l_shipdate_us
          FROM lineitem)
        SELECT 'l_orderkey' AS col_name, count(*) AS n_rows,
               count(*) - count(l_orderkey) AS n_null,
               count(DISTINCT l_orderkey) AS ndv,
               CAST(min(l_orderkey) AS VARCHAR) AS min_s,
               CAST(max(l_orderkey) AS VARCHAR) AS max_s
        FROM li
        UNION ALL
        SELECT 'l_linenumber', count(*), count(*) - count(l_linenumber),
               count(DISTINCT l_linenumber),
               CAST(min(l_linenumber) AS VARCHAR), CAST(max(l_linenumber) AS VARCHAR)
        FROM li
        UNION ALL
        SELECT 'l_quantity', count(*), count(*) - count(l_quantity),
               count(DISTINCT l_quantity),
               CAST(min(l_quantity) AS VARCHAR), CAST(max(l_quantity) AS VARCHAR)
        FROM li
        UNION ALL
        SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
               count(DISTINCT l_returnflag),
               min(l_returnflag), max(l_returnflag)
        FROM li
        UNION ALL
        SELECT 'l_shipdate_us', count(*), count(*) - count(l_shipdate_us),
               count(DISTINCT l_shipdate_us),
               CAST(min(l_shipdate_us) AS VARCHAR), CAST(max(l_shipdate_us) AS VARCHAR)
        FROM li"""),
    ),

    // ---- q55: RECURSIVE CTE hierarchy walk — Spark 4's WITH
    //      RECURSIVE (UnionLoop) driven through the SQL frontend on a
    //      derived customer tree (parent(c) = c div 10: contiguous
    //      keys make every parent exist, roots are the single-digit
    //      keys). The walk labels every customer with its ROOT
    //      ancestor and DEPTH, then rolls the forest up per root-group
    //      digit — the org-chart/BOM-explosion shape relational
    //      engines need recursion for, exercised end-to-end through
    //      Catalyst's loop operator rather than a hand-unrolled join
    //      chain (p8 unrolls because its iteration count is a tuned
    //      constant; here depth is DATA-dependent and the engine must
    //      find the fixpoint itself). Scale shape: each UnionLoop step
    //      is one distributed hash join of the frontier against the
    //      dimension (frontier rows appear once per level, no path
    //      explosion), depth is log₁₀(maxkey) ≈ 7 at any corpus size,
    //      and the roll-up is map-side-combinable. The oracle runs the
    //      IDENTICAL recursion in DuckDB (`//` for `div`). ----
    Q(
      "q55_recursive_cte",
      (s, dir) => {
        val view = scopedView(s, dir, "customer", "q55")
        s.sql(s"""
          WITH RECURSIVE chain(custkey, root, depth) AS (
            SELECT c_custkey, c_custkey, 0
            FROM $view WHERE c_custkey < 10
            UNION ALL
            SELECT c.c_custkey, ch.root, ch.depth + 1
            FROM $view c JOIN chain ch ON c.c_custkey div 10 = ch.custkey
            WHERE c.c_custkey >= 10)
          SELECT ch.root, max(ch.depth) AS max_depth,
                 count(*) AS n_nodes,
                 CAST(sum(CAST(c.c_acctbal AS DECIMAL(30,2))) AS DOUBLE)
                   AS subtree_bal
          FROM chain ch JOIN $view c ON ch.custkey = c.c_custkey
          GROUP BY ch.root""")
      },
      Some("""
        WITH RECURSIVE chain(custkey, root, depth) AS (
          SELECT c_custkey, c_custkey, 0
          FROM customer WHERE c_custkey < 10
          UNION ALL
          SELECT c.c_custkey, ch.root, ch.depth + 1
          FROM customer c JOIN chain ch ON c.c_custkey // 10 = ch.custkey
          WHERE c.c_custkey >= 10)
        SELECT ch.root, max(ch.depth) AS max_depth,
               count(*) AS n_nodes,
               CAST(sum(CAST(c.c_acctbal AS DECIMAL(30,2))) AS DOUBLE)
                 AS subtree_bal
        FROM chain ch JOIN customer c ON ch.custkey = c.c_custkey
        GROUP BY ch.root"""),
    ),

    // ---- q56: DATA-QUALITY EXPECTATIONS — the dbt-test / Delta-
    //      constraint audit a lake runs before publishing a batch:
    //      five declarative checks (not-null, unique key, referential
    //      integrity, value range, accepted domain) evaluated over the
    //      incoming table and reported as one violations table with an
    //      exact membership receipt (XOR of violating-key hashes — one
    //      mis-flagged row splits it). The fixture POISONS orders with
    //      a constant five-row batch that trips every check (a null
    //      FK, a duplicated new key, an orphan FK, a negative price,
    //      an off-domain status) so the gate exercises detection, not
    //      just clean-table zeros. Checks are INDEPENDENT — one row
    //      can violate several (the injected 'X'-status row also has a
    //      negative price), deliberately unlike t14's first-kill
    //      waterfall: an audit reports everything, a filter funnel
    //      attributes once. Scale shape: the three scalar checks fuse
    //      into ONE corpus scan (conditional aggregation, map-side
    //      combinable); uniqueness is one shuffle on the key;
    //      referential integrity is an anti-join against the
    //      dimension (broadcast at any realistic dimension size). ----
    Q(
      "q56_expectations",
      (s, dir) => {
        import graft.pipeline.Portable.md5Long
        val aug = t(s, dir, "orders").unionByName(s.sql(s"""
          SELECT CAST(k AS BIGINT) AS o_orderkey, CAST(ck AS BIGINT) AS o_custkey,
                 st AS o_orderstatus, CAST(p AS DOUBLE) AS o_totalprice,
                 CAST(d AS TIMESTAMP_NTZ) AS o_orderdate, pr AS o_orderpriority
          FROM VALUES $Q56BadRows AS v(k, ck, st, p, d, pr)"""))
        val key = md5Long(col("o_orderkey").cast("string"))
        def x(cond: org.apache.spark.sql.Column) =
          bit_xor(when(cond, key).otherwise(0L)) // xor-0 identity: nulls never enter
        val scalar = aug.agg(
            sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("v1"),
            x(col("o_custkey").isNull).as("x1"),
            sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L)).as("v2"),
            x(col("o_totalprice") <= 0.0).as("x2"),
            sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L)).as("v3"),
            x(!col("o_orderstatus").isin("O", "F", "P")).as("x3"))
          .select(expr(
            """stack(3,
                 'not_null_custkey', v1, x1,
                 'price_positive',   v2, x2,
                 'status_domain',    v3, x3) AS (check, n_violations, viol_xor)"""))
        val unique = aug.groupBy(col("o_orderkey")).agg(count(lit(1)).as("c"))
          .filter(col("c") > 1)
          .agg(coalesce(sum(col("c")), lit(0L)).as("n_violations"),
            coalesce(bit_xor(md5Long(col("o_orderkey").cast("string"))), lit(0L))
              .as("viol_xor"))
          .select(lit("unique_orderkey").as("check"),
            col("n_violations"), col("viol_xor"))
        val fk = aug.filter(col("o_custkey").isNotNull)
          .join(broadcast(t(s, dir, "customer").select(col("c_custkey"))),
            col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("n_violations"),
            coalesce(bit_xor(md5Long(col("o_orderkey").cast("string"))), lit(0L))
              .as("viol_xor"))
          .select(lit("fk_customer").as("check"),
            col("n_violations"), col("viol_xor"))
        scalar.unionByName(unique).unionByName(fk)
      },
      Some {
        import graft.pipeline.Portable.md5LongSql
        val keyX = md5LongSql("CAST(o_orderkey AS VARCHAR)")
        s"""
        WITH aug AS MATERIALIZED (
          SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
          FROM orders
          UNION ALL
          SELECT CAST(k AS BIGINT), CAST(ck AS BIGINT), st, CAST(p AS DOUBLE)
          FROM (VALUES $Q56BadRows) v(k, ck, st, p, d, pr))
        SELECT 'not_null_custkey' AS "check",
               CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_violations,
               bit_xor(CASE WHEN o_custkey IS NULL THEN $keyX ELSE 0 END) AS viol_xor
        FROM aug
        UNION ALL
        SELECT 'price_positive',
               CAST(sum(CASE WHEN o_totalprice <= 0.0 THEN 1 ELSE 0 END) AS BIGINT),
               bit_xor(CASE WHEN o_totalprice <= 0.0 THEN $keyX ELSE 0 END)
        FROM aug
        UNION ALL
        SELECT 'status_domain',
               CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS BIGINT),
               bit_xor(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN $keyX ELSE 0 END)
        FROM aug
        UNION ALL
        SELECT 'unique_orderkey',
               CAST(coalesce(sum(c), 0) AS BIGINT),
               coalesce(bit_xor(${md5LongSql("CAST(o_orderkey AS VARCHAR)")}), 0)
        FROM (SELECT o_orderkey, count(*) AS c FROM aug GROUP BY 1) g
        WHERE c > 1
        UNION ALL
        SELECT 'fk_customer',
               CAST(count(*) AS BIGINT),
               coalesce(bit_xor($keyX), 0)
        FROM aug
        WHERE o_custkey IS NOT NULL
          AND o_custkey NOT IN (SELECT c_custkey FROM customer)"""
      },
    ),

    // ---- q58: WRITE-AUDIT-PUBLISH — q56's expectation checks wired
    //      into the lake publish lifecycle: two candidate batches are
    //      audited IN ORDER against the published-so-far state (batch
    //      B's uniqueness context includes batch A iff A published),
    //      and a batch lands iff its audit finds ZERO violating rows.
    //      The decision is DATA-DEPENDENT and the oracle recomputes the
    //      same decisions independently instead of trusting hardcoded
    //      ones. Violations here are row-scoped (a row is bad if it
    //      trips any check, incl. key-clash against the published
    //      context and in-batch duplication); q56 stays the per-check
    //      observability table, q58 is the gate that acts on it.
    //      Output: one audit row per batch (count + violating-key XOR)
    //      plus the post-publish table census — a wrongly
    //      published/rejected batch splits both. A NULL o_orderstatus
    //      is not a domain violation in either engine (three-valued
    //      `NOT IN` yields NULL, which neither flags), so it publishes
    //      as its own NULL census group, sorted first; making it a
    //      violation would change the oracle too and is out of scope.
    //
    //      ONE corpus query. The batches are typed literal rows
    //      (`BatchRow`, tens of rows), so they cost no Spark work. All
    //      the audits need from the corpus is which of the ≤|batch|
    //      incoming keys and custkeys already exist, and the census
    //      over pub2 = pub0 ∪ gated batches decomposes exactly into
    //      per-source censuses, because every aggregate is MERGEABLE
    //      per status group — counts add, the DECIMAL(30,2) partial
    //      sums add exactly (decimal addition is associative, so
    //      merging partials then casting to double equals dsum over
    //      the union bit-for-bit), XORs xor. So one query, collected
    //      once (BoundedCollect: the status domain plus the batch
    //      keys), is the union of two aggregates:
    //        - the pub0 census grouped by (status, the key where it is
    //          a batch key): the key probe rides the census' own scan
    //          as an `In` test, so `orders` is read once;
    //        - the `customer` custkeys among the batch custkeys, a
    //          pushed-down `In` filter, so row-group stats can prune.
    //      Each aggregate fuses with its scan; a union under one
    //      aggregate would not (15-20 ms slower per sample on the
    //      sf0.1 bench layout, 2 task threads).
    //      The driver then derives the per-row flags (as the oracle's
    //      SQL does: a NULL custkey is its own violation, never an FK
    //      one), both verdicts, the batch censuses (the money cast is
    //      Spark's own Cast to `Agg.moneyType`; a key's XOR term is
    //      Md5LongKernel's hash of `Long.toString`, which is
    //      md5_long's over the string cast), and which of them merge.
    //      The returned frame is a LOCAL relation — no corpus work
    //      remains at caller-execution time. At 100 TB the census is
    //      one map-side-combined aggregate and the custkey probe is the
    //      key side of a bucketed layout or a key bloom (q49's
    //      machinery). ----
    Q(
      "q58_wap",
      (s, dir) => {
        import graft.pipeline.Portable.md5Long
        import org.apache.spark.sql.Row
        val (ba, bb) = (Q58Clean, Q56Bad)
        val keys = (ba ++ bb).map(_.k).distinct
        val custs = (ba ++ bb).flatMap(_.ck).distinct
        val census = t(s, dir, "orders")
          .groupBy(col("o_orderstatus").as("st"),
            when(col("o_orderkey").isin(keys: _*), col("o_orderkey")).as("k"))
          .agg(count(lit(1)).as("n"), sum(graft.Agg.money(col("o_totalprice"))).as("sumd"),
            bit_xor(md5Long(col("o_orderkey").cast("string"))).as("xr"))
          .withColumn("src", lit("P"))
        val probe = t(s, dir, "customer").filter(col("c_custkey").isin(custs: _*))
          .groupBy(col("c_custkey").as("k")).agg(count(lit(1)).as("n"))
          .withColumn("src", lit("C"))
        val (pub, cust) = graft.BoundedCollect.rows(
          census.unionByName(probe, allowMissingColumns = true)
            .select(col("src"), col("st"), col("k"), col("n"), col("sumd"), col("xr")),
          Q58StatusBound + keys.length + custs.length, "q58 census and probes")
          .partition(_.getString(0) == "P")
        val presentK = pub.filterNot(_.isNullAt(2)).map(_.getLong(2)).toSet
        val presentC = cust.map(_.getLong(2)).toSet
        // a census: status -> (rows, DECIMAL(30,2) sum, key XOR)
        type Cell = (Long, Option[java.math.BigDecimal], Option[Long])
        def both[T](u: Option[T], v: Option[T])(f: (T, T) => T) =
          (for (p <- u; q <- v) yield f(p, q)).orElse(u).orElse(v)
        def add(a: Cell, b: Cell): Cell = (a._1 + b._1, both(a._2, b._2)(_.add(_)), both(a._3, b._3)(_ ^ _))
        def mergeC(a: Map[Option[String], Cell], b: Map[Option[String], Cell]) =
          (a.keySet ++ b.keySet).map(k => k -> (a.get(k) ++ b.get(k)).reduce(add)).toMap
        def kx(k: Long): Long = graft.functions.Md5LongKernel.hashBytes(k.toString.getBytes("UTF-8"))
        val pubC = pub.groupMapReduce(r => Option(r.getString(1)))(r => (r.getLong(3),
          Option(r.getDecimal(4)), Option.when(!r.isNullAt(5))(r.getLong(5))): Cell)(add)
        def batchC(rows: Seq[BatchRow]) = rows.groupMapReduce(r => Option(r.st))(r =>
          (1L, Some(org.apache.spark.sql.catalyst.expressions.Cast(
            org.apache.spark.sql.catalyst.expressions.Literal(r.p), graft.Agg.moneyType(2))
            .eval().asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal),
            Some(kx(r.k))): Cell)(add)
        // per-row flags; only the custkey can be NULL, and a NULL
        // custkey is its own violation, never an FK one
        def baseViol(rows: Seq[BatchRow]): BatchRow => Boolean = {
          val dups = rows.groupBy(_.k).collect { case (k, v) if v.length > 1 => k }.toSet
          r => r.ck.isEmpty || r.p <= 0.0 || !Set("O", "F", "P")(r.st) ||
            dups(r.k) || presentK(r.k) || r.ck.exists(ck => !presentC(ck))
        }
        def verdict(rows: Seq[BatchRow], viol: BatchRow => Boolean): (Long, Long) = {
          val bad = rows.filter(viol)
          (bad.length.toLong, bad.map(r => kx(r.k)).foldLeft(0L)(_ ^ _))
        }
        val (vaN, vaX) = verdict(ba, baseViol(ba))
        val aPublished = vaN == 0L
        // batch B additionally clashes with batch A's keys iff A
        // published (a published A is disjoint from orders by its own
        // clash audit, so the flag composes by OR)
        val aKeys = ba.map(_.k).toSet
        val bViol = baseViol(bb)
        val (vbN, vbX) = verdict(bb, r => bViol(r) || (aPublished && aKeys(r.k)))
        val censusMerged = (Seq(pubC) ++
          (if (aPublished) Seq(batchC(ba)) else Nil) ++
          (if (vbN == 0L) Seq(batchC(bb)) else Nil)).reduce(mergeC)
        // double rendering: java BigDecimal.doubleValue IS Spark's
        // Cast(DecimalType -> Double) (Decimal.toDouble), so the merged
        // sum renders identically to dsum over the union
        val out = new java.util.ArrayList[Row]()
        out.add(Row("audit", "batchA", vaN, 0.0, vaX))
        out.add(Row("audit", "batchB", vbN, 0.0, vbX))
        censusMerged.toSeq.sortBy(_._1).foreach { case (st, (n, sm, xr)) =>
          out.add(Row("published", st.orNull, n,
            sm.map(v => java.lang.Double.valueOf(v.doubleValue)).orNull, xr.map(Long.box).orNull))
        }
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("part",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.StringType, nullable = true),
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("sum_price",
            org.apache.spark.sql.types.DoubleType, nullable = true),
          org.apache.spark.sql.types.StructField("key_xor",
            org.apache.spark.sql.types.LongType, nullable = true)))
        s.createDataFrame(out, schema)
      },
      Some {
        import graft.pipeline.Portable.md5LongSql
        val keyX = md5LongSql("CAST(o_orderkey AS VARCHAR)")
        s"""
        WITH ba AS (
          SELECT CAST(k AS BIGINT) AS o_orderkey, CAST(ck AS BIGINT) AS o_custkey,
                 st AS o_orderstatus, CAST(p AS DOUBLE) AS o_totalprice
          FROM (VALUES $Q58CleanRows) v(k, ck, st, p, d, pr)),
        bb AS (
          SELECT CAST(k AS BIGINT) AS o_orderkey, CAST(ck AS BIGINT) AS o_custkey,
                 st AS o_orderstatus, CAST(p AS DOUBLE) AS o_totalprice
          FROM (VALUES $Q56BadRows) v(k, ck, st, p, d, pr)),
        pub0 AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
        bada AS (
          SELECT o_orderkey FROM ba a
          WHERE a.o_custkey IS NULL OR a.o_totalprice <= 0.0
             OR a.o_orderstatus NOT IN ('O', 'F', 'P')
             OR (a.o_custkey IS NOT NULL
                 AND a.o_custkey NOT IN (SELECT c_custkey FROM customer))
             OR a.o_orderkey IN (SELECT o_orderkey FROM pub0)
             OR a.o_orderkey IN (SELECT o_orderkey FROM ba GROUP BY 1 HAVING count(*) > 1)),
        va AS (SELECT CAST(count(*) AS BIGINT) AS nviol,
                      coalesce(bit_xor($keyX), 0) AS viol_xor FROM bada),
        pub1 AS (SELECT * FROM pub0
                 UNION ALL SELECT * FROM ba WHERE (SELECT nviol FROM va) = 0),
        badb AS (
          SELECT o_orderkey FROM bb b
          WHERE b.o_custkey IS NULL OR b.o_totalprice <= 0.0
             OR b.o_orderstatus NOT IN ('O', 'F', 'P')
             OR (b.o_custkey IS NOT NULL
                 AND b.o_custkey NOT IN (SELECT c_custkey FROM customer))
             OR b.o_orderkey IN (SELECT o_orderkey FROM pub1)
             OR b.o_orderkey IN (SELECT o_orderkey FROM bb GROUP BY 1 HAVING count(*) > 1)),
        vb AS (SELECT CAST(count(*) AS BIGINT) AS nviol,
                      coalesce(bit_xor($keyX), 0) AS viol_xor FROM badb),
        pub2 AS (SELECT * FROM pub1
                 UNION ALL SELECT * FROM bb WHERE (SELECT nviol FROM vb) = 0)
        SELECT 'audit' AS part, 'batchA' AS k, nviol AS n,
               0.0 AS sum_price, viol_xor AS key_xor FROM va
        UNION ALL
        SELECT 'audit', 'batchB', nviol, 0.0, viol_xor FROM vb
        UNION ALL
        SELECT 'published', o_orderstatus, count(*),
               CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE),
               bit_xor($keyX)
        FROM pub2 GROUP BY 2"""
      },
    ),

    // ---- q60: RUNTIME BLOOM-FILTER join pruning — the engine builds
    //      a bloom of the SELECTIVE side's join keys at runtime
    //      (Catalyst's InjectRuntimeFilter) and pushes
    //      `might_contain` into the fact scan, so lineitem rows whose
    //      orders were filtered away never reach the shuffle. This is
    //      the dynamic cousin of q49's PRE-BUILT file blooms: no
    //      layout, no maintenance — the filter materializes per query
    //      from the dimension's predicate (high-value orders here,
    //      ~10% selective). At 100 TB the fact shuffle shrinks ~10x
    //      for one extra dimension-side aggregation; the conf-scoped
    //      child session exists because the default application-side
    //      size gate (10 GB) assumes cluster-scale scans. The plan
    //      property (might_contain in the fact scan's filter,
    //      bloom_filter_agg on the creation side) is PlanSpec-pinned;
    //      the oracle checks the join result is unchanged — a bloom
    //      false positive costs a shuffled row, never a wrong row. ----
    Q(
      "q60_runtime_filter",
      (s, dir) => {
        val s2 = q60Session(s)
        val li = Tables.read(s2, s"$dir/lineitem.parquet")
          .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
        val o = Tables.read(s2, s"$dir/orders.parquet")
          .filter(col("o_totalprice") > HighValueCutoff)
          .select(col("o_orderkey"), col("o_orderstatus"))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity")).as("sum_qty"),
            graft.Agg.dsum(col("l_extendedprice")).as("sum_price"))
      },
      Some(s"""
        SELECT o_orderstatus, count(*) AS n_items,
               CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_price
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_totalprice > $HighValueCutoff
        GROUP BY 1"""),
    ),

    // ---- q61: SCD2 DIMENSION HISTORY — the other consumer of the CDC
    //      log: not "the table as of v" (q43) but the full
    //      slowly-changing-dimension type-2 ledger every warehouse
    //      keeps for dimensions — one row per VERSION with
    //      [valid_from, valid_to) batch intervals, tombstones closing
    //      intervals without opening one, open intervals flagged
    //      current. Built in one pass: base-as-batch-0 ∪ log, a
    //      lead(b) window per key supplies each version's end, 'U'
    //      rows become versions. The contract that makes it SCD2 and
    //      not just a window trick: slicing the ledger at ANY v
    //      (valid_from ≤ v < valid_to) must reproduce asOfState(v)
    //      exactly — Scd2Spec pins all three versions against the
    //      shared resolution convention. Scale shape: one shuffle on
    //      the key, per-key windows over ≤ 1 + |batches| rows; the
    //      ledger is corpus + log sized — the canonical distributed
    //      SCD2 build (no self-join, no per-version scan). ----
    Q(
      "q61_scd2_history",
      (s, dir) => scd2History(s, dir),
      Some(scd2OracleSql),
    ),

    // ---- q57: METADATA-ONLY aggregation — count/min/max answered
    //      from parquet FOOTER statistics, zero data pages read
    //      (PushedAggregation in the scan, PlanSpec-asserted). The
    //      fast path q53's full ANALYZE cannot take (NDV needs the
    //      rows); at 100 TB this is the difference between a
    //      catalog-latency answer and a full-table scan for the
    //      row-count/range probes every planner, UI and freshness
    //      monitor issues constantly. Runs on the DSv2 parquet path
    //      in a scoped child session (see [[q57Session]]) because v1
    //      scans don't implement aggregate pushdown — the kind of
    //      engine-surface detail a library must own so its users
    //      don't. ----
    Q(
      "q57_agg_pushdown",
      (s, dir) =>
        Tables.read(q57Session(s), s"$dir/lineitem.parquet")
          .agg(count(lit(1)).as("n_rows"),
            min("l_quantity").as("qty_min"), max("l_quantity").as("qty_max"),
            min("l_orderkey").as("ok_min"), max("l_orderkey").as("ok_max")),
      Some("""
        SELECT count(*) AS n_rows,
               min(l_quantity) AS qty_min, max(l_quantity) AS qty_max,
               min(l_orderkey) AS ok_min, max(l_orderkey) AS ok_max
        FROM lineitem"""),
    ),

    // ---- q67: SALTED SKEW JOIN — the skew-mitigation technique as a
    //      first-class, oracle-equal operator. A hot join key sends all
    //      its rows to ONE reducer; salting splits the fact side's hot
    //      key across [[SaltBuckets]] sub-keys (a deterministic per-row
    //      salt) and replicates the OTHER side once per salt, so the
    //      join key becomes (key, salt) and no reducer sees more than
    //      1/S of any key's rows. The cost is the ×S replication of the
    //      smaller side; the contract — pinned by the shared oracle —
    //      is that the salted join's result is EXACTLY the plain
    //      join's. This is the manual fallback for the regimes AQE's
    //      skew-join split can't reach (aggregation-after-join keeps
    //      partial aggregation per salt too: the hot key's partials
    //      combine map-side per sub-key before the final merge). The
    //      salt is pmod(murmur3(l_orderkey, l_linenumber), S) — a pure
    //      function of stored data; it never crosses the engine
    //      boundary because the RESULT is salt-invariant (the oracle
    //      equality is the operator's contract).
    //      Benched on the skew fixture beside q5/q59/q60 (the hot
    //      o_custkey head feeds a hot l_orderkey fan-in).
    //      PEDAGOGICAL TWIN (VERDICT r11 item 5): the whole-side ×S
    //      replication is the documented COST of naive salting, not a
    //      production plan — q67b (hot-key-only census salt) is the
    //      production spelling. q67 keeps its full oracle contract under
    //      Verify and its skew-regime cell (the skew pass), but is
    //      `benchHeadline = false`: the headline total must not
    //      pay the uniform ×S tax twice. ----
    Q(
      "q67_salted_join",
      (s, dir) =>
        fullSaltedJoined(s, dir)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            graft.Agg.dsum(col("l_extendedprice")).as("sum_price")),
      Some("""
        SELECT o_orderstatus, count(*) AS n,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_price
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1"""),
      benchHeadline = false,
    ),

    // ---- q67b: HOT-KEY-ONLY SALTING — q67 with the ×S replication tax
    //      confined to keys a frequency census marks hot (VERDICT r10
    //      item 1). q67 replicates the ENTIRE build side ×S; at 100 TB
    //      the tax must land on the skewed minority, so this spelling
    //      splits the build side on a broadcast hot-key census: hot keys
    //      join on (key, hash-salt) exactly like q67, cold keys join on
    //      (key, 0) — a plain join in disguise. On uniform data the hot
    //      set is EMPTY and the whole operator degenerates to the plain
    //      q5-class join (its bench twin pins that equivalence); on the
    //      zipf fixture the head still splits S ways. Same oracle as
    //      q67: the result is salt- and census-invariant, which is the
    //      operator's contract. ----
    Q(
      "q67b_hotkey_salted_join",
      (s, dir) =>
        hotKeySaltedJoined(s, dir)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            graft.Agg.dsum(col("l_extendedprice")).as("sum_price")),
      Some("""
        SELECT o_orderstatus, count(*) AS n,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_price
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1"""),
    ),

    // ---- q68: CUSTOM AGGREGATE — q65's per-source bottom-k computed by
    //      the native `kmv_kth` TypedImperativeAggregate
    //      ([[graft.functions.KmvSketchAgg]]) instead of a row_number
    //      window: ONE ObjectHashAggregate whose buffer IS the ≤k-long
    //      sketch, merged map-side, so the shuffle carries at most k
    //      longs per (partition, source) partial — strictly less
    //      machinery than the WindowGroupLimit route (no per-partition
    //      sort, no rank column) and the library's first custom
    //      AGGREGATE extension (its scalar Expressions are winnow_fp /
    //      md5_long / vec_dot etc.). The oracle is the same rk-window
    //      replay as e27's, so the equality PROVES the aggregate's
    //      insert/merge/eval against an independent spelling. ----
    Q(
      "q68_kmv_agg",
      (s, dir) => {
        val est = kmvEstRaw(col("kth_h"))
        sourceHashes(s, dir)
          .groupBy(col("source"))
          .agg(graft.functions.GraftFunctions.kmvKth(col("h"), KmvK).as("kth_h"))
          .filter(col("kth_h").isNotNull) // thinner-than-k sources drop, q65's rule
          .select(col("source"), col("kth_h"), round(est, 6).as("est_ndv"))
      },
      Some(s"""
        WITH $srcHashCtesSql,
        rk AS (SELECT source, h,
                      row_number() OVER (PARTITION BY source ORDER BY h ASC) AS rk
               FROM hs)
        SELECT source, h AS kth_h,
               round(${KmvK - 1}.0 * 1152921504606846976.0 / h, 6) AS est_ndv
        FROM rk WHERE rk = $KmvK"""),
    ),
  )

  /** q57's DSv2 session: aggregate pushdown lives only on the v2
    * parquet path, so the query runs in a child session with parquet
    * removed from the v1 list and pushdown enabled — scoped THERE so
    * the other 130+ queries' plan contracts (FileSourceScanExec
    * shapes, PlanSpec assertions) never see a global source-path flip.
    * Memoized per (session, corpus-independent): newSession clones
    * session state, cheap but not free in a bench loop.
    */
  private val childSessionCache =
    scala.collection.concurrent.TrieMap.empty[(org.apache.spark.sql.SparkSession, String), org.apache.spark.sql.SparkSession]

  /** Memoized conf-scoped child session (q57/q60): some engine features
    * live behind session confs that must not flip globally — the other
    * 140+ queries' plan contracts would see it. newSession clones
    * session state, cheap but not free in a bench loop, hence memoized
    * per (parent, purpose).
    */
  private def childSession(s: org.apache.spark.sql.SparkSession, key: String,
      confs: (String, String)*): org.apache.spark.sql.SparkSession = {
    childSessionCache.keys.filter(_._1.sparkContext.isStopped)
      .foreach(childSessionCache.remove)
    childSessionCache.getOrElseUpdate((s, key), {
      val s2 = s.newSession()
      confs.foreach { case (k, v) => s2.conf.set(k, v) }
      s2
    })
  }

  private def q57Session(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    childSession(s, "dsv2-pushdown",
      "spark.sql.sources.useV1SourceList" -> "",
      "spark.sql.parquet.aggregatePushdown" -> "true")

  /** q60's session: runtime bloom-filter injection with the two size
    * gates that assume cluster scale lowered to the gate corpus —
    * the 10 GB application-side threshold (the bloom must be worth a
    * scan's I/O), and autoBroadcastJoinThreshold disabled because
    * InjectRuntimeFilter deliberately declines when the creation side
    * is broadcastable-by-size (a broadcast build side already IS the
    * filter). At 100 TB both sides clear these gates naturally; the
    * child session emulates that so the PLAN property is testable.
    */
  private def q60Session(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    childSession(s, "runtime-filter",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** q56's poisoned batch: five constant rows tripping every check —
    * shared verbatim between the Spark VALUES and the oracle VALUES so
    * the two fixtures cannot drift.
    */
  /** q60's creation-side predicate: high-value orders, ~10% of the
    * corpus at every SF (prices are ~uniform on [0, 500k]) — selective
    * enough that Catalyst's likely-selective heuristic injects the
    * runtime filter and the pruning is worth measuring.
    */
  private[graft] val HighValueCutoff = 450000.0

  /** One row of a literal candidate batch (q56, q58): an `orders` row
    * with its date and priority. `sql` is its `VALUES` tuple, which
    * the Spark side of q56 and both oracles parse.
    */
  private[graft] final case class BatchRow(
      k: Long, ck: Option[Long], st: String, p: Double, d: String, pr: String) {
    def sql: String = s"($k, ${ck.getOrElse("NULL")}, '$st', $p, '$d', '$pr')"
  }

  private def valuesSql(rows: Seq[BatchRow]): String = rows.map(_.sql).mkString(",\n            ")

  /** q58's clean candidate batch: fresh keys past any corpus range,
    * existing custkeys, in-domain statuses, positive prices — passes
    * every expectation at every SF.
    */
  private[graft] val Q58Clean: Seq[BatchRow] = Seq(
    BatchRow(910000001L, Some(1L), "O", 10.0, "2024-02-02 00:00:00", "2-HIGH"),
    BatchRow(910000002L, Some(2L), "F", 20.0, "2024-02-02 00:00:00", "2-HIGH"),
    BatchRow(910000003L, Some(3L), "P", 30.0, "2024-02-02 00:00:00", "2-HIGH"))
  private[graft] val Q58CleanRows: String = valuesSql(Q58Clean)

  /** q56's poisoned batch, q58's second candidate: a NULL custkey, a
    * duplicated key, an orphan custkey, an out-of-domain status and a
    * negative price.
    */
  private[graft] val Q56Bad: Seq[BatchRow] = Seq(
    BatchRow(900000001L, None, "O", 100.0, "2024-02-01 00:00:00", "1-URGENT"),
    BatchRow(900000002L, Some(0L), "O", 50.0, "2024-02-01 00:00:00", "1-URGENT"),
    BatchRow(900000002L, Some(0L), "O", 60.0, "2024-02-01 00:00:00", "1-URGENT"),
    BatchRow(900000003L, Some(999999999L), "O", 70.0, "2024-02-01 00:00:00", "1-URGENT"),
    BatchRow(900000004L, Some(1L), "X", -5.0, "2024-02-01 00:00:00", "1-URGENT"))
  private[graft] val Q56BadRows: String = valuesSql(Q56Bad)

  /** q58's bound on its driver-side census groups: the order-status
    * domain.
    */
  private val Q58StatusBound = 64

  /** q38's lake/delta boundary: the last ~7 months of the orders range
    * are the "delta" at every testdata SF (dates span 1995..2001-08).
    */
  private[graft] val IncAggCutoff = "2001-01-01 00:00:00"

  /** q43/q44's shared DuckDB replay prefix: the `mk`/`base`/`logs`
    * CTEs mirroring [[cdcLake]] + [[cdcLogs]]. One definition, so any
    * edit to the feed's moduli or price deltas lands in every
    * consumer's oracle at once (q43 resolves it per version, q44 at
    * the latest version only).
    */
  private[graft] def cdcLogCtesSql: String = s"""mk AS (SELECT max(o_orderkey) AS mx FROM orders),
        base AS (
          SELECT o_orderkey AS k, o_orderstatus, o_totalprice AS price
          FROM orders),
        logs AS (
          SELECT 1 AS b, k, o_orderstatus, price, 'D' AS act
          FROM base WHERE k % 47 = 0
          UNION ALL
          SELECT 1, k, o_orderstatus, price + 100.0, 'U'
          FROM base WHERE k % 20 = 0 AND k % 47 <> 0
          UNION ALL
          SELECT 1, k + mx + 1, o_orderstatus, price, 'U'
          FROM base, mk WHERE k % 31 = 0
          UNION ALL
          SELECT 2, k, o_orderstatus, price, 'D'
          FROM base WHERE k % 59 = 0
          UNION ALL
          SELECT 2, k, o_orderstatus, price + 7.0, 'U'
          FROM base WHERE k % 13 = 0 AND k % 59 <> 0)"""

  /** q48's position-stamped lake: the CDC lake sharded into
    * deterministic synthetic "files" (fid) with each row's rank within
    * its file as the position — the replayable stand-in for a physical
    * per-file row offset. Positions are PER-FILE (the window partitions
    * by fid): a real deployment reads them off the scan for free; the
    * rank exists so both engines derive identical positions over the
    * same parquet (orders keys are unique, so the rank is total).
    */
  private[graft] def lakeWithPositions(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val lake = cdcLake(s, dir).withColumn("fid", pmod(col("k"), lit(8)))
    lake.withColumn("pos",
      row_number().over(Window.partitionBy(col("fid")).orderBy(col("k"))))
  }

  /** q48's deletion vector `(fid, pos)` — the deterministic delete
    * feed: every 97th position in each file plus the first 5 positions
    * of file 0 (a contiguous range, the shape DV bitmaps compress
    * best). Day-scale metadata by construction: |lake|/97 + 5 entries.
    * Takes the ALREADY-positioned lake so the partition-by-fid window
    * executes once per read (a filter over the shared `withPos` frame),
    * not rebuilt from scratch per consumer.
    */
  private[graft] def deletionVector(
      withPos: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    withPos
      .filter(pmod(col("pos"), lit(97)) === 0 || (col("fid") === 0 && col("pos") <= 5))
      .select(col("fid"), col("pos"))

  /** The SCD2 ledger's DuckDB twin — ONE spelling shared by q61 (the
    * window build) and e20 (the streamed maintainer): the two builds
    * must resolve the identical history or the batch/stream contract
    * breaks, so the ground truth must not be able to drift between
    * them (the e11/e12 shared-oracle convention).
    */
  private[graft] def scd2OracleSql: String = s"""
        WITH $cdcLogCtesSql,
        allv AS (
          SELECT 0 AS b, k, o_orderstatus, price, 'U' AS act FROM base
          UNION ALL
          SELECT b, k, o_orderstatus, price, act FROM logs),
        v AS (
          SELECT *, lead(b) OVER (PARTITION BY k ORDER BY b ASC) AS valid_to
          FROM allv)
        SELECT k, b AS valid_from, valid_to, o_orderstatus, price,
               valid_to IS NULL AS is_current
        FROM v WHERE act = 'U'"""

  /** q61's SCD2 ledger: base rows open version [0, …), each log 'U'
    * opens a version at its batch, every next action (U or D) on the
    * key closes the previous version — a single lead(b) window per key
    * ((k, b) is unique: the log feeds are disjoint within a batch).
    * Exposed for Scd2Spec's slice-at-v differential against
    * [[asOfState]].
    */
  /** The SCD2 family's change feed: base rows as batch-0 upserts ∪ the
    * CDC log — ONE definition shared by q61's window build, e20's
    * streamed maintainer and their specs (the cdcLogCtesSql convention:
    * a feed-column edit must land in every consumer at once).
    */
  private[graft] def scd2Input(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    cdcLake(s, dir)
      .select(lit(0).as("b"), col("k"),
        col("o_orderstatus"), col("price"), lit("U").as("act"))
      .unionByName(cdcLogs(s, dir)
        .select(col("b"), col("k"), col("o_orderstatus"), col("price"), col("act")))

  private[graft] def scd2History(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col("k")).orderBy(col("b"))
    scd2Input(s, dir).withColumn("valid_to", lead(col("b"), 1).over(w))
      .filter(col("act") === "U")
      .select(col("k"), col("b").as("valid_from"), col("valid_to"),
        col("o_orderstatus"), col("price"),
        col("valid_to").isNull.as("is_current"))
  }

  /** The CDC family's lake view of orders: `(k, o_orderstatus, price)`.
    * Shared by q41 (copy-on-write merge) and q43 (merge-on-read log +
    * time travel) so both layouts demonstrably serve the same table.
    */
  private[graft] def cdcLake(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderstatus"),
        col("o_totalprice").as("price"))

  /** q41's merged table `(k, o_orderstatus, price)` — the full CoW
    * MERGE: a deterministic changes feed of UPDATES (every 20th key
    * re-priced +100), DELETES (every 47th key tombstoned; delete WINS
    * over update on keys matching both rules — the precedence every
    * CDC consumer must define), and INSERTS (every 31st key re-keyed
    * past the max — deliberately including tombstoned templates: an
    * insert is a NEW row under a NEW key, so delete precedence governs
    * existing keys only; both engines and the spec encode that choice).
    * Surviving changes replace/append against the lake
    * via ONE broadcast anti-join on the full touched-key set (updates ∪
    * tombstones — a day's changes vs the lake, so the 100 TB side never
    * shuffles). Exposed for UpsertSpec's row-level contracts; the Q
    * aggregates it.
    */
  private[graft] def cdcMerged(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val lake = cdcLake(s, dir)
    // one scalar max — index metadata, q37's BoundedCollect shape
    val mx = graft.BoundedCollect.rows(
      lake.agg(max(col("k"))), 1, "q41 max key")(0).getLong(0)
    // delete precedence: a key carrying both an update and a tombstone
    // in one feed must come out DELETED, not re-priced
    val updates = lake
      .filter(pmod(col("k"), lit(20)) === 0 && pmod(col("k"), lit(47)) =!= 0)
      .withColumn("price", col("price") + lit(100.0))
    val tombstones = lake.filter(pmod(col("k"), lit(47)) === 0).select(col("k"))
    val inserts = lake.filter(pmod(col("k"), lit(31)) === 0)
      .withColumn("k", col("k") + lit(mx + 1))
    // one filtered scan for the touched-key set (the union-of-two-scans
    // spelling reads the lake twice under the broadcast)
    val touched = lake
      .filter(pmod(col("k"), lit(20)) === 0 || pmod(col("k"), lit(47)) === 0)
      .select(col("k"))
    // touched is %-rule (corpus-proportional) — gate the hint like
    // mergeResolved; under the cap the lake side never shuffles
    val touchedSide =
      if (cdcLogCount(s, dir) <= MergeBroadcastCap) broadcast(touched) else touched
    updates.unionByName(inserts).unionByName(
      lake.join(touchedSide, Seq("k"), "left_anti"))
  }

  /** q43's append-only change log `(b, k, o_orderstatus, price, act)` —
    * two deterministic batches of full-row-image upserts (`act = 'U'`)
    * and tombstones (`'D'`), at most one action per (batch, key) by
    * construction (the max_by resolution needs no intra-batch
    * tie-break). Batch 1 is exactly q41's feed re-expressed in log
    * form (delete %47, update %20 at +100, insert %31 past the max
    * key); batch 2 tombstones %59 and upserts %13 at +7 — row IMAGES,
    * so a key updated in both batches ends at base+7, not base+107,
    * and a batch-2 upsert of a batch-1-tombstoned key resurrects it.
    * Session-materialized once per corpus: the log is the day-scale
    * side of every as-of read and three version reads must not
    * re-derive it from the lake each time.
    */
  private[graft] def cdcLogs(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    CorpusCache.table(s, dir, "q43.logs") {
      val base = cdcLake(s, dir)
      val mx = graft.BoundedCollect.rows(
        base.agg(max(col("k"))), 1, "q43 max key")(0).getLong(0)
      def entry(b: Int, df: org.apache.spark.sql.DataFrame, act: String) =
        df.select(lit(b).as("b"), col("k"), col("o_orderstatus"), col("price"),
          lit(act).as("act"))
      entry(1, base.filter(pmod(col("k"), lit(47)) === 0), "D")
        .unionByName(entry(1,
          base.filter(pmod(col("k"), lit(20)) === 0 && pmod(col("k"), lit(47)) =!= 0)
            .withColumn("price", col("price") + lit(100.0)), "U"))
        .unionByName(entry(1,
          base.filter(pmod(col("k"), lit(31)) === 0)
            .withColumn("k", col("k") + lit(mx + 1)), "U"))
        .unionByName(entry(2, base.filter(pmod(col("k"), lit(59)) === 0), "D"))
        .unionByName(entry(2,
          base.filter(pmod(col("k"), lit(13)) === 0 && pmod(col("k"), lit(59)) =!= 0)
            .withColumn("price", col("price") + lit(7.0)), "U"))
    }

  /** Merge-on-read "as of version v": resolve each touched key's final
    * action ≤ v with one max_by argmax over the LOG (map-side
    * combinable, log-sized input), then one broadcast anti-join against
    * the frozen lake plus the upserts' row images. v = 0 is the lake
    * itself — no log consulted, no join in the plan. Exposed for
    * TimeTravelSpec's row-level contracts (v=1 must equal q41's
    * copy-on-write merge exactly).
    */
  /** The CDC family's log-resolution convention: latest action per key
    * by batch (`max_by` argmax over the full row image — map-side
    * combinable, log-sized input). ONE spelling shared by [[asOfState]]
    * and [[asOfCheckpointed]]: pre- and post-checkpoint reads must
    * resolve IDENTICALLY or the q47 retention contract breaks, so the
    * convention must not be able to drift between them (round-8
    * review).
    */
  private def resolveLog(log: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    // HASH-AGGREGABLE argmax (round 13): `max_by(struct(act, status,
    // price), b)` carries a struct aggregation buffer, which
    // disqualifies HashAggregate — Spark planned the resolution as
    // SortAggregate and SORTED the whole log on both sides of the
    // exchange. Packing the single-char act/status codes with the
    // batch stamp into one long (b dominates; at most one action per
    // (batch, key) by the feed contract, so no within-b tie exists)
    // and pairing it with a primitive-buffer max_by for the price
    // keeps the identical argmax row while the aggregate stays
    // hash-based with map-side partials — at 100 TB the log is never
    // sorted, only hashed. Contract (documented at cdcLogs): act and
    // o_orderstatus are SINGLE-CHAR values ('U'/'D'; order statuses),
    // which is what makes the ascii()/chr() pack lossless; status
    // NULL encodes as 0 (+1 bias on real chars).
    log.groupBy(col("k"))
      .agg(
        max(col("b").cast("long") * lit(65536L) +
            ascii(col("act")).cast("long") * lit(256L) +
            coalesce(ascii(col("o_orderstatus")).cast("long") + lit(1L), lit(0L)))
          .as("pk"),
        max_by(col("price"), col("b")).as("price"))
      .select(col("k"),
        chr(pmod(shiftright(col("pk"), 8), lit(256L))).as("act"),
        when(pmod(col("pk"), lit(256L)) === 0L, lit(null).cast("string"))
          .otherwise(chr(pmod(col("pk"), lit(256L)) - lit(1L)))
          .as("o_orderstatus"),
        col("price"))

  private[graft] def asOfState(
      s: org.apache.spark.sql.SparkSession, dir: String, v: Int): org.apache.spark.sql.DataFrame = {
    val base = cdcLake(s, dir)
    val state =
      if (v == 0) base
      else mergeResolved(base, resolveLog(cdcLogs(s, dir).filter(col("b") <= v)),
        hintSmall = cdcLogCount(s, dir) <= MergeBroadcastCap)
    state.withColumn("v", lit(v))
  }

  /** The reader's merge of a frozen lake with a RESOLVED action set
    * `(k, act, o_orderstatus, price)` — one action per key: untouched
    * rows anti-join through on the broadcast key set, upserts append
    * their row images, tombstones vanish. ONE definition shared by
    * q43's as-of reads and q44's streamed-compaction twin (and their
    * specs) — the merge convention must not be able to drift between
    * the batch and streaming spellings.
    */
  /** Session-memoized CDC log census per corpus — the size-gate scalar
    * for the merge family's broadcast hints (one tiny count over the
    * materialized log table, then pure map reads).
    */
  private[graft] def cdcLogCount(
      s: org.apache.spark.sql.SparkSession, dir: String): Long =
    CorpusCache(s, dir, "q41.logcount")(cdcLogs(s, dir).count())

  /** Broadcast cap for the merge family's touched-key sides: the log
    * between snapshots is ≪ the lake but CORPUS-PROPORTIONAL (the %-rule
    * feed touches a fixed fraction of keys), so a forced hint has no
    * fallback but driver/executor OOM past the ceiling — the d14
    * defect class, corroborated by the round-10 scale probe (q43's
    * 1→10x exponent measured 1.12, the broadcast build being the
    * super-linear term). Under the cap the 100 TB lake side never
    * shuffles; over it the hint drops and AQE picks the join from
    * runtime sizes (the d5 convention).
    */
  private[graft] val MergeBroadcastCap = 10000000L

  /** q67 salt fan-out: 8 sub-keys caps any reducer at 1/8 of a hot
    * key's rows while the replicated side grows only ×8.
    */
  private val SaltBuckets = 8

  /** q67b hot-key cut: a fact-side join key is HOT when it carries more
    * than this many rows. Uniform TPC-H-ish data tops out at 7 lineitems
    * per order, the skew fixture's zipf head carries ~20% of the corpus
    * — any cut between those regimes identifies exactly the head. The
    * absolute-count shape is what makes the hot SET small by definition
    * (at most |corpus|/HotKeyRows keys can exceed it), hence
    * broadcastable at any corpus size; at 100 TB the census itself runs
    * on a sample (a key hot enough to matter is dense in any sample)
    * with the cut scaled by the sampling rate.
    */
  private[graft] val HotKeyRows = 1000L

  /** q67b census sampling rate: the hot-key census runs on a 1% sample
    * — a key at the [[HotKeyRows]] cut appears ~10 times in expectation
    * (P[absent] ≈ e⁻¹⁰), a cold ≤7-row key essentially never crosses
    * the scaled cut, and the census shuffle shrinks by 100×. The
    * RESULT is census-invariant either way (a missed marginal key just
    * isn't salted), which is why sampling is safe here and is the
    * production spelling at 100 TB.
    */
  private[graft] val CensusRate = 0.01

  /** q67's whole-side salt, up to (not including) the final aggregate:
    * the fact side salts EVERY row by hash, the build side replicates
    * ×S via a broadcast crossJoin.
    */
  private def fullSaltedJoined(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      // hash salt, not pmod(l_linenumber, S): linenumbers are 1..7 in
      // this schema, which would leave bucket 0 permanently empty and
      // cap the split at 7 uneven ways. The salt never crosses the
      // engine boundary (the result is salt-invariant, which is the
      // oracle's whole point), so Spark's codegen'd murmur3 hash is
      // the right spelling: uniform over all S buckets, no md5 cost.
      .withColumn("salt",
        pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(SaltBuckets)))
    val salts = s.range(0, SaltBuckets.toLong)
      .select(col("id").cast("int").as("o_salt"))
    val ord = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"))
      .crossJoin(broadcast(salts)) // ×S replication = the salting cost
    li.join(ord,
        col("l_orderkey") === col("o_orderkey") &&
          col("salt") === col("o_salt"))
      .select(col("l_orderkey"), col("o_orderstatus"), col("l_extendedprice"))
  }

  /** q67b's operator body up to the final aggregate, callable on any
    * corpus dir (the skew differential spec runs it against the zipf
    * fixture, where the salted branch actually carries rows — the
    * uniform oracle corpus exercises only the cold branch). Plan shape:
    * ONE scan of each side. The fact side tags rows hot/cold via the
    * broadcast census and salts hot rows; the build side explodes hot
    * rows into S salted copies and cold rows into one (a per-row array
    * explode — no hot/cold split, no second orders scan, no whole-side
    * crossJoin). Catalyst reuses the single broadcast census exchange
    * across both joins.
    */
  private[graft] def hotKeySaltedJoined(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    // skew census on a sample: map-side-combinable, 1/100th the shuffle;
    // the output above the cut is tiny by the absolute-count argument
    // (at most |corpus|/HotKeyRows keys can exceed it), so it broadcasts
    val hot = li.sample(withReplacement = false, CensusRate, seed = 42)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > HotKeyRows * CensusRate)
      .select(col("l_orderkey").as("hk"))
    val ord = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"))
    // fact side: hot rows get q67's hash salt, cold rows salt 0
    val liTagged = li
      .join(broadcast(hot), col("l_orderkey") === col("hk"), "left")
      .withColumn("salt",
        when(col("hk").isNotNull,
          pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(SaltBuckets)))
          .otherwise(lit(0)))
      .drop("hk")
    // build side: ONLY hot keys pay the ×S replication (q67 replicates
    // the whole side — correct, but at 100 TB the tax must land on the
    // skewed minority); cold rows explode into a 1-element array
    val ordSalted = ord
      .join(broadcast(hot), col("o_orderkey") === col("hk"), "left")
      .withColumn("o_salt",
        explode(when(col("hk").isNotNull,
          sequence(lit(0), lit(SaltBuckets - 1))).otherwise(array(lit(0)))))
      .drop("hk")
    liTagged
      .join(ordSalted,
        col("l_orderkey") === col("o_orderkey") && col("salt") === col("o_salt"))
      .select(col("l_orderkey"), col("o_orderstatus"), col("l_extendedprice"))
  }

  private[graft] def mergeResolved(
      lake: org.apache.spark.sql.DataFrame,
      resolved: org.apache.spark.sql.DataFrame,
      hintSmall: Boolean): org.apache.spark.sql.DataFrame = {
    // hintSmall is deliberately REQUIRED: a defaulted hint let the
    // streaming twin (q44) keep force-broadcasting after the batch
    // spelling was gated — the convention-drift failure this family's
    // docs warn about. Every caller passes the cdcLogCount gate.
    val keys = resolved.select(col("k"))
    lake.join(if (hintSmall) broadcast(keys) else keys, Seq("k"), "left_anti")
      .unionByName(resolved.filter(col("act") === "U")
        .select(col("k"), col("o_orderstatus"), col("price")))
  }

  /** q50's net change feed over (`v1`, `v2`]: the final in-range action
    * per touched key ([[resolveLog]] — the ONE resolution convention),
    * pre-images at `v1` for only those keys, classified I/U/D with
    * no-ops suppressed. The pre-image read costs one as-of-`v1` lake
    * scan restricted through a broadcast of the touched keys — the
    * 100 TB side never shuffles; everything else is log-sized. The
    * classification itself lives in [[changeFeedOf]] so the spec can
    * drive it with crafted resolved/pre frames (the identical-upsert
    * suppression branch has no natural instance in the %-rule feed).
    */
  private[graft] def changeFeed(
      s: org.apache.spark.sql.SparkSession, dir: String,
      v1: Int, v2: Int): org.apache.spark.sql.DataFrame = {
    // materialized: the resolved range actions feed TWO branches (the
    // broadcast key fetch and the classification join) and shared
    // subtrees get no exchange reuse — without this the log max_by
    // runs twice per read
    val rng = CorpusCache.table(s, dir, s"q50.rng$v1-$v2")(
      resolveLog(cdcLogs(s, dir).filter(col("b") > v1 && col("b") <= v2)))
    val rngKeys = rng.select(col("k"))
    // Pre-images from the PHYSICAL as-of-v1 snapshot (round 14 — the
    // same move as q47's checkpointBase): the graft-lake manifest's
    // copy-on-write files ARE the v1 state, so the fetch is one pruned
    // file scan instead of a lake scan + log resolution + anti-join
    // per read; the broadcast key join additionally pushes a runtime
    // IN-filter into the scan, pruning whole fid buckets
    // (SupportsRuntimeFiltering). TimeTravelSpec pins the two reads
    // equal row-level; the q50 oracle replays the v1 state itself.
    val pre = checkpointBase(s, dir, v1)
      // rng ⊆ the log's touched keys: same size-gated hint as the merge
      .join(if (cdcLogCount(s, dir) <= MergeBroadcastCap) broadcast(rngKeys)
            else rngKeys, Seq("k"))
      .select(col("k"), col("o_orderstatus").as("pre_status"),
        col("price").as("pre_price"))
    changeFeedOf(rng, pre)
  }

  /** The change-feed classification: `rng` is the resolved final action
    * per touched key `(k, act, o_orderstatus, price)`, `pre` the
    * pre-images `(k, pre_status, pre_price)` of a SUBSET of those keys
    * (absent = key did not exist at the feed's start). D-of-absent
    * (created and destroyed inside the range) and identical re-upserts
    * emit nothing — the net-effect contract. Existence is an EXPLICIT
    * join-presence flag, never pre_price nullness (the schema permits
    * a NULL price on a live row; only the fixture guarantees
    * otherwise), and image comparison is null-safe for the same
    * reason.
    */
  private[graft] def changeFeedOf(
      rng: org.apache.spark.sql.DataFrame,
      pre: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    // pre is touched-keys-scale by contract: broadcast it explicitly
    // so even the pre-AQE plan never sort-merges (the cached rng's
    // unknown stats would otherwise plan an initial SMJ)
    rng.join(broadcast(pre.withColumn("pre_exists", lit(true))), Seq("k"), "left")
      .withColumn("op",
        when(col("act") === "D" && col("pre_exists").isNotNull, "D")
          .when(col("act") === "U" && col("pre_exists").isNull, "I")
          .when(col("act") === "U" && (!(col("price") <=> col("pre_price"))
            || !(col("o_orderstatus") <=> col("pre_status"))), "U"))
      .filter(col("op").isNotNull)
      .select(col("k"), col("op"), col("o_orderstatus"),
        col("price").cast("double").as("price"),
        col("pre_status"), col("pre_price").cast("double").as("pre_price"))

  /** The physical as-of-`cp` state read straight from the lake layout —
    * q47's compacted base (the log's batches ≤ `cp` folded into a NEW
    * physical base) and q50's pre-image source.
    * Round 14 (VERDICT r13 "Next round" item 2): the
    * fold is no longer re-derived per session through a persisted
    * localCheckpoint — it reads the `graft-lake` layout's as-of-`cp`
    * snapshot, whose per-version manifest names fully-resolved
    * copy-on-write parquet files ([[graft.sources.LakeLayout.ensure]]
    * writes version v's files as exactly `asOfState(v)` through the
    * DSv2 write path, and commit ordering guarantees a manifest never
    * names a half-written batch). That IS the checkpoint artifact: the
    * compacted base is physical, written once on the write side (where
    * Iceberg/Delta pay for checkpoints) and every post-cp read plans
    * against a plain file scan — no per-session fold job, no lineage
    * replay, no cache residency. Equivalence is pinned three ways:
    * TimeTravelSpec (graft-lake as-of == asOfState row-level), the
    * CheckpointSpec retention contract, and q47's own oracle hash
    * (pre path vs post path vs DuckDB's independent replay).
    */
  private[graft] def checkpointBase(
      s: org.apache.spark.sql.SparkSession, dir: String, cp: Int): org.apache.spark.sql.DataFrame = {
    val root = graft.sources.LakeLayout.ensure(s, dir)
    s.read.format("graft-lake")
      .option("path", root).option("asOf", cp.toString).load()
  }

  /** q47's retained log: entries AFTER the checkpoint batch only. The
    * pre-cp entries are shadowed by the compacted base and get dropped —
    * that is the retention: log size is bounded by the window since the
    * last checkpoint, not table history.
    */
  private[graft] def truncatedLog(
      s: org.apache.spark.sql.SparkSession, dir: String, cp: Int): org.apache.spark.sql.DataFrame =
    cdcLogs(s, dir).filter(col("b") > cp)

  /** As-of read at version `v` AGAINST the checkpoint at `cp` — the
    * post-checkpoint twin of [[asOfState]]: same max_by resolution, same
    * [[mergeResolved]] merge, but over (compacted base, truncated log).
    * `v == cp` reads the compacted base directly (no log, no join).
    * Versions below `cp` are retired by retention — reject loudly rather
    * than serve a wrong state.
    */
  private[graft] def asOfCheckpointed(
      s: org.apache.spark.sql.SparkSession, dir: String,
      cp: Int, v: Int): org.apache.spark.sql.DataFrame = {
    require(v >= cp, s"q47: version $v predates checkpoint $cp (retired by retention)")
    val base = checkpointBase(s, dir, cp)
    if (v == cp) base
    else mergeResolved(base, resolveLog(truncatedLog(s, dir, cp).filter(col("b") <= v)),
      hintSmall = cdcLogCount(s, dir) <= MergeBroadcastCap)
  }

  /** q51's data files `(k, c, o_orderstatus, price, seq)`: the orders
    * lake as seq-1 files plus a seq-3 APPEND file re-inserting every
    * 46th key at +50 — deliberately a subset of the seq-2 equality
    * delete's key set (%46 ⊂ %23), so every appended row exists only
    * because sequence scoping protects it.
    */
  private[graft] def eqDataFiles(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val base = t(s, dir, "orders").select(
      col("o_orderkey").as("k"), col("o_custkey").as("c"),
      col("o_orderstatus"), col("o_totalprice").as("price"), lit(1).as("seq"))
    base.unionByName(
      base.filter(pmod(col("k"), lit(46)) === 0)
        .withColumn("price", col("price") + lit(50.0))
        .withColumn("seq", lit(3)))
  }

  /** q51's seq-2 equality-delete file on the row key: every 23rd key,
    * written as VALUES (`dk`) with the file's sequence number — no
    * positions, no scan at delete time. Day-scale metadata.
    */
  private[graft] def eqDeleteKeys(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    t(s, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(23)) === 0)
      .select(col("o_orderkey").as("dk"), lit(2).as("dseq"))

  /** q51's seq-4 equality-delete file on o_custkey — the GDPR "erase
    * this customer" shape: one delete row per erased customer (distinct
    * %97 custkeys) fans out to every matching order at read time,
    * INCLUDING rows appended after the key-delete (3 < 4).
    */
  private[graft] def eqDeleteCusts(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    t(s, dir, "orders")
      .filter(pmod(col("o_custkey"), lit(97)) === 0)
      .select(col("o_custkey").as("dc"), lit(4).as("dseq")).distinct()

  /** The q51 equality-delete READ: two chained broadcast anti-joins,
    * each with the Iceberg scoping rule folded into the join condition —
    * a data row dies to a delete row iff the values match AND the data
    * file's sequence number is strictly below the delete file's. The
    * lake side never reshuffles; both delete sides are broadcast
    * metadata.
    */
  private[graft] def eqDeleteRead(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val data = eqDataFiles(s, dir)
    val delK = eqDeleteKeys(s, dir)
    val afterK = data.join(broadcast(delK),
      data("k") === delK("dk") && data("seq") < delK("dseq"), "left_anti")
    val delC = eqDeleteCusts(s, dir)
    afterK.join(broadcast(delC),
      afterK("c") === delC("dc") && afterK("seq") < delC("dseq"), "left_anti")
  }

  /** q52's file-sharding modulus: prime, and coprime to every CDC feed
    * modulus (%47/%20/%31/%59/%13), so touched keys spread evenly over
    * files instead of aliasing into a subset.
    */
  private[graft] val SnapFidMod = 251

  /** q52's file inventory `(b, fid)` — every file any snapshot ≤ 2 ever
    * referenced: the base shards at batch 0 plus, per log batch, the
    * files its touched keys CoW-rewrote (inserts create their target
    * file if the fid is new — the same max-over-candidates manifest
    * algebra covers both). Metadata-scale by construction (≤ 3·[[SnapFidMod]]
    * rows) and session-materialized: the inventory feeds manifests,
    * the live set, orphans, and four reads in one gate query.
    */
  private[graft] def snapAllFiles(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    CorpusCache.table(s, dir, "q52.files") {
      val baseFids = cdcLake(s, dir)
        .select(pmod(col("k"), lit(SnapFidMod)).as("fid")).distinct()
        .select(lit(0).as("b"), col("fid"))
      val touched = cdcLogs(s, dir)
        .select(col("b"), pmod(col("k"), lit(SnapFidMod)).as("fid")).distinct()
      baseFids.unionByName(touched)
    }

  /** Snapshot v's manifest: per file the NEWEST rewrite ≤ v. */
  private[graft] def snapManifest(
      allFiles: org.apache.spark.sql.DataFrame, v: Int): org.apache.spark.sql.DataFrame =
    allFiles.filter(col("b") <= v).groupBy(col("fid")).agg(max(col("b")).as("b"))

  /** Files any RETAINED snapshot (v1, v2) references — the vacuum's
    * keep set.
    */
  private[graft] def snapLive(
      allFiles: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    snapManifest(allFiles, 1).unionByName(snapManifest(allFiles, 2)).distinct()

  /** The vacuum's DELETE set: inventory minus live — provably the v0
    * files whose fid batch 1 rewrote (SnapshotExpirySpec pins that
    * identity). Anti-join over two metadata-scale frames.
    */
  private[graft] def snapOrphans(
      allFiles: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    allFiles.join(broadcast(snapLive(allFiles)), Seq("b", "fid"), "left_anti")

  /** All three batch states, (b, fid)-tagged, as ONE session-materialized
    * table (file content at (b, f) is the as-of-b state of shard f —
    * [[asOfState]], the one resolution convention). Caching the UNION
    * instead of three per-batch tables lets every file-layer read be a
    * single join against a single cached scan — the round-8 shape
    * (one broadcast per batch per read = 10 serial broadcast builds in
    * the q52 gate) was driver-latency-bound, ~2× the cell's cost.
    */
  private[graft] def snapStates(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    CorpusCache.table(s, dir, "q52.states") {
      (0 to 2).map { b =>
        asOfState(s, dir, b).drop("v")
          .withColumn("fid", pmod(col("k"), lit(SnapFidMod)))
          .withColumn("b", lit(b))
          // kx precomputed INTO the cache (round 13): the q52 gate
          // fans each state row out to up to four (path, v) labels,
          // and hashing at the agg site re-ran md5 per labeled COPY
          // (~4× the state rows, every execution); here it runs once
          // per row at cache build
          .withColumn("kx", graft.pipeline.Portable.md5Long(col("k").cast("string")))
      }.reduce(_ unionByName _)
    }

  /** Read snapshot `v` THROUGH the file layer against the files
    * physically `present`: manifest entries restricted to present
    * files, joined (b, fid) against the batch-tagged states — each
    * state row survives iff the manifest names its exact (batch, file)
    * cell. With all files present this provably equals `asOfState(v)`;
    * after a vacuum it equals it iff no live file was deleted — which
    * is exactly what the gate hashes. One broadcast (file-count
    * metadata) + one cached-states scan per read.
    */
  private[graft] def snapRead(
      s: org.apache.spark.sql.SparkSession, dir: String,
      v: Int, present: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val files = snapManifest(snapAllFiles(s, dir), v)
      .join(present, Seq("b", "fid"), "left_semi")
    snapStates(s, dir)
      .join(broadcast(files), Seq("b", "fid"), "left_semi")
      .drop("fid", "b", "kx")
  }
}
