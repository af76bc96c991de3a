package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only probe (VERDICT r10 item 6, extended r12 per VERDICT r11
  * item 1): the orders⋈lineitem join measured across
  *
  *   fixtures  {uniform, skew (20% head), harsh (60% head × 4× rows)}
  * × variants  {plain, AQE skew-join, full salt (q67), hot-key salt (q67b)}
  * × shapes    {status_agg, key_agg}
  *
  * — the comparison a 100-TB operator owner actually needs. The two
  * downstream SHAPES are the decision matrix's real axis: with the
  * aggregate on a FOREIGN column (status_agg) AQE is free to split the
  * skewed partition, so the built-in skew-join competes with the manual
  * salt; with the aggregate on the JOIN KEY (key_agg) the join's output
  * partitioning feeds the aggregation directly, splitting it would
  * break that contract, and AQE's OptimizeSkewedJoin declines (it
  * refuses to introduce an extra shuffle by default) — the regime where
  * the salt is the only lever. The round-11 matrix showed the 20% head
  * below the pain threshold at local[32]; the harsh fixture exists so
  * the "when does the salt WIN" row is measured, not extrapolated.
  *
  * All variants run in child sessions with
  * `autoBroadcastJoinThreshold = -1`: at the bench SF the orders side
  * fits a broadcast, which would erase the shuffle the whole comparison
  * is about (at 100 TB neither side of an orders⋈lineitem join
  * broadcasts). The AQE variant additionally lowers the skew-split
  * thresholds to engage OptimizeSkewedJoin at bench-scale partition
  * sizes — the same "emulate cluster-scale gates" convention as
  * q60Session. The salted variants keep their explicit broadcast()
  * hints (census + salt table): those ARE the operators.
  *
  * Output: one JSON line per (fixture, shape, variant), min of `iters`
  * adjacent runs, plus a markdown table on stderr for BENCH_NOTES.
  */
object SkewMatrix {

  private def plainJoined(s: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables.t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"))
    val ord = graft.Tables.t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("o_orderstatus"), col("l_extendedprice"))
  }

  /** status_agg: group on a column the join does NOT partition by —
    * downstream needs its own exchange either way, so AQE may re-split
    * the join freely.
    */
  private def aggStatus(df: DataFrame): DataFrame =
    df.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        graft.Agg.dsum(col("l_extendedprice")).as("sum_price"))

  /** key_agg: group on the JOIN KEY — the shuffle-reuse shape (per-key
    * rollups after enrichment joins are the most common pipeline step
    * there is). The plain plan satisfies the aggregation with the
    * join's own partitioning (no second exchange); AQE won't split the
    * skewed partition because that would break the reused partitioning.
    */
  private def aggKey(df: DataFrame): DataFrame =
    df.groupBy(col("l_orderkey"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        graft.Agg.dsum(col("l_extendedprice")).as("sum_price"))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = args.headOption.map(_.toInt).getOrElse(3)
    val spark = graft.Session.local()

    val noBcast = spark.newSession()
    noBcast.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val aqe = spark.newSession()
    aqe.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    aqe.conf.set("spark.sql.adaptive.enabled", "true")
    aqe.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // engage the splitter at bench-scale sizes: a partition is "skewed"
    // past 2x the median AND 512 KB (defaults: 5x / 256 MB — cluster
    // sizes; the fixture's hot partition is ~2 MB at sf0.1, so the
    // cluster defaults never fire here), split target 256 KB
    aqe.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    aqe.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "512k")
    aqe.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256k")

    val joins: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "plain" -> ((s, d) => plainJoined(s, d)),
      "aqe_skewjoin" -> ((_, d) => plainJoined(aqe, d)),
      "salted_full" -> ((s, d) => graft.queries.Advanced.fullSaltedJoined(s, d)),
      "salted_hotkey" -> ((s, d) => graft.queries.Advanced.hotKeySaltedJoined(s, d)),
    )
    val shapes: Seq[(String, DataFrame => DataFrame)] = Seq(
      "status_agg" -> aggStatus,
      "key_agg" -> aggKey,
    )
    def cell(vn: String, shape: DataFrame => DataFrame, d: String): DataFrame = {
      val session = if (vn == "aqe_skewjoin") aqe else noBcast
      shape(joins.find(_._1 == vn).get._2(session, d))
    }

    val skewDir = SkewBench.prepare(spark, sfDir)
    val harshDir = SkewBench.prepareHarsh(spark, sfDir)
    val fixtures = Seq("uniform" -> sfDir, "skew" -> skewDir, "harsh" -> harshDir)

    // JIT warm pass per (variant, shape) at the smallest SF
    joins.foreach { case (vn, _) =>
      shapes.foreach { case (_, sh) =>
        try cell(vn, sh, "/root/testdata/sf0.001")
          .write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => System.err.println(s"[skewmatrix] warm: ${e.getMessage}") }
      }
    }

    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // stamps the host window so two matrix runs are comparable
    println(s"""{"noise_cal_ms":${num(NoiseCal.ms())}}""")
    val results = scala.collection.mutable.LinkedHashMap.empty[(String, String, String), Double]
    fixtures.foreach { case (fn, dir) =>
      shapes.foreach { case (shn, sh) =>
        joins.foreach { case (vn, _) =>
          def once(): Double = {
            System.gc()
            val t0 = System.nanoTime()
            try { cell(vn, sh, dir).write.format("noop").mode("overwrite").save()
              (System.nanoTime() - t0) / 1e9 }
            catch { case e: Throwable =>
              System.err.println(s"[skewmatrix] $fn/$shn/$vn failed: ${e.getMessage}"); -1.0 }
          }
          val ts = Seq.fill(iters)(once()).filter(_ >= 0)
          results((fn, shn, vn)) = if (ts.isEmpty) -1.0 else ts.min
          println(s"""{"fixture":"$fn","shape":"$shn","variant":"$vn","sec":${num(results((fn, shn, vn)))}}""")
        }
      }
    }
    // markdown table for BENCH_NOTES
    System.err.println("| fixture/shape | " + joins.map(_._1).mkString(" | ") + " |")
    System.err.println("|---|" + joins.map(_ => "---|").mkString)
    fixtures.foreach { case (fn, _) =>
      shapes.foreach { case (shn, _) =>
        System.err.println(s"| $fn/$shn | " +
          joins.map { case (vn, _) => num(results((fn, shn, vn))) + " s" }.mkString(" | ") + " |")
      }
    }
    spark.stop()
  }
}
