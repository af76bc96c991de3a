package graft.bench

import org.apache.spark.sql.SparkSession

/** Spill-regime sort sweep (VERDICT r11 item 8): the one sort regime
  * neither the reference nor the kernel sweep touches — Spark's own
  * `SortExec` driving `UnsafeExternalSorter` through its SPILL path,
  * which is where a 100-TB shuffle sort actually lives (no executor
  * holds a 100-TB partition's rows; the external sorter's
  * spill-and-merge IS the production sort).
  *
  * Protocol: the generator batch cached on ONE partition,
  * `sortWithinPartitions` over all columns (pure SortExec, no
  * exchange — the closest Spark-exec twin of the kernel sweep's
  * one-batch sort), forced through a noop sink, sizes sweeping ACROSS
  * the spill threshold so the cliff is visible in one curve:
  *
  *  - strategy `ext-spill`: `spark.shuffle.spill.numElementsForceSpillThreshold`
  *    pinned to [[SpillSweep.CapElems]] (128 Ki rows) — every batch
  *    above the cap sorts as k spilled runs + merge, batches below it
  *    sort in memory under the SAME context (the kink between the two
  *    segments is the measured spill cliff).
  *  - strategy `in-memory`: a fresh context with the effectively-unbounded (Int.MaxValue)
  *    threshold — the control curve.
  *
  * The threshold conf is CONTEXT-wide (UnsafeExternalSorter reads
  * SparkEnv.conf, not the session), so the two strategies run in two
  * sequential SparkContexts in one JVM. Timing is whole-action
  * (job-launch ~50 ms floors the small sizes — read the cliff from
  * size-to-size ratios within a strategy, not from the smallest cells;
  * both mean and min ship like every sweep cell). Artifacts land beside
  * the kernel sweep's: `results/<case>-spill.{csv,png}`.
  */
object SpillSweep {
  /** Force-spill cap in elements: inside the swept size range so the
    * same curve shows both regimes (128 Ki — sizes below it match the
    * control, sizes above pay ceil(n/cap) spilled runs + merge).
    */
  val CapElems: Long = 131072L

  val Sizes: Seq[Int] = Seq(65536, 131072, 262144, 524288, 1048576)

  def main(args: Array[String]): Unit = {
    val caseName = args.headOption.getOrElse("mixed-tuple")
    val iters = args.lift(1).map(_.toInt).getOrElse(7)
    val out = sys.env.getOrElse("SPARK_GRAFT_RESULTS_DIR", "results")

    def session(cap: Long): SparkSession = graft.Session.local(contextConf =
      Map("spark.shuffle.spill.numElementsForceSpillThreshold" -> cap.toString))

    def measure(spark: SparkSession, strategy: String): Seq[DataPoint] = {
      val c = graft.datagen.Case.byName(caseName)
      Sizes.map { n =>
        val df = c.df(spark, n).coalesce(1).persist()
        df.count()
        val sorted = df.sortWithinPartitions(df.columns.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
        def once(): Double = {
          val t0 = System.nanoTime()
          sorted.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e3
        }
        once(); once() // JIT/codegen warm per size
        val ts = Seq.fill(iters)(once())
        df.unpersist(blocking = true)
        val p = DataPoint(caseName, n, strategy, iters, ts.sum / ts.size, ts.min)
        System.err.println(f"[spill] $strategy n=$n: min ${p.minUs}%.0f us, mean ${p.avgUs}%.0f us")
        p
      }
    }

    // mem → spill → mem: the three contexts share one JVM, so JIT
    // warmth flows forward — sandwiching the capped context between two
    // control passes and min-merging the controls brackets the warmth
    // confound (a first-context-only control made the BELOW-cap capped
    // cells read 1.5-2× "slower" on pure C2 state, measured this round)
    def pass(cap: Long, strategy: String): Seq[DataPoint] = {
      val s = session(cap)
      try measure(s, strategy) finally s.stop()
    }
    val mem1 = pass(Int.MaxValue.toLong, "in-memory")
    val spill = pass(CapElems, "ext-spill")
    val mem2 = pass(Int.MaxValue.toLong, "in-memory")
    val mem = mem1.zip(mem2).map { case (a, b) =>
      a.copy(avgUs = math.min(a.avgUs, b.avgUs), minUs = math.min(a.minUs, b.minUs))
    }
    val points = spill ++ mem

    import java.nio.file.{Files, Paths}
    Files.createDirectories(Paths.get(out))
    val label = s"$caseName-spill"
    val csv = ("case,batch_size,strategy,iters,avg_us,min_us" +:
      points.map(p =>
        s"${p.caseName},${p.batchSize},${p.strategy},${p.iters}," +
          String.format(java.util.Locale.ROOT, "%.2f,%.2f",
            Double.box(p.avgUs), Double.box(p.minUs))))
      .mkString("\n") + "\n"
    Files.writeString(Paths.get(out, s"$label.csv"), csv)
    Files.write(Paths.get(out, s"$label.png"), PngChart.render(points))
    println(s"[spill] wrote ${points.size} points -> $out/$label.csv (+ .png)")
  }
}
