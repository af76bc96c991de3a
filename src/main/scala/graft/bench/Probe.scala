package graft.bench

import graft.{Q, SparkEntry}

/** Dev-loop probe over exactly what `graft.Bench` times: the `benched`
  * spelling of each cell, in the bench's session, over the bench's
  * layout (`RgFixture.benchDir`, with its split size). A `skew_<q>` cell
  * is `<q>` over `SkewBench.prepare(spark, sfDir)`, the directory the
  * bench's skew pass times. Not part of the driver contract.
  *
  * Usage: `runMain graft.bench.Probe <cell,...|--all> [sfDir] [--explain | --plans <outDir> <tag>]`
  *
  *  - default: warms each cell once at sf0.001 (untimed), then prints
  *    `<cell> iter i: x.xx s` for 3 noop-forced iterations (the lines
  *    `tools/bench_regress.py probe` parses; iteration 1 still pays
  *    session-materialized index builds the bench bills to its prewarm);
  *  - `--explain`: prints each cell's formatted plan instead;
  *  - `--plans <outDir> <tag>`: writes it to `<outDir>/<cell>_<tag>.txt`,
  *    the round's committed plan evidence (`plans/rNN/`): Exchange
  *    counts, join strategies and PushedFilters of the AQE initial plan.
  *
  * `--all` means every headline cell. Exits 1 if any cell failed.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val plansAt = args.indexOf("--plans")
    val plans = Option.when(plansAt >= 0 && plansAt + 2 < args.length)(
      (args(plansAt + 1), args(plansAt + 2)))
    val opts = if (plansAt < 0) args.toSeq else args.take(plansAt).toSeq ++ args.drop(plansAt + 3)
    val explain = opts.contains("--explain")
    val pos = opts.filterNot(_ == "--explain")
    if (pos.isEmpty || pos.size > 2 || (plansAt >= 0 && plans.isEmpty)) {
      System.err.println(
        "usage: Probe <cell,...|--all> [sfDir] [--explain | --plans <outDir> <tag>]")
      sys.exit(2)
    }
    val sfDir = pos.lift(1).getOrElse("/root/testdata/sf0.1")
    val cells =
      if (pos.head == "--all") SparkEntry.inventory.filter(_.benchHeadline).map(_.name)
      else pos.head.split(',').toSeq.filter(_.nonEmpty)

    val spark = graft.Session.local()
    val benchDir = RgFixture.benchDir(spark, sfDir)
    lazy val skewDir = SkewBench.prepare(spark, sfDir)
    def resolve(cell: String): (Q, String) = {
      val name = cell.stripPrefix("skew_")
      val q = SparkEntry.inventory.find(_.name == name)
        .getOrElse(sys.error(s"unknown query $name"))
      (q, if (name == cell) benchDir else skewDir)
    }

    val failed = cells.filterNot { cell =>
      try {
        val (q, dir) = resolve(cell)
        def plan: String = q.benched(spark, dir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        def force(d: String): Unit =
          q.benched(spark, d).write.format("noop").mode("overwrite").save()
        plans match {
          case Some((outDir, tag)) =>
            val out = java.nio.file.Path.of(outDir, s"${cell}_$tag.txt")
            java.nio.file.Files.createDirectories(out.getParent)
            java.nio.file.Files.writeString(out, plan)
            println(s"[probe] wrote $cell")
          case None if explain => println(plan)
          case None =>
            force("/root/testdata/sf0.001")
            for (i <- 1 to 3) {
              val t0 = System.nanoTime()
              force(dir)
              println(f"$cell iter $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
            }
        }
        true
      } catch {
        case e: Throwable =>
          System.err.println(s"[probe] $cell failed: ${e.getMessage}")
          false
      }
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
