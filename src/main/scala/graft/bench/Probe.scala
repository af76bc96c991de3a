package graft.bench

import graft.{Q, SparkEntry}

/** Dev-loop probe over exactly what `graft.Bench` times: each cell run
  * by [[graft.Bench.runCell]] in the bench's session, over the bench's
  * layout (`RgFixture.benchDir`, with its split size) or, for a
  * `skew_<q>` cell, `<q>` over `SkewBench.prepare(spark, sfDir)`; `sfDir`
  * defaults to [[graft.Bench.sfDir]]. Not part of the driver contract.
  *
  * Usage: `runMain graft.bench.Probe <cell,...|--all> [sfDir] [--explain | --plans <outDir> <tag>]`
  *
  *  - default: [[graft.Bench.warm]] over the cells (untimed), then
  *    `<cell> iter i: x.xx s` for 3 runs of each (the lines
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
    val sfDir = pos.lift(1).getOrElse(graft.Bench.sfDir())
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
    if (plans.isEmpty && !explain)
      graft.Bench.warm(spark,
        SparkEntry.inventory.filter(q => cells.exists(_.stripPrefix("skew_") == q.name)))

    val failed = cells.filterNot { cell =>
      try {
        val (q, dir) = resolve(cell)
        def plan: String = q.benched(spark, dir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        plans match {
          case Some((outDir, tag)) =>
            val out = java.nio.file.Path.of(outDir, s"${cell}_$tag.txt")
            java.nio.file.Files.createDirectories(out.getParent)
            java.nio.file.Files.writeString(out, plan)
            println(s"[probe] wrote $cell")
          case None if explain => println(plan)
          case None =>
            for (i <- 1 to 3) {
              val sec = graft.Bench.runCell(spark, q, dir)._1
              require(sec >= 0, "see the [bench] line above")
              println(f"$cell iter $i: $sec%.2f s")
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
