package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

/** Options of one benchmark run (see `perfbench/run.py`, which builds
  * and launches this main).
  */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    sfDir: String,
    manifest: Path,
    workDir: Path)

/** What a run measured. `endToEnd` and `layers` map a metric name to its
  * value and unit; `notes` are printed for the reader and kept in the
  * result file, never reported as metrics.
  */
final class Report {
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L
}

/** Shared shape of every workload: set up, run a cold pass and the
  * warm-up passes, then time passes for the run's seconds.
  */
trait Workload {
  def name: String
  def cellCount: Int
  /** Untimed warm-up passes after the cold pass; see `perfbench/NOTES.md`. */
  def warmupPasses: Int
  def run(o: Opts, tracer: Tracer, report: Report): Unit

  /** Timed passes: at least ten, and enough that the 90th percentile
    * over all (cell, pass) samples has ten samples above it.
    */
  def minTimedPasses: Int = math.max(10, (100 + cellCount - 1) / cellCount)

  /** The end-to-end metrics every workload reports. `cellMs` holds one
    * sequence of timed samples per cell, one sample a pass.
    */
  def reportEndToEnd(report: Report, setupS: Double, cellMs: Seq[Seq[Double]], liveMb: Double): Unit = {
    val all = cellMs.flatten
    report.endToEnd("setup_s") = (setupS, "s")
    report.endToEnd("pass_s") = (Workload.passS(cellMs), "s")
    report.endToEnd("cell_geomean_ms") = (Stats.geomean(cellMs.map(_.min)), "ms")
    report.endToEnd("cell_p90_ms") = (Stats.quantile(all, 0.9), "ms")
    report.endToEnd("heap_live_mb") = (liveMb, "MB")
    report.endToEnd("ok_ratio") =
      ((report.attempted - report.failed).toDouble / report.attempted.max(1L), "ratio")
    report.notes("samples") =
      s"setup_s n=1, pass_s and cell_geomean_ms over ${cellMs.size} cells " +
        s"of ${cellMs.map(_.size).min}-${cellMs.map(_.size).max} samples, cell_p90_ms n=${all.size} " +
        s"(${all.count(_ > Stats.quantile(all, 0.9))} above), heap_live_mb n=1, " +
        s"fail_ratio=${report.failed}/${report.attempted}"
  }
}

object Workload {
  /** Seconds of one pass in which every cell takes its fastest timed
    * sample. The host's single-thread speed drifts by up to a quarter
    * over seconds to minutes (see `perfbench/NOTES.md`), and a median
    * over a run follows the share of the run the host spent slow; each
    * cell's fastest sample does not, as long as the run sees some fast
    * stretch. A change that slows a cell on every pass shows; one that
    * slows it only on some passes does not.
    */
  def passS(cellMs: Seq[Seq[Double]]): Double = cellMs.map(_.min).sum / 1e3
}

object Main {
  val Workloads: Seq[Workload] = QueryWorkload.all :+ SortKernel

  /** Every per-layer metric name, so each run reports the full set: a
    * layer a workload never calls reads 0.
    */
  def allLayerMetrics: Seq[(String, String)] = {
    val qs = QueryWorkload.all
    val modules = QueryWorkload.Modules.map(_._1)
      .filter(m => qs.exists(_.cells.exists(c => QueryWorkload.moduleOf(c.name)._1 == m)))
    Seq("core.session_s" -> "s", "bench.fixture_s" -> "s") ++
      qs.flatMap(_.prewarms).distinct.map(p => s"$p.prewarm_s" -> "s") ++
      Seq("setup.first_pass_s" -> "s", "setup.warmup_s" -> "s", "jvm.warmup_jit_s" -> "s") ++
      modules.flatMap { m =>
        Seq(s"$m.build_ms" -> "ms", s"$m.build_jobs" -> "count", s"$m.action_ms" -> "ms",
          s"$m.task_ms" -> "ms", s"$m.max_task_share" -> "ratio", s"$m.shuffle_mb" -> "MB")
      } ++
      Seq("spark.jobs" -> "count", "spark.tasks" -> "count", "spark.parallelism" -> "ratio",
        "spark.spill_mb" -> "MB", "cache.storage_mb" -> "MB") ++
      SortKernel.layerMetrics ++
      Seq("jvm.gc_s" -> "s", "jvm.gc_count" -> "count", "jvm.jit_s" -> "s", "trace.pass_s" -> "s")
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      sfDir = need("sf-dir"),
      manifest = Paths.get(need("manifest")),
      workDir = Paths.get(need("work-dir")))
  }

  private def emptyDir(dir: Path): Unit = {
    val kids = Files.list(dir)
    try kids.forEach { k =>
      val all = Files.walk(k)
      try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally all.close()
    }
    finally kids.close()
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = Workloads.find(_.name == o.workload)
      .getOrElse(sys.error(s"unknown workload ${o.workload} (${Workloads.map(_.name).mkString(", ")})"))
    Files.createDirectories(o.workDir)
    // Every run starts from an empty scratch directory: the program
    // memoizes fixtures there, and a warm one would shorten set-up.
    // run.py measures and removes what the run leaves in it.
    val scratch = Paths.get(graft.Scratch.dir)
    Files.writeString(o.workDir.resolve("scratch_dir.txt"), scratch.toString)
    emptyDir(scratch)
    val tracer = new Tracer(o.trace)
    val report = new Report
    val calStart = Jvm.noiseCalMs()
    println(f"[perfbench] host.noise_cal_ms start=$calStart%.1f")
    tracer.span("run")(w.run(o, tracer, report))
    val calEnd = Jvm.noiseCalMs()
    println(f"[perfbench] host.noise_cal_ms end=$calEnd%.1f")
    report.notes("host.noise_cal_ms") = f"start=$calStart%.1f end=$calEnd%.1f"

    val layers = allLayerMetrics.map { case (n, u) => n -> report.layers.getOrElse(n, (0.0, u)) }
    val unknown = report.layers.keySet -- layers.map(_._1)
    require(unknown.isEmpty, s"layer metrics missing from the declared set: ${unknown.mkString(", ")}")
    def metrics(ms: Iterable[(String, (Double, String))]) =
      Json.obj(ms.toSeq.map { case (n, (v, u)) => n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    val result = Json.obj(Seq(
      "correct" -> (report.failed == 0).toString,
      "attempted" -> report.attempted.toString,
      "failed" -> report.failed.toString,
      "end_to_end" -> metrics(report.endToEnd),
      "per_layer" -> metrics(layers),
      "notes" -> Json.obj(report.notes.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "scratch_dir" -> Json.str(graft.Scratch.dir)))
    Files.writeString(o.workDir.resolve("result.json"), result + "\n")
    if (o.trace) {
      val spans = o.workDir.resolve("spans.jsonl")
      tracer.writeJsonl(spans)
      val self = Json.obj(tracer.selfSeconds.map { case (n, s) => n -> Json.num(s) })
      Files.writeString(o.workDir.resolve("self_s.json"), self + "\n")
      println(s"[perfbench] ${tracer.spans.size} spans in $spans; self seconds per span name in self_s.json")
    }
    report.notes.foreach { case (k, v) => println(s"[perfbench] $k: $v") }
    // Spark's non-daemon threads would keep the JVM alive past main
    sys.exit(0)
  }
}
