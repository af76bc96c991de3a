package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.Q

/** A benchmark cell and the reason it is in its workload. */
final case class Cell(name: String, why: String)

/** One (pass, cell) run. Counts are the zero value in untraced runs. */
final case class CellRun(
    cell: String, module: String, ms: Double, buildMs: Double, actionMs: Double,
    build: Counts, action: Counts)

/** One pass: wall time, its cell runs, and its engine and JVM deltas. */
final case class PassRun(wallS: Double, cells: Seq[CellRun], engine: Counts, jvm: JvmCounts)

/** A query workload: one client in a closed loop over registry cells in
  * one local session, over the bench's multi-file relayout of the
  * corpus. The seed fixes the cell order, the same in every pass.
  */
final case class QueryWorkload(
    name: String,
    cells: Seq[Cell],
    prewarms: Seq[String],
    warmupPasses: Int) extends Workload {

  def cellCount: Int = cells.size

  private val NoCounts = Counts(0, 0, 0, 0, 0, 0)

  def run(o: Opts, tracer: Tracer, report: Report): Unit = {
    val expected = QueryWorkload.manifest(o.manifest, o.sfDir)
    val byName = QueryWorkload.moduleOf
    val order = new scala.util.Random(o.seed).shuffle(cells.map(_.name))
    order.foreach { c =>
      require(byName.contains(c), s"$name: no registry cell $c")
      require(expected.contains(c), s"$name: $c has no row count in ${o.manifest}")
    }
    println(s"[perfbench] $name cell order: ${order.mkString(" ")}")

    val spark = tracer.span("core.session")(QueryWorkload.session(o))
    val counters = new EngineCounters
    if (o.trace) spark.sparkContext.addSparkListener(counters)
    def snap(): Counts = if (o.trace) counters.snapshot(spark.sparkContext) else NoCounts

    val dir = tracer.span("bench.fixture")(graft.bench.RgFixture.prepare(spark, o.sfDir))
    prewarms.foreach { p =>
      tracer.span(s"$p.prewarm")(QueryWorkload.Prewarms.toMap.apply(p)(spark, dir))
    }

    def runCell(pass: String, q: Q, module: String): CellRun =
      tracer.span("cell", s"$pass/${q.name}") {
        report.attempted += 1
        val c0 = snap()
        val t0 = System.nanoTime()
        try {
          val df = tracer.span(s"$module.build")(q.benched(spark, dir))
          val t1 = System.nanoTime()
          val c1 = snap()
          val obs = Observation()
          tracer.span(s"$module.action") {
            df.observe(obs, count(lit(1)).as("n_rows")).write.format("noop").mode("overwrite").save()
          }
          val t2 = System.nanoTime()
          val c2 = snap()
          val rows = obs.get("n_rows").asInstanceOf[Long]
          if (rows != expected(q.name)) {
            report.failed += 1
            System.err.println(s"[perfbench] WRONG RESULT ${q.name} in $pass: $rows rows, " +
              s"manifest ${expected(q.name)}")
          }
          CellRun(q.name, module, (t2 - t0) / 1e6, (t1 - t0) / 1e6, (t2 - t1) / 1e6, c1 - c0, c2 - c1)
        } catch {
          case e: Throwable =>
            report.failed += 1
            System.err.println(s"[perfbench] ${q.name} in $pass failed: $e")
            CellRun(q.name, module, (System.nanoTime() - t0) / 1e6, 0, 0, NoCounts, NoCounts)
        }
      }

    def pass(label: String): PassRun = {
      System.gc() // the previous pass's garbage is not billed to this one
      val j0 = Jvm.counts()
      val c0 = snap()
      val g0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount
      val t0 = System.nanoTime()
      val runs = tracer.span("pass", label)(order.map { c =>
        val (module, q) = byName(c)
        runCell(label, q, module)
      })
      val wall = (System.nanoTime() - t0) / 1e9
      val gen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount - g0
      System.err.println(f"[perfbench] $label $wall%.3f s: " + runs.map(r => f"${r.cell}=${r.ms}%.0f").mkString(" ") +
        s" codegen=$gen")
      PassRun(wall, runs, snap() - c0, Jvm.counts() - j0)
    }

    val first = tracer.span("setup.first_pass")(pass("first"))
    val warmups = tracer.span("setup.warmup") {
      (1 to warmupPasses).map(i => pass(s"warmup$i"))
    }
    val setupS = Jvm.uptimeS
    val timed = ArrayBuffer.empty[PassRun]
    val t0 = System.nanoTime()
    while (timed.size < minTimedPasses || (System.nanoTime() - t0) / 1e9 < o.seconds)
      timed += pass(s"timed${timed.size + 1}")
    val storageMb = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    val liveMb = Jvm.liveHeapMb()

    val cellMs = order.map(c => timed.map(_.cells.find(_.cell == c).get.ms).toSeq)
    reportEndToEnd(report, setupS, cellMs, liveMb)
    QueryWorkload.passSeries(report, first +: warmups, timed.toSeq)
    if (o.trace) {
      val l = report.layers
      tracer.spans.filter(_.parent >= 0).groupBy(_.name).foreach { case (n, ss) =>
        if (n == "core.session" || n == "bench.fixture" || n.endsWith(".prewarm") || n.startsWith("setup."))
          l(n + "_s") = (ss.map(_.ns).sum / 1e9, "s")
      }
      l("jvm.warmup_jit_s") = (warmups.map(_.jvm.jitMs).sum / 1e3, "s")
      def med(f: PassRun => Double) = Stats.median(timed.map(f).toSeq)
      timed.head.cells.map(_.module).distinct.foreach { m =>
        def mine(p: PassRun) = p.cells.filter(_.module == m)
        l(s"$m.build_ms") = (med(mine(_).map(_.buildMs).sum), "ms")
        l(s"$m.build_jobs") = (med(mine(_).map(_.build.jobs.toDouble).sum), "count")
        l(s"$m.action_ms") = (med(mine(_).map(_.actionMs).sum), "ms")
        l(s"$m.task_ms") = (med(mine(_).map(_.action.taskMs.toDouble).sum), "ms")
        l(s"$m.max_task_share") = (med { p =>
          val task = mine(p).map(_.action.taskMs).sum
          if (task == 0) 0.0 else mine(p).map(_.action.maxTaskMs).max.toDouble / task
        }, "ratio")
        l(s"$m.shuffle_mb") = (med(mine(_).map(_.action.shuffleBytes).sum / 1048576.0), "MB")
      }
      l("spark.jobs") = (med(_.engine.jobs.toDouble), "count")
      l("spark.tasks") = (med(_.engine.tasks.toDouble), "count")
      l("spark.parallelism") =
        (med(p => p.cells.map(_.action.taskMs).sum / p.cells.map(_.actionMs).sum.max(1e-9)), "ratio")
      l("spark.spill_mb") = (med(_.engine.spillBytes / 1048576.0), "MB")
      l("cache.storage_mb") = (storageMb, "MB")
      l("jvm.gc_s") = (med(_.jvm.gcMs / 1e3), "s")
      l("jvm.gc_count") = (med(_.jvm.gcCount.toDouble), "count")
      l("jvm.jit_s") = (med(_.jvm.jitMs / 1e3), "s")
      l("trace.pass_s") = (Workload.passS(cellMs), "s")
      report.notes("spark.jobs per timed pass") = timed.map(_.engine.jobs).mkString(" ")
      report.notes("build_jobs per timed pass") = timed.map(_.cells.map(_.build.jobs).sum).mkString(" ")
    }
    spark.stop()
  }
}

object QueryWorkload {
  /** Registry modules, named after their packages: the unit the per-layer
    * construction and action metrics are reported by.
    */
  val Modules: Seq[(String, Seq[Q])] = Seq(
    "queries.Canary" -> graft.queries.Canary.all,
    "queries.Relational" -> graft.queries.Relational.all,
    "queries.Advanced" -> graft.queries.Advanced.all,
    "sources.Layout" -> graft.sources.Layout.all,
    "sources.Ingest" -> graft.sources.Ingest.all,
    "pipeline.Dedup" -> graft.pipeline.Dedup.all,
    "pipeline.Similarity" -> graft.pipeline.Similarity.all,
    "pipeline.Text" -> graft.pipeline.Text.all,
    "pipeline.Curation" -> graft.pipeline.Curation.all,
    "pipeline.Events" -> graft.pipeline.Events.all,
    "multimodal.Multimodal" -> graft.multimodal.Multimodal.all,
    "streaming.StreamTwins" -> graft.streaming.StreamTwins.all)

  /** Module and query of every registry cell, by name. */
  lazy val moduleOf: Map[String, (String, Q)] =
    Modules.flatMap { case (m, qs) => qs.map(q => q.name -> (m, q)) }.toMap

  /** Index builds the pipeline cells read, run in set-up. */
  val Prewarms: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "pipeline.Dedup" -> graft.pipeline.Dedup.prewarmIndexes _,
    "pipeline.Text" -> graft.pipeline.Text.prewarmIndexes _,
    "multimodal" -> graft.multimodal.Multimodal.prewarmIndexes _)

  /** Relational, lake and LLM-pipeline cells in one session. Chosen
    * for cost as much as coverage: the cells span ten registry modules,
    * and a pass takes about 3.5 s, so that a run, with its fixture,
    * prewarm, cold pass and warm-ups, fits the benchmark's time budget.
    */
  val OlapLlm = QueryWorkload(
    "olap_llm",
    Seq(
      Cell("qc12_full_join", "canary full join over literals: the per-job latency floor"),
      Cell("qc5_empty_frame", "canary window over an empty frame: planning and latency only"),
      Cell("qc7_epoch_us", "canary epoch arithmetic over the events timestamp ladder"),
      Cell("qc2_mod_sign", "canary modulo and sign rules: per-job latency"),
      Cell("qc1_hex_cast", "canary hex casts: per-job latency"),
      Cell("qc4_sum_typing", "canary integer-sum typing: a tiny aggregate"),
      Cell("qc9_text_norm", "canary text normalisation: string expressions"),
      Cell("qc10_edit_dist", "canary edit distance: a string UDF"),
      Cell("qc11_list_index", "canary list indexing: array expressions"),
      Cell("qc6_floor_sqrt", "canary floor and sqrt: numeric expressions"),
      Cell("q2_filter_project", "scan, filter and project over lineitem: the split geometry"),
      Cell("q10_topk", "top-k over a shuffled aggregate"),
      Cell("q15_string_funcs", "string functions over a scan: expression evaluation"),
      Cell("q20_lexsort", "multi-column ORDER BY: the engine's own sort"),
      Cell("q57_agg_pushdown", "aggregate under a join: partial aggregation"),
      Cell("q58_wap", "write-audit-publish: about 22 eager construction jobs"),
      Cell("q34_partition_prune", "partition pruning over a layout written in the cold pass"),
      Cell("q40_jsonl_ingest", "JSON-lines ingest: a write, then a parse-heavy read"),
      Cell("d3b_lsh_pairs", "LSH candidate pairs over the prewarmed shingle index"),
      Cell("s1_knn_brute", "brute-force k-NN over the embeddings"),
      Cell("t4_fingerprint", "document fingerprints: a hash aggregate over text"),
      Cell("t6_bigram_lm", "bigram LM over the prewarmed bigram table"),
      Cell("p4_split_assign", "deterministic train/test split assignment"),
      Cell("e1_hourly_window", "hourly tumbling-window aggregate over events"),
      Cell("m7_resize_neardup", "near-dups over the prewarmed canonical thumbnails")),
    prewarms = Prewarms.map(_._1),
    warmupPasses = 2)

  val all: Seq[QueryWorkload] = Seq(OlapLlm)

  /** The session geometry of `graft.Bench` (shuffle partitions = task
    * threads, 4 MB splits, scratch on `graft.Scratch.dir`) with two
    * changes for steady timings:
    *  - two task threads, leaving the other cores to the driver thread,
    *    the JIT and the GC. The cells are latency-bound (task time over
    *    action time is about 1), and on a 4-core host `local[4]` made
    *    passes 25% slower and their spread between runs 2-3 times wider
    *    than `local[2]`;
    *  - a code-generation cache that holds every cell's generated
    *    classes. At Spark's default of 100 entries a pass over the
    *    workload evicts its own classes, so every pass recompiles them
    *    and the JIT never settles.
    */
  def session(o: Opts): SparkSession = {
    val cores = math.min(2, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", graft.Scratch.dir)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.warehouse.dir", o.workDir.resolve("warehouse").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Row count per cell from the committed cardinality manifest, which
    * must be tagged with the corpus being read.
    */
  def manifest(path: java.nio.file.Path, sfDir: String): Map[String, Long] = {
    val lines = scala.jdk.CollectionConverters.ListHasAsScala(java.nio.file.Files.readAllLines(path)).asScala
    val tag = lines.collectFirst { case l if l.startsWith("# sf=") => l.drop(5) }
    val sf = new java.io.File(sfDir).getName
    require(tag.contains(sf), s"manifest $path is for ${tag.getOrElse("?")}, corpus is $sf")
    lines.filterNot(_.startsWith("#")).map(_.split('\t')).collect {
      case Array(n, c) => n -> c.toLong
    }.toMap
  }

  /** Wall and JIT seconds of every pass: the evidence for the warm-up count. */
  def passSeries(report: Report, setup: Seq[PassRun], timed: Seq[PassRun]): Unit = {
    def fmt(ps: Seq[PassRun]) = ps.map(p => f"${p.wallS}%.3f/${p.jvm.jitMs / 1e3}%.2f").mkString(" ")
    report.notes("pass wall_s/jit_s, cold then warm-up") = fmt(setup)
    report.notes("pass wall_s/jit_s, timed") = fmt(timed)
  }
}
