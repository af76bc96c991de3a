package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import graft.datagen.Case
import graft.sort.{ColumnBatch, ColumnSort, DictCol, MergeStreams, Utf8Col}

/** The reference's experiment: the four cases at 100,000 rows, each sorted
  * by both strategies, on the case's presorted batch and on the same rows
  * shuffled by the seed; plus the k-way merge of 8 sorted runs against a
  * full re-sort for two cases. Every call runs directly on the driver
  * thread, with no SparkSession.
  */
object SortKernel extends Workload {
  val name = "sort_kernel"
  val Rows = 100000
  val Streams = 8
  /** The two cases the merge experiment runs on, as in `graft.Bench`. */
  val MergeCases = Seq("mixed-tuple", "utf8-tuple")
  val Inputs = Seq("presorted", "shuffled")
  val Strategies = Seq("dyn-comparator", "rows-format")
  val MergeStrategies = Seq("kway-merge", "full-resort")
  val Phases = Seq("lexsort", "rowformat", "take", "merge")

  val cellNames: Seq[String] =
    (for (c <- Case.all; i <- Inputs; s <- Strategies) yield s"${c.name}.$i.$s") ++
      (for (c <- MergeCases; s <- MergeStrategies) yield s"merge.$c.$s")
  def cellCount: Int = cellNames.size
  val warmupPasses = 5

  def layerMetrics: Seq[(String, String)] =
    cellNames.map(c => s"sort.${c}_us" -> "us") ++ Phases.map(p => s"sort.${p}_us" -> "us")

  private final case class Input(presorted: ColumnBatch, shuffled: ColumnBatch)

  private def batch(c: Case, rows: IndexedSeq[org.apache.spark.sql.Row]): ColumnBatch =
    ColumnBatch.fromRows(rows, c.schema).dictEncoded(c.dictCols)

  /** Whether two columns hold the same values, row by row. Dictionary
    * codes are batch-local, so they are compared through their strings.
    */
  private def sameColumn(a: AnyRef, b: AnyRef, n: Int): Boolean = (a, b) match {
    case (x: Array[Double], y: Array[Double]) => java.util.Arrays.equals(x, y)
    case (x: Array[Long], y: Array[Long]) => java.util.Arrays.equals(x, y)
    case (x: Utf8Col, y: Utf8Col) =>
      (0 until n).forall(i => java.util.Arrays.equals(x.values(i), y.values(i)))
    case (x: DictCol, y: DictCol) => (0 until n).forall(i => x.dict(x.codes(i)) == y.dict(y.codes(i)))
    case _ => false
  }

  def sameRows(a: ColumnBatch, b: ColumnBatch): Boolean =
    a.numRows == b.numRows && a.cols.length == b.cols.length &&
      a.cols.indices.forall(j => sameColumn(a.cols(j), b.cols(j), a.numRows))

  def run(o: Opts, tracer: Tracer, report: Report): Unit = {
    val inputs = tracer.span("sort.inputs") {
      Case.all.zipWithIndex.map { case (c, k) =>
        val rows = c.rows(Rows)
        val shuffled = new scala.util.Random(o.seed * 31 + k).shuffle(rows)
        c.name -> Input(batch(c, rows), batch(c, shuffled))
      }.toMap
    }
    val runs = MergeCases.map { c =>
      c -> MergeStreams.scatter(inputs(c).presorted, Streams, o.seed)
    }.toMap

    // Traced runs call the public pieces `sortBatch` is made of, so each
    // phase gets its own span; untraced runs call `sortBatch` itself.
    def sort(b: ColumnBatch, rowFormat: Boolean): ColumnBatch =
      if (!o.trace) ColumnSort.sortBatch(b, rowFormat)
      else {
        val idx =
          if (rowFormat) tracer.span("sort.rowformat")(ColumnSort.rowFormatIndices(b))
          else tracer.span("sort.lexsort")(ColumnSort.lexsortIndices(b))
        tracer.span("sort.take")(ColumnSort.take(b, idx))
      }

    val cells: Seq[(String, String, () => ColumnBatch)] = cellNames.map { cell =>
      cell.split('.') match {
        case Array("merge", c, strategy) =>
          val (scattered, offsets) = runs(c)
          val f: () => ColumnBatch =
            if (strategy == "kway-merge") () => {
              val idx = tracer.span("sort.merge")(MergeStreams.mergeRuns(scattered, offsets))
              tracer.span("sort.take")(ColumnSort.take(scattered, idx))
            }
            else () => sort(scattered, rowFormat = false)
          (cell, c, f)
        case Array(c, input, strategy) =>
          val b = if (input == "presorted") inputs(c).presorted else inputs(c).shuffled
          (cell, c, () => sort(b, rowFormat = strategy == "rows-format"))
      }
    }

    final case class SortPass(wallS: Double, us: Seq[Double], jvm: JvmCounts)
    def pass(label: String): SortPass = {
      System.gc()
      val j0 = Jvm.counts()
      val outs = new Array[ColumnBatch](cells.size)
      val us = new Array[Double](cells.size)
      val t0 = System.nanoTime()
      tracer.span("pass", label) {
        cells.zipWithIndex.foreach { case ((cell, _, f), i) =>
          tracer.span("cell", s"$label/$cell") {
            val c0 = System.nanoTime()
            outs(i) = f()
            us(i) = (System.nanoTime() - c0) / 1e3
          }
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val jvm = Jvm.counts() - j0
      System.err.println(f"[perfbench] $label $wall%.4f s: " +
        cells.indices.map(i => f"${cells(i)._1}=${us(i) / 1e3}%.3f").mkString(" "))
      // checked after the pass, outside its timing
      cells.zipWithIndex.foreach { case ((cell, c, _), i) =>
        report.attempted += 1
        if (!sameRows(outs(i), inputs(c).presorted)) {
          report.failed += 1
          System.err.println(s"[perfbench] WRONG RESULT $cell in $label: differs from the presorted batch")
        }
      }
      SortPass(wall, us.toSeq, jvm)
    }

    val first = tracer.span("setup.first_pass")(pass("first"))
    val warmups = tracer.span("setup.warmup") {
      (1 to warmupPasses).map(i => pass(s"warmup$i"))
    }
    val setupS = Jvm.uptimeS
    val timed = ArrayBuffer.empty[SortPass]
    val t0 = System.nanoTime()
    while (timed.size < minTimedPasses || (System.nanoTime() - t0) / 1e9 < o.seconds)
      timed += pass(s"timed${timed.size + 1}")
    val liveMb = Jvm.liveHeapMb()

    val cellMs = cells.indices.map(i => timed.map(_.us(i) / 1e3).toSeq)
    reportEndToEnd(report, setupS, cellMs, liveMb)
    def fmt(ps: Seq[SortPass]) = ps.map(p => f"${p.wallS}%.3f/${p.jvm.jitMs / 1e3}%.2f").mkString(" ")
    report.notes("pass wall_s/jit_s, cold then warm-up") = fmt(first +: warmups)
    report.notes("pass wall_s/jit_s, timed") = fmt(timed.toSeq)
    if (o.trace) {
      val l = report.layers
      cells.zipWithIndex.foreach { case ((cell, _, _), i) => l(s"sort.${cell}_us") = (cellMs(i).min * 1e3, "us") }
      // phase totals per timed pass, from the spans inside timed passes
      val timedPass = tracer.spans.filter(s => s.name == "pass" && s.cell.startsWith("timed")).map(_.id).toSet
      val cellOf = tracer.spans.filter(s => s.name == "cell" && timedPass(s.parent)).map(_.id).toSet
      Phases.foreach { p =>
        val ns = tracer.spans.filter(s => s.name == s"sort.$p" && cellOf(s.parent)).map(_.ns).sum
        l(s"sort.${p}_us") = (ns / 1e3 / timed.size, "us")
      }
      tracer.spans.filter(_.name.startsWith("setup.")).foreach(s => l(s.name + "_s") = (s.ns / 1e9, "s"))
      l("jvm.warmup_jit_s") = (warmups.map(_.jvm.jitMs).sum / 1e3, "s")
      l("jvm.gc_s") = (Stats.median(timed.map(_.jvm.gcMs / 1e3).toSeq), "s")
      l("jvm.gc_count") = (Stats.median(timed.map(_.jvm.gcCount.toDouble).toSeq), "count")
      l("jvm.jit_s") = (Stats.median(timed.map(_.jvm.jitMs / 1e3).toSeq), "s")
      l("trace.pass_s") = (Workload.passS(cellMs), "s")
    }
  }
}
