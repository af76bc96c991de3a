package graft.bench

import graft.datagen.Case
import graft.sort.{ColumnBatch, ColumnSort}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

import java.nio.file.{Files, Paths}

/** One measured point of the sweep (reference `DataPoint`,
  * `src/lib.rs:88-93`).
  */
final case class DataPoint(
    caseName: String,
    batchSize: Int,
    strategy: String, // "dyn-comparator" | "rows-format" | merge-cell strategies
    iters: Int,
    /** µs to sort one batch — the MEAN over `iters` byte-identical runs,
      * the reference's published statistic (`src/main.rs:57-70` averages
      * 50 iterations), so cross-engine chart/CSV comparisons are
      * like-for-like. On a noisy container the mean absorbs co-tenant
      * interference; [[minUs]] carries the noise-robust twin.
      */
    avgUs: Double,
    /** µs to sort one batch — the MIN over the same runs: the standard
      * microbenchmark estimator for byte-identical iterations (anything
      * above the min is co-tenant CPU interference, measured 2.1×
      * same-code windows on this host). Rounds ≤8 reported ONLY this
      * under the `avg_us` name; both now ship side by side.
      */
    minUs: Double,
)

/** The reference's benchmark sweep harness (`src/main.rs:23-73`,
  * `runall.sh:1-8`) rebuilt for Spark.
  *
  * CLI (same flags/defaults as the reference's clap parser,
  * `src/main.rs:5-21`):
  * {{{
  * runMain graft.bench.SortSweep --begin 250 --end 100000 \
  *   [--case mixed-tuple] [--step-size 500] [--iters 50] [--out results]
  * }}}
  *
  * Timing methodology. The reference times ONE operation: sorting a single
  * already-materialized in-memory batch, with data generation outside the
  * timed region (`src/main.rs:42-55`). A Spark *action* per measurement
  * cannot reproduce that protocol here: local job-launch overhead is
  * ~50 ms/job in this environment — 20× the entire workload. So the sweep
  * measures **inside one Spark task** (`mapPartitions` over the cached
  * single-partition batch): the rows are materialized to a
  * [[graft.sort.ColumnBatch]] (the RecordBatch analog, dictionary-encoded
  * where the case says so), then each strategy's [[graft.sort.ColumnSort]]
  * kernel is timed over `iters` iterations after JIT warm-up, each
  * iteration sorting the same byte-identical batch into a fresh one —
  * mirroring the reference's per-iteration regenerated batch.
  *
  *  - dyn-comparator (strategy A, `src/lib.rs:33-34`):
  *    `ColumnSort.lexsortIndices`, the per-column comparator chain of
  *    Arrow's `lexsort_to_indices`, then `take`.
  *  - rows-format (strategy B, `src/lib.rs:35-53`):
  *    `ColumnSort.rowFormatIndices`, ordered by the memcmp normalized
  *    key, then `take`. Both strategies sort on a packed leading key
  *    first; row format encodes the full key only for rows whose packed
  *    keys tie, per call (nothing is cached between calls). The
  *    reference's `RowConverter` encodes every row up front, so its
  *    encode cost (BASELINE.md) has no counterpart here.
  */
object SortSweep {

  def main(args: Array[String]): Unit = {
    val opt = parseArgs(args)
    val spark = graft.Session.local()

    val points = sweep(spark, opt)

    Files.createDirectories(Paths.get(opt.out))
    val label =
      if (opt.merge) s"${opt.caseName}-merge"
      else if (opt.parquet) s"${opt.caseName}-parquet"
      else opt.caseName
    val csvPath = Paths.get(opt.out, s"$label.csv")
    val csv = ("case,batch_size,strategy,iters,avg_us,min_us" +:
      points.map(p =>
        s"${p.caseName},${p.batchSize},${p.strategy},${p.iters},"
          // Locale.ROOT: a comma-decimal default locale would corrupt the CSV
          + String.format(java.util.Locale.ROOT, "%.2f,%.2f",
            Double.box(p.avgUs), Double.box(p.minUs))))
      .mkString("\n") + "\n"
    Files.writeString(csvPath, csv)
    Files.write(Paths.get(opt.out, s"$label.png"), PngChart.render(points))
    println(s"[sweep] wrote ${points.size} points -> $csvPath (+ .png)")
    spark.stop()
  }

  final case class Opt(
      caseName: String = "mixed-tuple", // reference default, src/main.rs:7-8
      begin: Int = 250,
      end: Int = 100000,
      stepSize: Int = 500,
      iters: Int = 50, // reference default, src/main.rs:19-21
      out: String = "results",
      /** Materialize the batch through a dictionary-encoded parquet round
        * trip instead of the in-memory generator (SURVEY §7.3) — the
        * storage-side twin of the reference's `DictionaryArray` input.
        */
      parquet: Boolean = false,
      /** Measure the `<case>-merge` cell family (merge-of-sorted-streams
        * vs full re-sort — [[measureMerge]]) instead of the two sort
        * strategies.
        */
      merge: Boolean = false,
  )

  val Usage =
    "usage: SortSweep [--case c] [--begin N] [--end N] [--step-size N] [--iters N] " +
      "[--out dir] [--parquet] [--merge]   (1 <= begin <= end, step-size >= 1, iters >= 1)"

  /** Flags to [[Opt]]. A range or an iteration count that measures
    * nothing is rejected: zero iterations would write `avg_us` = 0.0, a
    * failed cell posing as the fastest.
    */
  def parseArgs(args: Array[String]): Opt = {
    def usage(problem: String) = throw new IllegalArgumentException(s"$problem\n$Usage")
    @annotation.tailrec
    def go(rest: List[String], o: Opt): Opt = rest match {
      case "--case" :: v :: t => go(t, o.copy(caseName = v))
      case "--begin" :: v :: t => go(t, o.copy(begin = v.toInt))
      case "--end" :: v :: t => go(t, o.copy(end = v.toInt))
      case "--step-size" :: v :: t => go(t, o.copy(stepSize = v.toInt))
      case "--iters" :: v :: t => go(t, o.copy(iters = v.toInt))
      case "--out" :: v :: t => go(t, o.copy(out = v))
      case "--parquet" :: t => go(t, o.copy(parquet = true))
      case "--merge" :: t => go(t, o.copy(merge = true))
      case Nil => o
      case x :: _ => usage(s"unknown arg $x")
    }
    val o = go(args.toList, Opt())
    if (o.iters < 1) usage(s"--iters must be >= 1, got ${o.iters}")
    if (o.stepSize < 1) usage(s"--step-size must be >= 1, got ${o.stepSize}")
    if (o.begin < 1 || o.begin > o.end) usage(s"need 1 <= begin <= end, got ${o.begin}..${o.end}")
    o
  }

  def sweep(spark: SparkSession, opt: Opt): Seq[DataPoint] = {
    val c = Case.byName(opt.caseName)
    (opt.begin to opt.end by opt.stepSize).flatMap(size =>
      cell(spark, c, size, opt.iters, parquet = opt.parquet, merge = opt.merge))
  }

  /** One sweep cell: a gc (earlier cells' garbage must not bill this
    * one), then the case's `n`-row input — generated in memory, or
    * round-tripped through dictionary parquet ([[parquetInput]]) —
    * persisted and counted outside the timed region, measured by the
    * two sort strategies ([[measureBoth]]) or the merge experiment
    * ([[measureMerge]]) over `iters` iterations, and unpersisted.
    */
  def cell(
      spark: SparkSession, c: Case, n: Int, iters: Int,
      parquet: Boolean = false, merge: Boolean = false): Seq[DataPoint] = {
    System.gc()
    val input = (if (parquet) parquetInput(spark, c, n) else c.df(spark, n)).persist()
    input.count()
    val pts =
      try if (merge) measureMerge(c.name, input, n, iters) else measureBoth(c.name, input, n, iters)
      finally input.unpersist(blocking = true)
    // the parquet variant reports under its own cell family so the
    // two input paths stay separately comparable against BASELINE.md
    if (parquet) pts.map(p => p.copy(caseName = s"${p.caseName}-parquet")) else pts
  }

  /** The case's batch round-tripped through DICTIONARY-ENCODED parquet
    * (SURVEY §7.3, deferred since round 1): writes the batch once per
    * (case, n) to scratch with parquet dictionary encoding forced on (a
    * [[graft.Scratch.buildOnce]] memo), reads it back, and hands the
    * sweep the same rows — one file,
    * one row group, one split, so row order survives the round trip.
    *
    * HONEST SCOPE: because the sweep's seam is row-based,
    * `measureBoth` rebuilds the ColumnBatch (and its first-appearance
    * dictionary) from those rows, so the TIMED KERNEL INPUT is
    * byte-identical to the in-memory family's — the dictionary layout
    * the kernels sort comes from `dictEncoded`, not the parquet
    * dictionary pages, on BOTH paths. What this family adds is the
    * storage gate, not a second physical encoding: the
    * dictionary-encoded round trip must preserve values, order, and
    * footer encodings (`ParquetDictSweepSpec` pins all three), and its
    * cells must land on the in-memory family's numbers — a divergence
    * flags a round-trip fidelity break, which is exactly what a
    * lakehouse deployment of these kernels would hit first. The
    * like-for-like answer to the reference's `DictionaryArray` input
    * is the dict-coded kernel layout itself, measured by both
    * families.
    */
  def parquetInput(spark: SparkSession, c: Case, n: Int): DataFrame =
    spark.read.parquet(
      graft.Scratch.buildOnce(s"${graft.Scratch.dir}/graft-sweep-pq/${c.name}-$n") { path =>
        c.df(spark, n).coalesce(1).write
          .option("parquet.enable.dictionary", "true")
          .mode("overwrite").parquet(path)
      })

  /** One Spark job; both kernels timed inside the task on the same
    * materialized array under the same JIT state. Strategies are
    * interleaved per iteration exactly like the reference's inner loop
    * (`src/main.rs:40-55`). Each cell reports BOTH statistics since
    * round 9: the MEAN (the reference's published protocol — the
    * baseline-gated, chart-plotted number) and the MIN (the
    * noise-robust estimator; the container's GC/CPU noise produces
    * rare 10× outlier iterations that inflate a one-window mean).
    */
  def measureBoth(caseName: String, input: DataFrame, size: Int, iters: Int): Seq[DataPoint] = {
    val perIter = timePair(caseName, input, iters) { batch =>
      (() => { ColumnSort.sortBatch(batch, rowFormat = false); () },
        () => { ColumnSort.sortBatch(batch, rowFormat = true); () })
    }
    // Two statistics per cell: the MEAN (the reference's published
    // protocol — cross-engine comparisons read this one) and the MIN
    // (the noise-robust microbenchmark estimator: every iteration
    // performs byte-identical work, so the fastest observed run IS the
    // kernel's cost; anything above it is co-tenant CPU interference —
    // this host's single-core throughput swings ~1.5x over minutes).
    Seq(
      point(caseName, size, "dyn-comparator", iters, perIter.map(_._1)),
      point(caseName, size, "rows-format", iters, perIter.map(_._2)),
    )
  }

  /** The in-task loop both cell kinds time with, one Spark job: per
    * partition, the columnar batch is materialized (the RecordBatch
    * analog) OUTSIDE the timed region — the reference's input is a
    * pre-built columnar (dictionary-encoded where the case says so)
    * RecordBatch too (src/main.rs:42 sits outside the timed spans) —
    * and `setup` turns it into the two timed thunks, untimed as well.
    * Then `max(3, iters / 5)` interleaved warm-up rounds and `iters`
    * interleaved `(a, b)` timings, in µs.
    */
  private def timePair(caseName: String, input: DataFrame, iters: Int)(
      setup: ColumnBatch => (() => Unit, () => Unit)): Array[(Double, Double)] = {
    val schema = input.schema
    val warm = math.max(3, iters / 5)
    // byName THROWS on an unknown case — a silent no-dict fallback would
    // time the wrong columnar layout without any error
    val dictCols = Case.byName(caseName).dictCols
    input.mapPartitions { it =>
      val batch = ColumnBatch.fromRows(it.toArray.toIndexedSeq, schema)
        .dictEncoded(dictCols)
      val (a, b) = setup(batch)
      def once(run: () => Unit): Double = {
        val t0 = System.nanoTime()
        run()
        (System.nanoTime() - t0) / 1e3
      }
      var i = 0
      while (i < warm) { a(); b(); i += 1 }
      Iterator.tabulate(iters)(_ => (once(a), once(b)))
    }(Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble)).collect()
  }

  private def point(
      caseName: String, size: Int, strategy: String, iters: Int,
      xs: Array[Double]): DataPoint =
    DataPoint(caseName, size, strategy, iters,
      avgUs = if (xs.isEmpty) 0.0 else xs.sum / xs.length,
      minUs = if (xs.isEmpty) 0.0 else xs.min)

  /** The sort-merge experiment the reference scaffolds but never runs
    * (`src/data.rs:245-294` is the classic setup; SURVEY §2 #12): a
    * sorted batch scattered into `streams` pseudo-random streams (each
    * preserving sorted order — [[graft.sort.MergeStreams.scatter]]),
    * then, per iteration, merge-of-N-sorted-streams vs a full re-sort
    * of the same scattered batch, both ending in a gather. Reported as
    * the `<case>-merge` cell family with strategies `kway-merge` and
    * `full-resort`. Same in-task protocol as [[measureBoth]].
    */
  def measureMerge(
      caseName: String, input: DataFrame, size: Int, iters: Int,
      streams: Int = MergeStreamCount): Seq[DataPoint] = {
    val perIter = timePair(caseName, input, iters) { batch =>
      // fixture build outside the timed region: sort, then scatter into
      // per-stream contiguous runs (the experiment's input state — N
      // sorted spill runs / stream buffers waiting to be combined)
      val sorted = ColumnSort.sortBatch(batch, rowFormat = false)
      val (scattered, offsets) =
        graft.sort.MergeStreams.scatter(sorted, streams, seed = 1337L)
      (() => {
        ColumnSort.take(scattered,
          graft.sort.MergeStreams.mergeRuns(scattered, offsets)); ()
      },
        () => { ColumnSort.sortBatch(scattered, rowFormat = false); () })
    }
    Seq(
      point(s"$caseName-merge", size, "kway-merge", iters, perIter.map(_._1)),
      point(s"$caseName-merge", size, "full-resort", iters, perIter.map(_._2)),
    )
  }

  /** Stream count for the merge cells: 8 — a typical spill-run /
    * stream-buffer fan-in. The merge plays log₂(k) = 3 packed-key
    * matches per row; the re-sort radix-sorts the same packed keys. At
    * 100k rows the merge does not beat the re-sort: perfbench
    * `sort_kernel` on a 4-core host, median of 3 runs' fastest cell,
    * gather included, puts it at 1.70 against 1.59 ms for mixed-tuple
    * and 1.49 against 1.40 ms for utf8-tuple.
    */
  val MergeStreamCount = 8
}

/** PNG line chart matching the reference's plotters sink
  * (`src/lib.rs:97-160`): a 1024×500 white-background bitmap, x = batch
  * size, y = µs, red DynComparator / blue rows-format series with a
  * legend — rendered with the JDK's own `BufferedImage`/`ImageIO`
  * (headless-safe, no dependencies).
  */
object PngChart {
  import java.awt.{BasicStroke, Color, RenderingHints}
  import java.awt.image.BufferedImage

  def render(points: Seq[DataPoint]): Array[Byte] = {
    System.setProperty("java.awt.headless", "true")
    val (w, h, mL, mB, mT, mR) = (1024, 500, 70, 45, 36, 20)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    try {
      g.setRenderingHint(RenderingHints.KEY_ANTIALIASING, RenderingHints.VALUE_ANTIALIAS_ON)
      g.setRenderingHint(RenderingHints.KEY_TEXT_ANTIALIASING, RenderingHints.VALUE_TEXT_ANTIALIAS_ON)
      g.setColor(Color.WHITE); g.fillRect(0, 0, w, h)
      if (points.nonEmpty) {
        val xs = points.map(_.batchSize.toDouble)
        val ys = points.map(_.avgUs)
        val (x0, x1) = (xs.min, math.max(xs.max, xs.min + 1))
        val (y0, y1) = (0.0, math.max(ys.max, 1.0))
        def px(x: Double): Int = (mL + (x - x0) / (x1 - x0) * (w - mL - mR)).round.toInt
        def py(y: Double): Int = (h - mB - (y - y0) / (y1 - y0) * (h - mB - mT)).round.toInt
        val red = new Color(0xcc, 0x22, 0x22)
        val blue = new Color(0x22, 0x22, 0xcc)
        val colors = Map(
          "dyn-comparator" -> red, "rows-format" -> blue,
          // merge-experiment family: merge keeps the "first strategy"
          // red so the two chart families read the same way
          "kway-merge" -> red, "full-resort" -> blue)
        // axes + labels (the reference's x_desc/y_desc/caption)
        g.setColor(Color.BLACK)
        g.drawLine(mL, h - mB, w - mR, h - mB)
        g.drawLine(mL, mT, mL, h - mB)
        g.setFont(g.getFont.deriveFont(15f))
        val caption = points.head.caseName
        g.drawString(caption, (w - g.getFontMetrics.stringWidth(caption)) / 2, 20)
        g.setFont(g.getFont.deriveFont(12f))
        val xDesc = "batch size (row count)"
        g.drawString(xDesc, (w - g.getFontMetrics.stringWidth(xDesc)) / 2, h - 8)
        val old = g.getTransform
        g.rotate(-math.Pi / 2, 14, h / 2.0)
        val yDesc = "avg runtime (microsecs)"
        g.drawString(yDesc, 14 - g.getFontMetrics.stringWidth(yDesc) / 2, h / 2 + 4)
        g.setTransform(old)
        g.drawString(f"${x0.toInt}%d", mL, h - mB + 16)
        val xMaxS = f"${x1.toInt}%d"
        g.drawString(xMaxS, w - mR - g.getFontMetrics.stringWidth(xMaxS), h - mB + 16)
        val yMaxS = f"${y1.toInt}%d"
        g.drawString(yMaxS, mL - 6 - g.getFontMetrics.stringWidth(yMaxS), py(y1) + 4)
        g.drawString("0", mL - 6 - g.getFontMetrics.stringWidth("0"), h - mB)
        // series polylines
        g.setStroke(new BasicStroke(1.5f))
        points.groupBy(_.strategy).toSeq.sortBy(_._1).foreach { case (name, pts) =>
          g.setColor(colors.getOrElse(name, Color.DARK_GRAY))
          val sorted = pts.sortBy(_.batchSize)
          sorted.sliding(2).foreach {
            case Seq(a, b) =>
              g.drawLine(px(a.batchSize.toDouble), py(a.avgUs), px(b.batchSize.toDouble), py(b.avgUs))
            case _ =>
          }
        }
        // legend (bordered, like configure_series_labels().border_style(BLACK));
        // labels from the strategies actually plotted — the reference's
        // .label() names for the sort family, the experiment's own for
        // the merge family
        val legendName = Map(
          "dyn-comparator" -> "DynComparator sort",
          "rows-format" -> "Rows format sort",
          "kway-merge" -> "K-way merge of sorted",
          "full-resort" -> "Full re-sort")
        val entries = points.map(_.strategy).distinct.sorted
        val (lx, ly) = (w - 190, mT + 4)
        val lh = entries.size * 18 + 8
        g.setColor(Color.WHITE); g.fillRect(lx - 6, ly - 4, 176, lh)
        g.setColor(Color.BLACK); g.drawRect(lx - 6, ly - 4, 176, lh)
        entries.zipWithIndex.foreach { case (st, i) =>
          g.setColor(colors.getOrElse(st, Color.DARK_GRAY))
          g.fillRect(lx, ly + 2 + i * 18, 12, 12)
          g.setColor(Color.BLACK)
          g.drawString(legendName.getOrElse(st, st), lx + 18, ly + 12 + i * 18)
        }
      }
    } finally g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }
}
