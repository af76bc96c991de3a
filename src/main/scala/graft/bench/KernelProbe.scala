package graft.bench

import graft.datagen.Case
import graft.sort.{BatchSort, ColumnSort, RowFormatSort}

/** Dev-only: kernel timing without Spark, to separate kernel cost from
  * environment noise.
  */
object KernelProbe {
  def main(args: Array[String]): Unit = {
    val size = if (args.nonEmpty) args(0).toInt else 70000
    val c = if (args.length > 1) Case.byName(args(1)) else Case.MixedTuple
    // Optional third arg "shuffled": permute the (pre-sorted) generated
    // batch with a fixed seed so the probe can measure full merge cost
    // rather than the adaptive presorted fast path.
    val shuffled = args.length > 2 && args(2) == "shuffled"
    val rows0 = c.rows(size)
    val rows =
      if (shuffled) new scala.util.Random(42).shuffle(rows0.toVector)
      else rows0
    val batch = rows.toArray
    val ord = BatchSort.rowOrdering(c.schema)
    def once(run: () => Unit): Double = {
      val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e3
    }
    val sortA = () => { val copy = batch.clone(); java.util.Arrays.sort(copy, ord); () }
    val sortB = () => { RowFormatSort.sortKernel(batch.clone(), c.schema); () }
    (0 until 10).foreach(_ => { sortA(); sortB() })
    val times = (0 until 30).map(_ => (once(sortA), once(sortB)))
    println("A: " + times.map(t => f"${t._1}%.0f").mkString(" "))
    println("B: " + times.map(t => f"${t._2}%.0f").mkString(" "))
    // columnar kernels (the RecordBatch-faithful path used by the sweep)
    val cb = graft.sort.ColumnBatch.fromRows(rows, c.schema)
      .dictEncoded(c.dictCols)
    val colA = () => { ColumnSort.sortBatch(cb, rowFormat = false); () }
    val colB = () => { ColumnSort.sortBatch(cb, rowFormat = true); () }
    (0 until 10).foreach(_ => { colA(); colB() })
    val colTimes = (0 until 30).map(_ => (once(colA), once(colB)))
    println("colA: " + colTimes.map(t => f"${t._1}%.0f").mkString(" "))
    println("colB: " + colTimes.map(t => f"${t._2}%.0f").mkString(" "))
    // phase breakdown per strategy: index sort vs gather
    for ((label, indices) <- Seq[(String, graft.sort.ColumnBatch => Array[Int])](
        "lexsort" -> ColumnSort.lexsortIndices, "rowformat" -> ColumnSort.rowFormatIndices)) {
      var idx: Array[Int] = null
      val phaseIdx = () => { idx = indices(cb); () }
      val phaseTake = () => { ColumnSort.take(cb, idx); () }
      (0 until 10).foreach(_ => { phaseIdx(); phaseTake() })
      val phases = (0 until 30).map(_ => (once(phaseIdx), once(phaseTake)))
      println(s"$label: " + phases.map(t => f"${t._1}%.0f").mkString(" "))
      println(s"$label take: " + phases.map(t => f"${t._2}%.0f").mkString(" "))
    }
  }
}
