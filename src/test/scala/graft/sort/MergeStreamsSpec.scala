package graft.sort

import graft.SparkSpec
import graft.datagen.Case
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Differential suite for the sort-merge experiment
  * ([[MergeStreams]]): a k-way merge of scattered sorted runs must
  * reproduce, index for index, what a full stable re-sort of the same
  * scattered batch produces — the correctness property behind the
  * `<case>-merge` sweep cells (and behind every external merge: if
  * merge-of-runs and re-sort can disagree, the runtime comparison is
  * measuring two different operators).
  */
class MergeStreamsSpec extends SparkSpec {

  private def scatteredOf(c: Case, n: Int, streams: Int): (ColumnBatch, Array[Int]) = {
    val df = c.df(spark, n)
    val batch = ColumnBatch
      .fromRows(df.collect().toIndexedSeq, df.schema)
      .dictEncoded(c.dictCols)
    val sorted = ColumnSort.sortBatch(batch, rowFormat = false)
    MergeStreams.scatter(sorted, streams, seed = 1337L)
  }

  // k = 3 and 5 exercise the loser tree's non-power-of-two bracket
  // (sentinel -1 leaves in init and replay) — the padding path k = 8
  // never touches; k = 1 the single-run short-circuit
  for (c <- Case.all; n <- Seq(0, 1, 100, 5000); k <- Seq(1, 3, 5, 8)) {
    test(s"merge differential: ${c.name} n=$n streams=$k") {
      val (scattered, offsets) = scatteredOf(c, n, k)
      // both permutations are STABLE total sorts of the scattered batch,
      // so they must agree exactly — ties included (merge breaks ties by
      // run id = scattered block order; the bottom-up merge sort is
      // stable by construction)
      val merged = MergeStreams.mergeRuns(scattered, offsets)
      val resorted = ColumnSort.lexsortIndices(scattered)
      assert(merged.toSeq == resorted.toSeq, s"merge != stable re-sort")
    }
  }

  test("scatter: runs are contiguous, order-preserving, and partition the batch") {
    val c = Case.byName("mixed-tuple")
    val (scattered, offsets) = scatteredOf(c, 5000, 8)
    assert(offsets.head == 0 && offsets.last == 5000)
    assert(offsets.sliding(2).forall { case Array(a, b) => a <= b })
    // every run is itself sorted (scatter preserves sorted order within
    // a stream) — checked through the batch's own comparator
    val cmp = ColumnSort.fullChain(scattered)
    for (r <- 0 until 8; i <- offsets(r) + 1 until offsets(r + 1))
      assert(!cmp.lt(i, i - 1), s"run $r out of order at $i")
  }

  test("scatter is deterministic in the seed") {
    val c = Case.byName("utf8-tuple")
    val (_, o1) = scatteredOf(c, 3000, 8)
    val (_, o2) = scatteredOf(c, 3000, 8)
    assert(o1.toSeq == o2.toSeq)
  }

  test("measureMerge produces the two merge-cell strategies") {
    val df = Case.byName("mixed-tuple").df(spark, 2000).persist()
    df.count()
    val pts = graft.bench.SortSweep.measureMerge("mixed-tuple", df, 2000, 3)
    df.unpersist(blocking = true)
    assert(pts.map(_.strategy).sorted == Seq("full-resort", "kway-merge"))
    assert(pts.forall(p => p.caseName == "mixed-tuple-merge"))
    assert(pts.forall(p => p.avgUs > 0 && p.minUs > 0 && p.minUs <= p.avgUs))
  }

  // mergeRuns trusts its caller's offsets only as far as they describe
  // contiguous runs that cover the batch
  private val fiveRows = ColumnBatch(
    StructType(Seq(StructField("l", LongType, nullable = false))),
    Array(Array(1L, 4L, 2L, 3L, 5L)))

  test("mergeRuns accepts runs that cover the batch, empty runs included") {
    assert(MergeStreams.mergeRuns(fiveRows, Array(0, 2, 2, 5)).toSeq == Seq(0, 2, 3, 1, 4))
  }

  test("mergeRuns rejects a last offset short of numRows instead of dropping rows") {
    val e = intercept[IllegalArgumentException](MergeStreams.mergeRuns(fiveRows, Array(0, 2, 4)))
    assert(e.getMessage.contains("end at numRows 5"))
  }

  test("mergeRuns rejects a last offset past numRows") {
    intercept[IllegalArgumentException](MergeStreams.mergeRuns(fiveRows, Array(0, 2, 6)))
  }

  test("mergeRuns rejects decreasing offsets") {
    val e = intercept[IllegalArgumentException](MergeStreams.mergeRuns(fiveRows, Array(0, 3, 1, 5)))
    assert(e.getMessage.contains("non-decreasing"))
  }
}
