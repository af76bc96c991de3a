package graft.sort

import graft.sort.ColumnSortKernelSpec.{fixtures, reference, sizes}
import org.scalatest.funsuite.AnyFunSuite

/** Spark-free merge differential over the adversarial fixtures of
  * [[ColumnSortKernelSpec]] (nulls, NaN and signed zeros, NUL-byte and
  * long strings, constant columns, i64 extremes, a truncated column
  * whose kept top bits repeat): the k-way merge of a sorted batch's
  * scattered runs must equal the stable sort of the scattered batch,
  * index for index. The fixtures settle from none to
  * all of their columns, so this pins the merge's rule for equal packed
  * keys under each: the run id for a complete key, otherwise the chain
  * over the columns the key did not settle.
  */
class MergeStreamsKernelSpec extends AnyFunSuite {

  for (f <- fixtures; n <- sizes; k <- Seq(1, 3, 8)) {
    test(s"merge differential: ${f.name}, n=$n streams=$k") {
      val b = f.at(n)
      val (scattered, offsets) = MergeStreams.scatter(ColumnSort.take(b, reference(b)), k, seed = 1337L)
      assert(MergeStreams.mergeRuns(scattered, offsets).toSeq == reference(scattered).toSeq)
    }
  }
}
