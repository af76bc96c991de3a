package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** s12 drift-triggered retrain + hot swap: the row-level contracts
  * behind the old→new routing gate — the retrain set is non-degenerate
  * (the top-R budget floor guarantees work even when no cell trips the
  * s11 threshold), the refresh actually moves flagged centroids while
  * cold centroids stay byte-frozen, the swapped index is SELECTIVE
  * (cold-cell rows byte-identical to the frozen index, flagged members
  * keep their PQ code and only their routing may change), and the
  * selective path equals a from-scratch retrain of the flagged subset
  * computed through fresh, uncached artifacts.
  */
class DriftRetrainSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def release(): Unit = graft.CorpusCache.release(dir)

  test("retrain set is non-degenerate and honors the hot-or-top-R rule") {
    val rep = Similarity.annDriftReport(spark, dir).cache()
    val cells = Similarity.retrainCells(spark, dir).collect().map(_.getLong(0)).toSet
    try {
      assert(cells.size >= Similarity.RetrainTopCells,
        s"budget floor must flag at least R cells, got ${cells.size}")
      // every s11-hot cell is in the set
      val hot = rep.filter(col("is_hot") === 1).collect().map(_.getLong(0)).toSet
      assert(hot.subsetOf(cells), s"hot cells ${hot -- cells} missing from retrain set")
      // the top-R by excess are in the set
      val topR = rep.withColumn("excess", col("delta_ppm") - col("base_ppm"))
        .orderBy(col("excess").desc, col("cid").asc)
        .limit(Similarity.RetrainTopCells).collect().map(_.getLong(0)).toSet
      assert(topR.subsetOf(cells), s"top-R cells ${topR -- cells} missing from retrain set")
    } finally rep.unpersist(blocking = true)
  }

  test("refresh re-centers flagged centroids; cold centroids stay byte-frozen") {
    val flagged = Similarity.retrainCells(spark, dir).collect().map(_.getLong(0)).toSet
    val frozen = Similarity.s10Centroids(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val retrained = Similarity.retrainedCentroids(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(frozen.keySet == retrained.keySet, "K must not change: refresh is not a re-derive")
    val coldDrift = frozen.keys.filterNot(flagged).filter(c => frozen(c) != retrained(c))
    assert(coldDrift.isEmpty, s"cold centroids drifted: $coldDrift")
    assert(flagged.exists(c => frozen(c) != retrained(c)),
      "at least one flagged centroid should move under a real refresh")
  }

  test("hot swap is selective: cold rows byte-identical, flagged members keep their code") {
    val frozenIdx = Similarity.annAssignFrozen(spark, dir, lit(true))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val flagged = Similarity.retrainCells(spark, dir).collect().map(_.getLong(0)).toSet
    val swapped = Similarity.annRetrainedIndex(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(swapped.keySet == frozenIdx.keySet,
      "the swap must keep exactly the corpus's rows — no vector lost or duplicated")
    frozenIdx.foreach { case (vid, (cid, code)) =>
      if (!flagged(cid))
        assert(swapped(vid) == ((cid, code)), s"cold-cell vector $vid was rewritten")
      else
        assert(swapped(vid)._2 == code,
          s"flagged member $vid must keep its PQ code (routing changed, geometry didn't)")
    }
  }

  test("re-route plans with broadcast joins — no unbroadcast cartesian anywhere") {
    val df = Similarity.s12Members(spark, dir)
      .select(col("vec_id"), col("cid").as("old_cid"))
      .join(Similarity.s12Reassign(spark, dir), "vec_id")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"the K-row centroid/retrain-set sides must broadcast:\n${p.take(2500)}")
    // BroadcastNestedLoopJoin IS expected here: ivfAssign scores each
    // member against the broadcast ~√K super-centroid table (a bounded
    // constant side — the designed candidate generation, same shape as
    // s4). What must never appear is an unbroadcast cartesian.
    assert(!p.contains("CartesianProduct"),
      s"no unbroadcast all-pairs anywhere in the retrain path:\n${p.take(2500)}")
  }

  test("selective re-route equals a fresh from-scratch retrain of the flagged subset") {
    val viaCaches = Similarity.s12Members(spark, dir)
      .select(col("vec_id"), col("cid").as("old_cid"))
      .join(Similarity.s12Reassign(spark, dir), "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    release() // drop every artifact of dir: members, centroids, assignments
    val fresh = Similarity.s12Members(spark, dir)
      .select(col("vec_id"), col("cid").as("old_cid"))
      .join(Similarity.s12Reassign(spark, dir), "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    release()
    assert(viaCaches == fresh,
      "cached artifacts and a from-scratch rebuild must route the flagged subset identically")
  }
}
