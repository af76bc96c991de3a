package graft.pipeline

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** s11 drift monitor: the contracts behind the retrain signal.
  *
  *  - conservation: per-cell counts sum to |base| and |delta| exactly
  *    (every vector lands in exactly one frozen cell), and every frozen
  *    cell appears in the report even when empty on one side.
  *  - sensitivity: on a corpus whose delta is deliberately piled onto
  *    one direction, the report flags that cell HOT; on the uniform
  *    gate corpus nothing pathological fires.
  *  - the flag is integer-exact: recomputable from the emitted ppm
  *    columns alone (no hidden float state).
  */
class AnnDriftSpec extends SparkSpec {

  test("conservation + completeness on the gate corpus") {
    val dir = "/root/testdata/sf0.001"
    val rep = SparkEntry.queries("s11_ann_drift")(spark, dir).collect()
    val b = Similarity.s10Boundary(spark, dir)
    val emb = graft.Tables.t(spark, dir, "embeddings")
    val nBase = emb.filter(col("vec_id") < b).count()
    val nDelta = emb.filter(col("vec_id") >= b).count()
    assert(rep.map(_.getLong(1)).sum == nBase, "base counts must conserve")
    assert(rep.map(_.getLong(2)).sum == nDelta, "delta counts must conserve")
    // one row per frozen cell, cells unique
    assert(rep.map(_.getLong(0)).distinct.length == rep.length)
    // the flag is a pure function of the emitted ppm columns
    rep.foreach { r =>
      val expect = if (r.getLong(4) > Similarity.DriftFactor * r.getLong(3) +
        Similarity.DriftFloorPpm) 1 else 0
      assert(r.getInt(5) == expect, s"hot flag must match the ppm rule: $r")
    }
  }

  test("a delta piled onto one direction flags its cell HOT") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-drift").toString
    val dim = 8
    // base: 450 vectors spread over `dim` axis directions (ids 0..449,
    // covering the seed range [100, 100+K)); delta: ids 450..499, ALL
    // landing on axis 0 — the shifted distribution s11 exists to catch
    val rows = (0L until 500L).map { id =>
      val axis = if (id >= 450L) 0 else (id % dim).toInt
      val v = Array.tabulate(dim)(i =>
        if (i == axis) 1.0f else 0.01f * ((id % 7).toInt + 1) * (if (i % 2 == 0) 1 else -1))
      (id, v.toSeq, (id % 3).toInt)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val rep = SparkEntry.queries("s11_ann_drift")(spark, dir).collect()
    val hot = rep.filter(_.getInt(5) == 1)
    assert(hot.nonEmpty, s"drifted delta must flag at least one hot cell: ${rep.mkString("\n")}")
    // the hot cells absorb the majority of the delta
    val deltaTotal = rep.map(_.getLong(2)).sum
    assert(hot.map(_.getLong(2)).sum * 2 > deltaTotal,
      "hot cells should hold most of the piled delta")
    // cleanup the materialized frozen artifacts for this throwaway dir
    graft.CorpusCache.release(dir)
  }
}
