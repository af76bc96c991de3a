package graft.pipeline

import graft.SparkSpec

/** d12 asymmetric containment: the crafted-inclusion contract the
  * testdata corpus cannot exhibit (its ≥0.5 pairs are all near-twins) —
  * a small document fully embedded in a much larger one scores directed
  * containment 1.0 while its Jaccard sits far under d2's threshold, so
  * the symmetric rule misses exactly the quote/derived-doc relation
  * this operator exists to catch.
  */
class ContainmentSpec extends SparkSpec {

  private def q(name: String) = graft.queries.Registry.all.find(_.name == name).get

  test("full inclusion emits (contained, container, 1.0) one-directionally; d2 misses it") {
    import spark.implicits._
    val small = (1 to 10).map(i => s"alpha$i").mkString(" ")
    val big = small + " " + (1 to 110).map(i => s"beta$i").mkString(" ")
    val other = (1 to 50).map(i => s"gamma$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft-containment").toString
    Seq((1L, small), (2L, big), (3L, other)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val rows = q("d12_containment").run(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(rows.contains((1L, 2L, 1.0)),
        s"full inclusion must emit (contained=1, container=2, 1.0), got ${rows.toSeq}")
      assert(!rows.exists(p => p._1 == 2L && p._2 == 1L),
        "the big doc is not contained in the small one — the emit must stay directed")
      assert(!rows.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc must not pair")
      // the same pair is invisible to the symmetric near-dup rule:
      // jaccard = 8 shared / 118 union ≈ 0.07, far under d2's 0.2
      val d2 = q("d2_ngram_jaccard").run(spark, dir).collect()
      assert(!d2.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L),
        "the inclusion must be exactly what the symmetric rule cannot see")
    } finally graft.CorpusCache.release(dir)
  }

  test("pair candidates meet through the shingle equi-join — never a cartesian") {
    val df = q("d12_containment").run(spark, "/root/testdata/sf0.001")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"d12 must meet candidates through the inverted shingle index, not all-pairs:\n${p.take(2500)}")
  }

  test("corpus output: directed rows, containment within [min, 1]") {
    val out = q("d12_containment").run(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty, "the gate corpus must produce containment pairs")
    out.foreach { r =>
      val c = r.getDouble(2)
      assert(c >= Dedup.ContainmentMin && c <= 1.0 + 1e-9, s"containment $c out of range")
      assert(r.getLong(0) != r.getLong(1), "a doc cannot contain itself in the emit")
    }
  }
}
