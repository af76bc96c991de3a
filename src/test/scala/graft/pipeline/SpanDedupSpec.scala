package graft.pipeline

import graft.{SparkEntry, SparkSpec}

/** Behavior pins for d8 exact substring-span dedup on crafted fixtures
  * with hand-computed maximal-span expectations (SpanK = 8 words), plus
  * a plan shape check on the real testdata.
  */
class SpanDedupSpec extends SparkSpec {

  private def writeDocs(dir: String, rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def run(dir: String) =
    SparkEntry.queries("d8_span_dedup")(spark, dir)
      .orderBy("doc_id", "span_start")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

  test("d8: shared run → one maximal island per doc, at the run's true extent") {
    val dir = "target/span-dedup-fixture-a"
    val S = (1 to 10).map(i => s"s$i").mkString(" ") // the shared 10-word run
    writeDocs(dir, Seq(
      // S at positions 6..15: duplicated window starts 6,7,8 merge to (6,15)
      (1L, (1 to 5).map(i => s"a$i").mkString(" ") + " " + S + " " + (1 to 5).map(i => s"b$i").mkString(" ")),
      // same S at positions 4..13 → (4,13)
      (2L, "c1 c2 c3 " + S + " d1 d2"),
      // fully unique → no duplicated window anywhere
      (3L, (1 to 20).map(i => s"e$i").mkString(" ")),
      // exact duplicates: every window duplicated → whole doc one island
      (4L, (1 to 12).map(i => s"f$i").mkString(" ")),
      (5L, (1 to 12).map(i => s"f$i").mkString(" ")),
    ))
    assert(run(dir).toSeq == Seq(
      (1L, 6L, 15L, 10L),
      (2L, 4L, 13L, 10L),
      (4L, 1L, 12L, 12L),
      (5L, 1L, 12L, 12L),
    ))
  }

  test("d8: two separated shared runs in one doc → two islands, not one") {
    val dir = "target/span-dedup-fixture-b"
    val P = (1 to 8).map(i => s"p$i").mkString(" ")
    val Q = (1 to 8).map(i => s"q$i").mkString(" ")
    writeDocs(dir, Seq(
      (7L, "x1 " + P + " x2 x3 x4 " + Q + " x5"), // P at 2..9, Q at 13..20
      (8L, P + " y1 y2 " + Q),                    // P at 1..8, Q at 11..18
      (9L, "z1 z2"),                              // < K words: no windows
    ))
    assert(run(dir).toSeq == Seq(
      (7L, 2L, 9L, 8L),
      (7L, 13L, 20L, 8L),
      (8L, 1L, 8L, 8L),
      (8L, 11L, 18L, 8L),
    ))
  }

  test("d9: only train docs sharing an eval K-gram flagged, with span/eval-doc counts") {
    val dir = "target/decontam-fixture"
    val E = (1 to 10).map(i => s"v$i").mkString(" ") // 10-word eval run
    writeDocs(dir, Seq(
      // eval doc (doc_id % 20 == 0) carrying E at 3..12
      (20L, "w1 w2 " + E + " w3"),
      // train doc containing E verbatim → window starts 3..12 minus
      // tail: E at 2..11 gives duplicated starts 2,3,4 → n_spans 3
      (1L, "u1 " + E + " u2 u3"),
      // train doc sharing nothing with eval text
      (2L, (1 to 20).map(i => s"n$i").mkString(" ")),
      // second eval doc duplicating the FIRST eval doc — eval-eval
      // overlap must not surface (output is train docs only)
      (40L, "w1 w2 " + E + " w3"),
    ))
    val got = SparkEntry.queries("d9_decontam")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // doc 1's E occupies word positions 2..11 → K=8 window starts 2,3,4
    // all match eval doc 20 AND eval doc 40 (identical text)
    assert(got == Seq((1L, 3L, 2L)))
  }

  test("d8 plan: no cartesian/nested-loop join; position table served from cache") {
    val df = SparkEntry.queries("d8_span_dedup")(spark, "/root/testdata/sf0.001")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"d8 must never form an all-pairs join:\n$p")
    // both consumers (dup-agg side and semi-join probe side) must read
    // the materialized position table, not re-explode the corpus
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      s"d8's position table must be cached and read twice:\n$p")
  }

  test("d9 plan: eval side broadcast, corpus side from the shared span cache") {
    val df = SparkEntry.queries("d9_decontam")(spark, "/root/testdata/sf0.001")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"d9's eval span set is bounded by contract and must broadcast:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"d9 must probe the materialized span-position table:\n$p")
  }
}
