package graft.bench

import java.nio.file.{Files, Path, Paths}

import graft.{Bench, Q, SparkEntry, SparkSpec}

/** Pins the bench's cardinality gate: the manifest format reads back
  * what it writes, a manifest of another SF (or none) is unchecked, a
  * mismatched count fails its cell and a cell new to the manifest is
  * advisory only — and the runner that observes the counts: a throwing
  * cell is a logged -1 and an observed count is the result's row count.
  */
class CardManifestSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.1"
  private val counts = Seq("q1_agg" -> 4L, "d2_ngram_jaccard" -> 0L)

  private def manifest(): Path =
    Files.createTempDirectory("graft-card").resolve(CardManifest.FileName)

  /** What `body` prints to System.err, and its value. */
  private def stderrOf[T](body: => T): (String, T) = {
    val buf = new java.io.ByteArrayOutputStream
    val old = System.err
    System.setErr(new java.io.PrintStream(buf, true))
    try { val r = body; (buf.toString, r) }
    finally System.setErr(old)
  }

  test("a written manifest reads back, and the committed one covers every headline cell") {
    val f = manifest()
    CardManifest.write(f, sf, counts)
    assert(Files.readString(f) == "# sf=sf0.1\nq1_agg\t4\nd2_ngram_jaccard\t0\n")
    assert(CardManifest.read(f, sf) == Right(counts.toMap))
    val committed = CardManifest.read(Paths.get("results", CardManifest.FileName), sf)
    assert(committed.map(_.keySet) ==
      Right(SparkEntry.inventory.filter(_.benchHeadline).map(_.name).toSet))
  }

  test("a manifest of another sf, or none, comes back unchecked with the reason") {
    val f = manifest()
    assert(CardManifest.read(f, sf) == Left(s"no cardinality manifest at $f"))
    CardManifest.write(f, "/root/testdata/sf0.01", counts)
    assert(CardManifest.read(f, sf) == Left("manifest sf sf0.01 != run sf"))
    val (err, failed) = stderrOf(CardManifest.failed(f, sf, Seq("q1_agg" -> 5L)))
    assert(failed.isEmpty)
    assert(err.contains("manifest sf sf0.01 != run sf; counts unchecked"), err)
  }

  test("a mismatched count is named in card_failed; a cell missing from the manifest is advisory") {
    val f = manifest()
    CardManifest.write(f, sf, counts)
    val (err, failed) = stderrOf(CardManifest.failed(f, sf,
      Seq("q1_agg" -> 5L, "d2_ngram_jaccard" -> 0L, "new_cell" -> 9L)))
    assert(failed == Seq("q1_agg"))
    assert(err.contains("CARDINALITY MISMATCH q1_agg: got 5, manifest 4"), err)
    assert(err.contains("new_cell not in cardinality manifest"), err)
    assert(CardManifest.failed(f, sf, counts :+ ("new_cell" -> 9L)).isEmpty)
  }

  test("runCell: a throwing cell is a logged -1; an observed count equals df.count()") {
    val dir = Bench.WarmDir
    val boom = Q("boom", (_, _) => throw new IllegalStateException("planted"), None)
    val (err, res) = stderrOf(Bench.runCell(spark, boom, dir, observe = true))
    assert(res == ((-1.0, None)))
    assert(err.contains(s"[bench] boom @ $dir failed: planted"), err)
    for (name <- Seq("q1_agg", "q26_approx_distinct")) {
      val q = SparkEntry.inventory.find(_.name == name).get
      val (sec, rows) = Bench.runCell(spark, q, dir, observe = true)
      assert(sec >= 0 && rows.contains(q.benched(spark, dir).count()), s"$name: $rows")
      assert(Bench.runCell(spark, q, dir)._2.isEmpty, s"$name: observed unasked")
    }
  }
}
