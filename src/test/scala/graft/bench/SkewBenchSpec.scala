package graft.bench

import java.io.File
import java.nio.file.Files

import graft.{Scratch, SparkSpec}

/** The skew fixture is a [[Scratch.buildOnce]] memo per corpus listing:
  * a second `prepare` serves the built fixture without rewriting it,
  * and a corpus whose listing changed gets a fixture of its own.
  */
class SkewBenchSpec extends SparkSpec {

  /** Every file under `dir` with its mtime. */
  private def mtimes(dir: String): Map[String, Long] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new File(dir)).map(f => f.getPath -> f.lastModified).toMap
  }

  test("a second prepare returns the same fixture unwritten; a changed corpus gets a new one") {
    val corpus = Files.createTempDirectory("graft-skew-corpus").toFile
    new File("/root/testdata/sf0.001").listFiles().foreach(f =>
      Files.copy(f.toPath, new File(corpus, f.getName).toPath))
    val built = scala.collection.mutable.Set.empty[String]
    try {
      val first = SkewBench.prepare(spark, corpus.getPath)
      built += first
      assert(first.startsWith(s"${Scratch.dir}/skewdata/"), first)
      assert(graft.Tables.names.forall(n => new File(first, s"$n.parquet").exists()))
      val before = mtimes(first)
      assert(SkewBench.prepare(spark, corpus.getPath) == first)
      assert(mtimes(first) == before, "a second prepare rewrote the fixture")

      val region = new File(corpus, "region.parquet")
      assert(region.setLastModified(region.lastModified + 10000))
      val second = SkewBench.prepare(spark, corpus.getPath)
      built += second
      assert(second != first, "a changed corpus listing must get its own fixture")
      assert(mtimes(first) == before)
    } finally {
      built.foreach(p => Scratch.deleteTree(new File(p)))
      Scratch.deleteTree(corpus)
    }
  }
}
