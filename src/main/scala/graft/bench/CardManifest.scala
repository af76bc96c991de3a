package graft.bench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** The bench cardinality manifest (VERDICT r10 item 7), in
  * [[graft.Bench.resultsDir]]: a `# sf=<sf dir name>` tag, then each
  * headline cell's row count at that SF as `name<TAB>count`. `Bench`
  * gates its observed counts on it ([[failed]]), so a result that
  * silently went empty (or exploded) fails even when its wall-time
  * stayed green. Regenerate and commit it when a query is added or its
  * semantics legitimately change: `sbt "runMain graft.bench.CardManifest"`
  * (env: SPARK_GRAFT_SF_DIR). The main observes each count with
  * [[graft.Bench.runCell]] after [[graft.Bench.prewarm]].
  */
object CardManifest {
  val FileName = "cardinality_manifest.tsv"

  /** Writes `counts` as the manifest of `sfDir` to `file`. */
  def write(file: Path, sfDir: String, counts: Seq[(String, Long)]): Unit = {
    Files.createDirectories(file.getParent)
    val body = (s"# sf=${new java.io.File(sfDir).getName}" +:
      counts.map { case (n, c) => s"$n\t$c" }).mkString("", "\n", "\n")
    Files.writeString(file, body)
  }

  /** The counts `file` records for `sfDir`, or why they cannot be
    * checked: no manifest, or the manifest of another SF.
    */
  def read(file: Path, sfDir: String): Either[String, Map[String, Long]] =
    if (!Files.exists(file)) Left(s"no cardinality manifest at $file")
    else {
      val lines = Files.readAllLines(file).asScala.toSeq
      val sfTag = lines.collectFirst { case l if l.startsWith("# sf=") => l.drop(5) }
      if (!sfTag.contains(new java.io.File(sfDir).getName))
        Left(s"manifest sf ${sfTag.getOrElse("?")} != run sf")
      else Right(lines.filterNot(_.startsWith("#")).map(_.split('\t'))
        .collect { case Array(n, c) => n -> c.toLong }.toMap)
    }

  /** The cells of `counts` whose observed count differs from the
    * manifest's. A cell absent from the manifest (new this round) is
    * advisory only, and an unchecked manifest fails nothing; both, and
    * each mismatch, are reported on stderr.
    */
  def failed(file: Path, sfDir: String, counts: Seq[(String, Long)]): Seq[String] =
    read(file, sfDir) match {
      case Left(why) =>
        System.err.println(s"[bench] $why; counts unchecked")
        Seq.empty
      case Right(expected) =>
        counts.map(_._1).filterNot(expected.contains).foreach(n =>
          System.err.println(s"[bench] $n not in cardinality manifest (new cell?)"))
        counts.collect { case (n, got) if expected.get(n).exists(_ != got) =>
          System.err.println(s"[bench] CARDINALITY MISMATCH $n: got $got, manifest ${expected(n)}")
          n
        }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = graft.Bench.sfDir()
    val spark = graft.Session.local()
    graft.Bench.prewarm(spark, sfDir)
    // benched + headline-only: the manifest exists for Bench's gate, so
    // it records exactly the cells (and spellings) the bench observes
    val counts = graft.SparkEntry.inventory.filter(_.benchHeadline).flatMap(q =>
      graft.Bench.runCell(spark, q, sfDir, observe = true)._2.map(q.name -> _))
    val out = graft.Bench.resultsDir().resolve(FileName)
    write(out, sfDir, counts)
    println(s"wrote ${counts.size} counts to $out")
    spark.stop()
  }
}
