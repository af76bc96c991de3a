package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** Pins [[CorpusCache]]'s contract: an entry lives while its corpus'
  * file listing is unchanged, `release(dir)` drops exactly that dir's
  * entries, a superseded or released table leaves Spark's persistent
  * RDDs, an unlistable dir is never cached, entries of a stopped session
  * are swept — and no hand-rolled per-corpus cache comes back beside it.
  */
class CorpusCacheSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft-corpus-cache").toString

  private def writeIds(dir: String, n: Int): Unit =
    spark.range(n).toDF("id").write.mode("overwrite").parquet(s"$dir/t.parquet")

  /** Accesses the scalar entry `name` of `dir`; true when it was built. */
  private def built(dir: String, name: String = "n"): Boolean = {
    var b = false
    CorpusCache(spark, dir, name) { b = true; 1L }
    b
  }

  test("an entry is reused while its corpus is unchanged and rebuilt after a rewrite") {
    val d = tmp()
    writeIds(d, 10)
    assert(built(d))
    assert(!built(d), "an unchanged corpus must hit")
    writeIds(d, 20)
    assert(built(d), "a corpus rewritten in place must rebuild")
    assert(!built(d))
  }

  test("release(dir) leaves no entry for dir and keeps other dirs' entries") {
    val (a, b) = (tmp(), tmp())
    Seq(a, b).foreach { d => writeIds(d, 5); built(d) }
    Tables.read(spark, s"$a/t.parquet")
    assert(CorpusCache.contains(spark, a, "n"))
    assert(CorpusCache.contains(spark, s"$a/t.parquet", "relation"), "Tables.read's own entry")
    CorpusCache.release(a)
    assert(!CorpusCache.contains(spark, a, "n"))
    assert(!CorpusCache.contains(spark, s"$a/t.parquet", "relation"),
      "entries of paths under the released dir go too")
    assert(CorpusCache.contains(spark, b, "n"), "another dir's entry must survive")
    assert(!built(b))
    assert(built(a))
  }

  test("a table superseded by a rewrite, or released, leaves the persistent RDDs") {
    val d = tmp()
    writeIds(d, 10)
    def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def table = CorpusCache.table(spark, d, "t")(spark.read.parquet(s"$d/t.parquet"))
    val p0 = persisted
    assert(table.count() == 10)
    val first = persisted -- p0
    assert(first.size == 1, s"one eager persist expected, got $first")
    writeIds(d, 20)
    assert(table.count() == 20, "the rewritten corpus must be read, not the cached table")
    val second = persisted -- p0
    assert(second.size == 1 && (second & first).isEmpty,
      s"the superseded table must be unpersisted: before $first, after $second")
    CorpusCache.release(d)
    assert((persisted -- p0).isEmpty, "a released table must be unpersisted")
  }

  test("a dir that cannot be listed is built on every access and never cached") {
    val missing = s"${tmp()}/absent"
    assert(built(missing))
    assert(built(missing))
    assert(!CorpusCache.contains(spark, missing, "n"))
  }

  test("entries of a stopped session are swept on the next access") {
    // A JVM runs one SparkContext at a time and the suites share theirs,
    // so the stop happens in a child JVM (CorpusCacheSweep).
    val d = tmp()
    writeIds(d, 3)
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("--add-opens") || a.startsWith("-D"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx1g") ++ jvm ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.CorpusCacheSweep", d)
    val p = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
    assert(p.waitFor() == 0, s"child JVM failed:\n${out.takeRight(4000)}")
    assert(out.contains("had=true swept=true"), out.takeRight(4000))
  }

  test("no per-corpus cache in src/main/scala outside CorpusCache") {
    // the one allowed map: q57/q60's child sessions, keyed by purpose, not corpus
    val allowed = Seq("privatevalchildSessionCache=scala.collection.concurrent.TrieMap")
    val cache = """concurrent\.TrieMap|ConcurrentHashMap|Scratch\.pathKey\(""".r
    val offenders = SourceScan()
      .filterNot(_._1.getFileName.toString == "core.scala")
      .flatMap { case (p, text) =>
        val src = text.replaceAll("\\s+", "")
        cache.findAllMatchIn(src)
          .map(m => src.substring(math.max(0, m.start - 60), m.end))
          .filterNot(site => allowed.exists(site.endsWith))
          .map(site => s"${p.getFileName}: $site")
      }
    assert(offenders.isEmpty,
      s"hand-rolled per-corpus cache — use graft.CorpusCache: $offenders")
  }
}

/** Child-JVM half of [[CorpusCacheSpec]]'s stopped-session test: caches
  * an entry in one session, stops it, touches the cache from a second
  * session, and prints whether the stopped session's entry was swept.
  */
object CorpusCacheSweep {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val a = Session.local(1)
    CorpusCache(a, dir, "n")(1L)
    val had = CorpusCache.contains(a, dir, "n")
    a.stop()
    val b = Session.local(1)
    CorpusCache(b, dir, "n")(2L)
    val swept = !CorpusCache.contains(a, dir, "n")
    b.stop()
    println(s"had=$had swept=$swept")
    sys.exit(if (had && swept) 0 else 1)
  }
}
