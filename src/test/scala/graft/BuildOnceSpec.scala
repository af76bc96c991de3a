package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Pins [[Scratch.buildOnce]]'s contract: a build publishes its path
  * whole or not at all, runs once, may nest, replaces the debris of an
  * earlier attempt, and an application's memos go when its context
  * stops — and no other done-marker protocol comes back beside it.
  */
class BuildOnceSpec extends AnyFunSuite {

  private def tmp(): String = Files.createTempDirectory("graft-build-once").toString

  private def write(dir: String, name: String, body: String = "x"): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, name), body)
  }

  private def names(dir: String): Set[String] =
    Option(new File(dir).list()).map(_.toSet).getOrElse(Set.empty)

  test("a build that throws leaves no path, and the next call rebuilds and publishes") {
    val path = s"${tmp()}/memo"
    intercept[IllegalStateException] {
      Scratch.buildOnce(path) { stage =>
        write(stage, "part-0")
        throw new IllegalStateException("build failed halfway")
      }
    }
    assert(!new File(path).exists(), s"a failed build published ${names(path)}")
    assert(Scratch.buildOnce(path)(write(_, "part-1")) == path)
    assert(names(path) == Set("part-1", "_GRAFT_READY"))
    assert(!new File(path + ".build").exists())
  }

  test("a second call does not run the build again") {
    val path = s"${tmp()}/memo"
    var builds = 0
    def memo(): String = Scratch.buildOnce(path) { stage => builds += 1; write(stage, "part-0") }
    assert(memo() == path)
    assert(memo() == path)
    assert(builds == 1)
    assert(names(path) == Set("part-0", "_GRAFT_READY"))
  }

  test("a build may resolve another memo under the one lock") {
    val root = tmp()
    val inner = s"$root/inner"
    val outer = Scratch.buildOnce(s"$root/outer") { stage =>
      val src = Scratch.buildOnce(inner)(write(_, "part-0", "base"))
      write(stage, "part-0", Files.readString(Paths.get(src, "part-0")) + "+delta")
    }
    assert(Files.readString(Paths.get(outer, "part-0")) == "base+delta")
    assert(names(inner) == Set("part-0", "_GRAFT_READY"))
  }

  test("a leftover staging dir and a markerless dir at the path are replaced") {
    val path = s"${tmp()}/memo"
    write(path + ".build", "stale-staged")
    write(path, "stale-in-place")
    Scratch.buildOnce(path) { stage =>
      assert(!new File(stage).exists(), "the staging dir must be wiped before the build")
      write(stage, "part-0")
    }
    assert(names(path) == Set("part-0", "_GRAFT_READY"))
    assert(!new File(path + ".build").exists())
  }

  test("an application's scratch dir goes when its context stops; cross-JVM memos stay") {
    // A JVM runs one SparkContext at a time and the suites share theirs,
    // so the stop happens in a child JVM (ScratchAppSweep).
    val corpus = tmp()
    write(corpus, "t")
    val shared = s"${Scratch.dir}/rgfix/scratch-app-sweep-${System.nanoTime}"
    try {
      val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(a => a.startsWith("--add-opens") || a.startsWith("-D"))
      val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx1g") ++ jvm ++
        Seq("-cp", System.getProperty("java.class.path"), "graft.ScratchAppSweep", corpus, shared)
      val p = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).start()
      val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
      assert(p.waitFor() == 0, s"child JVM failed:\n${out.takeRight(4000)}")
      val app = "(?m)^app=(.*)$".r.findFirstMatchIn(out).map(_.group(1))
        .getOrElse(fail(s"no app dir reported:\n${out.takeRight(4000)}"))
      assert(app.startsWith(s"${Scratch.dir}/app-"), app)
      assert(!new File(app).exists(), s"$app outlived its context: ${names(app)}")
      assert(names(shared).contains("_GRAFT_READY"), s"the cross-JVM memo $shared went too")
    } finally Scratch.deleteTree(new File(shared))
  }

  test("no done-marker literal in src/main/scala outside core.scala") {
    val marker = """"[^"\n]*\b_(?:SUCCESS|GRAFT_READY)\b[^"\n]*"""".r
    val offenders = SourceScan()
      .filterNot(_._1.getFileName.toString == "core.scala")
      .flatMap { case (p, src) => marker.findAllIn(src).map(site => s"${p.getFileName}: $site") }
    assert(offenders.isEmpty,
      s"hand-rolled done marker — memoize on disk with Scratch.buildOnce: $offenders")
  }
}

/** Child-JVM half of [[BuildOnceSpec]]'s scratch test: builds one memo
  * under its application's dir and one cross-JVM memo at `args(1)`,
  * stops its context, and prints the application's dir.
  */
object ScratchAppSweep {
  def main(args: Array[String]): Unit = {
    val s = Session.local(1)
    val memo = Scratch.buildOnce(Scratch.appPath(s, args(0), "sweep"))(p =>
      Files.createDirectories(Paths.get(p)))
    Scratch.buildOnce(args(1))(p => Files.createDirectories(Paths.get(p)))
    val app = new File(memo).getParent
    require(new File(memo).isDirectory, s"$memo was not built")
    s.stop()
    println(s"app=$app")
  }
}
