package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The walk of the source-scan specs: every `.scala` file under `root`
  * (relative to the project dir the tests run in) with its text. Each
  * scan keeps its own root, file filter, pattern and allow-list.
  */
object SourceScan {
  def apply(root: String = "src/main/scala/graft"): Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toList
    finally walk.close()
  }
}
