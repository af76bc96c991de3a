package graft.bench

import graft.SparkSpec

/** The multi-split relayout owns its split size: `prepare` sets
  * `maxPartitionBytes` on the session it is given, so every tool that
  * reads the layout gets the bench's scan parallelism without copying
  * the setting into its own session. Run on a `newSession()` so the
  * conf cannot leak into the shared test session (PlanSpec's plans).
  */
class RgFixtureSpec extends SparkSpec {
  private val Key = "spark.sql.files.maxPartitionBytes"

  test("prepare sets the 4m split size on its own session only") {
    val shared = spark.conf.get(Key)
    val s = spark.newSession()
    val root = RgFixture.prepare(s, "/root/testdata/sf0.001")
    assert(new java.io.File(root, "lineitem.parquet").isDirectory)
    assert(s.conf.get(Key) == "4m")
    assert(spark.conf.get(Key) == shared)
  }
}
