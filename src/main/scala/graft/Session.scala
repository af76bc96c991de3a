package graft

import org.apache.spark.sql.SparkSession

/** The one local-session recipe: every main (Bench, Verify, the sweep
  * and probes) and the test session build through here, so a tool run
  * reproduces the bench's session instead of a hand-copied variant.
  *
  * `local[cpus]` with one shuffle partition per core, UTC session time,
  * UI off, shuffle and spill files on the RAM scratch volume (see
  * [[Scratch]]), log level WARN. Input-layout geometry is NOT set here:
  * the layout that needs a split size sets it (`RgFixture.prepare`).
  */
object Session {
  /** Local worker threads: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  def local(cpus: Int = Session.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Scratch.dir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
