package graft

import org.apache.spark.sql.SparkSession

/** The one local-session recipe: every main (Bench, Verify, the sweeps
  * and probes) and the test session build through here, so a tool run
  * reproduces the bench's session instead of a hand-copied variant.
  *
  * `local[cpus]` with one shuffle partition per core, UTC session time,
  * UI off, shuffle and spill files on the RAM scratch volume (see
  * [[Scratch]]), log level WARN. Input-layout geometry is NOT set here:
  * the layout that needs a split size sets it (`RgFixture.prepare`).
  * `contextConf` is for SparkContext-wide settings a caller must fix
  * before the context starts (SpillSweep's force-spill threshold).
  */
object Session {
  /** Local worker threads: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  def local(cpus: Int = Session.cpus,
      contextConf: Map[String, String] = Map.empty): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Scratch.dir)
    val spark = contextConf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
