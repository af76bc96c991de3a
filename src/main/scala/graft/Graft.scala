package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** User-facing facade: one call wires a session to a corpus directory —
  * every driver table as a temp view plus the 15 custom codegen'd
  * functions by name (`winnow_fp`, `md5_long`, `kmv_kth`, `shingle_gen`,
  * `span_gen`, `run_stats`, `vec_dot`, `byte_hist`, `raster_gen`,
  * `resize_nn`, `bloom_contains`, `byte_simhash`, `pcm_gen`,
  * `pcm_requant`, `audio_stats`) — after which plain `spark.sql` works
  * over the full surface, and every inventory operator is runnable by
  * name. DataFrame code calls the same functions through the typed
  * builders of [[functions.GraftFunctions]], which need no registration.
  *
  * {{{
  * graft.Graft.register(spark, "/data/corpus")
  * spark.sql("SELECT winnow_fp(text, 8, 4) FROM documents").show()
  * graft.Graft.run(spark, "/data/corpus", "d3_minhash").show()
  * }}}
  */
object Graft {

  /** Register the corpus tables as temp views and the engine's custom
    * functions in `spark`'s session catalog (idempotent; re-invoking
    * with a different `dir` repoints every view).
    */
  def register(spark: SparkSession, dir: String): Unit = {
    functions.GraftFunctions.register(spark)
    Tables.names.foreach { n =>
      Tables.t(spark, dir, n).createOrReplaceTempView(n)
    }
  }

  /** All operator names the engine ships, in module order. */
  def queryNames: Seq[String] = SparkEntry.inventory.map(_.name)

  /** Run one inventory operator by name over a corpus directory. */
  def run(spark: SparkSession, dir: String, name: String): DataFrame =
    SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown graft query '$name'; known: ${queryNames.sorted.mkString(", ")}")
    )(spark, dir)

  /** Register (see [[register]]) and run an ad-hoc SQL query. Every call
    * re-registers, so the views list the corpus as it is now; the schema
    * cache of [[Tables.read]] keeps a repeat call free of footer reads.
    */
  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    register(spark, dir)
    spark.sql(query)
  }
}
