package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** User-facing facade: one call wires a session to a corpus directory —
  * every driver table as a temp view plus the custom codegen'd
  * expressions (`winnow_fp`, `md5_long`, `vec_dot`, `byte_hist`,
  * `byte_simhash`) — after which plain `spark.sql` works over the full
  * surface, and every inventory operator is runnable by name.
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
