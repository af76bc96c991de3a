package graft.functions

import org.apache.spark.sql.SparkSessionExtensions

/** Standard integration point for SQL text: with
  * `spark.sql.extensions=graft.functions.GraftExtensions` (e.g. on
  * spark-submit to a real cluster) any session resolves the graft
  * functions by name — the config-driven twin of
  * `GraftFunctions.register`, which the [[graft.Graft]] facade calls on
  * a session it is handed. Both paths inject the SAME (identifier,
  * info, builder) triples ([[GraftFunctions.all]]), so they cannot
  * diverge. DataFrame code needs neither: it calls the typed builders
  * (`GraftFunctions.md5Long`, …), which build the nodes directly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach(ext.injectFunction)
}
