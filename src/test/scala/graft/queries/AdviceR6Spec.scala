package graft.queries

import graft.{Scratch, SourceScan, SparkEntry, SparkSpec}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Pins the round-6 advice fixes: collision-proof persisted-layout keys,
  * cube/rollup empty-input count identity, and e13's signed-zero
  * determinism.
  */
class AdviceR6Spec extends SparkSpec {

  test("Scratch.pathKey separates dirs whose String hashCodes collide") {
    // "Aa" and "BB" are the classic 2-char hashCode collision; any
    // hashCode-keyed persistence would serve these two corpora from the
    // SAME path
    val d1 = "/data/corpus-Aa"
    val d2 = "/data/corpus-BB"
    assert(d1.hashCode == d2.hashCode, "fixture must actually collide")
    assert(Scratch.pathKey(d1) != Scratch.pathKey(d2))
    // and the key is stable (it names persisted artifacts across JVMs)
    assert(Scratch.pathKey(d1) == Scratch.pathKey(d1))
  }

  test("no hashCode-keyed persistence anywhere in operator sources") {
    val offenders = SourceScan()
      .collect { case (p, src) if src.contains("dir.hashCode") => p.toString }
    assert(offenders.isEmpty,
      s"persisted-layout keys must use Scratch.pathKey, not dir.hashCode: $offenders")
  }

  private def q(name: String) = SparkEntry.inventory.find(_.name == name).get

  test("q21 cube / q17 rollup: two-phase equals the direct spelling on an EMPTY fact table") {
    val dir = java.nio.file.Files.createTempDirectory("graft-empty-li").toString
    val schema = StructType(Seq(
      StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType),
      StructField("l_extendedprice", DoubleType),
      StructField("l_quantity", DoubleType)))
    spark.createDataFrame(new java.util.ArrayList[Row](), schema)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    // direct spellings (what the DuckDB oracle computes)
    spark.read.parquet(s"$dir/lineitem.parquet").createOrReplaceTempView("li_empty")
    val directCube = spark.sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue
         FROM li_empty GROUP BY CUBE (l_returnflag, l_linestatus)""").collect().toSeq
    val directRollup = spark.sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS qty
         FROM li_empty GROUP BY ROLLUP (l_returnflag, l_linestatus)""").collect().toSeq

    val twoPhaseCube = q("q21_cube").run(spark, dir).collect().toSeq
    val twoPhaseRollup = q("q17_rollup").run(spark, dir).collect().toSeq
    assert(twoPhaseCube.toSet == directCube.toSet,
      s"cube two-phase=$twoPhaseCube direct=$directCube")
    assert(twoPhaseRollup.toSet == directRollup.toSet,
      s"rollup two-phase=$twoPhaseRollup direct=$directRollup")
    // Pin the MEASURED Spark-4 semantics the equality rests on: cube/
    // rollup over empty input emit ZERO rows (no grand-total row) —
    // the ADVICE-r6 coalesce premise was the opposite and is rebutted
    // in the q21 source comment. If a Spark upgrade ever starts
    // emitting the SQL-standard grand-total row (DuckDB's reading),
    // this fires and the q21/q17 empty-input story must be revisited.
    assert(directCube.isEmpty && directRollup.isEmpty,
      s"Spark cube/rollup empty-input semantics changed: " +
        s"cube=$directCube rollup=$directRollup")
  }

  test("e13 emits the canonicalized (+0.0) value whichever signed-zero row survives") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-zero-ev").toString
    Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 7L, "click", -0.0),
      (java.sql.Timestamp.valueOf("2024-01-01 00:30:00"), 7L, "click", 0.0),
      (java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 8L, "view", 1.5))
      .toDF("ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = q("e13_stream_dedup").run(spark, dir).collect()
    // the two signed zeros share one fingerprint -> one survivor, and its
    // projected value must be +0.0 regardless of which row won
    assert(out.length == 2)
    val zeroRow = out.find(_.getLong(0) == 7L).get
    val v = zeroRow.getDouble(2)
    assert(java.lang.Double.doubleToRawLongBits(v) == 0L,
      s"survivor rendered ${java.lang.Double.doubleToRawLongBits(v)} — must be +0.0")
  }
}
