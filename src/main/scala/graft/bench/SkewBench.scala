package graft.bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Skewed-data bench fixtures: deterministic zipf-head transforms of the
  * uniform SF tables, written once per corpus listing on the RAM-backed
  * scratch volume ([[graft.Scratch]] — the container disk can degrade to
  * ~13 MB/s, at which point a fixture write bills minutes of storage
  * latency to a bench that exists to time operators; the uniform twins
  * read page-cached parquet, so RAM-speed storage also keeps the
  * skew-vs-uniform ratio a statement about the OPERATORS, not the disk).
  *
  * Every driver testdata table is uniform, so the scale-killers the
  * engine defends against — hot shingles (d2's df cap), hot blocking
  * labels (s3's adaptive bands), hot join keys (q5's big join under
  * AQE) — never fire in the uniform gate. These fixtures make them
  * fire at bench scale:
  *  - `documents`: 30% of docs share a 40-word boilerplate prefix, so
  *    ~38 shingles land in 30% of the corpus (df >> the absolute cap at
  *    sf0.1 — the broadcast anti-join must shed them);
  *  - `embeddings`: every even vec_id collapses into label 0 (one block
  *    holds >half the corpus — the adaptive band width must engage), and
  *    every vec_id ≡ 3 (mod 10) collapses into a near-copy of one
  *    deterministic base vector (a hot similarity cluster: one IVF cell
  *    attracts ~10% of the corpus — s4's probe path must not degrade,
  *    and s3 must absorb the true-near-dup bucket);
  *  - `lineitem`: 20% of line items point at ONE hot order key (a
  *    zipf head on the probe side of the q5 star join).
  * Unchanged tables are byte-copied so the fixture directory serves the
  * same `Tables.t` layout as the source SF dir.
  */
object SkewBench {

  /** The shared boilerplate prefix (40 deterministic pseudo-words). */
  private[graft] val Boilerplate: String =
    (1 to 40).map(i => s"bp$i").mkString("", " ", " ")

  private val CopiedTables =
    Seq("region", "nation", "customer", "supplier", "part", "events")

  /** The skew fixture of `sfDir`: a [[graft.Scratch.buildOnce]] memo at
    * `skewdata/<`[[graft.CorpusCache.fingerprint]]`>`, so each corpus
    * listing has its own, and once built no later call, in this JVM or
    * another, rewrites it. Returns its path.
    */
  def prepare(spark: SparkSession, sfDir: String): String =
    graft.Scratch.buildOnce(
      s"${graft.Scratch.dir}/skewdata/${graft.CorpusCache.fingerprint(spark, sfDir)}")(
      build(spark, sfDir, _))

  private def build(spark: SparkSession, sfDir: String, out: String): Unit = {
    spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("text",
        when(pmod(col("doc_id"), lit(10)) < 3, concat(lit(Boilerplate), col("text")))
          .otherwise(col("text")))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // hot similarity cluster: a fixed base vector plus a per-id bump on
    // one coordinate (cosine -> 1 within the cluster, but vectors stay
    // distinguishable after the float cast)
    val hotVec = expr(
      "transform(sequence(0, 63), i -> CAST(round(sin(i + 1.0), 6) + CASE WHEN i = 0 THEN vec_id * 1e-4 ELSE 0.0 END AS FLOAT))")
    emb
      .withColumn("label",
        when(pmod(col("vec_id"), lit(2)) === 0, lit(0).cast(emb.schema("label").dataType))
          .otherwise(col("label")))
      .withColumn("embedding",
        when(pmod(col("vec_id"), lit(10)) === 3, hotVec).otherwise(col("embedding")))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    // getAs[Number]: robust to the key column arriving Int-typed from a
    // regenerated fixture — a ClassCastException here would silently
    // degrade the whole skew pass to empty via Bench's outer catch
    val hotKey = li.agg(min("l_orderkey")).first().getAs[Number](0).longValue()
    li
      .withColumn("l_orderkey",
        when(pmod(col("l_orderkey"), lit(5)) === 0, lit(hotKey)).otherwise(col("l_orderkey")))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    // `orders` skew (round 9, for the q59/q60 twins): 20% of orders
    // collapse onto ONE hot o_custkey (the zipf head on q59's
    // delta-join build/probe sides), and the hot l_orderkey's order is
    // forced HIGH-VALUE so q60's runtime bloom filter cannot shed the
    // hot fact key — the 20% lineitem head must pass the filter and
    // flow through the join (the adversarial case for the bloom's
    // "shrinks the shuffle" claim). q5 also reads orders, but joins
    // customer via an explicit broadcast, so the custkey head adds no
    // shuffle there — its skew cell stays a statement about the
    // l_orderkey head.
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    val hotCust = o.agg(min("o_custkey")).first().getAs[Number](0).longValue()
    o
      .withColumn("o_custkey",
        when(pmod(col("o_orderkey"), lit(5)) === 0, lit(hotCust)).otherwise(col("o_custkey")))
      .withColumn("o_totalprice",
        when(col("o_orderkey") === hotKey,
          greatest(col("o_totalprice"),
            lit(graft.queries.Advanced.HighValueCutoff + 1.0)))
          .otherwise(col("o_totalprice")))
      .write.mode("overwrite").parquet(s"$out/orders.parquet")

    for (tn <- CopiedTables) // the writes above made `out`
      java.nio.file.Files.copy(
        java.nio.file.Path.of(s"$sfDir/$tn.parquet"),
        java.nio.file.Path.of(s"$out/$tn.parquet"))
  }
}
