package graft.sources

import graft.{CorpusCache, Q, Scratch, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingest-format sources: the paths data takes INTO the lake.
  *
  * JSONL is the de-facto interchange format for LLM training corpora
  * (one JSON document per line, shipped by every crawl/annotation
  * vendor), and the two properties that matter at 100 TB are exercised
  * here with the plumbing the gate can check:
  *
  *  - **Schema-first reads.** The JSONL scan gets an EXPLICIT schema —
  *    never inference, which at scale is a full extra pass over the
  *    input before the real one, and which silently widens types when a
  *    vendor ships one odd line.
  *  - **Corrupt lines are data, not exceptions.** Real feeds carry
  *    truncated/garbled lines; PERMISSIVE mode parks them in the
  *    `_corrupt_record` column so the pipeline can COUNT and quarantine
  *    them instead of dying mid-job (FAILFAST) or silently losing them
  *    (DROPMALFORMED). The fixture injects a known set of corrupt lines
  *    and IngestSpec pins that exactly those are quarantined.
  *
  * The fixture round-trips `documents` through Spark's own JSONL writer
  * plus injected garbage, so the oracle (DuckDB over the ORIGINAL
  * parquet) checks the whole write→corrupt→read→repair chain
  * end-to-end: any loss or duplication in the round trip breaks the
  * per-lang counts/sums.
  */
object Ingest {
  import Tables.t

  /** Injected corrupt lines per fixture — truncated JSON, bare text,
    * and valid JSON with a type-mismatched field (the subtlest class:
    * PERMISSIVE still parks the row in quarantine rather than letting
    * a half-parsed row pollute the counts).
    */
  private[graft] val CorruptLines = Seq(
    """{"doc_id": 999999999, "text": "truncat""",
    """not json at all""",
    """{"doc_id": "not-a-number", "lang": "en"}""",
  )

  /** The explicit read schema: documents' columns plus the PERMISSIVE
    * corrupt-record column.
    */
  private[graft] val DocJsonSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
    StructField("_corrupt_record", StringType)))

  private def layoutRoot(s: SparkSession): String =
    s"${Scratch.dir}/ingest-${s.sparkContext.applicationId}"

  /** JSONL twin of `documents` with [[CorruptLines]] appended as an
    * extra text file in the same directory (the vendor-shipped bad
    * shard). Memoized per (application, corpus listing) like Layout's
    * rewrites.
    */
  private[graft] def jsonlDocsPath(s: SparkSession, dir: String): String = {
    val path = s"${layoutRoot(s)}/graft_jsonl_docs_${CorpusCache.fingerprint(s, dir)}"
    // buildOnce, not _SUCCESS: the json writer commits _SUCCESS before
    // the corrupt shard lands, and a failure between the two steps
    // would memoize a fixture with an EMPTY quarantine — q40 would
    // hash-match while silently no longer exercising the corruption
    // path the operator exists to demonstrate (round-7 review).
    Scratch.buildOnce(path) {
      t(s, dir, "documents").write.mode("overwrite").json(path)
      java.nio.file.Files.writeString(
        new java.io.File(path, "part-corrupt.json").toPath,
        CorruptLines.mkString("", "\n", "\n"))
    }
  }

  /** Schema-first PERMISSIVE JSONL read: good rows parse into columns,
    * corrupt lines land whole in `_corrupt_record` with every data
    * column null.
    */
  private[graft] def readJsonlDocs(s: SparkSession, dir: String): DataFrame =
    s.read
      .schema(DocJsonSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(jsonlDocsPath(s, dir))

  /** Schema-EVOLVED parquet fixture: two shards of `documents` under
    * one directory — the even-keyed half written WITHOUT the `source`
    * column (the old writer's schema), the odd half with the full
    * current schema. The lake reality q42 exercises: shards written
    * across a schema change must stay readable as one table.
    */
  private[graft] def evolvedDocsPath(s: SparkSession, dir: String): String = {
    val path = s"${layoutRoot(s)}/graft_evolved_docs_${CorpusCache.fingerprint(s, dir)}"
    Scratch.buildOnce(path) {
      val docs = t(s, dir, "documents")
      docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        .drop("source") // the pre-evolution writer
        .write.mode("overwrite").parquet(s"$path/shard=v1")
      docs.filter(pmod(col("doc_id"), lit(2)) === 1)
        .write.mode("overwrite").parquet(s"$path/shard=v2")
    }
  }

  def all: Seq[Q] = Seq(
    // ---- q40: JSONL ingest — write→corrupt→read→quarantine, gated
    //      against the ORIGINAL parquet: per-lang counts and exact
    //      sums must survive the round trip (a lost/duplicated line
    //      shifts a count; a mangled field shifts a sum). The corrupt
    //      lines are filtered into quarantine — their count contract
    //      lives in IngestSpec (the oracle reads the original table,
    //      which never saw them). ----
    Q(
      "q40_jsonl_ingest",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        readJsonlDocs(s, dir)
          .filter(col("_corrupt_record").isNull)
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            // content check beyond counts: order-insensitive XOR of
            // per-doc identity hashes (q39's rule; ONE portable-hash
            // spelling via Portable)
            bit_xor(graft.pipeline.Portable.md5Long(col("doc_id").cast("string")))
              .as("id_xor"))
      },
      Some(s"""
        SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               bit_xor(${graft.pipeline.Portable.md5LongSql("CAST(doc_id AS VARCHAR)")}) AS id_xor
        FROM documents
        GROUP BY 1"""),
    ),

    // ---- q42: SCHEMA-EVOLUTION read — one logical table spanning a
    //      writer schema change (an old shard lacking `source`), read
    //      with mergeSchema so the union schema resolves and the
    //      missing column is NULL exactly on the old shard's rows. The
    //      oracle replays the shard rule over the original table, so a
    //      read that mis-assigns nulls (or drops either shard) splits
    //      counts, sums, AND the per-group key hashes. At 100 TB
    //      mergeSchema's footer-merge cost is why evolved tables
    //      eventually want a metastore schema — documented trade-off,
    //      but the READ path must work first and this gate pins it. ----
    Q(
      "q42_schema_evolution",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        // label by the SHARD (the partition column the fixture layout
        // carries), not by source-is-null: a genuinely NULL source on a
        // post-evolution row must stay a NULL group in BOTH engines,
        // not get folded into the pre-evolution label (round-7 review)
        s.read.option("mergeSchema", "true")
          .parquet(evolvedDocsPath(s, dir))
          .groupBy(when(col("shard") === "v1", lit("<pre-evolution>"))
            .otherwise(col("source")).as("src"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            bit_xor(graft.pipeline.Portable.md5Long(col("doc_id").cast("string")))
              .as("id_xor"))
      },
      Some(s"""
        SELECT CASE WHEN doc_id % 2 = 0 THEN '<pre-evolution>' ELSE source END AS src,
               count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               bit_xor(${graft.pipeline.Portable.md5LongSql("CAST(doc_id AS VARCHAR)")}) AS id_xor
        FROM documents
        GROUP BY 1"""),
    ),
  )
}
