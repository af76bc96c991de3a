package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loader normalization contract for `events.ts`. The driver has shipped
  * the column as parquet TIMESTAMP(NANOS) (Spark 4 reads it only as a
  * raw long under `nanosAsLong`) and as TIMESTAMP(MICROS) with no
  * timezone (Spark reads TIMESTAMP_NTZ, which `unix_micros` rejects) —
  * the round-4 regeneration flipped encodings and silently crashed four
  * green queries at analysis time. This spec pins the contract that
  * protects against the NEXT flip: whatever of the three encodings the
  * fixture carries, `Tables.t` yields a session-zoned TIMESTAMP holding
  * the same epoch-microsecond values (the session tz is pinned UTC, so
  * every branch is a pure reinterpretation).
  *
  * It also pins `Tables.read`'s relation cache: a warm read launches no
  * inference job and resolves no data source, two reads of one table
  * self-join with distinct attributes, a table rewritten in place or a
  * child session with other parquet confs infers again, and no operator
  * source reads parquet around the cache.
  */
class TablesSpec extends SparkSpec {

  private val us = 1700000000123456L // carries a sub-millisecond part

  private def writeFixture(dir: String, tsCol: org.apache.spark.sql.Column): Unit = {
    import spark.implicits._
    Seq((1L, 7L, "view", 1.0, "{}"))
      .toDF("event_id", "user_id", "event_type", "value", "props")
      .withColumn("ts", tsCol)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def loadedMicros(dir: String): Long = {
    val df = Tables.t(spark, dir, "events")
    assert(df.schema("ts").dataType == TimestampType,
      s"loader must yield session TIMESTAMP, got ${df.schema("ts").dataType}")
    df.select(unix_micros(col("ts"))).first().getLong(0)
  }

  test("events loader normalizes every shipped ts encoding to session TIMESTAMP") {
    val base = java.nio.file.Files.createTempDirectory("graft-ts-enc").toString

    // int64 nanos (the nanosAsLong compatibility read)
    writeFixture(s"$base/nanos", lit(us * 1000L))
    assert(loadedMicros(s"$base/nanos") == us)

    // TIMESTAMP_NTZ micros (the round-4 regeneration's encoding)
    writeFixture(s"$base/ntz", timestamp_micros(lit(us)).cast(TimestampNTZType))
    assert(loadedMicros(s"$base/ntz") == us)

    // session-zoned TIMESTAMP micros (passes through untouched)
    writeFixture(s"$base/tz", timestamp_micros(lit(us)))
    assert(loadedMicros(s"$base/tz") == us)
  }

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  test("a second Tables.t on an unchanged table launches no Spark job") {
    import spark.implicits._
    val dir = tmp("graft-schema-cache")
    Seq((1L, 2L, "O", 10.0)).toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val first = JobCount(spark)(Tables.t(spark, dir, "orders").schema)
    assert(first >= 1, "the first read infers the schema with a Spark job")
    val second = JobCount(spark)(Tables.t(spark, dir, "orders").schema)
    assert(second == 0, s"a warm read must reuse the inferred schema, launched $second jobs")
    assert(Tables.t(spark, dir, "orders").as[(Long, Long, String, Double)].collect()
      .toSeq == Seq((1L, 2L, "O", 10.0)))
  }

  /** The file relation under `df`'s plan: a fresh resolution of the
    * data source makes a new one.
    */
  private def fileRelation(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation
    }.getOrElse(fail(s"no file relation in ${df.queryExecution.analyzed}"))

  test("a warm Tables.read resolves no data source") {
    import spark.implicits._
    val path = s"${tmp("graft-relation-cache")}/orders.parquet"
    Seq((1L, "O"), (2L, "F")).toDF("o_orderkey", "o_orderstatus").write.parquet(path)
    val first = fileRelation(Tables.read(spark, path))
    val second = fileRelation(Tables.read(spark, path))
    assert(first eq second, "a warm read must reuse the resolved relation and its file index")
  }

  test("a self-join over two Tables.read calls of one table keeps its sides distinct") {
    import spark.implicits._
    val path = s"${tmp("graft-self-join")}/orders.parquet"
    Seq((1L, 10L), (2L, 1L), (3L, 2L), (4L, 2L)).toDF("id", "parent").write.parquet(path)
    val (a, b) = (Tables.read(spark, path), Tables.read(spark, path))
    val ids = Seq(a, b).map(_.queryExecution.analyzed.output.map(_.exprId).toSet)
    assert((ids(0) & ids(1)).isEmpty, s"the two reads share attribute ids: $ids")
    val pairs = a.join(b, a("parent") === b("id")).select(a("id"), b("id"))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(pairs == Seq((2L, 1L), (3L, 2L), (4L, 2L)))
  }

  test("a table rewritten in place in the same session yields its new schema") {
    val dir = tmp("graft-schema-rewrite")
    val path = s"$dir/events.parquet"
    writeFixture(dir, lit(us * 1000L))
    assert(Tables.read(spark, path).schema("ts").dataType == LongType)
    assert(loadedMicros(dir) == us)

    writeFixture(dir, timestamp_micros(lit(us)).cast(TimestampNTZType))
    assert(Tables.read(spark, path).schema("ts").dataType == TimestampNTZType)
    assert(loadedMicros(dir) == us)

    import spark.implicits._
    Seq((1L, 7L, "view", 1.0, "{}", "x"))
      .toDF("event_id", "user_id", "event_type", "value", "props", "extra")
      .withColumn("ts", timestamp_micros(lit(us)))
      .write.mode("overwrite").parquet(path)
    val df = Tables.t(spark, dir, "events")
    assert(df.columns.contains("extra"), s"extra column missing: ${df.columns.toSeq}")
    assert(df.select("extra").first().getString(0) == "x")
    assert(loadedMicros(dir) == us)
  }

  test("a child session with other parquet confs infers the schema for itself") {
    import spark.implicits._
    // A narrow summary file over a wider data file: without mergeSchema
    // Spark infers from `_common_metadata` alone, with it from every file.
    val path = s"${tmp("graft-schema-child")}/orders.parquet"
    Seq(1L).toDF("id").write.parquet(path)
    val narrow = new java.io.File(path).listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(narrow.toPath, java.nio.file.Paths.get(path, "_common_metadata"))
    Seq((2L, "x")).toDF("id", "extra").write.mode("append").parquet(path)
    assert(Tables.read(spark, path).columns.toSeq == Seq("id"))

    val child = spark.newSession()
    child.conf.set("spark.sql.parquet.mergeSchema", "true")
    val childJobs = JobCount(child) {
      assert(Tables.read(child, path).columns.toSeq == Seq("id", "extra"))
    }
    assert(childJobs >= 1, "the child session must run its own inference")
    val parentJobs = JobCount(spark) {
      assert(Tables.read(spark, path).columns.toSeq == Seq("id"),
        "the parent's entry is untouched by the child's")
    }
    assert(parentJobs == 0)
  }

  test("no parquet read in src/main/scala bypasses Tables.read outside the allow-list") {
    // whitespace-free spellings that keep Spark's own inference, by file
    val allowed = Map(
      // the union schema of the schema-evolved fixture needs its footers merged
      "Ingest.scala" -> Seq(""".read.option("mergeSchema","true").parquet(evolvedDocsPath("""),
      // q49 reads the bloom-selected files of one table: many paths, one read
      "Layout.scala" -> Seq(".read.parquet(sel:_*)"),
    )
    val read = """\.read(?:\.option\([^()]*\))*\.(?:parquet\(|format\("parquet"\))""".r
    val offenders = SourceScan()
      .filterNot(_._1.getFileName.toString == "core.scala") // Tables itself
      .filterNot(_._1.getParent.getFileName.toString == "bench") // bench mains
      .flatMap { case (p, text) =>
        val name = p.getFileName.toString
        val src = text.replaceAll("\\s+", "")
        read.findAllMatchIn(src)
          .map(m => src.substring(m.start, math.min(src.length, m.end + 40)))
          .filterNot(site => allowed.getOrElse(name, Nil).exists(site.startsWith))
          .map(site => s"$name: $site")
      }
    assert(offenders.isEmpty,
      s"parquet read outside Tables.read — route it through the schema cache: $offenders")
  }
}
