package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine query: a Spark-native implementation plus (when expressible)
  * an equivalent ANSI-SQL oracle the driver runs in DuckDB over the same
  * parquet tables. Column names are aligned between the two by contract
  * (the driver's compare sorts columns by name before hashing).
  *
  * `benchRun` (rare): a production-path spelling the BENCH times when the
  * oracle-checkable `run` carries verification apparatus the operator
  * itself never pays — q26's exact `countDistinct` twin exists only to
  * let DuckDB assert the sketch's accuracy, and billing it to the bench
  * cell graded the oracle harness, not the sketch (VERDICT r11 item 4).
  * Verify ALWAYS runs `run`; a `benchRun` must keep the same result
  * cardinality so the bench's row-count gate still applies.
  *
  * `benchHeadline = false` (rare): the cell runs under Verify (full
  * oracle contract) but is excluded from the bench's headline total —
  * for pedagogical twins whose cost profile is the documented TAX of a
  * technique, not a production plan (q67's whole-side ×S salt; q67b is
  * the production spelling and keeps the headline cell — VERDICT r11
  * item 5).
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    benchRun: Option[(SparkSession, String) => DataFrame] = None,
    benchHeadline: Boolean = true,
) {
  /** The spelling the bench (and scale probe) times. */
  def benched: (SparkSession, String) => DataFrame = benchRun.getOrElse(run)
}

/** Cross-engine aggregation recipes shared by every query module. */
object Agg {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.sum
  import org.apache.spark.sql.types.DecimalType

  /** DECIMAL(30, scale), the one money-decimal type: wide enough that
    * no money sum overflows. `MoneyDecimalSpec` fails on any other
    * `DecimalType(30` in `src/main/scala`.
    */
  def moneyType(scale: Int): DecimalType = DecimalType(30, scale)

  /** `CAST(c AS DECIMAL(30, scale))`, the one money-decimal spelling;
    * DuckDB's twin is the plain `CAST(x AS DECIMAL(30,s))`.
    */
  def money(c: Column, scale: Int = 2): Column = c.cast(moneyType(scale))

  /** Exact sum of a fixed-decimal money column, returned as DOUBLE —
    * the one way a Spark sum hash-matches DuckDB's at any parallelism:
    * the per-row [[money]] cast makes the sum order-insensitive (double
    * summation reorders under partial aggregation and drifts in the last
    * ulp), and the final cast back to double renders identically in both
    * engines. The oracle twin is
    * `CAST(sum(CAST(x AS DECIMAL(30,s))) AS DOUBLE)`.
    */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(money(c, scale)).cast("double")
}

/** The one sanctioned way for OPERATOR code to pull rows to the driver.
  *
  * Legitimate driver-side state in this engine is index METADATA whose
  * size is fixed by named constants, never by the corpus — q31's stratum
  * counts (≤ the return-flag domain), s8's probe cells
  * (AuditQueries·NProbe). Routing those pulls through here makes the
  * bound executable: a future edit that turns a metadata read into a
  * data collect fails at runtime with the site's name, and
  * `DriverScalarBoundSpec` pins (a) this guard's behavior and (b) that
  * no raw `.collect()` exists in operator sources outside it.
  */
object BoundedCollect {
  def rows(df: DataFrame, bound: Int, what: String): Array[org.apache.spark.sql.Row] = {
    val r = df.collect()
    require(r.length <= bound,
      s"$what pulled ${r.length} driver-side rows (bound $bound): " +
        "driver-side state must stay corpus-size-independent")
    r
  }
}

/** Shuffle/spill scratch location for the single-node mains.
  *
  * A cluster deployment puts `spark.local.dir` on local NVMe; the
  * single-node twin of that is RAM-backed tmpfs. This matters here
  * because the container's virtual disk can degrade to ~13 MB/s with
  * ~7 ms small-file latency (measured round 4), at which point every
  * shuffle write bills storage, not the operator under test — q2-class
  * queries inflated 20× while pure-CPU kernels were unaffected. The
  * data volumes at the bench SFs (≪1 GB of shuffle files) are far below
  * the tmpfs size, and results/parquet outputs still go wherever the
  * caller pointed them.
  */
object Scratch {
  /** md5 hex of `key`: a collision-proof digest for naming persisted
    * artifacts. A String hashCode is 31 bits — two corpus dirs that
    * collide would silently serve each other's persisted layout (the
    * done marker can't tell them apart). Disk memos name their
    * artifacts by [[CorpusCache.fingerprint]], which is this digest of
    * the corpus' file listing.
    */
  def pathKey(key: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The one disk memo: every fixture, layout and index built once and
    * served from `path` afterwards. Returns `path`, built unless it
    * holds the done marker. The build writes into the staging dir it
    * is given (`path.build`, wiped first); the memo then writes the
    * marker into it and renames it to `path`. So `path` exists only
    * complete, whatever the number of write steps (Spark's `_SUCCESS`
    * lands after the first of them), a build that throws leaves no
    * `path`, and a later call wipes its debris and builds again.
    *
    * Serialized on this object so concurrent callers never
    * double-write. The lock is reentrant: a build may resolve another
    * memo (q39's and s13's compactions read their source layouts).
    */
  def buildOnce(path: String)(build: String => Unit): String = this.synchronized {
    val dest = new java.io.File(path)
    if (!new java.io.File(dest, Ready).isFile) {
      val staging = new java.io.File(path + ".build").getAbsoluteFile
      deleteTree(staging)
      build(staging.getPath)
      java.nio.file.Files.createDirectories(staging.toPath)
      java.nio.file.Files.writeString(new java.io.File(staging, Ready).toPath, "")
      deleteTree(dest) // a markerless dir: debris of an unstaged build
      require(staging.renameTo(dest), s"failed to publish $staging to $path")
    }
    path
  }

  private val Ready = "_GRAFT_READY"

  /** Delete `f` and everything under it; a missing `f` is a no-op. */
  private[graft] def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteTree)
    f.delete()
  }

  /** This application's memo path for the artifact `name` derived from
    * corpus `dir`: under the JVM's applicationId, so concurrent JVMs
    * never clobber each other, and named by the corpus'
    * [[CorpusCache.fingerprint]], so a corpus rewritten in place gets a
    * fresh artifact. The application's dir is removed when its context
    * stops; the memos shared across JVMs (`rgfix`, `graft-lake2`,
    * `graft-sweep-pq`) live outside it and stay.
    */
  def appPath(s: SparkSession, dir: String, name: String): String =
    s"${appDir(s.sparkContext)}/${name}_${CorpusCache.fingerprint(s, dir)}"

  private val appsWatched = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def appDir(sc: org.apache.spark.SparkContext): String = {
    val d = new java.io.File(s"${this.dir}/app-${sc.applicationId}")
    if (appsWatched.add(sc.applicationId))
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          Scratch.synchronized(deleteTree(d))
      })
    d.getPath
  }

  def dir: String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) {
      val d = new java.io.File(shm, "graft-spark-scratch")
      d.mkdirs()
      d.getAbsolutePath
    } else System.getProperty("java.io.tmpdir")
  }
}

/** The one per-corpus cache: every artifact an operator derives from a
  * corpus directory and reuses inside a session — persisted index
  * tables, index-metadata scalars, resolved table relations — lives
  * here. This is the in-session reuse of incremental top-k similarity
  * search (EDBT 2020): build an index once, serve every later query
  * from it.
  * The contract:
  *
  *  - The key is (session, corpus dir, artifact name). A child session
  *    from `newSession()` gets its own entries. Entries of stopped
  *    sessions are swept on every access; their cache died with them.
  *  - An entry is valid while its dir's [[fingerprint]] is unchanged:
  *    an md5 of every file under the dir with its size and mtime. A
  *    corpus rewritten in place changes it. The first access after the
  *    rewrite drops EVERY entry of that dir built under the old listing,
  *    in every session, before it builds: Spark's cache manager is
  *    shared by a context's sessions and matches plans by their paths,
  *    so a stale persisted table left in it would serve a fresh plan.
  *  - An entry's `salt` (the non-file inputs of its value, such as
  *    session confs) must match too, or the entry is rebuilt.
  *  - [[table]] values are persisted and counted eagerly (a lazy
  *    persist lets the branches of a self-join race to fill the cache,
  *    each recomputing the upstream — measured 3× slower). A dropped or
  *    released table is unpersisted.
  *  - The build runs only on a miss, so a name must carry every input of
  *    its value besides the corpus (`q50.rng$v1-$v2`).
  *  - A dir that cannot be listed is built uncached, so the build raises
  *    its own error for it. A failed build caches nothing.
  *  - [[release]] drops a dir's entries (and those under it) in every
  *    session: phase teardown, not correctness — a rewrite needs none.
  *
  * The listing uses `FileSystem.listStatus`, recursing into
  * directories. `listFiles` returns `LocatedFileStatus`, which on the
  * local file system loads permissions by forking a process per file;
  * built that way a fingerprint cost more than the jobs it saves.
  */
object CorpusCache {
  import org.apache.hadoop.fs.Path
  import org.apache.spark.storage.StorageLevel

  /** One (session, dir)'s entries, name → (salt, value), all built
    * under the listing `fingerprint`.
    */
  private final class Corpus(val fingerprint: String) {
    val values = scala.collection.concurrent.TrieMap.empty[String, (String, Any)]
  }

  private val corpora = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Corpus]

  /** md5 of dir's sorted (path, size, mtime) listing — a digest, so an
    * entry stays a few bytes whatever the file count — or None when the
    * dir cannot be listed.
    */
  private def listing(s: SparkSession, dir: String): Option[String] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    def walk(p: Path): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else Seq(s"${st.getPath}\t${st.getLen}\t${st.getModificationTime}")
      }
    try Some(Scratch.pathKey(walk(root).sorted.mkString("\n")))
    catch { case _: java.io.IOException => None }
  }

  /** The dir's listing fingerprint, for naming disk memos of artifacts
    * derived from it: a corpus regenerated at the same path gets a new
    * name, so its layouts are rebuilt, not served stale.
    */
  def fingerprint(s: SparkSession, dir: String): String =
    listing(s, dir).getOrElse(
      throw new java.io.FileNotFoundException(s"corpus dir $dir cannot be listed"))

  private def unpersist(value: Any): Unit = value match {
    case d: org.apache.spark.sql.Dataset[_] => d.unpersist(false)
    case _ =>
  }

  private def drop(key: (SparkSession, String)): Unit =
    corpora.remove(key).foreach(_.values.values.foreach(e => unpersist(e._2)))

  /** The artifact `name` of (s, dir), built if absent or stale. */
  def apply[T](s: SparkSession, dir: String, name: String, salt: String = "")(build: => T): T = {
    corpora.keys.filter(_._1.sparkContext.isStopped).foreach(corpora.remove)
    listing(s, dir) match {
      case None => build
      case Some(fp) =>
        val c = corpora.get((s, dir)) match {
          case Some(c) if c.fingerprint == fp => c
          case _ =>
            corpora.filter { case ((_, d), c) => d == dir && c.fingerprint != fp }
              .keys.foreach(drop)
            corpora.getOrElseUpdate((s, dir), new Corpus(fp))
        }
        c.values.get(name) match {
          case Some((`salt`, v)) => v.asInstanceOf[T]
          case old =>
            old.foreach(e => unpersist(e._2))
            val v = build
            c.values.put(name, (salt, v))
            v
        }
    }
  }

  /** A derived table of (s, dir), persisted and built eagerly on a miss. */
  def table(s: SparkSession, dir: String, name: String)(build: => DataFrame): DataFrame =
    apply(s, dir, name) {
      val p = build.persist(StorageLevel.MEMORY_AND_DISK)
      p.count() // eager: one fill, then pure cache reads
      p
    }

  /** Drop every session's entries for `dir` and the paths under it,
    * unpersisting its tables.
    */
  def release(dir: String): Unit = {
    val under = dir.stripSuffix("/") + "/"
    corpora.keys.filter { case (_, d) => d == dir || d.startsWith(under) }.foreach(drop)
  }

  /** Whether (s, dir) holds an entry `name`, valid or not. */
  private[graft] def contains(s: SparkSession, dir: String, name: String): Boolean =
    corpora.get((s, dir)).exists(_.values.contains(name))
}

/** Table loader for the driver testdata layout (`TESTDATA.md`):
  * one parquet file per table under the scale-factor directory.
  *
  * Every plain single-path parquet read in operator code goes through
  * [[read]], which resolves a table once per session. Spark's
  * `read.parquet(path)` launches a footer-reading schema-inference job
  * on every call (74.5 ms min on `lineitem`, against 9.7 ms with the
  * schema supplied), and even with the schema supplied each call
  * resolves the data source and lists its files again (1.3–4.1 ms a
  * read of the sf0.1 bench layout, against 0.2–0.9 ms for a Dataset
  * over the kept relation). So the analyzed relation of
  * `spark.read.schema(inferred).parquet(path)` is a [[CorpusCache]]
  * entry of the table's own path: a table rewritten in place is
  * resolved again, and the session's schema-affecting parquet confs
  * join its fingerprint, so a flipped conf (or a child session's own)
  * resolves again too. Each read is a Dataset over the relation's
  * `newInstance()`, whose fresh attribute ids keep the two sides of a
  * self-join distinct.
  *
  * Two reads keep Spark's inference on purpose: the `mergeSchema` read
  * of the schema-evolved fixture (`Ingest`) and the multi-path read of
  * q49's selected files (`Layout`). `TablesSpec` fails on any other
  * `.read.parquet(` in `src/main/scala` outside this object.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session confs that change what parquet schema inference returns. */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles")

  /** `spark.read.parquet(path)`, resolved once per (session, path) and
    * fingerprint (see the object's scaladoc).
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
    val confs = SchemaConfs.map(k => s"$k=${spark.conf.getOption(k)}").mkString("\n")
    val relation = CorpusCache(spark, path, "relation", salt = confs) {
      val schema = spark.read.parquet(path).schema
      spark.read.schema(schema).parquet(path).queryExecution.analyzed match {
        case r: MultiInstanceRelation => r
        case p => throw new IllegalStateException(s"the read of $path is no relation: ${p.nodeName}")
      }
    }
    org.apache.spark.sql.GraftSql.ofRows(spark, relation.newInstance())
  }

  /** NOTE on scan parallelism: a parquet ROW GROUP is the unit of scan
    * parallelism (byte-range splits cannot subdivide one), and every
    * driver testdata table is a single row group — so every scan here is
    * ONE task. A blanket re-shard after the scan was tried and REVERTED:
    * for plain scan→filter→agg queries the extra shuffle of the raw rows
    * costs more than the parallelism buys at gate scale (bench total
    * 53 s → 78 s). Re-sharding pays only when downstream work per row is
    * LARGE — explode/hash amplification — which is why only those
    * pipelines re-shard, at their own call sites (`Dedup.docsSharded`).
    * Round 14: the BENCH no longer reads this degenerate layout — it
    * times a content-identical multi-file relayout
    * (`graft.bench.RgFixture`), so its scans split like a real table's;
    * Verify/oracle runs still read the driver files directly.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark)(read(spark, s"$dir/$name.parquet"))
    else read(spark, s"$dir/$name.parquet")

  /** The `events` table `load` reads, batch or stream, with `ts` as the
    * session-zoned TIMESTAMP. `ts` has shipped as TIMESTAMP(NANOS), which
    * Spark 4 reads only as a long under `nanosAsLong` (set here before
    * `load`), and as TIMESTAMP(MICROS) without a timezone, which Spark
    * reads as TIMESTAMP_NTZ (rejected by unix_micros and friends).
    */
  def events(spark: SparkSession)(load: => DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load
    raw.schema("ts").dataType match {
      // nanos-as-long: truncate to micros (what DuckDB's epoch_us does)
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // The session timezone is pinned UTC by every main, so this cast is
      // a pure reinterpretation of the same micros value and matches
      // DuckDB's epoch_us on the identical parquet bytes.
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
}
