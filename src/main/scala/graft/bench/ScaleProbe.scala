package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only scale probe (VERDICT r9 item 9): one measured datapoint
  * ABOVE the bench SF per heavy cell, so the written 100 TB scale-shape
  * arguments become observed scaling exponents instead of plan-audit
  * claims.
  *
  * The scaled corpus is R stacked replicas of the sf0.1 tables with
  * replica-disjoint content — the "linear content growth" model a real
  * 10× corpus follows, NOT R exact copies (exact copies would inflate
  * every LSH band bucket R-fold and measure a quadratic artifact of the
  * replication itself, not the operator):
  *
  *  - `documents.text` is letter-SUBSTITUTED per replica (`translate`
  *    with a replica-specific cycle of the 26 lowercase letters, see
  *    [[alphaPerm]]): length-preserving (so the stored `n_chars` stays
  *    truthful), deterministic (so dup structure WITHIN a replica is
  *    preserved exactly), and any letter-bearing shingle differs from
  *    replica 0's copy with pairwise cross-replica collisions
  *    negligible (so replicas share essentially no shingles/spans —
  *    each contributes its own independent dup structure, which is
  *    what linear growth means).
  *  - integer keys (`doc_id`, `vec_id`, `o_orderkey`, `l_*key`) shift
  *    by replica·(max+1), so per-replica lakes/logs/clusters stay
  *    disjoint; `source`/`lang`/`label` domains stay FIXED — at 100 TB
  *    the domain census grows far slower than the corpus, and p8's
  *    fixpoint graph is deliberately domain-cardinality-scale.
  *  - `embeddings` vectors sign-flip a replica-specific pseudo-random
  *    coordinate subset: norms and within-replica cosines are
  *    preserved EXACTLY, cross-replica cosines decorrelate — linear
  *    similarity-structure growth, not R duplicates of every vector.
  *  - customer/part/supplier keys shift with the facts (referential
  *    integrity holds across the scaled star); `events` replicas shift
  *    event/user ids (R× the users over the same time range);
  *    region/nation copy through unchanged.
  *
  * Protocol per factor: build dir (untimed) → index prewarm (timed as
  * its own row — the shared shingle/IVF builds ARE corpus work, just
  * billed outside cells exactly like Bench) → per cell 2 adjacent runs,
  * min. noise_cal documents the host window per factor. Output: one
  * JSON line per (factor, cell) plus fitted exponents
  * log(t_R/t_1)/log(R) against each cell's predicted slope.
  */
object ScaleProbe {
  val Cells: Seq[String] = Seq(
    "d8_span_dedup", "q52_snapshot_expiry", "p8_domain_rank",
    "q65_kmv_ndv", "q58_wap", "s14_mmr_diversify", "q43_time_travel",
    "q26_approx_distinct",
    // round 11 (VERDICT r10 item 4): the e-family heavyweights — their
    // events input now scales too (id-shifted replicas: more users,
    // same time range = linear traffic growth) — plus one more
    // s-family cell (IVF-PQ probes over the sign-flip-decorrelated
    // embedding replicas)
    "e14_watermark_audit", "e22_session_window", "e26_stream_trending",
    "s7_knn_ivfpq")

  /** Per-cell shared-index dependencies (ADVICE r11): prewarm used to be
    * gated on cell-NAME prefixes (d/q65 → dedup, s → similarity),
    * which silently bills the index build to the first timed sample of
    * any future cell whose name doesn't match its dependency — an
    * exponent-corrupting foot-gun on narrowed `--cells` runs. The map is
    * the explicit contract: a cell reads exactly the indexes listed
    * here. Cells NOT in the map get the conservative fallback (prewarm
    * whatever the dir's tables support, with a stderr note) so a new
    * cell is never silently billed; adding it here is part of adding it
    * to [[Cells]].
    */
  private[bench] val PrewarmDeps: Map[String, Seq[String]] = Map(
    "d8_span_dedup" -> Seq("dedup"),
    "q65_kmv_ndv" -> Seq("dedup"), // sourceHashes rides the shared shingle index
    "s7_knn_ivfpq" -> Seq("sim"),
    "s14_mmr_diversify" -> Seq("sim"),
    "q52_snapshot_expiry" -> Seq.empty,
    "p8_domain_rank" -> Seq.empty,
    "q58_wap" -> Seq.empty,
    "q43_time_travel" -> Seq.empty,
    "q26_approx_distinct" -> Seq.empty,
    "e14_watermark_audit" -> Seq.empty,
    "e22_session_window" -> Seq.empty,
    "e26_stream_trending" -> Seq.empty,
  )

  private[bench] val Alphabet = "abcdefghijklmnopqrstuvwxyz"

  /** Replica i's full-alphabet substitution: a seeded random CYCLE over
    * the 26 lowercase letters (Sattolo's algorithm), so replica 0 is
    * identity and every replica ≥ 1 is a derangement — EVERY letter
    * moves, so any letter-bearing shingle in replica i ≥ 1 differs from
    * replica 0's copy, guaranteed. PAIRWISE (i, j ≥ 1) disjointness is
    * statistical, not guaranteed: two replicas share a shingle only if
    * their cycles agree on every distinct letter in it, and two
    * independent seeded cycles agree on any single letter with
    * probability ~1/26 — a ~10-distinct-letter shingle collides with
    * probability < 26^-9 (ADVICE r10: the old 5-vowel derangement pool
    * only guaranteed disjointness against replica 0, wrapped at 45
    * replicas, and its doc overclaimed pairwise disjointness).
    * [[buildDir]] asserts all r perms are at least pairwise DISTINCT.
    */
  private[bench] def alphaPerm(i: Int): String = {
    val a = Alphabet.toCharArray
    if (i == 0) return new String(a)
    var x = 0x9E3779B97F4A7C15L * (i + 1)
    def next(n: Int): Int = {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      ((x >>> 33) % n).toInt
    }
    // Sattolo: swap a(k) with a uniformly-drawn j < k — yields a single
    // 26-cycle, which has no fixed point by construction
    var m = a.length - 1
    while (m > 0) {
      val j = next(m)
      val t = a(m); a(m) = a(j); a(j) = t
      m -= 1
    }
    new String(a)
  }

  private def keyCols(name: String): Seq[String] = name match {
    case "documents" => Seq("doc_id")
    case "embeddings" => Seq("vec_id")
    case "orders" => Seq("o_orderkey", "o_custkey")
    case "lineitem" => Seq("l_orderkey", "l_partkey", "l_suppkey")
    // dims shift too, so replica≥1 fact keys keep resolving (referential
    // integrity holds across the whole scaled star, not just the probed
    // cells' joins)
    case "customer" => Seq("c_custkey")
    case "part" => Seq("p_partkey")
    case "supplier" => Seq("s_suppkey")
    // events scale as id-shifted replicas: R× the users emitting the
    // same traffic shape over the SAME time range — lateness/session/
    // hour-bucket distributions are preserved while per-hour and
    // per-watermark state volume grows linearly, which is what the
    // e-family's scale claims are about (round 11; previously events
    // copied through unscaled and the e-cells had no 10× datapoint)
    case "events" => Seq("event_id", "user_id")
    case _ => Seq.empty
  }

  /** Per-replica deterministic SIGN-FLIP pattern for embedding vectors:
    * flipping a replica-specific pseudo-random subset of coordinates
    * preserves norms and all WITHIN-replica cosines exactly (both sides
    * of a dot product flip together), while cross-replica cosines
    * decorrelate — so each replica contributes its own independent
    * similarity structure instead of 9 exact duplicates of every
    * vector, matching the linear-content-growth model the text
    * perturbation provides for documents. Replica 0 is identity.
    */
  private def flipVec(vec: org.apache.spark.sql.Column, i: Int): org.apache.spark.sql.Column =
    if (i == 0) vec
    else {
      import org.apache.spark.sql.functions.{transform => atransform}
      atransform(vec, (x, j) =>
        when(pmod(j * lit(2654435761L) + lit(i.toLong * 1013904223L), lit(97L)) < 48,
          -x).otherwise(x))
    }

  /** Stack R content-disjoint replicas of `name` into `outDir`. */
  private def buildTable(
      s: SparkSession, baseDir: String, outDir: String, name: String, r: Int): Unit = {
    val base = graft.Tables.t(s, baseDir, name)
    val keys = keyCols(name)
    if (keys.isEmpty && name != "documents") {
      // unscaled pass-through (dims, events): byte-copy the single file
      import java.nio.file.{Files, Paths, StandardCopyOption}
      Files.copy(Paths.get(s"$baseDir/$name.parquet"),
        Paths.get(s"$outDir/$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
      return
    }
    val strides: Map[String, Long] = keys.map { k =>
      k -> (base.agg(max(col(k))).head().getLong(0) + 1L)
    }.toMap
    val replicas = (0 until r).map { i =>
      val shifted = keys.foldLeft(base) { (df, k) =>
        df.withColumn(k, col(k) + lit(strides(k) * i))
      }
      if (name == "documents")
        shifted.withColumn("text",
          translate(col("text"), Alphabet, alphaPerm(i)))
      else if (name == "embeddings")
        shifted.withColumn("embedding",
          flipVec(col("embedding"), i).cast("array<float>"))
      else shifted
    }
    replicas.reduce(_ unionByName _)
      .repartition(math.max(4, r)) // multi-file output = scan parallelism at R×
      .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
  }

  def buildDir(s: SparkSession, baseDir: String, outRoot: String, r: Int,
      only: Option[Seq[String]] = None): String = {
    val perms = (0 until r).map(alphaPerm)
    require(perms.distinct.size == r,
      s"alphaPerm produced colliding substitutions for r=$r") // seeded cycles: astronomically unlikely
    val outDir = s"$outRoot/x$r"
    new java.io.File(outDir).mkdirs()
    graft.Tables.names.filter(n => only.forall(_.contains(n)))
      .foreach(n => buildTable(s, baseDir, outDir, n, r))
    outDir
  }

  private def noiseCal(): Double = {
    def once(): Double = {
      var x = 0x9E3779B97F4A7C15L; var sum = 0L; var i = 0
      val t0 = System.nanoTime()
      while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; sum += x; i += 1 }
      if (sum == 42) System.err.println("")
      (System.nanoTime() - t0) / 1e6
    }
    Seq.fill(3)(once()).min
  }

  def main(args: Array[String]): Unit = {
    // `ScaleProbe [factor...] [--cells=a,b] [--tables=t1,t2]` — cells
    // narrows the probe (e.g. ONE cell at 100×), tables narrows the dir
    // build to what that cell reads (a 100× all-tables build would bill
    // minutes of fixture writes to a one-cell probe)
    val (flags, pos) = args.partition(_.startsWith("--"))
    def flag(name: String): Option[Seq[String]] =
      flags.find(_.startsWith(s"--$name=")).map(_.drop(name.length + 3).split(',').toSeq)
    val cells = flag("cells").getOrElse(Cells)
    // benched spelling, like Bench: the probe measures the production
    // path (q26's sketch, not its oracle-apparatus exact twin)
    val cellRun: Map[String, (SparkSession, String) => DataFrame] =
      graft.SparkEntry.inventory.map(q => q.name -> q.benched).toMap
    cells.foreach(c => require(cellRun.contains(c), s"unknown cell $c"))
    val onlyTables = flag("tables")
    val factors = if (pos.nonEmpty) pos.map(_.toInt).toSeq else Seq(1, 10)
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outRoot = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      new java.io.File("target/scaleprobe").getAbsolutePath)
    val spark = graft.Session.local()

    // JIT warm pass at the smallest SF, exactly like Bench's warmup
    val warmDir = "/root/testdata/sf0.001"
    cells.foreach { n =>
      try cellRun(n)(spark, warmDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[scale] warm $n: ${e.getMessage}") }
    }

    val results = scala.collection.mutable.LinkedHashMap
      .empty[(Int, String), Double]
    val cals = scala.collection.mutable.LinkedHashMap.empty[Int, Double]
    factors.foreach { r =>
      val dir = if (r == 1) baseDir else buildDir(spark, baseDir, outRoot, r, onlyTables)
      cals(r) = noiseCal()
      val t0 = System.nanoTime()
      // prewarm exactly what the probed cells read, per the explicit
      // dependency map; unmapped cells fall back to prewarming whatever
      // the dir's tables support (a documents-only 100× dir has no
      // embeddings table for the similarity prewarm to scan)
      val unmapped = cells.filterNot(PrewarmDeps.contains)
      unmapped.foreach(c => System.err.println(
        s"[scale] $c not in PrewarmDeps: prewarming conservatively — map it"))
      val hasDocs = new java.io.File(s"$dir/documents.parquet").exists()
      val hasEmb = new java.io.File(s"$dir/embeddings.parquet").exists()
      val deps = cells.flatMap(c => PrewarmDeps.getOrElse(c,
        Seq("dedup", "sim"))).toSet
      if (deps("dedup") && hasDocs) graft.pipeline.Dedup.prewarmIndexes(spark, dir)
      if (deps("sim") && hasEmb) graft.pipeline.Similarity.prewarmIndexes(spark, dir)
      results((r, "index_prewarm")) = (System.nanoTime() - t0) / 1e9
      cells.foreach { n =>
        val q = cellRun(n)
        def once(): Double = {
          System.gc()
          val t = System.nanoTime()
          try {
            q(spark, dir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t) / 1e9
          } catch { case e: Throwable =>
            System.err.println(s"[scale] $n x$r failed: ${e.getMessage}"); -1.0
          }
        }
        val samples = Seq(once(), once()).filter(_ >= 0)
        results((r, n)) = if (samples.isEmpty) -1.0 else samples.min
        System.err.println(f"[scale] x$r $n: ${results((r, n))}%.2f s")
      }
      graft.CorpusCache.release(dir)
    }
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    val rows = results.map { case ((r, n), v) => s"""{"factor":$r,"cell":"$n","sec":${num(v)}}""" }
    rows.foreach(println)
    val r0 = factors.min
    factors.filter(_ != r0).foreach { r =>
      (cells :+ "index_prewarm").foreach { n =>
        val t1 = results.getOrElse((r0, n), -1.0)
        val tr = results.getOrElse((r, n), -1.0)
        if (t1 > 0 && tr > 0) {
          val exp = math.log(tr / t1) / math.log(r.toDouble / r0)
          println(s"""{"cell":"$n","from":$r0,"to":$r,"ratio":${num(tr / t1)},"exponent":${num(exp)}}""")
        }
      }
    }
    println(s"""{"noise_cal_ms":{${cals.map { case (k, v) => s""""x$k":${num(v)}""" }.mkString(",")}}}""")
    spark.stop()
  }
}
