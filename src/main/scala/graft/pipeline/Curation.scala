package graft.pipeline

import graft.{CorpusCache, Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** p1: the end-to-end training-data curation pipeline — the composition
  * every other operator family exists to serve, expressed as ONE
  * declarative query so Catalyst plans the whole flow:
  *
  *   per-doc features (t1 lang-ID, t2 length gate, t3 token counts,
  *   t4/d1 fingerprint)
  *     → quality gate (length window)
  *     → exact dedup (keep the lowest doc_id per fingerprint)
  *     → near-dup removal (cluster the d5-verified near-dup pairs among
  *       the survivors by connected components and keep exactly the
  *       lowest-id member of each cluster)
  *     → manifest (surviving doc_id, predicted language, token counts).
  *
  * Scale shape, stage by stage: the feature stage is per-document
  * (shuffle-free, WholeStageCodegen regex/split column algebra); the
  * exact-dedup stage is one shuffle on `fingerprint` (a windowed
  * row_number — state per group is one counter, no groupBy+self-join
  * re-shuffle); the near-dup stage reuses the session's materialized
  * shingle index and LSH candidate table (built once, see [[Dedup]]) and
  * clusters only the verified PAIR set ([[Cluster]] — |near-dups|-sized
  * by construction, never the corpus). The surviving corpus (`uniq`) is
  * the pipeline's product and is read twice (once to scope the dup
  * clusters, once as the anti-join's left side), so it is MATERIALIZED —
  * the gate + window compute once and both readers scan the cache, the
  * same write-then-reuse a 100 TB deployment does with its curated
  * output. The only corpus-sized shuffle is the fingerprint dedup, which
  * is irreducible (exact dedup IS a group-by-fingerprint), and the
  * manifest writes out pruned columns, never `text`.
  *
  * Retention semantics (pinned by CurationSpec): removal acts on
  * CLUSTERS, not raw pairs. A doc is dropped iff it is a non-canonical
  * (non-minimum-id) member of a connected component of verified-dup
  * pairs whose endpoints BOTH survived the gate + exact dedup. Chains
  * (1~2, 2~3) therefore keep exactly doc 1 — the round-3 per-pair rule
  * dropped doc 3 because its keeper 2 was in `uniq` at evaluation time
  * even though 2 itself was removed, losing 3's content with no
  * surviving near-copy it was verified against. Pairs with a gated-out
  * endpoint contribute no edge: content whose only keeper never made it
  * into the corpus stays.
  *
  * The loser anti-join carries NO broadcast hint: on the duplicate-heavy
  * crawl corpora dedup exists for, near-dup losers can be a large corpus
  * fraction, and a forced broadcast is an executor-OOM bomb at scale.
  * AQE sees the loser side's runtime size and broadcasts exactly when it
  * is actually small (it is, at every gate SF).
  */
object Curation {
  import Tables.t
  import Text.{langCountCols, langCountsSql, predLangCol, predLangSql}

  private[graft] val MinWords = 20
  private[graft] val MaxWords = 1000

  /** p2's "yesterday's crawl": the sources treated as the incoming
    * delta; everything else is the already-curated lake.
    */
  private[graft] val DeltaSources = Seq("src18", "src19")
  private[graft] def deltaSourcesSql = DeltaSources.map(s => s"'$s'").mkString(", ")

  /** Shared oracle CTE block — per-doc features + the quality gate, the
    * SQL twin of the feature/gate columns p1/p2/p3 all apply. ONE
    * spelling: the fingerprint/gate rules must not be able to drift
    * between the pipeline oracles.
    */
  private[graft] def featsGatedCtesSql: String = s"""feats AS (
          SELECT doc_id, source,
                 $langCountsSql,
                 CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS INT) AS n_words,
                 CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS bpe_tokens,
                 ${Portable.normFingerprintSql("text")} AS fingerprint
          FROM documents),
        gated AS (
          SELECT *, $predLangSql AS pred_lang
          FROM feats WHERE n_words BETWEEN $MinWords AND $MaxWords)"""

  /** Offset added to delta doc_ids in the mixed components run: every
    * mapped delta id sits above every lake id, so a cluster's min label
    * is a lake doc whenever one belongs — the lake-wins rule as plain
    * min-label propagation. Far above any real doc_id (ids are
    * corpus-row-scaled; 2^40 ≈ 10^12).
    */
  private[graft] val DeltaOffset = 1L << 40

  def all: Seq[Q] = Seq(
    Q(
      "p1_curation",
      (s, dir) => {
        val feats = t(s, dir, "documents").select(
          col("doc_id") +: langCountCols :+
            Portable.nWords(col("text")).as("n_words") :+
            Portable.bpeTokens(col("text")).as("bpe_tokens") :+
            Portable.normFingerprint(col("text")).as("fingerprint"): _*)
        val gated = feats
          .filter(col("n_words").between(MinWords, MaxWords))
          .withColumn("pred_lang", predLangCol)
        val uniq = CorpusCache.table(s, dir, "p1.uniq")(gated
          .withColumn("rn",
            row_number().over(Window.partitionBy("fingerprint").orderBy("doc_id")))
          .filter(col("rn") === 1)
          .select("doc_id", "pred_lang", "n_words", "bpe_tokens"))
        val uniqIds = uniq.select("doc_id")
        val dupPairs = Dedup.lshVerifiedPairs(s, dir)
          .filter(col("is_dup"))
          .join(uniqIds.withColumnRenamed("doc_id", "doc1"), "doc1")
          .join(uniqIds.withColumnRenamed("doc_id", "doc2"), "doc2")
          .select("doc1", "doc2")
        val losers = CorpusCache
          .table(s, dir, "p1.cc")(Cluster.minLabelComponents(dupPairs))
          .filter(col("doc_id") =!= col("root"))
          .select("doc_id")
        uniq
          .join(losers, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("pred_lang"), col("n_words"), col("bpe_tokens"))
      },
      Some(s"""
        WITH RECURSIVE ${Dedup.lshVerifiedCtes},
        $featsGatedCtesSql,
        uniq AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
            FROM gated)
          WHERE rn = 1),
        dup AS (
          SELECT v.doc1, v.doc2
          FROM verified v
          JOIN uniq u1 ON v.doc1 = u1.doc_id
          JOIN uniq u2 ON v.doc2 = u2.doc_id
          WHERE v.is_dup),
        ${Cluster.componentsCtes("dup")},
        losers AS (
          SELECT doc_id FROM cc_roots WHERE doc_id <> root)
        SELECT doc_id, pred_lang, n_words, bpe_tokens
        FROM uniq
        WHERE doc_id NOT IN (SELECT doc_id FROM losers)"""),
    ),

    // ---- p2: INCREMENTAL curation — yesterday's crawl (the delta
    //      sources) curated AGAINST the existing lake, without
    //      re-curating the lake. This is the nightly-batch shape of a
    //      100 TB pipeline: the lake is immutable state; only the delta
    //      is gated, deduped and near-dup-checked, and a lake document
    //      ALWAYS beats a delta near-copy (stability — accepted data is
    //      never retroactively displaced by new arrivals).
    //
    //      Rules, in order:
    //        1. gate: p1's language/length gate on delta docs;
    //        2. exact: a delta fingerprint already in the lake is
    //           rejected; within the delta, lowest doc_id per
    //           fingerprint survives;
    //        3. near-dup: verified pairs (the shared d5 artifact) among
    //           lake ∪ surviving delta are clustered by connected
    //           components with delta ids OFFSET ABOVE every lake id —
    //           min-label canonicalization then prefers lake members by
    //           construction — and a delta doc survives only as its
    //           cluster's canonical (no lake member, no lower delta id).
    //
    //      Scale shape: the lake build (base-only p1) is a one-time cost
    //      materialized per corpus — the production lake already exists
    //      on disk; the per-delta work is |delta| feature rows, one
    //      fingerprint hash-join against the lake (broadcast-able: the
    //      fingerprint column, not the corpus), and a components run
    //      over the |near-dup pairs touching lake ∪ delta| edge set —
    //      never corpus-sized. The candidate pairs reuse the session's
    //      shared shingle index/verified table (built once, amortized
    //      across d2–d7/p1/p2), exactly as the lake's index persists
    //      across nightly runs in production. ----
    Q(
      "p2_delta_curation",
      (s, dir) => {
        val feats = t(s, dir, "documents").select(
          col("doc_id") +: col("source") +: langCountCols :+
            Portable.nWords(col("text")).as("n_words") :+
            Portable.bpeTokens(col("text")).as("bpe_tokens") :+
            Portable.normFingerprint(col("text")).as("fingerprint"): _*)
        val gated = feats
          .filter(col("n_words").between(MinWords, MaxWords))
          .withColumn("pred_lang", predLangCol)
        val isDelta = col("source").isin(DeltaSources: _*)
        // lake = p1 over the base sources only (the state before the
        // delta arrived), fingerprints kept for the exact check
        val baseUniq = CorpusCache.table(s, dir, "p2.lake.uniq")(gated
          .filter(!isDelta)
          .withColumn("rn",
            row_number().over(Window.partitionBy("fingerprint").orderBy("doc_id")))
          .filter(col("rn") === 1)
          .select("doc_id", "fingerprint", "pred_lang", "n_words", "bpe_tokens"))
        val verified = Dedup.lshVerifiedPairs(s, dir).filter(col("is_dup"))
        val baseIds = baseUniq.select("doc_id")
        val basePairs = verified
          .join(baseIds.withColumnRenamed("doc_id", "doc1"), "doc1")
          .join(baseIds.withColumnRenamed("doc_id", "doc2"), "doc2")
          .select("doc1", "doc2")
        val baseLosers = CorpusCache
          .table(s, dir, "p2.lake.cc")(Cluster.minLabelComponents(basePairs))
          .filter(col("doc_id") =!= col("root"))
          .select("doc_id")
        val lake = baseUniq.join(baseLosers, Seq("doc_id"), "left_anti")
        // delta: gate, then exact dedup vs the lake and within itself
        val deltaUniq = gated.filter(isDelta)
          .join(lake.select("fingerprint"), Seq("fingerprint"), "left_anti")
          .withColumn("rn",
            row_number().over(Window.partitionBy("fingerprint").orderBy("doc_id")))
          .filter(col("rn") === 1)
          .select("doc_id", "pred_lang", "n_words", "bpe_tokens")
        // mixed clustering: delta ids offset above every lake id, so the
        // component minimum is a lake doc whenever one is present
        val members = lake.select(col("doc_id"), col("doc_id").as("mid"))
          .unionByName(deltaUniq.select(col("doc_id"),
            (col("doc_id") + DeltaOffset).as("mid")))
        val mixedPairs = verified
          .join(members.select(col("doc_id").as("doc1"), col("mid").as("m1")), "doc1")
          .join(members.select(col("doc_id").as("doc2"), col("mid").as("m2")), "doc2")
          .select(col("m1").as("doc1"), col("m2").as("doc2"))
        val deltaLosers = CorpusCache
          .table(s, dir, "p2.cc")(Cluster.minLabelComponents(mixedPairs))
          .filter(col("doc_id") =!= col("root"))
          .filter(col("doc_id") >= DeltaOffset)
          .select((col("doc_id") - DeltaOffset).as("doc_id"))
        deltaUniq
          .join(deltaLosers, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("pred_lang"), col("n_words"), col("bpe_tokens"))
      },
      Some(s"""
        WITH RECURSIVE ${Dedup.lshVerifiedCtes},
        $featsGatedCtesSql,
        base_uniq AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
            FROM gated WHERE source NOT IN ($deltaSourcesSql))
          WHERE rn = 1),
        base_dup AS (
          SELECT v.doc1, v.doc2
          FROM verified v
          JOIN base_uniq u1 ON v.doc1 = u1.doc_id
          JOIN base_uniq u2 ON v.doc2 = u2.doc_id
          WHERE v.is_dup),
        ${Cluster.componentsCtes("base_dup", "bcc")},
        lake AS (
          SELECT * FROM base_uniq
          WHERE doc_id NOT IN (SELECT doc_id FROM bcc_roots WHERE doc_id <> root)),
        delta_uniq AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
            FROM gated
            WHERE source IN ($deltaSourcesSql)
              AND fingerprint NOT IN (SELECT fingerprint FROM lake))
          WHERE rn = 1),
        members AS (
          SELECT doc_id, doc_id AS mid FROM lake
          UNION ALL
          SELECT doc_id, doc_id + $DeltaOffset FROM delta_uniq),
        mixed AS (
          SELECT m1.mid AS doc1, m2.mid AS doc2
          FROM verified v
          JOIN members m1 ON v.doc1 = m1.doc_id
          JOIN members m2 ON v.doc2 = m2.doc_id
          WHERE v.is_dup),
        ${Cluster.componentsCtes("mixed", "mcc")},
        delta_losers AS (
          SELECT doc_id - $DeltaOffset AS doc_id
          FROM mcc_roots WHERE doc_id <> root AND doc_id >= $DeltaOffset)
        SELECT doc_id, pred_lang, n_words, bpe_tokens
        FROM delta_uniq
        WHERE doc_id NOT IN (SELECT doc_id FROM delta_losers)"""),
    ),

    // ---- p4: deterministic train/val/test split assignment — the
    //      eval-split step every training pipeline runs after curation.
    //      The split is a PURE FUNCTION of a salted document hash
    //      (90/5/5 by thousandths of the portable 60-bit md5), which is
    //      the property production splits need: reproducible across
    //      runs, engines and cluster layouts, no coordination or stored
    //      split table, and newly arriving documents land in a split
    //      without touching the old ones (contrast a row_number cut,
    //      which reshuffles membership whenever the corpus grows). The
    //      salt isolates this hash use from the dedup fingerprints so
    //      correlated hash reuse can't bias the split. Scale: one
    //      narrow, shuffle-free map over the corpus; the per-source
    //      stratification is statistical (hash uniformity within every
    //      stratum), which the oracle verifies document-by-document. ----
    Q(
      "p4_split_assign",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s) // md5_long below
        val h = Portable.md5Long(concat_ws("|", lit("split-v1"), col("doc_id"))) % 1000
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            when(h < 900, "train").when(h < 950, "val").otherwise("test")
              .as("split"))
      },
      Some(s"""
        SELECT doc_id, source,
               CASE WHEN h < 900 THEN 'train'
                    WHEN h < 950 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT doc_id, source,
                     ${Portable.md5LongSql("concat_ws('|', 'split-v1', doc_id)")} % 1000 AS h
              FROM documents)"""),
    ),

    // ---- p5: per-source QUOTA sampling — cap every source at
    //      [[QuotaPerSource]] documents, selected by a deterministic
    //      salted-hash order (not doc_id order, which would bias toward
    //      whatever arrived first; not rand(), which is irreproducible).
    //      This is the mixture-capping step of a training-data pipeline:
    //      after t9 decides the target domain weights, p5 enforces a hard
    //      per-domain ceiling so one crawl-heavy source can't swamp the
    //      mix. The hash salt ("quota-v1") isolates this ordering from
    //      p4's split hash and the dedup fingerprints. Scale shape: the
    //      rank-limit window runs as WindowGroupLimit — every map task
    //      forwards at most QuotaPerSource rows per source BEFORE the
    //      shuffle on source, so shuffle volume is O(sources · quota ·
    //      tasks-touched), never corpus-sized; with ~20 sources the
    //      post-filter result is tiny however large the corpus. ----
    Q(
      "p5_domain_quota",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s) // md5_long below
        val win = org.apache.spark.sql.expressions.Window
          .partitionBy("source")
          .orderBy(col("h").asc, col("doc_id").asc)
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            Portable.md5Long(concat_ws("|", lit("quota-v1"), col("doc_id"))).as("h"))
          .withColumn("rk", row_number().over(win).cast("long"))
          .filter(col("rk") <= QuotaPerSource)
          .select(col("doc_id"), col("source"), col("rk"))
      },
      Some(s"""
        SELECT doc_id, source, rk
        FROM (SELECT doc_id, source,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY ${Portable.md5LongSql("concat_ws('|', 'quota-v1', doc_id)")} ASC,
                                doc_id ASC) AS rk
              FROM documents)
        WHERE rk <= $QuotaPerSource"""),
    ),

    // ---- p6: LEAKAGE-SAFE train/val/test split — p4's hash split with
    //      the one property a dedup-aware pipeline must add: near-dup
    //      CLUSTERS assign atomically. The split hash keys on the d6
    //      component ROOT (singletons root at themselves, so p6 is
    //      bit-identical to p4 outside clusters — LeakageSplitSpec pins
    //      both contracts), which makes it structurally impossible for
    //      one member of a near-dup cluster to land in train while its
    //      twin lands in the eval split — the train/test contamination
    //      d9/d11 exist to detect is prevented at assignment time
    //      instead. Scale shape: the cluster artifact is d6's (built
    //      once); on top it's one corpus join plus a map-side hash —
    //      the same cost as p4 plus one hash join. ----
    Q(
      "p6_leakage_split",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s) // md5_long below
        val h = Portable.md5Long(concat_ws("|", lit("split-v1"), col("root"))) % 1000
        Dedup.corpusRoots(s, dir)
          .select(col("doc_id"), col("root"),
            when(h < 900, "train").when(h < 950, "val").otherwise("test")
              .as("split"))
      },
      Some(s"""
        WITH RECURSIVE ${Dedup.corpusRootsCtes},
        hh AS (SELECT doc_id, root,
                      ${Portable.md5LongSql("concat_ws('|', 'split-v1', root)")} % 1000 AS h
               FROM wr)
        SELECT doc_id, root,
               CASE WHEN h < 900 THEN 'train'
                    WHEN h < 950 THEN 'val'
                    ELSE 'test' END AS split
        FROM hh"""),
    ),

    // ---- p7: TEMPERATURE-SMOOTHED MIXTURE ALLOCATION — the step
    //      between t9's observed domain shares and p5's hard caps:
    //      allocate a fixed document budget across sources with
    //      α = 0.5 temperature (weight ∝ n^α — the standard smoothing
    //      that keeps crawl-scale domains from drowning small
    //      high-quality ones; quotas MAY exceed a small domain's
    //      inventory, which is exactly the oversampling-epochs
    //      behavior trainers run). Arithmetic is engineered for
    //      cross-engine exactness: weights become INTEGER micro-units
    //      via floor(sqrt(n)·10⁶ + 0.5) (sqrt and floor are
    //      IEEE-exact in both engines; a round() spelling diverges on
    //      shortest-repr boundaries), and the budget splits by
    //      integer largest-remainder — base = B·w div ΣW, the
    //      deficit's +1s ranked by integer remainder (source
    //      tie-break) — so Σ quota = B EXACTLY and no float total
    //      ever forms. Scale shape: one map-side-combinable count per
    //      source, then |domains|-row window arithmetic — nothing
    //      after the first aggregate scales with the corpus. ----
    Q(
      "p7_temperature_mix",
      (s, dir) => temperatureAlloc(
        t(s, dir, "documents").groupBy(col("source")).agg(count(lit(1)).as("n_docs"))),
      Some(s"""
        WITH ${allocCtes("source")}
        SELECT source, n_docs, wppm, quota FROM mix"""),
    ),

    // ---- p8: DOMAIN RANK — a link-analysis curation prior (the
    //      CommonCrawl-style "domain PageRank" quality signal) over
    //      the SYNDICATION graph the dedup stage already discovered:
    //      two sources are linked iff some near-dup cluster (d6)
    //      contains documents from both — content flowing between
    //      domains is the only link structure a text corpus carries.
    //      PageRank (d=0.85, 8 fixed iterations) runs in EXACT INTEGER
    //      ppm arithmetic: rank starts at 1e6 div N, each step is
    //      base + (85·Σ contrib) div 100 with contrib = rank div
    //      outdeg — floor division at every site, so Spark and DuckDB
    //      (whose oracle unrolls the 8 iterations as generated CTEs)
    //      agree bit-for-bit; dangling-node mass is deliberately NOT
    //      redistributed (documented leak, identical both engines).
    //      Scale shape: the one corpus-scale piece is cluster→source
    //      projection (rides the materialized d6 component table); the
    //      graph itself is DOMAIN-cardinality and already rode ONE
    //      partition (coalesce(1)), so the fixpoint fuses into ONE
    //      mapPartitions task over that partition (VERDICT r11 item 7:
    //      the r11 spelling paid ~12 tiny driver-scheduled jobs —
    //      2 joins + an eager localCheckpoint per iteration — and its
    //      3.26 s was pure fixpoint MACHINERY; both suggested variants
    //      were A/B'd first: checkpoint-every-2 measured a wash, and
    //      the unchained one-job plan measured 4× WORSE because every
    //      nested broadcast build re-executes the iterate chain below
    //      it). The fusion changes no scale contract — the in-task
    //      fixpoint needs exactly what coalesce(1) already asserted
    //      (graph fits one task); past THAT bound the r11 iterated
    //      join+agg spelling (git history) is the sharded path, GraphX/
    //      Pregel being the public-art equivalent. At 100 TB: same
    //      split — corpus work once, fixed-point on a graph bounded by
    //      |domains|, exactly how crawl-scale rank pipelines run. ----
    Q(
      "p8_domain_rank",
      (s, dir) => {
        import s.implicits._
        val docSrc = t(s, dir, "documents").select(col("doc_id"), col("source"))
        val cs = Dedup.dupComponents(s, dir).join(docSrc, "doc_id")
          .select(col("root"), col("source")).distinct()
        val edges = cs.as("a").join(cs.as("b"), Seq("root"))
          .filter(col("a.source") =!= col("b.source"))
          .select(col("a.source").as("src"), col("b.source").as("dst"))
          .distinct()
        val nodes = docSrc.select("source").distinct()
        // one tagged union co-locates the whole domain-scale graph on
        // ONE partition ("N" rows carry the node set, "E" rows the
        // edges); the fixpoint runs inside that task — zero broadcast
        // exchanges, zero per-iteration jobs
        val tagged = nodes
          .select(lit("N").as("tag"), col("source").as("a"), lit("").as("b"))
          .unionByName(edges
            .select(lit("E").as("tag"), col("src").as("a"), col("dst").as("b")))
          .coalesce(1)
        tagged.as[(String, String, String)].mapPartitions { it =>
          val out = scala.collection.mutable.HashMap.empty[String, Long]
          val es = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
          it.foreach {
            case ("N", src, _) => out.getOrElseUpdate(src, 0L)
            case (_, src, dst) =>
              es += ((src, dst)); out(src) = out.getOrElse(src, 0L) + 1L
          }
          val n = out.size.toLong
          if (n == 0) Iterator.empty
          else {
            // the exact integer-ppm recurrence, bit-for-bit the oracle's
            // unrolled CTEs: floor division at every site, dangling mass
            // not redistributed; all values nonnegative so / IS div
            val base = 150000L / n
            var r = out.map { case (k, _) => k -> 1000000L / n }
            for (_ <- 1 to DomainRankIters) {
              val inflow = scala.collection.mutable.HashMap.empty[String, Long]
              es.foreach { case (src, dst) =>
                inflow(dst) = inflow.getOrElse(dst, 0L) + r(src) / out(src)
              }
              r = out.map { case (k, _) =>
                k -> (base + 85L * inflow.getOrElse(k, 0L) / 100L)
              }
            }
            out.iterator.map { case (k, od) => (k, r(k), od) }
          }
        }.toDF("source", "rank_ppm", "outdeg")
      },
      Some {
        val iters = (1 to DomainRankIters).map { i =>
          s"""r$i AS (
          SELECT n.source,
                 (SELECT 150000 // n_src FROM nn)
                   + (85 * coalesce(inf.s, 0)) // 100 AS r_ppm
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS source, sum(r.r_ppm // od.outdeg) AS s
            FROM edges e JOIN r${i - 1} r ON r.source = e.src
                         JOIN od ON od.src = e.src
            GROUP BY 1) inf USING (source))"""
        }.mkString(",\n        ")
        s"""
        WITH RECURSIVE ${Dedup.lshVerifiedCtes},
        dup AS (SELECT doc1, doc2 FROM verified WHERE is_dup),
        ${Cluster.componentsCtes("dup")},
        cs AS MATERIALIZED (SELECT DISTINCT c.root, d.source
               FROM cc_roots c JOIN documents d USING (doc_id)),
        -- MATERIALIZED: the unrolled iterations reference edges/od 8×
        -- each; DuckDB inlines single-definition CTEs, which would
        -- re-run the whole LSH+components pipeline per reference
        edges AS MATERIALIZED (SELECT DISTINCT a.source AS src, b.source AS dst
                  FROM cs a JOIN cs b USING (root)
                  WHERE a.source <> b.source),
        nodes AS MATERIALIZED (SELECT DISTINCT source FROM documents),
        nn AS MATERIALIZED (SELECT count(*) AS n_src FROM nodes),
        od AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
        r0 AS (SELECT source, 1000000 // n_src AS r_ppm FROM nodes, nn),
        $iters
        SELECT n.source, CAST(r.r_ppm AS BIGINT) AS rank_ppm,
               CAST(coalesce(od.outdeg, 0) AS BIGINT) AS outdeg
        FROM nodes n JOIN r$DomainRankIters r USING (source)
             LEFT JOIN od ON od.src = n.source"""
      },
    ),

    // ---- p9: DETERMINISTIC DATALOADER SHARD ORDER — the step between
    //      a curated corpus and a training run: every document gets a
    //      stable global POSITION in a seeded pseudorandom total order
    //      and a WORKER assignment (pos mod W), so N dataloader
    //      workers stream disjoint, balanced, reproducible shards.
    //      The scale technique is the point: the total order is
    //      BUCKET-MAJOR — rank within 64 hash buckets (parallel
    //      windows) plus an exclusive-prefix offset over the 64-row
    //      bucket census — so NO single-partition global sort ever
    //      forms (the trap t13's rank-based cut documents; here the
    //      two-phase decomposition is executable and gated). The
    //      oracle computes the SAME order with DuckDB's plain global
    //      row_number over (bucket, hash, id) — the equivalence of
    //      the decomposition to a true total order IS the gate.
    //      Output: per-worker doc count plus exact doc-set and
    //      position XOR receipts — one misplaced document splits
    //      both. ----
    Q(
      "p9_shard_order",
      (s, dir) =>
        shardOrder(s, dir)
          .groupBy(col("worker"))
          .agg(count(lit(1)).as("n_docs"),
            bit_xor(Portable.md5Long(col("doc_id").cast("string"))).as("doc_xor"),
            bit_xor(Portable.md5Long(col("pos").cast("string"))).as("pos_xor")),
      Some(s"""
        WITH d AS (
          SELECT doc_id,
                 ${Portable.md5LongSql("concat_ws('|', 'shard-v1', CAST(doc_id AS VARCHAR))")} AS h
          FROM documents),
        p AS (
          SELECT doc_id,
                 row_number() OVER (ORDER BY h % $ShardBuckets, h, doc_id) - 1 AS pos
          FROM d)
        SELECT pos % $ShardWorkers AS worker, count(*) AS n_docs,
               bit_xor(${Portable.md5LongSql("CAST(doc_id AS VARCHAR)")}) AS doc_xor,
               bit_xor(${Portable.md5LongSql("CAST(pos AS VARCHAR)")}) AS pos_xor
        FROM p GROUP BY 1"""),
    ),

    // ---- p10: EPOCH PLAN — p7's temperature allocation pointed at the
    //      skewed language axis and realized as the per-document repeat
    //      manifest (full passes via quota div n, remainder as a
    //      seeded-hash prefix). Deterministic weighted sampling WITH
    //      replacement, integer-exact: Σ repeats per lang = quota. ----
    Q(
      "p10_epoch_plan",
      (s, dir) => epochPlan(s, dir),
      Some(s"""
        WITH ${allocCtes("lang")},
        dh AS (
          SELECT lang, doc_id,
                 ${Portable.md5LongSql("concat_ws('|', 'epoch-v1', doc_id)")} AS h
          FROM documents),
        r AS (
          SELECT lang, doc_id,
                 row_number() OVER (PARTITION BY lang ORDER BY h ASC, doc_id ASC) AS rk
          FROM dh),
        plan AS (
          SELECT r.lang, r.doc_id, r.rk,
                 CAST((m.quota // m.n_docs)
                      + CASE WHEN r.rk <= (m.quota % m.n_docs) THEN 1 ELSE 0 END AS BIGINT) AS repeats
          FROM r JOIN mix m ON r.lang = m.source)
        SELECT lang, doc_id, rk, repeats FROM plan WHERE repeats > 0"""),
    ),

    // ---- p11: DATA CARD — the per-language profile every dataset
    //      release ships, composing the sketch primitives (q62's
    //      histogram quantile, q65's KMV cardinality) with the exact
    //      scalars into ONE query: docs, BPE-token mass, median doc
    //      length (histogram lower bound, bucket 100 chars), and the
    //      distinct-3-gram richness estimate. This is what a 100 TB
    //      profiler actually runs — every component is one
    //      map-side-combinable aggregate over the same scan family
    //      (scalars: one groupBy; histogram: |langs|·|buckets| cells;
    //      KMV: WindowGroupLimit bottom-k), and the output is
    //      |langs| rows of metadata. All integer except the KMV
    //      estimate (one IEEE multiply+divide, round 6 — q65's
    //      discipline). ----
    Q(
      "p11_data_card",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        import Portable.bpeTokens
        val docs = t(s, dir, "documents")
          .select(col("lang"), col("n_chars"), col("text"))
        // materialized: the median's broadcast side AND the final join
        // both read base, and its BPE regex pass over the corpus is the
        // card's most expensive scan — cache the 5-row result, not the
        // regex (same reuse discipline as q65's hash table)
        val base = CorpusCache.table(s, dir, "p11.base") {
          docs.groupBy(col("lang"))
            .agg(count(lit(1)).as("n_docs"),
              sum(bpeTokens(col("text")).cast("long")).as("n_tokens"))
        }
        val hist = docs
          .select(col("lang"), expr("n_chars div 100").as("bkt"))
          .groupBy(col("lang"), col("bkt")).agg(count(lit(1)).as("c"))
        val wCum = Window.partitionBy(col("lang")).orderBy(col("bkt").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val med = hist.withColumn("cum", sum(col("c")).over(wCum))
          .join(broadcast(base.select(col("lang"), col("n_docs"))), "lang")
          .groupBy(col("lang"))
          .agg(min(when(col("cum") >= expr("(n_docs + 1) div 2"),
            col("bkt") * lit(100L))).as("p50_chars_lb"))
        // q65's discipline: ride the session-shared shingle index
        // (identical 3-gram hash definition), re-keyed to lang — the
        // card pays one doc_id join + distinct, never its own corpus
        // explode
        val hs = CorpusCache.table(s, dir, "p11.hashes") {
          Dedup.shingleIndex(s, dir)
            .join(t(s, dir, "documents").select(col("doc_id"), col("lang")), "doc_id")
            .select(col("lang"), col("h"))
            .distinct()
        }
        val kth = hs
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("lang")).orderBy(col("h").asc)))
          .filter(col("rk") === DataCardK) // WindowGroupLimit bottom-k
          .select(col("lang"),
            round(lit((DataCardK - 1).toDouble) * lit(1152921504606846976.0) /
              col("h").cast("double"), 6).as("est_3gram_ndv"))
        base.join(med, "lang").join(kth, "lang")
          .select(col("lang"), col("n_docs"), col("n_tokens"),
            col("p50_chars_lb"), col("est_3gram_ndv"))
      },
      Some(s"""
        WITH base AS (
          SELECT lang, count(*) AS n_docs,
                 CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS n_tokens
          FROM documents GROUP BY 1),
        hist AS (
          SELECT lang, n_chars // 100 AS bkt, count(*) AS c
          FROM documents GROUP BY 1, 2),
        cum AS (
          SELECT h.lang, h.bkt, b.n_docs,
                 CAST(sum(h.c) OVER (PARTITION BY h.lang ORDER BY h.bkt ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
          FROM hist h JOIN base b USING (lang)),
        med AS (
          SELECT lang,
                 CAST(min(CASE WHEN cum >= (n_docs + 1) // 2 THEN bkt * 100 END) AS BIGINT) AS p50_chars_lb
          FROM cum GROUP BY 1),
        w AS (SELECT lang, ${Portable.wordsSql("text")} AS ws FROM documents),
        g AS (
          SELECT lang, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
          FROM (SELECT lang, ws, unnest(generate_series(1, len(ws)-2)) AS i
                FROM w WHERE len(ws) >= 3)),
        hs AS (SELECT DISTINCT lang, ${Portable.md5LongSql("gram")} AS h FROM g),
        kth AS (
          SELECT lang,
                 round(${DataCardK - 1}.0 * 1152921504606846976.0 / h, 6) AS est_3gram_ndv
          FROM (SELECT lang, h,
                       row_number() OVER (PARTITION BY lang ORDER BY h ASC) AS rk
                FROM hs)
          WHERE rk = $DataCardK)
        SELECT b.lang, b.n_docs, b.n_tokens, m.p50_chars_lb, k.est_3gram_ndv
        FROM base b JOIN med m USING (lang) JOIN kth k USING (lang)"""),
    ),
  )

  /** p11's bottom-k sketch size (q65's k, applied per language — every
    * gate language carries well over 64 distinct 3-gram hashes at
    * every SF).
    */
  private val DataCardK = 64

  /** p8's fixed PageRank iteration count — enough for ppm-level
    * convergence on a domain-cardinality graph, small enough that the
    * unrolled oracle stays readable.
    */
  private[graft] val DomainRankIters = 8

  /** p9's geometry: the bucket count of the two-phase global rank and
    * the dataloader-worker fan-out it shards into.
    */
  private[graft] val ShardBuckets = 64
  private[graft] val ShardWorkers = 8

  /** p9: deterministic dataloader shard order — SEPARATE Q because it
    * demonstrates the scale technique t13's scaladoc only names: a
    * TOTAL order over the corpus with NO single-partition sort. See
    * the Q comment in [[all]].
    */
  private[graft] def shardOrder(s: org.apache.spark.sql.SparkSession, dir: String) = {
    graft.functions.GraftFunctions.register(s)
    val h = Portable.md5Long(concat_ws("|", lit("shard-v1"),
      col("doc_id").cast("string")))
    val d = t(s, dir, "documents").select(col("doc_id"))
      .withColumn("h", h)
      .withColumn("b", pmod(col("h"), lit(ShardBuckets.toLong)))
    val intra = d.withColumn("intra", row_number().over(
      Window.partitionBy(col("b")).orderBy(col("h"), col("doc_id"))))
    val offsets = d.groupBy(col("b")).agg(count(lit(1)).as("cnt"))
      // global window = single partition, but its INPUT is the bucket
      // census (exactly ShardBuckets = 64 rows at any corpus size —
      // metadata-scale, the q43 log-sized-argmax class; boundedW spells
      // that bound). The corpus-sized rank is the partitionBy(b) window
      // above; don't copy this global window onto corpus-scale data.
      .withColumn("off", coalesce(sum(col("cnt")).over(
        Portable.boundedW(col("b")).orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("b"), col("off"))
    intra.join(broadcast(offsets), Seq("b"))
      .withColumn("pos", col("off") + col("intra") - 1L)
      .withColumn("worker", pmod(col("pos"), lit(ShardWorkers.toLong)))
  }

  /** p5's hard per-source document ceiling — binding at every testdata
    * SF (25 docs/source at sf0.001, 250 at sf0.1), so the gate exercises
    * the cap, not a pass-through.
    */
  val QuotaPerSource = 10L

  /** p7's total mixture budget (documents). Deliberately larger than
    * small-SF inventories: a temperature-smoothed quota exceeding a
    * domain's document count is the oversampling-epochs regime, and
    * the allocation must stay exact there too.
    */
  val MixBudget = 1000L

  /** p7's allocation kernel over a `(source, n_docs)` table — exposed
    * so the spec can drive it with crafted UNEQUAL counts (the
    * testdata sources are uniform, which exercises conservation but
    * not the flattening). |domains|-row window arithmetic only.
    */
  /** p10 kernel: the EPOCH PLAN — [[temperatureAlloc]] pointed at the
    * LANGUAGE axis (the mT5/XLM multilingual α-smoothing recipe; `lang`
    * is the skewed axis in this corpus, `source` is uniform) and
    * REALIZED as the per-document repeat manifest a dataloader consumes.
    * `quota div n` full passes for every doc of the language, plus one
    * extra pass for a remainder-sized PREFIX of the language's docs in
    * seeded-hash order (epoch-v1 salt — independent of p4's split-v1
    * and p5's quota-v1 orders, so epoch membership never correlates
    * with split assignment). Σ repeats per language = quota EXACTLY
    * (integer conservation, spec-pinned); over-allocated languages get
    * full ≥ 1 (epoch repetition — both repeat classes coexist when the
    * remainder is nonzero), oversized ones a deterministic hash-prefix
    * subsample. Scale shape: the allocation is |languages|-row metadata
    * broadcast back to the corpus; the manifest is one window per
    * language partition (key-partitioned shuffle, never a global sort);
    * everything after the first aggregate is integer arithmetic.
    */
  def epochPlan(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val quotas = temperatureAlloc(
      t(s, dir, "documents").groupBy(col("lang").as("source"))
        .agg(count(lit(1)).as("n_docs")))
      .select(col("source").as("lang"), col("n_docs"), col("quota"))
    val w = Window.partitionBy(col("lang")).orderBy(col("h").asc, col("doc_id").asc)
    t(s, dir, "documents").select(col("lang"), col("doc_id"))
      .withColumn("h",
        Portable.md5Long(concat_ws("|", lit("epoch-v1"), col("doc_id"))))
      .withColumn("rk", row_number().over(w))
      .join(broadcast(quotas), "lang")
      .withColumn("repeats",
        expr("(quota div n_docs) + IF(rk <= quota % n_docs, 1L, 0L)"))
      .filter(col("repeats") > 0L)
      .select(col("lang"), col("doc_id"), col("rk"), col("repeats"))
  }

  /** DuckDB twin of [[temperatureAlloc]] over an arbitrary grouping
    * key, ending in a `mix` CTE (source, n_docs, wppm, quota) — ONE
    * spelling for every allocation oracle (p7 on `source`, p10 on
    * `lang`), so an arithmetic edit lands in both at once.
    */
  private def allocCtes(keyExpr: String): String =
    s"""c AS (SELECT $keyExpr AS source, count(*) AS n_docs FROM documents GROUP BY 1),
        w AS (SELECT source, n_docs,
                     CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS wppm
              FROM c),
        -- All integer sums CAST AS BIGINT at the aggregation site (bare
        -- sum() is HUGEINT — version-sensitive rendering, the r08
        -- driver-only hash fail), scalar totals via explicit CROSS JOIN
        -- CTEs instead of a comma join / empty-frame window.
        tot AS (SELECT CAST(sum(wppm) AS BIGINT) AS tw FROM w),
        b AS (SELECT source, n_docs, wppm,
                     CAST(($MixBudget * wppm) // tw AS BIGINT) AS base,
                     CAST(($MixBudget * wppm) % tw AS BIGINT) AS rem
              FROM w CROSS JOIN tot),
        tb AS (SELECT CAST(sum(base) AS BIGINT) AS sum_base FROM b),
        d AS (SELECT b.*, CAST($MixBudget - tb.sum_base AS BIGINT) AS deficit,
                     row_number() OVER (ORDER BY rem DESC, source ASC) AS rk
              FROM b CROSS JOIN tb),
        mix AS (
          SELECT source, n_docs, wppm,
                 CAST(base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS BIGINT) AS quota
          FROM d)"""

  private[graft] def temperatureAlloc(
      counts: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // Global windows = single partition, but their INPUT is the
    // per-group allocation census (one row per source/lang — group-
    // cardinality, metadata-scale), never the corpus; boundedW spells
    // that bound. The corpus-sized pass is the groupBy that produced
    // `counts`; don't copy these global windows onto corpus-scale data.
    val wAll = Portable.boundedW(col("source")).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val wRank = Portable.boundedW(col("source"))
      .orderBy(col("rem").desc, col("source").asc)
    counts
      .withColumn("wppm",
        floor(sqrt(col("n_docs").cast("double")) * lit(1000000.0) + lit(0.5))
          .cast("long"))
      .withColumn("tw", sum(col("wppm")).over(wAll))
      .withColumn("base", expr(s"(${MixBudget}L * wppm) div tw"))
      .withColumn("rem", expr(s"(${MixBudget}L * wppm) % tw"))
      .withColumn("deficit", lit(MixBudget) - sum(col("base")).over(wAll))
      .withColumn("rk", row_number().over(wRank))
      .select(col("source"), col("n_docs"), col("wppm"),
        (col("base") + (col("rk") <= col("deficit")).cast("long")).as("quota"))
  }
}
