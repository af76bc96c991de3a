package graft.pipeline

import graft.{CorpusCache, Q, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table (driver-mandated
  * LLM-pipeline extension, SURVEY §0 + BASELINE.json north star).
  *
  * Everything is built from codegen'd `functions._` expressions — no UDFs
  * — so Catalyst keeps the whole pipeline inside WholeStageCodegen and
  * pushes `doc_id`/`text` column pruning into the parquet scan. All ops
  * are embarrassingly parallel per document (no shuffle at all until the
  * optional final aggregate), so they scale linearly with partitions at
  * 100 TB.
  */
object Text {
  import Tables.t
  import Portable._

  /** Stopword-hit regex per language (word-boundary anchored). */
  private val langPatterns: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|a|is|of)\\b",
    "de" -> "\\b(der|die|und|ist)\\b",
    "fr" -> "\\b(le|la|et|est)\\b",
    "es" -> "\\b(el|los|y|es)\\b",
    "zh" -> "[\\x{4e00}-\\x{9fff}]", // \x{...}: valid in both Java regex and RE2
  )

  /** Per-language hit-count columns (n_en..n_zh), shared by t1 and p1. */
  private[graft] def langCountCols: Seq[Column] =
    langPatterns.map { case (l, p) =>
      regexp_count(lower(col("text")), lit(p)).as(s"n_$l")
    }

  /** Argmax over the n_* columns in scope — the language decision rule
    * (zh script presence wins, then first-in-priority max), shared by t1
    * and p1.
    */
  private[graft] def predLangCol: Column =
    when(col("n_zh") > 0, "zh")
      .when(col("n_en") >= col("n_de") && col("n_en") >= col("n_fr") && col("n_en") >= col("n_es"), "en")
      .when(col("n_de") >= col("n_fr") && col("n_de") >= col("n_es"), "de")
      .when(col("n_fr") >= col("n_es"), "fr")
      .otherwise("es")

  /** DuckDB twins of the count columns / decision rule. */
  private[graft] def langCountsSql: String =
    langPatterns.map { case (l, p) =>
      // patterns are emitted verbatim: they contain no quotes, and both
      // regex dialects (Java, DuckDB's RE2) read them identically
      s"CAST(len(regexp_extract_all(lower(text), '$p')) AS INT) AS n_$l"
    }.mkString(",\n                 ")
  private[graft] def predLangSql: String =
    """CASE WHEN n_zh > 0 THEN 'zh'
                    WHEN n_en >= n_de AND n_en >= n_fr AND n_en >= n_es THEN 'en'
                    WHEN n_de >= n_fr AND n_de >= n_es THEN 'de'
                    WHEN n_fr >= n_es THEN 'fr'
                    ELSE 'es' END"""

  def all: Seq[Q] = Seq(
    // ---- t1: language ID — per-language stopword/script hit counts + argmax ----
    Q(
      "t1_lang_id",
      (s, dir) => {
        val base = t(s, dir, "documents").select(col("doc_id") +: langCountCols: _*)
        base.withColumn("pred_lang", predLangCol)
      },
      Some(s"""
        WITH c AS (
          SELECT doc_id,
                 $langCountsSql
          FROM documents)
        SELECT doc_id, n_en, n_de, n_fr, n_es, n_zh,
               $predLangSql AS pred_lang
        FROM c"""),
    ),

    // ---- t2: quality scoring — length / punctuation / stopword / digit ratios ----
    Q(
      "t2_quality",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val nChars = length(col("text"))
        val nW = nWords(col("text"))
        val nPunct = regexp_count(col("text"), lit("[\\.,;:!\\?]"))
        val nDigit = regexp_count(col("text"), lit("[0-9]"))
        val nStop = regexp_count(lower(col("text")), lit("\\b(the|a|is|of|and|to|in)\\b"))
        d.select(
          col("doc_id"),
          nChars.as("n_chars_m"),
          nW.as("n_words"),
          round(nPunct.cast("double") / nChars, 6).as("punct_ratio"),
          round(nDigit.cast("double") / nChars, 6).as("digit_ratio"),
          round(nStop.cast("double") / nW, 6).as("stopword_ratio"),
          round(nChars.cast("double") / nW, 6).as("mean_word_len"),
          (nW >= Curation.MinWords && nW <= Curation.MaxWords).as("len_ok"))
      },
      Some(s"""
        SELECT doc_id,
               CAST(length(text) AS INT) AS n_chars_m,
               CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS INT) AS n_words,
               round(len(regexp_extract_all(text, '[.,;:!?]')) / CAST(length(text) AS DOUBLE), 6) AS punct_ratio,
               round(len(regexp_extract_all(text, '[0-9]')) / CAST(length(text) AS DOUBLE), 6) AS digit_ratio,
               round(len(regexp_extract_all(lower(text), '\\b(the|a|is|of|and|to|in)\\b'))
                     / CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS DOUBLE), 6) AS stopword_ratio,
               round(CAST(length(text) AS DOUBLE) / len(string_split_regex(lower(trim(text)), '\\s+')), 6) AS mean_word_len,
               len(string_split_regex(lower(trim(text)), '\\s+'))
                 BETWEEN ${Curation.MinWords} AND ${Curation.MaxWords} AS len_ok
        FROM documents"""),
    ),

    // ---- t3: token counting — whitespace tokens + BPE-ish regex tokens ----
    Q(
      "t3_tokens",
      (s, dir) =>
        t(s, dir, "documents").select(
          col("doc_id"),
          nWords(col("text")).as("ws_tokens"),
          bpeTokens(col("text")).as("bpe_tokens")),
      Some("""
        SELECT doc_id,
               CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INT) AS ws_tokens,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS bpe_tokens
        FROM documents"""),
    ),

    // ---- t4: document fingerprint — md5 of whitespace-normalized text ----
    Q(
      "t4_fingerprint",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        t(s, dir, "documents").select(
          col("doc_id"),
          normFingerprint(col("text")).as("fingerprint"),
          md5Long(normText(col("text"))).as("fp60"))
      },
      Some(s"""
        SELECT doc_id,
               ${normFingerprintSql("text")} AS fingerprint,
               ${md5LongSql(normTextSql("text"))} AS fp60
        FROM documents"""),
    ),
    // ---- t5: winnowing fingerprints via the custom codegen'd Catalyst
    //      expression. Output is scalar-only (count + md5 of the joined
    //      fingerprint list) so the driver harness can sort/hash it, and
    //      the DuckDB oracle re-derives the full winnowing algorithm in
    //      SQL (rolling Rabin-Karp hashes in HUGEINT arithmetic, rightmost
    //      -min windows via a (h, -pos)-packed window min, lag() for the
    //      record-on-change rule) — kernel guarantees also in WinnowSpec ----
    Q(
      "t5_winnow",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        t(s, dir, "documents")
          .select(col("doc_id"), expr("winnow_fp(text, 8, 5)").as("fps"))
          .select(
            col("doc_id"),
            size(col("fps")).as("n_fp"),
            md5(array_join(col("fps").cast("array<string>"), ",")).as("fp_md5"))
      },
      Some(winnowOracleSql(k = 8, w = 5)),
    ),

    // ---- t6: bigram-LM commonness score — the corpus-trained n-gram
    //      statistic behind production LM quality filters: train bigram
    //      document frequencies on the corpus itself, then score every
    //      document by how much of it is made of bigrams seen elsewhere
    //      (boilerplate/template text scores high, unique prose low).
    //      Shape: per-doc bigram arrays are pure column algebra (zipped
    //      slices, no window shuffle); the corpus "model" is ONE hash
    //      aggregate over 8-byte bigram hashes; scoring is one equi-join
    //      back (hot bigrams like "of the" skew the join — AQE splits
    //      them) plus a per-doc aggregate. All counts stay integral and
    //      each output ratio is a single IEEE division, so Spark and
    //      DuckDB agree bit-for-bit; the smoothed log-prob variant is
    //      the same plan with `ln` folded into the scoring projection,
    //      left out ONLY because libm/JVM `ln` differ in the last ulp
    //      and would break cross-engine hash equality. ----
    Q(
      "t6_bigram_lm",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        val b = bigramIndex(s, dir) // shared materialized table, see its doc
        val freq = b.groupBy("h").agg(count(lit(1)).as("c"))
        b.join(freq, "h")
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_bigrams"),
            sum(when(col("c") >= 2, lit(1L)).otherwise(lit(0L))).as("n_repeated"),
            sum(col("c")).as("sum_df"))
          .select(
            col("doc_id"), col("n_bigrams"), col("n_repeated"),
            round(col("n_repeated").cast("double") / col("n_bigrams"), 6).as("rep_ratio"),
            round(col("sum_df").cast("double") / col("n_bigrams"), 6).as("avg_df"))
      },
      Some(s"""
        WITH w AS (
          SELECT doc_id, ${wordsSql("text")} AS ws FROM documents),
        b AS (
          SELECT doc_id, ${md5LongSql("ws[i] || ' ' || ws[i+1]")} AS h
          FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-1)) AS i
                FROM w WHERE len(ws) >= 2)),
        freq AS (SELECT h, count(*) AS c FROM b GROUP BY 1),
        per AS (
          SELECT doc_id, count(*) AS n_bigrams,
                 CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated,
                 CAST(sum(c) AS BIGINT) AS sum_df
          FROM b JOIN freq USING (h) GROUP BY 1)
        SELECT doc_id, n_bigrams, n_repeated,
               round(n_repeated / CAST(n_bigrams AS DOUBLE), 6) AS rep_ratio,
               round(sum_df / CAST(n_bigrams AS DOUBLE), 6) AS avg_df
        FROM per"""),
    ),

    // ---- t7: WITHIN-document repetition signals — the Gopher-style
    //      quality rules that catch degenerate/boilerplate docs (a page
    //      of one word repeated, templated listings): fraction of the doc
    //      made of its single most frequent word, fraction inside words
    //      that repeat at all, and fraction of trigram INSTANCES that are
    //      duplicated within the doc. Complements t6, which measures
    //      cross-corpus commonness; t7 never leaves the document.
    //      Shape: the signals only need per-gram COUNTS within one doc,
    //      and counts of a sorted array are run lengths — so each doc
    //      sorts its gram array (O(L log L) per row) and one
    //      `aggregate()` fold extracts max-run and duplicated-instance
    //      totals. A pure per-row projection: NO explode, NO shuffle, no
    //      per-gram hash rows (the previous explode→hash-agg→re-agg
    //      spelling cost two corpus-amplified shuffles and 4+ s at
    //      sf0.1; this is corpus-linear map work, the same reshaping
    //      that makes t8 shuffle-free). Counts stay integral; each
    //      output ratio is one IEEE division rounded to 6, so both
    //      engines agree bit-for-bit (oracle keeps the equivalent
    //      unnest→GROUP BY spelling). ----
    Q(
      "t7_repetition",
      (s, dir) => {
        // run stats over the SORTED gram array: equal grams are
        // adjacent, so run length = gram count; dup counts every
        // instance of a gram whose count ≥2. Round 13: the
        // `aggregate(array_sort(...), ...)` fold evaluated its lambda
        // INTERPRETED per element (the whole cost of this cell); the
        // codegen'd `run_stats` kernel (functions/RunStats.scala) is
        // the same sort + fold fused into one static call with
        // bitwise-identical outputs.
        graft.functions.GraftFunctions.register(s)
        def runStats(arr: String) = s"run_stats($arr)"
        // (Round 13 A/B'd a docsSharded re-shard here after the kernel
        // swap: SLOWER — the fused run_stats left so little per-row
        // work that shuffling the document texts costs more than the
        // parallelism returns. Single-pass scan stays.)
        t(s, dir, "documents")
          .filter(col("text").isNotNull) // null text has no word rows in the
          // grouped spelling either (unnest of NULL is empty)
          .select(col("doc_id"), words(col("text")).as("ws"))
          .withColumn("t3", shingles3(col("ws")))
          .withColumn("wstat", expr(runStats("ws")))
          .withColumn("tstat", expr(runStats("t3")))
          .select(
            col("doc_id"),
            size(col("ws")).cast("long").as("n_words_r"),
            round(col("wstat.maxrun").cast("double") / size(col("ws")).cast("long"), 6)
              .as("top_word_ratio"),
            round(col("wstat.dup").cast("double") / size(col("ws")).cast("long"), 6)
              .as("dup_word_ratio"),
            size(col("t3")).cast("long").as("n_trigrams"),
            when(size(col("t3")) > 0,
              round(col("tstat.dup").cast("double") / size(col("t3")).cast("long"), 6))
              .otherwise(lit(null).cast("double")).as("dup_tri_ratio"))
      },
      Some(s"""
        WITH w AS (
          SELECT doc_id, ${wordsSql("text")} AS ws FROM documents),
        wc AS (
          SELECT doc_id, w, count(*) AS c
          FROM (SELECT doc_id, unnest(ws) AS w FROM w)
          GROUP BY 1, 2),
        perw AS (
          SELECT doc_id,
                 CAST(sum(c) AS BIGINT) AS n_words_r,
                 max(c) AS top_c,
                 CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_c
          FROM wc GROUP BY 1),
        tc AS (
          SELECT doc_id, t3, count(*) AS c
          FROM (SELECT doc_id, unnest(${shingles3Sql("ws")}) AS t3 FROM w)
          GROUP BY 1, 2),
        pert AS (
          SELECT doc_id,
                 CAST(sum(c) AS BIGINT) AS n_tri,
                 CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_tri
          FROM tc GROUP BY 1)
        SELECT p.doc_id, n_words_r,
               round(top_c / CAST(n_words_r AS DOUBLE), 6) AS top_word_ratio,
               round(dup_c / CAST(n_words_r AS DOUBLE), 6) AS dup_word_ratio,
               coalesce(n_tri, 0) AS n_trigrams,
               CASE WHEN coalesce(n_tri, 0) > 0
                    THEN round(dup_tri / CAST(n_tri AS DOUBLE), 6)
                    ELSE NULL END AS dup_tri_ratio
        FROM perw p LEFT JOIN pert USING (doc_id)"""),
    ),

    // ---- t8: deterministic redaction — the PII-scrub pass a training
    //      pipeline runs before anything else sees the text: mask email
    //      addresses then digit runs with typed placeholders, and emit
    //      per-doc redaction counts plus a fingerprint of the scrubbed
    //      text (the scrubbed corpus itself would be the written output;
    //      the gate keeps the md5 so the result stays hashable). Pure
    //      per-row column algebra — zero shuffles, linear at any scale.
    //      Patterns are written in the common Java-regex/RE2 subset so
    //      both engines read them identically; replacement ORDER (email
    //      before digits) is part of the contract since '<EMAIL>'
    //      contains no digits but an address does. ----
    Q(
      "t8_redact",
      (s, dir) => {
        val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val red = regexp_replace(
          regexp_replace(col("text"), emailPat, "<EMAIL>"),
          "[0-9]+", "<NUM>")
        t(s, dir, "documents").select(
          col("doc_id"),
          regexp_count(col("text"), lit(emailPat)).as("n_email"),
          regexp_count(col("text"), lit("[0-9]+")).as("n_num"),
          md5(red).as("redacted_md5"),
          (length(red) - length(col("text"))).as("len_delta"))
      },
      Some("""
        WITH r AS (
          SELECT doc_id, text,
                 regexp_replace(
                   regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '[0-9]+', '<NUM>', 'g') AS red
          FROM documents)
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
               CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_num,
               md5(red) AS redacted_md5,
               CAST(length(red) - length(text) AS INT) AS len_delta
        FROM r"""),
    ),

    // ---- t9: domain-mixture token allocation — the sampling-weight
    //      computation every pretraining run does before reading a
    //      byte: per-source token counts → temperature-scaled mixture
    //      weights (α = 0.5, i.e. w_d = sqrt(n_d) — the multilingual /
    //      multi-domain rebalancing rule from the XLM-R line of work:
    //      upsample small domains, downsample huge ones) → per-domain
    //      token budgets under a total budget of half the corpus →
    //      per-domain sampling rates (capped at 1: a domain smaller
    //      than its allocation is taken whole). Scale shape: ONE
    //      map-side-combined aggregate to |sources| rows, then pure
    //      column algebra over that tiny table (the unpartitioned
    //      window ranges over |sources| rows, never the corpus) — the
    //      corpus is read once, shuffle volume is |sources| rows.
    //      Float determinism: the only cross-engine float reduction is
    //      the |sources|-element sum of sqrt weights (error ~1e-12 vs
    //      the oracle's 9-decimal rounding tolerance); token sums stay
    //      integer until the final division, in the SAME textual op
    //      order in both engines. ----
    Q(
      "t9_domain_mix",
      (s, dir) => {
        // |sources| rows post-agg — tiny; boundedW spells the bound
        val w = Portable.boundedW(col("source"))
        t(s, dir, "documents")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(bpeTokens(col("text"))).as("n_tokens"))
          .withColumn("wt", sqrt(col("n_tokens").cast("double")))
          .withColumn("mix_share", col("wt") / sum("wt").over(w))
          .withColumn("alloc_tokens",
            col("mix_share") * (sum("n_tokens").over(w).cast("double") * 0.5))
          .withColumn("sample_rate",
            least(lit(1.0), col("alloc_tokens") / col("n_tokens").cast("double")))
          .select("source", "n_docs", "n_tokens", "mix_share",
            "alloc_tokens", "sample_rate")
      },
      Some("""
        WITH c AS (
          SELECT source, count(*) AS n_docs,
                 CAST(sum(CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT)) AS BIGINT) AS n_tokens
          FROM documents GROUP BY 1),
        sh AS (
          SELECT source, n_docs, n_tokens,
                 sqrt(CAST(n_tokens AS DOUBLE)) AS wt,
                 sum(sqrt(CAST(n_tokens AS DOUBLE))) OVER () AS sum_wt,
                 CAST(sum(n_tokens) OVER () AS DOUBLE) AS total_tokens
          FROM c)
        SELECT source, n_docs, n_tokens,
               wt / sum_wt AS mix_share,
               (wt / sum_wt) * (total_tokens * 0.5) AS alloc_tokens,
               least(1.0, ((wt / sum_wt) * (total_tokens * 0.5))
                          / CAST(n_tokens AS DOUBLE)) AS sample_rate
        FROM sh"""),
    ),

    // ---- t10: SEQUENCE PACKING — lay the corpus out as a packed token
    //      stream of fixed-capacity training windows: each doc gets the
    //      (bin, offset) where its tokens land when docs are concatenated
    //      in deterministic order, bins of SeqPackCapacity tokens. THE
    //      final physical step of a training-data pipeline (LLM trainers
    //      consume fixed-length sequences, not ragged docs).
    //      Scale shape: packing is per-SOURCE (partitionBy(source) window
    //      + running sum) — one shuffle on source, each source packs
    //      independently in parallel, exactly how sharded training files
    //      are laid out. A single GLOBAL pack would funnel the corpus
    //      through one reducer (the q31 trap); per-source bins are the
    //      sharded layout trainers already expect. The running sum is
    //      one window state register per row — no explode, no join. ----
    Q(
      "t10_seq_pack",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        t(s, dir, "documents")
          .select(col("source"), col("doc_id"),
            bpeTokens(col("text")).cast("long").as("n_tokens"))
          .withColumn("cum_excl",
            coalesce(sum(col("n_tokens")).over(w), lit(0L)))
          .select(col("source"), col("doc_id"), col("n_tokens"),
            expr(s"cum_excl div $SeqPackCapacity").as("bin_id"),
            expr(s"cum_excl % $SeqPackCapacity").as("bin_offset"))
      },
      Some(s"""
        WITH tok AS (
          SELECT source, doc_id,
                 CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens
          FROM documents),
        c AS (
          SELECT source, doc_id, n_tokens,
                 CAST(coalesce(sum(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_excl
          FROM tok)
        SELECT source, doc_id, n_tokens,
               cum_excl // $SeqPackCapacity AS bin_id,
               cum_excl % $SeqPackCapacity AS bin_offset
        FROM c"""),
    ),

    // ---- t11: cross-document n-gram NOVELTY — what fraction of each
    //      document's shingle set it contributes FIRST to the corpus
    //      (first = lowest doc_id, the same canonical order the dedup
    //      family keeps). Boilerplate-heavy near-copies score near 0,
    //      genuinely new content near 1 — the content-value signal a
    //      curation pipeline ranks by between dedup (binary) and
    //      quality (intrinsic). Scale shape: reuses the session's
    //      materialized shingle index; the first-owner table is one
    //      map-side-partial min() per shingle hash; owner join and
    //      per-doc roll-up are hash-bucketed on h then doc_id — the d2
    //      inverted-index shape WITHOUT the pairwise explosion, so it
    //      stays corpus-linear at 100 TB. ----
    Q(
      "t11_novelty",
      (s, dir) => {
        val idx = Dedup.shingleIndex(s, dir)
        val owner = idx.groupBy("h").agg(min("doc_id").as("owner"))
        idx.join(owner, "h")
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_sh"),
            sum(when(col("doc_id") === col("owner"), 1L).otherwise(0L)).as("n_novel"))
          .select(col("doc_id"), col("n_sh"), col("n_novel"),
            round(col("n_novel").cast("double") / col("n_sh"), 6).as("novelty"))
      },
      Some(s"""
        WITH sh0 AS (${Dedup.shingleIndexSql}),
        own AS (SELECT h, min(doc_id) AS owner FROM sh0 GROUP BY 1)
        SELECT doc_id, count(*) AS n_sh,
               CAST(sum(CASE WHEN doc_id = owner THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
               round(CAST(sum(CASE WHEN doc_id = owner THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*), 6) AS novelty
        FROM sh0 JOIN own USING (h)
        GROUP BY 1"""),
    ),

    // ---- t12: per-document DISTINCTIVE terms — top-3 words ranked by a
    //      tf/df distinctiveness score: term frequency in the doc over
    //      the term's corpus document frequency. Same role as TF-IDF
    //      keyword extraction (for a fixed corpus size, 1/df is a
    //      monotone stand-in for idf = ln(N/df)); the ln form is
    //      deliberately NOT used because JVM and libm `ln` differ in the
    //      last ulp and would break cross-engine hash equality (the t6
    //      precedent) — int/int division + round(,6) is exact in both
    //      engines. Scale shape: tf is a map-side-combined count on
    //      (doc_id, word); df a count-distinct on word; the tf⋈df join is
    //      hash-bucketed on word; the final per-doc top-3 is a
    //      rank-limit window, which Spark runs as WindowGroupLimit (each
    //      map task forwards ≤3 rows per doc before the shuffle). No
    //      stage touches pairs of documents — corpus-linear at 100 TB. ----
    Q(
      "t12_tfidf",
      (s, dir) => {
        val w = Dedup.docsSharded(s, dir)
          .select(col("doc_id"), explode(words(col("text"))).as("term"))
        val tf = w.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        // df FROM tf (one row per (doc, term) by construction): no second
        // explode over the corpus, no distinct shuffle — and the two
        // consumers share tf's exchange (ReusedExchange), so the heavy
        // explode+aggregate runs once
        val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val win = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id")
          .orderBy(col("score").desc, col("term").asc)
        tf.join(df, "term")
          .withColumn("score", round(col("tf").cast("double") / col("df"), 6))
          .withColumn("rk", row_number().over(win).cast("long"))
          .filter(col("rk") <= TfidfTopK)
          .select(col("doc_id"), col("term"), col("tf"), col("df"),
            col("score"), col("rk"))
      },
      Some(s"""
        WITH w AS (
          SELECT doc_id, unnest(${wordsSql("text")}) AS term FROM documents),
        tf AS (
          SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
        df AS (
          SELECT term, count(DISTINCT doc_id) AS df FROM w GROUP BY 1),
        scored AS (
          SELECT doc_id, term, tf, df,
                 round(CAST(tf AS DOUBLE) / df, 6) AS score
          FROM tf JOIN df USING (term))
        SELECT doc_id, term, tf, df, score, rk
        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                           ORDER BY score DESC, term ASC) AS rk
              FROM scored)
        WHERE rk <= $TfidfTopK"""),
    ),

    // ---- t13: CCNet-style LM-score BUCKETING — the corpus-partitioning
    //      step after scoring: per LANGUAGE, rank documents by how
    //      well a corpus LM "expects" them and split head/middle/tail
    //      (CCNet's per-language perplexity terciles; downstream
    //      training samples the head, subsamples the middle, drops or
    //      audits the tail). The score is t6's avg_df — mean corpus
    //      frequency of the doc's bigrams, the bigram-LM stand-in for
    //      (inverse) perplexity: integral sums + ONE IEEE division per
    //      doc, bit-identical in both engines. The CUT is rank-based
    //      (ntile over a (score, doc_id) total order), NOT value-based:
    //      a quantile-value cut puts knife-edge docs on a float
    //      boundary where engines may disagree in the last ulp, while
    //      ntile's integer row arithmetic is exact in both. Shape: the
    //      window input is the per-doc SCORE table (|docs| rows — the
    //      corpus-scale bigram work is one shared materialized index,
    //      amortized across t6/t13), partitioned by language. At 100 TB
    //      per-language ntile serializes each language into one sort
    //      task; the scale path keeps the same contract with a
    //      range-partitioned two-pass rank (partition counts →
    //      per-partition rank offsets), which this rank-based contract
    //      — unlike a value cut — makes drop-in. Gate: per-(lang,
    //      bucket) doc count, doc-id XOR (exact membership), and the
    //      bucket's pooled avg_df, so one doc in the wrong tercile
    //      splits two hashes. ----
    Q(
      "t13_ppl_bucket",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        val b = bigramIndex(s, dir)
        val freq = b.groupBy("h").agg(count(lit(1)).as("c"))
        val scores = b.join(freq, "h")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"), sum(col("c")).as("sum_df"))
          .withColumn("score", col("sum_df").cast("double") / col("n_bigrams"))
        val withLang = scores.join(
          t(s, dir, "documents").select(col("doc_id"), col("lang")), "doc_id")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy(col("score").desc, col("doc_id").asc)
        withLang
          .withColumn("bucket", ntile(3).over(w)) // 1 = head (most expected)
          .groupBy(col("lang"), col("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            bit_xor(md5Long(col("doc_id").cast("string"))).as("doc_xor"),
            round(sum(col("sum_df")).cast("double") / sum(col("n_bigrams")), 6)
              .as("avg_df"))
      },
      Some(s"""
        WITH w AS (
          SELECT doc_id, ${wordsSql("text")} AS ws FROM documents),
        b AS (
          SELECT doc_id, ${md5LongSql("ws[i] || ' ' || ws[i+1]")} AS h
          FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-1)) AS i
                FROM w WHERE len(ws) >= 2)),
        freq AS (SELECT h, count(*) AS c FROM b GROUP BY 1),
        per AS (
          SELECT doc_id, count(*) AS n_bigrams, CAST(sum(c) AS BIGINT) AS sum_df
          FROM b JOIN freq USING (h) GROUP BY 1),
        sc AS (
          SELECT d.lang, p.doc_id, p.n_bigrams, p.sum_df,
                 p.sum_df / CAST(p.n_bigrams AS DOUBLE) AS score
          FROM per p JOIN documents d USING (doc_id)),
        bk AS (
          SELECT lang, doc_id, n_bigrams, sum_df,
                 ntile(3) OVER (PARTITION BY lang
                                ORDER BY score DESC, doc_id ASC) AS bucket
          FROM sc)
        SELECT lang, bucket, count(*) AS n_docs,
               bit_xor(${md5LongSql("CAST(doc_id AS VARCHAR)")}) AS doc_xor,
               round(sum(sum_df) / CAST(sum(n_bigrams) AS DOUBLE), 6) AS avg_df
        FROM bk GROUP BY 1, 2"""),
    ),

    // ---- t14: rule-attribution quality funnel — Gopher-style filter
    //      rules applied as an ORDERED WATERFALL, each dropped doc
    //      attributed to the FIRST rule that fired. t2 scores
    //      documents; t14 is the observability twin every production
    //      filter stack needs: per-(source, rule) kill counts and the
    //      token mass each rule removes, so a rule that silently eats
    //      a source shows up as one row. All rule predicates are
    //      INTEGER inequalities (top_c*5 >= nw, not ratio >= 0.2): no
    //      float compare sits on a knife edge, so Spark and DuckDB
    //      agree on every boundary doc. Rules are corpus-calibrated
    //      (length tails, stopword-poor ~10%, repetition tail ~2%,
    //      ~80% kept); r2 is deliberately non-firing here — a funnel
    //      must report a rule's ABSENCE as zero rows, not lose it.
    //      One corpus scan, all rule features fused in one projection
    //      (the repetition max-run rides t7's sorted-array fold, so
    //      even the heaviest feature is per-row map work), one
    //      map-side-combinable aggregate — at 100 TB this is
    //      scan-bound map work plus a 20-source × 5-bucket shuffle,
    //      i.e. free. ----
    Q(
      "t14_rule_attrition",
      (s, dir) => {
        // max adjacent-run length over the sorted word array = the top
        // word's occurrence count (t7's fused run_stats kernel, maxrun
        // field — round 13, same interpreted-lambda motivation as t7)
        graft.functions.GraftFunctions.register(s)
        val topC = expr(
          """run_stats(split(lower(trim(text)), '\\s+')).maxrun""")
        val nStop = regexp_count(lower(col("text")),
          lit("\\b(the|a|is|of|and|to|in)\\b")).cast("long")
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            nWords(col("text")).cast("long").as("nw"),
            nStop.as("ns"), topC.as("top_c"))
          .withColumn("kill_rule",
            when(col("nw") < Curation.MinWords, "r1_too_short")
              .when(col("nw") > Curation.MaxWords, "r2_too_long")
              .when(col("ns") * 50L < col("nw"), "r3_stopword_poor")
              .when(col("top_c") * 5L >= col("nw"), "r4_repetitive")
              .otherwise("kept"))
          .groupBy(col("source"), col("kill_rule"))
          .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_words_t"))
      },
      Some(s"""
        WITH w AS (
          SELECT doc_id, source, ${wordsSql("text")} AS ws,
                 CAST(len(regexp_extract_all(lower(text), '\\b(the|a|is|of|and|to|in)\\b')) AS BIGINT) AS ns
          FROM documents),
        f AS (
          SELECT doc_id, any_value(source) AS source, any_value(ns) AS ns,
                 CAST(any_value(len(ws)) AS BIGINT) AS nw,
                 CAST(max(c) AS BIGINT) AS top_c
          FROM (SELECT doc_id, source, ns, ws, wd, count(*) AS c
                FROM (SELECT doc_id, source, ns, ws, unnest(ws) AS wd FROM w)
                GROUP BY doc_id, source, ns, ws, wd)
          GROUP BY doc_id),
        k AS (
          SELECT source, nw,
                 CASE WHEN nw < ${Curation.MinWords} THEN 'r1_too_short'
                      WHEN nw > ${Curation.MaxWords} THEN 'r2_too_long'
                      WHEN ns * 50 < nw THEN 'r3_stopword_poor'
                      WHEN top_c * 5 >= nw THEN 'r4_repetitive'
                      ELSE 'kept' END AS kill_rule
          FROM f)
        SELECT source, kill_rule, count(*) AS n_docs,
               CAST(sum(nw) AS BIGINT) AS n_words_t
        FROM k GROUP BY 1, 2"""),
    ),

    // ---- t15: PHRASE SEARCH over a positional inverted index — the
    //      retrieval operator t12 (term ranking) and s15 (rank fusion)
    //      presuppose: find the documents containing an exact phrase,
    //      with occurrence counts and first position. The classic IR
    //      mechanism: a postings table (doc_id, pos, term) built ONCE
    //      and shared ([[postingsIndex]]; d8's span table is its k>1
    //      cousin), probed by slicing out the two query terms' lists
    //      and equi-joining on (doc_id, pos+1) — adjacency IS the join
    //      key, so phrase matching is a hash join of two term-sized
    //      lists, never a corpus scan per query. Scale shape: the term
    //      filters prune BEFORE the join (a term-bucketed persisted
    //      postings layout makes that planning-time, s8's pattern); the
    //      join moves |postings(w1)|+|postings(w2)| rows — for any real
    //      query a vanishing corpus fraction; the per-doc roll-up is
    //      map-side combinable. The pos+1 trick generalizes to k-term
    //      phrases as a chain of k−1 such joins. ----
    Q(
      "t15_phrase_search",
      (s, dir) => {
        val post = postingsIndex(s, dir)
        val p1 = post.filter(col("term") === PhraseW1)
          .select(col("doc_id"), col("pos"))
        val p2 = post.filter(col("term") === PhraseW2)
          .select(col("doc_id"), (col("pos") - 1).as("pos"))
        p1.join(p2, Seq("doc_id", "pos"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_hits"),
            min(col("pos")).cast("long").as("first_pos"))
      },
      Some(s"""
        WITH w AS (
          SELECT doc_id, ${wordsSql("text")} AS ws FROM documents),
        hit AS (
          SELECT doc_id, i - 1 AS pos
          FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-1)) AS i
                FROM w WHERE len(ws) >= 2)
          WHERE ws[i] = '$PhraseW1' AND ws[i+1] = '$PhraseW2')
        SELECT doc_id, count(*) AS n_hits, CAST(min(pos) AS BIGINT) AS first_pos
        FROM hit GROUP BY 1"""),
    ),

    // ---- t16: LANGUAGE-ID CONFUSION MATRIX — t1's classifier audited
    //      against the stored `lang` label: per (true, predicted) cell,
    //      count + the cell's share of its true-language row (ppm
    //      integer — exact long division, the d14/s11 discipline, so
    //      the hash cannot drift). The per-pipeline point: a 100 TB
    //      curation run gates on pred_lang (p1/p2), and this is the
    //      query that tells you what that gate COSTS per language
    //      before you run it. Scale shape: ONE map-side-combinable
    //      groupBy over the corpus; the share window runs on the
    //      ≤|langs|² confusion census (metadata-scale — don't copy that
    //      unpartitioned pattern onto corpus rows). ----
    Q(
      "t16_langid_confusion",
      (s, dir) => {
        val c = t(s, dir, "documents")
          .select(col("lang") +: langCountCols: _*)
          .withColumn("pred_lang", predLangCol)
        val mat = c.groupBy(col("lang"), col("pred_lang"))
          .agg(count(lit(1)).as("n"))
        // unpartitioned-by-pred window over the confusion CENSUS
        // (≤ |langs|² rows at any corpus size), never the corpus
        import org.apache.spark.sql.expressions.Window
        val byTrue = Window.partitionBy(col("lang"))
        mat
          .withColumn("lang_total", sum(col("n")).over(byTrue))
          .select(col("lang"), col("pred_lang"), col("n"),
            expr("1000000L * n div lang_total").as("share_ppm"))
      },
      Some(s"""
        WITH c AS (
          SELECT lang,
                 $langCountsSql
          FROM documents),
        p AS (SELECT lang, $predLangSql AS pred_lang FROM c),
        m AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
              FROM p GROUP BY 1, 2),
        tt AS (SELECT lang, CAST(sum(n) AS BIGINT) AS lang_total
               FROM m GROUP BY 1)
        SELECT m.lang, m.pred_lang, m.n,
               CAST(1000000 * m.n // tt.lang_total AS BIGINT) AS share_ppm
        FROM m JOIN tt ON m.lang = tt.lang"""),
    ),
  )

  /** t15's gate phrase — present at every testdata SF (24–278 matching
    * docs) with mid selectivity, so the join path is exercised and the
    * result census is corpus-derived at each SF.
    */
  private[graft] val PhraseW1 = "hash"
  private[graft] val PhraseW2 = "join"

  /** The positional postings table (doc_id, 0-based pos, term) — the
    * inverted-index base t15 probes, materialized once per (session,
    * corpus) like [[bigramIndex]]. A persisted deployment would bucket
    * it BY TERM so a query's list slice is planning-time partition
    * pruning (s8's serving-layout pattern); the in-session twin relies
    * on the pushed term filter instead.
    */
  private[graft] def postingsIndex(s: org.apache.spark.sql.SparkSession, dir: String) =
    CorpusCache.table(s, dir, "t15.postings") {
      Dedup.docsSharded(s, dir)
        .select(col("doc_id"),
          posexplode(words(col("text"))).as(Seq("pos", "term")))
    }

  /** t12's per-document keyword budget. */
  val TfidfTopK = 3L

  /** The (doc_id, bigram-hash) table t6's frequency build AND per-doc
    * probe both read — materialized once per (session, corpus); without
    * it the corpus-wide explode+md5 runs twice (two Generate branches,
    * no reusable exchange).
    */
  private[graft] def bigramIndex(s: org.apache.spark.sql.SparkSession, dir: String) =
    CorpusCache.table(s, dir, "t6.bigrams") {
      graft.functions.GraftFunctions.register(s)
      Dedup.docsSharded(s, dir)
        .select(col("doc_id"), explode(bigrams(words(col("text")))).as("bg"))
        .select(col("doc_id"), md5Long(col("bg")).as("h"))
    }

  /** Pre-build t6's shared bigram-hash table (same out-of-cell billing
    * contract as [[Dedup.prewarmIndexes]]).
    */
  private[graft] def prewarmIndexes(s: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    bigramIndex(s, dir); ()
  }

  /** t10's training-window capacity (tokens per packed sequence). */
  val SeqPackCapacity = 2048L

  /** DuckDB twin of `winnow_fp(text, k, w)` → (doc_id, n_fp, fp_md5).
    * Mirrors graft.functions.WinnowKernel exactly: same base/modulus,
    * byte-level k-grams over UTF-8 (bytes extracted via hex()+substr),
    * rightmost-minimum winnowing windows (packed (h, -pos) min so one
    * window min yields both the value and the argmin), record-on-change
    * via lag(), and the short-document single-global-min branch.
    * Validated against a Python port in scripts/proto_t5_oracle.py.
    */
  private def winnowOracleSql(k: Int, w: Int): String = {
    val mod = (BigInt(1) << 61) - 1 // Mersenne prime 2^61-1, as in WinnowKernel
    val pows = (0 until k).map(j => BigInt(257).modPow(BigInt(k - 1 - j), mod))
    val powValues = pows.zipWithIndex
      .map { case (p, j) => s"($j, $p::HUGEINT)" }.mkString(", ")
    s"""
        WITH d AS (
          SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb
          FROM documents),
        b AS (
          SELECT doc_id, p, CAST(('0x' || substr(hx, 2*p+1, 2)) AS INT) AS bv, nb - $k + 1 AS ng
          FROM (SELECT doc_id, hx, nb, unnest(generate_series(0, nb-1)) AS p FROM d)),
        hs AS (
          SELECT doc_id, p - j AS pos, max(ng) AS ng,
                 CAST(sum(CAST(bv AS HUGEINT) * powj) % $mod AS BIGINT) AS h
          FROM b JOIN (VALUES $powValues) AS wts(j, powj) ON p - j BETWEEN 0 AND ng - 1
          GROUP BY 1, 2),
        win AS (
          SELECT doc_id, pos AS start, ng,
                 min(CAST(h AS HUGEINT) * 4294967296 + (4294967295 - pos))
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS combo
          FROM hs WHERE ng > $w
          QUALIFY start <= ng - $w),
        sel AS (
          SELECT doc_id, start,
                 CAST(combo // 4294967296 AS BIGINT) AS fph,
                 4294967295 - CAST(combo % 4294967296 AS BIGINT) AS minidx
          FROM win),
        emitted AS (
          SELECT doc_id, start, fph
          FROM (SELECT *, lag(minidx) OVER (PARTITION BY doc_id ORDER BY start) AS previdx FROM sel)
          WHERE previdx IS NULL OR minidx <> previdx),
        short AS (
          SELECT doc_id, 0 AS start, min(h) AS fph
          FROM hs WHERE ng BETWEEN 1 AND $w
          GROUP BY doc_id),
        fp AS (SELECT * FROM emitted UNION ALL SELECT * FROM short),
        agg AS (
          SELECT doc_id, CAST(count(*) AS INT) AS n_fp,
                 md5(string_agg(CAST(fph AS VARCHAR), ',' ORDER BY start)) AS fp_md5
          FROM fp GROUP BY doc_id)
        SELECT d0.doc_id, coalesce(a.n_fp, 0) AS n_fp, coalesce(a.fp_md5, md5('')) AS fp_md5
        FROM documents d0 LEFT JOIN agg a ON d0.doc_id = a.doc_id"""
  }
}
