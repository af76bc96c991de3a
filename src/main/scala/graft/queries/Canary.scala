package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Oracle-environment canaries (`qc_*`) — one-row-ish probes that pin
  * the cross-engine (Spark vs the driver's DuckDB) evaluation of every
  * "risky" SQL construct the full oracle suite leans on, each in
  * ISOLATION. They exist because of the r08 incident: three queries
  * hash-failed ONLY on the driver (green under the repo's own DuckDB
  * 1.0.0 at the same SF and parallelism), and the root cause could not
  * be localized from the failing queries alone — each used several
  * version-sensitive constructs at once (HUGEINT-typed bare `sum()`,
  * `//` on HUGEINT, comma cross join, empty-frame windows).
  *
  * With these in the correctness artifact, the NEXT driver-side-only
  * mismatch localizes immediately: whichever canary goes red names the
  * construct, and whichever stays green exonerates it. They are all
  * expected GREEN — each uses the repo's hardened spelling (explicit
  * `CAST(... AS BIGINT)` at every aggregation/arithmetic boundary, the
  * convention every driver-green integer-sum oracle follows) while
  * still exercising the underlying evaluation semantics (the HUGEINT
  * intermediate, the sign rule, the hex ladder) that a different DuckDB
  * build could plausibly change.
  *
  * Values are fixed literals (plus one probe over the `events` table's
  * timestamp ladder), so every canary costs microseconds at any SF.
  */
object Canary {

  /** Fixed probe integers used by the sum/div canaries — includes 0
    * and a value big enough that `sum*1000000` exceeds int32. All six
    * are deliberately DISTINCT: qc5's ROWS frame orders by this column,
    * and a duplicate would make the frame tie-order-dependent (flaky
    * across engines).
    */
  private val ProbeVals = Seq(0L, 1L, 2L, 3L, 5L, 3000000000L)

  private def valuesSql: String =
    s"(VALUES ${ProbeVals.map(v => s"($v)").mkString(", ")}) t(v)"

  private def probeDf(s: SparkSession): DataFrame = {
    import s.implicits._
    ProbeVals.toDF("v")
  }

  def all: Seq[Q] = Seq(

    // ---- qc1: the md5-hex → BIGINT ladder behind Portable.md5Long —
    //      every hash split/sample/jitter in the suite rides this.
    //      Probes: hex substr cast on fixed strings, incl. one whose
    //      15-hex-digit prefix has the high bit of digit 1 set. ----
    Q(
      "qc1_hex_cast",
      (s, _) => {
        import s.implicits._
        Seq("a", "b", "arr-v1|42", "quota-v1|doc-00000001")
          .toDF("probe")
          .select(col("probe"),
            graft.pipeline.Portable.md5Long(col("probe")).as("h"))
      },
      Some {
        val h = graft.pipeline.Portable.md5LongSql("probe")
        s"""
        SELECT probe, $h AS h
        FROM (VALUES ('a'), ('b'), ('arr-v1|42'),
                     ('quota-v1|doc-00000001')) t(probe)"""
      },
    ),

    // ---- qc2: `%` sign semantics — both engines return the sign of
    //      the DIVIDEND (C semantics); a floor-mod build would flip the
    //      negative cases. ----
    Q(
      "qc2_mod_sign",
      (s, _) => {
        import s.implicits._
        // the % is evaluated by SPARK's Mod expression (not folded by
        // scalac): both engines must compute it, or a green canary
        // would falsely exonerate the construct (review r9)
        Seq(("neg_pos", -7L, 3L), ("pos_neg", 7L, -3L),
          ("neg_neg", -7L, -3L), ("pos_pos", 7L, 3L))
          .toDF("lbl", "a", "b")
          .select(col("lbl"), (col("a") % col("b")).as("m"))
      },
      Some("""
        SELECT lbl, CAST(m AS BIGINT) AS m
        FROM (VALUES ('neg_pos', (-7) % 3), ('pos_neg', 7 % (-3)),
                     ('neg_neg', (-7) % (-3)), ('pos_pos', 7 % 3)) t(lbl, m)"""),
    ),

    // ---- qc3: `//` with a HUGEINT left operand (a bare integer sum) —
    //      e14's drop_ppm shape. The output is CAST AS BIGINT so only
    //      the DIVISION semantics are under test, not the rendering.
    //      Also pins truncation-toward-zero on a negative dividend
    //      (Spark `div` truncates; a floor-div build would return -4
    //      for -7/2). ----
    Q(
      "qc3_intdiv_hugeint",
      (s, _) => probeDf(s).agg(
        expr("(sum(v) * 1000000L) div 7").as("q"),
        expr("CAST(-7 AS BIGINT) div CAST(2 AS BIGINT)").as("neg_trunc")),
      Some(s"""
        SELECT CAST((sum(v) * 1000000) // 7 AS BIGINT) AS q,
               CAST((-7) // 2 AS BIGINT) AS neg_trunc
        FROM $valuesSql"""),
    ),

    // ---- qc4: integer-sum typing — bare DuckDB sum() is HUGEINT (the
    //      r08 failure class); this pins that the hardened spelling
    //      (CAST at the aggregation site) renders identically for plain
    //      sums, CASE-sums, and count(*). ----
    Q(
      "qc4_sum_typing",
      (s, _) => probeDf(s).agg(
        sum(col("v")).as("s"),
        sum(when(col("v") > 2L, 1L).otherwise(0L)).as("s_case"),
        count(lit(1)).as("n")),
      Some(s"""
        SELECT CAST(sum(v) AS BIGINT) AS s,
               CAST(sum(CASE WHEN v > 2 THEN 1 ELSE 0 END) AS BIGINT) AS s_case,
               CAST(count(*) AS BIGINT) AS n
        FROM $valuesSql"""),
    ),

    // ---- qc5: window over an EMPTY frame (UNBOUNDED PRECEDING .. 1
    //      PRECEDING on the first row) — the prefix-max shape under
    //      e14/e15/e16; the first row must be NULL, not the current
    //      row's value. ----
    Q(
      "qc5_empty_frame",
      (s, _) => {
        import org.apache.spark.sql.expressions.Window
        // bounded global window: the probe VALUES frame (6 rows)
        val w = graft.pipeline.Portable.boundedW(col("v")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, -1)
        probeDf(s).select(col("v"),
          coalesce(max(col("v")).over(w), lit(-1L)).as("pre"))
      },
      Some(s"""
        SELECT v, coalesce(max(v) OVER (ORDER BY v ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(-1 AS BIGINT)) AS pre
        FROM $valuesSql"""),
    ),

    // ---- qc6: the floor(sqrt(·)·1e6 + 0.5) integer micro-unit ladder
    //      (p7's weights) — sqrt and floor are IEEE-exact in both
    //      engines; probes perfect squares, a boundary-adjacent value,
    //      and a large count. ----
    Q(
      "qc6_floor_sqrt",
      (s, _) => {
        import s.implicits._
        Seq(1L, 2L, 3L, 4L, 10L, 999983L).toDF("n")
          .select(col("n"),
            floor(sqrt(col("n").cast("double")) * 1000000.0 + 0.5)
              .cast("long").as("wppm"))
      },
      Some("""
        SELECT n, CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000.0 + 0.5)
                       AS BIGINT) AS wppm
        FROM (VALUES (CAST(1 AS BIGINT)), (2), (3), (4), (10),
                     (999983)) t(n)"""),
    ),

    // ---- qc8: double round() semantics — every float-emitting oracle
    //      rounds at 4-6 decimals before hashing; Spark rounds HALF_UP
    //      on the double's SHORTEST decimal representation
    //      (BigDecimal.valueOf), DuckDB half-away on its printed value
    //      — these agree on the probe set (half-units, binary-inexact
    //      representations, repeating fractions) but a DuckDB build
    //      that switched to round-half-even would split exactly here
    //      and nowhere else. All inputs forced DOUBLE (a bare 2.5
    //      literal is DECIMAL in DuckDB — different rounding path). ----
    Q(
      "qc8_round_double",
      (s, _) => {
        import s.implicits._
        Seq(
          ("half_pos", 2.5, 0), ("half_pos2", 3.5, 0), ("half_neg", -2.5, 0),
          ("inexact_up", 2.675, 2), ("exact_half", 0.125, 2),
          ("third", 1.0 / 3.0, 6), ("two_third", 2.0 / 3.0, 6),
          ("fp_sum", 0.1 + 0.2, 6))
          .toDF("lbl", "x", "d")
          .select(col("lbl"), round(col("x"), 0).as("r0"),
            when(col("d") === 2, round(col("x"), 2))
              .when(col("d") === 6, round(col("x"), 6))
              .otherwise(round(col("x"), 0)).as("r"))
      },
      Some("""
        SELECT lbl, round(x, 0) AS r0,
               CASE WHEN d = 2 THEN round(x, 2)
                    WHEN d = 6 THEN round(x, 6)
                    ELSE round(x, 0) END AS r
        FROM (VALUES
          ('half_pos', 2.5::DOUBLE, 0), ('half_pos2', 3.5::DOUBLE, 0),
          ('half_neg', -2.5::DOUBLE, 0),
          ('inexact_up', 2.675::DOUBLE, 2), ('exact_half', 0.125::DOUBLE, 2),
          ('third', 1.0::DOUBLE / 3.0::DOUBLE, 6),
          ('two_third', 2.0::DOUBLE / 3.0::DOUBLE, 6),
          ('fp_sum', 0.1::DOUBLE + 0.2::DOUBLE, 6)) t(lbl, x, d)"""),
    ),

    // ---- qc9: the text-normalization ladder every t/d-family oracle
    //      rides — lowercase/trim/whitespace-collapse, regex word
    //      split, md5 fingerprint of the normalized text — probed on
    //      adversarial strings (empty, all-space, runs of whitespace,
    //      mixed case, non-BMP) so a regex- or md5-behavior drift in
    //      the oracle engine localizes here instead of splitting forty
    //      dedup hashes at once. ----
    Q(
      "qc9_text_norm",
      (s, _) => {
        import s.implicits._
        Seq("", " ", "  a  B  ", "Hello, World!", "tab\tand\nnewline",
          "café 😀 end")
          .toDF("t")
          .select(col("t"),
            graft.pipeline.Portable.nWords(col("t")).cast("long").as("n_words"),
            graft.pipeline.Portable.normText(col("t")).as("norm"),
            graft.pipeline.Portable.normFingerprint(col("t")).as("fp"))
      },
      Some(s"""
        SELECT t,
               CAST(len(${graft.pipeline.Portable.wordsSql("t")}) AS BIGINT) AS n_words,
               ${graft.pipeline.Portable.normTextSql("t")} AS norm,
               ${graft.pipeline.Portable.normFingerprintSql("t")} AS fp
        FROM (VALUES (''), (' '), ('  a  B  '), ('Hello, World!'),
                     (E'tab\\tand\\nnewline'),
                     ('café 😀 end')) t(t)"""),
    ),

    // ---- qc10: the edit-distance recipe d16 rides — ASCII projection
    //      (the byte-vs-codepoint unit shim: DuckDB's levenshtein counts
    //      BYTES, Spark's counts CODEPOINTS; they agree only on ASCII),
    //      levenshtein, and the integer-ppm ratio with its maxlen = 0
    //      verdict-undefined guard (no ASCII content → sim 0, never
    //      "identical") — probed on adversarial strings (accents, CJK,
    //      a 4-byte astral emoji where Java-regex surrogate pairs and
    //      RE2-over-UTF-8 diverge most plausibly, strip-to-empty,
    //      empty-vs-nonempty) so a levenshtein or regex-class drift in
    //      the oracle engine localizes here instead of failing d16's
    //      corpus hash. Non-ASCII probe chars are built with
    //      chr()/\\u escapes, never raw multibyte literals in the SQL
    //      text. ----
    Q(
      "qc10_edit_dist",
      (s, _) => {
        import s.implicits._
        val p = graft.pipeline.Portable
        Seq(("plain", "kitten", "sitting"), ("empty", "", "abc"),
          ("equal", "same", "same"), ("accent", "café", "cafe"),
          ("cjk", "中文abc", "abc"),
          ("astral", "a😀b", "ab"),
          ("strip_all", "中", "文"))
          .toDF("lbl", "a", "b")
          .select(col("lbl"), p.asciiText(col("a")).as("pa"),
            p.asciiText(col("b")).as("pb"))
          .withColumn("lev", levenshtein(col("pa"), col("pb")).cast("long"))
          .withColumn("maxlen",
            greatest(length(col("pa")), length(col("pb"))).cast("long"))
          .select(col("lbl"), col("lev"),
            when(col("maxlen") === 0L, lit(0L))
              .otherwise(expr("((maxlen - lev) * 1000000L) div maxlen"))
              .as("sim_ppm"))
      },
      Some(s"""
        WITH probe(lbl, a, b) AS (VALUES
          ('plain', 'kitten', 'sitting'), ('empty', '', 'abc'),
          ('equal', 'same', 'same'), ('accent', 'caf' || chr(233), 'cafe'),
          ('cjk', chr(20013) || chr(25991) || 'abc', 'abc'),
          ('astral', 'a' || chr(128512) || 'b', 'ab'),
          ('strip_all', chr(20013), chr(25991))),
        p AS (SELECT lbl, ${graft.pipeline.Portable.asciiTextSql("a")} AS pa,
                     ${graft.pipeline.Portable.asciiTextSql("b")} AS pb
              FROM probe),
        st AS (SELECT lbl, CAST(levenshtein(pa, pb) AS BIGINT) AS lev,
                      CAST(greatest(len(pa), len(pb)) AS BIGINT) AS maxlen
               FROM p)
        SELECT lbl, lev,
               CAST(CASE WHEN maxlen = 0 THEN 0
                         ELSE ((maxlen - lev) * 1000000) // maxlen END AS BIGINT) AS sim_ppm
        FROM st"""),
    ),

    // ---- qc7: the timestamp ladder — parquet TIMESTAMP → hour trunc →
    //      epoch micros, over the real events table (the one canary
    //      that reads testdata, because the ladder's risk IS the
    //      parquet logical-type handling). One output row: the min/max
    //      hour bounds every e-family calendar derives from. ----
    Q(
      "qc7_epoch_us",
      (s, dir) => Tables.t(s, dir, "events").agg(
        min(unix_micros(date_trunc("HOUR", col("ts")))).as("mn"),
        max(unix_micros(date_trunc("HOUR", col("ts")))).as("mx")),
      Some("""
        SELECT CAST(min(epoch_us(date_trunc('hour', ts))) AS BIGINT) AS mn,
               CAST(max(epoch_us(date_trunc('hour', ts))) AS BIGINT) AS mx
        FROM events"""),
    ),

    // ---- qc11: LIST-literal 1-based indexing — q63's Hilbert LUT
    //      construct (`([..])[i]`), new in round-9 session 2, so it
    //      gets its isolation probe per the r08 discipline. Probes the
    //      first, an interior, and the last position, with the index
    //      COMPUTED (x*4+y+1, the LUT's exact arithmetic shape), and
    //      the element CAST AS BIGINT so only the indexing semantics
    //      are under test, not INTEGER-vs-BIGINT rendering. ----
    Q(
      "qc11_list_index",
      (s, _) => {
        import s.implicits._
        val lut = Seq(10L, 20L, 30L, 40L, 50L, 60L, 70L, 80L)
        Seq(("first", 0L, 0L), ("mid", 1L, 1L), ("last", 1L, 3L))
          .toDF("lbl", "x", "y")
          .select(col("lbl"),
            element_at(
              array(lut.map(lit(_)): _*),
              (col("x") * 4 + col("y") + 1).cast("int")).as("v"))
      },
      Some("""
        SELECT lbl,
               CAST(([10, 20, 30, 40, 50, 60, 70, 80])[CAST(x * 4 + y + 1 AS INT)] AS BIGINT) AS v
        FROM (VALUES ('first', 0, 0), ('mid', 1, 1), ('last', 1, 3)) t(lbl, x, y)"""),
    ),

    // ---- qc12: FULL JOIN NULL-padding — e25's (and s15's) shape: both
    //      sides' unmatched rows must surface with NULLs that hash
    //      identically across engines (NULL canonicalization, column
    //      order under the sorted-name compare). One matched pair, one
    //      left-only, one right-only. ----
    Q(
      "qc12_full_join",
      (s, _) => {
        import s.implicits._
        val l = Seq((1L, "a"), (2L, "b")).toDF("k", "lv")
        val r = Seq((1L, 10L), (3L, 30L)).toDF("k2", "rv")
        l.join(r, col("k") === col("k2"), "full_outer")
          .select(col("k"), col("lv"), col("k2"), col("rv"))
      },
      Some("""
        SELECT l.k, l.lv, r.k2, r.rv
        FROM (VALUES (1, 'a'), (2, 'b')) l(k, lv)
        FULL JOIN (VALUES (1, 10), (3, 30)) r(k2, rv)
          ON l.k = r.k2"""),
    ),
  )
}
