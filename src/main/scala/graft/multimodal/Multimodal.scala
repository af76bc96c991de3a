package graft.multimodal

import graft.{CorpusCache, Q, Tables}
import graft.functions.GraftFunctions.{audioStats, byteHist, byteSimhash, pcmGen, pcmRequant,
  rasterGen, resizeNn}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata (driver-mandated LLM-pipeline extension).
  *
  * The real media codecs are NOT in this container, so the decode step is
  * a clearly-marked deterministic STUB (`fakeDecodeFeatures`) — but the
  * Spark-side plumbing is real and tested: binary payload schema,
  * per-batch iteration (`mapPartitions`, the JVM twin of a Python
  * `mapInPandas` batch loop), fixed-shape feature vectors, frame
  * chunking/sampling as pure column algebra, and partition-count
  * preservation so a 100 TB media table parallelizes per file split.
  *
  * Payloads here are derived from `documents.text` bytes — a stand-in
  * with the same plumbing shape as real media bytes.
  */
object Multimodal {
  import Tables.t

  val FeatureDim = 16
  val FrameBytes = 64 // one "frame" = 64 payload bytes

  /** documents → (id, modality, payload binary, meta struct). */
  def blobs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id").as("id"),
      // deterministic modality assignment: cycle image/audio/video
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("modality"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        col("source").as("origin"),
        col("n_chars").as("raw_size"),
        col("lang").as("tag")).as("meta"))

  /** m4's thumbnail spec: every raster resizes to [[ThumbW]]×[[ThumbH]]. */
  val ThumbW = 8
  val ThumbH = 8

  /** documents → synthetic RASTER blobs `(id, modality, w, h, payload)`:
    * per-id w×h grayscale rasters from the seeded `raster_gen` kernel
    * (dims 8..32 per side, derived from the id so every size mixes in
    * the corpus). The m4 source: a real 2-D resize needs pixels with
    * row/column structure, which the text-byte stand-in
    * [[blobs]] cannot provide.
    */
  def rasterBlobs(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents").select(
      col("doc_id").as("id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("modality"),
      (pmod(col("doc_id"), lit(25)) + 8).cast("int").as("w"),
      (pmod(col("doc_id") * 7, lit(25)) + 8).cast("int").as("h"))
      .withColumn("payload",
        rasterGen(col("id"), col("w"), col("h")))
  }

  /** STUB decode: payload bytes → fixed-shape L1-normalized byte-class
    * histogram. A real deployment swaps ONLY this function for a codec
    * call (same signature: Iterator of rows in, Iterator of rows out).
    * Features are raw IEEE divisions (count/total) — no rounding — so the
    * DuckDB oracle's `c / CAST(n AS DOUBLE)` is bitwise-identical.
    */
  def fakeDecodeFeatures(blobs: DataFrame): DataFrame = {
    val outSchema = StructType(blobs.schema.fields.filterNot(_.name == "payload") :+
      StructField("features", ArrayType(DoubleType, containsNull = false)))
    val payloadIdx = blobs.schema.fieldIndex("payload")
    val keepIdx = blobs.schema.fields.indices.filterNot(_ == payloadIdx)
    val df = blobs.sparkSession.createDataFrame(
      blobs.rdd.mapPartitions { it =>
        it.map { r =>
          val bytes = r.getAs[Array[Byte]](payloadIdx)
          val hist = new Array[Double](FeatureDim)
          var i = 0
          while (i < bytes.length) { hist((bytes(i) & 0xff) % FeatureDim) += 1; i += 1 }
          val total = math.max(bytes.length, 1).toDouble
          var j = 0
          while (j < FeatureDim) { hist(j) = hist(j) / total; j += 1 }
          Row.fromSeq(keepIdx.map(r.get) :+ hist.toSeq)
        }
      }, outSchema)
    df
  }

  /** Column-algebra twin of [[fakeDecodeFeatures]], in EXPLODED form (one
    * row per (id, dim)): chunk the payload into [[FrameBytes]] frames
    * (m2's machinery), explode each frame into per-byte class rows,
    * hash-aggregate counts, zero-fill against a per-doc dim spine, and
    * normalize with the same raw IEEE division. Every expression is a
    * native codegen'd one (substring/split/explode/conv/hash-agg) —
    * deliberately NOT `transform`/`filter` array lambdas, which Spark
    * interprets per element (measured 50× slower at sf0.1) and which
    * would pin the whole histogram of one blob on one row.
    *
    * The frame chunk BEFORE the hex split is the 100 TB guard: a direct
    * `split(hex(payload))` materializes one n_bytes-element array per
    * row — fine for text stand-ins, an OOM bomb for GB-scale media
    * blobs. Chunking first bounds peak per-row state at [[FrameBytes]]
    * whatever the payload size; the per-byte rows still combine map-side
    * into |docs|·FeatureDim partials, and pruning/pushdown survive
    * because no stage leaves the Tungsten pipeline.
    * [[fakeDecodeFeatures]] remains the documented seam for REAL codecs
    * (a JPEG/opus decoder is a row-iterator library call, not column
    * algebra); all three paths are differential-tested equal in
    * MultimodalSpec.
    */
  def decodeFeaturesExploded(blobs: DataFrame): DataFrame = {
    val b = blobs.withColumn("nb", octet_length(col("payload")))
    val keep = b.columns.filterNot(c => c == "payload" || c == "nb").map(col)
    // frame rows first (bounded substring copies), then hex pairs via a
    // \G chunking split — per-row array ≤ FrameBytes elements
    val frames = b
      .withColumn("n_frames",
        ceil(col("nb").cast("double") / FrameBytes).cast("int"))
      .select(col("id"), col("payload"), explode(expr(
        "CASE WHEN n_frames > 0 THEN sequence(0, n_frames - 1) ELSE array() END")).as("fi"))
      .select(col("id"),
        hex(expr(s"substring(payload, fi * $FrameBytes + 1, $FrameBytes)")).as("hx"))
    val counts = frames
      .select(col("id"), explode(split(col("hx"), "(?<=\\G..)")).as("hb"))
      .filter(length(col("hb")) === 2) // empty frame → [""] → no bytes
      .select(col("id"), (conv(col("hb"), 16, 10).cast("int") % FeatureDim).as("dim"))
      .groupBy("id", "dim").agg(count(lit(1)).as("c"))
    // dim spine: every (doc, dim) appears, zero-filled where no byte hit
    b.drop("payload").select(keep :+ col("nb") :+
        explode(sequence(lit(0), lit(FeatureDim - 1))).as("dim"): _*)
      .join(counts, Seq("id", "dim"), "left_outer")
      .withColumn("feat",
        coalesce(col("c"), lit(0L)) / greatest(col("nb"), lit(1)).cast("double"))
      .drop("c", "nb")
  }

  /** The round-3 unchunked explode (whole-payload hex split) — retained
    * ONLY as the differential baseline for [[decodeFeaturesExploded]]'s
    * frame-chunk rewrite; its per-row array grows with the payload, so
    * production paths must not use it.
    */
  private[graft] def decodeFeaturesUnchunked(blobs: DataFrame): DataFrame = {
    val b = blobs
      .withColumn("hx", hex(col("payload")))
      .withColumn("nb", octet_length(col("payload")))
      .drop("payload")
    val keep = b.columns.filterNot(c => c == "hx" || c == "nb").map(col)
    val counts = b
      .select(col("id"), explode(split(col("hx"), "(?<=\\G..)")).as("hb"))
      .filter(length(col("hb")) === 2)
      .select(col("id"), (conv(col("hb"), 16, 10).cast("int") % FeatureDim).as("dim"))
      .groupBy("id", "dim").agg(count(lit(1)).as("c"))
    b.select(keep :+ col("nb") :+
        explode(sequence(lit(0), lit(FeatureDim - 1))).as("dim"): _*)
      .join(counts, Seq("id", "dim"), "left_outer")
      .withColumn("feat",
        coalesce(col("c"), lit(0L)) / greatest(col("nb"), lit(1)).cast("double"))
      .drop("c", "nb")
  }

  /** Native-kernel twin of [[decodeFeaturesExploded]]: the codegen'd
    * `byte_hist` expression computes the whole per-row histogram in one
    * fused loop over the raw payload bytes (no hex round-trip, no
    * per-byte explode), and the per-(id, dim) rows fall out of a
    * posexplode of the 16-element count array — so the entire operator
    * is a single shuffle-FREE codegen stage (the explode/agg spelling
    * shuffled |docs|·FeatureDim count partials). Per-row state is
    * FeatureDim longs whatever the payload size, which also retires the
    * array-explosion hazard the frame chunking bounded. The zero-fill
    * spine is free: the histogram array always carries all FeatureDim
    * buckets.
    */
  def decodeFeaturesHist(blobs: DataFrame): DataFrame = {
    val keep = blobs.columns.filterNot(_ == "payload").map(col)
    blobs
      .withColumn("nb", octet_length(col("payload")))
      .select(keep :+ col("nb") :+
        posexplode(byteHist(col("payload"), FeatureDim)): _*)
      .withColumn("feat", col("col") / greatest(col("nb"), lit(1)).cast("double"))
      .withColumnRenamed("pos", "dim")
      .drop("col", "nb")
  }

  /** Frame chunking + every-k-th sampling as pure column algebra (no
    * UDF): frames = payload split into FrameBytes chunks; sample stride k.
    */
  def frameSample(blobs: DataFrame, stride: Int): DataFrame =
    blobs
      .withColumn("n_frames",
        ceil(octet_length(col("payload")).cast("double") / FrameBytes).cast("int"))
      // n_frames = 0 guard: Spark's sequence(0, -1) is the DESCENDING
      // sequence [0, -1] (DuckDB's generate_series(0, -1) is empty), so
      // an empty payload would otherwise emit a phantom frame 0 and
      // break both the oracle parity and the ceil(n/stride) contract
      .withColumn("frame_idx",
        explode(expr(
          s"CASE WHEN n_frames > 0 THEN filter(sequence(0, n_frames - 1), i -> i % $stride = 0) ELSE array() END")))
      .withColumn("frame",
        expr(s"substring(payload, frame_idx * $FrameBytes + 1, $FrameBytes)"))
      .select(col("id"), col("modality"), col("frame_idx"), col("frame"),
        octet_length(col("frame")).as("frame_bytes"))

  /** The (id, byte-SimHash) signature table m6's pigeonhole self-join
    * reads on BOTH sides — materialized once per (session, corpus);
    * without the cache each join side re-runs byte_simhash over every
    * payload (the corpus's full byte volume, twice). m5 stays the pure
    * fused-map spelling; this is its persisted-signature shape.
    */
  private[graft] def sigIndex(s: SparkSession, dir: String): DataFrame =
    CorpusCache.table(s, dir, "m6.sig") {
      blobs(s, dir).select(col("id"),
        byteSimhash(col("payload"), 32).as("phash"))
    }

  /** m7's re-encoded variant rasters: every even-id raster re-emitted at
    * a DIFFERENT geometry (24×24 for id%4=0, 16×16 for the rest) by
    * running the real [[graft.functions.ResizeNn]] kernel over the
    * original payload — the synthetic twin of the re-encode/resize
    * copies a media pipeline must recognize as duplicates. Variant ids
    * live past max(doc_id) (q41's re-key convention). Variant
    * geometries are MULTIPLES of the [[ThumbW]]×[[ThumbH]] canonical
    * thumbnail, which makes nearest-neighbor index-map composition
    * exact: resize(resize(O, g), 8) == resize(O, 8) byte-for-byte
    * (⌊⌊oy·g/8⌋·h/g⌋ = ⌊oy·h/8⌋ when 8 | g) — the m7 spec pins that
    * identity and the oracle replays the composed map rather than
    * assuming it.
    */
  /** max(doc_id) — one memoized scalar per (session, corpus), the
    * [[graft.pipeline.Similarity.s10Boundary]] pattern: every variant
    * consumer was otherwise paying a full documents scan for one long
    * (round-8 review).
    */
  private def maxDocId(s: SparkSession, dir: String): Long =
    CorpusCache(s, dir, "m7.maxdoc")(
      graft.BoundedCollect.rows(
        t(s, dir, "documents").agg(max(col("doc_id"))), 1, "m7 max doc id")(0).getLong(0))

  private[graft] def rasterVariants(s: SparkSession, dir: String): DataFrame = {
    val mx = maxDocId(s, dir)
    val even = rasterBlobs(s, dir).filter(pmod(col("id"), lit(2)) === 0)
    def reenc(src: DataFrame, g: Int): DataFrame = src.select(
      (col("id") + lit(mx + 1L)).as("vid"), col("id").as("src"),
      lit(g).as("w"), lit(g).as("h"),
      resizeNn(col("payload"), col("w"), col("h"), g, g).as("payload"))
    reenc(even.filter(pmod(col("id"), lit(4)) === 0), 24)
      .unionByName(reenc(even.filter(pmod(col("id"), lit(4)) =!= 0), 16))
  }

  /** m7/m8's SHARED canonical-thumbnail table `(mid, src, kind,
    * thumb)` over originals (kind 0) ∪ resize variants (1) ∪
    * watermarked copies (2): thumb = the 8×8 canonical thumbnail
    * ([[ResizeNn]] at the m4 spec geometry). Materialized ONCE per
    * (session, corpus): both digests — m7's exact md5 and m8's SimHash
    * — are projections over this one table, so the resize kernels run
    * a single corpus pass (64 bytes/row stored) instead of once per
    * digest; the match joins read it on both sides, and
    * custom-expression subtrees get no exchange reuse (round-7 review)
    * — without the cache each consumer would re-run resize_nn over the
    * corpus's full byte volume, and each invocation would re-ANALYZE
    * the whole union+variants+resize subtree at plan time (the
    * localCheckpoint truncates lineage like ivfCentroids').
    */
  private[graft] def thumbIndex(s: SparkSession, dir: String): DataFrame =
    CorpusCache.table(s, dir, "m78.thumb") {
      val orig = rasterBlobs(s, dir).select(
        col("id").as("mid"), col("id").as("src"), lit(0).as("kind"),
        col("w"), col("h"), col("payload"))
      val members = orig
        .unionByName(rasterVariants(s, dir).select(
          col("vid").as("mid"), col("src"), lit(1).as("kind"),
          col("w"), col("h"), col("payload")))
        .unionByName(watermarkedRasters(s, dir).select(
          col("wid").as("mid"), col("src"), lit(2).as("kind"),
          col("w"), col("h"), col("payload")))
      members.select(col("mid"), col("src"), col("kind"),
        resizeNn(col("payload"), col("w"), col("h"), ThumbW, ThumbH).as("thumb"))
        .localCheckpoint()
    }

  /** m7's view of [[thumbIndex]]: exact-md5 fingerprints over the
    * NON-watermarked members — m7's membership contract is originals ∪
    * resize variants only (the oracle replays exactly that set), and
    * `is_var` keeps its original meaning with kind restricted to
    * {0, 1}. Pure projection: no second kernel pass, no second cache.
    */
  private[graft] def thumbFpIndex(s: SparkSession, dir: String): DataFrame =
    thumbIndex(s, dir).filter(col("kind") < 2)
      .select(col("mid"), col("src"), col("kind").as("is_var"),
        md5(lower(hex(col("thumb")))).as("fp"))

  /** m8's WATERMARKED variants: every 5th raster re-emitted at its
    * ORIGINAL geometry with its first pixel overwritten (a constant
    * 0x2A) — the synthetic twin of a logo/watermark/corner-stamp edit.
    * Pure column algebra on the binary payload (concat of a 1-byte
    * literal with the substring tail, no kernel needed). Watermark ids
    * live past the resize-variant id range (`id + 2·(mx+1)`).
    */
  private[graft] def watermarkedRasters(s: SparkSession, dir: String): DataFrame = {
    val mx = maxDocId(s, dir)
    rasterBlobs(s, dir).filter(pmod(col("id"), lit(5)) === 0).select(
      (col("id") + lit(2L * (mx + 1L))).as("wid"), col("id").as("src"),
      col("w"), col("h"),
      concat(lit(Array(0x2a.toByte)),
        expr("substring(payload, 2, w * h - 1)")).as("payload"))
  }

  /** m8's view of [[thumbIndex]]: the 32-bit byte-gram SimHash of each
    * canonical thumbnail, ALL members incl. the watermarked class —
    * the edit-tolerant sibling of [[thumbFpIndex]] (which stays
    * exact-md5). Pure projection over the shared thumbnail table.
    */
  private[graft] def thumbSigIndex(s: SparkSession, dir: String): DataFrame = {
    thumbIndex(s, dir).select(col("mid"), col("src"), col("kind"),
      byteSimhash(col("thumb"), 32).as("phash"))
  }

  /** Pre-build m6's signature table and m7/m8's shared canonical-
    * thumbnail table (same out-of-cell billing contract as
    * [[graft.pipeline.Dedup.prewarmIndexes]]).
    */
  private[graft] def prewarmIndexes(s: SparkSession, dir: String): Unit = {
    sigIndex(s, dir)
    thumbIndex(s, dir)
    ()
  }

  /** m9's clip geometry: each clip is [[ClipFrames]] full frames cut
    * starting at frame [[ClipOff]] — interior frames only, so every
    * clip frame is byte-identical to the matching source frame.
    */
  val ClipOff = 1
  val ClipFrames = 3

  /** m9's synthetic clips: for every 7th doc long enough to donate
    * ([[ClipOff]]+[[ClipFrames]] full frames), a contiguous
    * frame-aligned byte slice re-emitted as its own blob
    * (`clip_id = src + mx + 1`, past the corpus id range). The
    * media twin of a re-posted excerpt.
    */
  private[graft] def clipBlobs(s: SparkSession, dir: String): DataFrame = {
    val mx = maxDocId(s, dir)
    blobs(s, dir)
      .withColumn("nf", expr(s"octet_length(payload) div $FrameBytes"))
      .filter(pmod(col("id"), lit(7)) === 0 && col("nf") >= ClipOff + ClipFrames)
      .select((col("id") + lit(mx + 1L)).as("clip_id"), col("id").as("src_id"),
        expr(s"substring(payload, ${ClipOff * FrameBytes} + 1, ${ClipFrames * FrameBytes})")
          .as("payload"))
  }

  /** Per-frame hash index: every FULL [[FrameBytes]] frame of each
    * payload hashed individually (`fh` = md5 of the frame's lowercase
    * hex — m1's hashing convention, frame-sized). Map-side explode:
    * corpus-bytes/[[FrameBytes]] rows, no shuffle.
    */
  private def frameHashes(df: DataFrame, keep: String*): DataFrame =
    df.withColumn("nf", expr(s"octet_length(payload) div $FrameBytes"))
      .filter(col("nf") >= 1)
      .select(keep.map(col) :+ col("payload") :+
        explode(expr("sequence(0L, nf - 1)")).as("fi"): _*)
      .select(keep.map(col) :+ col("fi") :+
        md5(lower(hex(expr(s"substring(payload, fi * $FrameBytes + 1, $FrameBytes)"))))
          .as("fh"): _*)

  /** m6/m8's shared 4×8-bit pigeonhole pairing: hamming ≤ 3 on a
    * 32-bit signature implies at least one of 4 8-bit pieces is
    * identical, so candidates meet through an equi-join on (piece idx,
    * piece value) and the exact hamming check verifies — never
    * all-pairs. `sig` must expose `($id, phash)`; output is
    * `(id1, id2, hamming)` with id1 < id2.
    */
  private def pigeonholePairs(sig: DataFrame, id: String): DataFrame = {
    val pieces = sig.select(col(id), col("phash"),
      explode(array((0 until 4).map(i =>
        expr(s"(phash div ${1L << (8 * i)}L) % 256L + ${i.toLong * 256}L")): _*)).as("piece"))
    pieces.select(col("piece"), col(id).as("id1"), col("phash").as("p1"))
      .join(pieces.select(col("piece"), col(id).as("id2"), col("phash").as("p2")),
        Seq("piece"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), col("p1"), col("p2")).distinct()
      .withColumn("hamming", expr("bit_count(p1 ^ p2)"))
      .filter(col("hamming") <= 3)
      .select(col("id1"), col("id2"), col("hamming"))
  }

  /** Shared oracle CTE fragment: the byte-gram SimHash fold — rolling
    * 4-byte-gram md5 hashes over a hex column `hx`, per-bit ±1 sums,
    * 32-bit signature `sig($id, phash)`. The single SQL spelling of
    * [[graft.functions.ByteSimhashKernel]]: m5/m6 fold document
    * payloads (via [[phashCtesSql]]), m8 folds canonical thumbnails.
    * `src` must expose `($id, hx)`; `lastGram` is the index of the
    * final gram (`n-4` for variable-length payloads, a constant for
    * fixed-size thumbnails); `guard` filters sub-gram-length rows.
    */
  private def simhashFoldCtes(src: String, id: String, lastGram: String,
      guard: String): String =
    s"""tok AS (
          SELECT $id, CAST(('0x' || substr(md5(substr(hx, 2*i+1, 8)), 1, 15)) AS BIGINT) AS h
          FROM (SELECT $id, hx, unnest(generate_series(0, $lastGram)) AS i FROM $src$guard)),
        bits AS (
          SELECT $id, bit,
                 sum(CASE WHEN (h // (1::BIGINT << bit)) % 2 = 1 THEN 1 ELSE -1 END) AS w
          FROM tok, (SELECT unnest(generate_series(0, 31)) AS bit)
          GROUP BY 1, 2),
        sig AS (
          SELECT $id, CAST(sum(CASE WHEN w > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS phash
          FROM bits GROUP BY 1)"""

  /** Shared oracle CTE fragment: m6/m8's pigeonhole in SQL — pieces
    * exploded from `$src($id, phash)`, deduped candidate pairs meeting
    * at piece equality ([[pigeonholePairs]]'s twin, one spelling).
    */
  private def pigeonholeCtes(src: String, id: String): String =
    s"""pieces AS (
          SELECT $id, phash, (phash // (1::BIGINT << (8*i))) % 256 + i * 256 AS piece
          FROM $src, (SELECT unnest(generate_series(0, 3)) AS i)),
        cand AS (
          SELECT DISTINCT a.$id AS id1, c.$id AS id2, a.phash AS p1, c.phash AS p2
          FROM pieces a JOIN pieces c USING (piece)
          WHERE a.$id < c.$id)"""

  /** Shared oracle CTE block for the payload byte-gram SimHash (m5/m6):
    * blob hex + the [[simhashFoldCtes]] fold.
    */
  private def phashCtesSql: String = s"""b AS (
          SELECT doc_id AS id,
                 ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS modality,
                 lower(hex(encode(text))) AS hx,
                 octet_length(encode(text)) AS n
          FROM documents),
        ${simhashFoldCtes("b", "id", "n-4", " WHERE n >= 4")}"""

  /** Shared oracle CTE fragment for m7/m8: corpus raster geometry,
    * thumbnail-membership (originals kind 0 ∪ resize variants kind 1 ∪
    * — when `withWatermark` — watermarked copies kind 2), and the
    * replayed composed pixel map `px(mid, src, kind, oy, ox, pix)`.
    * The NN index-map composition is replayed, not assumed; the
    * watermark branch overwrites thumbnail pixel (0,0) only, because
    * w,h ≥ 8 means source pixel (0,0) is exactly what canonicalization
    * reads for output (0,0).
    */
  private def thumbPxCtes(withWatermark: Boolean): String = {
    val wmMember = if (withWatermark) s"""
          UNION ALL
          SELECT id + 2 * (mx + 1), id, 2, w, h, 0
          FROM b, mk WHERE id % 5 = 0"""
    else ""
    s"""mk AS (SELECT max(doc_id) AS mx FROM documents),
        b AS (
          SELECT doc_id AS id,
                 CAST(doc_id % 25 + 8 AS INT) AS w,
                 CAST((doc_id * 7) % 25 + 8 AS INT) AS h
          FROM documents),
        members AS (
          SELECT id AS mid, id AS src, 0 AS kind, w, h, 0 AS g FROM b
          UNION ALL
          SELECT id + mx + 1, id, 1, w, h,
                 CASE WHEN id % 4 = 0 THEN 24 ELSE 16 END
          FROM b, mk WHERE id % 2 = 0$wmMember),
        px AS (
          SELECT mid, src, kind, oy, ox,
                 CASE WHEN kind = 2 AND oy = 0 AND ox = 0 THEN 42
                      ELSE (src * 31
                        + (CASE WHEN kind = 1 THEN (((oy * g) // $ThumbH) * h) // g
                                ELSE (oy * h) // $ThumbH END) * 7
                        + (CASE WHEN kind = 1 THEN (((ox * g) // $ThumbW) * w) // g
                                ELSE (ox * w) // $ThumbW END) * 13) % 256
                 END AS pix
          FROM members,
               (SELECT unnest(generate_series(0, ${ThumbH - 1})) AS oy),
               (SELECT unnest(generate_series(0, ${ThumbW - 1})) AS ox))"""
  }

  def all: Seq[Q] = Seq(
    // ---- m1: binary metadata extraction (oracle-checked) ----
    Q(
      "m1_binary_meta",
      (s, dir) =>
        blobs(s, dir).select(
          col("id"),
          col("modality"),
          octet_length(col("payload")).as("n_bytes"),
          md5(lower(hex(col("payload")))).as("payload_md5"),
          col("meta.origin").as("origin"),
          col("meta.raw_size").as("raw_size")),
      Some("""
        SELECT doc_id AS id,
               ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS modality,
               octet_length(encode(text)) AS n_bytes,
               md5(lower(hex(encode(text)))) AS payload_md5,
               source AS origin, n_chars AS raw_size
        FROM documents"""),
    ),

    // ---- m2: frame sampling plumbing (oracle-checked on counts/sizes) ----
    Q(
      "m2_frame_sample",
      (s, dir) =>
        frameSample(blobs(s, dir), stride = 4)
          .groupBy(col("modality"))
          .agg(count(lit(1)).as("n_sampled_frames"),
            sum(col("frame_bytes")).as("sampled_bytes")),
      Some(s"""
        WITH b AS (
          SELECT doc_id AS id,
                 ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS modality,
                 encode(text) AS payload,
                 CAST(ceil(octet_length(encode(text)) / $FrameBytes.0) AS INT) AS n_frames
          FROM documents),
        f AS (
          SELECT id, modality, unnest(list_filter(generate_series(0, n_frames - 1), i -> i % 4 = 0)) AS frame_idx,
                 payload
          FROM b)
        SELECT modality, count(*) AS n_sampled_frames,
               CAST(sum(least($FrameBytes, octet_length(payload) - frame_idx * $FrameBytes)) AS BIGINT) AS sampled_bytes
        FROM f GROUP BY 1"""),
    ),

    // ---- m4: REAL nearest-neighbor 2-D resize — every synthetic w×h
    //      raster ([[rasterBlobs]]) downsampled to the ThumbW×ThumbH
    //      thumbnail by the codegen'd `resize_nn` kernel: output pixel
    //      (oy, ox) reads source pixel (⌊oy·h/oh⌋, ⌊ox·w/ow⌋). The
    //      oracle regenerates the source rasters from the same seeded
    //      formula, replays the index map in SQL, and hash-checks the
    //      thumbnail content (md5 of the 64 resized bytes) plus corner
    //      pixels — so the 2-D resampling semantics, not just the
    //      plumbing, are gated (scripts/proto_m4_oracle.py is the
    //      independent Python twin). Shuffle-free map-side projection;
    //      per-row state is the 64-byte thumbnail whatever the input. ----
    Q(
      "m4_resize",
      (s, dir) => {
        val rb = rasterBlobs(s, dir)
        rb.select(col("id"), col("modality"), col("w"), col("h"),
            octet_length(col("payload")).as("orig_bytes"),
            lower(hex(resizeNn(col("payload"), col("w"), col("h"), ThumbW, ThumbH))).as("rhx"))
          .select(col("id"), col("modality"), col("w"), col("h"), col("orig_bytes"),
            (length(col("rhx")).cast("int") / 2).cast("int").as("resized_bytes"),
            md5(col("rhx")).as("resized_md5"),
            conv(substring(col("rhx"), 1, 2), 16, 10).cast("int").as("p_first"),
            conv(substring(col("rhx"), ThumbW * ThumbH * 2 - 1, 2), 16, 10)
              .cast("int").as("p_last"))
      },
      Some(s"""
        WITH b AS (
          SELECT doc_id AS id,
                 ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS modality,
                 CAST(doc_id % 25 + 8 AS INT) AS w,
                 CAST((doc_id * 7) % 25 + 8 AS INT) AS h
          FROM documents),
        px AS (
          SELECT id, modality, w, h, oy, ox,
                 (id * 31 + ((oy * h) // $ThumbH) * 7 + ((ox * w) // $ThumbW) * 13) % 256 AS pix
          FROM b,
               (SELECT unnest(generate_series(0, ${ThumbH - 1})) AS oy),
               (SELECT unnest(generate_series(0, ${ThumbW - 1})) AS ox))
        SELECT id, modality, w, h, w * h AS orig_bytes,
               CAST(count(*) AS INT) AS resized_bytes,
               md5(string_agg(printf('%02x', pix), '' ORDER BY oy, ox)) AS resized_md5,
               CAST(max(CASE WHEN oy = 0 AND ox = 0 THEN pix END) AS INT) AS p_first,
               CAST(max(CASE WHEN oy = ${ThumbH - 1} AND ox = ${ThumbW - 1} THEN pix END) AS INT) AS p_last
        FROM px GROUP BY 1, 2, 3, 4"""),
    ),

    // ---- m5: perceptual-hash-style media fingerprint — the 32-bit
    //      byte-gram SimHash of each payload via the native byte_simhash
    //      kernel (one fused map-side loop, no shuffle: the signature a
    //      media pipeline persists for near-dup detection; a shifted or
    //      locally-edited payload lands a few hamming bits away, unlike
    //      m1's exact md5). Shares d4's bit rule, so d4b's pigeonhole
    //      pairing works on these signatures unchanged. ----
    Q(
      "m5_payload_phash",
      (s, dir) => {
        blobs(s, dir).select(col("id"), col("modality"),
          byteSimhash(col("payload"), 32).as("phash"))
      },
      Some(s"""
        WITH $phashCtesSql
        SELECT b.id, b.modality, coalesce(sig.phash, 0) AS phash
        FROM b LEFT JOIN sig USING (id)"""),
    ),

    // ---- m6: media near-dup PAIRS over the m5 signatures — d4b's
    //      pigeonhole at the fixed 32-bit width: hamming ≤ 3 implies at
    //      least one of 4 8-bit pieces is identical, so candidates meet
    //      through an equi-join on (piece idx, piece value) and the
    //      exact hamming check verifies — never all-pairs. The media
    //      twin of d4b: retry uploads, re-encodes and watermarked copies
    //      collide here while m1's exact md5 misses them. ----
    Q(
      "m6_media_neardup",
      (s, dir) => {
        // shared materialized signature table, see sigIndex's doc
        pigeonholePairs(sigIndex(s, dir), "id")
      },
      Some(s"""
        WITH $phashCtesSql,
        s2 AS (
          SELECT b.id, coalesce(sig.phash, 0) AS phash
          FROM b LEFT JOIN sig USING (id)),
        ${pigeonholeCtes("s2", "id")}
        SELECT id1, id2, CAST(bit_count(xor(p1, p2)) AS INT) AS hamming
        FROM cand WHERE bit_count(xor(p1, p2)) <= 3"""),
    ),

    // ---- m7: RESIZE-INVARIANT media near-dup — m4's kernel and
    //      m5/m6's fingerprinting tied together the way a real image-
    //      dedup pipeline works: every raster (original ∪ the [[
    //      rasterVariants]] re-encodes at different geometries) is
    //      canonicalized to the 8×8 thumbnail with resize_nn, the
    //      thumbnail is fingerprinted, and matches meet through an
    //      equi-join on the fingerprint — so a copy that was RESIZED
    //      (different dims, different byte length, different bytes)
    //      still collides with its source, which raw payload SimHash
    //      (m6) structurally cannot do (the spec shows the miss).
    //      Output: one row per variant — its source, how many corpus
    //      members share its canonical fingerprint, and whether its
    //      true source is among them (always 1: NN index-map
    //      composition is exact for 8|g, oracle-replayed not assumed).
    //      Scale shape: fingerprints are map-side codegen kernels; the
    //      match is a fingerprint-keyed hash join (content-keyed like
    //      d1, never all-pairs); per-row state is the 64-byte
    //      thumbnail whatever the source dims. ----
    Q(
      "m7_resize_neardup",
      (s, dir) => {
        val fp = thumbFpIndex(s, dir)
        val v = fp.filter(col("is_var") === 1)
          .select(col("mid").as("vid"), col("src").as("src_id"), col("fp").as("vfp"))
        val c = fp.select(col("mid").as("cid"), col("fp").as("cfp"))
        // self-exclusion INSIDE the join condition (not a post-filter):
        // the oracle's LEFT JOIN decides match-existence after excluding
        // self, and the two spellings differ exactly when a member
        // matches only itself
        v.join(c, col("vfp") === col("cfp") && col("cid") =!= col("vid"), "left_outer")
          .groupBy(col("vid"), col("src_id"))
          .agg(count(col("cid")).as("n_matches"),
            coalesce(max(when(col("cid") === col("src_id"), 1).otherwise(0)), lit(0))
              .as("src_matched"))
      },
      Some(s"""
        WITH ${thumbPxCtes(withWatermark = false)},
        fp AS (
          SELECT mid, src, kind,
                 md5(string_agg(printf('%02x', pix), '' ORDER BY oy, ox)) AS fp
          FROM px GROUP BY 1, 2, 3)
        SELECT v.mid AS vid, v.src AS src_id,
               count(c.mid) AS n_matches,
               coalesce(max(CASE WHEN c.mid = v.src THEN 1 ELSE 0 END), 0) AS src_matched
        FROM fp v LEFT JOIN fp c ON v.fp = c.fp AND c.mid <> v.mid
        WHERE v.kind = 1
        GROUP BY 1, 2"""),
    ),

    // ---- m8: canonical-thumbnail SimHash near-dup — the
    //      edit-TOLERANT completion of the media-dedup matrix (m1
    //      exact bytes → m5/m6 payload SimHash → m7 resize-exact →
    //      m8 resize AND edit tolerant): every raster (originals ∪
    //      resize variants ∪ watermarked copies) canonicalizes to the
    //      8×8 thumbnail, the THUMBNAIL is SimHash-fingerprinted, and
    //      candidates meet through m6's 4-piece pigeonhole at
    //      hamming ≤ 3. Resized copies land at hamming 0 (the m7
    //      identity); a watermarked copy's thumbnail differs in ONE
    //      pixel, so it lands a few hamming bits away — caught here,
    //      structurally invisible to m7's exact md5 (the spec shows
    //      the miss). Scale shape: map-side kernel fingerprints, the
    //      pigeonhole equi-join (never all-pairs); at 100 TB the
    //      fixed 32/4 pigeonhole inherits d4b's adaptive-width ladder
    //      as the hot-bucket defense. ----
    Q(
      "m8_phash_neardup",
      (s, dir) =>
        pigeonholePairs(thumbSigIndex(s, dir).select(col("mid"), col("phash")), "mid"),
      Some(s"""
        WITH ${thumbPxCtes(withWatermark = true)},
        thx AS (
          SELECT mid, string_agg(printf('%02x', pix), '' ORDER BY oy, ox) AS hx
          FROM px GROUP BY 1),
        ${simhashFoldCtes("thx", "mid", (ThumbW * ThumbH - 4).toString, "")},
        ${pigeonholeCtes("sig", "mid")}
        SELECT id1, id2, CAST(bit_count(xor(p1, p2)) AS INT) AS hamming
        FROM cand WHERE bit_count(xor(p1, p2)) <= 3"""),
    ),

    // ---- m9: CLIP CONTAINMENT — d8's span-dedup idea applied to
    //      media: a clip (a contiguous frame-aligned byte slice cut
    //      from a longer file — [[clipBlobs]] materializes one per 7th
    //      sufficiently-long doc) is detected INSIDE its source by
    //      frame-sequence alignment, which whole-payload fingerprints
    //      (m1/m5) structurally cannot do — the clip is a different
    //      length with a different hash. Mechanism: every file's full
    //      frames hash individually ([[FrameBytes]] chunks, m2's frame
    //      model); clip frames meet video frames through a hash
    //      equi-join (content-keyed, never all-pairs); an alignment
    //      `frame_off = fi - ci` where ALL clip frames match
    //      consecutively is a containment hit. Duplicate corpus docs
    //      legitimately yield multi-video hits — the oracle replays
    //      them. Scale shape: the frame index is corpus-bytes/64 rows
    //      built map-side; the join is keyed on the 128-bit frame
    //      hash; per-alignment state is one counter. The audit a
    //      video-dedup pipeline runs to catch re-posted excerpts. ----
    Q(
      "m9_clip_containment",
      (s, dir) => {
        val vf = frameHashes(
          blobs(s, dir).select(col("id").as("video_id"), col("payload")),
          "video_id").withColumnRenamed("fi", "vfi")
        val cf = frameHashes(
          clipBlobs(s, dir).select(col("clip_id"), col("src_id"), col("payload")),
          "clip_id", "src_id").withColumnRenamed("fi", "ci")
        cf.join(vf, "fh")
          .withColumn("frame_off", col("vfi") - col("ci"))
          .groupBy(col("clip_id"), col("src_id"), col("video_id"), col("frame_off"))
          .agg(count(lit(1)).as("n_frames"))
          .filter(col("n_frames") === ClipFrames.toLong)
      },
      Some(s"""
        WITH mk AS (SELECT max(doc_id) AS mx FROM documents),
        b AS MATERIALIZED (
          -- MATERIALIZED: vf and cf both read b; DuckDB 1.0 inlines
          -- multi-referenced CTEs per reference (the s12 lesson), which
          -- would hex-encode the whole corpus twice
          SELECT doc_id AS id, lower(hex(encode(text))) AS hx,
                 octet_length(encode(text)) // $FrameBytes AS nf
          FROM documents),
        vf AS (
          SELECT id AS video_id, fi,
                 md5(substr(hx, fi * ${2 * FrameBytes} + 1, ${2 * FrameBytes})) AS fh
          FROM (SELECT id, hx, unnest(generate_series(0, nf - 1)) AS fi
                FROM b WHERE nf >= 1)),
        cf AS (
          SELECT id + mx + 1 AS clip_id, id AS src_id, ci,
                 md5(substr(hx, (ci + $ClipOff) * ${2 * FrameBytes} + 1, ${2 * FrameBytes})) AS fh
          FROM b, mk, (SELECT unnest(generate_series(0, ${ClipFrames - 1})) AS ci)
          WHERE id % 7 = 0 AND nf >= ${ClipOff + ClipFrames})
        SELECT clip_id, src_id, video_id, fi - ci AS frame_off,
               count(*) AS n_frames
        FROM cf JOIN vf USING (fh)
        GROUP BY 1, 2, 3, 4
        HAVING count(*) = $ClipFrames"""),
    ),

    // ---- m3: stubbed decode → feature extraction, via the native
    //      byte_hist kernel (one shuffle-free codegen stage; the
    //      mapPartitions seam for real codecs is fakeDecodeFeatures,
    //      differential-tested equal, as is the explode→agg spelling).
    //      Output is one scalar row per (id, dim) — the driver harness
    //      can't sort array columns — and the oracle recomputes the
    //      byte-class histogram in SQL (bytes via hex()+substr; validated
    //      against a Python twin in scripts/proto_m3_oracle.py).
    //      Determinism + shape also asserted in MultimodalSpec. ----
    Q(
      "m3_decode_features",
      (s, dir) => {
        decodeFeaturesHist(blobs(s, dir))
          .select(col("id"), col("modality"), col("dim"), col("feat"))
      },
      Some(s"""
        WITH b AS (
          SELECT doc_id AS id,
                 ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS modality,
                 hex(encode(text)) AS hx, octet_length(encode(text)) AS n
          FROM documents),
        bytes AS (
          SELECT id, CAST(('0x' || substr(hx, 2*p+1, 2)) AS INT) % $FeatureDim AS bucket
          FROM (SELECT id, hx, unnest(generate_series(0, n-1)) AS p FROM b)),
        cnt AS (SELECT id, bucket, count(*) AS c FROM bytes GROUP BY 1, 2),
        dims AS (SELECT unnest(generate_series(0, ${FeatureDim - 1})) AS dim)
        SELECT b.id, b.modality, CAST(d.dim AS INT) AS dim,
               coalesce(c.c, 0) / CAST(greatest(b.n, 1) AS DOUBLE) AS feat
        FROM b CROSS JOIN dims d
        LEFT JOIN cnt c ON c.id = b.id AND c.bucket = d.dim"""),
    ),

    // ---- m10: TEMPORAL FRAME DEDUP (static-segment collapse) — the
    //      WITHIN-asset counterpart of m5–m9's cross-asset matching:
    //      real video corpora are dominated by static segments
    //      (slides, title cards, surveillance stills), and frame-level
    //      training pipelines collapse consecutive identical frames
    //      before anything downstream pays per-frame cost. Fixture:
    //      the video-modality docs get a deterministic repeat
    //      structure ([[videoHex]] — the leading frame repeated
    //      (id % 4 + 2)×, both engines build it from the same hex
    //      algebra), so runs exist at every SF by construction. The
    //      kernel chunks the payload into [[FrameBytes]] frames (m9's
    //      hex convention), hashes each (md5, frame-sized), and
    //      collapses runs with one per-asset lag/cumsum window —
    //      emitting per asset: total frames, surviving segments, and
    //      the longest static run (the compression headline). At
    //      100 TB: frame hashing is map-side, the run windows
    //      partition by asset (state = one asset's frame list, never
    //      corpus-wide), and the only shuffle is the id-hash — work
    //      linear in frames, output linear in assets. ----
    Q(
      "m10_temporal_dedup",
      (s, dir) => {
        val hw = 2 * FrameBytes
        val w = Window.partitionBy(col("id")).orderBy(col("fi"))
        val frames = videoHex(s, dir)
          .withColumn("n_frames",
            expr(s"(length(vhx) + ${hw - 1}) div $hw"))
          .select(col("id"),
            explode(expr("sequence(0L, n_frames - 1)")).as("fi"), col("vhx"))
          .withColumn("fh", md5(expr(s"substring(vhx, fi * $hw + 1, $hw)")))
          .select(col("id"), col("fi"), col("fh"))
        val runs = frames
          .withColumn("cut",
            when(lag(col("fh"), 1).over(w).isNull
              || col("fh") === lag(col("fh"), 1).over(w), 0L).otherwise(1L))
          .withColumn("run", sum(col("cut")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("id"), col("run")).agg(count(lit(1)).as("len"))
        runs.groupBy(col("id"))
          .agg(sum(col("len")).as("n_frames"),
            count(lit(1)).as("n_segments"),
            max(col("len")).as("longest_run"))
      },
      Some(s"""
        WITH v AS (
          SELECT doc_id AS id, lower(hex(encode(text))) AS hx
          FROM documents WHERE doc_id % 3 = 2),
        vv AS (
          SELECT id,
                 repeat(substr(hx, 1, ${2 * FrameBytes}), CAST(id % 4 + 2 AS INT))
                   || substr(hx, ${2 * FrameBytes + 1}) AS vhx
          FROM v WHERE length(hx) >= ${2 * FrameBytes + 2}),
        f AS (
          SELECT id, unnest(generate_series(0,
                   (length(vhx) + ${2 * FrameBytes - 1}) // ${2 * FrameBytes} - 1)) AS fi,
                 vhx
          FROM vv),
        h AS (
          SELECT id, fi,
                 md5(substr(vhx, fi * ${2 * FrameBytes} + 1, ${2 * FrameBytes})) AS fh
          FROM f),
        c AS (
          SELECT id, fi,
                 CASE WHEN lag(fh) OVER w IS NULL OR fh = lag(fh) OVER w
                      THEN 0 ELSE 1 END AS cut
          FROM h WINDOW w AS (PARTITION BY id ORDER BY fi)),
        r AS (
          SELECT id, sum(cut) OVER (PARTITION BY id ORDER BY fi
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
          FROM c),
        g AS (SELECT id, run, count(*) AS len FROM r GROUP BY 1, 2)
        SELECT id, CAST(sum(len) AS BIGINT) AS n_frames,
               count(*) AS n_segments,
               CAST(max(len) AS BIGINT) AS longest_run
        FROM g GROUP BY 1"""),
    ),

    // ---- m11: AUDIO DSP features — the audio modality gets its own
    //      kernel pair, not repurposed image machinery: `pcm_gen`
    //      synthesizes per-asset PCM-8 waveforms with real temporal
    //      structure (silent frames interleaved with full-swing tone
    //      frames — (id·7+f) mod 4 picks the quiet ones), and
    //      `audio_stats` extracts the features an audio curation
    //      pipeline gates on in ONE fused pass over the raw bytes:
    //      per-frame energy, silent-frame count (the VAD gate —
    //      speech/music datasets drop mostly-silent clips),
    //      first-peak frame (clip alignment), midline zero-crossings
    //      (the classic spectral-brightness proxy), total energy.
    //      Order-dependent features — a histogram (m3/byte_hist)
    //      cannot recover energy LOCALITY or sign changes; that is
    //      why this is a new kernel and not column algebra over
    //      byte_hist. At 100 TB: both kernels are codegen'd map work
    //      with constant per-row state (six longs), so hour-long
    //      streams pass through at memory bandwidth with zero
    //      shuffle, zero per-sample rows; the DuckDB oracle replays
    //      the closed-form samples and re-derives every feature
    //      independently (frame energies via group-by, crossings via
    //      lag over sample order). ----
    Q(
      "m11_audio_features",
      (s, dir) => {
        t(s, dir, "documents")
          .filter(pmod(col("doc_id"), lit(3)) === 1) // the audio slice
          .select(col("doc_id").as("id"),
            (pmod(col("doc_id"), lit(20)) + 4).cast("int").as("nf"))
          .withColumn("st", audioStats(
            pcmGen(col("id"), col("nf"), FrameBytes), FrameBytes, SilenceEnergy))
          .select(col("id"),
            element_at(col("st"), 1).as("n_frames"),
            element_at(col("st"), 2).as("n_silent"),
            element_at(col("st"), 3).as("peak_frame"),
            element_at(col("st"), 4).as("peak_energy"),
            element_at(col("st"), 5).as("zero_crossings"),
            element_at(col("st"), 6).as("total_energy"),
            round(element_at(col("st"), 2).cast("double")
              / element_at(col("st"), 1), 6).as("silence_ratio"))
      },
      Some(s"""
        WITH a AS (
          SELECT doc_id AS id, CAST(doc_id % 20 + 4 AS INT) AS nf
          FROM documents WHERE doc_id % 3 = 1),
        s AS (
          SELECT id, nf, i, i // $FrameBytes AS f,
                 CASE WHEN (id * 7 + (i // $FrameBytes)) % 4 = 0
                      THEN 128 + (i * 3) % 5 - 2
                      ELSE (id * 31 + i * 13) % 256 END AS v
          FROM (SELECT id, nf, unnest(generate_series(0, nf * $FrameBytes - 1)) AS i
                FROM a)),
        fe AS (
          SELECT id, f, CAST(sum((v - 128) * (v - 128)) AS BIGINT) AS e
          FROM s GROUP BY 1, 2),
        zc AS (
          SELECT id,
                 CAST(sum(CASE WHEN lv IS NOT NULL AND (v < 128) <> (lv < 128)
                               THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
          FROM (SELECT id, v, lag(v) OVER (PARTITION BY id ORDER BY i) AS lv
                FROM s)
          GROUP BY 1),
        me AS (SELECT id, max(e) AS mx FROM fe GROUP BY 1),
        pk AS (
          SELECT fe.id, min(fe.f) AS peak_frame
          FROM fe JOIN me ON fe.id = me.id AND fe.e = me.mx
          GROUP BY 1),
        ag AS (
          SELECT id, count(*) AS n_frames,
                 CAST(sum(CASE WHEN e < $SilenceEnergy THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_silent,
                 CAST(sum(e) AS BIGINT) AS total_energy
          FROM fe GROUP BY 1)
        SELECT ag.id, ag.n_frames, ag.n_silent,
               CAST(pk.peak_frame AS BIGINT) AS peak_frame,
               me.mx AS peak_energy,
               zc.zero_crossings, ag.total_energy,
               round(ag.n_silent / CAST(ag.n_frames AS DOUBLE), 6) AS silence_ratio
        FROM ag JOIN me ON ag.id = me.id
                JOIN pk ON ag.id = pk.id
                JOIN zc ON ag.id = zc.id"""),
    ),

    // ---- m12: RE-ENCODE-INVARIANT audio near-dup — m7's geometry
    //      story replayed for the audio modality: every asset with
    //      id ≡ 1 (mod 5) gets a "re-encoded" copy (`pcm_requant`:
    //      half gain, every byte changed, payload hash misses), and
    //      variants meet their sources through an equi-join on a
    //      PERCEPTUAL fingerprint — (n_frames, n_silent,
    //      zero_crossings) from the SAME m11 `audio_stats` pass —
    //      whose three fields the transform preserves EXACTLY (sign
    //      classes and the VAD gate are invariant by construction;
    //      see PcmRequant). gain_ppm = variant/source total-energy
    //      ratio in integer ppm (~¼) is the receipt that the BYTES
    //      differ while the fingerprint holds; n_matches counts
    //      fingerprint-colliding corpus members (the ambiguity a
    //      serving dedup tier must disambiguate). Scale shape: both
    //      feature passes are map-side codegen kernels; the match is
    //      a fingerprint-keyed hash join, never all-pairs. ----
    Q(
      "m12_audio_neardup",
      (s, dir) => {
        val off = maxDocId(s, dir) + 1L
        val orig = t(s, dir, "documents")
          .filter(pmod(col("doc_id"), lit(3)) === 1)
          .select(col("doc_id").as("id"),
            (pmod(col("doc_id"), lit(20)) + 4).cast("int").as("nf"))
          .withColumn("pcm",
            pcmGen(col("id"), col("nf"), FrameBytes))
        val vari = orig.filter(pmod(col("id"), lit(5)) === 1)
          .select((col("id") + off).as("id"), col("nf"),
            pcmRequant(col("pcm")).as("pcm"))
        val feats = orig.select(col("id"), col("pcm")).unionByName(vari.select(col("id"), col("pcm")))
          .withColumn("st", audioStats(col("pcm"), FrameBytes, SilenceEnergy))
          .select(col("id"),
            element_at(col("st"), 1).as("n_frames"),
            element_at(col("st"), 2).as("n_silent"),
            element_at(col("st"), 5).as("zc"),
            element_at(col("st"), 6).as("te"))
        val v = feats.filter(col("id") > lit(off - 1L))
          .select((col("id") - off).as("src_id"), col("id").as("vid"),
            col("n_frames").as("vnf"), col("n_silent").as("vns"),
            col("zc").as("vzc"), col("te").as("vte"))
        val o = feats.filter(col("id") < lit(off))
        v.join(o,
            col("vnf") === col("n_frames") && col("vns") === col("n_silent") &&
              col("vzc") === col("zc"), "left_outer")
          .groupBy(col("vid"), col("src_id"))
          .agg(count(col("id")).as("n_matches"),
            coalesce(max(when(col("id") === col("src_id"), 1).otherwise(0)), lit(0))
              .as("src_matched"),
            max(when(col("id") === col("src_id"),
              expr("vte * 1000000L div te"))).as("gain_ppm"))
      },
      Some(s"""
        WITH a AS (
          SELECT doc_id AS id, CAST(doc_id % 20 + 4 AS INT) AS nf
          FROM documents WHERE doc_id % 3 = 1),
        mk AS (SELECT max(doc_id) + 1 AS off FROM documents),
        so AS MATERIALIZED (
          SELECT id, i,
                 CASE WHEN (id * 7 + (i // $FrameBytes)) % 4 = 0
                      THEN 128 + (i * 3) % 5 - 2
                      ELSE (id * 31 + i * 13) % 256 END AS v
          FROM (SELECT id, nf, unnest(generate_series(0, nf * $FrameBytes - 1)) AS i
                FROM a)),
        su AS MATERIALIZED (
          SELECT id, i, v FROM so
          UNION ALL
          SELECT id + (SELECT off FROM mk), i, (v // 2) + 64
          FROM so WHERE id % 5 = 1),
        fe AS (
          SELECT id, i // $FrameBytes AS f,
                 CAST(sum((v - 128) * (v - 128)) AS BIGINT) AS e
          FROM su GROUP BY 1, 2),
        zc AS (
          SELECT id,
                 CAST(sum(CASE WHEN lv IS NOT NULL AND (v < 128) <> (lv < 128)
                               THEN 1 ELSE 0 END) AS BIGINT) AS zc
          FROM (SELECT id, v, lag(v) OVER (PARTITION BY id ORDER BY i) AS lv
                FROM su)
          GROUP BY 1),
        ft AS MATERIALIZED (
          SELECT fe.id, count(*) AS n_frames,
                 CAST(sum(CASE WHEN e < $SilenceEnergy THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_silent,
                 any_value(zc.zc) AS zc,
                 CAST(sum(e) AS BIGINT) AS te
          FROM fe JOIN zc USING (id) GROUP BY 1),
        v AS (
          SELECT id - (SELECT off FROM mk) AS src_id, id AS vid,
                 n_frames AS vnf, n_silent AS vns, zc AS vzc, te AS vte
          FROM ft WHERE id >= (SELECT off FROM mk)),
        o AS (SELECT * FROM ft WHERE id < (SELECT off FROM mk))
        SELECT v.vid, v.src_id, count(o.id) AS n_matches,
               coalesce(max(CASE WHEN o.id = v.src_id THEN 1 ELSE 0 END), 0)
                 AS src_matched,
               CAST(max(CASE WHEN o.id = v.src_id
                             THEN v.vte * 1000000 // o.te END) AS BIGINT) AS gain_ppm
        FROM v LEFT JOIN o
          ON o.n_frames = v.vnf AND o.n_silent = v.vns AND o.zc = v.vzc
        GROUP BY 1, 2"""),
    ),
  )

  /** m11's VAD silence gate: a frame whose energy Σ(s−128)² falls below
    * this is silent. Sits far above the synthetic quiet-frame ceiling
    * (±2 wobble → ≤ 4·[[FrameBytes]] = 256) and far below any tone
    * frame (full-swing samples ≈ 5461·[[FrameBytes]]), so the gate is
    * robust, not knife-edge.
    */
  val SilenceEnergy = 1000L

  /** m10's synthetic "video" payloads as lowercase hex: the
    * video-modality docs (m1's `doc_id % 3` convention) long enough to
    * donate a full leading frame get that frame REPEATED
    * `id % 4 + 2` times before the rest of the payload — a
    * deterministic static-segment structure both engines derive from
    * the same hex algebra (string repeat + concat; the repeat unit is
    * exactly one frame, so the copies are frame-aligned by
    * construction). Hex, not bytes: one spelling shared with m9's
    * frame hashing, and Spark/DuckDB agree on string ops without
    * blob-slicing differences.
    */
  private[graft] def videoHex(s: SparkSession, dir: String): DataFrame = {
    val hw = 2 * FrameBytes
    Tables.t(s, dir, "documents")
      .filter(pmod(col("doc_id"), lit(3)) === 2)
      .select(col("doc_id").as("id"),
        lower(hex(encode(col("text"), "UTF-8"))).as("hx"))
      .filter(length(col("hx")) >= hw + 2)
      .select(col("id"),
        expr(s"concat(repeat(substring(hx, 1, $hw), CAST(id % 4 + 2 AS INT)), substring(hx, ${hw + 1}))")
          .as("vhx"))
  }
}
