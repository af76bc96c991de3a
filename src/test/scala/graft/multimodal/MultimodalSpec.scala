package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("blobs: binary payload with typed metadata, partitioning preserved") {
    val b = Multimodal.blobs(spark, dir)
    assert(b.schema("payload").dataType.typeName == "binary")
    assert(b.schema("meta").dataType.typeName == "struct")
    val mods = b.select("modality").distinct().collect().map(_.getString(0)).toSet
    assert(mods == Set("image", "audio", "video"))
  }

  test("fakeDecodeFeatures: fixed shape, L1-normalized, deterministic") {
    val f1 = Multimodal.fakeDecodeFeatures(Multimodal.blobs(spark, dir))
      .orderBy("id").collect()
    val f2 = Multimodal.fakeDecodeFeatures(Multimodal.blobs(spark, dir))
      .orderBy("id").collect()
    assert(f1.length > 0)
    f1.zip(f2).foreach { case (a, b) =>
      val va = a.getSeq[Double](a.fieldIndex("features"))
      val vb = b.getSeq[Double](b.fieldIndex("features"))
      assert(va == vb, "decode stub must be deterministic")
      assert(va.size == Multimodal.FeatureDim)
      assert(math.abs(va.sum - 1.0) < 1e-3, s"L1 norm ~1, got ${va.sum}")
    }
  }

  test("decodeFeaturesExploded: bitwise-equal to the mapPartitions stub, codegen-clean") {
    val b = Multimodal.blobs(spark, dir)
    // exact equality: both compute count/total in IEEE doubles
    val viaRdd = Multimodal.fakeDecodeFeatures(b).collect()
      .flatMap { r =>
        val id = r.getLong(r.fieldIndex("id"))
        r.getSeq[Double](r.fieldIndex("features")).zipWithIndex.map {
          case (f, d) => (id, d) -> f
        }
      }.toMap
    val dfExploded = Multimodal.decodeFeaturesExploded(b)
    val viaCols = dfExploded.collect()
      .map { r =>
        (r.getLong(r.fieldIndex("id")), r.getInt(r.fieldIndex("dim"))) ->
          r.getDouble(r.fieldIndex("feat"))
      }.toMap
    assert(viaCols.nonEmpty && viaCols.size == viaRdd.size)
    assert(viaCols == viaRdd, "explode-agg decode must equal the row-loop stub exactly")
    // the columnar stub must stay in the Tungsten pipeline: codegen'd
    // stages (`*(n)` markers — read AFTER the action so AQE has
    // finalized) and NO RDD round-trip — the RDD seam severs
    // pruning/pushdown at an opaque ExistingRDD scan
    val plan = dfExploded.queryExecution.executedPlan.toString
    assert(plan.contains("*("),
      s"columnar decode lost all whole-stage codegen:\n$plan")
    assert(!plan.contains("Scan ExistingRDD"),
      s"columnar decode must not round-trip through an RDD:\n$plan")
    // and column pruning survives: a projection that needs only id+bytes
    // must not drag every documents column through the scan
    val pruned = Multimodal.decodeFeaturesExploded(b).select("id", "dim", "feat")
      .queryExecution.executedPlan.toString
    assert(pruned.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"pruning severed — scan reads more than doc_id+text:\n$pruned")
  }

  test("decodeFeaturesExploded: frame-chunked path equals the unchunked explode exactly") {
    // the chunked rewrite bounds per-row state at FrameBytes; the counts
    // it aggregates must be IDENTICAL to the whole-payload split's —
    // including payloads that are not a multiple of FrameBytes and the
    // empty payload (zero frames, zero-filled spine)
    import spark.implicits._
    val b = Multimodal.blobs(spark, dir)
    def collectMap(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getLong(r.fieldIndex("id")), r.getInt(r.fieldIndex("dim"))) ->
        r.getDouble(r.fieldIndex("feat"))
    }.toMap
    val chunked = collectMap(Multimodal.decodeFeaturesExploded(b))
    val unchunked = collectMap(Multimodal.decodeFeaturesUnchunked(b))
    assert(chunked.nonEmpty && chunked == unchunked)
    // edge payloads: empty, exactly one frame, one-byte tail over a frame
    val edge = Seq(
      (1L, "image", Array.empty[Byte]),
      (2L, "audio", Array.fill[Byte](Multimodal.FrameBytes)(7)),
      (3L, "video", Array.fill[Byte](Multimodal.FrameBytes + 1)(9)))
      .toDF("id", "modality", "payload")
    assert(collectMap(Multimodal.decodeFeaturesExploded(edge)) ==
      collectMap(Multimodal.decodeFeaturesUnchunked(edge)))
  }

  test("decodeFeaturesHist: byte_hist kernel equals the explode-agg path, shuffle-free") {
    import spark.implicits._
    val b = Multimodal.blobs(spark, dir)
    def collectMap(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getLong(r.fieldIndex("id")), r.getInt(r.fieldIndex("dim"))) ->
        r.getDouble(r.fieldIndex("feat"))
    }.toMap
    val viaHist = collectMap(
      Multimodal.decodeFeaturesHist(b).select("id", "dim", "feat"))
    val viaExplode = collectMap(
      Multimodal.decodeFeaturesExploded(b).select("id", "dim", "feat"))
    assert(viaHist.nonEmpty && viaHist == viaExplode,
      "native byte_hist must equal the explode-agg spelling exactly")
    // same edge payloads as the chunked/unchunked differential
    val edge = Seq(
      (1L, "image", Array.empty[Byte]),
      (2L, "audio", Array.fill[Byte](Multimodal.FrameBytes)(7)),
      (3L, "video", Array.fill[Byte](Multimodal.FrameBytes + 1)(9)))
      .toDF("id", "modality", "payload")
    assert(collectMap(Multimodal.decodeFeaturesHist(edge).select("id", "dim", "feat")) ==
      collectMap(Multimodal.decodeFeaturesExploded(edge).select("id", "dim", "feat")))
    // THE point of the kernel: the whole operator is one codegen stage —
    // no Exchange (the explode-agg spelling shuffled count partials),
    // no RDD seam, and pruning still reaches the scan
    val df = Multimodal.decodeFeaturesHist(b).select("id", "dim", "feat")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"byte_hist decode must be shuffle-free:\n$plan")
    assert(plan.contains("*("), s"byte_hist decode lost codegen:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"pruning severed:\n$plan")
  }

  test("byte_simhash: exact dups collide, local edits land nearby, distinct content far") {
    import graft.functions.ByteSimhashKernel.simhash
    val base = Array.tabulate[Byte](400)(i => ((i * 37 + 11) % 251).toByte)
    // exact duplicate -> identical signature
    assert(simhash(base, 32) == simhash(base.clone(), 32))
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    // a PREPENDED byte shifts every offset but the rolling grams are
    // unchanged except one new gram: signature must stay close — the
    // property that makes this a near-dup fingerprint and m1's exact
    // md5 not
    val shifted = (Array[Byte](99) ++ base)
    assert(hamming(simhash(base, 32), simhash(shifted, 32)) <= 6,
      "shift-invariance: prepending one byte must barely move the signature")
    // a small in-place edit changes only 4 overlapping grams
    val edited = base.clone(); edited(200) = 77
    assert(hamming(simhash(base, 32), simhash(edited, 32)) <= 6,
      "a one-byte edit must barely move the signature")
    // unrelated content lands far away (expected hamming ~16 of 32)
    val other = Array.tabulate[Byte](400)(i => ((i * 101 + 7) % 239).toByte)
    assert(hamming(simhash(base, 32), simhash(other, 32)) >= 8,
      "distinct content must not collide")
    // sub-4-byte payloads have no grams: all-zero signature, no crash
    assert(simhash(Array[Byte](1, 2, 3), 32) == 0L)
    assert(simhash(Array.empty[Byte], 32) == 0L)
  }

  test("frameSample: stride sampling yields ceil(n_frames/stride) frames of <= FrameBytes") {
    val b = Multimodal.blobs(spark, dir)
    val frames = Multimodal.frameSample(b, stride = 4)
    val perDoc = frames.groupBy("id").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = b.select(col("id"),
      ceil(octet_length(col("payload")).cast("double") / Multimodal.FrameBytes).cast("long").as("nf"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1) + 3) / 4)).toMap
    assert(perDoc == expect)
    val bad = frames.filter(col("frame_bytes") > Multimodal.FrameBytes).count()
    assert(bad == 0)
  }

  test("resize_nn kernel: hand-computed NN map, identity resize, loud malformed-geometry failure") {
    import graft.functions.RasterKernel
    // 4x2 source, row-major:   10 20 30 40
    //                          50 60 70 80
    // downscale to 2x2: sx = {0*4/2, 1*4/2} = {0, 2}; sy = {0, 1}
    val src = Array[Byte](10, 20, 30, 40, 50, 60, 70, 80)
    assert(RasterKernel.resizeNn(src, 4, 2, 2, 2).toSeq == Seq[Byte](10, 30, 50, 70))
    // non-trivial DOWNSCALE with uneven ratios: 5x3 -> 2x2
    // sx = {0, 2}; sy = {0*3/2, 1*3/2} = {0, 1}
    val s53 = (0 until 15).map(i => (i * 11).toByte).toArray
    assert(RasterKernel.resizeNn(s53, 5, 3, 2, 2).toSeq ==
      Seq(s53(0), s53(2), s53(5), s53(7)))
    // identity resize returns the source bytes unchanged
    assert(RasterKernel.resizeNn(src, 4, 2, 4, 2).toSeq == src.toSeq)
    // UPSCALE replicates nearest pixels (1x1 -> 3x3)
    assert(RasterKernel.resizeNn(Array[Byte](42), 1, 1, 3, 3).toSeq ==
      Seq.fill(9)(42.toByte))
    // payload shorter than the declared raster fails loudly
    val e = intercept[IllegalArgumentException](RasterKernel.resizeNn(src, 4, 3, 2, 2))
    assert(e.getMessage.contains("shorter"))
  }

  test("raster_gen kernel: seeded formula, deterministic, 2-D structure") {
    import graft.functions.RasterKernel
    val r = RasterKernel.gen(17L, 6, 4)
    assert(r.length == 24)
    for (y <- 0 until 4; x <- 0 until 6)
      assert((r(y * 6 + x) & 0xff) == ((17 * 31 + y * 7 + x * 13) % 256),
        s"pixel ($y,$x)")
    assert(RasterKernel.gen(17L, 6, 4).toSeq == r.toSeq, "seeded => deterministic")
    // rows and columns both vary — the 2-D structure a 1-D stride lacks
    assert(r(0) != r(1) && r(0) != r(6))
  }

  test("m4 resize: true 8x8 NN thumbnail of the synthetic rasters, oracle-shaped output") {
    import graft.SparkEntry
    import graft.functions.RasterKernel
    val out = SparkEntry.queries("m4_resize")(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val id = r.getLong(r.fieldIndex("id"))
      val w = r.getInt(r.fieldIndex("w"))
      val h = r.getInt(r.fieldIndex("h"))
      assert(w == (id % 25 + 8) && h == (id * 7 % 25 + 8))
      assert(r.getInt(r.fieldIndex("orig_bytes")) == w * h)
      assert(r.getInt(r.fieldIndex("resized_bytes")) ==
        Multimodal.ThumbW * Multimodal.ThumbH)
      // recompute the thumbnail through the kernels driver-side
      val thumb = RasterKernel.resizeNn(RasterKernel.gen(id, w, h),
        w, h, Multimodal.ThumbW, Multimodal.ThumbH)
      val hex = thumb.map(b => f"${b & 0xff}%02x").mkString
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(hex.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      assert(r.getString(r.fieldIndex("resized_md5")) == md, s"doc $id thumbnail content")
      assert(r.getInt(r.fieldIndex("p_first")) == (thumb(0) & 0xff))
      assert(r.getInt(r.fieldIndex("p_last")) == (thumb(63) & 0xff))
      // a non-trivial downscale must actually drop source pixels
      if (w > Multimodal.ThumbW && h > Multimodal.ThumbH)
        assert(w * h > thumb.length)
    }
  }

  test("frameSample: empty payload yields ZERO frames (sequence(0,-1) guard)") {
    import spark.implicits._
    // Spark's sequence(0, -1) is the DESCENDING sequence [0, -1], not
    // empty — an unguarded explode would emit a phantom frame 0 here
    val b = Seq((1L, "image", Array.empty[Byte]), (2L, "audio", "xyz".getBytes))
      .toDF("id", "modality", "payload")
    val frames = Multimodal.frameSample(b, stride = 4)
    assert(frames.filter(col("id") === 1L).count() == 0,
      "empty payload must produce no frames")
    assert(frames.filter(col("id") === 2L).count() == 1)
  }
}
