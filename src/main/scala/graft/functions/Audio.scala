package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, IntegerType, LongType}

/** `pcm_gen(id, n_frames, frame)` — deterministic synthetic PCM-8
  * waveform as a binary column: `n_frames` frames of `frame` unsigned
  * 8-bit samples centered at 128. Frame f is SILENT when
  * (id·7 + f) mod 4 = 0 — samples wobble ±2 around the midline
  * (128 + (i·3 mod 5) − 2) — and a full-swing TONE otherwise
  * (sample i = (id·31 + i·13) mod 256, the raster recurrence in one
  * dimension). The audio twin of `raster_gen`: the container has no
  * audio codecs, but a real DSP kernel needs samples with TEMPORAL
  * structure — quiet/loud segments, sign crossings — not repurposed
  * text bytes. One seed (the row id), bit-identical output, one
  * multiply-add per sample in both engines, so the DuckDB oracle
  * regenerates identical samples from the same closed form.
  */
case class PcmGen(left: Expression, right: Expression, frame: Int)
    extends BinaryExpression {

  require(frame > 0, s"pcm_gen: frame must be positive, got $frame")

  override def dataType: DataType = BinaryType
  override def prettyName: String = "pcm_gen"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pcm_gen needs (bigint id, int n_frames), got " +
        s"(${left.dataType}, ${right.dataType})")

  override protected def nullSafeEval(id: Any, nFrames: Any): Any =
    AudioKernel.gen(id.asInstanceOf[Long], nFrames.asInstanceOf[Int], frame)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (id, n) =>
      s"${ev.value} = graft.functions.AudioKernel.gen($id, $n, $frame);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PcmGen =
    copy(left = newLeft, right = newRight)
}

/** `audio_stats(payload, frame, silence)` — fused one-pass DSP feature
  * extraction over a PCM-8 binary column, returned as a fixed
  * `array<long>` `[n_frames, n_silent, peak_frame, peak_energy,
  * zero_crossings, total_energy]`:
  *
  *   - per-frame energy = Σ (s−128)² over each `frame`-sample window;
  *   - a frame is silent when its energy < `silence` (the VAD gate);
  *   - peak_frame = FIRST frame index attaining the max energy;
  *   - zero_crossings counts midline (128) sign changes over the whole
  *     stream, frame boundaries included.
  *
  * All integer math — exact in both engines. One loop over the raw
  * bytes, constant per-row state (six longs + one frame accumulator):
  * hour-long media streams pass map-side with no per-sample rows, no
  * shuffle, no hex round-trip — the same 100 TB argument as
  * `byte_hist`, plus ORDER-dependent features (energy locality, sign
  * changes) a histogram can never recover. Malformed geometry (payload
  * not a whole number of frames) fails loudly rather than serving
  * truncated features.
  */
case class AudioStats(child: Expression, frame: Int, silence: Long)
    extends UnaryExpression {

  require(frame > 0, s"audio_stats: frame must be positive, got $frame")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "audio_stats"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"audio_stats needs binary, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      AudioKernel.stats(input.asInstanceOf[Array[Byte]], frame, silence))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
            graft.functions.AudioKernel.stats($c, $frame, ${silence}L));""")

  override protected def withNewChildInternal(newChild: Expression): AudioStats =
    copy(child = newChild)
}

/** `pcm_requant(payload)` — the audio "re-encode" transform: every
  * unsigned sample b becomes (b div 2) + 64, i.e. the waveform at half
  * gain re-centered on the midline. Chosen because it changes EVERY
  * byte (payload hashes miss) while EXACTLY preserving the perceptual
  * invariants m12 fingerprints on: the midline-sign class of each
  * sample (b < 128 ⟺ b/2+64 < 128, so zero_crossings is bit-equal),
  * the silent/tone classification (energies scale ~¼: quiet frames
  * stay far under the VAD gate, tone frames far over), and the frame
  * count. Unsigned-only arithmetic — no floor-vs-truncate division
  * trap between engines. Map-side, codegen'd, one shift-add per byte.
  */
case class PcmRequant(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "pcm_requant"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pcm_requant needs binary, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    AudioKernel.requant(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.AudioKernel.requant($c);")

  override protected def withNewChildInternal(newChild: Expression): PcmRequant =
    copy(child = newChild)
}

object AudioKernel {
  /** Cap on generated waveform size — the generator exists for the
    * synthetic multimodal source; a mistyped frame count must not
    * allocate gigabytes inside a task.
    */
  val MaxSamples: Int = 1 << 24 // 16 MiB

  def gen(id: Long, nFrames: Int, frame: Int): Array[Byte] = {
    require(nFrames > 0 && frame > 0,
      s"pcm_gen: dims must be positive, got $nFrames frames x $frame")
    require(nFrames.toLong * frame <= MaxSamples,
      s"pcm_gen: $nFrames x $frame exceeds $MaxSamples samples")
    val n = nFrames * frame
    val out = new Array[Byte](n)
    var f = 0
    var i = 0
    while (f < nFrames) {
      val silent = java.lang.Math.floorMod(id * 7 + f, 4L) == 0L
      var j = 0
      while (j < frame) {
        val v =
          if (silent) 128 + (i * 3) % 5 - 2
          else java.lang.Math.floorMod(id * 31 + i.toLong * 13, 256L).toInt
        out(i) = v.toByte
        j += 1
        i += 1
      }
      f += 1
    }
    out
  }

  def requant(bytes: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](bytes.length)
    var i = 0
    while (i < bytes.length) {
      out(i) = (((bytes(i) & 0xff) >>> 1) + 64).toByte
      i += 1
    }
    out
  }

  def stats(bytes: Array[Byte], frame: Int, silence: Long): Array[Long] = {
    require(frame > 0, s"audio_stats: frame must be positive, got $frame")
    require(bytes.length % frame == 0,
      s"audio_stats: payload ${bytes.length} B is not a whole number of $frame-sample frames")
    val nFrames = bytes.length / frame
    var nSilent = 0L
    var peakFrame = -1L
    var peakEnergy = -1L
    var zc = 0L
    var total = 0L
    var prevBelow = false
    var i = 0
    var f = 0
    while (f < nFrames) {
      var e = 0L
      var j = 0
      while (j < frame) {
        val s = bytes(i) & 0xff
        val d = s - 128
        e += d.toLong * d
        val below = s < 128
        if (i > 0 && below != prevBelow) zc += 1
        prevBelow = below
        j += 1
        i += 1
      }
      if (e < silence) nSilent += 1
      if (e > peakEnergy) { peakEnergy = e; peakFrame = f }
      total += e
      f += 1
    }
    Array(nFrames.toLong, nSilent, peakFrame, peakEnergy, zc, total)
  }
}
