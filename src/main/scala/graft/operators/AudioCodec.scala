package graft.operators

import java.io.ByteArrayInputStream

import javax.sound.sampled.{AudioFormat, AudioSystem}

import org.apache.spark.sql.DataFrame

import Multimodal.Frame

/** REAL audio codec default for the [[Multimodal.framesWith]] seam, built
  * on `javax.sound.sampled` — in-JDK, headless-safe, zero new
  * dependencies: the audio analogue of what [[ImageCodec]] provides for
  * images. A user with WAV/AIFF/AU bytes in a binary column gets working
  * sample-window extraction out of the box; compressed formats (mp3/ogg/
  * aac) have no in-JDK decoder and ride
  * [[Multimodal.framesInContext]] with an ffmpeg binding, per-partition
  * handle lifecycle already in place.
  *
  * Window stats are exact integer math (no floating point), so values are
  * identical on every JVM/arch — the same determinism stance as
  * [[ImageCodec]]'s ITU-601 luma. Undecodable payloads and unsupported
  * encodings report the single sentinel frame (frame_no = −1), the
  * corrupt-shard quarantine posture every codec here shares: at 100 TB
  * some payload WILL be truncated, and one bad row must not kill the job.
  */
object AudioCodec {

  /** The one PCM decode loop: channel-0 magnitudes |s| of a PCM_SIGNED
    * 16-bit payload, decoded EAGERLY so the stream is closed on return.
    * `None` for an undecodable, non-PCM-16 or sample-less payload — the
    * sentinel case of every surface below. */
  private def pcm16Magnitudes(payload: Array[Byte]): Option[Array[Int]] =
    try {
      val in = AudioSystem.getAudioInputStream(
        new ByteArrayInputStream(payload))
      try {
        val fmt = in.getFormat
        if (fmt.getEncoding != AudioFormat.Encoding.PCM_SIGNED ||
            fmt.getSampleSizeInBits != 16) None
        else {
          val bytes = in.readAllBytes()
          val big = fmt.isBigEndian
          val stride = 2 * fmt.getChannels // bytes per sample frame
          val n = bytes.length / stride
          if (n == 0) None
          else Some(Array.tabulate(n) { i =>
            val o = i * stride
            val s =
              if (big) ((bytes(o) << 8) | (bytes(o + 1) & 0xff)).toShort
              else ((bytes(o + 1) << 8) | (bytes(o) & 0xff)).toShort
            math.abs(s.toInt)
          })
        }
      } finally in.close()
    } catch { case _: Exception => None }

  /** Default windower: PCM_SIGNED 16-bit audio → one [[Frame]] per
    * `windowSamples` sample frames (channel 0 of interleaved streams —
    * the level/energy view a silence-trimmer or speech-gate batches on):
    * [[wavWindowSigs]] with each window's sum reduced to its mean.
    * Per window: `n_bytes` = sample count (short tail window included),
    * `checksum` = mean absolute amplitude scaled to 0–127 (integer:
    * `(Σ|s|/n) >> 8` of 16-bit magnitudes) — a constant-amplitude window
    * of 8192 reads exactly 32, which the spec pins against a generated
    * WAV. The sentinel maps through as (−1, 0, −1). */
  def wavWindows(windowSamples: Int)(id: Long,
      payload: Array[Byte]): Iterator[Frame] =
    wavWindowSigs(windowSamples)(id, payload).map { s =>
      Frame(id, s.frame_no, s.n_bytes,
        if (s.level_sum < 0) -1 else ((s.level_sum / s.n_bytes) >> 8).toInt)
    }

  /** Window a whole (id, payload) binary frame with the real PCM decoder —
    * the audio sibling of [[ImageCodec.extractFrames]], same row-expanding
    * typed-mapPartitions plan as the m02 stub. */
  def extractWindows(docs: DataFrame, windowSamples: Int,
      idCol: String = "doc_id", payloadCol: String = "payload"): DataFrame =
    Multimodal.framesWith(docs, wavWindows(windowSamples), idCol, payloadCol)

  /** EXACT per-window energy signatures — [[wavWindows]] with the raw
    * Σ|sample| kept (a [[Frame]]'s `>> 8` mean would make the silence
    * comparison inexact): `n_bytes` = sample count, `level_sum` =
    * Σ|sample| of 16-bit magnitudes — the audio demuxer behind
    * [[Multimodal.silenceSegmentsOf]] and the WAV analogue of
    * [[ImageCodec.gifFrameSigsComposed]]. Sentinels mirror
    * [[wavWindows]]: undecodable / non-PCM-16 → (−1, 0, −1); a
    * sentinel's negative level reads as silence downstream, so corrupt
    * audio yields zero segments rather than an exception. */
  def wavWindowSigs(windowSamples: Int)(id: Long,
      payload: Array[Byte]): Iterator[Multimodal.FrameSig] = {
    require(windowSamples >= 1, s"windowSamples: $windowSamples")
    pcm16Magnitudes(payload) match {
      case None => Iterator.single(Multimodal.FrameSig(id, -1, 0, -1L))
      case Some(mag) =>
        Iterator.range(0, mag.length, windowSamples).map { from =>
          val until = math.min(mag.length, from + windowSamples)
          var sum = 0L
          var i = from
          while (i < until) { sum += mag(i); i += 1 }
          Multimodal.FrameSig(id, from / windowSamples, until - from, sum)
        }
    }
  }

  /** Silence-split segmentation over REAL audio: the m10 relational tail
    * ([[Multimodal.silenceSegmentsOf]]) driven by the in-JDK PCM decoder
    * — maximal runs of windows whose mean |amplitude| clears `theta`,
    * the rows an ASR pipeline transcribes. Same seam/swap story as
    * [[ImageCodec.sceneCuts]]. */
  def silenceSegments(docs: DataFrame, windowSamples: Int, theta: Long,
      idCol: String = "doc_id", payloadCol: String = "payload"): DataFrame =
    Multimodal.silenceSegmentsOf(Multimodal.frameSigsWith(
      docs, wavWindowSigs(windowSamples), idCol, payloadCol), theta)

  /** Duplicate-segment detection over REAL audio: [[silenceSegments]]'
    * segmentation plus [[Multimodal.duplicateSegmentsOf]]'s exact
    * signature join — a re-broadcast spot or spliced jingle is
    * byte-identical audio between silences even when container bytes
    * differ. Same seam, same swap story. */
  def duplicateSegments(docs: DataFrame, windowSamples: Int, theta: Long,
      idCol: String = "doc_id", payloadCol: String = "payload"): DataFrame =
    Multimodal.duplicateSegmentsOf(Multimodal.frameSigsWith(
      docs, wavWindowSigs(windowSamples), idCol, payloadCol), theta)

  /** REAL audio fingerprint (m05's PCM edition): decode channel 0, cut
    * the sample stream into 61 equal windows, energy per window =
    * Σ|sample| (exact integer), and emit the 60-bit energy-delta
    * signature ([[Multimodal.energyDeltaBits]] — bit b = window b+1
    * louder than window b, cross-multiplied so unequal window sizes stay
    * exact). Exactly invariant to amplitude scaling: every |sample|
    * scales by the same factor, so no comparison flips — a volume-
    * normalized copy fingerprints IDENTICALLY (spec-pinned with a
    * half-amplitude clone); small additive noise moves few bits and
    * lands within [[Dedup.hammingPairsOf]]'s radius. Undecodable or
    * non-PCM-16 payloads → the 0L sentinel, the quarantine posture of
    * every codec here. */
  def audioFingerprint(windows: Int = 61)(id: Long,
      payload: Array[Byte]): Multimodal.PHash = {
    require(windows >= 2 && windows <= 61, s"windows: $windows")
    pcm16Magnitudes(payload) match {
      case None => Multimodal.PHash(id, 0L)
      case Some(mag) =>
        val n = mag.length
        val sums = new Array[Long](windows)
        val cnts = new Array[Long](windows)
        var i = 0
        while (i < n) {
          val b = ((i.toLong * windows) / n).toInt
          sums(b) += mag(i); cnts(b) += 1
          i += 1
        }
        Multimodal.PHash(id, Multimodal.energyDeltaBits(sums, cnts))
    }
  }

  /** Fingerprint a whole (id, payload) binary frame with the real PCM
    * fingerprinter — the audio sibling of phash-over-images; the output
    * rides `Dedup.hammingPairsOf(sigCol = "phash")` unchanged. */
  def fingerprintAudio(docs: DataFrame, idCol: String = "doc_id",
      payloadCol: String = "payload"): DataFrame =
    Multimodal.phashWith(docs, audioFingerprint(), idCol, payloadCol)
}
