package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables.t

/** Multimodal-column plumbing (SURVEY.md §7.6): treat media as opaque
  * `binary` payloads with typed metadata, processed in per-partition batches.
  *
  * The testdata has no real image/audio bytes, so the payload is the
  * document's UTF-8 bytes and `decodeStub` stands in for the real
  * decoder — but everything Spark-side is the real production shape:
  *  - schema: (doc_id: long, payload: binary) → (doc_id, meta struct);
  *  - execution: `mapPartitions` over a typed Dataset, i.e. the decoder is
  *    invoked once per partition batch with plain JVM arrays — exactly how a
  *    JNI/FFI media decoder (libjpeg, ffmpeg) would be driven, amortizing
  *    per-batch setup over all rows of the partition;
  *  - parallelism: per-file-split partitions; no shuffle before the decode,
  *    one presentation sort after.
  *
  * The stub's "features" are deterministic byte-level functions (length,
  * mod-256 checksum, head byte, frame count at stride 100) so the whole
  * pipeline — including the typed-Dataset round trip — is verified against
  * the DuckDB oracle, not just smoke-tested.
  */
object Multimodal {

  /** Decoded-media metadata — what a real decoder would emit (width/height/
    * duration map onto nBytes/headByte/nFrames here). */
  final case class MediaMeta(doc_id: Long, n_bytes: Int, checksum: Int,
      head_byte: Int, n_frames: Int)

  /** STUB — the DEFAULT decoder (a real deployment injects its own via
    * [[decodeWith]]/[[decodeInContext]]; the oracle queries keep this one).
    * Deterministic fake: byte-level stats + frame sampling at stride 100.
    * NOTE the oracle computes the same features per CHARACTER (ascii/substr)
    * — equal only because the fixture text is ASCII (asserted true for all
    * SFs); a non-ASCII or empty document would diverge bytes-vs-chars. */
  private[graft] def decodeStub(id: Long, payload: Array[Byte]): MediaMeta = {
    var sum = 0L
    var i = 0
    while (i < payload.length) { sum += payload(i) & 0xff; i += 1 }
    MediaMeta(
      doc_id = id,
      n_bytes = payload.length,
      checksum = (sum % 256).toInt,
      head_byte = if (payload.nonEmpty) payload(0) & 0xff else -1,
      n_frames = if (payload.isEmpty) 0 else (payload.length - 1) / 100 + 1)
  }

  /** The standard (doc_id, payload) binary frame over the documents table —
    * the input shape every decode surface below expects. A real corpus reads
    * its media bytes from parquet `binary` columns the same way. */
  def binaryDocs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))

  // ---- pluggable codec seams -----------------------------------------
  // A user injects a real libjpeg/ffmpeg codec WITHOUT forking the
  // operator: the injected function rides the exact typed-mapPartitions
  // plan the stub rides (MultimodalSpec asserts plan equality). Two forms:
  //  - decodeWith: per-row pure function, for codecs with no setup cost;
  //  - decodeInContext: per-partition context acquire/release around the
  //    row loop — the JNI/FFI shape (codec contexts are expensive and not
  //    serializable, so they must be constructed ON the executor, once per
  //    partition batch, and released even when a row throws).

  /** The one typed-mapPartitions core every codec surface rides: `open()`
    * once per partition batch ON the executor, `f` per row (possibly
    * row-expanding), `close(ctx)` exactly once after the last output row
    * — and on mid-stream failure, so a throwing payload can't leak a
    * codec context. `C` need not be serializable: only the functions
    * ship; the context lives and dies inside one partition. */
  private[operators] def inContext[C, O](docs: DataFrame, open: () => C,
      f: (C, Long, Array[Byte]) => Iterator[O], close: C => Unit,
      idCol: String, payloadCol: String)(
      implicit enc: org.apache.spark.sql.Encoder[O]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        val ctx = open() // codec context: once per partition batch
        val it = batch.flatMap { case (id, payload) => f(ctx, id, payload) }
        // Iterators are lazy: close only after the last row is consumed
        // (exactly once — hasNext may be re-asked after exhaustion). The
        // task-completion listener covers the consumer-ABANDONS case — a
        // downstream limit/take stops pulling before exhaustion and would
        // otherwise leak the native handle; completion fires on success,
        // failure, AND early task end.
        final class CloseOnceIterator extends Iterator[O] {
          // compareAndSet, not a volatile check-then-act: the task-completion
          // listener can fire on another thread (task kill, speculation
          // interrupt) concurrently with the consumer hitting exhaustion —
          // a racy double-close would free a JNI codec context twice.
          private val closed = new java.util.concurrent.atomic.AtomicBoolean(false)
          def closeOnce(): Unit =
            if (closed.compareAndSet(false, true)) close(ctx)
          def hasNext: Boolean = {
            val h = try it.hasNext catch { case e: Throwable => closeOnce(); throw e }
            if (!h) closeOnce()
            h
          }
          def next(): O =
            try it.next() catch { case e: Throwable => closeOnce(); throw e }
        }
        val wrapped = new CloseOnceIterator
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => wrapped.closeOnce()))
        wrapped
      }
      .toDF()
  }

  /** Library seam: decode an arbitrary (id, payload) frame with a caller
    * codec. `docs` must have `idCol` (castable to long) and `payloadCol`
    * (binary). Unsorted — callers order for presentation themselves. */
  def decodeWith(docs: DataFrame, decode: (Long, Array[Byte]) => MediaMeta,
      idCol: String = "doc_id", payloadCol: String = "payload"): DataFrame =
    decodeInContext(docs, () => (), (_: Unit, id, payload) => decode(id, payload),
      (_: Unit) => (), idCol, payloadCol)

  /** Library seam, JNI shape: `open()` runs once per partition batch on the
    * executor, `decode(ctx, id, payload)` per row, `close(ctx)` after the
    * last row. */
  def decodeInContext[C](docs: DataFrame, open: () => C,
      decode: (C, Long, Array[Byte]) => MediaMeta, close: C => Unit,
      idCol: String = "doc_id", payloadCol: String = "payload"): DataFrame =
    inContext[C, MediaMeta](docs, open,
      (c, id, p) => Iterator.single(decode(c, id, p)), close, idCol,
      payloadCol)(org.apache.spark.sql.Encoders.product[MediaMeta])

  /** [[resizeWith]] with a per-partition scaler context (libvips handle). */
  def resizeInContext[C](docs: DataFrame, open: () => C,
      resize: (C, Long, Array[Byte]) => Resized, close: C => Unit,
      idCol: String = "doc_id", payloadCol: String = "payload"): DataFrame =
    inContext[C, Resized](docs, open,
      (c, id, p) => Iterator.single(resize(c, id, p)), close, idCol,
      payloadCol)(org.apache.spark.sql.Encoders.product[Resized])

  /** [[framesWith]] with a per-partition demuxer context (ffmpeg handle). */
  def framesInContext[C](docs: DataFrame, open: () => C,
      demux: (C, Long, Array[Byte]) => Iterator[Frame], close: C => Unit,
      idCol: String = "doc_id", payloadCol: String = "payload"): DataFrame =
    inContext[C, Frame](docs, open, demux, close, idCol,
      payloadCol)(org.apache.spark.sql.Encoders.product[Frame])

  /** m01 — binary ingest → per-partition batch decode → typed metadata.
    * Routes through the [[decodeWith]] seam with the stub codec, so the
    * oracle query exercises the same plan an injected real codec gets. */
  def m01Decode(spark: SparkSession, dir: String): DataFrame =
    decodeWith(binaryDocs(spark, dir), decodeStub).orderBy("doc_id")

  /** Resize result: original size, resized payload stats. */
  final case class Resized(doc_id: Long, n_bytes: Int, resized_bytes: Int,
      resized_checksum: Int)

  /** m03 — media resize: payload → smaller payload, the thumbnail /
    * downsample step of an ingest pipeline. STUB: nearest-neighbor
    * "resize" keeping every `stride`-th byte (a real impl calls
    * libjpeg/libvips scale-on-decode here — same per-partition-batch
    * shape, same contract: binary in, smaller binary out). The output
    * carries deterministic stats of the RESIZED payload so the
    * transformation itself — not just the plumbing — is oracle-checked. */
  def m03Resize(spark: SparkSession, dir: String): DataFrame =
    resizeWith(binaryDocs(spark, dir), resizeStub(3)).orderBy("doc_id")

  /** Default resizer: stats straight off the strided indices — the resized
    * payload is never materialized (the only per-row allocation is the
    * Resized record; a real resizer would of course allocate its output). */
  private[graft] def resizeStub(stride: Int)(id: Long,
      payload: Array[Byte]): Resized = {
    val n = (payload.length + stride - 1) / stride
    var sum = 0L
    var k = 0
    while (k < n) { sum += payload(k * stride) & 0xff; k += 1 }
    Resized(id, payload.length, n, (sum % 256).toInt)
  }

  /** Library seam: resize/transcode with a caller scaler (libvips scale-on-
    * decode). Same typed-mapPartitions plan as [[decodeWith]]. */
  def resizeWith(docs: DataFrame, resize: (Long, Array[Byte]) => Resized,
      idCol: String = "doc_id", payloadCol: String = "payload"): DataFrame =
    resizeInContext(docs, () => (),
      (_: Unit, id, payload) => resize(id, payload), (_: Unit) => (),
      idCol, payloadCol)

  /** One sampled frame of a media payload. */
  final case class Frame(doc_id: Long, frame_no: Int, n_bytes: Int,
      checksum: Int)

  /** m02 — frame sampling: one output row per fixed-stride chunk of the
    * payload (video frame extraction / audio windowing shape: a flatMap
    * that EXPANDS rows, the UDTF pattern). Runs as a typed mapPartitions so
    * a real demuxer would be driven per partition batch; chunk features stay
    * deterministic byte math so the expansion is oracle-checked. */
  def m02Frames(spark: SparkSession, dir: String): DataFrame =
    framesWith(binaryDocs(spark, dir), framesStub(100))
      .orderBy("doc_id", "frame_no")

  /** Default demuxer: one Frame per fixed-stride chunk. */
  private[graft] def framesStub(stride: Int)(id: Long,
      payload: Array[Byte]): Iterator[Frame] =
    payload.grouped(stride).zipWithIndex.map { case (chunk, i) =>
      var sum = 0L
      var j = 0
      while (j < chunk.length) { sum += chunk(j) & 0xff; j += 1 }
      Frame(id, i, chunk.length, (sum % 256).toInt)
    }

  /** Library seam: frame extraction with a caller demuxer — a row-EXPANDING
    * codec (video frames, audio windows), so the injected function returns
    * an iterator per document. Same typed-mapPartitions plan. */
  def framesWith(docs: DataFrame, demux: (Long, Array[Byte]) => Iterator[Frame],
      idCol: String = "doc_id", payloadCol: String = "payload"): DataFrame =
    framesInContext(docs, () => (),
      (_: Unit, id, payload) => demux(id, payload), (_: Unit) => (),
      idCol, payloadCol)

  /** One 60-bit perceptual signature of a media payload. */
  final case class PHash(doc_id: Long, phash: Long)

  /** m04 — PERCEPTUAL hashing: the media analogue of dd04's text SimHash —
    * a 60-bit signature designed so near-identical media (re-encode, crop,
    * brightness shift) land at small Hamming distance, which keyword/exact
    * hashes can't do for binary columns. STUB: an average-hash over 60
    * positional buckets (bit b = bucket-b mean above the payload mean,
    * held in exact integer cross-multiplication — no division, no FP); a
    * real deployment injects a DCT pHash over decoded pixels through
    * [[phashWith]] and the downstream pairing is unchanged.
    *
    * Near-dup pairing composes with [[Dedup.hammingPairsOf]] — the SAME
    * salted 5×12-band blocking dd05 uses (exact for radius ≤ 4), so media
    * near-dup costs one map-only signature pass plus the banded join; no
    * new join machinery. MultimodalSpec plants byte-level near-dup
    * payloads and asserts the planted pair survives hashing + banding. */
  def m04Phash(spark: SparkSession, dir: String): DataFrame =
    phashWith(binaryDocs(spark, dir), phashStub(60)).orderBy("doc_id")

  /** Default perceptual hasher: positional-bucket average hash. Bucket of
    * byte i is i·bits/len (0-based); bit b set iff
    * sum_b · len > total · count_b — integer-exact at any payload size
    * (255 · len² < 2⁶³ up to ~190 MB payloads). */
  private[graft] def phashStub(bits: Int)(id: Long,
      payload: Array[Byte]): PHash = {
    val n = payload.length
    if (n == 0) return PHash(id, 0L)
    val sums = new Array[Long](bits)
    val cnts = new Array[Long](bits)
    var total = 0L
    var i = 0
    while (i < n) {
      val b = ((i.toLong * bits) / n).toInt
      val v = payload(i) & 0xff
      sums(b) += v; cnts(b) += 1; total += v
      i += 1
    }
    var h = 0L
    var b = 0
    while (b < bits) {
      if (sums(b) * n > total * cnts(b)) h |= 1L << b
      b += 1
    }
    PHash(id, h)
  }

  /** m05 — AUDIO fingerprinting (the Haitsma–Kalker energy-delta shape,
    * time-axis edition): the payload's "amplitude" stream is cut into 61
    * equal windows and bit b records whether window b+1's mean level
    * RISES above window b's — a 60-bit signature that is exactly
    * invariant to amplitude scaling (both sides of each comparison scale
    * together) and rides [[graft.operators.Dedup.hammingPairsOf]]'s
    * banded join unchanged, completing the audio leg of the multimodal
    * dedup story (m04 = images). The declared query runs the
    * deterministic byte-stub (the m04 pattern — the oracle computes the
    * identical integer comparisons over text bytes); the REAL PCM
    * edition is [[AudioCodec.audioFingerprint]], same bit rule over
    * decoded channel-0 |sample| energies, spec-verified on generated
    * WAVs (half-amplitude copy → identical fingerprint). */
  def m05AudioFingerprint(spark: SparkSession, dir: String): DataFrame =
    phashWith(binaryDocs(spark, dir), audioFpStub(61))
      .withColumnRenamed("phash", "afp")
      .orderBy("doc_id")

  /** Deterministic stub: 61 positional windows over payload bytes, bit
    * b ∈ [0, 60) set iff mean(window b+1) > mean(window b), compared as
    * the exact cross-product `sum(b+1)·cnt(b) > sum(b)·cnt(b+1)` (windows
    * differ by ≤ 1 in size; no division, no floats). Payloads shorter
    * than the window count leave gaps — a bit is computed only where
    * BOTH adjacent windows hold bytes, mirroring the oracle's
    * consecutive-bucket join. */
  private[graft] def audioFpStub(windows: Int)(id: Long,
      payload: Array[Byte]): PHash = {
    val n = payload.length
    if (n == 0) return PHash(id, 0L)
    val sums = new Array[Long](windows)
    val cnts = new Array[Long](windows)
    var i = 0
    while (i < n) {
      val b = ((i.toLong * windows) / n).toInt
      sums(b) += payload(i) & 0xff; cnts(b) += 1
      i += 1
    }
    PHash(id, energyDeltaBits(sums, cnts))
  }

  /** The shared bit rule of the stub and [[AudioCodec.audioFingerprint]]:
    * one comparison per adjacent window pair, skipped where either side
    * is empty. */
  private[graft] def energyDeltaBits(sums: Array[Long],
      cnts: Array[Long]): Long = {
    var h = 0L
    var b = 0
    while (b < sums.length - 1) {
      if (cnts(b) > 0 && cnts(b + 1) > 0 &&
          sums(b + 1) * cnts(b) > sums(b) * cnts(b + 1)) h |= 1L << b
      b += 1
    }
    h
  }

  /** One frame's level signature — what a shot-boundary detector needs
    * from the demuxer: the frame's size and its summed level (pixel-luma /
    * sample-energy analogue), kept as exact integers. */
  final case class FrameSig(doc_id: Long, frame_no: Int, n_bytes: Int,
      level_sum: Long)

  /** m06 — SCENE-CUT detection (shot-boundary segmentation): the step a
    * video training pipeline runs before picking representative frames —
    * sample frames, compare each frame's mean level against its
    * predecessor, cut where the jump exceeds θ levels, and emit the
    * resulting scenes. The comparison is the exact integer
    * cross-multiplication the m04/m05 stubs use
    * (|s·pc − ps·c| > θ·c·pc ⇔ |mean − prev_mean| > θ, no division, no
    * FP), so a short tail frame compares correctly against a full-stride
    * one. STUB demuxer = stride-100 byte chunks with full level sums; a
    * real deployment injects an ffmpeg demuxer through [[frameSigsWith]]
    * and the relational tail ([[sceneCutsOf]]) is unchanged.
    *
    * Scale shape: the signature pass is map-only inside the per-partition
    * codec seam; the lag and running-count windows partition by `doc_id`
    * — bounded by ONE video's frame count, never corpus-sized — and the
    * scene groupBy reuses the same doc_id hash partitioning, so the whole
    * tail costs one shuffle of 24-byte signature rows. θ=3 on the fixture
    * cuts ~15% of adjacent pairs (measured at sf0.01), exercising both
    * branches of the rule. */
  def m06SceneCuts(spark: SparkSession, dir: String): DataFrame =
    sceneCutsOf(frameSigsWith(binaryDocs(spark, dir), frameSigStub(100)),
      theta = 3L).orderBy("doc_id", "scene")

  /** Default frame-signature demuxer: one FrameSig per fixed-stride chunk
    * (the m02 chunking with the raw level sum instead of a mod-256
    * checksum — a cut detector needs magnitudes, not parities). */
  private[graft] def frameSigStub(stride: Int)(id: Long,
      payload: Array[Byte]): Iterator[FrameSig] =
    payload.grouped(stride).zipWithIndex.map { case (chunk, i) =>
      var sum = 0L
      var j = 0
      while (j < chunk.length) { sum += chunk(j) & 0xff; j += 1 }
      FrameSig(id, i, chunk.length, sum)
    }

  /** Library seam: frame-signature extraction with a caller demuxer (an
    * ffmpeg decode emitting per-frame luma sums). Same typed-mapPartitions
    * plan as [[framesWith]]. */
  def frameSigsWith(docs: DataFrame,
      demux: (Long, Array[Byte]) => Iterator[FrameSig],
      idCol: String = "doc_id", payloadCol: String = "payload"): DataFrame =
    inContext[Unit, FrameSig](docs, () => (),
      (_: Unit, id, p) => demux(id, p), (_: Unit) => (), idCol,
      payloadCol)(org.apache.spark.sql.Encoders.product[FrameSig])

  /** The relational tail every injected demuxer rides: frame k (k ≥ 1)
    * starts a new scene iff its mean level jumps more than `theta` from
    * frame k−1 — |s_k·c_{k−1} − s_{k−1}·c_k| > θ·c_k·c_{k−1}, exact in
    * Long (255·stride² overhead far below 2⁶³) — and scenes are the runs
    * between cuts: scene id = running cut count, one row per scene with
    * its first frame, frame count, and byte size. Input: any
    * (doc_id, frame_no, n_bytes, level_sum) frame. Both windows and the
    * groupBy share the doc_id partitioning (frames-per-video bounded). */
  def sceneCutsOf(sigs: DataFrame, theta: Long): DataFrame = {
    sceneFramesOf(sigs, theta)
      .groupBy("doc_id", "scene")
      .agg(min(col("frame_no")).as("first_frame"),
        count(lit(1)).as("n_frames"),
        sum(col("n_bytes").cast("long")).as("scene_bytes"))
  }

  /** Shared scene ASSIGNMENT (per-frame rows + their `scene` id) — the
    * common prefix of [[sceneCutsOf]]'s rollup and [[sceneKeyframesOf]]'s
    * argmin, so the two can never disagree about where the cuts are. */
  private[graft] def sceneFramesOf(sigs: DataFrame,
      theta: Long): DataFrame = {
    require(theta >= 0, s"theta: $theta")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("frame_no")
    val withPrev = sigs
      .withColumn("ps", lag(col("level_sum"), 1).over(w))
      .withColumn("pc", lag(col("n_bytes"), 1).over(w))
    val cut = when(col("ps").isNotNull &&
      abs(col("level_sum") * col("pc") - col("ps") * col("n_bytes")) >
        lit(theta) * col("n_bytes") * col("pc"), 1).otherwise(0)
    withPrev
      .withColumn("scene", sum(cut).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)).cast("int"))
      .drop("ps", "pc")
  }

  /** m07 — KEYFRAME selection: one representative frame per scene, the
    * step after [[sceneCutsOf]] that a video pipeline actually feeds to
    * the image operators (m01/m03/m04 run on keyframes, not every frame).
    * The representative is the frame whose mean level sits closest to the
    * scene's own mean level — medoid-style, so a flash frame inside a
    * shot never represents it — with the EXACT cross-multiplied integer
    * comparison (|s_f·C − S·c_f| scaled deviation; S,C = scene sums), and
    * (deviation, frame_no) ordering makes ties deterministic. A sentinel
    * scene (decode failure, c = 0) has deviation 0 and elects its only
    * frame — corrupt media yields a keyframe row, not an exception.
    *
    * Scale shape: both windows (scene sums, argmin rank) AND the
    * upstream scene assignment partition by `doc_id` / (doc_id, scene) —
    * state bounded by one video's frame count; the whole tail reuses the
    * one doc_id exchange [[sceneCutsOf]] already pays. Deviation bound:
    * s_f·C ≤ 255·pixels · frames·pixels — at 8 M-pixel frames and 300
    * frames ≈ 5·10¹⁸, inside Long; 4K-at-10⁴-frames callers rescale the
    * demuxer's level sums (documented, not silently wrapped). */
  def sceneKeyframesOf(sigs: DataFrame, theta: Long): DataFrame =
    sceneKeyframesFromScenes(sceneFramesOf(sigs, theta))

  /** [[sceneKeyframesOf]] over an ALREADY scene-assigned frame (a
    * [[sceneFramesOf]] output) — the composed-graph entry point: a graph
    * that needs keyframes AND scene signatures (video dedup) computes the
    * scene assignment ONCE, pins it, and feeds it here and to
    * [[sceneSignaturesFromScenes]]; re-deriving scenes from raw sigs in
    * each consumer would pay the doc_id window chain (and upstream, the
    * decode) twice — the pin audit flags exactly that. */
  def sceneKeyframesFromScenes(scenes: DataFrame): DataFrame = {
    val ws = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id", "scene")
    val dev = abs(col("level_sum") * col("scene_bytes") -
      col("scene_sum") * col("n_bytes"))
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id", "scene").orderBy(dev.asc, col("frame_no").asc)
    scenes
      .withColumn("scene_bytes", sum(col("n_bytes").cast("long")).over(ws))
      .withColumn("scene_sum", sum(col("level_sum")).over(ws))
      .withColumn("n_frames", count(lit(1)).over(ws))
      .withColumn("rk", row_number().over(rk))
      .where(col("rk") === 1)
      .select(col("doc_id"), col("scene"), col("n_frames"),
        col("frame_no").as("keyframe"), col("scene_bytes"),
        dev.as("key_dev"))
  }

  /** m07 declared query: keyframes of the m06 scenes over the stub
    * demuxer — θ and stride shared with [[m06SceneCuts]] so the scene
    * ids line up row-for-row across the two declared surfaces. */
  def m07SceneKeyframes(spark: SparkSession, dir: String): DataFrame =
    sceneKeyframesOf(frameSigsWith(binaryDocs(spark, dir),
      frameSigStub(100)), theta = 3L).orderBy("doc_id", "scene")

  /** m08 — DUPLICATE-SCENE detection across videos (the content-ID
    * shape): two videos share a scene when a whole shot's aggregate
    * signature — (frame count, byte size, level sum), all exact integers
    * out of [[sceneFramesOf]] — matches exactly; per video pair, the
    * count of shared distinct scene signatures and an integer containment
    * ratio (shared / the smaller video's distinct-scene count, in ppm).
    * This is the video leg of the dedup ladder: re-posted clips, edits
    * that splice whole shots, and mirror uploads share scenes verbatim
    * even when the container bytes differ, so the EXACT-match family
    * (dd01's economics) applies — per-pixel near-dup of individual frames
    * stays with m04's pHash + dd05's banded Hamming pairs.
    *
    * Scale shape: the scene rollup rides m06's one doc_id exchange; the
    * signature self-join shuffles |distinct scenes| 32-byte rows hashed
    * on the full (nf, bytes, sum) triple — bucket sizes are the true
    * duplication multiplicity (collision odds of the cross-multiplied
    * Long sums are negligible), so pair fan-out is the answer's own size,
    * exactly like exact-hash dedup; no banding needed because there is
    * no near-miss radius. Degenerate corpora (synthetic all-black shots)
    * collapse buckets — the same documented caveat as dd01's hash
    * buckets. The per-video distinct-scene census joins back on doc_id
    * (|videos|-row side, AQE broadcasts it at real scales). */
  /** Per-scene aggregate SIGNATURES — (doc_id, scene, nf, cb, ssum): the
    * exact-match identity [[duplicateScenesOf]] joins on and the row a
    * persistent scene ledger stores ([[graft.streaming.Streaming.streamingDuplicateScenes]]
    * probes it stream-static). */
  def sceneSignaturesOf(sigs: DataFrame, theta: Long): DataFrame =
    sceneSignaturesFromScenes(sceneFramesOf(sigs, theta))

  /** [[sceneSignaturesOf]] over an ALREADY scene-assigned frame — see
    * [[sceneKeyframesFromScenes]] for when and why. */
  def sceneSignaturesFromScenes(scenes: DataFrame): DataFrame =
    scenes
      .groupBy("doc_id", "scene")
      .agg(count(lit(1)).as("nf"),
        sum(col("n_bytes").cast("long")).as("cb"),
        sum(col("level_sum")).as("ssum"))

  def duplicateScenesOf(sigs: DataFrame, theta: Long): DataFrame =
    containmentPairsOf(sceneSignaturesOf(sigs, theta), "scenes")

  /** [[duplicateScenesOf]] over an ALREADY scene-assigned frame — see
    * [[sceneKeyframesFromScenes]] for when and why. */
  def duplicateScenesFromScenes(scenes: DataFrame): DataFrame =
    containmentPairsOf(sceneSignaturesFromScenes(scenes), "scenes")

  /** The shared exact-containment tail of [[duplicateScenesOf]] (video
    * scenes) and [[duplicateSegmentsOf]] (audio segments): distinct
    * (nf, cb, ssum) unit signatures per document, self-join on the full
    * triple, per-pair shared count + integer containment ppm vs the
    * smaller census. `unit` names the output columns
    * (shared_<unit>/a_<unit>/b_<unit>). */
  private def containmentPairsOf(sigsIn: DataFrame,
      unit: String): DataFrame = {
    // three consumers (both join sides + the census) — pin once so the
    // codec seam and the upstream windows run a single time
    val fp = sigsIn
      .select("doc_id", "nf", "cb", "ssum").distinct()
      .transform(graft.Materialize.pin)
    val ns = fp.groupBy("doc_id").agg(count(lit(1)).as("n_units"))
    fp.as("a").join(fp.as("b"),
        col("a.nf") === col("b.nf") && col("a.cb") === col("b.cb") &&
          col("a.ssum") === col("b.ssum") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as(s"shared_$unit"))
      .join(ns.select(col("doc_id").as("doc_a"),
        col("n_units").as(s"a_$unit")), Seq("doc_a"))
      .join(ns.select(col("doc_id").as("doc_b"),
        col("n_units").as(s"b_$unit")), Seq("doc_b"))
      .withColumn("containment_ppm",
        expr(s"shared_$unit * 1000000L div least(a_$unit, b_$unit)"))
      .select(col("doc_a"), col("doc_b"), col(s"shared_$unit"),
        col(s"a_$unit"), col(s"b_$unit"), col("containment_ppm"))
  }

  /** m08 declared query: duplicate scenes over the stub demuxer — θ and
    * stride shared with m06/m07 so all three surfaces segment
    * identically. */
  def m08DuplicateScenes(spark: SparkSession, dir: String): DataFrame =
    duplicateScenesOf(frameSigsWith(binaryDocs(spark, dir),
      frameSigStub(100)), theta = 3L).orderBy("doc_a", "doc_b")

  /** m09 — VIDEO near-dup CLUSTER assignment: connected components over
    * the [[duplicateScenesOf]] pair graph at containment ≥ `minPpm` —
    * dd06's recipe (pairs alone aren't actionable; "keep one per group"
    * needs the transitive group) on the video leg: a re-post chain
    * A→B→C collapses to one cluster even when A and C share no scene
    * directly. Every video gets the smallest reachable doc_id as its
    * cluster id; singletons label themselves.
    *
    * Scale shape is dd06's, inherited verbatim: the pair pipeline is
    * consumed once, by [[Dedup.connectedComponents]]' edge layout, and
    * the component search runs over the edge-TOUCHED subgraph only — its
    * state is the duplicated fraction of the corpus, not the corpus. */
  def videoClustersOf(videos: DataFrame, sigs: DataFrame, theta: Long,
      minPpm: Long): DataFrame = graft.Materialize.scoped {
    val labels = Dedup.connectedComponents(duplicateScenesOf(sigs, theta)
      .where(col("containment_ppm") >= minPpm)
      .select(col("doc_a").as("ida"), col("doc_b").as("idb")))
    videos.select(col("doc_id").cast("long").as("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster"))
  }

  /** m09 declared query: video clusters over the stub demuxer at the
    * half-containment threshold (≥ 50% of the smaller video's distinct
    * scenes shared — the [[graft.examples.VideoDedupExample]] default). */
  def m09VideoClusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = binaryDocs(spark, dir)
    videoClustersOf(docs, frameSigsWith(docs, frameSigStub(100)),
      theta = 3L, minPpm = 500000L).orderBy("doc_id")
  }

  /** m10 — SILENCE-SPLIT segmentation (the ASR-corpus precursor, audio
    * sibling of [[sceneCutsOf]]): window w is SILENT iff its mean level
    * is below `theta` — `level_sum < θ·n_bytes`, exact in Long — and a
    * SEGMENT is a maximal run of non-silent windows, the rows a speech
    * pipeline actually transcribes. Silent gaps are dropped; a sentinel
    * window (undecodable payload / failed window: count 0, level −1)
    * reads as silence, so corrupt audio yields zero segments rather
    * than an exception, and a mid-stream sentinel SPLITS the run it
    * interrupts (it is a gap, not a bridge). One row per segment:
    * (doc_id, segment, first_frame, n_frames, seg_bytes, seg_sum).
    *
    * Scale shape: the lag and running-count windows and the rollup all
    * partition by `doc_id` — state bounded by one recording's window
    * count, the m06 economics verbatim; the whole tail rides one
    * doc_id exchange of 24-byte signature rows. */
  def silenceSegmentsOf(sigs: DataFrame, theta: Long): DataFrame = {
    require(theta >= 0, s"theta: $theta")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("frame_no")
    val run = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val sil = col("level_sum") < lit(theta) * col("n_bytes").cast("long")
    sigs
      .withColumn("sil", sil)
      .withColumn("start", when(!col("sil") &&
        coalesce(lag(col("sil"), 1).over(w), lit(true)), 1L)
        .otherwise(0L))
      .withColumn("segment", (sum(col("start")).over(run) - 1).cast("int"))
      .where(!col("sil"))
      .groupBy("doc_id", "segment")
      .agg(min(col("frame_no")).as("first_frame"),
        count(lit(1)).as("n_frames"),
        sum(col("n_bytes").cast("long")).as("seg_bytes"),
        sum(col("level_sum")).as("seg_sum"))
  }

  /** m10 declared query: silence segments over the stub demuxer — the
    * fixture's window means sit in a tight 87–115 band, so θ = 94
    * (≈ the median) exercises silent, loud, and run-boundary branches
    * on ~a third of all windows. */
  def m10SilenceSegments(spark: SparkSession, dir: String): DataFrame =
    silenceSegmentsOf(frameSigsWith(binaryDocs(spark, dir),
      frameSigStub(100)), theta = 94L).orderBy("doc_id", "segment")

  /** m11 — DUPLICATE-SEGMENT detection across recordings (the
    * jingle/ad-detection shape, audio sibling of [[duplicateScenesOf]]):
    * two recordings share a segment when a whole non-silent run's
    * aggregate signature — (window count, sample count, energy sum),
    * exact integers out of [[silenceSegmentsOf]] — matches verbatim; a
    * re-broadcast spot or a spliced jingle is byte-identical audio
    * between silences even when the container bytes differ. Same
    * [[containmentPairsOf]] tail, same dd01 exact-hash economics;
    * near-identical-but-re-encoded audio stays with m05's
    * energy-delta fingerprint + banded Hamming pairs. */
  def duplicateSegmentsOf(sigs: DataFrame, theta: Long): DataFrame =
    containmentPairsOf(silenceSegmentsOf(sigs, theta)
      .select(col("doc_id"), col("n_frames").as("nf"),
        col("seg_bytes").as("cb"), col("seg_sum").as("ssum")),
      "segments")

  /** m11 declared query: duplicate segments over the stub demuxer — θ
    * shared with [[m10SilenceSegments]] so the two surfaces segment
    * identically. */
  def m11DuplicateSegments(spark: SparkSession, dir: String): DataFrame =
    duplicateSegmentsOf(frameSigsWith(binaryDocs(spark, dir),
      frameSigStub(100)), theta = 94L).orderBy("doc_a", "doc_b")

  /** Library seam: perceptual-hash an arbitrary (id, payload) frame with a
    * caller hasher (DCT pHash over decoded pixels, chroma-aware, etc.).
    * Same typed-mapPartitions plan as [[decodeWith]]. */
  def phashWith(docs: DataFrame, hasher: (Long, Array[Byte]) => PHash,
      idCol: String = "doc_id", payloadCol: String = "payload"): DataFrame =
    phashInContext(docs, () => (),
      (_: Unit, id, payload) => hasher(id, payload), (_: Unit) => (),
      idCol, payloadCol)

  /** [[phashWith]] with a per-partition codec context (decode-then-hash
    * needs the same JNI lifecycle as [[decodeInContext]]). */
  def phashInContext[C](docs: DataFrame, open: () => C,
      hash: (C, Long, Array[Byte]) => PHash, close: C => Unit,
      idCol: String = "doc_id", payloadCol: String = "payload"): DataFrame =
    inContext[C, PHash](docs, open,
      (c, id, p) => Iterator.single(hash(c, id, p)), close, idCol,
      payloadCol)(org.apache.spark.sql.Encoders.product[PHash])

  /** One perceptual hash PER FRAME — the row [[phashWith]]'s whole-payload
    * hash can't give a video: keyframe-level dedup semi-joins this table
    * against [[sceneKeyframesOf]]'s elected frames. */
  final case class FramePhash(doc_id: Long, frame_no: Int, phash: Long)

  /** Library seam: per-frame perceptual hashes with a caller demuxer-hasher
    * (decode → compose → DCT-hash each frame, one codec pass per video).
    * Same typed-mapPartitions plan as [[frameSigsWith]]. */
  def framePhashesWith(docs: DataFrame,
      demux: (Long, Array[Byte]) => Iterator[FramePhash],
      idCol: String = "doc_id", payloadCol: String = "payload"): DataFrame =
    inContext[Unit, FramePhash](docs, () => (),
      (_: Unit, id, p) => demux(id, p), (_: Unit) => (), idCol,
      payloadCol)(org.apache.spark.sql.Encoders.product[FramePhash])

  /** One per-scene signature row, computed IN ROW. */
  final case class SceneSig(doc_id: Long, scene: Int, nf: Long, cb: Long,
      ssum: Long)

  /** [[SceneSig]] carrying the video's event time through the codec seam
    * — the row an UNBOUNDED frame needs ([[sceneSignaturesWithTs]]):
    * window functions don't exist on streams, and a stateful op
    * downstream needs the watermark column to survive the seam. */
  final case class SceneSigTs(doc_id: Long, scene: Int, nf: Long, cb: Long,
      ssum: Long, event_ts: java.sql.Timestamp)

  /** IN-ROW scene-signature rollup — [[sceneSignaturesOf]] computed
    * inside the codec seam instead of with windows, value-identical by
    * the same cut rule over the same exact integers (parity asserted in
    * MultimodalSpec; the [[graft.operators.Dedup.rowSigOf]] precedent:
    * streams can't window, but one video's frames are already an
    * in-order iterator inside the seam, so the rollup is a bounded
    * per-video fold). Contract: `demux` emits frames in ascending
    * frame_no order — every shipped demuxer does. */
  private[graft] def sceneSigsInRow(
      demux: (Long, Array[Byte]) => Iterator[FrameSig], theta: Long)(
      id: Long, payload: Array[Byte]): Iterator[SceneSig] = {
    require(theta >= 0, s"theta: $theta")
    val out = scala.collection.mutable.ArrayBuffer.empty[SceneSig]
    var scene = -1
    var ps = 0L; var pc = 0L; var first = true
    var nf = 0L; var cb = 0L; var ssum = 0L
    def flush(): Unit =
      if (scene >= 0) out += SceneSig(id, scene, nf, cb, ssum)
    demux(id, payload).foreach { f =>
      val c = f.n_bytes.toLong
      val s = f.level_sum
      // the sceneFramesOf cut rule verbatim: frame k≥1 starts a scene
      // iff |s·pc − ps·c| > θ·c·pc (a sentinel's zero count fires both
      // of its edges, same as the relational path)
      val cut = !first && math.abs(s * pc - ps * c) > theta * c * pc
      if (first || cut) { flush(); scene += 1; nf = 0; cb = 0; ssum = 0 }
      nf += 1; cb += c; ssum += s
      ps = s; pc = c; first = false
    }
    flush()
    out.iterator
  }

  /** Batch seam for the in-row rollup (the parity surface): one
    * [[SceneSig]] row per scene straight out of the codec pass — no
    * window, no groupBy, map-only. */
  def sceneSignaturesWith(docs: DataFrame,
      demux: (Long, Array[Byte]) => Iterator[FrameSig], theta: Long,
      idCol: String = "doc_id", payloadCol: String = "payload"): DataFrame =
    inContext[Unit, SceneSig](docs, () => (),
      (_: Unit, id, p) => sceneSigsInRow(demux, theta)(id, p),
      (_: Unit) => (), idCol,
      payloadCol)(org.apache.spark.sql.Encoders.product[SceneSig])

  /** [[sceneSignaturesWith]] for unbounded frames: carries `tsCol` (an
    * event-time TIMESTAMP) through the seam as `event_ts`, so the
    * streaming tail can watermark and deduplicate. Works on batch frames
    * too (it is ordinary mapPartitions). */
  def sceneSignaturesWithTs(docs: DataFrame,
      demux: (Long, Array[Byte]) => Iterator[FrameSig], theta: Long,
      idCol: String = "doc_id", payloadCol: String = "payload",
      tsCol: String = "ts"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(idCol).cast("long"), col(payloadCol).cast("binary"),
        col(tsCol).cast("timestamp"))
      .as[(Long, Array[Byte], java.sql.Timestamp)]
      .mapPartitions(_.flatMap { case (id, payload, ts) =>
        sceneSigsInRow(demux, theta)(id, payload).map(s =>
          SceneSigTs(s.doc_id, s.scene, s.nf, s.cb, s.ssum, ts))
      })
      .toDF()
  }
}
