package graft.examples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, ImageCodec, Multimodal}

/** "Use as a library" #10 — the VIDEO-CORPUS dedup on-ramp: from raw
  * container bytes to an admitted video set, end to end, out of the
  * operators this library already ships:
  *
  *  1. [[ImageCodec.sceneKeyframes]] — shot segmentation (m06) + medoid
  *     keyframe election (m07) over viewer-accurate composed frames;
  *  2. [[ImageCodec.gifFramePhashes]] through
  *     [[Multimodal.framePhashesWith]] — a DCT perceptual hash per
  *     composed frame (m04's real hasher, per frame instead of per
  *     payload); keyframes pick their hash by (doc_id, frame) join;
  *  3. [[Dedup.hammingPairsOf]] — banded Hamming pairs over keyframe
  *     hashes (dd05's economics): videos sharing near-identical
  *     keyframes are re-renders/re-encodes of each other;
  *  4. [[Multimodal.duplicateScenesOf]] — exact shared-shot containment
  *     (m08): re-posts that splice whole shots verbatim;
  *  5. admission — both detectors' pairs feed ONE component search
  *     ([[graft.operators.Dedup.connectedComponents]]) and the smallest
  *     doc_id per transitive duplicate group survives, exactly the
  *     keep-one-per-cluster rule of the text ladder's dd06.
  *
  * The two detectors are complementary: a +3-brightness re-render moves
  * every scene signature (m08 misses it) but not one DCT sign (the
  * keyframe hash catches it); a verbatim shot splice inside otherwise
  * new footage is one scene among many (pair-level hash volume is
  * noise) but an exact signature match (m08 catches it).
  *
  * Both codec passes are INJECTED (`sigDemux`, `hashDemux`, GIF
  * defaults) — an ffmpeg binding swaps into the same two seams, and the
  * `main` drives the identical plan through the text-stub demuxers the
  * declared m06–m08 queries use.
  *
  * Scale shape: two map-only codec passes — scene signatures, demuxed
  * ONCE and pinned for both detectors (an unpinned twice-consumed codec
  * pass would pay the dominant decode cost twice — the `losers` lesson),
  * and per-frame hashes; each holds ONE live canvas regardless of frame
  * count — one doc_id-partitioned keyframe join, then banded pairs over
  * |keyframes| rows — everything downstream of decode is the dedup
  * ladder's existing economics.
  *
  * Run against a TESTDATA sf dir:
  * {{{
  * sbt "runMain graft.examples.VideoDedupExample /root/testdata/sf0.001"
  * }}}
  */
object VideoDedupExample {

  type SigDemux = (Long, Array[Byte]) => Iterator[Multimodal.FrameSig]
  type HashDemux = (Long, Array[Byte]) => Iterator[Multimodal.FramePhash]

  /** One row per ELECTED keyframe with its perceptual hash:
    * (doc_id, scene, keyframe, phash). Decode-failure sentinels
    * (keyframe −1) and hash-meaningless frames (phash 0: undecodable or
    * constant-color — [[ImageCodec.gifFramePhashes]]) are dropped here,
    * before any pairing can bucket them together. */
  def keyframeHashes(videos: DataFrame, theta: Long,
      sigDemux: SigDemux = ImageCodec.gifFrameSigsComposed,
      hashDemux: HashDemux = ImageCodec.gifFramePhashes): DataFrame =
    keyframeHashesOf(Multimodal.sceneFramesOf(
      Multimodal.frameSigsWith(videos, sigDemux), theta), videos, hashDemux)

  /** [[keyframeHashes]] over an ALREADY scene-assigned frame (a
    * [[Multimodal.sceneFramesOf]] output) — the composed-graph entry
    * point: [[dedupVideos]] demuxes and scene-assigns ONCE, pins, and
    * feeds the pinned scenes here AND to the exact-scene detector, so
    * the dominant decode cost AND the doc_id window chain are each paid
    * a single time. */
  def keyframeHashesOf(scenes: DataFrame, videos: DataFrame,
      hashDemux: HashDemux = ImageCodec.gifFramePhashes): DataFrame = {
    val kf = Multimodal.sceneKeyframesFromScenes(scenes)
      .where(col("keyframe") >= 0)
      .select(col("doc_id"), col("scene"), col("keyframe"))
    val fh = Multimodal.framePhashesWith(videos, hashDemux)
      .where(col("phash") =!= 0L)
      .select(col("doc_id").as("fh_doc"), col("frame_no"), col("phash"))
    kf.join(fh, kf("doc_id") === fh("fh_doc") &&
        kf("keyframe") === fh("frame_no"))
      .select(kf("doc_id"), col("scene"), col("keyframe"), col("phash"))
  }

  /** Video pairs sharing ≥ `minShared` near-identical keyframes
    * (Hamming ≤ `maxHamming` between DCT hashes): (doc_a, doc_b,
    * shared_keyframes), doc_a < doc_b. Keyframe identity packs
    * (doc_id, scene) into one int64 — doc_id < 2⁴³, < 2²⁰ scenes per
    * video, the [[RagIndexExample]] chunk_id convention — and the bounds
    * are ENFORCED in-plan (the pqPartsQ precedent): an out-of-range id
    * would silently corrupt pair identity, manufacturing false duplicate
    * pairs that [[dedupVideos]] then drops as "duplicates". */
  def nearDupVideoPairs(videos: DataFrame, theta: Long,
      maxHamming: Int = 4, minShared: Long = 1L,
      sigDemux: SigDemux = ImageCodec.gifFrameSigsComposed,
      hashDemux: HashDemux = ImageCodec.gifFramePhashes): DataFrame =
    nearDupVideoPairsOf(Multimodal.sceneFramesOf(
      Multimodal.frameSigsWith(videos, sigDemux), theta), videos,
      maxHamming, minShared, hashDemux)

  /** [[nearDupVideoPairs]] over an ALREADY scene-assigned frame (see
    * [[keyframeHashesOf]]). */
  def nearDupVideoPairsOf(scenes: DataFrame, videos: DataFrame,
      maxHamming: Int = 4, minShared: Long = 1L,
      hashDemux: HashDemux = ImageCodec.gifFramePhashes): DataFrame = {
    val kh = keyframeHashesOf(scenes, videos, hashDemux)
      .withColumn("kid",
        when(col("doc_id").between(0L, (1L << 43) - 1L) &&
            col("scene").between(0L, 1048575L),
          col("doc_id") * lit(1048576L) + col("scene"))
          .otherwise(raise_error(concat(
            lit("keyframe-id pack out of range (doc_id < 2^43, scene < 2^20): "),
            lit("doc_id="), col("doc_id"), lit(" scene="), col("scene")))))
    Dedup.hammingPairsOf(kh, maxHamming, idCol = "kid", sigCol = "phash")
      .withColumn("da", expr("ida div 1048576L"))
      .withColumn("db", expr("idb div 1048576L"))
      .where(col("da") =!= col("db"))
      .groupBy(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"))
      .agg(count(lit(1)).as("shared_keyframes"))
      .where(col("shared_keyframes") >= minShared)
  }

  /** Admission: ONE survivor per TRANSITIVE duplicate group — the edges
    * of both detectors (exact shared-scene containment ≥ `containmentPpm`
    * — m08 — and ≥ `minShared` near-identical keyframes) feed one
    * connected-component search ([[Dedup.connectedComponents]], the m09
    * machinery), and the smallest doc_id of each component survives.
    * Pairwise loser-dropping would under-dedup chains: in a component
    * {1, 5, 9} with edges (5,9) and (1,9) only, dropping each pair's
    * larger id keeps BOTH 1 and 5 even though they are transitive
    * duplicates — the component rule keeps exactly 1. Returns the
    * surviving input rows unchanged. */
  def dedupVideos(videos: DataFrame, theta: Long, maxHamming: Int = 4,
      minShared: Long = 1L, containmentPpm: Long = 500000L,
      sigDemux: SigDemux = ImageCodec.gifFrameSigsComposed,
      hashDemux: HashDemux = ImageCodec.gifFramePhashes): DataFrame =
      graft.Materialize.scoped {
    // Demux AND scene-assign ONCE, then pin: both detectors consume the
    // scene-assigned frame, and for a real ffmpeg demuxer the decode is
    // the dominant cost — an unpinned twice-consumed codec pass is
    // exactly the `losers` bug the sf10 rehearsal found (SCALING.md "pin
    // any frame a gate consumes twice"). Pinning BELOW the scene windows
    // would still re-run the doc_id window chain per detector; pinning
    // here pays decode + windows once. PinAudit (wired into ExamplesSpec)
    // enforces this structurally — it caught the window-chain variant.
    val scenes = Multimodal.sceneFramesOf(
      Multimodal.frameSigsWith(videos, sigDemux), theta)
      .transform(graft.Materialize.pin)
    val exact = Multimodal.duplicateScenesFromScenes(scenes)
      .where(col("containment_ppm") >= containmentPpm)
      .select(col("doc_a").as("ida"), col("doc_b").as("idb"))
    val near = nearDupVideoPairsOf(scenes, videos, maxHamming,
      minShared, hashDemux)
      .select(col("doc_a").as("ida"), col("doc_b").as("idb"))
    val pairs = exact.unionAll(near).distinct()
      .transform(graft.Materialize.pin)
    graft.Materialize.unpin(scenes)
    val edges = pairs
      .unionAll(pairs.select(col("idb").as("ida"), col("ida").as("idb")))
      .repartition(col("ida"))
      .transform(graft.Materialize.pin)
    graft.Materialize.unpin(pairs)
    val labels = Dedup.connectedComponents(edges)
    videos.join(labels, Seq("doc_id"), "left")
      .where(col("lbl").isNull || col("lbl") === col("doc_id"))
      .drop("lbl")
  }

  /** Stub per-frame hasher for the `main`'s text surrogate: m04's
    * 60-bit positional-bucket average hash computed per fixed-stride
    * chunk instead of per payload — hash-meaningful (varied bytes), so
    * the plan downstream is exactly the real-codec one. */
  private[examples] def framePhashStub(stride: Int)(id: Long,
      payload: Array[Byte]): Iterator[Multimodal.FramePhash] =
    payload.grouped(stride).zipWithIndex.map { case (chunk, i) =>
      val n = chunk.length
      var total = 0L
      var j = 0
      while (j < n) { total += chunk(j) & 0xff; j += 1 }
      val bs = new Array[Long](60)
      val cs = new Array[Long](60)
      j = 0
      while (j < n) {
        val b = (j * 60) / n
        bs(b) += chunk(j) & 0xff; cs(b) += 1; j += 1
      }
      var h = 0L
      var b = 0
      while (b < 60) {
        if (cs(b) > 0 && bs(b) * n > total * cs(b)) h |= 1L << b
        b += 1
      }
      Multimodal.FramePhash(id, i, h)
    }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession()
    try {
      val videos = Multimodal.binaryDocs(spark, dir)
      val kept = dedupVideos(videos, theta = 3L,
        sigDemux = Multimodal.frameSigStub(100),
        hashDemux = framePhashStub(100)).count()
      println(s"[video-dedup] admitted $kept of ${videos.count()} videos")
    } finally spark.stop()
  }
}
