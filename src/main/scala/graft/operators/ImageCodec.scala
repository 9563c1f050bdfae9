package graft.operators

import java.awt.RenderingHints
import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO

import org.apache.spark.sql.DataFrame

import Multimodal.{Frame, PHash, Resized}

/** REAL image codec defaults for the [[Multimodal]] seams, built entirely
  * on `javax.imageio` + `java.awt.image` — in-JDK, headless-safe, zero new
  * dependencies. This closes the round-7 gap "multimodal codecs remain
  * stub-default": a user who has PNG/JPEG bytes in a binary column gets
  * working decode / resize / perceptual-hash out of the box, while the
  * oracle queries (m01–m04) deliberately keep the deterministic stubs as
  * their declared contract (the testdata payloads are UTF-8 text, not
  * images).
  *
  * Everything here is a plain `(Long, Array[Byte]) => result` function that
  * plugs into the EXISTING typed-mapPartitions seams
  * ([[Multimodal.decodeWith]]-family) — the Spark plan is identical to the
  * stub plan, asserted in MultimodalSpec. ImageIO readers are looked up
  * per call from a static registry (cheap, thread-safe); a JNI codec with
  * expensive setup would ride the `*InContext` variants instead.
  *
  * Undecodable payloads (truncated file, non-image bytes) are REPORTED,
  * not thrown: width/height −1 on decode, an empty result on resize, the
  * zero signature on pHash. At 100 TB some shard WILL contain a corrupt
  * image, and one bad row must not kill a 10-hour job; callers filter on
  * the sentinel (`width >= 0`, `phash != 0`) and quarantine the rest —
  * same posture as TextCorpus's corrupt-line accounting.
  */
object ImageCodec {

  /** Decoded-image metadata: real dimensions + mean luma (0–255 ITU-R 601
    * integer luma, exact — no floating point, so the value is identical on
    * every JVM/arch and safe to oracle against). `width = height = -1`
    * marks an undecodable payload. */
  final case class ImageMeta(doc_id: Long, width: Int, height: Int,
      n_pixels: Long, mean_luma: Int)

  private def readImage(payload: Array[Byte]): Option[BufferedImage] =
    try Option(ImageIO.read(new ByteArrayInputStream(payload)))
    catch { case _: Exception => None }

  /** ITU-R 601 integer luma of a packed ARGB pixel: (77R + 150G + 29B) >> 8
    * (the classic 8-bit fixed-point weights summing to 256). */
  @inline private def luma(argb: Int): Int = {
    val r = (argb >> 16) & 0xff
    val g = (argb >> 8) & 0xff
    val b = argb & 0xff
    (77 * r + 150 * g + 29 * b) >> 8
  }

  /** The one mean-luma pass: Σ [[luma]] over every pixel of `img`. */
  private def lumaSum(img: BufferedImage): Long = {
    var sum = 0L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) { sum += luma(img.getRGB(x, y)); x += 1 }
      y += 1
    }
    sum
  }

  /** Pixel count of `img` as a frame's `n_bytes` (an Int). */
  private def pixels(img: BufferedImage): Int =
    math.min(img.getWidth.toLong * img.getHeight, Int.MaxValue.toLong).toInt

  /** A signature's integer mean luma as a [[Frame]]; a sentinel (negative
    * sum) maps through with checksum −1. */
  private def meanFrame(s: Multimodal.FrameSig): Frame =
    Frame(s.doc_id, s.frame_no, s.n_bytes,
      if (s.level_sum < 0) -1
      else (s.level_sum / math.max(s.n_bytes, 1)).toInt)

  /** Default image decoder for the [[Multimodal.decodeWith]] plan shape:
    * PNG/JPEG/BMP/GIF bytes → real (width, height, pixels, mean luma). */
  def decodeImage(id: Long, payload: Array[Byte]): ImageMeta =
    readImage(payload) match {
      case None => ImageMeta(id, -1, -1, 0L, -1)
      case Some(img) =>
        val n = img.getWidth.toLong * img.getHeight
        ImageMeta(id, img.getWidth, img.getHeight, n,
          (lumaSum(img) / math.max(n, 1L)).toInt)
    }

  /** Decode a whole (id, payload) binary frame — the [[ImageMeta]]-typed
    * sibling of [[Multimodal.decodeWith]], riding the same
    * typed-mapPartitions core (per-file-split parallelism, no shuffle
    * before the decode). */
  def decodeImages(docs: DataFrame, idCol: String = "doc_id",
      payloadCol: String = "payload"): DataFrame =
    Multimodal.inContext[Unit, ImageMeta](docs, () => (),
      (_, id, p) => Iterator.single(decodeImage(id, p)), _ => (), idCol,
      payloadCol)(org.apache.spark.sql.Encoders.product[ImageMeta])

  /** Bilinear scale to fit inside `maxDim` × `maxDim` (aspect preserved,
    * never upscaled) — Graphics2D with explicit BILINEAR interpolation
    * hints, i.e. a true resampler, not nearest-neighbor byte striding. */
  private[graft] def bilinearFit(img: BufferedImage,
      maxDim: Int): BufferedImage = {
    val scale = math.min(1.0,
      maxDim.toDouble / math.max(img.getWidth, img.getHeight))
    val w = math.max(1, math.round(img.getWidth * scale).toInt)
    val h = math.max(1, math.round(img.getHeight * scale).toInt)
    val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    try {
      g.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
        RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, w, h, null)
    } finally g.dispose()
    out
  }

  /** Default thumbnailer for the [[Multimodal.resizeWith]] seam: decode,
    * bilinear-fit into `maxDim`², re-encode PNG. Output carries the stub
    * contract's stats over the REAL resized artifact: `resized_bytes` =
    * encoded PNG length, `resized_checksum` = mean luma of the resized
    * pixels (so a spec can assert the resample actually preserved image
    * content, not just produced bytes). Undecodable → (-1, -1). */
  def imageResizer(maxDim: Int)(id: Long, payload: Array[Byte]): Resized =
    readImage(payload) match {
      case None => Resized(id, payload.length, -1, -1)
      case Some(img) =>
        val scaled = bilinearFit(img, maxDim)
        val bos = new ByteArrayOutputStream()
        ImageIO.write(scaled, "png", bos)
        val n = scaled.getWidth.toLong * scaled.getHeight
        Resized(id, payload.length, bos.size(), (lumaSum(scaled) / n).toInt)
    }

  /** Default frame demuxer for the [[Multimodal.framesWith]] seam: REAL
    * multi-frame decode via ImageIO (`ImageReader.getNumImages` /
    * `read(i)`) — an animated GIF (or any multi-page format the registry
    * knows, e.g. multi-page TIFF) yields one [[Frame]] per stored image,
    * with `n_bytes` = the frame's pixel count and `checksum` = its exact
    * integer mean luma (same 0–255 ITU-R 601 fixed-point as
    * [[decodeImage]] — deterministic on every JVM/arch, oracle-safe).
    *
    * Frames are decoded AS STORED: a delta-optimized GIF's later frames
    * report their patch rectangle, not a composition against the
    * disposal-method state — the per-stored-image view a feature
    * extractor batches over. True video demux (mp4/webm) has no in-JDK
    * codec; that rides [[Multimodal.framesInContext]] with an ffmpeg
    * binding, per-partition handle lifecycle already in place.
    * Undecodable payloads report the single sentinel frame
    * (frame_no = −1); a frame that fails mid-stream reports (i, 0, −1)
    * and decoding continues — one corrupt frame must not drop the
    * document's remaining frames at 100 TB. */
  def gifFrames(id: Long, payload: Array[Byte]): Iterator[Frame] = {
    val in = new javax.imageio.stream.MemoryCacheImageInputStream(
      new ByteArrayInputStream(payload))
    try {
      val readers = ImageIO.getImageReaders(in)
      if (!readers.hasNext) Iterator.single(Frame(id, -1, 0, -1))
      else {
        val reader = readers.next()
        try {
          reader.setInput(in, false, true)
          // allowSearch = true: GIF stores no frame count up front; the
          // reader walks the stream once to count (bounded by payload)
          val n = reader.getNumImages(true)
          if (n <= 0) Iterator.single(Frame(id, -1, 0, -1))
          else (0 until n).map { i =>
            try {
              val img = reader.read(i)
              meanFrame(Multimodal.FrameSig(id, i, pixels(img), lumaSum(img)))
            } catch { case _: Exception => Frame(id, i, 0, -1) }
          }.iterator // frames decoded EAGERLY above — the reader is
          // disposed on exit, a lazy iterator would read after close
        } finally reader.dispose()
      }
    } catch { case _: Exception => Iterator.single(Frame(id, -1, 0, -1)) }
    finally in.close()
  }

  /** Frame-extract a whole (id, payload) binary frame with the real
    * ImageIO demuxer — the library-default sibling of [[decodeImages]],
    * same row-expanding typed-mapPartitions plan as the m02 stub. */
  def extractFrames(docs: DataFrame, idCol: String = "doc_id",
      payloadCol: String = "payload"): DataFrame =
    Multimodal.framesWith(docs, gifFrames, idCol, payloadCol)

  // ---- Composed (viewer-accurate) frame decode -------------------------

  /** Per-frame GIF placement + disposal, parsed from the reader's native
    * image metadata; non-GIF multi-page formats fall back to full-frame
    * placement with no disposal. */
  private final case class FramePlacement(x: Int, y: Int, disposal: String)

  private def placementOf(reader: javax.imageio.ImageReader,
      i: Int): FramePlacement =
    try {
      val meta = reader.getImageMetadata(i)
      // native GIF image metadata ("javax_imageio_gif_image_1.0") — ask
      // the metadata object for ITS name rather than hardcoding, so a
      // multi-page TIFF (different native format) takes the catch-all
      // full-frame fallback instead of throwing per frame
      val tree = meta.getAsTree(meta.getNativeMetadataFormatName)
        .asInstanceOf[org.w3c.dom.Element]
      def attr(node: String, name: String, dflt: String): String = {
        val nodes = tree.getElementsByTagName(node)
        if (nodes.getLength == 0) dflt
        else {
          val v = nodes.item(0).asInstanceOf[org.w3c.dom.Element]
            .getAttribute(name)
          if (v.isEmpty) dflt else v
        }
      }
      FramePlacement(
        attr("ImageDescriptor", "imageLeftPosition", "0").toInt,
        attr("ImageDescriptor", "imageTopPosition", "0").toInt,
        attr("GraphicControlExtension", "disposalMethod", "none"))
    } catch { case _: Exception => FramePlacement(0, 0, "none") }

  private def copyCanvas(src: BufferedImage): BufferedImage = {
    val c = new BufferedImage(src.getWidth, src.getHeight,
      BufferedImage.TYPE_INT_RGB)
    val g = c.createGraphics()
    try g.drawImage(src, 0, 0, null) finally g.dispose()
    c
  }

  /** The composition core as a STREAMING fold: ONE live canvas, frames
    * decoded one at a time, the visitor called with the canvas as it
    * stands when frame i shows (the visitor must consume, not retain —
    * the canvas mutates on the next step). Memory is O(canvas + one
    * frame) regardless of frame count — a 500-frame screen-capture GIF
    * must not hold 500 decoded frames + 500 snapshots in one task (the
    * corrupt-shard posture's memory cousin). The logical screen comes
    * from stream metadata, else a HEADER-only bounds scan
    * (reader.getWidth/getHeight read no pixel data). `onFrame(i, None)`
    * = frame i failed mid-stream; composition continues on the prior
    * canvas state. */
  private[graft] def foldComposedFrames[A](payload: Array[Byte])(
      onFrame: (Int, Option[BufferedImage]) => A): Option[Seq[A]] = {
    val in = new javax.imageio.stream.MemoryCacheImageInputStream(
      new ByteArrayInputStream(payload))
    try {
      val readers = ImageIO.getImageReaders(in)
      if (!readers.hasNext) None
      else {
        val reader = readers.next()
        try {
          // ignoreMetadata=false: composition NEEDS the per-frame
          // placement + disposal blocks ([[gifFrames]] skips them)
          reader.setInput(in, false, false)
          val n = reader.getNumImages(true)
          if (n <= 0) None
          else {
            val screen =
              try {
                val sm = reader.getStreamMetadata
                val t = sm.getAsTree(sm.getNativeMetadataFormatName)
                  .asInstanceOf[org.w3c.dom.Element]
                val lsd = t.getElementsByTagName("LogicalScreenDescriptor")
                if (lsd.getLength == 0) None
                else {
                  val e = lsd.item(0).asInstanceOf[org.w3c.dom.Element]
                  Some((e.getAttribute("logicalScreenWidth").toInt,
                    e.getAttribute("logicalScreenHeight").toInt))
                }
              } catch { case _: Exception => None }
            val (w, h) = screen.getOrElse {
              val boxes = (0 until n).flatMap { i =>
                try {
                  val p = placementOf(reader, i)
                  Some((p.x + reader.getWidth(i), p.y + reader.getHeight(i)))
                } catch { case _: Exception => None }
              }
              if (boxes.isEmpty) (1, 1)
              else (boxes.map(_._1).max, boxes.map(_._2).max)
            }
            val canvas = new BufferedImage(math.max(w, 1), math.max(h, 1),
              BufferedImage.TYPE_INT_RGB)
            val out = (0 until n).map { i =>
              (try Some((reader.read(i), placementOf(reader, i)))
              catch { case _: Exception => None }) match {
                case None => onFrame(i, None)
                case Some((img, p)) =>
                  // restoreToPrevious needs the pre-draw canvas back
                  // after this frame is emitted
                  val saved =
                    if (p.disposal == "restoreToPrevious")
                      Some(copyCanvas(canvas))
                    else None
                  val g = canvas.createGraphics()
                  try g.drawImage(img, p.x, p.y, null) finally g.dispose()
                  val a = onFrame(i, Some(canvas))
                  // disposal runs AFTER the frame shows
                  p.disposal match {
                    case "restoreToBackgroundColor" =>
                      val gd = canvas.createGraphics()
                      try {
                        gd.setColor(java.awt.Color.BLACK)
                        gd.fillRect(p.x, p.y, img.getWidth, img.getHeight)
                      } finally gd.dispose()
                    case "restoreToPrevious" =>
                      val gd = canvas.createGraphics()
                      try gd.drawImage(saved.get, 0, 0, null)
                      finally gd.dispose()
                    case _ => () // none / doNotDispose: keep
                  }
                  a
              }
            }
            Some(out)
          }
        } finally reader.dispose()
      }
    } catch { case _: Exception => None }
    finally in.close()
  }

  /** Spec seam: per-frame composed canvas SNAPSHOTS (each a copy — only
    * sane for test-sized inputs; production paths consume the live
    * canvas through [[foldComposedFrames]] and hold one at a time). */
  private[graft] def composedCanvases(
      payload: Array[Byte]): Option[Seq[(Int, Option[BufferedImage])]] =
    foldComposedFrames(payload)((i, c) => (i, c.map(copyCanvas)))

  /** Viewer-accurate sibling of [[gifFrames]] (r9 directive #5): frames
    * composed onto the running logical-screen canvas per the GIF
    * disposal metadata, so a delta-optimized GIF's later frames report
    * what a viewer SEES (full canvas), not the stored patch rectangle —
    * the right input for phash-over-frames dedup, where hashing a
    * 12×8 patch would never match the full scene it belongs to.
    * Contract mirrors [[gifFrames]] with one documented divergence:
    * `n_bytes` is the CANVAS pixel count (constant across frames) and
    * `checksum` the composed canvas's mean luma. Undecodable payload →
    * sentinel frame (−1, 0, −1); a frame that fails mid-stream reports
    * (i, 0, −1) and composition continues on the prior canvas. */
  def gifFramesComposed(id: Long, payload: Array[Byte]): Iterator[Frame] =
    gifFrameSigsComposed(id, payload).map(meanFrame)

  /** Frame-extract with viewer-accurate composition — the
    * [[extractFrames]] sibling a phash-over-frames pipeline should scan. */
  def extractFramesComposed(docs: DataFrame, idCol: String = "doc_id",
      payloadCol: String = "payload"): DataFrame =
    Multimodal.framesWith(docs, gifFramesComposed, idCol, payloadCol)

  /** Viewer-accurate SCENE-CUT signatures: [[gifFramesComposed]]'s
    * composition with the EXACT luma sum kept (a `Frame`'s mean-luma
    * checksum is division-rounded, which would make
    * [[Multimodal.sceneCutsOf]]'s cross-multiplied mean comparison
    * inexact). `n_bytes` = canvas pixel count, `level_sum` = composed
    * canvas luma sum. Sentinels mirror the sibling — undecodable payload
    * → (−1, 0, −1), failed frame → (i, 0, −1) — and a sentinel's zero
    * pixel count makes the cut rule fire on BOTH of its edges, so a
    * corrupt frame becomes an isolated one-frame scene instead of
    * silently bridging the shots around it. */
  def gifFrameSigsComposed(id: Long,
      payload: Array[Byte]): Iterator[Multimodal.FrameSig] =
    foldComposedFrames(payload) {
      case (i, None) => Multimodal.FrameSig(id, i, 0, -1L)
      case (i, Some(canvas)) =>
        // summed IMMEDIATELY off the live canvas — nothing retained, so
        // memory stays one canvas however many frames
        Multimodal.FrameSig(id, i, pixels(canvas), lumaSum(canvas))
    } match {
      case None => Iterator.single(Multimodal.FrameSig(id, -1, 0, -1L))
      case Some(frames) => frames.iterator
    }

  /** Per-frame DCT hashes over viewer-accurate composed canvases — the
    * real-codec demuxer behind [[Multimodal.framePhashesWith]], one
    * decode pass per video with one live canvas in memory ([[dctHashOf]]
    * resamples, it never retains the canvas). Sentinels carry phash 0
    * (undecodable payload → frame −1; failed frame → its index) — filter
    * before pairing, the [[imagePhash]] contract. A CONSTANT-color
    * canvas also hashes to 0 (every DCT AC coefficient is zero): blank
    * title cards are hash-meaningless and correctly fall out with the
    * sentinels rather than all-pairing each other. */
  def gifFramePhashes(id: Long,
      payload: Array[Byte]): Iterator[Multimodal.FramePhash] =
    foldComposedFrames(payload) {
      case (i, None) => Multimodal.FramePhash(id, i, 0L)
      case (i, Some(canvas)) =>
        Multimodal.FramePhash(id, i, dctHashOf(canvas))
    } match {
      case None => Iterator.single(Multimodal.FramePhash(id, -1, 0L))
      case Some(fs) => fs.iterator
    }

  /** Shot-boundary segmentation over REAL media: the m06 relational tail
    * ([[Multimodal.sceneCutsOf]]) driven by the in-JDK composed-GIF
    * decoder — one scene row per run of frames whose mean luma stays
    * within `theta` of its predecessor. The demuxer runs in the same
    * per-partition codec seam as every other real-codec surface; an
    * ffmpeg binding replaces `gifFrameSigsComposed` and nothing
    * downstream changes. */
  def sceneCuts(docs: DataFrame, theta: Long, idCol: String = "doc_id",
      payloadCol: String = "payload"): DataFrame =
    Multimodal.sceneCutsOf(Multimodal.frameSigsWith(
      docs, gifFrameSigsComposed, idCol, payloadCol), theta)

  /** Keyframe election over REAL media: [[sceneCuts]]'s segmentation plus
    * [[Multimodal.sceneKeyframesOf]]'s medoid pick — one viewer-accurate
    * representative frame per shot, the row set m01/m03/m04 then run on
    * instead of every frame. Same seam, same swap story as [[sceneCuts]]. */
  def sceneKeyframes(docs: DataFrame, theta: Long, idCol: String = "doc_id",
      payloadCol: String = "payload"): DataFrame =
    Multimodal.sceneKeyframesOf(Multimodal.frameSigsWith(
      docs, gifFrameSigsComposed, idCol, payloadCol), theta)

  /** Duplicate-scene detection over REAL media: [[sceneCuts]]'s
    * segmentation plus [[Multimodal.duplicateScenesOf]]'s exact
    * signature join — re-posted clips share whole shots verbatim even
    * when container bytes differ. Same seam, same swap story. */
  def duplicateScenes(docs: DataFrame, theta: Long,
      idCol: String = "doc_id", payloadCol: String = "payload"): DataFrame =
    Multimodal.duplicateScenesOf(Multimodal.frameSigsWith(
      docs, gifFrameSigsComposed, idCol, payloadCol), theta)

  // ---- DCT perceptual hash ---------------------------------------------

  /** Hash geometry: resample to SIDE×SIDE grayscale, 2-D DCT-II, keep the
    * lowest-frequency LOW×LOW block minus the DC term, threshold the first
    * 60 coefficients at their median → a 60-bit signature that rides
    * [[Dedup.hammingPairsOf]]'s 5×12-band blocking UNCHANGED (same sig
    * width as dd04's text SimHash and the m04 stub). */
  private val SIDE = 32
  private val LOW = 8

  /** cos((2x+1)·u·π/2N) table, precomputed once per JVM (64 KB). */
  private lazy val cosTable: Array[Array[Double]] = {
    val t = Array.ofDim[Double](SIDE, SIDE)
    var u = 0
    while (u < SIDE) {
      var x = 0
      while (x < SIDE) {
        t(u)(x) = math.cos((2 * x + 1) * u * math.Pi / (2.0 * SIDE))
        x += 1
      }
      u += 1
    }
    t
  }

  /** Default perceptual hasher for the [[Multimodal.phashWith]] seam: the
    * classic DCT pHash (decode → 32×32 grayscale bilinear → DCT-II → 60
    * low-frequency AC signs vs median). Near-identical images (re-encode,
    * mild brightness shift, small crop) land within Hamming ≤ 4 of each
    * other — MultimodalSpec plants exactly that and recovers the pair via
    * the banded join. Median thresholding makes the signature invariant to
    * global brightness/contrast shifts (they move every coefficient's
    * baseline, not the ORDER of coefficients). Undecodable → 0L sentinel
    * (filter before pairing: a shard of corrupt images must not all land
    * in one "signature 0" bucket). */
  def imagePhash(id: Long, payload: Array[Byte]): PHash =
    readImage(payload) match {
      case None => PHash(id, 0L)
      case Some(img) => PHash(id, dctHashOf(img))
    }

  /** The DCT-hash core over an already-decoded image — shared by
    * [[imagePhash]] and callers that compose frames in memory first
    * (e.g. hashing a [[gifFramesComposed]] canvas). */
  private[graft] def dctHashOf(img: BufferedImage): Long = {
    {
        val small = bilinearFit(img, SIDE)
        // exact-fit to SIDE×SIDE: bilinearFit preserves aspect, the hash
        // wants a fixed grid — stretch with the same bilinear resampler
        val grid =
          if (small.getWidth == SIDE && small.getHeight == SIDE) small
          else {
            val out = new BufferedImage(SIDE, SIDE, BufferedImage.TYPE_INT_RGB)
            val g = out.createGraphics()
            try {
              g.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
                RenderingHints.VALUE_INTERPOLATION_BILINEAR)
              g.drawImage(img, 0, 0, SIDE, SIDE, null)
            } finally g.dispose()
            out
          }
        val gray = Array.ofDim[Double](SIDE, SIDE)
        var y = 0
        while (y < SIDE) {
          var x = 0
          while (x < SIDE) { gray(y)(x) = luma(grid.getRGB(x, y)); x += 1 }
          y += 1
        }
        // separable 2-D DCT-II, low-frequency LOW×LOW block only:
        // O(LOW·SIDE·SIDE + LOW·LOW·SIDE) — ~40k mults, not SIDE⁴
        val rows = Array.ofDim[Double](SIDE, LOW) // rows(y)(u)
        y = 0
        while (y < SIDE) {
          var u = 0
          while (u < LOW) {
            var s = 0.0
            var x = 0
            while (x < SIDE) { s += gray(y)(x) * cosTable(u)(x); x += 1 }
            rows(y)(u) = s
            u += 1
          }
          y += 1
        }
        val coeffs = new Array[Double](LOW * LOW)
        var v = 0
        while (v < LOW) {
          var u = 0
          while (u < LOW) {
            var s = 0.0
            var yy = 0
            while (yy < SIDE) { s += rows(yy)(u) * cosTable(v)(yy); yy += 1 }
            coeffs(v * LOW + u) = s
            u += 1
          }
          v += 1
        }
        // drop DC (index 0), keep the next 60 coefficients in raster order
        val ac = java.util.Arrays.copyOfRange(coeffs, 1, 61)
        val sorted = ac.clone()
        java.util.Arrays.sort(sorted)
        val med = (sorted(29) + sorted(30)) / 2.0
        var h = 0L
        var b = 0
        while (b < 60) {
          if (ac(b) > med) h |= 1L << b
          b += 1
        }
        h
    }
  }
}
