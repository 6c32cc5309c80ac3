package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One opaque media payload: the multimodal storage model (SURVEY.md §2
  * #29) — binary content + typed metadata, the schema a 100 TB corpus of
  * images/audio/video would use (content inline here; at scale the same
  * schema with content in object storage + offsets works identically).
  *
  * `content` is the source payload bytes; `media` is the encoded media
  * object — PNG bytes for images, WAV (16-bit PCM) for audio, multi-page
  * TIFF for video. All three are decoded by REAL JDK codecs (see
  * [[Multimodal.JdkMediaDecoder]]). */
final case class MediaRecord(doc_id: Long, modality: String,
    content: Array[Byte], media: Array[Byte] = null)

/** Decoded per-item features from the real codecs. Fields that don't
  * apply to a modality are None/NULL: images have width/height and one
  * frame; audio has PCM frames (samples) but no raster dims; video has
  * per-frame dims and the container's frame count. */
final case class MediaFeatures(
    doc_id: Long, modality: String, n_bytes: Long, content_md5: String,
    width: Option[Int], height: Option[Int], n_frames: Option[Int])

/** Pixel-level image features (m03): dimensions plus the center-pixel
  * channels — values that only a true pixel decode can produce. */
final case class ImageFeatures(
    doc_id: Long, width: Int, height: Int, red: Int, green: Int, blue: Int)

/** Decoded audio stream properties (m04): true format fields read from
  * the WAV header plus the peak amplitude, which only a real PCM decode
  * of the sample data can produce. */
final case class AudioFeatures(
    doc_id: Long, sample_rate: Int, channels: Int, n_samples: Long,
    duration_ms: Long, peak: Int)

/** One decoded, sampled video frame (m05): container-reported index plus
  * raster dims and the center pixel of the actually-rasterized frame. */
final case class VideoFrame(
    doc_id: Long, frame_idx: Int, width: Int, height: Int,
    red: Int, green: Int, blue: Int)

/** A resized image (m06): source dims read from the decode, thumbnail
  * dims from the resize, and the thumbnail's center pixel — which only
  * a real decode→rescale→rasterize chain can produce. */
final case class ThumbFeatures(
    doc_id: Long, src_width: Int, src_height: Int,
    thumb_width: Int, thumb_height: Int, red: Int, green: Int, blue: Int)

/** One decoded, sampled frame inside the decoded-feature artifact row
  * of a video document (m05's columns, nested). */
final case class FrameFeature(frame_idx: Int, width: Int, height: Int,
    red: Int, green: Int, blue: Int)

/** The decode-once feature row: EVERYTHING the m-suite's queries read,
  * produced by one real-codec decode pass per document and persisted
  * through the ArtifactStore ([[Multimodal.materializeDecodedFeatures]]).
  * Fields that don't apply to a row's modality are None/NULL; a video
  * row nests its sampled frames. */
final case class DecodedFeatures(
    doc_id: Long, modality: String, n_bytes: Long, content_md5: String,
    width: Option[Int], height: Option[Int], n_frames: Option[Int],
    red: Option[Int], green: Option[Int], blue: Option[Int],
    sample_rate: Option[Int], channels: Option[Int], n_samples: Option[Long],
    duration_ms: Option[Long], peak: Option[Int],
    thumb_width: Option[Int], thumb_height: Option[Int],
    thumb_red: Option[Int], thumb_green: Option[Int], thumb_blue: Option[Int],
    frames: Seq[FrameFeature])

/** Multimodal pipeline m01–m05 (SURVEY.md §2 #29).
  *
  * Spark-side design: media decode is imperative library code that can't
  * be a Catalyst expression, so it runs via `Dataset.mapPartitions` — the
  * Scala/Encoder analogue of a batched pandas UDF: one decoder instance
  * per PARTITION (init amortized across its rows), streaming iterator in,
  * streaming iterator out, no collect, partitioning preserved (zero
  * shuffle in the whole pipeline).
  *
  * All three modalities use REAL codecs, all JDK-built-in (headless-safe,
  * no new dependency):
  *   - image: PNG via `javax.imageio` (true dimensions + pixels),
  *   - audio: WAV/PCM via `javax.sound.sampled` (true sample rate,
  *     channel count, frame length, decoded sample values),
  *   - video: multi-page TIFF via the JDK's TIFF `ImageReader` (true
  *     frame count + per-frame rasters; a production FFmpeg/JCodec
  *     wrapper slots behind the same [[MediaDecoder]] interface).
  *
  * The synthetic payloads are pure functions of doc_id, so the DuckDB
  * oracle predicts what a CORRECT decoder must report without being able
  * to decode PNG/WAV/TIFF itself — if a codec misread a payload, the
  * compare fails. (Real deployments read actual media bytes instead.)
  */
object Multimodal {

  /** Solid-fill raster via a bulk data-buffer fill (the per-pixel setRGB
    * loop was ~10× slower and dominated the synthetic-fixture encode). */
  private[operators] def solidImage(w: Int, h: Int, rgb: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val pixels = img.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferInt].getData
    java.util.Arrays.fill(pixels, rgb)
    img
  }

  /** Hex digest without per-byte format() calls (hot path: once per row). */
  private val HexChars = "0123456789abcdef".toCharArray
  private[operators] def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      out(2 * i) = HexChars(b >> 4)
      out(2 * i + 1) = HexChars(b & 0xf)
      i += 1
    }
    new String(out)
  }

  // ---- shared per-modality feature extraction -----------------------------
  // ONE implementation per codec path, reused by every operator that
  // decodes the modality (the single-query decoders m03–m06, the
  // decode-once artifact pass, the m01 metadata decoder) so parallel
  // branches cannot drift — the audio peak scan and the TIFF frame walk
  // each exist exactly once (round-14 advice).
  //
  // Codec RESOLUTION follows the TIFF reader's per-partition plugin
  // discipline for the other two modalities as well (round 14):
  // `AudioSystem.getAudioInputStream` re-runs provider discovery per
  // call — paying an UnsupportedAudioFileException per non-matching
  // provider per ROW — and `ImageIO.read` re-scans readers per call.
  // `Measure scenario decode` measured audio as the live chain's
  // dominant modality purely from that churn (WAV payloads are
  // ~1 KB). The same JDK codec classes do the decoding; they are just
  // resolved once per partition and fed per-row inputs.

  /** The platform's WAV-capable [[javax.sound.sampled.spi.AudioFileReader]],
    * resolved ONCE through the public SPI (probed with a synthesized
    * WAV so provider order can't pick a non-WAV reader). */
  private[operators] def newWavReader(): javax.sound.sampled.spi.AudioFileReader = {
    import scala.jdk.CollectionConverters._
    val probe = AudioSynth.wav(1L)
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .asScala.find { r =>
        try { r.getAudioInputStream(new ByteArrayInputStream(probe)).close(); true }
        catch { case _: Exception => false }
      }
      .getOrElse(throw new IllegalStateException(
        "no WAV-capable AudioFileReader registered on this JVM"))
  }

  /** A PNG [[javax.imageio.ImageReader]] plugin instance (stateful —
    * reuse per partition, dispose on task completion). */
  private[operators] def newPngReader(): javax.imageio.ImageReader =
    ImageIO.getImageReadersByFormatName("png").next()

  /** In-memory ImageInputStream over an already-buffered payload.
    * `ImageIO.createImageInputStream` defaults (useCache=true) to
    * FileCacheImageInputStream — a TEMP FILE created, written, read
    * through, and deleted PER ROW, for bytes we already hold on-heap.
    * `Measure scenario decode` (round 15, sf10) measured that disk trip
    * as the bulk of the metadata chain's cost: the header-only codec
    * reads are microseconds, the stream plumbing was the query. */
  private[operators] def memStream(
      media: Array[Byte]): javax.imageio.stream.ImageInputStream =
    new javax.imageio.stream.MemoryCacheImageInputStream(
      new ByteArrayInputStream(media))

  /** Decode one stored image through a reused PNG reader — same codec
    * `ImageIO.read` dispatches to, minus the per-row reader scan. */
  private[operators] def readImage(reader: javax.imageio.ImageReader,
      docId: Long, media: Array[Byte]): java.awt.image.BufferedImage = {
    val iis = memStream(media)
    try {
      reader.setInput(iis)
      try reader.read(0)
      catch {
        case e: Exception =>
          throw new IllegalArgumentException(
            s"undecodable image payload for doc $docId", e)
      }
    } finally iis.close()
  }

  /** Center-pixel color of a decoded raster (the value only a true
    * pixel decode can produce — every image/video oracle checks it). */
  private[operators] def centerColor(
      img: java.awt.image.BufferedImage): java.awt.Color =
    new java.awt.Color(img.getRGB(img.getWidth / 2, img.getHeight / 2))

  /** Decode → rescale through a Graphics2D scaled draw (the JDK's
    * software resize path) — shared by m06 and the decode-once pass. */
  private[operators] def renderThumb(img: java.awt.image.BufferedImage,
      w: Int, h: Int): java.awt.image.BufferedImage = {
    val thumb = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = thumb.createGraphics()
    try g.drawImage(img, 0, 0, w, h, null) finally g.dispose()
    thumb
  }

  /** Decoded audio-stream properties plus the PCM peak amplitude. The
    * peak scan's sample layout is taken from the parsed FORMAT — 16-bit
    * little-endian signed PCM (what the WAV store contains) is asserted,
    * not assumed — and a stream that cannot report its frame count
    * (`getFrameLength == -1`) raises instead of yielding negative
    * n_samples/duration_ms. */
  private[operators] def audioPcmFeatures(docId: Long,
      ais: AudioInputStream): AudioFeatures = {
    val fmt = ais.getFormat
    require(fmt.getEncoding == AudioFormat.Encoding.PCM_SIGNED &&
        fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian,
      s"doc $docId: peak scan needs 16-bit little-endian signed PCM, got $fmt")
    val frames = ais.getFrameLength
    require(frames >= 0,
      s"doc $docId: audio stream reports unknown frame length")
    val pcm = ais.readAllBytes()
    var peak = 0
    var i = 0
    while (i + 1 < pcm.length) {
      val s = (((pcm(i + 1) & 0xff) << 8) | (pcm(i) & 0xff)).toShort.toInt
      val a = if (s < 0) -s else s
      if (a > peak) peak = a
      i += 2
    }
    val rate = fmt.getSampleRate.toInt
    AudioFeatures(docId, rate, fmt.getChannels, frames,
      frames * 1000L / rate, peak)
  }

  /** Every `step`-th frame of a TIFF video container rasterized through
    * a reused (per-partition) reader: (container frame count, sampled
    * frame features). An empty container raises with the doc id — the
    * image branch's undecodable-payload discipline; a non-empty one
    * always samples frame 0, so callers may read `.head` for the
    * representative frame. */
  private[operators] def sampleVideoFrames(docId: Long,
      reader: javax.imageio.ImageReader, media: Array[Byte],
      step: Int): (Int, Vector[FrameFeature]) = {
    val iis = memStream(media)
    try {
      reader.setInput(iis)
      val n = reader.getNumImages(true)
      require(n > 0, s"empty video container for doc $docId")
      val sampled = (0 until n by step).map { f =>
        val img = reader.read(f)
        val c = centerColor(img)
        FrameFeature(f, img.getWidth, img.getHeight,
          c.getRed, c.getGreen, c.getBlue)
      }.toVector
      (n, sampled)
    } finally iis.close()
  }

  /** Sampled raster-integrity audit for the header-only metadata chain
    * (round-17; closes the round-15 narrowing): since m01's metadata
    * pass stopped rasterizing, a corrupt-pixel/valid-header payload
    * could survive a corpus-scale m01 audit — raster integrity rested
    * entirely on the decode-once artifact build and the m03/m05/m06
    * paths. A deterministic 1-in-[[RasterAuditOneIn]] of docs (by
    * md5 of the doc id — stable across runs, independent of corpus
    * order) now gets a FULL decode inside the metadata pass: images
    * rasterize and must agree with the header dimensions, video
    * rasterizes frame 0, audio's PCM byte count must match the header
    * frame count. Cost is a fixed ~0.4% of the full-decode bill;
    * a sampled corrupt raster fails the m01 job loudly with its doc
    * id (MultimodalSpec plants one). */
  val RasterAuditOneIn = 256
  private[graft] def rasterAuditSelected(docId: Long,
      md: java.security.MessageDigest): Boolean = {
    val h = md.digest(java.nio.ByteBuffer.allocate(8).putLong(docId).array())
    md.reset()
    (h(0) & 0xff) % RasterAuditOneIn == 0
  }
  private[graft] def rasterAuditSelected(docId: Long): Boolean =
    rasterAuditSelected(docId, java.security.MessageDigest.getInstance("MD5"))

  /** The per-partition decoder lifecycle every codec integration needs:
    * opened once per partition, rows streamed through, closed on task
    * completion (a native decoder holds handles that must not leak). */
  trait MediaDecoder {
    def decode(r: MediaRecord): MediaFeatures
    def close(): Unit
  }

  /** Real decode for all three modalities via JDK codecs. The codec
    * plugin instances are stateful (native-style) and reused across the
    * partition's rows — resolved lazily, once each; `close()` disposes
    * what was opened. */
  final class JdkMediaDecoder extends MediaDecoder {
    private val md = java.security.MessageDigest.getInstance("MD5")
    private var tiffReader: javax.imageio.ImageReader = null
    private var pngReader: javax.imageio.ImageReader = null
    private var wavReader: javax.sound.sampled.spi.AudioFileReader = null

    def decode(r: MediaRecord): MediaFeatures = {
      val n = r.content.length.toLong
      val digest = Multimodal.hex(md.digest(r.content))
      md.reset()
      val base = MediaFeatures(r.doc_id, r.modality, n, digest, None, None, None)
      require(r.media != null, s"missing media payload for doc ${r.doc_id}")
      r.modality match {
        case "image" =>
          if (pngReader == null) pngReader = newPngReader()
          // header-only read: getWidth/getHeight parse the IHDR through
          // the same PNG plugin, WITHOUT rasterizing — this chain
          // reports container metadata, and decoding every pixel to
          // answer width/height was most of its cost (decode scenario, sf10
          // round 15: image_only full decode 12.4 s vs sub-second
          // header walk). The raster path stays certified by the
          // artifact build + m03/m06, which do decode pixels.
          val iis = memStream(r.media)
          val (w, h) = try {
            pngReader.setInput(iis)
            (pngReader.getWidth(0), pngReader.getHeight(0))
          } catch {
            case e: Exception => throw new IllegalArgumentException(
              s"undecodable image payload for doc ${r.doc_id}", e)
          } finally iis.close()
          // sampled full-decode audit (see rasterAuditSelected): the
          // raster a header-only pass never touches
          if (Multimodal.rasterAuditSelected(r.doc_id, md)) {
            val img = readImage(pngReader, r.doc_id, r.media)
            require(img.getWidth == w && img.getHeight == h,
              s"raster audit: doc ${r.doc_id} raster " +
                s"${img.getWidth}x${img.getHeight} disagrees with header ${w}x$h")
            centerColor(img) // touch pixel data
          }
          base.copy(width = Some(w), height = Some(h), n_frames = Some(1))
        case "audio" =>
          if (wavReader == null) wavReader = newWavReader()
          val ais = wavReader.getAudioInputStream(new ByteArrayInputStream(r.media))
          try {
            val frames = ais.getFrameLength
            require(frames >= 0,
              s"doc ${r.doc_id}: audio stream reports unknown frame length")
            if (Multimodal.rasterAuditSelected(r.doc_id, md)) {
              // sampled full-stream audit: the header's frame count
              // must be backed by actual PCM bytes
              val fmt = ais.getFormat
              val pcm = ais.readAllBytes()
              require(pcm.length == frames * fmt.getFrameSize,
                s"raster audit: doc ${r.doc_id} PCM byte count ${pcm.length} " +
                  s"disagrees with header $frames frames x ${fmt.getFrameSize}B")
            }
            base.copy(n_frames = Some(frames.toInt))
          } finally ais.close()
        case _ =>
          if (tiffReader == null)
            tiffReader = ImageIO.getImageReadersByFormatName("tiff").next()
          val iis = memStream(r.media)
          try {
            tiffReader.setInput(iis)
            // getNumImages(true) walks the IFD chain; getWidth(0) reads
            // frame 0's directory entries — both through the TIFF
            // plugin, neither decodes a raster (read(0) did, and was
            // ~half of the sf10 metadata chain: decode scenario, round 15,
            // video_only 11.9 s full decode). Frame rasters stay
            // certified by the artifact build + m05's sampled frames.
            val frames = tiffReader.getNumImages(true)
            require(frames > 0, s"empty video container for doc ${r.doc_id}")
            val (w, h) = (tiffReader.getWidth(0), tiffReader.getHeight(0))
            if (Multimodal.rasterAuditSelected(r.doc_id, md)) {
              // sampled full-decode audit: rasterize frame 0
              val img = tiffReader.read(0)
              require(img.getWidth == w && img.getHeight == h,
                s"raster audit: doc ${r.doc_id} frame-0 raster " +
                  s"${img.getWidth}x${img.getHeight} disagrees with header ${w}x$h")
              centerColor(img)
            }
            base.copy(width = Some(w), height = Some(h),
              n_frames = Some(frames))
          } finally iis.close()
      }
    }

    def close(): Unit = {
      if (tiffReader != null) { tiffReader.dispose(); tiffReader = null }
      if (pngReader != null) { pngReader.dispose(); pngReader = null }
      wavReader = null
    }
  }

  /** Deterministic synthetic PNGs: dimensions and fill color are pure
    * functions of doc_id (reference anchor for the multimodal surface:
    * gpu-olap-engine PROJECT_SUMMARY.md's Arrow binary-column support). */
  object ImageSynth {
    def width(docId: Long): Int = (docId % 64 + 16).toInt
    def height(docId: Long): Int = (docId % 48 + 16).toInt
    def red(docId: Long): Int = (docId % 256).toInt
    def green(docId: Long): Int = (docId * 7 % 256).toInt
    def blue(docId: Long): Int = (docId * 13 % 256).toInt

    def png(docId: Long): Array[Byte] = {
      val rgb = (red(docId) << 16) | (green(docId) << 8) | blue(docId)
      val img = Multimodal.solidImage(width(docId), height(docId), rgb)
      val bos = new ByteArrayOutputStream()
      ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
  }

  /** Deterministic synthetic WAV clips: 16-bit little-endian PCM mono.
    * Rate, length and peak amplitude are pure functions of doc_id; the
    * first sample carries the peak (every later sample is strictly
    * smaller), so a correct PCM decode must report exactly `peak`. */
  object AudioSynth {
    def rate(docId: Long): Int = (8000 + (docId % 5) * 2000).toInt
    def nSamples(docId: Long): Int = (docId % 400 + 100).toInt
    def peak(docId: Long): Int = (docId % 900 + 100).toInt

    def sample(docId: Long, i: Int): Short =
      if (i == 0) peak(docId).toShort
      else (peak(docId) * (i % 10) / 10).toShort

    def wav(docId: Long): Array[Byte] = {
      val n = nSamples(docId)
      val pcm = new Array[Byte](n * 2)
      var i = 0
      while (i < n) {
        val s = sample(docId, i)
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new AudioFormat(rate(docId).toFloat, 16, 1, true, false)
      val ais = new AudioInputStream(new ByteArrayInputStream(pcm), fmt, n.toLong)
      val bos = new ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
  }

  /** Deterministic synthetic videos: a multi-page TIFF whose frame
    * count, dims, and per-frame fill color are pure functions of
    * (doc_id, frame_idx). TIFF-as-container keeps the codec JDK-only
    * while exercising the real many-frames-per-row decode shape. */
  object VideoSynth {
    def nFrames(docId: Long): Int = (docId % 12 + 2).toInt
    def width(docId: Long): Int = (docId % 32 + 8).toInt
    def height(docId: Long): Int = (docId % 24 + 8).toInt
    def red(docId: Long, f: Int): Int = ((docId + 17L * f) % 256).toInt
    def green(docId: Long, f: Int): Int = ((docId * 3 + 7L * f) % 256).toInt
    def blue(docId: Long, f: Int): Int = ((docId * 5 + 11L * f) % 256).toInt

    def tiff(docId: Long): Array[Byte] = {
      val (w, h) = (width(docId), height(docId))
      val writer = ImageIO.getImageWritersByFormatName("tiff").next()
      val bos = new ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        var f = 0
        val n = nFrames(docId)
        while (f < n) {
          val rgb = (red(docId, f) << 16) | (green(docId, f) << 8) | blue(docId, f)
          writer.writeToSequence(
            new javax.imageio.IIOImage(Multimodal.solidImage(w, h, rgb), null, null), null)
          f += 1
        }
        writer.endWriteSequence()
      } finally {
        ios.close()
        writer.dispose()
      }
      bos.toByteArray
    }
  }

  /** Attach the multimodal schema to the documents table: payload as an
    * opaque binary column + modality metadata (deterministic assignment
    * by id so the oracle can reproduce it). */
  def asMediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio")
        .otherwise("video").as("modality"),
      col("text").cast("binary").as("content"))

  /** Fill the `media` column with synthetic PNG/WAV/TIFF bytes per
    * modality (encode is imperative codec code → mapPartitions, same
    * stage as the downstream decode: no shuffle, nothing materialized). */
  def withSyntheticMedia(media: DataFrame)(implicit spark: SparkSession): Dataset[MediaRecord] = {
    import spark.implicits._
    media.withColumn("media", lit(null).cast("binary")).as[MediaRecord]
      .mapPartitions(_.map { r =>
        r.modality match {
          case "image" => r.copy(media = ImageSynth.png(r.doc_id))
          case "audio" => r.copy(media = AudioSynth.wav(r.doc_id))
          case _       => r.copy(media = VideoSynth.tiff(r.doc_id))
        }
      })
  }

  /** Ingest-once media store: synthesize each payload ONE time and
    * land it in a parquet media table; every query thereafter DECODES
    * stored bytes. This is the shape of a real corpus — media bytes are
    * written once at ingest and read many times; re-encoding source
    * media per query would be measuring the fixture, not the pipeline.
    * The `modality` column is a plain string column, so a
    * single-modality query (m03/m04/m05) prunes its scan with an
    * ordinary pushed filter instead of paying the other modalities'
    * decode.
    *
    * Cache validity, atomic commit, and the concurrent-writer race are
    * [[graft.sources.ArtifactStore]]'s (the discipline started here in
    * round 4 — marker + source fingerprint or rebuild — extracted in
    * round 8 so the ANN centroid index shares it): regenerating
    * documents.parquet in place, or two distinct source dirs colliding
    * onto one cache path, is detected and rewritten instead of
    * silently serving stale rows. */
  def materializeMedia(docs: DataFrame, path: String)(
      implicit spark: SparkSession): Dataset[MediaRecord] = {
    import spark.implicits._
    graft.sources.ArtifactStore.getOrBuild(docs, path)(
      withSyntheticMedia(asMediaTable(docs)).toDF()).as[MediaRecord]
  }

  /** ONE real-codec decode pass producing every feature the m-suite
    * reads: container metadata (m01), image raster + center pixel
    * (m03/m07), the decode→rescale thumbnail (m06), WAV header + PCM
    * peak scan (m04), and the sampled, rasterized video frames (m05,
    * nested per row). Same mapPartitions lifecycle as
    * [[extractFeatures]] — one stateful TIFF reader per partition,
    * disposed on task completion, rows streamed (a video's sampled
    * frames are bounded by its container frame count). */
  def decodeAllFeatures(media: Dataset[MediaRecord],
      thumbW: Int = ThumbSize, thumbH: Int = ThumbSize,
      step: Int = FrameStep)(implicit spark: SparkSession): Dataset[DecodedFeatures] = {
    import spark.implicits._
    media.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      var tiffReader: javax.imageio.ImageReader = null
      var pngReader: javax.imageio.ImageReader = null
      var wavReader: javax.sound.sampled.spi.AudioFileReader = null
      Option(TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit] { _ =>
          if (tiffReader != null) { tiffReader.dispose(); tiffReader = null }
          if (pngReader != null) { pngReader.dispose(); pngReader = null }
        })
      it.map { r =>
        val digest = hex(md.digest(r.content)); md.reset()
        require(r.media != null, s"missing media payload for doc ${r.doc_id}")
        val base = DecodedFeatures(r.doc_id, r.modality,
          r.content.length.toLong, digest,
          None, None, None, None, None, None, None, None, None, None,
          None, None, None, None, None, None, Nil)
        r.modality match {
          case "image" =>
            if (pngReader == null) pngReader = newPngReader()
            val img = readImage(pngReader, r.doc_id, r.media)
            val c = centerColor(img)
            val tc = centerColor(renderThumb(img, thumbW, thumbH))
            base.copy(
              width = Some(img.getWidth), height = Some(img.getHeight),
              n_frames = Some(1),
              red = Some(c.getRed), green = Some(c.getGreen), blue = Some(c.getBlue),
              thumb_width = Some(thumbW), thumb_height = Some(thumbH),
              thumb_red = Some(tc.getRed), thumb_green = Some(tc.getGreen),
              thumb_blue = Some(tc.getBlue))
          case "audio" =>
            if (wavReader == null) wavReader = newWavReader()
            val ais = wavReader.getAudioInputStream(new ByteArrayInputStream(r.media))
            try {
              val a = audioPcmFeatures(r.doc_id, ais)
              base.copy(n_frames = Some(a.n_samples.toInt),
                sample_rate = Some(a.sample_rate), channels = Some(a.channels),
                n_samples = Some(a.n_samples), duration_ms = Some(a.duration_ms),
                peak = Some(a.peak))
            } finally ais.close()
          case _ =>
            if (tiffReader == null)
              tiffReader = ImageIO.getImageReadersByFormatName("tiff").next()
            val (n, sampled) = sampleVideoFrames(r.doc_id, tiffReader, r.media, step)
            val f0 = sampled.head
            base.copy(width = Some(f0.width), height = Some(f0.height),
              n_frames = Some(n), frames = sampled)
        }
      }
    }
  }

  /** Build-once committed decoded-feature table of a FILE-BACKED
    * corpus: [[decodeAllFeatures]] over the (equally committed) media
    * store, persisted through the fingerprint-guarded ArtifactStore.
    * The media store made ENCODING ingest-once (round 4); decoded
    * features are just as snapshot-static — a corpus's bytes never
    * change under a query, so decoding them per query re-proves the
    * codec, not the pipeline (measured: repeated decode was 227 s of
    * the 614 s sf10 suite). Production shape: decode ONCE at ingest
    * (map-side, linear, embarrassingly parallel), commit the features,
    * and let every downstream consumer read columns. The live decode
    * path stays certified: m01_decode runs the full per-query codec
    * chain against the same oracle every round, and THIS build runs
    * the same codecs whenever the fingerprint flips (new corpus, new
    * thumb/step parameters). */
  def materializeDecodedFeatures(docs: DataFrame, mediaPath: String,
      path: String)(implicit spark: SparkSession): DataFrame =
    graft.sources.ArtifactStore.getOrBuild(docs, path,
      salt = s"decoded:$ThumbSize:$FrameStep")(
      decodeAllFeatures(materializeMedia(docs, mediaPath)).toDF())

  /** m02: frame sampling — every `step`-th frame of each video, one
    * output row per sampled frame, driven by the REAL container frame
    * count from m01's decode. `explode(sequence(...))` is a generator
    * inside the scan stage: no shuffle, output rows are produced
    * streaming in the same task that read the input split — exactly how
    * a 100 TB video corpus must fan out (never materialize all frames of
    * a partition at once, never collect). Per-frame pixel decode is m05. */
  def sampleFrames(features: DataFrame, step: Int = FrameStep): DataFrame =
    features.filter(col("modality") === "video")
      .select(col("doc_id"), col("content_md5"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(step))).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        md5(concat(col("content_md5"), lit("|"), col("frame_idx").cast("string")))
          .as("frame_md5"))

  val FrameStep = 5

  /** Partition-batched decode/feature-extract: one decoder per
    * partition, rows streamed through it. The only stage outside
    * whole-stage codegen — by design, it wraps library code. */
  def extractFeatures(media: Dataset[MediaRecord],
      newDecoder: () => MediaDecoder)(implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.mapPartitions { it =>
      val decoder = newDecoder()
      // close on TASK COMPLETION, not iterator exhaustion: a limit/take
      // or a downstream failure abandons the iterator mid-partition,
      // and a real native decoder would leak its handle per task
      Option(TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => decoder.close()))
      it.map(decoder.decode)
    }
  }

  /** The m01 pipeline on a raw media table: real JDK decode for every
    * modality (payloads synthesized when absent). */
  def extractFeatures(media: DataFrame)(implicit spark: SparkSession): Dataset[MediaFeatures] =
    extractFeatures(withSyntheticMedia(media), () => new JdkMediaDecoder)

  /** m03: pixel-level image decode — true dimensions AND center-pixel
    * channel values, provable against the oracle's arithmetic only if
    * the PNG was genuinely rasterized. */
  def decodeImages(media: Dataset[MediaRecord])(implicit spark: SparkSession): Dataset[ImageFeatures] = {
    import spark.implicits._
    media.filter(col("modality") === "image").mapPartitions { it =>
      val reader = newPngReader()
      Option(TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => reader.dispose()))
      it.map { r =>
        val img = readImage(reader, r.doc_id, r.media)
        val c = centerColor(img)
        ImageFeatures(r.doc_id, img.getWidth, img.getHeight,
          c.getRed, c.getGreen, c.getBlue)
      }
    }
  }

  /** m06: image resize — decode the stored PNG and rasterize a
    * `w`×`h` RGB thumbnail through a Graphics2D scaled draw (the JDK's
    * software rescale path; a production pipeline swaps in libvips or
    * GPU resize behind the same mapPartitions shape). Resize is the
    * normalization step every vision-training corpus runs between
    * decode and feature extraction; per-row output is a fixed few
    * bytes, so the stage is pure map-side fan-in: no shuffle, output
    * far smaller than input. For the solid-fill corpus every thumbnail
    * pixel equals the source fill color, so the oracle can predict the
    * center pixel without rasterizing — a resize that skipped the real
    * pixel path could not match it. */
  def resizeImages(media: Dataset[MediaRecord], w: Int = ThumbSize,
      h: Int = ThumbSize)(implicit spark: SparkSession): Dataset[ThumbFeatures] = {
    import spark.implicits._
    media.filter(col("modality") === "image").mapPartitions { it =>
      val reader = newPngReader()
      Option(TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => reader.dispose()))
      it.map { r =>
        val img = readImage(reader, r.doc_id, r.media)
        val c = centerColor(renderThumb(img, w, h))
        ThumbFeatures(r.doc_id, img.getWidth, img.getHeight, w, h,
          c.getRed, c.getGreen, c.getBlue)
      }
    }
  }

  val ThumbSize = 8

  /** m04: real WAV decode — format fields from the parsed header plus
    * the peak amplitude scanned from the decoded 16-bit PCM samples.
    * The peak can only match the generator's arithmetic if the sample
    * data was genuinely decoded (a header-only read can't produce it). */
  def decodeAudio(media: Dataset[MediaRecord])(implicit spark: SparkSession): Dataset[AudioFeatures] = {
    import spark.implicits._
    media.filter(col("modality") === "audio").mapPartitions { it =>
      val reader = newWavReader()
      it.map { r =>
        val ais = reader.getAudioInputStream(new ByteArrayInputStream(r.media))
        try audioPcmFeatures(r.doc_id, ais) finally ais.close()
      }
    }
  }

  /** m05: real per-frame video decode — every `step`-th frame of each
    * TIFF container rasterized, center pixel reported. One stateful
    * reader per partition (disposed on task completion); frames of one
    * row are decoded eagerly (bounded by the container's frame count)
    * but rows stream through the partition one at a time. An EMPTY
    * container raises with the doc id ([[sampleVideoFrames]]) — a
    * payload that decodes to zero frames is corrupt data, the image
    * branch's undecodable-require discipline, not a silent zero-row
    * document. */
  def decodeVideoFrames(media: Dataset[MediaRecord], step: Int = FrameStep)(
      implicit spark: SparkSession): Dataset[VideoFrame] = {
    import spark.implicits._
    media.filter(col("modality") === "video").mapPartitions { it =>
      val reader = ImageIO.getImageReadersByFormatName("tiff").next()
      Option(TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => reader.dispose()))
      it.flatMap { r =>
        sampleVideoFrames(r.doc_id, reader, r.media, step)._2.map(f =>
          VideoFrame(r.doc_id, f.frame_idx, f.width, f.height,
            f.red, f.green, f.blue))
      }
    }
  }
}
