package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling: image/audio/video as opaque `binary`
  * columns with typed metadata, plus decode / feature-extract / resize /
  * frame-sample stages.
  *
  * The decode step is REAL for images ([[ImageIoCodec]]: PNG/BMP/GIF/
  * JPEG via the JDK's `javax.imageio`, zero new dependencies —
  * including MULTI-frame animated GIF via [[ImageIoCodec.decodeFrames]],
  * so the frame-dedup lens runs on actual decoded frames) and for
  * uncompressed AUDIO containers ([[WavAudioCodec]]: WAV/AIFF/AU via
  * the JDK's `javax.sound.sampled`, with a perceptual energy-envelope
  * fingerprint feeding the same hamming-LSH dedup machinery as the
  * image lens).  COMPRESSED media decode for real in two public
  * formats with zero new dependencies — IMA-ADPCM audio in WAV
  * containers and Motion-JPEG video in AVI containers
  * ([[CompressedCodec]], discovered via a `java.util.ServiceLoader`
  * SPI so a deployment can drop in an ffmpeg-bound MP3/AAC/H.264
  * codec without code changes).  Payloads no installed codec claims
  * route through the [[OpaqueCodec]] extension point; the default
  * [[FakeCodec]] is a deterministic passthrough so the Spark-side
  * plumbing — schema, batching, partitioning, the typed
  * `mapPartitions` boundary — stays exercisable on the driver's
  * text-payload tables.
  *
  * Scale design: media blobs never shuffle.  All per-media stages are
  * narrow `mapPartitions`; only the (small) extracted-feature rows flow
  * into joins/aggregations downstream.  Partition sizing is by bytes
  * (`spark.sql.files.maxPartitionBytes`), not rows, since blob size
  * varies by orders of magnitude.
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata. */
  case class MediaRow(media_id: Long, modality: String, payload: Array[Byte],
                      width: Int, height: Int, sample_rate: Int)

  /** Extracted features — the only thing that leaves the media stage.
    * width/height are the DECODED dimensions for image payloads; for
    * non-image payloads the input metadata passes through. */
  case class MediaFeatures(media_id: Long, modality: String, n_bytes: Long,
                           content_md5: String, mean_byte: Double,
                           frames_sampled: Int, width: Int, height: Int)

  /** The compressed-codec extension point: payloads neither
    * [[ImageIoCodec]] nor [[WavAudioCodec]] can read route through
    * this interface.  `decode` yields the canonical byte stream
    * (decoded samples for a real codec), `frameSample` cuts it into
    * frame-sized units.  Every frame/feature stage is codec-agnostic —
    * the Spark-side plumbing (schema, typed mapPartitions boundary,
    * byte-based partitioning) does not change when a real codec is
    * installed. */
  trait OpaqueCodec extends Serializable {
    def decode(payload: Array[Byte]): Array[Byte]
    def frameSample(payload: Array[Byte], everyN: Int): Seq[Array[Byte]]
  }

  /** Default [[OpaqueCodec]]: deterministic passthrough for payloads
    * nothing upstream claims (PNG/BMP/GIF/JPEG images, WAV/AIFF/AU
    * audio, IMA-ADPCM and MJPEG compressed media all decode for REAL
    * before reaching here) — the payload bytes ARE the canonical
    * stream, frames are fixed-size byte chops.  This is the engine's
    * ONLY stub surface, and it now covers only codecs with no
    * pure-JVM decoder (MP3/AAC/H.264…), for which the
    * [[CompressedCodec]] ServiceLoader SPI is the installation
    * point. */
  object FakeCodec extends OpaqueCodec {
    def decode(payload: Array[Byte]): Array[Byte] = payload // stub: mp3/h264

    def frameSample(payload: Array[Byte], everyN: Int): Seq[Array[Byte]] =
      payload.grouped(math.max(1, everyN)).toSeq
  }

  /** Process-wide installed [[OpaqueCodec]] (e.g. an ffmpeg binding).
    * Captured driver-side at plan build and serialized into task
    * closures, so install BEFORE declaring the query; on a real
    * cluster, install from an executor plugin or rely on the closure
    * capture (the codec must be Serializable). */
  @volatile var opaqueCodec: OpaqueCodec = FakeCodec

  /** Real image decoder on the JDK's `javax.imageio` — no new
    * dependencies.  Output is row-major 8-bit grayscale (BT.601 luma),
    * a deterministic canonical form independent of the source pixel
    * layout, so downstream hashing/statistics are stable across
    * formats of the same image. */
  object ImageIoCodec {
    javax.imageio.ImageIO.setUseCache(false) // memory, not temp files

    /** Format tag by magic bytes; None = not an image this codec reads. */
    def sniff(p: Array[Byte]): Option[String] =
      if (p.length >= 4 && (p(0) & 0xff) == 0x89 && p(1) == 'P' &&
        p(2) == 'N' && p(3) == 'G') Some("png")
      else if (p.length >= 2 && p(0) == 'B' && p(1) == 'M') Some("bmp")
      else if (p.length >= 4 && p(0) == 'G' && p(1) == 'I' &&
        p(2) == 'F' && p(3) == '8') Some("gif")
      else if (p.length >= 2 && (p(0) & 0xff) == 0xff &&
        (p(1) & 0xff) == 0xd8) Some("jpeg")
      else None

    case class DecodedImage(width: Int, height: Int, gray: Array[Byte])

    /** Default upper bound on decoded pixel count (width × height).
      * Enforced by a HEADER-ONLY probe before any raster is decoded: a
      * 4-byte header field in a hostile/corrupt payload can claim a
      * 2^31-pixel image, and `ImageIO.read` would allocate the full
      * raster (~4 bytes/pixel) before discovering the bytes are short.
      * 64 MPix ≈ 8K×8K — beyond any training corpus thumbnail; raise
      * per-job via [[maxPixelsConf]]. */
    val defaultMaxPixels: Long = 64L * 1024 * 1024

    /** Per-job override for the decode pixel cap (same conf idiom as
      * `spark.graft.shingleAssembly` / `spark.graft.simhashImpl`). Read
      * on the driver at plan-build time and captured in the closure. */
    val maxPixelsConf = "spark.graft.maxDecodePixels"

    def maxPixelsFor(spark: SparkSession): Long =
      spark.conf.get(maxPixelsConf, defaultMaxPixels.toString).toLong

    /** Successfully header-probed images dropped by the pixel cap —
      * exposed so oversize drops are observable rather than silently
      * indistinguishable from non-image payloads. Each drop also logs. */
    val oversizeRejected = new java.util.concurrent.atomic.AtomicLong()

    @transient private lazy val log =
      org.slf4j.LoggerFactory.getLogger("graft.ext.Multimodal")

    /** None when the payload isn't a supported image OR the bytes are
      * corrupt (text that merely starts with 'BM' must fall through to
      * the passthrough, not kill the task).  ImageIO decoders throw
      * unchecked exceptions on malformed payloads that pass the magic
      * sniff — CMMException on bad ICC profiles, IllegalArgumentException
      * on band mismatches, AIOOBE on truncated JPEGs — so the read path
      * guards with NonFatal, not just IOException.
      *
      * Dimensions are probed from the HEADER (`reader.getWidth(0)`)
      * before `reader.read(0)` decodes the raster, so an oversize claim
      * is rejected without ever allocating pixel memory.  The luma
      * conversion runs OUTSIDE the catch: a genuine bug there should
      * surface, not silently degrade to the passthrough. */
    def decode(payload: Array[Byte],
               maxPixels: Long = defaultMaxPixels): Option[DecodedImage] =
      sniff(payload).flatMap { fmt =>
        val img: Option[java.awt.image.BufferedImage] =
          try {
            val iis = javax.imageio.ImageIO.createImageInputStream(
              new java.io.ByteArrayInputStream(payload))
            try {
              val readers = javax.imageio.ImageIO.getImageReaders(iis)
              if (!readers.hasNext) None
              else {
                val reader = readers.next()
                try {
                  reader.setInput(iis, true, true)
                  val w = reader.getWidth(0).toLong
                  val h = reader.getHeight(0).toLong
                  if (w <= 0 || h <= 0) None // corrupt header
                  else if (w * h > maxPixels) {
                    oversizeRejected.incrementAndGet()
                    log.warn(s"dropping $fmt image to passthrough: " +
                      s"header claims ${w}x$h > maxPixels=$maxPixels")
                    None
                  } else Option(reader.read(0))
                } finally reader.dispose()
              }
            } finally if (iis != null) iis.close()
          } catch { case scala.util.control.NonFatal(_) => None }
        img.map(toGray)
      }

    /** BT.601 luma conversion to the canonical row-major grayscale
      * form — shared by the single-image and multi-frame decoders (and
      * by compressed-container codecs whose frames decode to
      * BufferedImages, e.g. [[MjpegAviCodec]]). */
    private[ext] def toGray(bi: java.awt.image.BufferedImage): DecodedImage = {
      val w = bi.getWidth
      val h = bi.getHeight
      val out = new Array[Byte](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = bi.getRGB(x, y)
          val lum = (((rgb >> 16) & 0xff) * 299 +
            ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
          out(y * w + x) = lum.toByte
          x += 1
        }
        y += 1
      }
      DecodedImage(w, h, out)
    }

    /** Real multi-frame decode: every frame the payload's ImageIO
      * reader exposes (animated GIF being the JDK-native case), each in
      * the canonical grayscale form.  The pixel cap is a TOTAL budget
      * across frames — a 10k-frame animation is as much an allocation
      * bomb as one oversize raster — probed per frame from headers
      * before any raster decodes.  None on non-images, corrupt bytes,
      * or budget overrun (same fall-through contract as [[decode]]). */
    def decodeFrames(payload: Array[Byte],
                     maxPixels: Long = defaultMaxPixels
                    ): Option[Seq[DecodedImage]] =
      sniff(payload).flatMap { fmt =>
        try {
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(payload))
          try {
            val readers = javax.imageio.ImageIO.getImageReaders(iis)
            if (!readers.hasNext) None
            else {
              val reader = readers.next()
              try {
                // seekForwardOnly = false: getNumImages(true) must scan
                reader.setInput(iis, false, true)
                val n = reader.getNumImages(true)
                if (n <= 0) None
                else {
                  var budget = maxPixels
                  var ok = true
                  val out = Seq.newBuilder[DecodedImage]
                  var i = 0
                  while (i < n && ok) {
                    val w = reader.getWidth(i).toLong
                    val h = reader.getHeight(i).toLong
                    if (w <= 0 || h <= 0 || w * h > budget) {
                      ok = false
                      oversizeRejected.incrementAndGet()
                      log.warn(s"dropping $fmt media to passthrough: " +
                        s"frame $i of $n at ${w}x$h exceeds the " +
                        s"remaining pixel budget $budget of $maxPixels")
                    } else {
                      budget -= w * h
                      out += toGray(reader.read(i))
                    }
                    i += 1
                  }
                  if (ok) Some(out.result()) else None
                }
              } finally reader.dispose()
            }
          } finally if (iis != null) iis.close()
        } catch { case scala.util.control.NonFatal(_) => None }
      }
  }

  /** documents-as-media adapter: treats each doc's text bytes as an
    * opaque payload so the pipeline is exercisable on the driver's
    * tables. */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("media_id"), lit("text").as("modality"),
      col("text").cast("binary").as("payload"),
      lit(0).as("width"), lit(0).as("height"), lit(0).as("sample_rate"))

  /** Caller-side budget BACKSTOP over the compressed-codec seam
    * (round-16 ADVICE): the budgeted SPI overloads DEFAULT to
    * delegating to the unbudgeted form, so a jar-dropped third-party
    * codec could silently ignore the session frame budget — the exact
    * unprotected path the budgeted overloads closed for in-repo
    * codecs.  Results are therefore re-checked AFTER the call: an
    * audio result whose mono length exceeds `maxFrames` rejects (and
    * counts in [[WavAudioCodec.oversizeRejected]]) no matter what the
    * codec implementation did with the budget. */
  private[graft] def budgetedAudio(cc: CompressedCodec, payload: Array[Byte],
                                 maxFrames: Long)
      : Option[WavAudioCodec.DecodedAudio] =
    cc.decodeAudio(payload, maxFrames).flatMap { a =>
      if (a.mono.length > maxFrames) {
        WavAudioCodec.oversizeRejected.incrementAndGet(); None
      } else Some(a)
    }

  /** The byte-stream twin of [[budgetedAudio]].  The canonical stream
    * is 16-bit mono for auditory codecs (2 bytes/frame ⇒ a
    * 2×`maxFrames`-byte budget) and a grayscale raster for visual ones
    * (1 byte/pixel ⇒ a `maxPixels`-byte budget); the SPI carries no
    * modality marker, so the backstop enforces the LARGER of the two —
    * looser than the per-modality bound the in-repo overrides enforce
    * internally, but output beyond BOTH budgets is an allocation bomb
    * in either modality and can never reach the caller. */
  private[graft] def budgetedDecode(cc: CompressedCodec, payload: Array[Byte],
                                  maxFrames: Long, maxPixels: Long)
      : Option[Array[Byte]] =
    cc.decode(payload, maxFrames).flatMap { bytes =>
      if (bytes.length > math.max(2L * maxFrames, maxPixels)) {
        WavAudioCodec.oversizeRejected.incrementAndGet(); None
      } else Some(bytes)
    }

  /** Structural media TRIAGE stage: probe each payload's metadata
    * (frame count, sample rate, bitrate, total samples) through the
    * [[CompressedCodecs]] SPI WITHOUT decoding a coefficient — the
    * pass a corpus pipeline runs to histogram durations and budget
    * decode cycles before committing them.  Narrow typed
    * mapPartitions, payloads never leave the stage; unprobeable rows
    * drop (they go to the decode path's own dispatch instead). */
  def probeMedia(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    val compressed = CompressedCodecs.installed
    media.as[MediaRow].mapPartitions { rows =>
      rows.flatMap { r =>
        compressed.find(_.sniff(r.payload)).flatMap(_.probe(r.payload))
          .map(pr => (r.media_id, pr.codec, pr.nFrames, pr.sampleRate,
            pr.bitrateKbps, pr.nSamples))
      }
    }.toDF("media_id", "codec", "n_frames", "sample_rate",
      "bitrate_kbps", "n_samples")
  }

  /** Audio DECODE stage: each payload decodes to the canonical mono
    * stream (JDK containers via [[WavAudioCodec]], compressed formats
    * via the [[CompressedCodecs]] SPI's `decodeAudio` — IMA-ADPCM,
    * FLAC, jar-dropped codecs) and reports exact integer statistics
    * over the decoded PCM: sample count, sum, min, max.  The oracle
    * surface for lossless paths — a FLAC payload's stats must equal
    * the closed form of the signal its encoder was fed, to the last
    * sample.  Narrow typed mapPartitions: payloads and PCM never
    * leave the stage; undecodable rows drop (they belong to the
    * passthrough lens, not the audio one). */
  def audioStats(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    val maxFrames = WavAudioCodec.maxFramesFor(spark)
    val compressed = CompressedCodecs.installed
    media.as[MediaRow].mapPartitions { rows =>
      rows.flatMap { r =>
        WavAudioCodec.decode(r.payload, maxFrames)
          .orElse(compressed.find(_.sniff(r.payload))
            .flatMap(budgetedAudio(_, r.payload, maxFrames)))
          .flatMap { a =>
            if (a.mono.isEmpty) None
            else {
              var s = 0L
              var mn = Int.MaxValue
              var mx = Int.MinValue
              var i = 0
              while (i < a.mono.length) {
                val v = a.mono(i).toInt
                s += v
                if (v < mn) mn = v
                if (v > mx) mx = v
                i += 1
              }
              Some((r.media_id, a.sampleRate, a.mono.length.toLong,
                s, mn, mx))
            }
          }
      }
    }.toDF("media_id", "sample_rate", "n_samples", "pcm_sum",
      "pcm_min", "pcm_max")
  }

  /** One sampled frame, addressable for downstream per-frame work
    * (embedding, OCR, …). */
  case class MediaFrame(media_id: Long, frame_no: Int, frame_bytes: Array[Byte],
                        frame_md5: String)

  /** Frame-sampling stage: media row → one row per sampled frame.
    * flatMap inside mapPartitions keeps the blob→frames fan-out narrow
    * (no shuffle); only the sampled frames — a bounded fraction of the
    * payload — continue downstream.  At 100 TB, `everyN` is the
    * data-volume knob and partition sizing stays byte-based. */
  def sampleFrames(spark: SparkSession, media: DataFrame,
                   everyN: Int = 256): Dataset[MediaFrame] = {
    import spark.implicits._
    val maxPixels = ImageIoCodec.maxPixelsFor(spark)
    val maxFrames = WavAudioCodec.maxFramesFor(spark)
    val codec = opaqueCodec
    val compressed = CompressedCodecs.installed
    media.as[MediaRow].mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.flatMap { r =>
        val decoded = ImageIoCodec.decode(r.payload, maxPixels).map(_.gray)
          .orElse(WavAudioCodec.decode(r.payload, maxFrames)
            .map(WavAudioCodec.canonicalBytes))
          .orElse(compressed.find(_.sniff(r.payload))
            .flatMap(budgetedDecode(_, r.payload, maxFrames, maxPixels)))
          .getOrElse(codec.decode(r.payload))
        codec.frameSample(decoded, everyN)
          .zipWithIndex.map { case (frame, i) =>
            md.reset()
            MediaFrame(r.media_id, i, frame,
              md.digest(frame).map("%02x".format(_)).mkString)
          }
      }
    }
  }

  /** The decode/feature-extract stage: typed mapPartitions over media
    * rows.  Batch shape: one partition = one codec context (a real
    * decoder amortizes init per partition, exactly like an Arrow-batched
    * pandas UDF). */
  def extractFeatures(spark: SparkSession, media: DataFrame,
                      frameEvery: Int = 256): Dataset[MediaFeatures] = {
    import spark.implicits._
    val maxPixels = ImageIoCodec.maxPixelsFor(spark)
    val maxFrames = WavAudioCodec.maxFramesFor(spark)
    val codec = opaqueCodec
    val compressed = CompressedCodecs.installed
    media.as[MediaRow].mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val (decoded, w, h) = ImageIoCodec.decode(r.payload, maxPixels) match {
          case Some(d) => (d.gray, d.width, d.height)
          case None => WavAudioCodec.decode(r.payload, maxFrames) match {
            case Some(a) =>
              (WavAudioCodec.canonicalBytes(a), r.width, r.height)
            case None => compressed.find(_.sniff(r.payload))
              .flatMap(cc => budgetedDecode(cc, r.payload, maxFrames,
                maxPixels).map { bytes =>
                // visual codecs report decoded first-frame dimensions,
                // like the still-image path; audio passes meta through
                cc.decodeImage(r.payload) match {
                  case Some(img) => (bytes, img.width, img.height)
                  case None => (bytes, r.width, r.height)
                }
              })
              .getOrElse((codec.decode(r.payload), r.width, r.height))
          }
        }
        val frames = codec.frameSample(decoded, frameEvery)
        md.reset()
        val hash = md.digest(decoded).map("%02x".format(_)).mkString
        val mean =
          if (decoded.isEmpty) 0.0
          else decoded.map(b => (b & 0xff).toLong).sum.toDouble / decoded.length
        MediaFeatures(r.media_id, r.modality, decoded.length.toLong, hash,
          mean, frames.size, w, h)
      }
    }
  }

  // ---------------------------------------------------------------- dHash

  /** 64-bit difference hash over an 8-bit grayscale raster — the
    * perceptual fingerprint that connects [[ImageIoCodec]] to the
    * engine's hamming-LSH machinery (the image analogue of
    * `SimHashSig64`'s text fingerprint).
    *
    * Box-downsample to a 9×8 (cols×rows) grid with EXACT integer box
    * sums — cell (r,c) covers pixel rows `[r·h/8, (r+1)·h/8)` and cols
    * `[c·w/9, (c+1)·w/9)` — then bit `r·8+c` is set iff cell (r,c+1) is
    * brighter than cell (r,c).  The comparison cross-multiplies sums and
    * counts (`s₂·n₁ > s₁·n₂`) instead of dividing, so the fingerprint is
    * bit-exact across platforms — no float rounding, and cells of
    * unequal pixel counts (w or h not divisible by 9/8) compare by true
    * mean.  Robust to resize/re-encode/brightness shifts; a few-pixel
    * edit flips at most a couple of bits. */
  def dHash64(gray: Array[Byte], w: Int, h: Int): Long =
    gridDHash(idx => gray(idx) & 0xff, w, h,
      (r, c) => (r.toLong * h / 8, (r + 1).toLong * h / 8,
        c.toLong * w / 9, (c + 1).toLong * w / 9),
      rowStride = w)

  /** Byte-grid dHash for payloads that are NOT decodable images (the
    * FakeCodec passthrough): the flat byte array is cut into 72
    * sequential cells (byte i → cell `i·72/N`) read as a row-major 8×9
    * grid, then the same cross-multiplied brightness comparison as
    * [[dHash64]].  Deterministic and — unlike the raster path — exactly
    * expressible in ANSI SQL over the payload bytes, which is what lets
    * the driver's DuckDB oracle verify the whole fingerprint→pairs
    * pipeline end-to-end on the text-payload tables. */
  def byteGridDHash64(bytes: Array[Byte]): Long = {
    val n = bytes.length
    val s = new Array[Long](72)
    val c = new Array[Long](72)
    var i = 0
    while (i < n) {
      val cell = (i.toLong * 72 / n).toInt
      s(cell) += bytes(i) & 0xff
      c(cell) += 1
      i += 1
    }
    var fp = 0L
    var r = 0
    while (r < 8) {
      var col = 0
      while (col < 8) {
        val a = r * 9 + col
        if (s(a + 1) * c(a) > s(a) * c(a + 1)) fp |= 1L << (r * 8 + col)
        col += 1
      }
      r += 1
    }
    fp
  }

  /** Shared 9×8-grid comparator behind [[dHash64]]. */
  private def gridDHash(px: Int => Int, w: Int, h: Int,
                        bounds: (Int, Int) => (Long, Long, Long, Long),
                        rowStride: Int): Long = {
    val s = new Array[Long](72)
    val c = new Array[Long](72)
    var r = 0
    while (r < 8) {
      var cc = 0
      while (cc < 9) {
        val (y0, y1, x0, x1) = bounds(r, cc)
        var y = y0
        var sum = 0L
        while (y < y1) {
          var x = x0
          while (x < x1) {
            sum += px((y * rowStride + x).toInt)
            x += 1
          }
          y += 1
        }
        s(r * 9 + cc) = sum
        c(r * 9 + cc) = (y1 - y0) * (x1 - x0)
        cc += 1
      }
      r += 1
    }
    var fp = 0L
    r = 0
    while (r < 8) {
      var col = 0
      while (col < 8) {
        val a = r * 9 + col
        if (s(a + 1) * c(a) > s(a) * c(a + 1)) fp |= 1L << (r * 8 + col)
        col += 1
      }
      r += 1
    }
    fp
  }

  /** media rows → (media_id, fp): one 64-bit perceptual fingerprint per
    * payload, real [[dHash64]] when the payload decodes as an image,
    * [[byteGridDHash64]] passthrough otherwise.  Narrow mapPartitions —
    * the blob is consumed here and only the 16-byte (id, fp) row
    * continues downstream, the same blobs-never-shuffle contract as
    * [[extractFeatures]]. */
  def fingerprints(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    val maxPixels = ImageIoCodec.maxPixelsFor(spark)
    val maxFrames = WavAudioCodec.maxFramesFor(spark)
    val compressed = CompressedCodecs.installed
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val fp = ImageIoCodec.decode(r.payload, maxPixels) match {
          case Some(d) => dHash64(d.gray, d.width, d.height)
          case None => WavAudioCodec.decode(r.payload, maxFrames) match {
            case Some(a) => WavAudioCodec.aHash64(a.mono)
            case None => compressed.find(_.sniff(r.payload)) match {
              // compressed visual → first-frame dHash (the still-image
              // convention); compressed audio → envelope aHash on the
              // canonical mono signal — BOTH land in the same 64-bit
              // hamming space as their uncompressed twins, so an MJPEG
              // re-mux of a GIF or an ADPCM re-encode of a PCM clip
              // buckets next to the original (spec-pinned)
              case Some(cc) =>
                cc.decodeImage(r.payload)
                  .map(d => dHash64(d.gray, d.width, d.height))
                  .orElse(budgetedAudio(cc, r.payload, maxFrames)
                    .map(a => WavAudioCodec.aHash64(a.mono)))
                  .getOrElse(byteGridDHash64(r.payload))
              case None => byteGridDHash64(r.payload)
            }
          }
        }
        (r.media_id, fp)
      }
    }.toDF("media_id", "fp")
  }

  /** Materialized perceptual-fingerprint index over an existing media
    * corpus, for the ingest-gate loop: band table pre-partitioned by
    * block key and pinned, so every micro-batch probe joins
    * materialized data instead of re-decoding the corpus — the
    * `Dedup.LshIndex` discipline for the image lens.  `maskBlocks` is
    * baked in so a probe cannot silently mix band schemes; `legs`
    * counts pinned union legs since the last compaction (the
    * [[Indexes]] discipline). */
  case class MediaFpIndex(blocked: DataFrame, maskBlocks: Int,
                          legs: Int = 1)

  private[graft] def comboKeys(fpCol: Column, maskBlocks: Int): Seq[Column] =
    (0 until 8).combinations(maskBlocks).toSeq.zipWithIndex.map {
      case (masked, idx) =>
        val kept = (0 until 8).filterNot(masked.contains(_))
        kept.foldLeft(lit(idx.toLong)) { (acc, j) =>
          acc * 256L + shiftrightunsigned(fpCol, 8 * j)
            .bitwiseAND(lit(0xffL))
        }
    }

  /** Pigeonhole-halves blocking: 12 keys per fingerprint instead of
    * C(8,4)=70, recall-guaranteed for hamming <= 4.  Argument: a pair
    * within hamming 4 puts at most 2 of its diff bits in SOME 32-bit
    * half (min(a,b) <= 2 when a+b <= 4); within that half's four 8-bit
    * blocks the <= 2 diff bits occupy at most 2 blocks, so one of the
    * C(4,2)=6 two-block masks of that half covers them and the pair
    * shares that key.  2 halves x 6 masks = 12 keys, each pinning the
    * half's two UNMASKED blocks (16 bits) plus the (half, mask) id.
    *
    * Trade-off vs [[comboKeys]] (the A/B the round-12 verdict asked
    * for, recorded in PERF.md): 5.8x less candidate-stage fanout, but
    * each key pins 16 agreeing bits instead of 32 — expected bucket
    * mass grows as n/2^16 instead of n/2^32, so past ~10^5 distinct
    * fingerprints per key family the candidate join goes quadratic
    * while combo8 buckets stay O(1).  combo8 therefore remains the
    * 100 TB default; halved12 is the small-corpus economy. */
  private[graft] def halvedKeys(fpCol: Column): Seq[Column] =
    for {
      half <- 0 to 1
      (masked, idx) <- (0 until 4).combinations(2).toSeq.zipWithIndex
    } yield {
      val kept = (0 until 4).filterNot(masked.contains(_))
        .map(_ + half * 4)
      kept.foldLeft(lit((half * 6 + idx).toLong)) { (acc, j) =>
        acc * 256L + shiftrightunsigned(fpCol, 8 * j)
          .bitwiseAND(lit(0xffL))
      }
    }

  /** Index the existing corpus once for [[matchIndexed]].  The
    * maskBlocks bound is enforced HERE — the single entry point that
    * bakes the blocking scheme into the index (and, via
    * [[saveFpIndex]], into the persisted table's properties):
    * maskBlocks=0 degenerates to exact-duplicate blocking and values
    * past 4 explode the C(8,m) combination count. */
  def fpIndex(spark: SparkSession, existing: DataFrame,
              maskBlocks: Int = 4): MediaFpIndex = {
    require(maskBlocks >= 1 && maskBlocks <= 4,
      s"maskBlocks must be 1..4 (got $maskBlocks)")
    val parts = spark.sessionState.conf.numShufflePartitions
    val fps = fingerprints(spark, existing)
    val blocked = fps.select(col("media_id").as("ex_id"),
        col("fp").as("fp_ex"),
        explode(array(comboKeys(col("fp"), maskBlocks): _*)).as("bk"))
      .repartition(parts, col("bk"))
      .localCheckpoint()
    MediaFpIndex(blocked, maskBlocks)
  }

  /** Ingest-time perceptual near-dup gate: each incoming media's BEST
    * match (lowest hamming, id tiebreak) among indexed existing media
    * within `maxDist` — the image/video twin of the st4 text gate, run
    * per micro-batch under `foreachBatch` against a [[fpIndex]] built
    * once.  Recall is exact for `maxDist <= maskBlocks` (the x73 block
    * guarantee), so per-batch gating equals the all-at-once batch
    * answer row for row.  Output: (media_id, match_id, hamming). */
  def matchIndexed(index: MediaFpIndex, spark: SparkSession,
                   incoming: DataFrame, maxDist: Int = 4): DataFrame = {
    require(maxDist >= 0 && maxDist <= index.maskBlocks,
      s"maxDist must be in [0, maskBlocks=${index.maskBlocks}] for " +
        s"lossless recall (got $maxDist)")
    val fpI = fingerprints(spark, incoming)
    val blockedI = fpI.select(col("media_id"), col("fp").as("fp_in"),
      explode(array(comboKeys(col("fp"), index.maskBlocks): _*)).as("bk"))
    blockedI.join(index.blocked, "bk")
      .select(col("media_id"), col("ex_id"), col("fp_in"), col("fp_ex"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("fp_in").bitwiseXOR(col("fp_ex"))).cast("int"))
      .filter(col("hamming") <= maxDist)
      .groupBy(col("media_id"))
      .agg(min(struct(col("hamming").as("h"), col("ex_id").as("e")))
        .as("m"))
      .select(col("media_id"), col("m.e").as("match_id"),
        col("m.h").as("hamming"))
  }

  /** One-shot form of [[matchIndexed]] (index built inline). */
  def matchAgainst(spark: SparkSession, existing: DataFrame,
                   incoming: DataFrame, maxDist: Int = 4,
                   maskBlocks: Int = 4): DataFrame =
    matchIndexed(fpIndex(spark, existing, maskBlocks), spark, incoming,
      maxDist)

  /** Grow a [[MediaFpIndex]] with a batch the gate just ACCEPTED — the
    * incremental half of the media ingest loop (the `extendLshIndex`
    * discipline): a re-upload of media accepted five minutes ago must
    * be flagged, not just copies of the original corpus.  Only the new
    * leg is fingerprinted and pinned; the union over already-
    * materialized legs stays lazy, so cost is O(batch), not O(index).
    * Compact periodically via [[saveFpIndex]]/[[loadFpIndex]]. */
  def extendFpIndex(index: MediaFpIndex, spark: SparkSession,
                    accepted: DataFrame): MediaFpIndex = {
    val parts = spark.sessionState.conf.numShufflePartitions
    val leg = fingerprints(spark, accepted)
      .select(col("media_id").as("ex_id"), col("fp").as("fp_ex"),
        explode(array(comboKeys(col("fp"), index.maskBlocks): _*))
          .as("bk"))
      .repartition(parts, col("bk"))
      .localCheckpoint()
    val grown = index.blocked.unionByName(leg)
    if (index.legs + 1 >= Indexes.CompactLegs)
      MediaFpIndex(grown.repartition(parts, col("bk")).localCheckpoint(),
        index.maskBlocks, legs = 1)
    else MediaFpIndex(grown, index.maskBlocks, index.legs + 1)
  }

  /** Persist a [[MediaFpIndex]] as a parquet table bucketed by block
    * key — the probe join's locality survives a restart, and
    * `maskBlocks` rides along in table properties so a reopened index
    * cannot silently mix band schemes. */
  def saveFpIndex(index: MediaFpIndex, table: String,
                  buckets: Int = 16): Unit =
    StateTable.save(index.blocked, table,
      Seq("graft.fp.maskBlocks" -> index.maskBlocks), Seq("bk"), buckets)

  /** Reopen a bucketed [[MediaFpIndex]] written by [[saveFpIndex]]. */
  def loadFpIndex(spark: SparkSession, table: String): MediaFpIndex = {
    val (blocked, props) = StateTable.load(spark, table,
      "media fingerprint index", Seq("graft.fp.maskBlocks"))
    MediaFpIndex(blocked, props("graft.fp.maskBlocks").toInt)
  }

  /** media rows → (media_id, frame_hex), each frame carried as its
    * uppercase-hex rendering.  Payloads that decode as MULTI-frame
    * media (animated GIF via the JDK reader; anything a real installed
    * [[OpaqueCodec]] exposes) contribute one row per ACTUAL decoded
    * frame — trims and re-muxes of the same animation then share frame
    * hashes by construction.  Single-frame images chop their canonical
    * grayscale raster, and passthrough payloads chop their raw bytes,
    * into `everyN`-byte pseudo-frames.
    *
    * Hex (not raw bytes) is the canonical frame form so the frame hash
    * `md5(frame_hex)` is a plain string md5 — computable identically by
    * any SQL engine from `hex(payload)` substrings on the passthrough
    * path, which is what keeps [[frameSetNearDup]] end-to-end
    * oracle-checkable on the driver's text-payload tables (real decoded
    * media is covered by MultimodalSpec instead — no SQL engine can
    * replay a codec). */
  def frameHexes(spark: SparkSession, media: DataFrame,
                 everyN: Int): DataFrame = {
    import spark.implicits._
    val maxPixels = ImageIoCodec.maxPixelsFor(spark)
    val maxFrames = WavAudioCodec.maxFramesFor(spark)
    val codec = opaqueCodec
    val compressed = CompressedCodecs.installed
    media.as[MediaRow].mapPartitions { rows =>
      rows.flatMap { r =>
        def hex(b: Array[Byte]) = b.map("%02X".format(_)).mkString
        ImageIoCodec.decodeFrames(r.payload, maxPixels) match {
          case Some(frames) if frames.lengthCompare(1) > 0 =>
            frames.map(f => (r.media_id, hex(f.gray)))
          case Some(single) =>
            codec.frameSample(single.head.gray, everyN)
              .map(f => (r.media_id, hex(f)))
          case None =>
            // compressed video exposes REAL frame structure (each
            // MJPEG frame in the canonical grayscale form — identical
            // hashes to the same frames in an animated GIF); audio
            // frames are sample windows of the DECODED signal, so the
            // same clip in a different container layout shares frame
            // hashes (spec-pinned); non-media falls through to the
            // SQL-replayable byte-chop passthrough
            compressed.find(_.sniff(r.payload))
              .flatMap(_.decodeFrames(r.payload)) match {
              case Some(realFrames) if realFrames.nonEmpty =>
                realFrames.map(f => (r.media_id, hex(f)))
              case _ =>
                val canonical = WavAudioCodec.decode(r.payload, maxFrames)
                  .map(WavAudioCodec.canonicalBytes)
                  .orElse(compressed.find(_.sniff(r.payload))
                    .flatMap(budgetedDecode(_, r.payload, maxFrames,
                      maxPixels)))
                  .getOrElse(codec.decode(r.payload))
                codec.frameSample(canonical, everyN)
                  .map(f => (r.media_id, hex(f)))
            }
        }
      }
    }.toDF("media_id", "frame_hex")
  }

  /** Frame-set near-duplicate pairs — the video/audio dedup lens:
    * two media are near-dups when their sampled-frame SETS overlap
    * (re-muxes, trims, and re-encode-stable segments share frames even
    * when the containers differ).  Pipeline: frames → per-frame hash →
    * per-media distinct set → inverted-index self-join on frame hash →
    * Jaccard over set sizes.
    *
    * Scale shape: the pair join is an equi-join on the frame hash —
    * high-cardinality by construction — so candidate enumeration is
    * bounded by per-frame document frequency, not corpus².  The one
    * degenerate case is a ubiquitous frame (intro cards, silence
    * blocks): `dfCap` drops frames appearing in more media than that
    * from PAIRING (they still count in set sizes, so the reported
    * Jaccard is a deterministic lower bound — the stop-word treatment,
    * replicated exactly by the oracle).
    *
    * The bias is SURFACED, not just documented: `capped_frames` =
    * `least(nc_a, nc_b)` (each side's count of cap-dropped frames) is
    * the most extra shared frames the cap could be hiding, and
    * `jaccard_ub = (n_shared + capped) / (union - capped)` is the
    * corresponding exact upper bound — a threshold tuner reads how
    * loose the lower bound is per pair instead of guessing.  E.g. a
    * pair reported at `jaccard = 0.38, jaccard_ub = 0.52` under a
    * 0.4 threshold is a cap casualty worth re-checking with a higher
    * `dfCap`; one at `0.38, 0.39` is a true reject.  When no frame
    * hits the cap, `capped_frames = 0` and `jaccard_ub = jaccard`.
    * Output: (media_a, media_b, n_shared, jaccard, capped_frames,
    * jaccard_ub). */
  def frameSetNearDup(spark: SparkSession, media: DataFrame,
                      everyN: Int = 64, minJaccard: Double = 0.4,
                      dfCap: Long = 1000L): DataFrame = {
    require(everyN >= 1, s"everyN must be >= 1 (got $everyN)")
    require(dfCap >= 2, s"dfCap must be >= 2 (got $dfCap)")
    // localCheckpoint pins the skinny (media_id, frame_hash) rows ONCE:
    // the set-size join, the df cap, and both legs of the pair join all
    // reference this table, and without the pin each reference re-runs
    // the decode→hex→md5→distinct chain (measured: 16 exchanges in the
    // executed plan unpinned vs 10 pinned — the survivors are the
    // pipeline's own groupBys/joins)
    val fd = frameHexes(spark, media, everyN)
      .select(col("media_id"), md5(col("frame_hex")).as("fh"))
      .distinct()
      .localCheckpoint()
    // per-frame document frequency attaches to every frame row once;
    // set size AND capped-frame count then ride along on the frame
    // rows (16 bytes) so the pair join is self-contained — no
    // post-join size lookups, two fewer corpus-sized shuffles than
    // the sizes-table formulation
    val marked = fd.join(
      fd.groupBy(col("fh")).agg(count(lit(1)).as("__df")), "fh")
    val sized = marked.join(
      marked.groupBy(col("media_id")).agg(count(lit(1)).as("nf"),
        sum(when(col("__df") > dfCap, 1L).otherwise(0L)).as("nc")),
      "media_id")
    val rare = sized.filter(col("__df") <= dfCap)
    val shared = rare.select(col("fh"), col("media_id").as("media_a"),
        col("nf").as("na"), col("nc").as("nca"))
      .join(rare.select(col("fh"), col("media_id").as("media_b"),
        col("nf").as("nb"), col("nc").as("ncb")), "fh")
      .filter(col("media_a") < col("media_b"))
      .groupBy(col("media_a"), col("media_b"), col("na"), col("nb"),
        col("nca"), col("ncb"))
      .agg(count(lit(1)).as("n_shared"))
    val capped = least(col("nca"), col("ncb"))
    val j = col("n_shared") /
      (col("na") + col("nb") - col("n_shared"))
    // true shared exceeds n_shared by at most least(nc_a, nc_b) — every
    // hidden shared frame must live in BOTH sides' capped sets — and
    // each one both adds to the intersection and shrinks the union
    val jUb = (col("n_shared") + capped) /
      (col("na") + col("nb") - col("n_shared") - capped)
    shared
      .filter(j >= minJaccard)
      .select(col("media_a"), col("media_b"), col("n_shared"),
        round(j, 4).as("jaccard"), capped.as("capped_frames"),
        round(jUb, 4).as("jaccard_ub"))
  }

  /** Perceptual near-duplicate pairs: dHash fingerprints → C(8,4)
    * combo-key hamming LSH → exact `bit_count(xor)` verify.  The image
    * dedup lens — re-encodes, thumbnails, and small crops/edits of the
    * same picture land within a few fingerprint bits of each other.
    *
    * Blocking reuses the `simhashEditPairs64` key construction verbatim
    * (eight 8-bit blocks, one injective packed-long key per way of
    * masking `maskBlocks` of them): any pair whose fingerprint diffs
    * are confined to the masked blocks shares a key, so recall is
    * GUARANTEED for `maxDist <= maskBlocks` — 4-of-8 masking catches
    * every pair within hamming 4 while each key still pins 32 agreeing
    * bits, keeping bucket cardinality corpus-proportional instead of
    * quadratic (the reason this is the 100 TB path and all-pairs
    * `bit_count` is only the oracle).  Salted + AQE-exempt-pinned
    * candidate join, `distinct`, then the exact hamming check on the
    * candidate sliver — the x3/x55b verify discipline with
    * `bit_count(fp_a XOR fp_b)` in place of banded levenshtein (a pure
    * codegen'd long op; no texts re-attach, so the verify join carries
    * 24-byte rows).  Output: (media_a, media_b, hamming).
    *
    * `scheme = "halved12"` swaps in the [[halvedKeys]] pigeonhole
    * blocking (12 keys, 16 pinned bits — recall still guaranteed for
    * maxDist <= 4); results are IDENTICAL under both schemes because
    * the exact verify filters the same superset, only the candidate
    * volume differs.  `scheme = "auto"` gates on the measured
    * fingerprint count (`spark.graft.imageBandAutoThreshold`, default
    * 2M): halved12 under it, combo8 at scale.  The default was
    * re-calibrated by MEASUREMENT in round 13: at 650k fingerprints
    * halved12 still beats combo8 8.6x (23.8 s vs 205 s, identical
    * 4.14M output pairs) — the random-fp crossover model (~600k)
    * badly underestimated how much the 70-key explode's key-row
    * SHUFFLE costs relative to halved12's extra cheap codegen
    * hamming verifies.  See the PERF.md A/Bs. */
  def nearDupPairs(spark: SparkSession, media: DataFrame,
                   maxDist: Int = 4, maskBlocks: Int = 4,
                   salts: Int = Dedup.SaltsAuto,
                   scheme: String = "combo8"): DataFrame = {
    require(maxDist >= 0 && maxDist <= maskBlocks,
      s"maxDist must be in [0, maskBlocks=$maskBlocks] for lossless " +
        s"recall (got $maxDist)")
    require(maskBlocks >= 1 && maskBlocks <= 4,
      s"maskBlocks must be 1..4 (got $maskBlocks)")
    require(salts >= 1 || salts == Dedup.SaltsAuto,
      s"salts must be >= 1 or SaltsAuto (got $salts)")
    require(Set("combo8", "halved12", "auto").contains(scheme),
      s"scheme must be combo8, halved12, or auto (got $scheme)")
    // halved12's pigeonhole argument needs both pieces of hamming <= 4;
    // recall past that is the combo-mask family's territory
    require(scheme != "halved12" || maxDist <= 4,
      s"halved12 guarantees recall only for maxDist <= 4 (got $maxDist)")
    // localCheckpoint cuts the lineage at the 16-byte (id, fp) rows so
    // the skew probe and the two join sides never re-decode payloads —
    // decode is the expensive stage here, unlike the text pipelines
    // whose fingerprint recompute is cheap codegen
    val fps = fingerprints(spark, media).localCheckpoint()
    // "auto": pick the blocking scheme by measured corpus size — the
    // count is a metadata-cheap action on the already-checkpointed
    // 16-byte rows.  Below the threshold the 70-key fanout IS the cost
    // (measured: 2.10 s -> 1.27 s at 6.5k fps, 205 s -> 23.8 s at
    // 650k fps, 751 s -> 78 s at 2.15M fps — identical output each
    // time); above it, halved12's per-key bucket mass grows as n/2^16
    // and its quadratic candidate verify eventually overtakes combo8's
    // near-O(1)-per-bucket 32-bit keys — but the verify is cheap
    // codegen (xor+bit_count on 24-byte rows) while combo8's cost is a
    // 70x key-row SHUFFLE, so the measured crossover sits far above
    // the random-fp model's ~600k estimate.  The 2M default is now
    // MEASURED AT ITS OWN BOUNDARY (round-14 A/B at 2.15M: halved12's
    // margin 9.7x, i.e. not shrinking between 650k and 2.15M); combo8
    // remains the unbounded-scale default.
    val schemeEff =
      if (scheme == "auto") {
        val thr = spark.conf
          .get("spark.graft.imageBandAutoThreshold", "2000000").toLong
        if (maxDist <= 4 && fps.count() <= thr) "halved12" else "combo8"
      } else scheme
    val keys = if (schemeEff == "halved12") halvedKeys(col("fp"))
               else comboKeys(col("fp"), maskBlocks)
    val blocked = fps.select(col("media_id"), col("fp"),
      explode(array(keys: _*)).as("bk"))
    // measured-skew salting gate (Dedup.adaptiveSalts rationale): a
    // re-upload farm puts thousands of near-identical fingerprints in
    // one mask-key bucket and needs the spread; a normal corpus
    // doesn't, and the probe-side ×salts replication would be the
    // dominant cost.  Probed on the ACTUAL blocking key, so clone
    // families whose fps differ only in masked blocks still trip it;
    // an explicit salts value bypasses the gate entirely.
    val saltsEff = Dedup.adaptiveSalts(blocked, Seq(col("bk")), salts)
    val parts = spark.sessionState.conf.numShufflePartitions
    val a = blocked.select(col("bk"), col("media_id").as("media_a"),
        col("fp").as("fp_a"))
      .withColumn("__salt", pmod(hash(col("media_a")), lit(saltsEff)))
      .repartition(parts, col("bk"), col("__salt"))
    val b = blocked.select(col("bk"), col("media_id").as("media_b"),
        col("fp").as("fp_b"))
      .withColumn("__salt", explode(sequence(lit(0), lit(saltsEff - 1))))
      .repartition(parts, col("bk"), col("__salt"))
    a.join(b, Seq("bk", "__salt"))
      .filter(col("media_a") < col("media_b"))
      .select(col("media_a"), col("media_b"), col("fp_a"), col("fp_b"))
      .distinct()
      .repartition(parts)
      .withColumn("hamming",
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("int"))
      .filter(col("hamming") <= maxDist)
      .select(col("media_a"), col("media_b"), col("hamming"))
  }
}
