package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, processed in partition-sized
  * batches.
  *
  * The Spark-side architecture is real — schema, partitioning, batch
  * shape, and the mapPartitions seam where decoders plug in. The decode
  * itself is REAL bytes end to end: header metadata from actual
  * PNG/BMP/JPEG/WAV encodings ([[decodeImageMeta]]/[[decodeAudioMeta]]),
  * and FULL PIXEL decode for PNG ([[ImageCodec.parsePngPixels]]: chunk
  * walk → zlib inflate → the complete §9 un-filter pass), gated on exact
  * pixel statistics (`q_multimodal_pixels`). Payloads in codecs the JVM
  * can't decode (video containers, lossy audio) take [[byteFeatures]] —
  * an honest byte-level content signature that never pretends to be a
  * decoder. Swapping in further codecs (JNI/FFI or a Python worker via
  * Arrow batches) changes no plan shape.
  *
  * Scale notes: payloads stay columnar parquet binary — never strings,
  * never driver-collected. Feature extraction is scan-local (no shuffle);
  * `repartition(byteBudget)` ahead of decode balances skew from variable
  * payload sizes.
  */
object Multimodal {

  case class MediaRow(media_id: Long, kind: String, payload: Array[Byte],
                      width: Int, height: Int, duration_ms: Long)
  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Int,
                           checksum: Long, feature: Array[Float])

  /** Build a media table from the documents corpus: payload = UTF-8 bytes,
    * metadata derived deterministically (stand-in for real assets). */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").as("payload"),
      (col("doc_id") % 640 + 16).cast("int").as("width"),
      (col("doc_id") % 480 + 16).cast("int").as("height"),
      (col("n_chars") * 10).as("duration_ms"))

  /** Byte-level content signature (rolling checksum + 8 byte-value
    * buckets) for payloads in codecs the JVM can't decode. This is NOT a
    * decoder and doesn't claim to be — it's the honest fallback feature
    * for opaque binary (video containers, proprietary audio); decodable
    * payloads (PNG) take the real pixel path in [[extractFeatures]]. */
  def byteFeatures(payload: Array[Byte]): (Long, Array[Float]) = {
    var checksum = 0L
    val feat = new Array[Float](8)
    var i = 0
    while (i < payload.length) {
      checksum = checksum * 31 + (payload(i) & 0xff)
      feat(i % 8) += (payload(i) & 0xff) / 255.0f
      i += 1
    }
    (checksum, feat)
  }

  /** Real pixel features for a decoded image: checksum over the
    * reconstructed pixel stream and an 8-bucket intensity profile
    * (mean pixel value per spatial eighth of the stream, normalized) —
    * deterministic, and wrong-by-construction if the un-filter pass or
    * inflate is off by even one byte. */
  private def pixelFeatures(img: ImageCodec.PixelImage)
      : (Long, Array[Float]) = {
    val px = img.pixels
    var checksum = 0L
    val sums = new Array[Long](8)
    val counts = new Array[Long](8)
    var i = 0
    while (i < px.length) {
      val v = px(i) & 0xff
      checksum = checksum * 31 + v
      val bucket = (i.toLong * 8 / px.length).toInt
      sums(bucket) += v; counts(bucket) += 1
      i += 1
    }
    val feat = new Array[Float](8)
    i = 0
    while (i < 8) {
      feat(i) =
        if (counts(i) == 0) 0f
        else (sums(i).toDouble / counts(i) / 255.0).toFloat
      i += 1
    }
    (checksum, feat)
  }

  /** Image payloads with REAL encoded headers: ids rotate BMP / PNG /
    * JPEG by `doc_id % 3` (dimensions from the same doc-derived formula
    * as [[mediaFromDocuments]], plus `doc_id % 32` filler bytes). The
    * bytes are genuine format headers — the JPEG even requires a segment
    * walk past its APP0 to reach the SOF — so [[decodeImageMeta]] must
    * invert this builder through actual parsing, which the
    * `q_multimodal_meta` gate pins end-to-end. */
  def syntheticImages(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"),
        (col("doc_id") % 640 + 16).cast("int"),
        (col("doc_id") % 480 + 16).cast("int"))
      .as[(Long, Int, Int)]
      .map { case (id, w, h) =>
        val pad = (id % 32).toInt
        val payload = (id % 3) match {
          case 0 => ImageCodec.buildBmp(w, h, pad)
          case 1 => ImageCodec.buildPng(w, h, pad)
          case _ => ImageCodec.buildJpeg(w, h, pad)
        }
        (id, payload)
      }.toDF("media_id", "payload")
  }

  /** REAL decode in the mapPartitions seam: parse each payload's actual
    * bytes ([[ImageCodec]] — PNG/BMP header formats) into typed metadata.
    * Scan-local, header-only, no shuffle; unparseable payloads yield null
    * format/dims (corruption is visible, never fabricated). Full pixel
    * decode, featurization, and resampling are equally real —
    * [[decodePixelStats]], [[extractFeatures]], [[resizePixels]]. */
  def decodeImageMeta(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val n = if (bytes == null) 0 else bytes.length
        ImageCodec.parse(bytes) match {
          case Some(m) =>
            (id, Option(m.format), Option(m.width), Option(m.height), n)
          case None =>
            (id, None: Option[String], None: Option[Int],
              None: Option[Int], n)
        }
      }).toDF("media_id", "format", "width", "height", "n_bytes")
  }

  /** Synthetic images WITH PIXELS: real PNGs ([[ImageCodec.buildPngPixels]]
    * — zlib IDAT, all five row filters in rotation) whose pixel values
    * follow a pure-arithmetic formula an SQL oracle can replay:
    * dims `(id%13+4) × (id%11+4)`, grayscale/RGB by id parity, pixel k =
    * `(id·31 + k·7 + 13) mod 251`. The `q_multimodal_pixels` gate decodes
    * these back and must reproduce the formula's statistics exactly —
    * deflate, chunk CRC layout, and every filter inversion sit on the
    * gated path. */
  def syntheticPixelImages(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .map { id =>
        val w = (id % 13 + 4).toInt
        val h = (id % 11 + 4).toInt
        val ch = if (id % 2 == 0) 1 else 3
        val px = new Array[Byte](w * h * ch)
        var k = 0
        while (k < px.length) {
          px(k) = ((id * 31 + k.toLong * 7 + 13) % 251).toByte
          k += 1
        }
        (id, ImageCodec.buildPngPixels(w, h, ch, px))
      }.toDF("media_id", "payload")
  }

  /** [[syntheticPixelImages]] in the Adam7 INTERLACED layout
    * ([[ImageCodec.buildPngPixelsInterlaced]]): the same formula pixels
    * delivered as seven independently filtered passes — the progressive
    * layout crawled web PNGs ship. The `q_multimodal_png_interlaced`
    * gate shares the sequential gate's oracle, so the pass-grid
    * reassembly must converge on the identical statistics. */
  def syntheticPixelImagesInterlaced(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .map { id =>
        val w = (id % 13 + 4).toInt
        val h = (id % 11 + 4).toInt
        val ch = if (id % 2 == 0) 1 else 3
        val px = new Array[Byte](w * h * ch)
        var k = 0
        while (k < px.length) {
          px(k) = ((id * 31 + k.toLong * 7 + 13) % 251).toByte
          k += 1
        }
        (id, ImageCodec.buildPngPixelsInterlaced(w, h, ch, px))
      }.toDF("media_id", "payload")
  }

  /** REAL pixel decode in the mapPartitions seam: inflate + un-filter
    * each payload's actual IDAT bytes and reduce the reconstructed pixel
    * stream to exact integer statistics (sum, min, max, and a
    * position-weighted sum that catches any reordering). Scan-local, no
    * shuffle; undecodable payloads yield null stats, never fabricated
    * pixels. */
  def decodePixelStats(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        ImageCodec.parsePngPixels(bytes) match {
          case Some(img) =>
            val px = img.pixels
            var sum = 0L; var wsum = 0L
            var mn = 255; var mx = 0
            var k = 0
            while (k < px.length) {
              val v = px(k) & 0xff
              sum += v; wsum += (k + 1).toLong * v
              if (v < mn) mn = v
              if (v > mx) mx = v
              k += 1
            }
            (id, Option(img.width), Option(img.height),
              Option(img.channels), Option(px.length.toLong), Option(sum),
              Option(mn), Option(mx), Option(wsum))
          case None =>
            (id, None: Option[Int], None: Option[Int], None: Option[Int],
              None: Option[Long], None: Option[Long], None: Option[Int],
              None: Option[Int], None: Option[Long])
        }
      }).toDF("media_id", "width", "height", "channels", "n_px",
        "px_sum", "px_min", "px_max", "px_wsum")
  }

  /** Annotated-image fixtures: real PNGs (4×4 grayscale, formula pixels
    * `(id·13 + k·11 + 7) mod 251`) carrying real tEXt metadata chunks —
    * provenance ("source", "license") on every image and a planted PII
    * contact line on every 11th. An SQL oracle replays the string
    * formulas; the Spark side must walk actual chunks back. */
  def syntheticAnnotatedImages(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val licenses = Vector("cc0", "cc-by", "proprietary")
    docs.select(col("doc_id")).as[Long]
      .map { id =>
        val px = Array.tabulate(16)(k =>
          ((id * 13 + k.toLong * 11 + 7) % 251).toByte)
        val texts = Seq(
          "source" -> s"crawl-${id % 7}",
          "license" -> licenses((id % 3).toInt)) ++
          (if (id % 11 == 0)
             Seq("contact" -> s"user$id@mail.example")
           else Nil)
        (id, ImageCodec.addPngTexts(
          ImageCodec.buildPngPixels(4, 4, 1, px), texts))
      }.toDF("media_id", "payload")
  }

  /** Metadata extraction over the real chunk walk: one row per tEXt
    * entry — the provenance/compliance surface a curation pipeline
    * filters and audits on. Scan-local flatMap; unparseable payloads
    * emit a single null-key row (corruption visible). */
  def extractImageMetadata(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        ImageCodec.parsePngTexts(bytes) match {
          case Some(texts) => texts.iterator.map(t =>
            (id, Option(t._1), Option(t._2)))
          case None => Iterator.single(
            (id, None: Option[String], None: Option[String]))
        }
      }).toDF("media_id", "meta_key", "meta_value")
  }

  /** Privacy strip: drop every ancillary chunk (tEXt/zTXt/iTXt/tIME/
    * eXIf — where camera serials, GPS tags, and contact lines live)
    * keeping the image content byte-identical. Scan-local projection;
    * corrupt payloads become null (visible, not passed through). */
  def stripImageMetadata(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        (id, ImageCodec.stripPngMetadata(bytes).orNull)
      }).toDF("media_id", "payload")
  }

  /** WAV fixtures with REAL spliced LIST/INFO tags (the audio twin of
    * [[syntheticAnnotatedImages]]): recorder provenance on every clip, a
    * planted PII contact comment on every 11th; sample values from a
    * doc_id formula an SQL oracle can replay. */
  def syntheticAnnotatedWavs(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .map { id =>
        val n = (id % 50 + 16).toInt
        val samples = Array.tabulate(n)(k =>
          ((id * 13 + k.toLong * 11 + 7) % 251).toInt - 125)
        val entries = Seq(
          "IART" -> s"crawler-${id % 7}",
          "INAM" -> s"clip-${id % 5}") ++
          (if (id % 11 == 0) Seq("ICMT" -> s"user$id@mail.example")
           else Nil)
        (id, AudioCodec.addWavInfo(
          AudioCodec.buildWavPcm(1, 8000, 16, samples), entries))
      }.toDF("media_id", "payload")
  }

  /** INFO-tag extraction over the real RIFF chunk walk: one row per
    * entry; unparseable payloads emit a single null-key row (corruption
    * visible, mirroring [[extractImageMetadata]]). */
  def extractAudioMetadata(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        AudioCodec.parseWavInfo(bytes) match {
          case Some(texts) => texts.iterator.map(t =>
            (id, Option(t._1), Option(t._2)))
          case None => Iterator.single(
            (id, None: Option[String], None: Option[String]))
        }
      }).toDF("media_id", "meta_key", "meta_value")
  }

  /** Privacy strip for audio: every ancillary RIFF chunk dropped, PCM
    * content byte-identical; corrupt payloads become null. */
  def stripAudioMetadata(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        (id, AudioCodec.stripWavMetadata(bytes).orNull)
      }).toDF("media_id", "payload")
  }

  /** Synthetic WAV assets from formula parameters — real RIFF bytes
    * ([[AudioCodec.buildWav]]), including an odd-sized LIST chunk every
    * third row so the decode walk must handle word alignment. */
  def syntheticAudio(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .map { id =>
        val channels = (id % 2 + 1).toInt
        val rate = Seq(8000, 16000, 44100)((id % 3).toInt)
        val bits = Seq(8, 16)((id % 2).toInt)
        val frames = id % 1000 + 1
        val listPad = if (id % 3 == 0) (id % 7 + 1).toInt else 0
        (id, AudioCodec.buildWav(channels, rate, bits, frames, listPad))
      }.toDF("media_id", "payload")
  }

  /** Synthetic WAVs WITH PCM PAYLOADS ([[AudioCodec.buildWavPcm]]):
    * sample values follow doc_id formulas an SQL oracle can replay —
    * 8-bit unsigned on every third id (odd data sizes exercise the RIFF
    * pad byte), 16-bit signed otherwise. */
  def syntheticPcmAudio(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .map { id =>
        val channels = (id % 2 + 1).toInt
        val bits = if (id % 3 == 0) 8 else 16
        val nFrames = (id % 50 + 4).toInt
        val samples = Array.tabulate(nFrames * channels) { k =>
          if (bits == 8) ((id * 7 + k.toLong * 13) % 256).toInt
          else ((id * 7 + k.toLong * 13) % 65536).toInt - 32768
        }
        (id, AudioCodec.buildWavPcm(channels, 8000, bits, samples))
      }.toDF("media_id", "payload")
  }

  /** REAL PCM sample decode in the mapPartitions seam: parse each
    * payload's actual data-chunk bytes back to samples and reduce to
    * exact integer statistics (sum, min, max, position-weighted sum —
    * the same shape as [[decodePixelStats]]). Scan-local, no shuffle;
    * truncated payloads yield null stats. */
  def decodePcmStats(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        AudioCodec.parseWavSamples(bytes) match {
          case Some((m, samples)) =>
            var sum = 0L; var wsum = 0L
            var mn = Int.MaxValue; var mx = Int.MinValue
            var k = 0
            while (k < samples.length) {
              val v = samples(k)
              sum += v; wsum += (k + 1).toLong * v
              if (v < mn) mn = v
              if (v > mx) mx = v
              k += 1
            }
            (id, Option(m.channels), Option(m.bitsPerSample),
              Option(m.nFrames), Option(samples.length.toLong),
              Option(sum), Option(mn), Option(mx), Option(wsum))
          case None =>
            (id, None: Option[Int], None: Option[Int],
              None: Option[Long], None: Option[Long], None: Option[Long],
              None: Option[Int], None: Option[Int], None: Option[Long])
        }
      }).toDF("media_id", "channels", "bits", "n_frames", "n_samples",
        "s_sum", "s_min", "s_max", "s_wsum")
  }

  /** REAL audio decode in the mapPartitions seam: parse each payload's
    * actual RIFF bytes into typed metadata. Scan-local, header-only;
    * unparseable payloads yield null metadata (nothing fabricated). */
  def decodeAudioMeta(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        AudioCodec.parseWav(bytes) match {
          case Some(m) =>
            (id, Option(m.channels), Option(m.sampleRate),
              Option(m.bitsPerSample), Option(m.nFrames),
              Option(m.durationUs))
          case None =>
            (id, None: Option[Int], None: Option[Int], None: Option[Int],
              None: Option[Long], None: Option[Long])
        }
      }).toDF("media_id", "channels", "sample_rate", "bits", "n_frames",
        "duration_us")
  }

  /** Real sample features for decoded PCM audio: checksum over the
    * sample stream and an 8-bucket mean-amplitude profile (|s|
    * normalized by the 16-bit range) — the audio twin of
    * [[pixelFeatures]], wrong-by-construction on any sample-decode
    * slip. */
  private def sampleFeatures(samples: Array[Int]): (Long, Array[Float]) = {
    var checksum = 0L
    val sums = new Array[Long](8)
    val counts = new Array[Long](8)
    var i = 0
    while (i < samples.length) {
      val s = samples(i)
      checksum = checksum * 31 + s
      val bucket = (i.toLong * 8 / samples.length).toInt
      sums(bucket) += math.abs(s); counts(bucket) += 1
      i += 1
    }
    val feat = new Array[Float](8)
    i = 0
    while (i < 8) {
      feat(i) =
        if (counts(i) == 0) 0f
        else (sums(i).toDouble / counts(i) / 32768.0).toFloat
      i += 1
    }
    (checksum, feat)
  }

  /** Feature extraction over the media table: partition-local, batched,
    * no shuffle. PNG payloads are ACTUALLY decoded
    * ([[ImageCodec.parsePngPixels]]) and featurized from reconstructed
    * pixels; WAV payloads decode to samples ([[AudioCodec
    * .parseWavSamples]]) and featurize from those; everything else gets
    * the honest [[byteFeatures]] signature. The mapPartitions seam is
    * where further codecs (or an Arrow round-trip to a Python worker)
    * slot in. */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "kind", "payload", "width", "height",
        "duration_ms")
      .as[(Long, String, Array[Byte], Int, Int, Long)]
      .mapPartitions { rows =>
        rows.map { case (id, kind, payload, _, _, _) =>
          val (checksum, feat) = ImageCodec.parsePngPixels(payload) match {
            case Some(img) => pixelFeatures(img)
            case None => AudioCodec.parseWavSamples(payload) match {
              case Some((_, samples)) if samples.nonEmpty =>
                sampleFeatures(samples)
              case _ => byteFeatures(payload)
            }
          }
          MediaFeatures(id, kind, payload.length, checksum, feat)
        }
      }
  }

  /** REAL pixel resize over decoded PNGs: aspect-ratio-preserving fit
    * into a maxDim×maxDim box with ALL-INTEGER geometry (`out_w =
    * w·maxDim / max(w,h)` floored, min 1, upscale suppressed) and
    * nearest-neighbor resampling (`src_x = x·w / out_w` floored — the
    * deterministic NN convention an SQL oracle can replay; box/bilinear
    * filters slot into the same loop). Emits the resampled buffer's
    * exact integer statistics; re-encoding to PNG is one
    * [[ImageCodec.buildPngPixels]] call away and changes no plan shape.
    * Scan-local mapPartitions, no shuffle; undecodable payloads yield
    * null stats. */
  def resizePixels(media: DataFrame, maxDim: Int): DataFrame = {
    require(maxDim > 0, s"maxDim must be positive, got $maxDim")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        ImageCodec.parsePngPixels(bytes) match {
          case Some(img) =>
            val w = img.width; val h = img.height; val ch = img.channels
            val m = math.max(w, h)
            val ow = if (m <= maxDim) w else math.max(1, w * maxDim / m)
            val oh = if (m <= maxDim) h else math.max(1, h * maxDim / m)
            var sum = 0L; var wsum = 0L
            var y = 0
            while (y < oh) {
              val sy = y * h / oh
              var x = 0
              while (x < ow) {
                val sx = x * w / ow
                var c = 0
                while (c < ch) {
                  val v = img.pixels((sy * w + sx) * ch + c) & 0xff
                  val k = (y * ow + x) * ch + c
                  sum += v; wsum += (k + 1).toLong * v
                  c += 1
                }
                x += 1
              }
              y += 1
            }
            (id, Option(w), Option(h), Option(ow), Option(oh), Option(ch),
              Option(ow.toLong * oh * ch), Option(sum), Option(wsum))
          case None =>
            (id, None: Option[Int], None: Option[Int], None: Option[Int],
              None: Option[Int], None: Option[Int], None: Option[Long],
              None: Option[Long], None: Option[Long])
        }
      }).toDF("media_id", "in_w", "in_h", "out_w", "out_h", "channels",
        "n_px", "px_sum", "px_wsum")
  }

  /** Resize for image METADATA tables (no payload decode): the same
    * aspect-fit geometry as [[resizePixels]] expressed as a scan-local
    * projection — the planning path when only dimensions are known.
    * Scan-local: resizing 100 TB of images shuffles nothing. */
  def resizeImages(media: DataFrame, maxDim: Int): DataFrame = {
    require(maxDim > 0, s"maxDim must be positive, got $maxDim")
    // corrupt metadata (null or non-positive dims) propagates as null
    // output dims — fabricating plausible-looking 1px dimensions would
    // hide the corruption from downstream filters
    val valid = col("width").isNotNull && col("height").isNotNull &&
      col("width") > 0 && col("height") > 0
    media.where(col("kind") === "image")
      .withColumn("__scale", when(valid, least(lit(1.0),
        lit(maxDim.toDouble) /
          greatest(col("width"), col("height")).cast("double"))))
      // when(valid, ...) must wrap the WHOLE expression: Spark's greatest()
      // skips nulls, so greatest(1, null) would resurrect a 1px dimension
      .withColumn("out_width", when(valid,
        greatest(lit(1), floor(col("width") * col("__scale")))).cast("int"))
      .withColumn("out_height", when(valid,
        greatest(lit(1), floor(col("height") * col("__scale")))).cast("int"))
      .drop("__scale")
  }

  /** Frame sampling stub for video payloads: selects deterministic byte
    * offsets standing in for frame indices — the real version seeks key
    * frames; the sampling *plan* (explode per frame, scan-local) is real.
    * For containers the JVM can actually walk, [[indexGifFrames]] below
    * is the real thing. */
  def sampleFrames(media: DataFrame, nFrames: Int = 4): DataFrame =
    media.where(col("kind") === "video")
      .select(col("media_id"),
        posexplode(transform(sequence(lit(0), lit(nFrames - 1)),
          i => i * octet_length(col("payload")) / nFrames)))
      .toDF("media_id", "frame_idx", "byte_offset")

  /** Synthetic image corpus WITH PLANTED NEAR-DUPLICATES for the
    * perceptual-hash dedup gates: every id with `id % 5 == 4` re-encodes
    * the PREVIOUS id's image with a tiny perturbation (every 97th pixel
    * bumped by one, mod 251) — a recompressed/retouched copy, the exact
    * thing image dedup must catch. Grayscale PNGs, real zlib IDAT bytes.
    * The pixel stride is base-dependent (`7 + base % 7`): with a fixed
    * stride, two images of the same dimensions differ only by a CONSTANT
    * intensity shift, and a mean-threshold hash is deliberately
    * brightness-invariant — every same-shape pair would collide. An SQL
    * oracle replays the formula. */
  def syntheticNearDupImages(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .map { id =>
        val base = if (id % 5 == 4) id - 1 else id
        // dims at least the 8x8 hash grid: smaller images leave most
        // blocks empty (few informative bits), degenerating the hash
        val w = (base % 13 + 8).toInt
        val h = (base % 11 + 8).toInt
        val px = new Array[Byte](w * h)
        val stride = 7 + (base % 7)
        var k = 0
        while (k < px.length) {
          val v = (base * 31 + k.toLong * stride + 13) % 251
          px(k) =
            if (id % 5 == 4 && k % 97 == 0) ((v + 1) % 251).toByte
            else v.toByte
          k += 1
        }
        (id, ImageCodec.buildPngPixels(w, h, 1, px))
      }.toDF("media_id", "payload")
  }

  /** Perceptual block-mean hash (blockhash/aHash family — public
    * algorithm, e.g. Zauner 2010) over REAL decoded pixels: the image is
    * cut into an 8×8 grid (block of pixel (x,y) = `(y*8/h)*8 + x*8/w` —
    * integer floor, so ragged edges are deterministic), per-block
    * intensity sums are compared to the global mean CROSS-MULTIPLIED
    * (`blockSum * nPx > totalSum * blockPx`) so the whole hash is
    * integer-exact — no float mean an oracle could disagree with. Bits
    * land in two 32-bit halves (`hash_hi` = blocks 32-63) to keep the
    * values positive in any SQL dialect. Intensity = sum of channel
    * bytes, so the same code hashes grayscale and RGB. Blocks an image
    * narrower than the grid never touches hash as 0 on both sides.
    * Scan-local, no shuffle; undecodable payloads yield null hashes. */
  /** Format-agnostic pixel decode: PNG (zlib IDAT) first, then baseline
    * JPEG — so the perceptual pipeline is container-blind and the SAME
    * image stored in both formats lands on the same hash. */
  private def decodeAnyPixels(bytes: Array[Byte])
      : Option[ImageCodec.PixelImage] =
    ImageCodec.parsePngPixels(bytes).orElse(
      JpegCodec.decodeJpegPixels(bytes).map(d =>
        ImageCodec.PixelImage(d.width, d.height, d.nComp, d.pixels)))

  def imageBlockHash(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        decodeAnyPixels(bytes) match {
          case Some(img) =>
            val w = img.width; val h = img.height; val ch = img.channels
            val bs = new Array[Long](64)
            val bn = new Array[Long](64)
            var ts = 0L
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                var v = 0; var c = 0
                while (c < ch) {
                  v += img.pixels((y * w + x) * ch + c) & 0xff; c += 1
                }
                val blk = (y * 8 / h) * 8 + x * 8 / w
                bs(blk) += v; bn(blk) += 1; ts += v
                x += 1
              }
              y += 1
            }
            val tn = w.toLong * h
            // cross-multiplied compare: exact in Long up to ~2^26 px;
            // beyond that (gigapixel scans) fall back to BigInt — the
            // guard costs one compare per block, not per pixel
            val big = tn > (1L << 26)
            var hi = 0L; var lo = 0L; var i = 0
            while (i < 64) {
              val gt =
                if (big) BigInt(bs(i)) * tn > BigInt(ts) * bn(i)
                else bs(i) * tn > ts * bn(i)
              if (gt) { if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32) }
              i += 1
            }
            (id, Option(w), Option(h), Option(hi), Option(lo))
          case None =>
            (id, None: Option[Int], None: Option[Int],
              None: Option[Long], None: Option[Long])
        }
      }).toDF("media_id", "width", "height", "hash_hi", "hash_lo")
  }

  /** The four 16-bit bands of a 64-bit block hash, exploded one row per
    * band — the LSH key both the self-join and the incremental
    * batch×index join meet on. */
  private def hashBands(hashes: DataFrame): DataFrame =
    hashes.where(col("hash_hi").isNotNull)
      .select(col("media_id"), col("hash_hi"), col("hash_lo"),
        posexplode(array(
          col("hash_lo").bitwiseAND(lit(0xffffL)),
          shiftright(col("hash_lo"), 16).bitwiseAND(lit(0xffffL)),
          col("hash_hi").bitwiseAND(lit(0xffffL)),
          shiftright(col("hash_hi"), 16).bitwiseAND(lit(0xffffL)))))
      .toDF("media_id", "hash_hi", "hash_lo", "band", "v")

  /** Incremental image near-dup: a NEW batch of images against a
    * standing hash index — the nightly-ingest path, mirroring
    * [[graft.operators.Dedup.incrementalLshPairs]]. Only the batch is
    * decoded and hashed; the index contributes 3 longs per known image
    * and only its hash-colliding band buckets are touched, so the cost
    * is O(batch + matching buckets), never a corpus rescan. `maxBucket`
    * caps degenerate index bands the same way the self-join does.
    * Output: (batch_id, index_id, hamming). */
  def incrementalImageNearDups(index: DataFrame, batch: DataFrame,
                               maxHamming: Int = 6,
                               maxBucket: Int = 100000): DataFrame = {
    val ib = hashBands(index
        .select(col("media_id"), col("hash_hi"), col("hash_lo")))
      .withColumn("__n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("band", "v")))
      .where(col("__n") <= maxBucket).drop("__n")
      .select(col("media_id").as("index_id"), col("hash_hi").as("ihi"),
        col("hash_lo").as("ilo"), col("band"), col("v"))
    val bb = hashBands(imageBlockHash(batch))
      .select(col("media_id").as("batch_id"), col("hash_hi").as("bhi"),
        col("hash_lo").as("blo"), col("band"), col("v"))
    bb.join(ib, Seq("band", "v"))
      .select("batch_id", "index_id", "bhi", "blo", "ihi", "ilo")
      .distinct()
      .withColumn("hamming",
        (bit_count(col("bhi").bitwiseXOR(col("ihi"))) +
          bit_count(col("blo").bitwiseXOR(col("ilo")))).cast("int"))
      .where(col("hamming") <= maxHamming)
      .select("batch_id", "index_id", "hamming")
  }

  /** Retouched-batch fixtures for the incremental gate: every 10th id
    * re-encodes ITS OWN image with a second, different perturbation
    * (every 89th pixel bumped by two) under a shifted media id — the
    * next crawl's slightly-recompressed copies arriving against the
    * standing index. */
  def syntheticBatchImages(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .filter(_ % 10 == 0)
      .map { id =>
        val w = (id % 13 + 8).toInt
        val h = (id % 11 + 8).toInt
        val px = new Array[Byte](w * h)
        val stride = 7 + (id % 7)
        var k = 0
        while (k < px.length) {
          val v = (id * 31 + k.toLong * stride + 13) % 251
          px(k) =
            if (k % 89 == 0) ((v + 2) % 251).toByte
            else v.toByte
          k += 1
        }
        (id + 1000000, ImageCodec.buildPngPixels(w, h, 1, px))
      }.toDF("media_id", "payload")
  }

  /** Near-duplicate image pairs by banded perceptual hash: the 64-bit
    * block hash splits into four 16-bit bands; only pairs sharing at
    * least one exact band meet (equi-join on (band, value) — a shuffle
    * join on a compact key, NEVER all-pairs), then the full Hamming
    * distance over both halves gates the candidates. A recompressed
    * copy differs in a few borderline bits, so some band almost always
    * survives intact — the standard banding argument from MinHash-LSH
    * applied to perceptual hashes. `maxBucket` caps degenerate bands
    * (e.g. millions of blank thumbnails hashing to 0) exactly like
    * [[graft.operators.Dedup]]'s hot-bucket cap. */
  def imageNearDups(hashes: DataFrame, maxHamming: Int = 6,
                    maxBucket: Int = 100000): DataFrame = {
    val bands = hashBands(hashes)
    // staged: the decode → hash → band derivation feeds BOTH join sides;
    // un-persisted, Spark would decode and hash every image twice (the
    // tracked persist is released by OperatorCaches.releaseAll)
    val capped = graft.operators.OperatorCaches.cache(
      bands.withColumn("__n",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy("band", "v")))
        .where(col("__n") <= maxBucket).drop("__n"))
    val a = capped.select(col("media_id").as("id1"),
      col("hash_hi").as("hi1"), col("hash_lo").as("lo1"),
      col("band"), col("v"))
    val b = capped.select(col("media_id").as("id2"),
      col("hash_hi").as("hi2"), col("hash_lo").as("lo2"),
      col("band"), col("v"))
    a.join(b, Seq("band", "v"))
      .where(col("id1") < col("id2"))
      .select("id1", "id2", "hi1", "lo1", "hi2", "lo2")
      .distinct()
      .withColumn("hamming",
        (bit_count(col("hi1").bitwiseXOR(col("hi2"))) +
          bit_count(col("lo1").bitwiseXOR(col("lo2")))).cast("int"))
      .where(col("hamming") <= maxHamming)
      .select("id1", "id2", "hamming")
  }

  /** Mono 16-bit PCM fixtures for the windowed-feature gate: real RIFF
    * bytes ([[AudioCodec.buildWavPcm]]), sample values from a doc_id
    * formula an SQL oracle can replay. */
  def syntheticMonoPcm(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .map { id =>
        val n = (id % 200 + 32).toInt
        val samples = Array.tabulate(n) { k =>
          ((id * 7 + k.toLong * 13) % 65536).toInt - 32768
        }
        (id, AudioCodec.buildWavPcm(1, 8000, 16, samples))
      }.toDF("media_id", "payload")
  }

  /** Windowed audio features over REAL decoded PCM: fixed windows of
    * `win` samples (last window ragged), per window the energy proxy
    * (sum of squares), amplitude extremes, and the zero-crossing count
    * (sign flips between consecutive samples INSIDE the window;
    * `sign(0)` counts as non-negative) — the standard cheap features a
    * speech-data pipeline filters on (silence/clipping detection).
    * All-integer, scan-local flatMap, no shuffle; undecodable payloads
    * emit nothing (corruption surfaces in the meta gate, not here). */
  def audioFrameFeatures(media: DataFrame, win: Int = 16): DataFrame = {
    require(win > 0, s"win must be positive, got $win")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        AudioCodec.parseWavSamples(bytes) match {
          case Some((_, samples)) =>
            val nWin = (samples.length + win - 1) / win
            (0 until nWin).iterator.map { f =>
              val start = f * win
              val end = math.min(samples.length, start + win)
              var sum = 0L; var sq = 0L; var zc = 0L
              var mn = Int.MaxValue; var mx = Int.MinValue
              var k = start
              while (k < end) {
                val s = samples(k)
                sum += s; sq += s.toLong * s
                if (s < mn) mn = s
                if (s > mx) mx = s
                if (k > start) {
                  val p = samples(k - 1)
                  if ((p < 0 && s >= 0) || (p >= 0 && s < 0)) zc += 1
                }
                k += 1
              }
              (id, f, (end - start).toLong, sum, sq,
                mn.toLong, mx.toLong, zc)
            }
          case None => Iterator.empty
        }
      }).toDF("media_id", "frame_idx", "n_samples", "s_sum", "sq_sum",
        "s_min", "s_max", "zc")
  }

  /** PCM fixtures with PLANTED SILENCE for the segmentation gate: every
    * 7-window cycle, windows 2-3 carry near-silence (|s| ≤ 2) while the
    * rest replay the loud formula (mean square ≥ ~58k per window — no
    * knife-edge against the threshold). Real RIFF bytes; an SQL oracle
    * replays the formulas. */
  def syntheticSpeechPcm(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .map { id =>
        val n = (id % 200 + 48).toInt
        val samples = Array.tabulate(n) { k =>
          if ((k / 16) % 7 == 2 || (k / 16) % 7 == 3)
            ((id + k) % 5).toInt - 2
          else ((id * 7 + k.toLong * 13) % 65536).toInt - 32768
        }
        (id, AudioCodec.buildWavPcm(1, 8000, 16, samples))
      }.toDF("media_id", "payload")
  }

  /** Silence segmentation over REAL decoded PCM (the
    * voice-activity-detection shape a speech pipeline trims with): a
    * window of `win` samples is silent when its energy stays under the
    * mean-square threshold (`sq_sum < threshold·n` — integer
    * cross-multiply, no division), and consecutive silent windows merge
    * into one segment (start/end frame, length). Segmentation is
    * per-payload, so the whole operator is ONE scan-local flatMap — the
    * gaps-and-islands pass costs no shuffle at all, unlike its SQL
    * twin. Undecodable payloads emit nothing. */
  def silenceSegments(media: DataFrame, win: Int = 16,
                      meanSquareThreshold: Long = 100): DataFrame = {
    require(win > 0, s"win must be positive, got $win")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        AudioCodec.parseWavSamples(bytes) match {
          case Some((_, samples)) =>
            val nWin = (samples.length + win - 1) / win
            val segs = Seq.newBuilder[(Long, Int, Int, Long)]
            var runStart = -1
            var f = 0
            while (f < nWin) {
              val start = f * win
              val end = math.min(samples.length, start + win)
              var sq = 0L
              var k = start
              while (k < end) {
                val s = samples(k); sq += s.toLong * s; k += 1
              }
              val silent = sq < meanSquareThreshold * (end - start)
              if (silent && runStart < 0) runStart = f
              if (!silent && runStart >= 0) {
                segs += ((id, runStart, f - 1, (f - runStart).toLong))
                runStart = -1
              }
              f += 1
            }
            if (runStart >= 0)
              segs += ((id, runStart, nWin - 1, (nWin - runStart).toLong))
            segs.result().iterator
          case None => Iterator.empty
        }
      }).toDF("media_id", "start_frame", "end_frame", "n_frames")
  }

  /** Uniform frame sampling over a REAL container walk: index the GIF's
    * actual frames ([[GifCodec.parseFrames]]), then keep the distinct
    * indices `⌊j·n/k⌋` for `j < k` — the deterministic uniform-k policy
    * a video pipeline uses when it can't afford every frame. Emits the
    * sampled frames' geometry/timing plus the image-descriptor byte
    * offset a decoder would seek to. Scan-local; unparseable payloads
    * emit nothing. */
  def sampleGifFramesUniform(media: DataFrame, k: Int = 4): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        GifCodec.parseFrames(bytes) match {
          case Some(frames) =>
            val n = frames.length
            (0 until k).map(j => j * n / k).distinct.iterator.map { fi =>
              val f = frames(fi)
              (id, f.index, f.x, f.y, f.width, f.height, f.delayCs,
                f.byteOffset)
            }
          case None => Iterator.empty
        }
      }).toDF("media_id", "frame_idx", "x", "y", "width", "height",
        "delay_cs", "byte_offset")
  }

  /** Synthetic animated GIFs with REAL container structure
    * ([[GifCodec.buildGif]] — GIF89a, graphic-control extensions, image
    * descriptors, length-prefixed LZW sub-blocks): frame count, per-frame
    * geometry, and delays all follow doc_id formulas an SQL oracle can
    * replay; payload filler varies (including zero-length) so the walk
    * must skip data blocks by their actual length bytes. */
  def syntheticGifs(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .map { id =>
        val n = (id % 5 + 1).toInt
        val frames = (0 until n).map { i =>
          (((id + i) % 3).toInt, ((id + 2 * i) % 2).toInt,
            ((id + i) % 13 + 1).toInt, ((id + 2 * i) % 11 + 1).toInt,
            ((id + i) % 50 + 2).toInt)
        }
        (id, GifCodec.buildGif(16, 16, frames,
          i => ((id + i) % 7).toInt))
      }.toDF("media_id", "payload")
  }

  /** REAL frame indexing in the mapPartitions seam: walk each payload's
    * actual GIF block stream ([[GifCodec.parseFrames]]) and emit one row
    * per frame — geometry, timing, byte offset of the image descriptor
    * (a downstream decoder seeks straight to a sampled frame). Scan-local
    * explode, O(container bytes), LZW payloads skipped by length and
    * never inflated; unparseable payloads emit a single all-null frame
    * row (corruption visible, never silent absence). */
  def indexGifFrames(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        GifCodec.parseFrames(bytes) match {
          case Some(frames) => frames.iterator.map(f =>
            (id, Option(f.index), Option(f.x), Option(f.y),
              Option(f.width), Option(f.height), Option(f.delayCs),
              Option(f.byteOffset)))
          case None => Iterator.single(
            (id, None: Option[Int], None: Option[Int], None: Option[Int],
              None: Option[Int], None: Option[Int], None: Option[Int],
              None: Option[Int]))
        }
      }).toDF("media_id", "frame_idx", "x", "y", "width", "height",
        "delay_cs", "byte_offset")
  }

  /** Synthetic GIFs WITH PIXELS ([[GifCodec.buildGifPixels]] — real
    * global color table + genuine LZW-compressed frame data): palette
    * size, palette entries, and every color index follow doc_id
    * formulas an SQL oracle can replay — dims `(id%13+4) × (id%11+4)`,
    * 2^(id%4+2) colors, palette j = ((3j+7)%256, (5j+11)%256,
    * (7j+13)%256), index k = `(id·17 + k·23 + 5) mod nColors`. Every
    * third id is stored INTERLACED, so the 4-pass row reorder sits on
    * the gated path too. */
  def syntheticGifPixels(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .map { id =>
        val w = (id % 13 + 4).toInt
        val h = (id % 11 + 4).toInt
        val m = (id % 4 + 2).toInt
        val n = 1 << m
        val pal = new Array[Byte](3 * n)
        var j = 0
        while (j < n) {
          pal(3 * j) = ((3 * j + 7) % 256).toByte
          pal(3 * j + 1) = ((5 * j + 11) % 256).toByte
          pal(3 * j + 2) = ((7 * j + 13) % 256).toByte
          j += 1
        }
        val idx = new Array[Byte](w * h)
        var k = 0
        while (k < idx.length) {
          idx(k) = ((id * 17 + k.toLong * 23 + 5) % n).toByte
          k += 1
        }
        (id, GifCodec.buildGifPixels(w, h, pal, idx,
          interlaced = id % 3 == 0))
      }.toDF("media_id", "payload")
  }

  /** Animated fixtures for the keyframe detector: real multi-frame
    * GIF89a ([[GifCodec.buildGifAnimPixels]]) where frames pair into
    * SCENES (frame f draws scene `f/2`: within a scene, frames are
    * identical; across scenes every pixel shifts by 37 mod nColors —
    * 37 is odd and nColors a power of two, so the shift never cancels
    * and the boundary is knife-edge free). An SQL oracle replays the
    * index formulas. */
  def syntheticAnimatedPixels(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .map { id =>
        val w = (id % 9 + 4).toInt
        val h = (id % 7 + 4).toInt
        val m = (id % 3 + 2).toInt
        val n = 1 << m
        val pal = new Array[Byte](3 * n)
        var j = 0
        while (j < n) {
          pal(3 * j) = ((3 * j + 7) % 256).toByte
          pal(3 * j + 1) = ((5 * j + 11) % 256).toByte
          pal(3 * j + 2) = ((7 * j + 13) % 256).toByte
          j += 1
        }
        val nf = (id % 4 + 2).toInt
        val frames = (0 until nf).map { f =>
          val sc = f / 2
          Array.tabulate(w * h)(k =>
            ((id * 17 + k.toLong * 23 + sc * 37 + 5) % n).toByte)
        }
        (id, GifCodec.buildGifAnimPixels(w, h, pal, frames))
      }.toDF("media_id", "payload")
  }

  /** Content-based keyframe detection over REAL all-frame decode
    * ([[GifCodec.parseGifFramesPixels]]): per frame, the sum of
    * absolute index deltas against the previous frame — zero within a
    * still scene, large at a cut — marks keyframes (frame 0 always
    * is). This is the real version of the uniform-k budget policy in
    * [[sampleGifFramesUniform]]: sample where content CHANGES. The
    * whole delta chain runs inside one scan-local flatMap (frames of
    * one payload never cross a partition boundary, so no shuffle);
    * frames whose geometry differs from their predecessor count as
    * keyframes with a null delta. Undecodable payloads emit nothing. */
  def gifKeyframes(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        GifCodec.parseGifFramesPixels(bytes) match {
          case Some(frames) =>
            frames.iterator.zipWithIndex.map { case (f, i) =>
              if (i == 0) (id, i, f.indices.length.toLong,
                None: Option[Long], true)
              else {
                val prev = frames(i - 1)
                if (prev.width != f.width || prev.height != f.height)
                  (id, i, f.indices.length.toLong, None: Option[Long],
                    true)
                else {
                  var d = 0L
                  var k = 0
                  while (k < f.indices.length) {
                    d += math.abs((f.indices(k) & 0xff) -
                      (prev.indices(k) & 0xff))
                    k += 1
                  }
                  (id, i, f.indices.length.toLong, Option(d), d > 0)
                }
              }
            }
          case None => Iterator.empty
        }
      }).toDF("media_id", "frame_idx", "n_px", "delta_sum", "is_key")
  }

  /** REAL GIF pixel decode in the mapPartitions seam: LZW-decompress
    * each payload's first frame ([[GifCodec.parseGifPixels]]) and reduce
    * indices AND palette-mapped RGB to exact integer statistics (the
    * position-weighted index sum catches any reordering — including a
    * missed or misordered de-interlace pass; the RGB sum catches palette
    * lookup slips). Scan-local, no shuffle; undecodable payloads yield
    * null stats, never fabricated pixels. */
  def decodeGifPixelStats(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        GifCodec.parseGifPixels(bytes) match {
          case Some(img) =>
            var iSum = 0L; var iWsum = 0L; var rgbSum = 0L
            var k = 0
            while (k < img.indices.length) {
              val v = img.indices(k) & 0xff
              iSum += v; iWsum += (k + 1).toLong * v
              rgbSum += (img.rgb(3 * k) & 0xff) +
                (img.rgb(3 * k + 1) & 0xff) + (img.rgb(3 * k + 2) & 0xff)
              k += 1
            }
            (id, Option(img.width), Option(img.height),
              Option(img.nColors), Option(img.indices.length.toLong),
              Option(iSum), Option(iWsum), Option(rgbSum))
          case None =>
            (id, None: Option[Int], None: Option[Int], None: Option[Int],
              None: Option[Long], None: Option[Long], None: Option[Long],
              None: Option[Long])
        }
      }).toDF("media_id", "width", "height", "n_colors", "n_px",
        "idx_sum", "idx_wsum", "rgb_sum")
  }

  /** PCM fixtures with PLANTED NEAR-DUPLICATES for the audio-fingerprint
    * gate (mirror of [[syntheticNearDupImages]]): every id with
    * `id % 5 == 4` re-records the previous id's signal with every 97th
    * sample nudged (+3 in the pre-wrap formula) — the "same recording,
    * slightly different encode" class an audio dedup pass must catch.
    * Real RIFF bytes; the sample formula is SQL-replayable. */
  def syntheticNearDupPcm(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .map(id =>
        (id, AudioCodec.buildWavPcm(1, 8000, 16, neardupPcmSamples(id))))
      .toDF("media_id", "payload")
  }

  /** Gzip fixtures for the compressed-ingestion gate: each document's
    * text deflated with the JVM's Deflater (RFC 1952 members) — what a
    * Common-Crawl-style lake's compressed text column carries. */
  def gzipTexts(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write((if (text == null) "" else text)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        gz.close()
        (id, bos.toByteArray)
      }).toDF("media_id", "payload")
  }

  /** Scan-local gzip text decode — compressed-payload ingestion with a
    * ZIP-BOMB GUARD: decompression stops at `maxBytes` and yields null
    * (as does any corrupt stream), so a hostile member that inflates a
    * few KB into gigabytes can never take down an executor. At 100 TB
    * this is one `mapPartitions` over the payload scan, no shuffle;
    * trailing garbage after the gzip member is tolerated (read stops at
    * the member end, the RFC 1952 contract). */
  def gunzipText(media: DataFrame, maxBytes: Int = 1 << 26): DataFrame = {
    require(maxBytes > 0, s"maxBytes must be positive, got $maxBytes")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val text: String =
          if (bytes == null) null
          else try {
            val in = new java.util.zip.GZIPInputStream(
              new java.io.ByteArrayInputStream(bytes))
            val out = new java.io.ByteArrayOutputStream()
            val buf = new Array[Byte](8192)
            var total = 0L
            var bombed = false
            var n = in.read(buf)
            while (n > 0 && !bombed) {
              total += n
              if (total > maxBytes) bombed = true
              else {
                out.write(buf, 0, n)
                n = in.read(buf)
              }
            }
            if (bombed) null
            else new String(out.toByteArray,
              java.nio.charset.StandardCharsets.UTF_8)
          } catch { case _: java.io.IOException => null }
        (id, text)
      }).toDF("media_id", "text")
  }

  /** Mixed-codec fixtures: even doc_ids gzip, odd doc_ids zstd (real
    * RFC 8878 frames via the zstd-jni codec Spark itself ships for
    * parquet) — a lake whose text column accreted under two codec
    * generations, the case [[sniffDecompressText]] exists for. */
  def compressedTexts(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val raw = (if (text == null) "" else text)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val bos = new java.io.ByteArrayOutputStream()
        val cs: java.io.OutputStream =
          if (id % 2 == 0) new java.util.zip.GZIPOutputStream(bos)
          else new com.github.luben.zstd.ZstdOutputStreamNoFinalizer(bos)
        cs.write(raw); cs.close()
        (id, bos.toByteArray)
      }).toDF("media_id", "payload")
  }

  /** Codec-sniffing text decode: dispatch on the frame magic — gzip
    * `1f 8b` (RFC 1952) or zstd `28 b5 2f fd` (RFC 8878) — then stream
    * through the SAME bounded-copy bomb guard as [[gunzipText]].
    * Unknown magic, corrupt frame, or over-cap inflation → null text
    * with the sniffed codec preserved (so a lake audit can COUNT the
    * bad rows per codec). Scan-local, no shuffle — the decode seam a
    * mixed-generation 100 TB lake actually needs, since codec metadata
    * is routinely lost between ingestion eras. */
  def sniffDecompressText(media: DataFrame, maxBytes: Int = 1 << 26): DataFrame = {
    require(maxBytes > 0, s"maxBytes must be positive, got $maxBytes")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val codec: String =
          if (bytes == null || bytes.length < 4) "unknown"
          else if (bytes(0) == 0x1f.toByte && bytes(1) == 0x8b.toByte) "gzip"
          else if (bytes(0) == 0x28.toByte && bytes(1) == 0xb5.toByte &&
                   bytes(2) == 0x2f.toByte && bytes(3) == 0xfd.toByte) "zstd"
          else "unknown"
        val text: String =
          if (codec == "unknown") null
          else try {
            val in: java.io.InputStream = codec match {
              case "gzip" => new java.util.zip.GZIPInputStream(
                new java.io.ByteArrayInputStream(bytes))
              case _ => new com.github.luben.zstd.ZstdInputStreamNoFinalizer(
                new java.io.ByteArrayInputStream(bytes))
            }
            try {
              val out = new java.io.ByteArrayOutputStream()
              val buf = new Array[Byte](8192)
              var total = 0L
              var bombed = false
              var n = in.read(buf)
              while (n > 0 && !bombed) {
                total += n
                if (total > maxBytes) bombed = true
                else { out.write(buf, 0, n); n = in.read(buf) }
              }
              if (bombed) null
              else new String(out.toByteArray,
                java.nio.charset.StandardCharsets.UTF_8)
            } finally in.close()
          } catch { case _: java.io.IOException => null }
        (id, codec, text)
      }).toDF("media_id", "codec", "text")
  }

  /** WARC shard fixtures for the crawl-ingestion gate: documents
    * grouped ~[[docsPerFile]] per shard (the real layout — thousands of
    * records per 1 GB shard, not one file per page), each shard a real
    * ISO 28500 stream: a warcinfo record, then per document a request
    * record AND a response record whose HTTP/1.1 payload carries the
    * text — so the parser must both skip non-response records and
    * strip HTTP headers. Crawl lakes mix GENERATIONS, and the fixture
    * plants all of them by fileId % 3: 0 → plain (uncompressed) WARC
    * with Content-Length bodies, 1 → per-record-gzip .warc.gz with
    * Content-Length bodies, 2 → .warc.gz whose responses use chunked
    * transfer-encoding with gzip (even ids) / deflate (odd) content
    * encoding. URI and WARC-Date follow doc_id formulas an SQL oracle
    * can replay. The groupBy here is fixture-side only; the graded
    * decode is scan-local. */
  def syntheticWarcFiles(docs: DataFrame, docsPerFile: Int = 16): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .groupByKey { case (id, _) => Math.floorDiv(id, docsPerFile.toLong) }
      .mapGroups { (fileId, it) =>
        val members = it.toArray.sortBy(_._1)
        val chunkedGen = fileId % 3 == 2
        val info = WarcCodec.WarcRecord("warcinfo", None,
          Some(warcDate(fileId * docsPerFile)),
          "software: graft\r\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val recs = info +: members.flatMap { case (id, text) =>
          val uri = s"https://example.com/doc/$id"
          val body = (if (text == null) "" else text)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val enc = if (id % 2 == 0) "gzip" else "deflate"
          val payload =
            if (chunkedGen && id % docsPerFile == 7)
              // malformed chunk frame: first chunk-size hex digit is
              // not hex — the decoder must DROP this record (None),
              // never throw, and the shard's other records survive
              corruptFirstChunkSize(WarcCodec.httpResponsePayloadChunked(
                200, body, chunkSize = 64, contentEncoding = Some(enc)))
            else if (chunkedGen && id % docsPerFile == 11)
              // truncated compressed stream inside INTACT chunk
              // framing: dechunk succeeds, the strict inflate hits EOF
              // mid-stream — drop-record-not-throw again, and never a
              // half document posing as whole
              truncatedEncodedChunked(body, enc)
            else if (chunkedGen)
              WarcCodec.httpResponsePayloadChunked(200, body,
                chunkSize = 64, contentEncoding = Some(enc))
            else
              WarcCodec.httpResponsePayload(200, body,
                Seq("X-Doc-Id" -> id.toString))
          Seq(
            WarcCodec.WarcRecord("request", Some(uri), Some(warcDate(id)),
              (s"GET /doc/$id HTTP/1.1\r\nHost: example.com\r\n\r\n")
                .getBytes(java.nio.charset.StandardCharsets.UTF_8)),
            WarcCodec.WarcRecord("response", Some(uri), Some(warcDate(id)),
              payload))
        }
        val shard =
          if (fileId % 3 == 0) WarcCodec.buildWarc(recs.toSeq)
          else WarcCodec.buildWarcGz(recs.toSeq)
        (fileId, shard)
      }.toDF("file_id", "payload")
  }

  private def warcDate(id: Long): String =
    f"2026-01-01T00:00:${(id % 60 + 60) % 60}%02dZ"

  /** Fixture corruption: overwrite the first chunk-size hex digit (the
    * byte right after the header CRLFCRLF) with a non-hex character. */
  private def corruptFirstChunkSize(payload: Array[Byte]): Array[Byte] = {
    val out = payload.clone()
    var i = 0
    while (i + 3 < out.length && !(out(i) == '\r' && out(i + 1) == '\n' &&
      out(i + 2) == '\r' && out(i + 3) == '\n')) i += 1
    out(i + 4) = 'z'.toByte
    out
  }

  /** Fixture corruption: a chunked response whose chunk FRAMING is
    * intact but whose gzip/deflate entity stream is cut mid-stream, so
    * only the strict content-decoding stage can reject it. */
  private def truncatedEncodedChunked(body: Array[Byte],
                                      enc: String): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    val zo: java.io.OutputStream =
      if (enc == "gzip") new java.util.zip.GZIPOutputStream(bo)
      else new java.util.zip.DeflaterOutputStream(bo)
    zo.write(body); zo.close()
    val full = bo.toByteArray
    val cut = java.util.Arrays.copyOfRange(full, 0,
      math.max(1, full.length / 2))
    val head = ("HTTP/1.1 200 OK\r\n" +
      "Content-Type: text/plain; charset=utf-8\r\n" +
      s"Content-Encoding: $enc\r\n" +
      "Transfer-Encoding: chunked\r\n\r\n" +
      cut.length.toHexString + "\r\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new java.io.ByteArrayOutputStream()
    out.write(head)
    out.write(cut)
    out.write("\r\n0\r\n\r\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.toByteArray
  }

  /** Crawl-shard ingestion: explode each WARC shard into its HTTP
    * response documents — sniff plain-vs-gzip shards
    * ([[WarcCodec.parseWarc]], zip-bomb-guarded), keep `WARC-Type:
    * response`, strip the HTTP header block, undo chunked
    * transfer-encoding and gzip/deflate content-encoding
    * ([[WarcCodec.httpBodyDecoded]]), decode the UTF-8 body. One
    * scan-local mapPartitions flatMap over the payload column: at
    * 100 TB this is the map side of the lake's very first job, no
    * shuffle; corrupt shards contribute their parseable prefix and
    * nothing else, undecodable bodies drop their record (never a
    * throw, never fabricated text). */
  def warcResponses(media: DataFrame, maxBytes: Int = 1 << 26): DataFrame = {
    require(maxBytes > 0, s"maxBytes must be positive, got $maxBytes")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("file_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (fid, bytes) =>
        WarcCodec.parseWarc(bytes, maxBytes).iterator
          .filter(_.warcType == "response")
          .flatMap { r =>
            WarcCodec.httpBodyDecoded(r.body, maxBytes).map {
              case (status, body) =>
                (fid, r.targetUri.orNull, r.date.orNull, status,
                  new String(body, java.nio.charset.StandardCharsets.UTF_8))
            }
          }
      }).toDF("file_id", "url", "warc_date", "http_status", "text")
  }

  /** The [[syntheticNearDupPcm]] sample formula, shared with the MP4
    * cross-container twin so both containers carry byte-identical PCM.
    * Doc-dependent QUADRATIC phase: a plain ramp (constant step mod
    * 2^16) gives every doc the same sawtooth and the whole corpus
    * nearly one fingerprint; the (b % 127 + 13)·k² term scatters
    * window energies per doc (verified: 142 candidate pairs at 500
    * docs, all 100 planted pairs among them). */
  private def neardupPcmSamples(id: Long): Array[Int] = {
    val b = if (id % 5 == 4) id - 1 else id
    val n = (b % 200 + 64).toInt
    Array.tabulate(n) { k =>
      val base = b * 31 + (b % 127 + 13) * k.toLong * k +
        k.toLong * 7919 +
        (if (id % 5 == 4 && k % 97 == 0) 3L else 0L)
      (base % 65536).toInt - 32768
    }
  }

  /** MP4 twins of the [[syntheticNearDupPcm]] corpus, landed at
    * id + 1000000: each clip's EXACT PCM byte stream (s16le) rides a
    * real ISO-BMFF sound track, split into 64-byte samples so the
    * stsc×stco×stsz walk is non-trivial — "the same recording delivered
    * in a different container", which a cross-container audio dedup
    * pass must match to its WAV original. */
  def syntheticPcmMp4s(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .map { id =>
        val samples = neardupPcmSamples(id)
        val pcm = new Array[Byte](samples.length * 2)
        var k = 0
        while (k < samples.length) {
          pcm(2 * k) = (samples(k) & 0xff).toByte
          pcm(2 * k + 1) = ((samples(k) >> 8) & 0xff).toByte
          k += 1
        }
        val mp4Samples = pcm.grouped(64).toSeq
        (id + 1000000L, Mp4Codec.buildMp4(Seq(
          Mp4Codec.TrackSpec("soun", 8000L, 32L, mp4Samples))))
      }.toDF("media_id", "payload")
  }

  /** 32-bit acoustic fingerprint over REAL decoded PCM — the
    * Haitsma–Kalker shape (sign of the energy delta between consecutive
    * windows), time-axis-normalized so any two encodes of the same
    * signal land on comparable bits: the signal is cut into `nBits + 1`
    * equal-occupancy windows (`window = k·(nBits+1)/n`), bit `f` is set
    * iff mean-square(f+1) > mean-square(f) — compared CROSS-MULTIPLIED
    * (`sq(f+1)·cnt(f) > sq(f)·cnt(f+1)`), integer-exact and immune to
    * the ±1 occupancy imbalance equal-occupancy windowing leaves (a raw
    * energy compare would fingerprint the window-size pattern, which
    * depends only on the clip length). Scan-local, no shuffle. Payloads
    * too short for `nBits + 1` windows (or undecodable) emit nothing. */
  def audioFingerprint(media: DataFrame, nBits: Int = 32): DataFrame = {
    require(nBits > 0 && nBits <= 62, s"nBits must be in [1,62], got $nBits")
    val spark = media.sparkSession
    import spark.implicits._
    val nWin = nBits + 1
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        AudioCodec.parseWavSamples(bytes) match {
          case Some((_, samples)) =>
            fingerprintFromSamples(samples, nBits).map(fp => (id, fp))
              .iterator
          case _ => Iterator.empty
        }
      }).toDF("media_id", "fp")
  }

  /** The fingerprint arithmetic itself, container-independent — shared
    * by the WAV path and [[mp4AudioFingerprint]] so the same PCM yields
    * the same bits whatever carried it. The 2^24-sample cap (~35 min at
    * 8 kHz) bounds per-clip work; anything longer yields None (visible,
    * not wrong). At that cap the cross products reach ~2^68 (sq_sum <=
    * 2^30/sample × 2^19/window ≈ 2^49, × a 2^19 count), so the compare
    * runs in exact 128 bits via multiplyHigh — matching the oracle's
    * HUGEINT arithmetic — never a wrapping Long multiply. */
  private def fingerprintFromSamples(samples: Array[Int],
                                     nBits: Int): Option[Long] = {
    val nWin = nBits + 1
    if (samples.length < nWin || samples.length > (1 << 24)) return None
    val n = samples.length
    val e = new Array[Long](nWin)
    val c = new Array[Long](nWin)
    var k = 0
    while (k < n) {
      val s = samples(k)
      val w = (k.toLong * nWin / n).toInt
      e(w) += s.toLong * s
      c(w) += 1
      k += 1
    }
    // a > b compared as exact 128-bit products (operands are
    // nonnegative: high words via multiplyHigh, low words unsigned)
    def gt128(a1: Long, a2: Long, b1: Long, b2: Long): Boolean = {
      val ha = Math.multiplyHigh(a1, a2); val la = a1 * a2
      val hb = Math.multiplyHigh(b1, b2); val lb = b1 * b2
      if (ha != hb) ha > hb
      else java.lang.Long.compareUnsigned(la, lb) > 0
    }
    var fp = 0L
    var f = 0
    while (f < nBits) {
      if (gt128(e(f + 1), c(f), e(f), c(f + 1))) fp |= 1L << f
      f += 1
    }
    Some(fp)
  }

  /** Acoustic fingerprint of the PCM riding an MP4 sound track: the
    * stsc×stco×stsz walk yields the track's sample byte ranges, their
    * concatenation decodes as ONE s16 stream, and the SAME
    * windowed-energy bits as [[audioFingerprint]] follow — so a
    * recording deduplicates against its WAV original across
    * containers. First sound track per file; only uncompressed-PCM
    * stsd entries decode — 'sowt' (s16le) and 'twos' (s16be); a
    * compressed track (e.g. AAC 'mp4a') emits NOTHING rather than a
    * fabricated fingerprint over codec bytes. A sample may straddle
    * two ranges, so the dangling byte carries across the boundary
    * instead of being dropped. Scan-local flatMap, no shuffle. */
  def mp4AudioFingerprint(media: DataFrame, nBits: Int = 32): DataFrame = {
    require(nBits > 0 && nBits <= 62, s"nBits must be in [1,62], got $nBits")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        (for {
          tracks <- Mp4Codec.parseMp4SampleRangesWithCodec(bytes)
          soun <- tracks.find(_._2 == "soun")
          codec = soun._3
          if codec == "sowt" || codec == "twos"
          totalBytes = soun._4.map(_._2).sum
          if totalBytes % 2 == 0 && totalBytes <= (1L << 25)
          samples = {
            val bigEndian = codec == "twos"
            val out = new Array[Int](totalBytes.toInt / 2)
            var o = 0
            var carry = -1 // dangling byte from the previous range
            soun._4.foreach { case (off, sz) =>
              var p = off.toInt
              val end = (off + sz).toInt
              if (carry >= 0 && p < end) {
                val b1 = bytes(p) & 0xff
                out(o) = (if (bigEndian) (carry << 8) | b1
                          else carry | (b1 << 8)).toShort.toInt
                o += 1; p += 1; carry = -1
              }
              while (p + 1 < end) {
                val b0 = bytes(p) & 0xff
                val b1 = bytes(p + 1) & 0xff
                out(o) = (if (bigEndian) (b0 << 8) | b1
                          else b0 | (b1 << 8)).toShort.toInt
                o += 1; p += 2
              }
              if (p < end) carry = bytes(p) & 0xff
            }
            out
          }
          fp <- fingerprintFromSamples(samples, nBits)
        } yield (id, fp)).iterator
      }).toDF("media_id", "fp")
  }

  /** Animated fixtures with PLANTED NEAR-DUPLICATE VIDEOS: every
    * id % 7 == 6 re-renders the previous id's animation with the first
    * scene's pixel 0 nudged (+1 mod palette) — "same video, re-cut
    * intro" — so every later scene stays byte-for-byte shared. 4-9
    * frames pairing into 2-5 still scenes; real GIF89a streams; all
    * formulas SQL-replayable. */
  def syntheticNearDupAnimations(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .map { id =>
        val b = if (id % 7 == 6) id - 1 else id
        val w = (b % 9 + 4).toInt
        val h = (b % 7 + 4).toInt
        val n = 1 << (b % 3 + 2).toInt
        val pal = new Array[Byte](3 * n)
        var j = 0
        while (j < n) {
          pal(3 * j) = ((3 * j + 7) % 256).toByte
          pal(3 * j + 1) = ((5 * j + 11) % 256).toByte
          pal(3 * j + 2) = ((7 * j + 13) % 256).toByte
          j += 1
        }
        val nf = (b % 6 + 4).toInt
        val frames = (0 until nf).map { f =>
          val sc = f / 2
          Array.tabulate(w * h) { k =>
            val v = ((b * 17 + k.toLong * 23 + sc * 37 + 5) % n).toInt
            if (id % 7 == 6 && sc == 0 && k == 0) ((v + 1) % n).toByte
            else v.toByte
          }
        }
        (id, GifCodec.buildGifAnimPixels(w, h, pal, frames))
      }.toDF("media_id", "payload")
  }

  /** Cross-format twins: the SAME image carried once as PNG (media_id =
    * doc_id) and once as baseline JPEG (media_id = doc_id + 1000000) —
    * flat 8x8 blocks with the [[syntheticDcJpegs]] formula, so the JPEG
    * side decodes bit-identically to the PNG side and a format-blind
    * perceptual dedup MUST pair every twin at hamming 0. */
  def syntheticCrossFormatImages(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .flatMap { b =>
        val w = 8 * (b % 3 + 2).toInt
        val h = 8 * (b % 2 + 2).toInt
        val bx = w / 8
        val vals = Array.tabulate(bx * (h / 8))(k =>
          ((b * 7 + k.toLong * 13 + 37) % 256).toInt)
        val px = new Array[Byte](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            px(y * w + x) = vals((y / 8) * bx + x / 8).toByte
            x += 1
          }
          y += 1
        }
        Seq((b, ImageCodec.buildPngPixels(w, h, 1, px)),
          (b + 1000000L, JpegCodec.buildJpegDcOnly(w, h, vals)))
      }.toDF("media_id", "payload")
  }

  /** Real baseline-JPEG fixtures ([[JpegCodec.buildJpegDcOnly]]): every
    * 8x8 block flat at the formula value `(b*7 + blockIdx*13 + 37) %
    * 256`, geometry `8·(b%3+2) × 8·(b%2+2)` — DC-only blocks decode
    * EXACTLY (quant 8, exact IDCT), so the oracle replays the pixel
    * formulas while Spark must earn them through the full marker walk,
    * canonical Huffman entropy decode, dequant and IDCT. */
  def syntheticDcJpegs(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .map { b =>
        val w = 8 * (b % 3 + 2).toInt
        val h = 8 * (b % 2 + 2).toInt
        val bx = w / 8
        val by = h / 8
        val vals = Array.tabulate(bx * by)(k =>
          ((b * 7 + k.toLong * 13 + 37) % 256).toInt)
        (b, JpegCodec.buildJpegDcOnly(w, h, vals))
      }.toDF("media_id", "payload")
  }

  /** Real ISO-BMFF fixtures with PLANTED NEAR-DUPLICATE VIDEOS — the
    * MP4 twin of [[syntheticNearDupAnimations]]: every id % 7 == 6
    * re-cuts the previous id's video (first scene's first byte value
    * nudged +1 mod 256, all later scenes byte-shared). Samples pair
    * into still scenes (sample j belongs to scene j/2, both samples of
    * a scene carry IDENTICAL bytes), every sample's content is the
    * ASCII string of formula values so the oracle can replay the md5s,
    * and ids % 3 == 0 carry a second (sound) track so the per-track
    * walk is exercised. All geometry/timing fields are formula-driven
    * for the metadata gate: width b%320+16, height b%240+16, video
    * timescale 600·(b%4+1), sample delta b%50+10, b%6+4 samples. */
  /** The [[syntheticNearDupMp4s]] video track, shared with the
    * fragmented-layout twin so both layouts carry byte-identical
    * sample content. */
  private def neardupMp4VideoTrack(id: Long): Mp4Codec.TrackSpec = {
    val b = if (id % 7 == 6) id - 1 else id
    val nf = (b % 6 + 4).toInt
    val len = (b % 10 + 6).toInt
    val samples = (0 until nf).map { j =>
      val sc = j / 2
      (0 until len).map { k =>
        val v = ((b * 19 + k.toLong * 29 + sc * 43 + 11) % 256).toInt
        if (id % 7 == 6 && sc == 0 && k == 0) (v + 1) % 256 else v
      }.mkString(",")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }
    Mp4Codec.TrackSpec("vide", 600L * (b % 4 + 1), b % 50 + 10,
      samples, (b % 320 + 16).toInt, (b % 240 + 16).toInt)
  }

  def syntheticNearDupMp4s(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .map { id =>
        val b = if (id % 7 == 6) id - 1 else id
        val video = neardupMp4VideoTrack(id)
        val tracks =
          if (b % 3 == 0)
            Seq(video, Mp4Codec.TrackSpec("soun", 8000L, 100L,
              Seq(Array[Byte](1, 2), Array[Byte](3, 4))))
          else Seq(video)
        (id, Mp4Codec.buildMp4(tracks))
      }.toDF("media_id", "payload")
  }

  /** Fragmented-layout (CMAF/DASH) twins of [[syntheticNearDupMp4s]]:
    * the SAME video-sample bytes carried as moof/trun fragments of two
    * samples each — a sample walk that handles only the flat stbl
    * layout sees zero samples here, so the cross-layout gate proves
    * the fragment walk end to end. */
  def syntheticFragmentedMp4s(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .map(id => (id,
        Mp4Codec.buildFragmentedMp4(Seq(neardupMp4VideoTrack(id)))))
      .toDF("media_id", "payload")
  }

  /** Uniform-k sample selection over the REAL MP4 sample table — the
    * container twin of [[sampleGifFramesUniform]]: keep the distinct
    * `⌊j·n/k⌋` video samples with their true byte offsets and sizes
    * from the stsc×stco×stsz walk, i.e. exactly the seek targets a
    * budgeted frame-decode pass would read. Scan-local; payloads
    * without a decodable video track emit nothing. */
  def sampleMp4FramesUniform(media: DataFrame, k: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        Mp4Codec.parseMp4SampleRanges(bytes) match {
          case Some(tracks) =>
            tracks.find(_._2 == "vide") match {
              case Some((_, _, ranges)) if ranges.nonEmpty =>
                val n = ranges.length
                (0 until k).map(j => j * n / k).distinct.iterator
                  .map { si =>
                    val (off, sz) = ranges(si)
                    (id, si, off, sz)
                  }
              case _ => Iterator.empty
            }
          case None => Iterator.empty
        }
      }).toDF("media_id", "sample_idx", "byte_offset", "size")
  }

  /** One row per DISTINCT video-sample content per MP4 — the container
    * analog of [[gifFrameContentHashes]]: the stsc×stco×stsz walk
    * yields each sample's REAL byte range, the bytes are md5'd
    * (lowercase hex, DuckDB-compatible), and still scenes collapse
    * through the distinct. Sound tracks are skipped; undecodable
    * payloads emit nothing. Scan-local flatMap, no shuffle. */
  def mp4SampleContentHashes(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, bytes) =>
          Mp4Codec.parseMp4SampleRanges(bytes) match {
            case Some(tracks) =>
              tracks.iterator
                .filter(_._2 == "vide")
                .flatMap(_._3)
                .map { case (off, sz) =>
                  md.reset()
                  md.update(bytes, off.toInt, sz.toInt)
                  (id, md.digest().map("%02x".format(_)).mkString)
                }.toSeq.distinct.iterator
            case None => Iterator.empty
          }
        }
      }.toDF("media_id", "frame_hash")
  }

  /** One row per DISTINCT frame content per video — md5 (lowercase hex,
    * DuckDB-compatible) of the REAL decoded index sequence, so still
    * scenes collapse to one hash. Scan-local flatMap; undecodable
    * payloads emit nothing. */
  def gifFrameContentHashes(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, bytes) =>
          GifCodec.parseGifFramesPixels(bytes) match {
            case Some(frames) =>
              frames.map { f =>
                val sb = new StringBuilder
                var k = 0
                while (k < f.indices.length) {
                  if (k > 0) sb.append(',')
                  sb.append(f.indices(k) & 0xff)
                  k += 1
                }
                md.reset()
                val dig = md.digest(
                  sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
                (id, dig.map("%02x".format(_)).mkString)
              }.distinct.iterator
            case None => Iterator.empty
          }
        }
      }.toDF("media_id", "frame_hash")
  }

  /** Video near-dup by shared-scene containment: an inverted-index join
    * on exact frame content hashes (each hash is a posting — only
    * videos sharing a frame ever pair, never all-pairs), then
    * `matched · 100 >= minPct · min(n1, n2)` integer-gated. The shape a
    * shot-level video dedup pass runs at scale: postings are
    * hash-partitioned, a degenerate all-black-frame hash can be capped
    * the same way Dedup caps hot MinHash buckets. */
  def videoNearDups(frameHashes: DataFrame, minPct: Int = 60): DataFrame = {
    require(minPct > 0 && minPct <= 100, s"minPct in (0,100], got $minPct")
    val counts = frameHashes.groupBy("media_id")
      .agg(count(lit(1)).as("n"))
    val a = frameHashes.select(col("media_id").as("id1"), col("frame_hash"))
    val b = frameHashes.select(col("media_id").as("id2"), col("frame_hash"))
    a.join(b, "frame_hash")
      .where(col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("matched"))
      .join(counts.select(col("media_id").as("id1"), col("n").as("n1")),
        "id1")
      .join(counts.select(col("media_id").as("id2"), col("n").as("n2")),
        "id2")
      .where(col("matched") * 100 >= lit(minPct) * least(col("n1"),
        col("n2")))
      .select("id1", "id2", "matched", "n1", "n2")
  }

  private def audioBands(fps: DataFrame): DataFrame =
    fps.select(col("media_id"), col("fp"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bv", expr("shiftright(fp, 8 * band) & 255"))

  /** Audio near-dup pairs by banded fingerprint (the audio twin of
    * [[imageNearDups]]): the 32-bit fingerprint splits into four 8-bit
    * bands, candidates must agree exactly on at least one band (an
    * equi-join on (band, value) — never all-pairs), and the full
    * fingerprint confirms at `hamming <= maxHamming`. At 100 TB the
    * band join is the whole cost model: each fingerprint appears in 4
    * rows, buckets are hash-partitioned, and only colliding buckets
    * pair up. */
  def audioNearDups(fps: DataFrame, maxHamming: Int = 4): DataFrame = {
    val bands = audioBands(fps)
    val a = bands.select(col("media_id").as("id1"), col("fp").as("fp1"),
      col("band"), col("bv"))
    val b = bands.select(col("media_id").as("id2"), col("fp").as("fp2"),
      col("band"), col("bv"))
    a.join(b, Seq("band", "bv"))
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("fp1").bitwiseXOR(col("fp2"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Incremental audio near-dup — a new recording batch against the
    * STANDING fingerprint index (the audio twin of
    * [[incrementalImageNearDups]]): only the batch decodes; the index
    * contributes one long per known clip and only band-colliding
    * buckets are touched — O(batch + matching buckets), never a
    * re-scan of the corpus. */
  def incrementalAudioNearDups(indexFps: DataFrame, batchFps: DataFrame,
                               maxHamming: Int = 4): DataFrame = {
    val ib = audioBands(indexFps).select(col("media_id").as("index_id"),
      col("fp").as("ifp"), col("band"), col("bv"))
    val bb = audioBands(batchFps).select(col("media_id").as("batch_id"),
      col("fp").as("bfp"), col("band"), col("bv"))
    bb.join(ib, Seq("band", "bv"))
      .select(col("batch_id"), col("index_id"),
        bit_count(col("bfp").bitwiseXOR(col("ifp"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Batch fixtures for the incremental gate: every id % 10 == 0 clip
    * re-recorded (every 89th sample nudged +5 pre-wrap), landed at
    * id + 1000000 — same SQL-replayable formula family as
    * [[syntheticNearDupPcm]]. */
  def syntheticBatchPcm(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .filter(_ % 10 == 0)
      .map { b =>
        val n = (b % 200 + 64).toInt
        val samples = Array.tabulate(n) { k =>
          val base = b * 31 + (b % 127 + 13) * k.toLong * k +
            k.toLong * 7919 + (if (k % 89 == 0) 5L else 0L)
          (base % 65536).toInt - 32768
        }
        (b + 1000000, AudioCodec.buildWavPcm(1, 8000, 16, samples))
      }.toDF("media_id", "payload")
  }
}
