package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * payloads plus typed metadata, flowing through Spark as first-class
  * columns. EVERY payload kind in the decode path decodes for REAL
  * with JDK-only machinery: PNG/JPEG via `javax.imageio`, WAV via
  * `javax.sound.sampled`, multi-frame animated GIF via the indexed
  * ImageIO reader ([[gifFrames]]), and AVI/MP4 via genuine RIFF
  * chunk-walk / ISO-BMFF box-tree parsing ([[parseAvi]]/[[parseMp4]]
  * — the same structural work ffprobe does for these fields;
  * codec-level video FRAME decode stays environmentally out of scope,
  * there are no codec libraries in this container). The Spark-side
  * machinery is uniform: binary schema, per-partition batch decode
  * via mapPartitions over a typed Dataset (the Scala analog of
  * mapInPandas batches), frame sampling via binary slicing, and
  * metadata projection.
  *
  * At scale: payloads dominate bytes — keep them in their own column
  * so column pruning skips them unless a decode stage needs them;
  * decode is map-only (no shuffle) and streams batch-wise per
  * partition.
  */
object Multimodal {

  // ImageIO's stream factories (including the ones ImageIO.read/write
  // call internally) default to a DISK-backed cache: one temp-file
  // create+delete per decoded row. For in-memory byte[] payloads that
  // is pure overhead — measured as ~85% of q103's wall time at sf0.1,
  // with run-to-run noise tracking /tmp state. Every decode in this
  // engine is a bounded in-memory image, so force the memory cache
  // JVM-wide (runs on each executor when the class loads there).
  javax.imageio.ImageIO.setUseCache(false)

  case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])
  /** One uniform probe row per media payload; the dimension slots
    * carry each format's natural axes (all Long so the output schema
    * matches the oracle's BIGINTs):
    *  - image: dim_a × dim_b = pixel width × height, n_units = 1
    *  - audio: dim_a = sample rate, dim_b = channels, n_units = frames
    *  - video: dim_a × dim_b = track width × height, n_units = tracks
    * `first8_hex` is the payload's first 8 bytes — the magic the
    * dispatch keyed on, visible for audit. */
  case class DecodedRow(media_id: Long, kind: String, container: String,
                        dim_a: Long, dim_b: Long, n_units: Long, first8_hex: String)
  case class ImgRow(media_id: Long, payload: Array[Byte])
  case class ImgDecoded(media_id: Long, width: Long, height: Long,
                        r: Long, g: Long, b: Long)

  private def isPng(p: Array[Byte]): Boolean =
    p.length >= 8 && (p(0) & 0xff) == 0x89 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G'

  private def isJpeg(p: Array[Byte]): Boolean =
    p.length >= 3 && (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8 && (p(2) & 0xff) == 0xff

  private def fourcc(p: Array[Byte], at: Int): String =
    if (p.length >= at + 4) new String(p, at, 4, "US-ASCII") else ""

  private def isWav(p: Array[Byte]): Boolean =
    fourcc(p, 0) == "RIFF" && fourcc(p, 8) == "WAVE"

  private def isAvi(p: Array[Byte]): Boolean =
    fourcc(p, 0) == "RIFF" && fourcc(p, 8) == "AVI "

  private def isMp4(p: Array[Byte]): Boolean = fourcc(p, 4) == "ftyp"

  /** Synthesize a deterministic OPAQUE media table from `documents`
    * (text bytes as the payload): the fixture for the plumbing-only
    * operators — [[frameSample]]'s binary slicing — where the payload
    * is deliberately uninterpreted and only the (pruned-late) binary
    * column flow matters. The decode path uses [[realMediaTable]]. */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents").select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("payload"))

  /** Deterministic REAL media table: every row carries a structurally
    * valid payload of its kind — PNG images, PCM WAV audio, AVI/MP4
    * video containers — encoded executor-side as a pure function of
    * the id (the container ships no media files; the encoders below
    * are the fixture generators). Everything downstream of this frame
    * is the real pipeline: magic-byte dispatch, format decode, typed
    * metadata. */
  def realMediaTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables.load(spark, dir, "documents").select(col("doc_id")).as[Long]
      // the per-row encode AND the decode stage downstream are
      // CPU-heavy codec loops, and the single-file id scan is ONE
      // split — spread the (tiny) id column across all cores first,
      // same tradeoff as gifFrames (measured q58 1.2 s → ~0.4 s at
      // sf0.1; the shuffle moves 8 bytes/row)
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions(_.map { id =>
        (id % 3) match {
          case 0 => MediaRow(id, "image", encodePng(id))
          case 1 => MediaRow(id, "audio", encodeWav(id))
          case _ => MediaRow(id, "video",
            if (id % 2 == 0) encodeAvi(id) else encodeMp4(id))
        }
      })
  }

  /** Real image decode for one row: JDK `javax.imageio` reads the
    * PNG/JPEG header + pixel data — actual dimensions, no codec
    * libraries required. */
  private def decodeImageRow(r: MediaRow): DecodedRow = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
    require(img != null, s"media_id=${r.media_id}: payload is not a decodable image")
    DecodedRow(r.media_id, r.kind, if (isPng(r.payload)) "png" else "jpeg",
      img.getWidth.toLong, img.getHeight.toLong, n_units = 1L,
      first8_hex = first8(r.payload))
  }

  /** Real WAV decode for one row: JDK `javax.sound.sampled` parses
    * the RIFF/fmt chunks — actual rate/channels/frame count. */
  private def decodeWavRow(r: MediaRow): DecodedRow = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(r.payload))
    val fmt = ais.getFormat
    DecodedRow(r.media_id, r.kind, "wav", fmt.getSampleRate.toLong,
      fmt.getChannels.toLong, ais.getFrameLength, first8(r.payload))
  }

  private def first8(p: Array[Byte]): String =
    p.take(8).map(b => f"${b & 0xff}%02x").mkString

  /** The mapInPandas-shaped decode stage: typed Dataset in, batched
    * per-partition transform, typed Dataset out. Dispatch is by MAGIC
    * BYTES, never by the kind column, and every branch is a real
    * parser: PNG/JPEG → `javax.imageio`, WAV → `javax.sound`,
    * AVI/MP4 → the container chunk/box walkers. Unrecognized payloads
    * are REJECTED (loud `require`) instead of fabricated — at ingest
    * scale a quarantine filter belongs UPSTREAM of decode, and a
    * decoder that invents metadata poisons every downstream filter. */
  def decode(spark: SparkSession, media: DataFrame): Dataset[DecodedRow] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions(_.map { r =>
      if (isPng(r.payload) || isJpeg(r.payload)) decodeImageRow(r)
      else if (isWav(r.payload)) decodeWavRow(r)
      else if (isAvi(r.payload)) {
        val v = parseAvi(r.media_id, r.payload)
        DecodedRow(r.media_id, r.kind, v.container, v.width, v.height,
          v.n_tracks, first8(r.payload))
      } else if (isMp4(r.payload)) {
        val v = parseMp4(r.media_id, r.payload)
        DecodedRow(r.media_id, r.kind, v.container, v.width, v.height,
          v.n_tracks, first8(r.payload))
      } else sys.error(
        s"media_id=${r.media_id}: unrecognized payload magic ${first8(r.payload)}")
    })
  }

  /** Deterministic PNG fixture: a solid-color image whose dimensions
    * and fill color are pure functions of the id — so an arithmetic
    * oracle can verify that the DECODED dims/pixels match, proving the
    * decode is real (a broken decoder cannot fake the round trip). */
  def encodePng(id: Long): Array[Byte] = {
    val w = 16 + (id % 32).toInt
    val h = 12 + (id % 23).toInt
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (((id % 256) << 16) | (((id * 7) % 256) << 8) | ((id * 13) % 256)).toInt
    var y = 0
    while (y < h) { var x = 0; while (x < w) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  case class GifDecoded(media_id: Long, n_frames: Long, width: Long,
                        r_sum: Long, g_last: Long)

  /** Deterministic multi-frame animated GIF fixture: frame count,
    * dimensions and each frame's fill color are pure functions of
    * (id, frame index). GIF's 256-color palette stores a solid fill
    * exactly, so the decode is lossless. */
  def encodeGif(id: Long): Array[Byte] = {
    val n = 2 + (id % 5).toInt
    val w = 8 + (id % 8).toInt
    val h = 8
    val bos = new java.io.ByteArrayOutputStream()
    // explicit memory-cached stream: ImageIO.createImageOutputStream
    // defaults to a DISK-backed cache (one temp-file create+delete
    // per row — measured as the whole q103 cost at sf0.1, and noisy
    // with /tmp state); the frames here are ≤16×8 px, memory is right
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var i = 0
    while (i < n) {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = ((((id + 17 * i) % 256) << 16) |
        (((id * 3 + 5 * i) % 256) << 8) | ((id * 13) % 256)).toInt
      var y = 0
      while (y < h) { var x = 0; while (x < w) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null,
        writer.getDefaultImageMetadata(
          new javax.imageio.ImageTypeSpecifier(img), writer.getDefaultWriteParam)),
        writer.getDefaultWriteParam)
      i += 1
    }
    writer.endWriteSequence()
    ios.close()
    bos.toByteArray
  }

  /** The document ids as media ids, spread across all cores. The
    * single-file documents scan is ONE split and the decode loops that
    * read this source are CPU-heavy per row, so the (tiny) id column
    * is shuffled first (measured on [[gifFrames]]: 4.5 s -> 1.5 s at
    * sf0.1). [[audioDecode]], [[imageDecode]] and [[videoProbe]] read
    * the ids unspread: their per-row cost is too small to amortize the
    * shuffle. */
  private def spreadMediaIds(spark: SparkSession, dir: String): Dataset[Long] = {
    import spark.implicits._
    Tables.load(spark, dir, "documents").select(col("doc_id").as("media_id"))
      .as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
  }

  /** The [[encodePatternPng]] image of `id`, decoded back to pixels. */
  private def decodePatternPng(id: Long): java.awt.image.BufferedImage =
    javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(encodePatternPng(id)))

  /** End-to-end REAL multi-frame decode: encode a deterministic
    * animated GIF per document id, decode EVERY frame back with the
    * JDK's `javax.imageio` GIF reader (`getNumImages` + per-index
    * `read` — genuine frame extraction, unlike the byte-stride
    * sampler [[frameSample]]), and emit the frame count plus per-frame
    * pixel arithmetic. The closest a JDK-only environment gets to
    * video frame decode; container formats needing external codecs
    * stay behind the documented stub. */
  def gifFrames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spreadMediaIds(spark, dir)
      .mapPartitions(_.map { id =>
        val gif = encodeGif(id)
        val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
        // memory-cached input: the default createImageInputStream is
        // disk-backed (per-row temp file) — see encodeGif
        reader.setInput(new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(gif)))
        val n = reader.getNumImages(true)
        var rSum = 0L
        var gLast = 0L
        var w = 0L
        var i = 0
        while (i < n) {
          val img = reader.read(i)
          val px = img.getRGB(0, 0)
          rSum += (px >> 16) & 0xff
          gLast = (px >> 8) & 0xff
          w = img.getWidth.toLong
          i += 1
        }
        reader.dispose()
        GifDecoded(id, n.toLong, w, rSum, gLast)
      })
      .toDF().orderBy(col("media_id"))
  }

  case class WavDecoded(media_id: Long, sample_rate: Long, channels: Long,
                        n_frames: Long, first_sample: Long)

  /** Deterministic PCM WAV fixture: 16-bit mono, sample rate and
    * frame count pure functions of the id, samples a fixed ramp — the
    * audio analog of [[encodePng]]. */
  def encodeWav(id: Long): Array[Byte] = {
    val rate = 8000 + (id % 4).toInt * 4000 // 8/12/16/20 kHz
    val frames = 32 + (id % 64).toInt
    val samples = Array.tabulate[Byte](frames * 2) { i =>
      if (i % 2 == 0) ((id + i / 2) % 127).toByte else 0.toByte // little-endian lo byte
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(samples), fmt, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** End-to-end REAL audio decode query: encode a deterministic PCM
    * WAV per document id, decode it back with the JDK's
    * `javax.sound.sampled` (no external codecs), emit the format
    * header + first sample. Only a real WAV encode→decode round trip
    * reproduces the oracle's arithmetic. */
  def audioDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents").select(col("doc_id").as("media_id"))
      .as[Long]
      .mapPartitions(_.map { id =>
        val wav = encodeWav(id)
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(wav))
        val fmt = ais.getFormat
        val buf = new Array[Byte](2)
        val read = ais.read(buf)
        require(read == 2, s"media_id=$id: could not read first sample")
        val first = ((buf(1) << 8) | (buf(0) & 0xff)).toLong // 16-bit LE
        WavDecoded(id, fmt.getSampleRate.toLong, fmt.getChannels.toLong,
          ais.getFrameLength, first)
      })
      .toDF().orderBy(col("media_id"))
  }

  /** Frames per speech-quality fixture clip ([[encodeSpeechWav]]). */
  val SpeechFrames = 256

  /** Analysis window width in frames for the audio-quality gate. */
  val SpeechWindow = 32

  /** Deterministic "speech-like" 16-bit PCM WAV with three planted
    * failure regimes: ids ≡ 0 (mod 7) are half dead air (every 2nd
    * window silent → silence-reject), ids ≡ 0 (mod 11) clip their
    * whole 2nd window (32 full-scale samples → clipping-reject),
    * everyone gets every 4th window silent, scattered single-sample
    * clips (`(id + i) % 97 == 0`) and a ±1000 pseudo-signal —
    * healthy clips pass both gates. Silence is applied before
    * clipping, so silent windows stay bit-exact zero. */
  def encodeSpeechWav(id: Long): Array[Byte] = {
    val silentMod = if (id % 7 == 0) 2 else 4
    val vals = Array.tabulate(SpeechFrames) { i =>
      val w = i / SpeechWindow
      if ((w + id) % silentMod == 0) 0
      else if (id % 11 == 0 && w == 1) 32767
      else if ((id + i) % 97 == 0) 32767
      else (((id * 7 + i * 13) % 2000) - 1000).toInt
    }
    val bytes = new Array[Byte](SpeechFrames * 2)
    var i = 0
    while (i < SpeechFrames) {
      bytes(2 * i) = (vals(i) & 0xff).toByte
      bytes(2 * i + 1) = ((vals(i) >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(16000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(bytes), fmt, SpeechFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Audio quality filtering (the speech-data pipeline gate): decode
    * each clip's REAL WAV, then per clip count digital-silence
    * windows (all-zero 32-frame blocks — dead air), clipped samples
    * (full-scale +32767 — distorted recordings) and total signal
    * energy (Σ sample², integer-exact). Keep = less than half the
    * clip silent AND under 2% clipped — the standard pre-ASR triage.
    * Map-only decode per row; the oracle restates every count from
    * the sample formula, so only a bit-exact PCM round trip plus
    * correct windowing matches. */
  def audioQuality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spreadMediaIds(spark, dir)
      .mapPartitions(_.map { id =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(encodeSpeechWav(id)))
        val raw = ais.readAllBytes()
        val n = raw.length / 2
        require(n == SpeechFrames, s"media_id=$id: expected $SpeechFrames frames, got $n")
        var energy = 0L
        var clipped = 0L
        var silentW = 0L
        var w = 0
        while (w < n / SpeechWindow) {
          var allZero = true
          var i = w * SpeechWindow
          while (i < (w + 1) * SpeechWindow) {
            val v = ((raw(2 * i + 1) << 8) | (raw(2 * i) & 0xff)).toLong
            if (v != 0L) allZero = false
            if (v == 32767L) clipped += 1
            energy += v * v
            i += 1
          }
          if (allZero) silentW += 1
          w += 1
        }
        val nW = (n / SpeechWindow).toLong
        val keep = if (silentW * 2 < nW && clipped * 50 < n) 1 else 0
        (id, n.toLong, nW, silentW, clipped, energy, keep)
      })
      .toDF("media_id", "n_frames", "n_windows", "n_silent_windows",
        "n_clipped", "energy", "keep")
      .orderBy(col("media_id"))
  }

  /** End-to-end REAL image decode query: encode a deterministic PNG
    * per document id (map-only, executor-side), decode it back with
    * `javax.imageio`, emit dims + the (0,0) pixel. The oracle states
    * the same values arithmetically — only a real PNG encode→decode
    * round trip matches it. */
  def imageDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents").select(col("doc_id").as("media_id"))
      .as[Long]
      .mapPartitions(_.map { id =>
        val png = encodePng(id)
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
        val px = img.getRGB(0, 0)
        ImgDecoded(id, img.getWidth.toLong, img.getHeight.toLong,
          ((px >> 16) & 0xff).toLong, ((px >> 8) & 0xff).toLong, (px & 0xff).toLong)
      })
      .toDF().orderBy(col("media_id"))
  }

  /** End-to-end decode query over the real media table: every row is
    * encoded then REALLY decoded (image dims from pixel data, audio
    * format from the RIFF fmt chunk, video geometry from the
    * container structure). Oracle-checkable because each encoder is a
    * pure function of the id — only a genuine round trip reproduces
    * the stated dims/rates/track counts AND the magic bytes. */
  def decodeQuery(spark: SparkSession, dir: String): DataFrame =
    decode(spark, realMediaTable(spark, dir).toDF()).toDF().orderBy(col("media_id"))

  /** Side length of the perceptual-hash fixture images (32×32 gray,
    * aHashed over an 8×8 block grid). */
  val PHashSide = 32

  /** Documents per perceptual-dup group: ids sharing `id % 50` render
    * the same base pattern (plus a tiny per-id pixel perturbation). */
  val PHashGroups = 50

  /** Deterministic "structured" grayscale PNG: an 8×8 block pattern
    * (half bright, half dark, layout a function of the group id g)
    * with low-amplitude in-block texture and a single per-id pixel
    * perturbation — so images in a group are byte-level DISTINCT
    * (different md5, different PNG) but perceptually identical. The
    * bright/dark margin (≈ 196 gray levels) dwarfs both texture and
    * perturbation, so no block can cross the global mean — the aHash
    * is provably perturbation-invariant on this family.
    *
    * Additionally, ids with `(id / 50) % 5 == 4` render a NEAR-MISS
    * variant: exactly one block (index `id % 64`) has its bright/dark
    * role inverted — a Hamming-distance-1 neighbor of its group's
    * hash, the "slightly re-cropped / re-compressed copy" the
    * Hamming-radius pairing (q226) exists to catch. */
  def encodePatternPng(id: Long): Array[Byte] = {
    val side = PHashSide
    val g = (id % PHashGroups).toInt
    val flipped = (id / PHashGroups) % 5 == 4
    val img = new java.awt.image.BufferedImage(side, side,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < side) {
      var x = 0
      while (x < side) {
        val k = (y / 4) * 8 + (x / 4)
        val bright = ((k + g * 11) % 64 < 32) ^ (flipped && k == (id % 64).toInt)
        val base = if (bright) 200 else 4
        val texture = ((x * y + g) % 3)
        val perturb = if (x == (id % side).toInt && y == ((id / side) % side).toInt)
          (id % 3).toInt else 0
        val gray = base + texture + perturb
        img.setRGB(x, y, (gray << 16) | (gray << 8) | gray)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** aHash (average hash) of a decoded 32×32 grayscale image: 8×8
    * block sums, bit k = 1 iff block k's mean exceeds the image mean
    * — compared integer-exactly as `s·64 > total` (block mean s/16 vs
    * image mean total/1024), no division. 64 bits → 16 hex chars,
    * MSB-first nibbles in block row-major order. */
  private[graft] def aHashOf(img: java.awt.image.BufferedImage): String = {
    val s = new Array[Long](64)
    var y = 0
    while (y < PHashSide) {
      var x = 0
      while (x < PHashSide) {
        s((y / 4) * 8 + (x / 4)) += (img.getRGB(x, y) >> 16) & 0xff
        x += 1
      }
      y += 1
    }
    val tot = s.sum
    val sb = new StringBuilder(16)
    var nk = 0
    while (nk < 16) {
      var nib = 0
      var b = 0
      while (b < 4) {
        if (s(nk * 4 + b) * 64 > tot) nib |= 8 >> b
        b += 1
      }
      sb.append("0123456789abcdef".charAt(nib))
      nk += 1
    }
    sb.toString
  }

  /** Perceptual-hash image dedup (the LAION pipeline step): encode a
    * REAL structured PNG per doc, decode it back, aHash the pixels,
    * and group identical hashes — byte-level distinct images (every
    * PNG differs by its perturbation pixel) collapse into their
    * perceptual groups, which md5-style exact hashing cannot do.
    * Per-group: hash, member count, canonical (min) id. Map-only
    * encode+decode+hash, one tiny group-by keyed by the 64-bit hash. */
  def aHashDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spreadMediaIds(spark, dir)
      .mapPartitions(_.map { id =>
        val img = decodePatternPng(id)
        (id, aHashOf(img))
      })
      .toDF("media_id", "ahash")
      .groupBy(col("ahash"))
      .agg(count(lit(1)).as("n_images"), min(col("media_id")).as("canonical_id"))
      .orderBy(col("ahash"))
  }

  /** Output side length of [[imageResize]] (32×32 → 8×8, an exact
    * 4× reduction so both kernels stay integer-exact). */
  val ResizeSide = 8

  /** Image RESIZE over real decoded pixels — the CLIP/ViT-style
    * preprocessing step every multimodal training pipeline runs before
    * the encoder. Two standard kernels, both integer-exact so the
    * result is gateable cross-engine:
    *
    *  - box filter (PIL `Image.reduce` / antialiased downsample for an
    *    integer factor): each output pixel is the floor-mean of its
    *    4×4 source block — the correct kernel when downsampling
    *    (nearest aliases high-frequency texture);
    *  - nearest neighbor (torchvision `InterpolationMode.NEAREST`
    *    with the top-left sample convention `src = dst·scale`): the
    *    cheap kernel, kept for masks/labels where interpolation would
    *    invent classes.
    *
    * Output pixels are hex-packed row-major into one string per image
    * (2 hex chars per gray pixel) — schema-stable however large the
    * target, and directly comparable. Scale shape: map-only
    * decode+resize per partition (mapPartitions batch, no shuffle);
    * payload bytes never leave the stage. The DuckDB oracle replays
    * the pattern formula + both kernels arithmetically, so only a real
    * PNG decode with correct block/stride arithmetic matches. */
  def imageResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val f = PHashSide / ResizeSide // integer reduction factor (4)
    spreadMediaIds(spark, dir)
      .mapPartitions(_.map { id =>
        val img = decodePatternPng(id)
        val box = new StringBuilder(ResizeSide * ResizeSide * 2)
        val nn = new StringBuilder(ResizeSide * ResizeSide * 2)
        var by = 0
        while (by < ResizeSide) {
          var bx = 0
          while (bx < ResizeSide) {
            var s = 0L
            var dy = 0
            while (dy < f) {
              var dx = 0
              while (dx < f) {
                s += (img.getRGB(bx * f + dx, by * f + dy) >> 16) & 0xff
                dx += 1
              }
              dy += 1
            }
            box.append(f"${(s / (f * f)).toInt}%02x")
            nn.append(f"${(img.getRGB(bx * f, by * f) >> 16) & 0xff}%02x")
            bx += 1
          }
          by += 1
        }
        (id, box.toString, nn.toString)
      })
      .toDF("media_id", "box_hex", "nn_hex")
      .select(col("media_id"), lit(ResizeSide.toLong).as("width"),
        lit(ResizeSide.toLong).as("height"), col("box_hex"), col("nn_hex"))
      .orderBy(col("media_id"))
  }

  /** Audio RESAMPLE (2× decimation) over real decoded PCM — the audio
    * counterpart of [[imageResize]], and the step every speech
    * pipeline runs to land on the model's sample rate (16 kHz for
    * most ASR encoders). Two kernels on the decoded 16-bit samples:
    * plain subsampling (every 2nd sample) and the averaging (box)
    * decimator `(v₀+v₁+65536)/2 − 32768` — the sum is SHIFTED into
    * the non-negative domain before halving, where floor and
    * truncate agree, because signed integer division is exactly the
    * semantics engines disagree on (Spark `div` truncates; DuckDB's
    * `//` has truncated AND floored across releases — measured here).
    * The gate emits the
    * resample's sufficient statistics per clip (counts, sums, integer
    * energies) — fully determined by the kernel arithmetic, so only a
    * real WAV decode + correct stride math matches the oracle's
    * replay of the PCM formula. Map-only decode per partition. */
  def audioResample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spreadMediaIds(spark, dir)
      .mapPartitions(_.map { id =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(encodeSpeechWav(id)))
        val bytes = ais.readAllBytes()
        val n = bytes.length / 2
        var k = 0
        var sumSub = 0L
        var sumBox = 0L
        var eSub = 0L
        var eBox = 0L
        while (k < n / 2) {
          val v0 = ((bytes(4 * k + 1) << 8) | (bytes(4 * k) & 0xff)).toLong
          val v1 = ((bytes(4 * k + 3) << 8) | (bytes(4 * k + 2) & 0xff)).toLong
          val box = (v0 + v1 + 65536L) / 2L - 32768L
          sumSub += v0
          sumBox += box
          eSub += v0 * v0
          eBox += box * box
          k += 1
        }
        (id, (n / 2).toLong, sumSub, sumBox, eSub, eBox)
      })
      .toDF("media_id", "n_out", "sum_sub", "sum_box", "energy_sub", "energy_box")
      .orderBy(col("media_id"))
  }

  /** Deterministic image AUGMENTATION over real decoded pixels — the
    * flip/rotate step every vision training pipeline applies, done
    * integer-exactly so it gates: 90° clockwise rotation
    * (out(x,y) = in(y, S−1−x)) and horizontal flip
    * (out(x,y) = in(S−1−x, y)), each re-hashed with the SAME aHash as
    * the identity image. The DuckDB oracle replays the pattern
    * formula under both coordinate substitutions, so only a real
    * decode + correct index arithmetic matches all three hashes.
    * Augmentation is map-only (no shuffle) and per-partition batched
    * — the production shape for a transform stage. */
  def imageAugment(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spreadMediaIds(spark, dir)
      .mapPartitions(_.map { id =>
        val img = decodePatternPng(id)
        val side = PHashSide
        def derived(f: (Int, Int) => (Int, Int)) = {
          val o = new java.awt.image.BufferedImage(side, side,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < side) {
            var x = 0
            while (x < side) {
              val (sx, sy) = f(x, y)
              o.setRGB(x, y, img.getRGB(sx, sy))
              x += 1
            }
            y += 1
          }
          o
        }
        val rot = derived((x, y) => (y, side - 1 - x))
        val flip = derived((x, y) => (side - 1 - x, y))
        (id, aHashOf(img), aHashOf(rot), aHashOf(flip))
      })
      .toDF("media_id", "ahash", "ahash_rot90", "ahash_flip")
      .orderBy(col("media_id"))
  }

  /** Dataset normalization statistics over real decoded pixels — the
    * job that produces the per-channel mean/std constants every
    * vision training run bakes into its transform (ImageNet's
    * `[0.485, 0.456, 0.406]` came from exactly this computation). Per
    * pattern group: image count, exact pixel sum and sum of squares
    * (the sufficient statistics — mergeable integers, so shard-level
    * partials combine associatively at any scale), and the mean in
    * integer milli-units. Map-only decode + one tiny aggregation;
    * the DuckDB oracle replays the sums from the pattern formula, so
    * only a faithful decode matches. */
  def channelStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spreadMediaIds(spark, dir)
      .mapPartitions(_.map { id =>
        val img = decodePatternPng(id)
        var s = 0L
        var s2 = 0L
        var y = 0
        while (y < PHashSide) {
          var x = 0
          while (x < PHashSide) {
            val v = (img.getRGB(x, y) >> 16) & 0xff
            s += v
            s2 += v.toLong * v
            x += 1
          }
          y += 1
        }
        (id % PHashGroups, s, s2)
      })
      .toDF("grp", "s", "s2")
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_images"),
        sum(col("s")).as("sum_gray"), sum(col("s2")).as("sum_sq"))
      .withColumn("mean_milli",
        expr(s"1000 * sum_gray div (n_images * ${PHashSide * PHashSide})"))
      .orderBy(col("grp"))
  }

  /** (shard, name, bytes) member rows for the multimodal WebDataset
    * fixture: one real PNG + one class label per document, keyed
    * `<doc_id>.png` / `<doc_id>.cls` — the canonical image-caption
    * shard layout. Encoding happens executor-side per partition. */
  def multimodalMembers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source")).as[(Long, String)]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions(_.flatMap { case (id, source) =>
        val shard = id / graft.sources.TarShards.MembersPerShard
        Seq((shard, s"$id.png", encodePatternPng(id)),
          (shard, s"$id.cls", source.getBytes("UTF-8")))
      })
      .toDF("shard", "name", "bytes")
  }

  /** The q230 gate: stream the multimodal shards back, REALLY decode
    * each transported PNG member (dims + aHash from its pixels) and
    * re-pair it with its class member — only a byte-exact tar round
    * trip AND a correct decode reproduce the oracle's arithmetic
    * hash. The per-member decode runs where the shard was parsed
    * (one task per shard — the WebDataset execution model). */
  def tarMultimodalTable(spark: SparkSession, tarDir: String): DataFrame = {
    import spark.implicits._
    val members = graft.sources.TarShards.readMembers(spark, tarDir)
    val pngs = members.filter(col("name").endsWith(".png"))
      .select(regexp_extract(col("name"), "^(\\d+)\\.", 1).cast("long").as("doc_id"),
        col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        (id, img.getWidth.toLong, img.getHeight.toLong, aHashOf(img))
      })
      .toDF("doc_id", "width", "height", "ahash")
    val cls = members.filter(col("name").endsWith(".cls"))
      .select(regexp_extract(col("name"), "^(\\d+)\\.", 1).cast("long").as("doc_id"),
        col("bytes").cast("string").as("cls"))
    pngs.join(cls, Seq("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** Hamming radius for [[pHashNearDup]] pairs (1..MaxHamming; 0 =
    * exact hash equality, which is [[aHashDedup]]'s job). */
  val MaxHamming = 2L

  /** Perceptual NEAR-dup pairing — the second half of the LAION image
    * dedup mechanic: images whose aHashes differ in 1..[[MaxHamming]]
    * bits (the slightly-edited copies hash equality misses) are
    * paired via 4×16-bit *band blocking*: any two hashes within
    * Hamming 2 differ in at most 2 bands, so they must agree on at
    * least two of four — sharing ≥1 band is therefore a LOSSLESS
    * candidate filter for the radius (the SimHash byte-banding
    * argument, q16). Hamming distance itself is two bit_count(xor)
    * ops on the 32-bit hash halves — codegen-friendly integer ops,
    * no arrays. Scale shape: band self-join on 16-bit bucket keys
    * (the q70 candidate discipline; hot buckets would get the same
    * cap treatment), then a per-pair O(1) verify. */
  def pHashNearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // round 16 (guide §2.5 — a single enormous key that AQE cannot
    // split): the pattern corpus holds only ~[[PHashGroups]] hash
    // FAMILIES, so id-level band buckets grow linearly with the corpus
    // and the retired id×id band self-join went quadratic in group
    // size (the ×100-unique replica ran its 16-bit buckets at ~10⁴
    // members → ~10¹⁰ candidate rows on ~hundreds of distinct join
    // keys — a handful of straggler tasks, measured ~3.5/32 cores
    // busy past the stage timeout). The lossless fix is the guide-§8
    // proxy discipline: band-join the DISTINCT HASH VALUES
    // (model-sized — the band/pigeonhole argument is a property of
    // values, not ids), Hamming-filter value pairs, and only then
    // expand each surviving (va, vb) back to its id pairs —
    // output-sized work, with the hamming-0 mass (same-value id
    // pairs, the quadratic bulk) never generated at all. Round16Spec
    // pins the two formulations row-for-row equal.
    val h = spreadMediaIds(spark, dir)
      .mapPartitions(_.map { id =>
        val img = decodePatternPng(id)
        val hex = aHashOf(img)
        (id, java.lang.Long.parseLong(hex.substring(0, 8), 16),
          java.lang.Long.parseLong(hex.substring(8, 16), 16))
      })
      .toDF("id", "hi", "lo")
      .cache()
    val vb = h.select(col("hi"), col("lo")).distinct()
      .withColumn("bands", array(
        (col("hi") / 65536L).cast("long"), pmod(col("hi"), lit(65536L)),
        (col("lo") / 65536L).cast("long"), pmod(col("lo"), lit(65536L))))
      .select(col("hi"), col("lo"), posexplode(col("bands")).as(Seq("band", "bk")))
    val vpairs = vb
      .select(col("band"), col("bk"), col("hi").as("hia"), col("lo").as("loa"))
      .join(vb.select(col("band"), col("bk"), col("hi").as("hib"), col("lo").as("lob")),
        Seq("band", "bk"))
      .filter(struct(col("hia"), col("loa")) < struct(col("hib"), col("lob")))
      .select(col("hia"), col("loa"), col("hib"), col("lob")).distinct()
      .withColumn("hamming",
        expr("bit_count(hia ^ hib) + bit_count(loa ^ lob)").cast("long"))
      .filter(col("hamming") >= 1 && col("hamming") <= MaxHamming)
    vpairs
      .join(h.select(col("hi").as("hia"), col("lo").as("loa"), col("id").as("ia")),
        Seq("hia", "loa"))
      .join(h.select(col("hi").as("hib"), col("lo").as("lob"), col("id").as("ib")),
        Seq("hib", "lob"))
      .select(least(col("ia"), col("ib")).as("da"),
        greatest(col("ia"), col("ib")).as("db"), col("hamming"))
      .orderBy(col("da"), col("db"))
  }

  /** Frame sampling via binary slicing — every `stride` bytes take an
    * 8-byte "frame" window; pure column expressions, no decode. */
  def frameSample(spark: SparkSession, dir: String, stride: Int = 64): DataFrame =
    mediaTable(spark, dir)
      .select(col("media_id"), col("kind"),
        length(col("payload")).cast("long").as("byte_len"),
        explode(sequence(lit(1), greatest((length(col("payload")) / stride).cast("int"), lit(1))))
          .as("_f"))
      .select(col("media_id"), col("kind"), col("byte_len"),
        col("_f").cast("long").as("frame_no"),
        ((col("_f") - 1) * stride + 1).cast("long").as("offset"))
      .orderBy(col("media_id"), col("frame_no"))

  // ---------------------------------------------------------------
  // Video container probe (RIFF/AVI + MP4 box structure) — REAL
  // container parsing, JDK-only. Frame/pixel decode of true video
  // codecs stays out of scope (no codec libs in this container); the
  // metadata a pipeline actually filters on at ingest — container
  // kind, track count, dimensions, duration — comes from walking the
  // actual chunk/box structure, the same work ffprobe does for these
  // fields. Fixtures are deterministic pure functions of the id so an
  // arithmetic oracle proves the parse is real: a parser that does
  // not walk the RIFF LISTs / MP4 box tree cannot recover the
  // numbers.
  // ---------------------------------------------------------------

  case class VideoProbed(media_id: Long, container: String, n_tracks: Long,
                         width: Long, height: Long, duration_ms: Long)

  private def le32(v: Long): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def be32(v: Long): Array[Byte] =
    Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def cc(s: String): Array[Byte] = s.getBytes("US-ASCII")

  /** Deterministic AVI fixture: a structurally-valid RIFF container
    * ('hdrl' LIST with the 56-byte 'avih' main header plus one 'strl'
    * LIST per track, then an empty 'movi' LIST). Geometry, frame
    * timing and track count are pure functions of the id. */
  def encodeAvi(id: Long): Array[Byte] = {
    val usPerFrame = 20000L + (id % 30) * 1000L
    val frames = 100L + id % 400
    val w = 160L + (id % 16) * 8L
    val h = 120L + (id % 9) * 8L
    val nTracks = (1L + id % 3).toInt
    def chunk(tag: String, payload: Array[Byte]): Array[Byte] =
      cc(tag) ++ le32(payload.length.toLong) ++ payload
    def list(listType: String, payload: Array[Byte]): Array[Byte] =
      chunk("LIST", cc(listType) ++ payload)
    val avih = chunk("avih",
      le32(usPerFrame) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(frames) ++ le32(0) ++ le32(nTracks.toLong) ++ le32(0) ++
      le32(w) ++ le32(h) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0))
    val strls = (0 until nTracks).map { t =>
      // AVISTREAMHEADER: fccType + 52 bytes we leave zeroed
      list("strl", chunk("strh",
        cc(if (t == 0) "vids" else "auds") ++ new Array[Byte](52)))
    }
    val hdrl = list("hdrl", avih ++ strls.flatten)
    val movi = list("movi", Array.emptyByteArray)
    val body = cc("AVI ") ++ hdrl ++ movi
    cc("RIFF") ++ le32(body.length.toLong) ++ body
  }

  /** Parse an AVI by walking the RIFF chunk tree: verify the
    * RIFF/'AVI ' magic, find the 'hdrl' LIST, read the 'avih' fields,
    * and COUNT the 'strl' sub-LISTs (trusting the structure, not the
    * header's own dwStreams). Duration is µs/frame × frames. */
  def parseAvi(id: Long, bytes: Array[Byte]): VideoProbed = {
    val b = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(at: Int): String = new String(bytes, at, 4, "US-ASCII")
    require(bytes.length >= 12 && tag(0) == "RIFF" && tag(8) == "AVI ",
      s"media_id=$id: not a RIFF/AVI container")
    var usPerFrame = -1L; var frames = -1L; var w = -1L; var h = -1L
    var nTracks = 0L
    def walk(from: Int, to: Int): Unit = {
      var pos = from
      while (pos + 8 <= to) {
        val t = tag(pos)
        val size = b.getInt(pos + 4).toLong & 0xffffffffL
        if (t == "LIST") {
          val lt = tag(pos + 8)
          if (lt == "strl") nTracks += 1
          if (lt == "hdrl" || lt == "strl") walk(pos + 12, pos + 8 + size.toInt)
        } else if (t == "avih") {
          usPerFrame = b.getInt(pos + 8).toLong & 0xffffffffL
          frames = b.getInt(pos + 24).toLong & 0xffffffffL
          w = b.getInt(pos + 40).toLong & 0xffffffffL
          h = b.getInt(pos + 44).toLong & 0xffffffffL
        }
        pos += 8 + size.toInt + (size.toInt & 1) // chunks are word-aligned
      }
    }
    walk(12, bytes.length)
    require(usPerFrame >= 0 && nTracks > 0, s"media_id=$id: no avih/strl found")
    VideoProbed(id, "avi", nTracks, w, h, usPerFrame * frames / 1000L)
  }

  /** Deterministic MP4 fixture: 'ftyp' + 'moov' with a version-0
    * 'mvhd' (timescale 1000) and one 'trak'/'tkhd' per track carrying
    * 16.16 fixed-point dimensions — the standard ISO BMFF layout. */
  def encodeMp4(id: Long): Array[Byte] = {
    val timescale = 1000L
    val duration = 5000L + id % 9999
    val w = 320L + (id % 32) * 4L
    val h = 240L + (id % 18) * 4L
    val nTracks = (1L + id % 3).toInt
    def box(tp: String, payload: Array[Byte]): Array[Byte] =
      be32(payload.length + 8L) ++ cc(tp) ++ payload
    val matrix = be32(0x00010000L) ++ be32(0) ++ be32(0) ++
      be32(0) ++ be32(0x00010000L) ++ be32(0) ++
      be32(0) ++ be32(0) ++ be32(0x40000000L)
    val ftyp = box("ftyp", cc("isom") ++ be32(512) ++ cc("isom") ++ cc("iso2"))
    val mvhd = box("mvhd",
      be32(0) ++                                   // version 0 + flags
      be32(0) ++ be32(0) ++                        // creation, modification
      be32(timescale) ++ be32(duration) ++
      be32(0x00010000L) ++                         // rate 1.0
      Array[Byte](0x01, 0x00, 0, 0) ++             // volume 1.0 + reserved
      new Array[Byte](8) ++ matrix ++
      new Array[Byte](24) ++                       // pre_defined
      be32(nTracks + 1L))                          // next_track_ID
    val traks = (1 to nTracks).map { t =>
      box("trak", box("tkhd",
        Array[Byte](0, 0, 0, 7) ++                 // version 0, flags: enabled
        be32(0) ++ be32(0) ++                      // creation, modification
        be32(t.toLong) ++ be32(0) ++               // track_ID, reserved
        be32(duration) ++ new Array[Byte](8) ++
        new Array[Byte](8) ++                      // layer/alt_group/volume/reserved
        matrix ++
        be32(w << 16) ++ be32(h << 16)))           // 16.16 fixed point
    }
    ftyp ++ box("moov", mvhd ++ traks.flatten.toArray)
  }

  /** Parse an MP4 by walking the big-endian (size, fourcc) box tree:
    * recurse into 'moov'/'trak', read 'mvhd' timescale+duration, count
    * 'trak' boxes, recover dimensions from the first 'tkhd'. */
  def parseMp4(id: Long, bytes: Array[Byte]): VideoProbed = {
    val b = java.nio.ByteBuffer.wrap(bytes) // ISO BMFF is big-endian
    def tag(at: Int): String = new String(bytes, at, 4, "US-ASCII")
    var timescale = -1L; var duration = -1L; var w = -1L; var h = -1L
    var nTracks = 0L
    def walk(from: Int, to: Int): Unit = {
      var pos = from
      while (pos + 8 <= to) {
        val size = b.getInt(pos).toLong & 0xffffffffL
        require(size >= 8, s"media_id=$id: malformed box size $size")
        val t = tag(pos + 4)
        t match {
          case "moov" => walk(pos + 8, pos + size.toInt)
          case "trak" => nTracks += 1; walk(pos + 8, pos + size.toInt)
          case "mvhd" =>
            require(bytes(pos + 8) == 0, s"media_id=$id: only mvhd v0 supported")
            timescale = b.getInt(pos + 20).toLong & 0xffffffffL
            duration = b.getInt(pos + 24).toLong & 0xffffffffL
          case "tkhd" if w < 0 =>
            val p = pos + 8 + 4 // skip version/flags
            w = (b.getInt(p + 72).toLong & 0xffffffffL) >> 16
            h = (b.getInt(p + 76).toLong & 0xffffffffL) >> 16
          case _ => ()
        }
        pos += size.toInt
      }
    }
    walk(0, bytes.length)
    require(timescale > 0 && nTracks > 0, s"media_id=$id: no moov/mvhd found")
    VideoProbed(id, "mp4", nTracks, w, h, duration * 1000L / timescale)
  }

  /** End-to-end REAL container probe query: even ids get an AVI, odd
    * ids an MP4; each is encoded then parsed back by walking its
    * actual chunk/box structure. The oracle states the recovered
    * metadata arithmetically — only a real structural round trip
    * matches it. Map-only, no shuffle; payload bytes never leave the
    * executor. */
  def videoProbe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents").select(col("doc_id").as("media_id"))
      .as[Long]
      .mapPartitions(_.map { id =>
        if (id % 2 == 0) parseAvi(id, encodeAvi(id))
        else parseMp4(id, encodeMp4(id))
      })
      .toDF().orderBy(col("media_id"))
  }

  case class FeatRow(media_id: Long, kind: String,
                     f0: Long, f1: Long, f2: Long, f3: Long)

  /** REAL feature extraction over the real media table: a fixed-width
    * numeric feature vector per media row, computed from the DECODED
    * content (not from payload bytes or hashes):
    *  - image: mean R, mean G, mean B over every decoded pixel
    *    (integer div — exact for the solid-fill fixtures), pixel count
    *  - audio: sample rate, frame count, first and LAST 16-bit sample
    *    (the last sample forces a scan through the whole PCM stream)
    *  - video: container width, height, track count, duration ms
    * A production pipeline would run an embedding model in this same
    * map slot; the part that carries to 100 TB — per-partition
    * batched decode, map-only shape, fixed-width feature schema, the
    * payload column pruned everywhere else — is identical. */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    realMediaTable(spark, dir).mapPartitions(_.map { r =>
      if (isPng(r.payload) || isJpeg(r.payload)) {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
        require(img != null, s"media_id=${r.media_id}: undecodable image")
        val (w, h) = (img.getWidth, img.getHeight)
        var (rs, gs, bs) = (0L, 0L, 0L)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val px = img.getRGB(x, y)
            rs += (px >> 16) & 0xff; gs += (px >> 8) & 0xff; bs += px & 0xff
            x += 1
          }
          y += 1
        }
        val npx = w.toLong * h
        FeatRow(r.media_id, r.kind, rs / npx, gs / npx, bs / npx, npx)
      } else if (isWav(r.payload)) {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.payload))
        val fmt = ais.getFormat
        val frames = ais.getFrameLength
        val buf = new Array[Byte](2)
        var first = 0L
        var last = 0L
        var i = 0L
        while (i < frames && ais.read(buf) == 2) {
          val s = ((buf(1) << 8) | (buf(0) & 0xff)).toLong
          if (i == 0) first = s
          last = s
          i += 1
        }
        FeatRow(r.media_id, r.kind, fmt.getSampleRate.toLong, frames, first, last)
      } else {
        val v = if (isAvi(r.payload)) parseAvi(r.media_id, r.payload)
                else parseMp4(r.media_id, r.payload)
        FeatRow(r.media_id, r.kind, v.width, v.height, v.n_tracks, v.duration_ms)
      }
    }).toDF().orderBy(col("media_id"))
  }

  // ---------------------------------------------------------------
  // MJPEG-in-AVI: real video FRAME decode, JDK-only. The RIFF walker
  // above recovers container metadata; this closes the gap to actual
  // pixels — each '00dc' chunk in the 'movi' LIST is a REAL JPEG
  // (encoded by the JDK's ImageIO JPEG writer), and decode walks the
  // RIFF tree to the chunks and runs them through the same
  // memory-cached ImageIO path as PNG/GIF. Frames are UNIFORM gray
  // g(id, f): a constant raster's DCT has only the DC coefficient,
  // the level-shifted DC (g-128)·8 is an exact multiple of every DC
  // quantization step in use, and neutral chroma round-trips R=G=B —
  // so the lossy codec is bit-exact on these rasters and the pixel
  // arithmetic gates exactly (the same q81 pattern-formula discipline,
  // now through a real video container + a real lossy-codec writer).
  // ---------------------------------------------------------------

  case class MjpegFrameRow(media_id: Long, frame_idx: Long, width: Long,
                           height: Long, gray00: Long, gray_sum: Long,
                           n_frames: Long)

  private[graft] def mjpegFrameCount(id: Long): Int = (2 + id % 4).toInt
  private[graft] def mjpegW(id: Long, f: Int): Int =
    (16 + (id * 7 + f * 3) % 24).toInt
  private[graft] def mjpegH(id: Long, f: Int): Int =
    (8 + (id * 5 + f * 11) % 16).toInt
  private[graft] def mjpegGray(id: Long, f: Int): Int =
    (32 + (id * 13 + f * 29) % 192).toInt

  /** Deterministic MJPEG-in-AVI fixture: a structurally-valid RIFF
    * container ('hdrl' with avih + one 'vids'/'MJPG' strl) whose
    * 'movi' LIST holds one '00dc' chunk per frame, each a real JPEG
    * from the JDK writer. Frame geometry and gray level are pure
    * functions of (id, frame). Odd-length JPEG payloads get the RIFF
    * pad byte (size field excludes it; the walker skips it). */
  def encodeMjpegAvi(id: Long): Array[Byte] = {
    val n = mjpegFrameCount(id)
    def chunk(tag: String, payload: Array[Byte]): Array[Byte] = {
      val pad = if (payload.length % 2 == 1) Array(0.toByte) else Array.emptyByteArray
      cc(tag) ++ le32(payload.length.toLong) ++ payload ++ pad
    }
    def list(listType: String, payload: Array[Byte]): Array[Byte] =
      chunk("LIST", cc(listType) ++ payload)
    def jpegFrame(f: Int): Array[Byte] = {
      val (w, h, g) = (mjpegW(id, f), mjpegH(id, f), mjpegGray(id, f))
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = (g << 16) | (g << 8) | g
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
      writer.setOutput(ios)
      writer.write(img)
      writer.dispose()
      ios.close()
      bos.toByteArray
    }
    val avih = chunk("avih",
      le32(40000L) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(n.toLong) ++ le32(0) ++ le32(1L) ++ le32(0) ++
      le32(mjpegW(id, 0).toLong) ++ le32(mjpegH(id, 0).toLong) ++
      le32(0) ++ le32(0) ++ le32(0) ++ le32(0))
    val strl = list("strl", chunk("strh",
      cc("vids") ++ cc("MJPG") ++ new Array[Byte](48)))
    val hdrl = list("hdrl", avih ++ strl)
    val movi = list("movi",
      (0 until n).toArray.flatMap(f => chunk("00dc", jpegFrame(f))))
    val body = cc("AVI ") ++ hdrl ++ movi
    cc("RIFF") ++ le32(body.length.toLong) ++ body
  }

  /** Walk the RIFF tree of an AVI and return the video ('00dc')
    * chunk payloads from the 'movi' LIST, in stream order. */
  def aviVideoChunks(id: Long, bytes: Array[Byte]): Seq[Array[Byte]] = {
    val b = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(at: Int): String = new String(bytes, at, 4, "US-ASCII")
    require(bytes.length >= 12 && tag(0) == "RIFF" && tag(8) == "AVI ",
      s"media_id=$id: not a RIFF/AVI container")
    val out = Seq.newBuilder[Array[Byte]]
    def walk(from: Int, to: Int, inMovi: Boolean): Unit = {
      var pos = from
      while (pos + 8 <= to) {
        val t = tag(pos)
        val size = (b.getInt(pos + 4).toLong & 0xffffffffL).toInt
        if (t == "LIST") {
          val lt = tag(pos + 8)
          walk(pos + 12, pos + 8 + size, inMovi || lt == "movi")
        } else if (inMovi && t == "00dc") {
          out += java.util.Arrays.copyOfRange(bytes, pos + 8, pos + 8 + size)
        }
        pos += 8 + size + (size & 1) // chunks are word-aligned
      }
    }
    walk(12, bytes.length, inMovi = false)
    out.result()
  }

  /** End-to-end REAL video frame decode: encode an MJPEG AVI per
    * document id, walk the RIFF tree back to the '00dc' chunks, and
    * JPEG-decode EVERY frame through the memory-cached ImageIO path.
    * Emits per-frame geometry plus two pixel proofs — the (0,0) gray
    * level and the full-raster gray SUM (g·w·h only if every decoded
    * pixel survived the codec exactly). Map-only after an id spread
    * (the q103 repartition pattern: the codec loop is the cost, the
    * id column is tiny); payload bytes never leave the executor, so
    * the shape carries to 100 TB of real shards unchanged. */
  def mjpegFrames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spreadMediaIds(spark, dir)
      .mapPartitions(_.flatMap { id =>
        val frames = aviVideoChunks(id, encodeMjpegAvi(id))
        val n = frames.length.toLong
        frames.iterator.zipWithIndex.map { case (jb, f) =>
          val img = javax.imageio.ImageIO.read(
            new javax.imageio.stream.MemoryCacheImageInputStream(
              new java.io.ByteArrayInputStream(jb)))
          val (w, h) = (img.getWidth, img.getHeight)
          val px = img.getRGB(0, 0, w, h, null, 0, w)
          var sum = 0L
          var i = 0
          while (i < px.length) { sum += (px(i) >> 16) & 0xff; i += 1 }
          MjpegFrameRow(id, f.toLong, w.toLong, h.toLong,
            ((img.getRGB(0, 0) >> 16) & 0xff).toLong, sum, n)
        }
      })
      .toDF().orderBy(col("media_id"), col("frame_idx"))
  }
}
