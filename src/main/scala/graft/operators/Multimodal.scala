package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video travel as opaque `binary`
  * columns with typed metadata; decode/feature-extract/frame-sample run as
  * typed `mapPartitions` stages (the Scala analogue of a vectorized batch
  * UDF — one iterator per partition, so codec state is initialized once per
  * partition, not per row).
  *
  * Codecs, all REAL and pure-JDK: image (PNG/JPEG/BMP/GIF via ImageIO),
  * audio (WAV/AIFF PCM via javax.sound.sampled), and video (MJPEG-in-AVI
  * via [[MjpegAvi]] + ImageIO — the one video format a bare JDK can
  * decode; other codecs, e.g. H.264, still need a native library the
  * container lacks and fail as error rows naming the handler). Model
  * inference (embedding extraction) is out of engine scope by design:
  * embeddings arrive as a column and join on through [[withEmbeddings]].
  *
  * Scale: payloads never shuffle unless the caller joins/groups; feature
  * extraction is a narrow map over whatever partitioning the source has
  * (at 100 TB: one partition per parquet row-group of blobs).
  */
object Multimodal {

  // ImageIO's stream cache defaults to DISK: every read/write otherwise
  // creates (and deletes) a temp FILE per image — for the MJPEG rows that
  // is two filesystem round-trips per FRAME, and it WAS the codec cost
  // (measured sf0.1: q_video_neardup's 300-AVI fingerprint stage fell
  // 4.8 s → 0.27 s once the cache moved in-memory). All payloads here are
  // in-memory byte arrays, so the disk cache buys nothing at any scale.
  javax.imageio.ImageIO.setUseCache(false)

  /** One media row: payload is the raw encoded bytes. */
  final case class MediaRow(id: Long, modality: String, payload: Array[Byte],
      width: Int, height: Int)

  final case class Frame(id: Long, frameNo: Int, bytes: Array[Byte])

  /** One decoded media row: dimensions + mean luma for images, sample
    * rate/frames/RMS level for audio; `ok=false` rows carry the reason a
    * payload failed to decode (corrupt bytes must yield an error ROW, not
    * a task failure — at 100 TB some blobs are always bad). */
  final case class DecodedMedia(id: Long, modality: String, ok: Boolean,
      error: String, width: Int, height: Int, sampleRate: Float,
      frames: Long, level: Double)

  /** REAL image decode, pure JDK (ImageIO: PNG/JPEG/BMP/GIF). Mean luma
    * (ITU-R 601) over a ≤64×64 subsampled grid so huge images cost O(1).
    * Recognized-but-corrupt payloads (valid signature, truncated body)
    * come back as Left, never as an exception — a bad blob must become an
    * error row, not a task failure. */
  def imageFeatures(payload: Array[Byte]): Either[String, (Int, Int, Double)] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) Left("undecodable image payload")
      else {
        val w = img.getWidth; val h = img.getHeight
        val sx = math.max(1, w / 64); val sy = math.max(1, h / 64)
        var sum = 0.0; var n = 0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            sum += luma(rgb)
            n += 1; x += sx
          }
          y += sy
        }
        Right((w, h, sum / n / 255.0))
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        Left(s"corrupt image payload: ${e.getMessage}")
    }

  /** REAL audio decode, pure JDK (javax.sound WAV/AIFF): sample rate,
    * frame count, and RMS level. Whatever the container's encoding
    * (8/16/24-bit, big/little-endian, AIFF), the stream is CONVERTED to
    * 16-bit signed little-endian PCM before the RMS loop, so the level is
    * format-independent. Corrupt payloads become Left, not exceptions. */
  def audioFeatures(payload: Array[Byte]): Either[String, (Float, Long, Double)] =
    try {
      import javax.sound.sampled.{AudioFormat, AudioSystem}
      val in = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      val fmt = in.getFormat
      val frames = in.getFrameLength
      val target = new AudioFormat(fmt.getSampleRate, 16, fmt.getChannels,
        true, false) // signed 16-bit little-endian PCM
      val pcm = if (fmt.matches(target)) in
        else AudioSystem.getAudioInputStream(target, in)
      val bytes = pcm.readAllBytes()
      var sum = 0.0; var n = 0; var i = 0
      while (i + 1 < bytes.length) {
        val s = ((bytes(i + 1) << 8) | (bytes(i) & 0xff)).toShort / 32768.0
        sum += s * s; n += 1; i += 2
      }
      Right((fmt.getSampleRate, frames,
        if (n == 0) 0.0 else math.sqrt(sum / n)))
    } catch {
      case scala.util.control.NonFatal(e) =>
        Left(s"undecodable audio payload: ${e.getMessage}")
    }

  /** REAL video decode, pure JDK ([[MjpegAvi]] demux + ImageIO per-frame
    * JPEG): frame count, first-frame dimensions, and mean luma over ≤16
    * evenly-spaced frames (so hour-long payloads cost O(1) frame decodes).
    * Non-MJPEG video (H.264 etc.) and corrupt containers come back Left. */
  def videoFeatures(payload: Array[Byte]): Either[String, (Int, Int, Long, Double)] =
    MjpegAvi.decodeFrames(payload).flatMap { frames =>
      if (frames.isEmpty) Left("AVI container holds no video frames")
      else {
        val stride = (frames.length + 15) / 16 // ceil: at most 16 decodes
        val sampled = frames.indices.by(stride).map(i => imageFeatures(frames(i)))
        sampled.collectFirst { case Left(e) => e } match {
          case Some(err) => Left(s"undecodable frame (MJPG is the only JDK-decodable handler): $err")
          case None =>
            val lumas = sampled.collect { case Right((_, _, l)) => l }
            val (w, h) = sampled.head match { case Right((fw, fh, _)) => (fw, fh); case _ => (0, 0) }
            Right((w, h, frames.length.toLong, lumas.sum / lumas.size))
        }
      }
    }

  /** Decode every media row with the modality's codec — image, audio, and
    * video all REAL (pure JDK), anything else an error row. mapPartitions
    * so a real deployment initializes its codec once per partition;
    * narrow, partition-preserving, failures as data. */
  def decodeMedia(media: Dataset[MediaRow]): Dataset[DecodedMedia] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        r.modality match {
          case "image" => imageFeatures(r.payload) match {
            case Right((w, h, luma)) =>
              DecodedMedia(r.id, r.modality, ok = true, "", w, h, 0f, 0L, luma)
            case Left(err) =>
              DecodedMedia(r.id, r.modality, ok = false, err, 0, 0, 0f, 0L, 0.0)
          }
          case "audio" => audioFeatures(r.payload) match {
            case Right((rate, frames, rms)) =>
              DecodedMedia(r.id, r.modality, ok = true, "", 0, 0, rate, frames, rms)
            case Left(err) =>
              DecodedMedia(r.id, r.modality, ok = false, err, 0, 0, 0f, 0L, 0.0)
          }
          case "video" => videoFeatures(r.payload) match {
            case Right((w, h, frames, luma)) =>
              DecodedMedia(r.id, r.modality, ok = true, "", w, h, 0f, frames, luma)
            case Left(err) =>
              DecodedMedia(r.id, r.modality, ok = false, err, 0, 0, 0f, 0L, 0.0)
          }
          case other =>
            DecodedMedia(r.id, other, ok = false,
              s"no codec for modality '$other'", 0, 0, 0f, 0L, 0.0)
        }
      }
    }
  }

  /** REAL image resize, pure JDK (headless BufferedImage + Graphics2D,
    * bilinear): decode → scale to `w`×`h` → re-encode PNG. Corrupt
    * payloads become Left — failures stay data. */
  /** Decode + bilinear-resample to `w`×`h` RGB — the one shared
    * decode/scale path, so hashing and resizing can never silently
    * diverge on alpha/hint handling. */
  private def decodeScaled(payload: Array[Byte], w: Int,
      h: Int): Either[String, java.awt.image.BufferedImage] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) Left("undecodable image payload")
      else {
        val out = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, w, h, null)
        g.dispose()
        Right(out)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        Left(s"corrupt image payload: ${e.getMessage}")
    }

  /** ITU-R 601 luma of a packed RGB pixel. */
  private def luma(rgb: Int): Double =
    0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
      0.114 * (rgb & 0xff)

  def resizeImage(payload: Array[Byte], w: Int, h: Int): Either[String, Array[Byte]] =
    decodeScaled(payload, w, h).map { out =>
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", buf)
      buf.toByteArray
    }

  /** Resize every image row to a uniform `w`×`h` (the thumbnail /
    * model-input normalization pass); non-image or undecodable rows pass
    * through unchanged so the pipeline never loses records. Narrow
    * mapPartitions — payload bytes never shuffle. */
  def resizeImages(media: Dataset[MediaRow], w: Int, h: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        if (r.modality != "image") r
        else resizeImage(r.payload, w, h) match {
          case Right(bytes) => MediaRow(r.id, r.modality, bytes, w, h)
          case Left(_) => r
        }
      }
    }
  }

  /** Sample every `stride`-th fixed-size chunk of a payload as a raw byte
    * "frame" — the generic 1→N splitter for codec-less blobs (flatMap, no
    * shuffle). For real video frames use [[videoFrames]]. */
  def frameSample(media: Dataset[MediaRow], frameBytes: Int,
      stride: Int): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      r.payload.grouped(frameBytes).zipWithIndex.collect {
        case (chunk, idx) if idx % stride == 0 => Frame(r.id, idx, chunk)
      }
    }
  }

  /** REAL video frame sampling: demux each MJPEG-AVI payload and emit
    * every `stride`-th frame's JPEG bytes (frameNo = position in the
    * stream). Same 1→N flatMap shape — payloads never shuffle; corrupt
    * containers yield no frames rather than failing the task (route
    * through [[decodeMedia]] first when the error rows matter). */
  def videoFrames(media: Dataset[MediaRow], stride: Int): Dataset[Frame] = {
    require(stride > 0, s"stride must be positive, got $stride")
    import media.sparkSession.implicits._
    media.flatMap { r =>
      MjpegAvi.decodeFrames(r.payload) match {
        case Right(frames) => frames.indices.by(stride)
          .map(i => Frame(r.id, i, frames(i)))
        case Left(_) => Nil
      }
    }
  }

  /** REAL WAV encode, pure JDK (javax.sound): 16-bit signed little-endian
    * mono PCM samples → a RIFF/WAVE payload [[audioFeatures]] and
    * [[audioEnergyFingerprint]] can decode back. The synthesis half of the
    * audio roundtrip (tests + oracle-able fingerprint queries). */
  def encodeWavPcm16(samples: Array[Short], sampleRate: Float): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val bytes = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      bytes(2 * i) = (samples(i) & 0xff).toByte
      bytes(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(sampleRate, 16, 1, true, false)
    val in = new AudioInputStream(new java.io.ByteArrayInputStream(bytes),
      fmt, samples.length.toLong)
    val out = new java.io.ByteArrayOutputStream()
    AudioSystem.write(in, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** 64-bit audio ENERGY fingerprint: REAL decode (same javax.sound
    * convert-to-PCM16 path as [[audioFeatures]]), the sample stream split
    * into 64 equal time windows, bit i set iff window i's RMS level
    * exceeds `threshold` — the coarse loudness envelope that survives
    * re-encoding and resampling, the audio analogue of the image dHash.
    * Integer samples and a threshold far from both envelope levels make
    * the bit decisions exact, so the fingerprint is deterministic for
    * synthesized payloads (what lets q_audio_neardup oracle the pair
    * stage). Corrupt payloads come back Left — failures stay data. */
  def audioEnergyFingerprint(payload: Array[Byte],
      threshold: Double = 0.25): Either[String, Long] =
    try {
      import javax.sound.sampled.{AudioFormat, AudioSystem}
      val in = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      val fmt = in.getFormat
      val target = new AudioFormat(fmt.getSampleRate, 16, fmt.getChannels,
        true, false)
      val pcm = if (fmt.matches(target)) in
        else AudioSystem.getAudioInputStream(target, in)
      val bytes = pcm.readAllBytes()
      val n = bytes.length / 2
      if (n < 64) Left(s"audio payload too short to fingerprint: $n samples")
      else {
        val wl = n / 64
        val sumSq = new Array[Double](64)
        val cnt = new Array[Int](64)
        var i = 0
        while (i < n) {
          val s = ((bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)).toShort / 32768.0
          val w = math.min(i / wl, 63)
          sumSq(w) += s * s; cnt(w) += 1
          i += 1
        }
        var h = 0L
        var w = 0
        while (w < 64) {
          if (cnt(w) > 0 && math.sqrt(sumSq(w) / cnt(w)) > threshold)
            h |= 1L << w
          w += 1
        }
        Right(h)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        Left(s"undecodable audio payload: ${e.getMessage}")
    }

  /** Synthesize the 64-window square-envelope WAV whose
    * [[audioEnergyFingerprint]] is exactly `pattern`: window i holds a
    * constant ±16000 square tone (RMS ≈ 0.49) iff bit i is set, silence
    * (RMS 0) otherwise — both levels far from the 0.25 threshold, so the
    * encode → decode → fingerprint roundtrip recovers `pattern` bit-for-
    * bit. 64 samples per window at 8 kHz. */
  def patternWav(pattern: Long): Array[Byte] = {
    val samples = new Array[Short](64 * 64)
    var w = 0
    while (w < 64) {
      if ((pattern >> w & 1L) == 1L) {
        var i = 0
        while (i < 64) {
          samples(w * 64 + i) = if (i % 2 == 0) 16000 else -16000
          i += 1
        }
      }
      w += 1
    }
    encodeWavPcm16(samples, 8000f)
  }

  /** 64-bit video LUMA fingerprint: REAL MJPEG-AVI demux + per-frame JPEG
    * decode ([[MjpegAvi]] + ImageIO), bit i set iff frame i's mean luma
    * exceeds 0.5 (first 64 frames; shorter videos leave high bits 0) —
    * the coarse brightness envelope, the video analogue of
    * [[audioEnergyFingerprint]]. Solid-frame payloads decode to luma ≈ 0
    * or ≈ 1 (JPEG's DC term is exact on flat blocks), so the bit
    * decisions are deterministic for synthesized videos — what lets
    * q_video_neardup oracle the pair stage. Corrupt containers or frames
    * come back Left. */
  def videoLumaFingerprint(payload: Array[Byte]): Either[String, Long] =
    MjpegAvi.decodeFrames(payload).flatMap { frames =>
      if (frames.isEmpty) Left("AVI container holds no video frames")
      else {
        val lumas = frames.take(64).map(imageFeatures)
        lumas.collectFirst { case Left(e) => e } match {
          case Some(e) => Left(s"undecodable frame: $e")
          case None =>
            var h = 0L
            lumas.zipWithIndex.foreach {
              case (Right((_, _, l)), i) => if (l > 0.5) h |= 1L << i
              case _ => ()
            }
            Right(h)
        }
      }
    }

  /** Synthesize the 64-frame MJPEG-AVI whose [[videoLumaFingerprint]] is
    * exactly `pattern`: frame i is solid white iff bit i is set, solid
    * black otherwise — both levels far from the 0.5 luma threshold, so
    * the encode → demux → decode → fingerprint roundtrip recovers
    * `pattern` bit-for-bit. 16×16 frames keep the codec cost trivial. */
  def patternAvi(pattern: Long): Array[Byte] = {
    val frames = (0 until 64).map { i =>
      val img = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(if ((pattern >> i & 1L) == 1L) java.awt.Color.WHITE
        else java.awt.Color.BLACK)
      g.fillRect(0, 0, 16, 16)
      g.dispose()
      img
    }
    MjpegAvi.encodeImages(frames, fps = 8)
  }

  /** Join documents with their embedding vectors into one multimodal row
    * (text + vector + metadata struct). */
  def withEmbeddings(docs: DataFrame, embeddings: DataFrame,
      docId: String = "doc_id", vecId: String = "vec_id"): DataFrame =
    docs.join(embeddings, col(docId) === col(vecId))
      .select(col(docId), struct(col("text"), col("lang"), col("embedding")).as("mm"))

  /** Perceptual image hash (difference hash, "dHash"): REAL decode,
    * bilinear resample to a 9×8 luma grid, bit (r,c) set iff
    * gray(r,c) < gray(r,c+1) — 64 bits capturing the gradient STRUCTURE,
    * so re-encoding, resizing, and uniform brightness shifts leave the
    * hash (nearly) unchanged while different images differ in ~32 bits.
    * The image analogue of the text simHash16. Corrupt payloads are
    * Left — failures stay data. */
  def dHash(payload: Array[Byte]): Either[String, Long] =
    decodeScaled(payload, 9, 8).map { s =>
      var h = 0L
      var r = 0
      while (r < 8) {
        var c = 0
        while (c < 8) {
          if (luma(s.getRGB(c, r)) < luma(s.getRGB(c + 1, r)))
            h |= 1L << (r * 8 + c)
          c += 1
        }
        r += 1
      }
      h
    }

  /** Image near-duplicate pairs by perceptual-hash Hamming distance —
    * the image-dedup step of a multimodal corpus pipeline. Hashes are
    * one narrow decode pass ([[dHash]], payloads never shuffle); the
    * pair join is BANDED, never all-pairs: the 64-bit hash splits into
    * 4 × 16-bit bands, and two hashes within Hamming ≤ 3 must agree on
    * at least one whole band (pigeonhole: 3 differing bits cannot touch
    * all 4 bands), so candidates come from a plain equi-join on
    * (band index, band value) — the same LSH-banding shape as the text
    * MinHash path, 2^16 blocking keys per band at any corpus size.
    * Candidates are verified by exact popcount; requires maxHamming ≤ 3
    * for exactness. Undecodable images are silently absent (their
    * failure rows live in [[decodeMedia]]'s output, not here). */
  def imageNearDups(media: Dataset[MediaRow], maxHamming: Int): DataFrame = {
    import media.sparkSession.implicits._
    val hashes = media.filter(_.modality == "image")
      .mapPartitions(_.flatMap(r => dHash(r.payload).toOption.map(h => (r.id, h))))
      .toDF("id", "h")
    hammingNearDups(hashes, "id", "h", maxHamming)
  }

  /** The banded pair stage of [[imageNearDups]], over an ALREADY-HASHED
    * (id, 64-bit hash) table — split out so the join logic is usable (and
    * oracle-checkable, q_image_neardup) independently of the decode:
    * 4 × 16-bit bands gate a plain equi-join (pigeonhole: ≤ 3 differing
    * bits cannot touch all 4 bands), candidates verified by exact
    * xor-popcount. Returns (ida, idb, ham), ida < idb. */
  def hammingNearDups(hashes: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"banding guarantees exactness only for maxHamming <= 3 (got $maxHamming)")
    // materialize the (id, hash) table ONCE: both join sides derive from
    // it, and without the cut the whole upstream — the media decode +
    // fingerprint pass for the codec rows — re-runs per side (measured at
    // sf0.1: the two 32-task codec stages of q_video_neardup each carried
    // all 300 AVI round-trips). This is the optimization guide §8 move
    // verbatim: fingerprints are decided-on metadata, compute them one
    // pass and join the 16-byte rows, never re-decode payloads.
    val hs = graft.operators.Checkpoint.cut(
      hashes.select(col(idCol).as("id"), col(hashCol).as("h")))
    val bands = hs
      .select(col("id"), col("h"),
        explode(expr("transform(sequence(0, 3), b -> " +
          "struct(b AS bi, shiftright(h, b * 16) & 65535 AS bv))")).as("bd"))
      .select(col("id"), col("h"), col("bd.bi"), col("bd.bv"))
    val a = bands.select(col("id").as("ida"), col("h").as("ha"),
      col("bi"), col("bv"))
    val b = bands.select(col("id").as("idb"), col("h").as("hb"),
      col("bi").as("bi2"), col("bv").as("bv2"))
    a.join(b, col("bi") === col("bi2") && col("bv") === col("bv2") &&
        col("ida") < col("idb"))
      .select(col("ida"), col("idb"),
        expr("CAST(bit_count(ha ^ hb) AS INT)").as("ham"))
      // filter BEFORE the dedup shuffle: ham is a pure function of the
      // pair, so band-collision candidates above the cut never shuffle
      .where(col("ham") <= maxHamming)
      .distinct()
  }
}
