package graft.operators

import graft.SparkSpec
import graft.operators.Multimodal.MediaRow

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def media = Seq(
    MediaRow(1L, "image", Array.tabulate(64)(_.toByte), 8, 8),
    MediaRow(2L, "image", Array.tabulate(64)(_.toByte), 8, 8),  // same payload
    MediaRow(3L, "video", Array.tabulate(400)(i => (i % 7).toByte), 20, 20)
  ).toDS().repartition(3)

  test("frameSample strides chunks and keeps ids") {
    val frames = Multimodal.frameSample(media.filter(_.modality == "video"),
      frameBytes = 50, stride = 2).collect()
    // 400 bytes / 50 = 8 chunks, stride 2 -> frames 0,2,4,6
    assert(frames.map(_.frameNo).sorted.toSeq == Seq(0, 2, 4, 6))
    assert(frames.forall(_.id == 3L))
    assert(frames.forall(_.bytes.length == 50))
  }

  private def pngBytes(w: Int, h: Int, gray: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (gray << 16) | (gray << 8) | gray
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def wavBytes(rate: Float, amplitude: Short, nFrames: Int): Array[Byte] = {
    import javax.sound.sampled._
    val fmt = new AudioFormat(rate, 16, 1, true, false) // 16-bit mono LE PCM
    val pcm = new Array[Byte](nFrames * 2)
    var i = 0
    while (i < nFrames) { // constant-amplitude square wave: RMS = amplitude
      val s = if (i % 2 == 0) amplitude else (-amplitude).toShort
      pcm(2 * i) = (s & 0xff).toByte; pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("decodeMedia: REAL JDK codecs decode PNG and WAV payloads") {
    val rows = Seq(
      MediaRow(10L, "image", pngBytes(8, 4, gray = 100), 0, 0),
      MediaRow(11L, "audio", wavBytes(8000f, amplitude = 16384, nFrames = 800), 0, 0),
      MediaRow(12L, "image", Array[Byte](1, 2, 3), 0, 0), // corrupt
      MediaRow(13L, "video", Array[Byte](9, 9), 0, 0),    // not a RIFF container
      MediaRow(14L, "hologram", Array[Byte](9), 0, 0)     // unknown modality
    ).toDS()
    val d = Multimodal.decodeMedia(rows).collect().map(x => x.id -> x).toMap
    // PNG: dimensions + mean luma of the uniform gray fill
    assert(d(10L).ok && d(10L).width == 8 && d(10L).height == 4)
    assert(math.abs(d(10L).level - 100.0 / 255.0) < 1e-6)
    // WAV: sample rate, frame count, RMS of the square wave = amplitude
    assert(d(11L).ok && d(11L).sampleRate == 8000f && d(11L).frames == 800L)
    assert(math.abs(d(11L).level - 16384.0 / 32768.0) < 1e-6)
    // corrupt and unsupported payloads become error ROWS, not task failures
    assert(!d(12L).ok && d(12L).error.nonEmpty)
    assert(!d(13L).ok && d(13L).error.contains("RIFF"))
    assert(!d(14L).ok && d(14L).error.contains("hologram"))
  }

  private def grayFrame(w: Int, h: Int, gray: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (gray << 16) | (gray << 8) | gray
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    img
  }

  test("decodeMedia: REAL video decode — MJPEG-in-AVI frames, count + luma") {
    // 6 frames of uniform gray 60..160: mean luma ≈ 110/255 (JPEG is
    // lossy, so compare loosely)
    val avi = MjpegAvi.encodeImages((0 until 6).map(i => grayFrame(16, 12, 60 + i * 20)), fps = 5)
    val rows = Seq(MediaRow(30L, "video", avi, 0, 0)).toDS()
    val d = Multimodal.decodeMedia(rows).collect().head
    assert(d.ok, d.error)
    assert(d.width == 16 && d.height == 12 && d.frames == 6L)
    assert(math.abs(d.level - 110.0 / 255.0) < 0.05)
  }

  test("MjpegAvi round-trips frame payloads and rejects corrupt containers") {
    val jpegs = (0 until 3).map { i =>
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(grayFrame(8, 8, 40 * (i + 1)), "jpg", bos)
      bos.toByteArray
    }
    val avi = MjpegAvi.encode(jpegs, 8, 8, fps = 10)
    val back = MjpegAvi.decodeFrames(avi)
    assert(back.isRight)
    assert(back.toOption.get.map(_.toSeq) == jpegs.map(_.toSeq))
    // truncating inside the movi list must yield Left, not throw
    assert(MjpegAvi.decodeFrames(avi.take(avi.length - 5)).isLeft)
    assert(MjpegAvi.decodeFrames("RIFFxxxxWAVE".getBytes("US-ASCII")).isLeft)
    // a crafted payload of deeply nested LISTs (sizes all consistent, so
    // no overrun check trips) must yield Left via the depth bound, not
    // blow the stack (StackOverflowError is uncatchable failures-as-data)
    val n = 5000
    val bos = new java.io.ByteArrayOutputStream()
    def u32le(v: Int): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val sizes = (0 until n).map(k => 4 + 12 * (n - 1 - k)) // innermost = 4
    bos.write("RIFF".getBytes("US-ASCII")); bos.write(u32le(12 + sizes(0)))
    bos.write("AVI ".getBytes("US-ASCII"))
    (0 until n).foreach { k =>
      bos.write("LIST".getBytes("US-ASCII")); bos.write(u32le(sizes(k)))
      bos.write("movi".getBytes("US-ASCII"))
    }
    val deep = MjpegAvi.decodeFrames(bos.toByteArray)
    assert(deep.isLeft && deep.swap.toOption.get.contains("nesting"), deep.toString)
  }

  test("videoFrames: strided REAL frames; corrupt payloads yield none") {
    val avi = MjpegAvi.encodeImages((0 until 5).map(i => grayFrame(8, 8, 30 + i * 30)), fps = 2)
    val rows = Seq(
      MediaRow(40L, "video", avi, 0, 0),
      MediaRow(41L, "video", Array[Byte](1, 2, 3, 4), 0, 0)).toDS()
    val frames = Multimodal.videoFrames(rows, stride = 2).collect()
    assert(frames.map(f => (f.id, f.frameNo)).sorted.toSeq ==
      Seq((40L, 0), (40L, 2), (40L, 4)))
    // each sampled frame is a decodable JPEG at the muxed dimensions
    frames.foreach { f =>
      val dec = Multimodal.imageFeatures(f.bytes)
      assert(dec.isRight)
      assert(dec.toOption.get._1 == 8)
    }
  }

  test("resizeImages: REAL bilinear resize re-encodes at target dims") {
    val rows = Seq(
      MediaRow(1L, "image", pngBytes(16, 8, gray = 80), 16, 8),
      MediaRow(2L, "image", Array[Byte](1, 2, 3), 0, 0),  // corrupt: passes through
      MediaRow(3L, "audio", Array[Byte](9), 0, 0)         // non-image: untouched
    ).toDS()
    val out = Multimodal.resizeImages(rows, 4, 4).collect().map(x => x.id -> x).toMap
    assert(out(1L).width == 4 && out(1L).height == 4)
    // the resized payload really decodes at the new dimensions, and a
    // uniform-gray source stays (approximately) the same gray
    val dec = Multimodal.imageFeatures(out(1L).payload)
    assert(dec.isRight)
    val (w, h, luma) = dec.toOption.get
    assert(w == 4 && h == 4 && math.abs(luma - 80.0 / 255.0) < 0.02)
    assert(out(2L).payload.toSeq == Seq[Byte](1, 2, 3)) // corrupt kept as-is
    assert(out(3L).payload.toSeq == Seq[Byte](9))
  }

  test("decodeMedia: recognized-but-truncated payloads are error rows too") {
    // valid PNG signature + truncated body: ImageIO throws (not null);
    // WAV header promising more data than present: javax.sound throws
    val png = pngBytes(8, 4, gray = 10)
    val wav = wavBytes(8000f, amplitude = 100, nFrames = 400)
    val rows = Seq(
      MediaRow(20L, "image", png.take(30), 0, 0),
      MediaRow(21L, "audio", wav.take(20), 0, 0)
    ).toDS()
    val d = Multimodal.decodeMedia(rows).collect().map(x => x.id -> x).toMap
    assert(!d(20L).ok && d(20L).error.nonEmpty)
    assert(!d(21L).ok && d(21L).error.nonEmpty)
  }

  test("withEmbeddings builds the multimodal struct row") {
    val docs = Seq((1L, "hello", "en")).toDF("doc_id", "text", "lang")
    val emb = Seq((1L, Array(0.1f, 0.2f))).toDF("vec_id", "embedding")
    val out = Multimodal.withEmbeddings(docs, emb).collect()
    assert(out.length == 1)
    val mm = out.head.getStruct(1)
    assert(mm.getString(0) == "hello" && mm.getString(1) == "en")
  }

  // horizontal gradient PNG: dHash is built from left-right luma steps
  private def gradientPng(w: Int, h: Int, from: Int, to: Int,
      jpeg: Boolean = false): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val g = from + (to - from) * x / math.max(w - 1, 1)
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, if (jpeg) "jpg" else "png", bos)
    bos.toByteArray
  }

  test("dHash is stable under resize/re-encode/brightness; differs across structure") {
    def h(b: Array[Byte]) = Multimodal.dHash(b).toOption.get
    val base = h(gradientPng(64, 48, 20, 220))
    val resized = h(gradientPng(128, 96, 20, 220)) // same structure, 2x size
    val brighter = h(gradientPng(64, 48, 50, 250)) // uniform shift
    val reenc = h(gradientPng(64, 48, 20, 220, jpeg = true))
    val reversed = h(gradientPng(64, 48, 220, 20)) // opposite gradient
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(base == resized)
    assert(ham(base, brighter) <= 2, s"brightness moved ${ham(base, brighter)} bits")
    assert(ham(base, reenc) <= 2, s"jpeg re-encode moved ${ham(base, reenc)} bits")
    assert(ham(base, reversed) >= 32, s"reversed only ${ham(base, reversed)} bits away")
    assert(Multimodal.dHash(Array[Byte](1, 2, 3)).isLeft)
  }

  test("imageNearDups pairs perceptual twins via banded join, skips corrupt rows") {
    val rows = Seq(
      MediaRow(1L, "image", gradientPng(64, 48, 20, 220), 0, 0),
      MediaRow(2L, "image", gradientPng(128, 96, 20, 220), 0, 0), // resized twin
      MediaRow(3L, "image", gradientPng(64, 48, 220, 20), 0, 0),  // reversed
      MediaRow(4L, "image", Array[Byte](1, 2, 3), 0, 0),          // corrupt
      MediaRow(5L, "audio", Array[Byte](1), 0, 0)                 // not an image
    ).toDS().repartition(2)
    val pairs = Multimodal.imageNearDups(rows, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == Set((1L, 2L, 0)))
  }

  test("hammingNearDups: exact recall at ham ≤ 3, cut at 4, no cartesian") {
    // base hash plus planted perturbations at growing Hamming distance
    val base = 0x0123456789abcdL // 60-bit, positive
    val hashes = Seq(
      1L -> base,
      2L -> (base ^ 1L),                       // ham 1 from base
      3L -> (base ^ (1L << 17) ^ (1L << 33)),  // ham 2
      4L -> (base ^ 7L),                       // ham 3 (one band)
      // ham 4 from base: one bit per band, bits {8,24,40,56} disjoint
      // from every other planted perturbation so no pairing dips ≤ 3
      5L -> (base ^ 0x0100010001000100L),
      6L -> (~base | Long.MinValue)            // far away, negative
    ).toDF("id", "h")
    val got = Multimodal.hammingNearDups(hashes, "id", "h", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // every pair among {1,2,3,4} is within ham 3+3; exact distances:
    assert(got.contains((1L, 2L, 1)) && got.contains((1L, 3L, 2)) &&
      got.contains((1L, 4L, 3)))
    // id 5 differs from base in ALL FOUR bands (pigeonhole bound is the
    // contract: ham 4 has no banding guarantee and this one is unfindable)
    assert(!got.exists(p => p._1 == 5L || p._2 == 5L))
    assert(!got.exists(p => p._1 == 6L || p._2 == 6L))
    // the plan must be a banded equi-join, never a cartesian product
    val plan = Multimodal.hammingNearDups(hashes, "id", "h", 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"), plan)
    // maxHamming > 3 breaks the pigeonhole exactness and must raise
    intercept[IllegalArgumentException](
      Multimodal.hammingNearDups(hashes, "id", "h", 4))
  }

  test("audio energy fingerprint: WAV encode→decode roundtrip recovers " +
      "the pattern bit-for-bit") {
    // the q_audio_neardup contract: patternWav synthesizes a REAL WAV
    // whose windowed-RMS fingerprint is exactly the input pattern
    for (pat <- Seq(0L, 1L, 0x0123456789abcdL, 0x7fffffffffffffffL,
        0x8000000000000001L, -1L)) {
      val wav = Multimodal.patternWav(pat)
      // a genuine RIFF/WAVE container, decodable by the generic path too
      assert(new String(wav.take(4), "US-ASCII") == "RIFF")
      assert(Multimodal.audioFeatures(wav).isRight)
      assert(Multimodal.audioEnergyFingerprint(wav) == Right(pat),
        s"pattern ${pat.toHexString} did not roundtrip")
    }
    // corrupt payloads stay data, never exceptions
    assert(Multimodal.audioEnergyFingerprint(Array[Byte](1, 2, 3)).isLeft)
    // too-short-but-valid audio refuses to fingerprint
    val tiny = Multimodal.encodeWavPcm16(Array[Short](1, 2, 3), 8000f)
    assert(Multimodal.audioEnergyFingerprint(tiny).isLeft)
  }

  test("video luma fingerprint: AVI encode→demux→decode roundtrip " +
      "recovers the pattern bit-for-bit") {
    // the q_video_neardup contract: patternAvi synthesizes a REAL
    // MJPEG-AVI whose per-frame luma fingerprint is exactly the pattern
    for (pat <- Seq(0L, 1L, 0x0123456789abcdL, 0x7fffffffffffffffL,
        0x8000000000000001L, -1L)) {
      val avi = Multimodal.patternAvi(pat)
      assert(new String(avi.take(4), "US-ASCII") == "RIFF")
      assert(Multimodal.videoFeatures(avi).isRight) // generic path too
      assert(Multimodal.videoLumaFingerprint(avi) == Right(pat),
        s"pattern ${pat.toHexString} did not roundtrip")
    }
    // corrupt containers stay data, never exceptions
    assert(Multimodal.videoLumaFingerprint(Array[Byte](1, 2, 3)).isLeft)
    val ok = Multimodal.patternAvi(42L)
    assert(Multimodal.videoLumaFingerprint(ok.take(ok.length - 7)).isLeft)
  }
}
