package graft

import graft.operators.Multimodal
import graft.operators.Multimodal._

class MultimodalSpec extends SparkSpecBase {
  import spark.implicits._

  private def mk(id: Long, kind: String, payload: String,
                 w: Int, h: Int, sr: Int, dur: Long) = {
    val b = payload.getBytes("UTF-8")
    MediaRecord(id, kind, b,
      MediaMeta("raw", w, h, sr, dur, b.length.toLong, FakeCodec.md5Hex(b)))
  }
  private def media = Seq(
    mk(1L, "image", "imgbytes", 640, 480, 0, 0L),
    mk(2L, "audio", "audiobytes", 0, 0, 16000, 2500L),
    mk(3L, "video", "0123456789", 640, 480, 0, 3500L)
  ).toDS()

  test("decodeFeatures: batch shape and determinism") {
    val out = decodeFeatures(media, dim = 8).collect().sortBy(_.mediaId)
    assert(out.length === 3)
    assert(out.forall(_.features.length === 8))
    assert(out.forall(f => f.features.forall(v => v >= 0f && v < 1f)))
    // deterministic: same input -> same features
    val again = decodeFeatures(media, dim = 8).collect().sortBy(_.mediaId)
    assert(out.map(_.features.toSeq).toSeq === again.map(_.features.toSeq).toSeq)
    assert(out.head.fp === FakeCodec.md5Hex("imgbytes".getBytes("UTF-8")))
  }

  test("resizeImages touches only images and updates metadata") {
    val out = resizeImages(media, 64, 64).collect().sortBy(_.mediaId)
    assert(out(0).meta.width === 64 && out(0).meta.height === 64)
    // payload-derived metadata stays in sync with the mutated bytes
    assert(out(0).meta.fp === FakeCodec.md5Hex(out(0).bytes))
    assert(out(0).meta.nBytes === out(0).bytes.length.toLong)
    assert(out(1).meta.sampleRate === 16000)           // audio untouched
    assert(out(1).bytes.toSeq === "audiobytes".getBytes("UTF-8").toSeq)
    assert(out(2).meta.width === 640)                  // video untouched
  }

  test("sampleFrames: ceil(duration/interval) frames, executor-side fanout") {
    val frames = sampleFrames(media, intervalMs = 1000L).collect().sortBy(_.frameIdx)
    assert(frames.forall(_.mediaId === 3L))            // only the video
    assert(frames.length === 4)                        // ceil(3500/1000)
    assert(frames.map(_.tsMs).toSeq === Seq(0L, 1000L, 2000L, 3000L))
    assert(frames.flatMap(_.bytes).length <= 10)
  }

  test("metaSummary never needs payload decode and matches documents") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val out = Multimodal.metaSummary(mediaFromDocuments(docs))
    assert(out.count() === docs.count())
    assert(out.columns.toSeq ===
      Seq("media_id", "kind", "n_bytes", "fmt", "width", "height", "fp"))
    val kinds = out.select("kind").distinct().as[String].collect().toSet
    assert(kinds === Set("image", "audio", "video"))
  }

  /** Real 32×32 PNG: left half black, right half white — grid-cell
    * luminance features are exactly predictable. */
  private def pngFixture: Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 32)
      img.setRGB(x, y, if (x < 16) 0x000000 else 0xffffff)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  test("real PNG decodes through javax.imageio end-to-end (no stub)") {
    val png = pngFixture
    val real = MediaRecord(10L, "image", png,
      MediaMeta("png", 32, 32, 0, 0L, png.length.toLong, FakeCodec.md5Hex(png)))
    val mixed = Seq(real, mk(11L, "audio", "audiobytes", 0, 0, 16000, 2500L)).toDS()
    val out = decodeFeatures(mixed, dim = 4).collect().sortBy(_.mediaId)
    // 2×2 grid over half-black/half-white: cells (0,0)/(1,0) black,
    // (0,1)/(1,1) white — content-derived, not md5-derived
    val f = out(0).features
    assert(f(0) < 0.01f && f(2) < 0.01f, s"left cells must be black: ${f.toSeq}")
    assert(f(1) > 0.99f && f(3) > 0.99f, s"right cells must be white: ${f.toSeq}")
    assert(f.toSeq != FakeCodec.decodeFeatures(png, 4).toSeq,
      "image payload must NOT route to the stub")
    // the audio record still degrades to the deterministic stub
    assert(out(1).features.toSeq ===
      FakeCodec.decodeFeatures("audiobytes".getBytes("UTF-8"), 4).toSeq)
  }

  test("real PNG resize produces a decodable PNG with the target dims") {
    val png = pngFixture
    val rec = MediaRecord(12L, "image", png,
      MediaMeta("png", 32, 32, 0, 0L, png.length.toLong, FakeCodec.md5Hex(png)))
    val out = resizeImages(Seq(rec).toDS(), 16, 8).collect().head
    assert(out.meta.width === 16 && out.meta.height === 8)
    val back = ImageIoCodec.tryRead(out.bytes)
    assert(back.isDefined, "resized payload must be a real decodable image")
    assert(back.get.getWidth === 16 && back.get.getHeight === 8)
    // content survives the resize: left still dark, right still bright
    val f = ImageIoCodec.decodeFeatures(out.bytes, 4)
    assert(f(0) < 0.1f && f(1) > 0.9f, s"resize must preserve content: ${f.toSeq}")
    assert(out.meta.fp === FakeCodec.md5Hex(out.bytes))
  }

  test("real JPEG decodes and resizes through javax.imageio (lossy codec tolerances)") {
    // same half-black/half-white scene, JPEG-encoded: lossy, so
    // assertions use tolerances instead of exact luminances
    val img = new java.awt.image.BufferedImage(
      32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 32)
      img.setRGB(x, y, if (x < 16) 0x000000 else 0xffffff)
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", baos), "JDK must carry a JPEG writer")
    val jpg = baos.toByteArray
    assert(jpg.length >= 2 && (jpg(0) & 0xff) == 0xff && (jpg(1) & 0xff) == 0xd8,
      "fixture must be a real JPEG (SOI marker)")
    val rec = MediaRecord(13L, "image", jpg,
      MediaMeta("jpg", 32, 32, 0, 0L, jpg.length.toLong, FakeCodec.md5Hex(jpg)))
    val f = decodeFeatures(Seq(rec).toDS(), dim = 4).collect().head.features
    assert(f(0) < 0.15f && f(2) < 0.15f, s"left cells dark: ${f.toSeq}")
    assert(f(1) > 0.85f && f(3) > 0.85f, s"right cells bright: ${f.toSeq}")
    assert(f.toSeq != FakeCodec.decodeFeatures(jpg, 4).toSeq,
      "JPEG payload must NOT route to the stub")
    val resized = resizeImages(Seq(rec).toDS(), 8, 8).collect().head
    val back = ImageIoCodec.tryRead(resized.bytes)
    assert(back.isDefined && back.get.getWidth === 8 && back.get.getHeight === 8)
  }

  /** Real 1 s mono WAV at 8 kHz: first half silence, second half a
    * 440 Hz sine at amplitude 0.5 — per-window RMS features are
    * exactly predictable (0 and 0.5/√2). */
  private def wavFixture: Array[Byte] = {
    val mono = Array.tabulate(8000) { i =>
      if (i < 4000) 0f
      else (0.5 * math.sin(2 * math.Pi * 440 * i / 8000.0)).toFloat
    }
    WavCodec.encodeWav(mono, 8000)
  }

  test("real WAV decodes through javax.sound end-to-end (no stub)") {
    val wav = wavFixture
    // a genuine RIFF/WAVE container, not a private encoding
    assert(new String(wav.take(4), "US-ASCII") === "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") === "WAVE")
    assert(WavCodec.audioMeta(wav) === Some(("wav", 8000, 1, 1000L)))
    // content-derived windowed RMS: silent half ≈ 0, sine half ≈ a/√2
    val f = WavCodec.decodeFeatures(wav, 4)
    assert(f(0) < 0.005f && f(1) < 0.005f, s"silent windows: ${f.toSeq}")
    assert(math.abs(f(2) - 0.3536f) < 0.01f &&
      math.abs(f(3) - 0.3536f) < 0.01f, s"sine windows: ${f.toSeq}")
    // through the Dataset operator under AutoCodec: the real-WAV audio
    // record gets javax.sound features; a text-payload audio record
    // still degrades to the deterministic stub
    val real = MediaRecord(20L, "audio", wav,
      MediaMeta("wav", 0, 0, 8000, 1000L, wav.length.toLong, FakeCodec.md5Hex(wav)))
    val mixed = Seq(real, mk(21L, "audio", "audiobytes", 0, 0, 16000, 2500L)).toDS()
    val out = decodeFeatures(mixed, dim = 4).collect().sortBy(_.mediaId)
    assert(out(0).features.toSeq === f.toSeq,
      "audio payload must route to the real javax.sound path")
    assert(out(0).features.toSeq != FakeCodec.decodeFeatures(wav, 4).toSeq)
    assert(out(1).features.toSeq ===
      FakeCodec.decodeFeatures("audiobytes".getBytes("UTF-8"), 4).toSeq)
  }

  test("WAV stereo decodes channel-averaged; resize standardizes clip length") {
    // stereo fixture with left = +0.4, right = -0.4: channel-averaged
    // mono is exact silence — proves real multi-channel decode
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem}
    val frames = 4000
    val pcm = new Array[Byte](frames * 4)
    for (i <- 0 until frames; (amp, c) <- Seq((0.4f, 0), (-0.4f, 1))) {
      val s = math.round(amp * 32767).toShort
      pcm(i * 4 + c * 2) = (s & 0xff).toByte
      pcm(i * 4 + c * 2 + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
      8000f, 16, 2, 4, 8000f, false)
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    val stereo = baos.toByteArray
    assert(WavCodec.audioMeta(stereo) === Some(("wav", 8000, 2, 500L)))
    assert(WavCodec.decodeFeatures(stereo, 2).forall(math.abs(_) < 0.005f),
      "opposite-phase channels must average to silence")

    // resize = trim/pad to exactly w*h samples, still a decodable WAV
    val wav = wavFixture
    val trimmed = WavCodec.resize(wav, 50, 40)         // 2000 of 8000
    val (rate, monoT) = WavCodec.tryReadMono(trimmed).get
    assert(rate === 8000 && monoT.length === 2000)
    assert(monoT.forall(math.abs(_) < 0.005f), "first 2000 samples are silent")
    val padded = WavCodec.resize(wav, 100, 100)        // 10000: +2000 pad
    val monoP = WavCodec.tryReadMono(padded).get._2
    assert(monoP.length === 10000)
    assert(monoP.slice(8000, 10000).forall(_ === 0f), "pad must be silence")
    // the kept region survives the round-trip (16-bit quantization)
    val orig = WavCodec.tryReadMono(wav).get._2
    assert((4000 until 8000).forall(i => math.abs(monoP(i) - orig(i)) < 0.001f))
  }

  test("probeAudioMeta backfills decoded metadata, leaves others untouched") {
    val wav = wavFixture
    // declared metadata is wrong on purpose: the probe must correct it
    val real = MediaRecord(30L, "audio", wav,
      MediaMeta("raw", 0, 0, 44100, 9999L, wav.length.toLong, FakeCodec.md5Hex(wav)))
    val recs = Seq(real,
      mk(31L, "audio", "notaudio", 0, 0, 16000, 2500L),  // undecodable
      mk(32L, "video", "vbytes", 640, 480, 0, 3500L)     // wrong kind
    ).toDS()
    val out = probeAudioMeta(recs).collect().sortBy(_.mediaId)
    assert(out(0).meta.format === "wav" && out(0).meta.sampleRate === 8000 &&
      out(0).meta.durationMs === 1000L)
    assert(out(0).bytes.toSeq === wav.toSeq, "payload must be untouched")
    assert(out(1).meta.sampleRate === 16000 && out(1).meta.durationMs === 2500L,
      "failed probe must not clobber declared metadata")
    assert(out(2).meta.durationMs === 3500L, "non-audio kinds pass through")
  }

  private def solidJpeg(v: Int, w: Int = 48, h: Int = 32): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val gfx = img.createGraphics()
    try { gfx.setColor(new java.awt.Color(v, v, v)); gfx.fillRect(0, 0, w, h) }
    finally gfx.dispose()
    AviCodec.encodeJpeg(img)
  }

  test("real MJPEG AVI decodes through the RIFF walk + javax.imageio (no stub)") {
    val levels = Seq(32, 96, 160, 224)
    val avi = AviCodec.encodeAvi(levels.map(solidJpeg(_)), 48, 32, fps = 4)
    // header metadata is exact
    val Some((fmt, w, h, nf, durMs)) = AviCodec.videoMeta(avi)
    assert(fmt === "avi/mjpg" && w === 48 && h === 32 && nf === 4 && durMs === 1000L)
    // every frame decodes to its encoded gray level within JPEG
    // DC-quantization error (≪ half a 32-level step)
    val info = AviCodec.tryParse(avi).get
    val lumas = info.frames.map(f => ImageIoCodec.decodeFeatures(f, 1)(0) * 255.0)
    levels.zip(lumas).foreach { case (v, l) =>
      assert(math.abs(l - v) < 8.0, s"level $v decoded $l") }
    // features route through the REAL path in AutoCodec, so two AVIs
    // with different content must differ (the stub would differ too,
    // but the real path must match the frame lumas)
    val feats = AutoCodec.decodeFeatures("video", avi, 4)
    assert(math.abs(feats.sum / 4 - lumas.sum / 4 / 255.0) < 0.05)
    // non-AVI video payloads still degrade to the deterministic stub
    val junk = "notavideo".getBytes("UTF-8")
    assert(AutoCodec.decodeFeatures("video", junk, 4).toSeq ===
      FakeCodec.decodeFeatures(junk, 4).toSeq)
  }

  test("AVI resize re-encodes every frame at the target dims; sampleFrames extracts true chunks") {
    val avi = AviCodec.encodeAvi(Seq(solidJpeg(64), solidJpeg(192)), 48, 32, fps = 2)
    val resized = AviCodec.resize(avi, 24, 16)
    val Some((_, w2, h2, nf2, _)) = AviCodec.videoMeta(resized)
    assert(w2 === 24 && h2 === 16 && nf2 === 2)
    val l2 = AviCodec.tryParse(resized).get.frames
      .map(f => ImageIoCodec.decodeFeatures(f, 1)(0) * 255.0)
    assert(math.abs(l2(0) - 64) < 10 && math.abs(l2(1) - 192) < 10)

    // a REAL AVI payload in sampleFrames yields the container's true
    // JPEG chunks (decodable frames), not byte slices
    val rec = MediaRecord(7L, "video", avi,
      MediaMeta("raw", 48, 32, 0, 1000L, avi.length.toLong, FakeCodec.md5Hex(avi)))
    val frames = sampleFrames(Seq(rec).toDS(), intervalMs = 500L)
      .collect().sortBy(_.frameIdx)
    assert(frames.length === 2 && frames.map(_.tsMs).toSeq === Seq(0L, 500L))
    val fl = frames.map(f => ImageIoCodec.decodeFeatures(f.bytes, 1)(0) * 255.0)
    assert(math.abs(fl(0) - 64) < 8 && math.abs(fl(1) - 192) < 8)
    // non-AVI payloads keep the declared-duration byte-chunk fan-out
    val fake = mk(8L, "video", "0123456789", 640, 480, 0, 3500L)
    assert(sampleFrames(Seq(fake).toDS(), 1000L).count() === 4)
  }
}
