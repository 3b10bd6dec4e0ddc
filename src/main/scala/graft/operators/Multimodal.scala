package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Multimodal (image/audio/video) column handling.
 *
 * Media is carried as an opaque `binary` column plus a typed metadata
 * struct — the layout a 100 TB training-data lake actually uses
 * (parquet binary chunks + queryable metadata columns, so filters on
 * kind/size/dims prune without touching payload bytes; parquet column
 * pruning means metadata-only queries never read the blobs at all).
 *
 * Decode/resize/frame-sample run per-partition over typed records
 * ([[Dataset]] + `mapPartitions`) — the Scala-native equivalent of a
 * batched decode UDF: one iterator per partition, no driver
 * round-trip, codec state reusable across a partition's records.
 * Codecs are pluggable behind [[Codec]]: [[ImageIoCodec]] is a REAL
 * pure-JVM image path (javax.imageio — PNG/BMP/GIF/JPEG ship with the
 * JDK, no new dependencies), [[WavCodec]] the REAL audio path
 * (javax.sound — WAV/AIFF/AU), [[AviCodec]] the REAL video path
 * (MJPEG-in-AVI: a RIFF chunk walk + the shipped JPEG decoder per
 * frame); [[FakeCodec]] is the deterministic md5-derived stand-in for
 * formats the JVM genuinely cannot decode (H.264/VP9 etc. need native
 * codecs this container does not ship). The default [[AutoCodec]]
 * probes each payload and routes: decodable payloads get real
 * features/resizes, everything else degrades to the stub, so the
 * catalog's text-payload oracle is unaffected while real fixtures
 * exercise the real paths (MultimodalSpec).
 */
object Multimodal {

  /** Pluggable per-payload codec (executor-side, serializable). */
  trait Codec extends Serializable {
    /** `dim` floats summarizing the payload. */
    def decodeFeatures(bytes: Array[Byte], dim: Int): Array[Float]
    /** Re-encoded payload at (w, h). */
    def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte]
    /** Kind-aware hook — default ignores the kind; [[AutoCodec]]
      * overrides it to skip image probing for payloads declared
      * audio/video (a per-blob ImageIO reader probe is pure waste at
      * billions of blobs, and a container whose leading bytes happen
      * to parse as an image must not get image features). */
    def decodeFeatures(kind: String, bytes: Array[Byte], dim: Int): Array[Float] =
      decodeFeatures(bytes, dim)
  }

  /** Typed media metadata (parquet-queryable without payload reads).
    * `nBytes`/`fp` are computed ONCE where the payload is created or
    * mutated, so metadata-only queries never have to read the blob to
    * report size or fingerprint. */
  final case class MediaMeta(
      format: String, width: Int, height: Int,
      sampleRate: Int, durationMs: Long,
      nBytes: Long, fp: String)

  /** One media record: opaque payload + typed metadata. */
  final case class MediaRecord(
      mediaId: Long, kind: String, bytes: Array[Byte], meta: MediaMeta)

  /** Decoded features for one media item. */
  final case class MediaFeatures(
      mediaId: Long, kind: String, nBytes: Long, fp: String,
      features: Array[Float])

  /**
   * STUB codec — deterministic stand-in for payloads the JVM cannot
   * decode (audio/video; the container ships no media libraries).
   * Features are md5-derived pseudo-floats, so plumbing stays oracle-
   * and spec-testable.
   */
  object FakeCodec extends Codec {
    def md5Hex(bytes: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5").digest(bytes)
        .map("%02x".format(_)).mkString

    /** `dim` floats in [0,1) unrolled from the payload digest. */
    def decodeFeatures(bytes: Array[Byte], dim: Int): Array[Float] = {
      val h = md5Hex(bytes)
      Array.tabulate(dim) { i =>
        val hex = h.substring((i * 4) % 28, (i * 4) % 28 + 4)
        Integer.parseInt(hex, 16).toFloat / 65536f
      }
    }

    /** "Resize": deterministic payload for the new dims. */
    def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] =
      (md5Hex(bytes) + s":${w}x$h").getBytes("UTF-8")
  }

  /**
   * REAL image codec on nothing but the JDK: `javax.imageio` decodes
   * PNG/BMP/GIF/JPEG/WBMP. Features are grid-cell mean luminances
   * (image split into a row-major ⌈√dim⌉ grid, per-cell average of
   * Rec.601 luma, [0,1]) — deterministic, content-derived, and
   * resolution-invariant enough for near-dup screening. Resize paints
   * into a fresh RGB raster and re-encodes PNG (deterministic: no
   * dithering, no timestamped metadata).
   */
  object ImageIoCodec extends Codec {
    // executors have no display: force headless before any AWT class
    // loads (harmless if already set)
    System.setProperty("java.awt.headless", "true")

    def tryRead(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
      catch { case _: Exception => None }

    def decodeFeatures(bytes: Array[Byte], dim: Int): Array[Float] =
      featuresOf(tryRead(bytes).getOrElse(
        throw new IllegalArgumentException("payload is not a JVM-decodable image")), dim)

    private[operators] def featuresOf(img: java.awt.image.BufferedImage,
                                      dim: Int): Array[Float] = {
      val g = math.ceil(math.sqrt(dim.toDouble)).toInt
      val (w, h) = (img.getWidth, img.getHeight)
      val sums = new Array[Double](g * g)
      val counts = new Array[Long](g * g)
      var y = 0
      while (y < h) {
        val cy = math.min(y * g / h, g - 1)
        var x = 0
        while (x < w) {
          val cx = math.min(x * g / w, g - 1)
          val rgb = img.getRGB(x, y)
          val luma = 0.299 * ((rgb >> 16) & 0xff) +
            0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
          val cell = cy * g + cx
          sums(cell) += luma / 255.0
          counts(cell) += 1
          x += 1
        }
        y += 1
      }
      Array.tabulate(dim) { i =>
        if (i < g * g && counts(i) > 0) (sums(i) / counts(i)).toFloat else 0f
      }
    }

    def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] =
      resizeImg(tryRead(bytes).getOrElse(
        throw new IllegalArgumentException("payload is not a JVM-decodable image")), w, h)

    private[operators] def resizeImg(img: java.awt.image.BufferedImage,
                                     w: Int, h: Int): Array[Byte] = {
      val out = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val gfx = out.createGraphics()
      try gfx.drawImage(img, 0, 0, w, h, null) finally gfx.dispose()
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", baos)
      baos.toByteArray
    }
  }

  /**
   * REAL audio codec on nothing but the JDK: `javax.sound.sampled`
   * decodes WAV/AIFF/AU containers (PCM and the JDK's shipped
   * conversions — A-law/µ-law, any sample size/endianness → 16-bit
   * signed). Samples are channel-averaged to mono floats in [-1,1].
   *
   * Features are per-window RMS amplitudes: the decoded signal is
   * split into `dim` equal windows, each contributing its
   * root-mean-square level in [0,1] — deterministic, content-derived,
   * and duration-invariant (the audio analogue of [[ImageIoCodec]]'s
   * grid luminance; enough to screen silence/clipping and near-dup
   * audio at billions of blobs without any non-JDK dependency).
   *
   * `resize(w, h)` standardizes CLIP LENGTH — the audio counterpart of
   * an image resize in a training pipeline: the mono 16-bit PCM signal
   * is trimmed or zero-padded to exactly `w*h` samples and re-encoded
   * as a little-endian WAV (deterministic bytes: fixed header, no
   * metadata chunks).
   */
  object WavCodec extends Codec {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem, UnsupportedAudioFileException}

    /** javax.sound SPI providers resolved ONCE per JVM (executor).
      * Every static `AudioSystem` entry point re-resolves its provider
      * list on EACH call (`JDK13Services.getProviders` — a ServiceLoader
      * walk plus defensive copying), which at millions of small blobs
      * per partition dominates the actual header parse; caching the
      * provider lists here makes per-blob cost just the parse. Lazy
      * vals are class-synchronized, so the one-time ServiceLoader
      * iteration (not thread-safe by itself) is race-free; loaded from
      * java.desktop's platform loader so executor-thread context
      * classloaders don't matter. */
    private lazy val fileReaders: Vector[javax.sound.sampled.spi.AudioFileReader] = {
      import scala.jdk.CollectionConverters._
      val all = java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileReader],
        classOf[AudioSystem].getClassLoader).iterator().asScala.toVector
      // Order: readers that ACCEPT a canonical PCM16 WAV first. Every
      // rejection costs a thrown UnsupportedAudioFileException
      // (stack-trace fill ≈ tens of µs) — with the accepting reader
      // first, the common container parses exception-free and the
      // walk only pays rejections for genuinely non-WAV payloads.
      val probe = encodeWav(Array.fill(8)(0.1f), 8000)
      val (acceptsWav, rest) = all.partition { r =>
        try { r.getAudioFileFormat(new java.io.ByteArrayInputStream(probe)); true }
        catch { case _: Exception => false }
      }
      acceptsWav ++ rest
    }
    private lazy val converters: Vector[javax.sound.sampled.spi.FormatConversionProvider] = {
      import scala.jdk.CollectionConverters._
      java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.FormatConversionProvider],
        classOf[AudioSystem].getClassLoader).iterator().asScala.toVector
    }
    private lazy val fileWriters: Vector[javax.sound.sampled.spi.AudioFileWriter] = {
      import scala.jdk.CollectionConverters._
      java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileWriter],
        classOf[AudioSystem].getClassLoader).iterator().asScala.toVector
    }

    /** First reader that recognizes the container, exactly
      * `AudioSystem`'s dispatch minus the per-call registry walk. A
      * fresh ByteArrayInputStream per attempt (no copy) sidesteps any
      * reliance on readers resetting the stream on rejection. */
    private def readFileFormat(bytes: Array[Byte]): Option[AudioFileFormat] = {
      var i = 0
      while (i < fileReaders.length) {
        try return Some(fileReaders(i).getAudioFileFormat(
          new java.io.ByteArrayInputStream(bytes)))
        catch { case _: UnsupportedAudioFileException => () }
        i += 1
      }
      None
    }

    private def readStream(bytes: Array[Byte]): Option[AudioInputStream] = {
      var i = 0
      while (i < fileReaders.length) {
        try return Some(fileReaders(i).getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes)))
        catch { case _: UnsupportedAudioFileException => () }
        i += 1
      }
      None
    }

    /** Decoded container metadata: (format, sampleRate, channels,
      * durationMs) — without materializing the sample array. ONE
      * header parse through the CACHED reader list
      * (`getAudioFileFormat` carries format + frame length +
      * container type): at millions of blobs per partition the open
      * count is the cost driver, not the bytes, so the per-open cost
      * must be the parse alone. */
    def audioMeta(bytes: Array[Byte]): Option[(String, Int, Int, Long)] =
      try {
        val fileFmt = readFileFormat(bytes).getOrElse(
          throw new UnsupportedAudioFileException())
        val fmt = fileFmt.getFormat
        val durMs =
          if (fmt.getFrameRate > 0 && fileFmt.getFrameLength >= 0)
            math.round(fileFmt.getFrameLength * 1000.0 / fmt.getFrameRate)
          else -1L
        Some((fileFmt.getType.getExtension, math.round(fmt.getSampleRate),
          fmt.getChannels, durMs))
      } catch { case _: Exception => None }

    /** Channel-averaged mono samples in [-1,1], or None when the
      * payload is not JVM-decodable audio. */
    def tryReadMono(bytes: Array[Byte]): Option[(Int, Array[Float])] =
      try {
        val raw = readStream(bytes).getOrElse(
          throw new UnsupportedAudioFileException())
        try {
          val src = raw.getFormat
          // normalize through the JDK's converters to 16-bit signed PCM
          // (keeps channel count; rate conversion isn't in the JDK)
          val target = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
            src.getSampleRate, 16, src.getChannels,
            2 * src.getChannels, src.getSampleRate, false)
          val pcm: AudioInputStream =
            if (src.matches(target)) raw
            else converters.find(_.isConversionSupported(target, src))
              .map(_.getAudioInputStream(target, raw))
              .getOrElse(AudioSystem.getAudioInputStream(target, raw))
          val data = pcm.readAllBytes()
          val ch = target.getChannels
          val n = data.length / (2 * ch)
          val mono = new Array[Float](n)
          var i = 0
          while (i < n) {
            var sum = 0.0f
            var c = 0
            while (c < ch) {
              val o = (i * ch + c) * 2
              val s = ((data(o + 1) << 8) | (data(o) & 0xff)).toShort
              sum += s / 32768.0f
              c += 1
            }
            mono(i) = sum / ch
            i += 1
          }
          Some((math.round(target.getSampleRate), mono))
        } finally raw.close()
      } catch { case _: Exception => None }

    def decodeFeatures(bytes: Array[Byte], dim: Int): Array[Float] =
      tryReadMono(bytes) match {
        case Some((_, mono)) => featuresOf(mono, dim)
        case None => throw new IllegalArgumentException(
          "payload is not JVM-decodable audio (WAV/AIFF/AU)")
      }

    /** Per-window RMS levels over `dim` equal windows. */
    private[operators] def featuresOf(mono: Array[Float], dim: Int): Array[Float] = {
      val n = mono.length
      Array.tabulate(dim) { w =>
        val from = (w.toLong * n / dim).toInt
        val until = ((w + 1).toLong * n / dim).toInt
        if (until <= from) 0f
        else {
          var acc = 0.0
          var i = from
          while (i < until) { acc += mono(i).toDouble * mono(i); i += 1 }
          math.sqrt(acc / (until - from)).toFloat
        }
      }
    }

    /** Standardize clip length: mono 16-bit PCM trimmed / zero-padded
      * to exactly `w*h` samples, re-encoded as WAV. */
    def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val (rate, mono) = tryReadMono(bytes).getOrElse(
        throw new IllegalArgumentException(
          "payload is not JVM-decodable audio (WAV/AIFF/AU)"))
      encodeWav(java.util.Arrays.copyOf(mono, w * h), rate)
    }

    /** Mono float samples → 16-bit little-endian PCM WAV bytes. */
    def encodeWav(mono: Array[Float], sampleRate: Int): Array[Byte] = {
      val pcm = new Array[Byte](mono.length * 2)
      var i = 0
      while (i < mono.length) {
        val s = math.max(-32768, math.min(32767,
          math.round(mono(i) * 32767.0f))).toShort
        pcm(i * 2) = (s & 0xff).toByte
        pcm(i * 2 + 1) = ((s >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        sampleRate.toFloat, 16, 1, 2, sampleRate.toFloat, false)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, mono.length.toLong)
      val baos = new java.io.ByteArrayOutputStream()
      val wav = javax.sound.sampled.AudioFileFormat.Type.WAVE
      fileWriters.find(_.isFileTypeSupported(wav, ais)) match {
        case Some(w) => w.write(ais, wav, baos)
        case None    => AudioSystem.write(ais, wav, baos)
      }
      baos.toByteArray
    }
  }

  /**
   * REAL video codec on nothing but the JDK: MJPEG-in-AVI. The AVI
   * RIFF container (public format: `RIFF('AVI ' LIST('hdrl' avih
   * LIST('strl' strh strf)) LIST('movi' '00dc'…) idx1)`) is a plain
   * little-endian chunk walk, and each MJPEG frame chunk is a
   * complete JPEG — which `javax.imageio` decodes. So the one video
   * family a JVM can genuinely handle end-to-end is motion-JPEG:
   * parse the container, decode frames with the shipped JPEG codec.
   *
   * Features are per-frame grid luminances ([[ImageIoCodec]]'s
   * kernel) averaged over ≤ 4 evenly-spaced frames. `resize`
   * re-encodes EVERY frame at (w, h) into a fresh MJPEG AVI — a real
   * video resize. [[encodeAvi]] writes a minimal standard-compliant
   * MJPEG AVI (avih/strh/strf headers, '00dc' keyframe chunks, idx1
   * index), so encode→decode loops are testable without fixtures.
   * Anything that is not an MJPEG/DIB AVI (H.264 etc. need native
   * codecs the JDK does not ship) stays a documented boundary and
   * degrades to [[FakeCodec]] in [[AutoCodec]].
   */
  object AviCodec extends Codec {
    import java.nio.{ByteBuffer, ByteOrder}

    /** Parsed container: dims, timing and the raw frame chunks
      * ('00dc'/'01dc' compressed = JPEG under MJPG; '00db' = raw DIB,
      * kept as bytes — callers decode via [[frameImage]]). */
    final case class AviInfo(width: Int, height: Int, usPerFrame: Long,
                             nFrames: Int, handler: String,
                             frames: IndexedSeq[Array[Byte]]) {
      def durationMs: Long =
        if (nFrames <= 0) 0L else usPerFrame * nFrames / 1000L
    }

    private def fourcc(s: String): Int =
      (s(0) & 0xff) | ((s(1) & 0xff) << 8) | ((s(2) & 0xff) << 16) | ((s(3) & 0xff) << 24)
    private val RIFF = fourcc("RIFF"); private val AVI = fourcc("AVI ")
    private val LIST = fourcc("LIST"); private val HDRL = fourcc("hdrl")
    private val AVIH = fourcc("avih"); private val STRL = fourcc("strl")
    private val STRH = fourcc("strh"); private val STRF = fourcc("strf")
    private val MOVI = fourcc("movi"); private val VIDS = fourcc("vids")
    private val IDX1 = fourcc("idx1"); private val REC = fourcc("rec ")

    /** Walk the RIFF tree. Defensive: any structural violation →
      * None (the payload simply is not an AVI). */
    def tryParse(bytes: Array[Byte]): Option[AviInfo] =
      try {
        val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
        if (b.remaining < 12 || b.getInt() != RIFF) return None
        val riffEnd = math.min(bytes.length.toLong, 8L + (b.getInt() & 0xffffffffL)).toInt
        if (b.getInt() != AVI) return None
        var width = 0; var height = 0; var usPerFrame = 0L; var nFrames = 0
        var handler = ""
        val frames = IndexedSeq.newBuilder[Array[Byte]]
        def walk(limit: Int, inMovi: Boolean): Unit =
          while (b.position() + 8 <= limit) {
            val id = b.getInt(); val size = b.getInt() & 0xffffffffL
            val dataStart = b.position()
            val dataEnd = math.min(limit.toLong, dataStart + size).toInt
            if (id == LIST) {
              val kind = b.getInt()
              if (kind == MOVI) walk(dataEnd, inMovi = true)
              // 'rec ' lists group interleaved chunks INSIDE movi
              else if (inMovi && kind == REC) walk(dataEnd, inMovi = true)
              else if (kind == HDRL || kind == STRL) walk(dataEnd, inMovi = false)
            } else if (id == AVIH && size >= 40) {
              usPerFrame = b.getInt() & 0xffffffffL
              b.getInt(); b.getInt(); b.getInt() // maxBytesPerSec, padding, flags
              nFrames = b.getInt()
              b.getInt(); b.getInt(); b.getInt() // initialFrames, streams, bufSize
              width = b.getInt(); height = b.getInt()
            } else if (id == STRH && size >= 32) {
              val fccType = b.getInt(); val fccHandler = b.getInt()
              if (fccType == VIDS) {
                val hc = new Array[Byte](4)
                ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
                  .putInt(fccHandler).flip().get(hc)
                handler = new String(hc, "US-ASCII").trim
              }
            } else if (inMovi && (id & 0xffff) == 0x3030 && // stream "00" only
                       ((id & 0xffff0000) == 0x63640000 ||  // "00dc"
                        (id & 0xffff0000) == 0x62640000)) { // "00db"
              // frames: ONLY the first stream's compressed/uncompressed
              // video chunks, ONLY inside the 'movi' list — a
              // multi-stream AVI must not interleave a second stream's
              // frames into features/resize/sampleFrames, and a stray
              // dc/db-suffixed chunk outside movi is not a frame
              val f = new Array[Byte](dataEnd - dataStart)
              b.get(f)
              frames += f
            } else if (id == IDX1 || id == STRF) {
              () // strf dims duplicate avih's; idx1 is an offset table
            }
            // chunks are word-aligned; clamp for a final odd-size chunk
            b.position(math.min(bytes.length, dataEnd + (dataEnd & 1)))
          }
        walk(riffEnd, inMovi = false)
        val fs = frames.result()
        if (width <= 0 || height <= 0 || fs.isEmpty) None
        else Some(AviInfo(width, height,
          if (usPerFrame > 0) usPerFrame else 33333L,
          if (nFrames > 0) nFrames else fs.size, handler, fs))
      } catch { case _: Exception => None }

    /** Header-only probe: (container format, width, height, nFrames,
      * durationMs) — the video analogue of [[WavCodec.audioMeta]]. */
    def videoMeta(bytes: Array[Byte]): Option[(String, Int, Int, Int, Long)] =
      tryParse(bytes).map { i =>
        (s"avi/${if (i.handler.isEmpty) "mjpg" else i.handler.toLowerCase}",
          i.width, i.height, i.nFrames, i.durationMs)
      }

    /** Decode one frame chunk: MJPEG chunks are complete JPEGs —
      * `javax.imageio` reads them directly. */
    def frameImage(frame: Array[Byte]): Option[java.awt.image.BufferedImage] =
      ImageIoCodec.tryRead(frame)

    def decodeFeatures(bytes: Array[Byte], dim: Int): Array[Float] = {
      val info = tryParse(bytes).getOrElse(
        throw new IllegalArgumentException("payload is not a JVM-decodable AVI"))
      featuresOf(info, dim)
    }

    /** Mean of per-frame grid-luma features over ≤ 4 evenly-spaced
      * decodable frames — bounded decode cost however long the clip. */
    private[operators] def featuresOf(info: AviInfo, dim: Int): Array[Float] = {
      val n = info.frames.size
      val picks = if (n <= 4) info.frames.indices
        else Seq(0, n / 3, 2 * n / 3, n - 1)
      val per = picks.flatMap(i => frameImage(info.frames(i)))
        .map(ImageIoCodec.featuresOf(_, dim))
      if (per.isEmpty)
        throw new IllegalArgumentException("no JVM-decodable frames in AVI")
      Array.tabulate(dim)(d => per.map(_(d)).sum / per.size)
    }

    /** Re-encode every frame at (w, h): decode JPEG → raster resize →
      * JPEG → fresh MJPEG AVI at the source frame rate. */
    def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val info = tryParse(bytes).getOrElse(
        throw new IllegalArgumentException("payload is not a JVM-decodable AVI"))
      val fps = math.max(1, math.round(1e6 / info.usPerFrame).toInt)
      val out = info.frames.flatMap(frameImage).map { img =>
        val scaled = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val gfx = scaled.createGraphics()
        try gfx.drawImage(img, 0, 0, w, h, null) finally gfx.dispose()
        encodeJpeg(scaled)
      }
      encodeAvi(out, w, h, fps)
    }

    /** Deterministic JPEG bytes (ImageIO's shipped writer, default
      * quantization — no timestamps or variable metadata). */
    def encodeJpeg(img: java.awt.image.BufferedImage): Array[Byte] = {
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", baos)
      baos.toByteArray
    }

    /** Minimal standard MJPEG AVI: RIFF(hdrl(avih, strl(strh, strf)),
      * movi('00dc' per frame), idx1). Every field little-endian;
      * chunks word-aligned; idx1 offsets relative to the 'movi'
      * fourcc (the common convention). */
    def encodeAvi(jpegFrames: Seq[Array[Byte]], w: Int, h: Int,
                  fps: Int): Array[Byte] = {
      require(jpegFrames.nonEmpty && fps > 0, "encodeAvi: frames and fps required")
      val bo = new java.io.ByteArrayOutputStream()
      def le32(v: Long): Unit = {
        bo.write((v & 0xff).toInt); bo.write(((v >> 8) & 0xff).toInt)
        bo.write(((v >> 16) & 0xff).toInt); bo.write(((v >> 24) & 0xff).toInt)
      }
      def cc(s: String): Unit = bo.write(s.getBytes("US-ASCII"))
      val n = jpegFrames.size
      val maxFrame = jpegFrames.map(_.length).max
      def padded(len: Int) = len + (len & 1)
      val moviData = 4 + jpegFrames.map(f => 8 + padded(f.length)).sum
      val idx1Size = 16 * n
      val hdrlData = 4 + (8 + 56) + (8 + 4 + (8 + 56) + (8 + 40))
      val riffSize = 4 + (8 + hdrlData) + (8 + moviData) + (8 + idx1Size)
      cc("RIFF"); le32(riffSize); cc("AVI ")
      cc("LIST"); le32(hdrlData); cc("hdrl")
      cc("avih"); le32(56)
      le32(1000000L / fps); le32(maxFrame.toLong * fps); le32(0)
      le32(0x10) /* AVIF_HASINDEX */; le32(n); le32(0); le32(1); le32(maxFrame)
      le32(w); le32(h); le32(0); le32(0); le32(0); le32(0)
      cc("LIST"); le32(4 + (8 + 56) + (8 + 40)); cc("strl")
      cc("strh"); le32(56)
      cc("vids"); cc("MJPG"); le32(0); le32(0); le32(0)
      le32(1); le32(fps) /* scale/rate */; le32(0); le32(n); le32(maxFrame)
      le32(0xffffffffL) /* quality */; le32(0)
      le32(0); le32((h.toLong << 16) | w) /* rcFrame {0,0,w,h} */
      cc("strf"); le32(40)
      le32(40); le32(w); le32(h); le32(1 | (24 << 16)) /* planes|bitcount */
      cc("MJPG"); le32(w.toLong * h * 3); le32(0); le32(0); le32(0); le32(0)
      cc("LIST"); le32(moviData); cc("movi")
      val offsets = new Array[Int](n)
      var off = 4
      jpegFrames.zipWithIndex.foreach { case (f, i) =>
        offsets(i) = off
        cc("00dc"); le32(f.length); bo.write(f)
        if ((f.length & 1) == 1) bo.write(0)
        off += 8 + padded(f.length)
      }
      cc("idx1"); le32(idx1Size)
      jpegFrames.zipWithIndex.foreach { case (f, i) =>
        cc("00dc"); le32(0x10) /* AVIIF_KEYFRAME */
        le32(offsets(i)); le32(f.length)
      }
      bo.toByteArray
    }
  }

  /** Default codec: decodable images take the REAL javax.imageio path,
    * audio-kind payloads that parse as WAV/AIFF/AU take the REAL
    * javax.sound path, video-kind payloads that parse as MJPEG AVI
    * take the REAL [[AviCodec]] path, everything else (exotic
    * containers/undecodable bytes) degrades to the deterministic stub
    * — so pipelines run end-to-end regardless of payload mix, and
    * text-payload oracles are unchanged. */
  object AutoCodec extends Codec {
    def decodeFeatures(bytes: Array[Byte], dim: Int): Array[Float] =
      ImageIoCodec.tryRead(bytes) match {
        case Some(img) => ImageIoCodec.featuresOf(img, dim)
        case None => FakeCodec.decodeFeatures(bytes, dim)
      }

    override def decodeFeatures(kind: String, bytes: Array[Byte],
                                dim: Int): Array[Float] =
      if (kind == "image") decodeFeatures(bytes, dim)
      else if (kind == "audio")
        WavCodec.tryReadMono(bytes) match {
          case Some((_, mono)) => WavCodec.featuresOf(mono, dim)
          case None => FakeCodec.decodeFeatures(bytes, dim)
        }
      else if (kind == "video")
        AviCodec.tryParse(bytes) match {
          case Some(info) => AviCodec.featuresOf(info, dim)
          case None => FakeCodec.decodeFeatures(bytes, dim)
        }
      else FakeCodec.decodeFeatures(bytes, dim)

    def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] =
      ImageIoCodec.tryRead(bytes) match {
        case Some(img) => ImageIoCodec.resizeImg(img, w, h)
        case None => FakeCodec.resize(bytes, w, h)
      }
  }

  /**
   * Documents table → media records: payload = UTF-8 text bytes,
   * kind round-robins image/audio/video, metadata derived from
   * doc length. Deterministic, so the whole multimodal path has a
   * DuckDB oracle despite the stubbed codec.
   */
  def mediaFromDocuments(docs: DataFrame): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
        col("doc_id").as("mediaId"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("kind"),
        encode(col("text"), "UTF-8").as("bytes"),
        struct(
          lit("raw").as("format"),
          (col("n_chars") % 640 + 1).cast("int").as("width"),
          (col("n_chars") % 480 + 1).cast("int").as("height"),
          lit(16000).as("sampleRate"),
          (col("n_chars") * 10).cast("long").as("durationMs"),
          length(encode(col("text"), "UTF-8")).cast("long").as("nBytes"),
          md5(encode(col("text"), "UTF-8")).as("fp")).as("meta"))
      .as[MediaRecord]
  }

  /**
   * Batched decode: one pass per partition, `dim` features per item.
   * This is the operator a real pipeline runs over billions of blobs;
   * partition count (not row count) bounds codec-state allocations.
   */
  def decodeFeatures(media: Dataset[MediaRecord], dim: Int = 8,
                     codec: Codec = AutoCodec): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        MediaFeatures(m.mediaId, m.kind, m.bytes.length.toLong,
          FakeCodec.md5Hex(m.bytes), codec.decodeFeatures(m.kind, m.bytes, dim))
      }
    }
  }

  /** Resize images to (w, h); non-images pass through untouched. */
  def resizeImages(media: Dataset[MediaRecord], w: Int, h: Int,
                   codec: Codec = AutoCodec): Dataset[MediaRecord] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { m =>
      if (m.kind == "image") {
        val resized = codec.resize(m.bytes, w, h)
        m.copy(bytes = resized,
          meta = m.meta.copy(width = w, height = h,
            nBytes = resized.length.toLong, fp = FakeCodec.md5Hex(resized)))
      } else m
    })
  }

  /**
   * Frame sampling: every video yields ⌈duration/intervalMs⌉ frame
   * records (payload chunk + frame index). The fan-out happens
   * executor-side inside one iterator — no shuffle, no driver loop.
   */
  final case class Frame(mediaId: Long, frameIdx: Int, tsMs: Long, bytes: Array[Byte])

  def sampleFrames(media: Dataset[MediaRecord], intervalMs: Long = 1000L): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "video").mapPartitions(_.flatMap { m =>
      Multimodal.AviCodec.tryParse(m.bytes) match {
        case Some(info) =>
          // REAL container: each interval tick yields the TRUE frame
          // chunk covering that timestamp (a complete JPEG under
          // MJPEG) — no re-encode, just the container's bytes
          val n = math.max(1L,
            (info.durationMs + intervalMs - 1) / intervalMs).toInt
          (0 until n).iterator.map { i =>
            val ts = i * intervalMs
            val idx = math.min(info.frames.size - 1,
              (ts * 1000L / info.usPerFrame).toInt)
            Frame(m.mediaId, i, ts, info.frames(idx))
          }
        case None =>
          // undecodable container: deterministic byte-chunk fan-out
          // driven by the DECLARED duration (oracle-replayable)
          val n = math.max(1L, (m.meta.durationMs + intervalMs - 1) / intervalMs).toInt
          val chunk = math.max(1, m.bytes.length / n)
          (0 until n).iterator.map { i =>
            val from = math.min(i * chunk, m.bytes.length)
            val until = math.min(from + chunk, m.bytes.length)
            Frame(m.mediaId, i, i * intervalMs,
              java.util.Arrays.copyOfRange(m.bytes, from, until))
          }
      }
    })
  }

  /** Metadata BACKFILL from payload probe: audio-kind records whose
    * payload parses as real audio (WAV/AIFF/AU) get format /
    * sampleRate / durationMs corrected from the DECODED container —
    * the repair pass a lake runs when upstream metadata is missing or
    * untrusted. Non-audio kinds and undecodable payloads pass through
    * untouched, so declared metadata is never clobbered by a failed
    * probe. Executor-side per-partition map, no shuffle. */
  def probeAudioMeta(media: Dataset[MediaRecord]): Dataset[MediaRecord] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { m =>
      if (m.kind != "audio") m
      else WavCodec.audioMeta(m.bytes) match {
        case Some((fmt, rate, _, durMs)) =>
          m.copy(meta = m.meta.copy(format = fmt, sampleRate = rate,
            durationMs = durMs))
        case None => m
      }
    })
  }

  /** Metadata-only summary — the plan reads ONLY the metadata struct
    * (size and fingerprint live there, written at payload creation),
    * so parquet column pruning genuinely drops the binary column. */
  def metaSummary(media: Dataset[MediaRecord]): DataFrame =
    media.toDF().select(
      col("mediaId").as("media_id"), col("kind"),
      col("meta.nBytes").as("n_bytes"),
      col("meta.format").as("fmt"),
      col("meta.width").as("width"), col("meta.height").as("height"),
      col("meta.fp").as("fp"))

  /** The SparkEntry query: documents → media → metadata summary. */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame =
    metaSummary(mediaFromDocuments(
      graft.sources.Readers.table(spark, dir, "documents")))
}
