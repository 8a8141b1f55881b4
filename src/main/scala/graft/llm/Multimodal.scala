package graft.llm

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.util.control.NonFatal

/** Multimodal column model: image/audio/video travel as opaque `binary`
  * columns with a typed metadata struct alongside. Decode / feature-extract /
  * resize / frame-sample run as partition-local batch functions
  * (`mapPartitions` — the Scala analog of `mapInPandas`): one decoder
  * instance per partition, rows streamed through it in batches, output schema
  * declared up front. The Spark-side plumbing (schema, partitioning, batch
  * shape) is real and tested; the actual codec call is STUBBED with a
  * deterministic fake because no image/audio libraries exist in this
  * container — swap `decodeStub` for a real decoder in deployment.
  */
object Multimodal {

  /** Metadata carried with every media blob. Image fields (width/height)
    * and audio fields (duration_ms/frames/sample_rate/channels) are each
    * null on the other modality. */
  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("mime", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType),
    StructField("frames", LongType),
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType)
  ))

  /** One decoded blob: nullable boxed fields so each modality carries only
    * what it has. `features` is always 8 floats in [0,1]. */
  private[llm] final case class MediaInfo(
      mime: String,
      width: Integer, height: Integer,
      durationMs: java.lang.Long, frames: java.lang.Long,
      sampleRate: Integer, channels: Integer,
      features: Array[Float]) {
    def metaRow: Row = Row(mime, width, height, durationMs, frames, sampleRate, channels)
  }

  /** Sniffed image mime from magic bytes (ImageIO does not report the
    * container it parsed). */
  private def imageMime(b: Array[Byte]): String =
    if (b.length >= 4 && (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G')
      "image/png"
    else if (b.length >= 2 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) "image/jpeg"
    else if (b.length >= 4 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') "image/gif"
    else if (b.length >= 2 && b(0) == 'B' && b(1) == 'M') "image/bmp"
    else "image/unknown"

  /** REAL audio decode for JDK-supported PCM containers (WAV/AIFF/AU via
    * `javax.sound.sampled` — zero external codecs): header-exact frame
    * count, sample rate, channels, duration, and 8 per-segment RMS
    * features from the first channel's samples (16- or 8-bit PCM).
    * Returns None for anything the JDK cannot parse — that falls through
    * to the documented deterministic fake.
    */
  private[llm] def decodeAudio(bytes: Array[Byte]): Option[MediaInfo] =
    try {
      import javax.sound.sampled.{AudioFormat, AudioSystem}
      val ais = AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
      try {
        val f = ais.getFormat
        val frames = ais.getFrameLength
        val enc = f.getEncoding
        val pcm = enc == AudioFormat.Encoding.PCM_SIGNED || enc == AudioFormat.Encoding.PCM_UNSIGNED
        val bits = f.getSampleSizeInBits
        // NOT_SPECIFIED (-1) frame/sample rates would persist a negative
        // duration and sample_rate=-1 — treat as undecodable, not decoded
        if (frames <= 0 || !pcm || (bits != 8 && bits != 16) ||
          f.getFrameRate <= 0 || f.getSampleRate <= 0) None
        else {
          // features from a bounded read: at most 256k frames — duration and
          // frame count come from the HEADER, so a 3-hour file never loads
          val capFrames = math.min(frames, 262144L)
          val frameSize = f.getFrameSize
          // no more than the blob holds, whatever frame size the header claims
          val buf = new Array[Byte](math.min(capFrames * frameSize, bytes.length.toLong).toInt)
          var off = 0
          var r = 0
          while (off < buf.length && { r = ais.read(buf, off, buf.length - off); r > 0 }) off += r
          val readFrames = off / frameSize
          val bins = new Array[Float](8)
          if (readFrames > 0) {
            val perBin = math.max(1, readFrames / 8)
            val sums = new Array[Double](8)
            val counts = new Array[Long](8)
            val bigEndian = f.isBigEndian
            var i = 0
            while (i < readFrames) {
              val base = i * frameSize // first channel only
              val sample: Double =
                if (bits == 16) {
                  val (b0, b1) = (buf(base) & 0xff, buf(base + 1) & 0xff)
                  val v = if (bigEndian) (b0 << 8) | b1 else (b1 << 8) | b0
                  val s = if (enc == AudioFormat.Encoding.PCM_SIGNED) v.toShort.toInt
                          else v - 32768
                  s / 32768.0
                } else {
                  val v = buf(base) & 0xff
                  val s = if (enc == AudioFormat.Encoding.PCM_SIGNED) buf(base).toInt
                          else v - 128
                  s / 128.0
                }
              val b = math.min(7, i / perBin)
              sums(b) += sample * sample
              counts(b) += 1
              i += 1
            }
            var b = 0
            while (b < 8) {
              bins(b) = if (counts(b) > 0) math.sqrt(sums(b) / counts(b)).toFloat else 0f
              b += 1
            }
          }
          val mime =
            if (bytes.length >= 12 && bytes(0) == 'R' && bytes(1) == 'I' &&
              bytes(8) == 'W' && bytes(9) == 'A') "audio/wav"
            else if (bytes.length >= 4 && bytes(0) == 'F' && bytes(1) == 'O') "audio/aiff"
            else if (bytes.length >= 4 && bytes(0) == '.' && bytes(1) == 's') "audio/basic"
            else "audio/unknown"
          Some(MediaInfo(mime, null, null,
            math.round(frames * 1000.0 / f.getFrameRate),
            frames, Integer.valueOf(math.round(f.getSampleRate)),
            Integer.valueOf(f.getChannels), bins))
        }
      } finally ais.close()
    } catch { case NonFatal(_) => None }

  /** Decode a blob: REAL for JDK-supported images (PNG/JPEG/GIF/BMP via
    * ImageIO — true dimensions + 8-bin luminance histogram), REAL for
    * JDK-supported PCM audio (WAV/AIFF/AU via [[decodeAudio]] —
    * header-exact frames/rate/channels/duration + 8 RMS features), and
    * REAL for MJPEG-in-AVI video (RIFF walk + per-frame ImageIO JPEG
    * decode via [[parseAvi]] — header-exact dimensions/frame-count/
    * duration + the mean frame luminance histogram); deterministic
    * hash-derived fake ONLY for what the JDK has no codec for (the
    * documented stub branch, same signature, so another codec slots in
    * without touching the Spark side).
    */
  private[llm] def decodeMedia(bytes: Array[Byte]): MediaInfo = {
    val (w, h, feats) = decodeStub(bytes)
    if (w > 0) { // image path took the real branch (see decodeStub contract)
      MediaInfo(imageMime(bytes), Integer.valueOf(w), Integer.valueOf(h),
        null, null, null, null, feats)
    } else {
      decodeAudio(bytes).orElse(decodeVideo(bytes)).getOrElse {
        // STUB(no codec in the JDK for this blob): deterministic fake
        val (fw, fh, ff) = fakeDecode(bytes)
        MediaInfo("application/octet-stream", Integer.valueOf(fw), Integer.valueOf(fh),
          null, null, null, null, ff)
      }
    }
  }

  /** Deterministic fake decode from the bytes alone — the documented stub
    * for modalities with no JDK codec. */
  private def fakeDecode(bytes: Array[Byte]): (Int, Int, Array[Float]) = {
    val h = if (bytes == null || bytes.isEmpty) 0L
            else bytes.take(64).foldLeft(1125899906842597L)((a, b) => a * 31 + b)
    val width = (math.abs(h) % 1920 + 1).toInt
    val height = (math.abs(h / 7) % 1080 + 1).toInt
    val features = Array.tabulate(8)(i => ((math.abs(h / (i + 1)) % 1000) / 1000.0f))
    (width, height, features)
  }

  /** Most pixels an image may declare and still be decoded: 2^25 (e.g.
    * 8192 x 4096), a raster of at most 256 MB at 8 bytes per pixel. */
  private val MaxImagePixels = 1L << 25

  /** Deepest LIST nesting the AVI walks accept; real files nest 3 or 4. */
  private val MaxRiffDepth = 32

  /** `ImageIO.read` that checks the header's dimensions first: null when no
    * reader takes the bytes or the image declares more than
    * [[MaxImagePixels]] pixels, so a crafted header cannot ask for a raster
    * the heap cannot hold. */
  private def readImage(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    val in = javax.imageio.ImageIO.createImageInputStream(new java.io.ByteArrayInputStream(bytes))
    if (in == null) return null
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(in)
      if (!readers.hasNext) null
      else {
        val reader = readers.next()
        try {
          reader.setInput(in, true, true)
          if (reader.getWidth(0).toLong * reader.getHeight(0) > MaxImagePixels) null
          else reader.read(0, reader.getDefaultReadParam)
        } finally reader.dispose()
      }
    } finally in.close()
  }

  /** Image-only decode kernel: (w, h, histogram) for a real JDK-decodable
    * image, (-1, -1, empty) otherwise — [[decodeMedia]] composes the
    * image → audio → fake cascade on top. */
  private[llm] def decodeStub(bytes: Array[Byte]): (Int, Int, Array[Float]) = {
    val real: Option[(Int, Int, Array[Float])] =
      if (bytes == null || bytes.length < 8) None
      else
        try {
          val img = readImage(bytes)
          if (img == null) None
          else {
            val (w, h) = (img.getWidth, img.getHeight)
            // 8-bin luminance histogram over a bounded sample grid
            val bins = new Array[Float](8)
            val (sx, sy) = (math.max(1, w / 32), math.max(1, h / 32))
            var n = 0
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
                bins(math.min(7, lum / 32)) += 1f
                n += 1
                x += sx
              }
              y += sy
            }
            if (n > 0) { var i = 0; while (i < 8) { bins(i) /= n; i += 1 } }
            Some((w, h, bins))
          }
        } catch { case NonFatal(_) => None }
    real.getOrElse((-1, -1, Array.empty[Float]))
  }

  /** Attach decode metadata + an 8-dim feature vector to a binary column.
    * Output schema: input columns + media_meta struct + features array.
    */
  def decodeAndFeaturize(df: DataFrame, binaryCol: String): DataFrame = {
    val spark = df.sparkSession
    val binIdx = df.columns.indexOf(binaryCol)
    require(binIdx >= 0, s"no column $binaryCol")
    val outSchema = df.schema
      .add("media_meta", mediaMetaSchema)
      .add("features", ArrayType(FloatType))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { rows =>
      // one "decoder" per partition — where a real codec would be initialized
      rows.map { row =>
        val bytes = row.getAs[Array[Byte]](binIdx)
        val m = decodeMedia(bytes)
        Row.fromSeq(row.toSeq :+ m.metaRow :+ m.features)
      }
    }(enc).toDF()
  }

  /** REAL bilinear resize + PNG re-encode for JDK-decodable images
    * (ImageIO → Graphics2D scale → PNG bytes — no external libraries);
    * deterministic fake for undecodable blobs (audio/video codecs aren't
    * in this container — the documented stub branch, same signature).
    * Returns (pngBytes, mime) — mime distinguishes the real path.
    */
  private[llm] def resizeBlob(bytes: Array[Byte], tw: Int, th: Int): (Array[Byte], String) = {
    val real: Option[Array[Byte]] =
      if (bytes == null || bytes.length < 8) None
      else
        try {
          val img = readImage(bytes)
          if (img == null) None
          else {
            val out = new java.awt.image.BufferedImage(
              tw, th, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = out.createGraphics()
            try {
              g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
                java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
              g.drawImage(img, 0, 0, tw, th, null)
            } finally g.dispose()
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(out, "png", bos)
            Some(bos.toByteArray)
          }
        } catch { case NonFatal(_) => None }
    real.map((_, "image/png")).getOrElse {
      // STUB(no audio/video codecs): deterministic area-proportional payload
      val targetLen = math.max(1, (tw * th) / 64)
      val out = Array.tabulate(targetLen) { i =>
        (if (bytes == null || bytes.isEmpty) i
         else bytes(i % bytes.length) ^ (i & 0x7f)).toByte
      }
      (out, "application/octet-stream")
    }
  }

  /** Resize media blobs to target dimensions: REAL decode-scale-reencode
    * for images (see [[resizeBlob]]), documented fake otherwise. Output:
    * input columns + `resized` binary + `resized_meta` struct carrying the
    * target dimensions and the mime of the path taken.
    */
  def resize(df: DataFrame, binaryCol: String, targetWidth: Int, targetHeight: Int): DataFrame = {
    val binIdx = df.columns.indexOf(binaryCol)
    require(binIdx >= 0, s"no column $binaryCol")
    val outSchema = df.schema
      .add("resized", BinaryType)
      .add("resized_meta", mediaMetaSchema)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val (tw, th) = (targetWidth, targetHeight)
    df.mapPartitions { rows =>
      rows.map { row =>
        val bytes = Option(row.getAs[Array[Byte]](binIdx)).getOrElse(Array.emptyByteArray)
        val (out, mime) = resizeBlob(bytes, tw, th)
        val meta = Row(mime, tw, th, null, null, null, null)
        Row.fromSeq(row.toSeq :+ out :+ meta)
      }
    }(enc).toDF()
  }

  /** REAL audio resample + mono mixdown on PCM integers — deterministic
    * end to end, so invariants are exactly checkable (the q189 contract):
    * decode a JDK-supported PCM clip (WAV/AIFF/AU, 8/16-bit), average the
    * channels into mono (integer sum / channel count, Java truncation),
    * then linear-interpolate to `targetRate` with EXACT rational position
    * arithmetic: output frame j reads source position j·srcRate/targetRate
    * as (idx = num / targetRate, frac = num % targetRate) and emits
    * s[idx] + ((s[idx+1] − s[idx]) · frac) / targetRate — all long
    * arithmetic, no floating point, so output frame count is exactly
    * ceil(frames · targetRate / srcRate) and a constant-amplitude region
    * resamples to the identical constant (the RMS pin). Result is a
    * hand-rolled 44-byte-header 16-bit mono little-endian WAV — byte
    * deterministic. 8-bit sources scale to the 16-bit domain by ×256.
    *
    * Returns (wavBytes|null, status): `ok`, `unsupported` (not JDK PCM —
    * the no-codec fallthrough, blob passes through untouched), or
    * `too_long` (input or output clip > `maxFrames`; resampling is a
    * whole-clip op, so the cap fails loudly instead of silently truncating
    * a 3-hour file).
    */
  private[llm] def resampleAudioBlob(bytes: Array[Byte], targetRate: Int,
      maxFrames: Long = 1L << 22): (Array[Byte], String) =
    try {
      import javax.sound.sampled.{AudioFormat, AudioSystem}
      val ais = AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
      try {
        val f = ais.getFormat
        val frames = ais.getFrameLength
        val enc = f.getEncoding
        val pcm = enc == AudioFormat.Encoding.PCM_SIGNED || enc == AudioFormat.Encoding.PCM_UNSIGNED
        val bits = f.getSampleSizeInBits
        if (frames <= 0 || !pcm || (bits != 8 && bits != 16) ||
          f.getFrameRate <= 0 || f.getSampleRate <= 0) (null, "unsupported")
        else if (frames > maxFrames) (null, "too_long")
        else {
          val srcRate = math.round(f.getSampleRate)
          val nch = f.getChannels
          val frameSize = f.getFrameSize
          val buf = new Array[Byte](math.min(frames * frameSize, bytes.length.toLong).toInt)
          var off = 0
          var r = 0
          while (off < buf.length && { r = ais.read(buf, off, buf.length - off); r > 0 }) off += r
          val n = off / frameSize
          val bigEndian = f.isBigEndian
          val signed = enc == AudioFormat.Encoding.PCM_SIGNED
          val bytesPerSample = bits / 8
          // decode + mixdown in one pass: 16-bit-domain mono integers
          val mono = new Array[Int](n)
          var i = 0
          while (i < n) {
            var sum = 0
            var c = 0
            while (c < nch) {
              val base = i * frameSize + c * bytesPerSample
              val s =
                if (bits == 16) {
                  val (b0, b1) = (buf(base) & 0xff, buf(base + 1) & 0xff)
                  val v = if (bigEndian) (b0 << 8) | b1 else (b1 << 8) | b0
                  if (signed) v.toShort.toInt else v - 32768
                } else {
                  val v = buf(base) & 0xff
                  (if (signed) buf(base).toInt else v - 128) * 256
                }
              sum += s
              c += 1
            }
            mono(i) = sum / nch
            i += 1
          }
          // exact-rational linear interpolation to the target rate; the
          // output clip is held to the same cap (a header rate of 1 Hz
          // would otherwise ask for targetRate output frames per input frame)
          val outFramesL = (n.toLong * targetRate + srcRate - 1) / srcRate
          if (outFramesL > maxFrames) return (null, "too_long")
          val outFrames = outFramesL.toInt
          val out = new Array[Byte](44 + outFrames * 2)
          var j = 0
          while (j < outFrames) {
            val num = j.toLong * srcRate
            val idx = (num / targetRate).toInt
            val frac = num % targetRate
            val i1 = math.min(idx + 1, n - 1)
            val s = (mono(idx) + (mono(i1) - mono(idx)).toLong * frac / targetRate).toInt
            out(44 + 2 * j) = (s & 0xff).toByte
            out(44 + 2 * j + 1) = ((s >> 8) & 0xff).toByte
            j += 1
          }
          // hand-rolled PCM WAV header: 16-bit mono LE at targetRate
          val dataLen = outFrames * 2
          def le32(p: Int, v: Int): Unit = { out(p) = (v & 0xff).toByte
            out(p + 1) = ((v >> 8) & 0xff).toByte
            out(p + 2) = ((v >> 16) & 0xff).toByte
            out(p + 3) = ((v >> 24) & 0xff).toByte }
          def le16(p: Int, v: Int): Unit = { out(p) = (v & 0xff).toByte
            out(p + 1) = ((v >> 8) & 0xff).toByte }
          def tag(p: Int, s: String): Unit = { var k = 0
            while (k < 4) { out(p + k) = s.charAt(k).toByte; k += 1 } }
          tag(0, "RIFF"); le32(4, 36 + dataLen); tag(8, "WAVE")
          tag(12, "fmt "); le32(16, 16); le16(20, 1); le16(22, 1)
          le32(24, targetRate); le32(28, targetRate * 2); le16(32, 2); le16(34, 16)
          tag(36, "data"); le32(40, dataLen)
          (out, "ok")
        }
      } finally ais.close()
    } catch { case NonFatal(_) => (null, "unsupported") }

  /** Resample + mono-mix audio blobs to `targetRate` (see
    * [[resampleAudioBlob]]). Output: input columns + `audio_resampled`
    * binary (NULL unless status is `ok`) + `resample_status` string.
    * Narrow mapPartitions — the per-row work is the codec, justified like
    * the decode/resize paths.
    */
  def resampleAudio(df: DataFrame, binaryCol: String, targetRate: Int,
      maxFrames: Long = 1L << 22): DataFrame = {
    require(targetRate > 0, s"targetRate must be positive, got $targetRate")
    val binIdx = df.columns.indexOf(binaryCol)
    require(binIdx >= 0, s"no column $binaryCol")
    val outSchema = df.schema
      .add("audio_resampled", BinaryType)
      .add("resample_status", StringType)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val (tr, mf) = (targetRate, maxFrames)
    df.mapPartitions { rows =>
      rows.map { row =>
        val bytes = Option(row.getAs[Array[Byte]](binIdx)).getOrElse(Array.emptyByteArray)
        val (out, status) = resampleAudioBlob(bytes, tr, mf)
        Row.fromSeq(row.toSeq :+ out :+ status)
      }
    }(enc).toDF()
  }

  /** Parsed MJPEG-in-AVI container: header fields from `avih` plus the
    * byte RANGES of the video chunks (`00dc`/`00db` payloads — raw JPEGs
    * for MJPEG). Ranges, not copies: the blob is already in memory; frame
    * bytes are materialized only for the frames actually sampled. */
  final case class AviVideo(width: Int, height: Int, totalFrames: Long,
      microSecPerFrame: Long, frameRanges: Vector[(Int, Int)]) {
    def durationMs: Long = totalFrames * microSecPerFrame / 1000L
    def frameBytes(bytes: Array[Byte], i: Int): Array[Byte] = {
      val (s, e) = frameRanges(i)
      java.util.Arrays.copyOfRange(bytes, s, e)
    }
  }

  private def fourcc(b: Array[Byte], off: Int): String =
    new String(b, off, 4, java.nio.charset.StandardCharsets.ISO_8859_1)

  private def u32le(b: Array[Byte], off: Int): Long =
    (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

  private def u16le(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  /** Minimal RIFF/AVI reader (pure JDK — the MJPEG case needs no codec
    * beyond ImageIO's JPEG support): walks the chunk tree, takes
    * dimensions/frame-count from the `avih` main header and the frame
    * duration from the FIRST `vids` stream's `strh` rate/scale rational —
    * the authoritative timing per the public AVI RIFF spec
    * (`avih.dwMicroSecPerFrame` is display advice and disagrees with
    * `strh` in real files; it remains the fallback when `strh` is absent
    * or carries a zero rate/scale). Records the byte ranges of the
    * stream-0 video chunks. Strict: any malformed or truncated chunk ⇒
    * None (never a partial parse presented as success); chunk bounds are
    * checked in Long so a crafted size near 2^31 is rejected structurally
    * instead of via overflow, and LISTs nested deeper than
    * [[MaxRiffDepth]] are malformed (the walk recurses once per level).
    * Returns None for non-AVI bytes — callers cascade to the next decoder. */
  private[llm] def parseAvi(bytes: Array[Byte]): Option[AviVideo] =
    try {
      if (bytes == null || bytes.length < 12 || fourcc(bytes, 0) != "RIFF" ||
          fourcc(bytes, 8) != "AVI ") return None
      var width = -1
      var height = -1
      var total = -1L
      var uspf = -1L
      var strhUspf = -1L
      var streamCount = 0
      var vidsPrefix: String = null // f"%02d" index of the FIRST vids stream
      var bad = false
      val ranges = Vector.newBuilder[(Int, Int)]
      def walk(start: Int, end: Int, depth: Int): Unit = {
        var off = start
        while (!bad && off + 8 <= end) {
          val id = fourcc(bytes, off)
          val sz = u32le(bytes, off + 4)
          val dataStart = off + 8
          val dataEndL = dataStart.toLong + sz
          if (dataEndL > end) { bad = true; return }
          val dataEnd = dataEndL.toInt
          if (id == "LIST") {
            if (sz < 4 || depth >= MaxRiffDepth) { bad = true; return }
            walk(dataStart + 4, dataEnd, depth + 1)
          } else if (id == "avih") {
            if (sz < 40) { bad = true; return }
            uspf = u32le(bytes, dataStart)
            total = u32le(bytes, dataStart + 16)
            width = u32le(bytes, dataStart + 32).toInt
            height = u32le(bytes, dataStart + 36).toInt
          } else if (id == "strh") {
            // AVISTREAMHEADER: fccType 0, dwScale 20, dwRate 24 — the
            // frame duration is the exact rational scale/rate seconds.
            // The FIRST vids stream (RIFF strl order) is the video track,
            // and its ORDER INDEX names its data chunks — an audio-first
            // file carries its frames as `01dc`, not `00dc`.
            if (sz < 28) { bad = true; return }
            if (vidsPrefix == null && fourcc(bytes, dataStart) == "vids") {
              vidsPrefix = f"$streamCount%02d"
              val scale = u32le(bytes, dataStart + 20)
              val rate = u32le(bytes, dataStart + 24)
              if (scale > 0 && rate > 0) strhUspf = scale * 1000000L / rate
            }
            streamCount += 1
          } else if (vidsPrefix != null &&
              (id == vidsPrefix + "dc" || id == vidsPrefix + "db")) {
            ranges += ((dataStart, dataEnd))
          } else if (vidsPrefix == null && (id == "00dc" || id == "00db")) {
            // strh-less minimal files: stream 0 by convention
            ranges += ((dataStart, dataEnd))
          }
          off = dataEnd + (sz.toInt & 1) // chunks pad to even offsets
        }
        // a trailing partial chunk header (1..7 bytes) is truncation too —
        // chunks tile their enclosing list exactly (the final odd-size
        // chunk carries its pad byte per the RIFF rules)
        if (!bad && off != end) bad = true
      }
      walk(12, bytes.length, 0)
      val uspfFinal = if (strhUspf > 0) strhUspf else uspf
      if (bad || width <= 0 || height <= 0 || total < 0 || uspfFinal <= 0) None
      else Some(AviVideo(width, height, total, uspfFinal, ranges.result()))
    } catch { case NonFatal(_) => None }

  /** Parsed audio track of an AVI: WAVEFORMATEX fields from the first
    * `auds` stream's `strf` plus the byte ranges of its `NNwb` chunks
    * (NN = the stream's RIFF-order index). Ranges, not copies — the
    * [[AviVideo]] discipline. */
  final case class AviAudio(streamIndex: Int, formatTag: Int, channels: Int,
      sampleRate: Int, bitsPerSample: Int, ranges: Vector[(Int, Int)])

  /** Audio-side companion of [[parseAvi]]: locates the FIRST `auds`
    * stream (streams are numbered in `strl` order — that index names the
    * stream's data chunks, e.g. stream 1 ⇒ `01wb`), reads its
    * WAVEFORMATEX `strf`, and records its chunk byte ranges. Same strict
    * walk and Long-checked bounds as the video parser; None for non-AVI
    * bytes or an AVI with no audio stream. */
  private[llm] def parseAviAudio(bytes: Array[Byte]): Option[AviAudio] =
    try {
      if (bytes == null || bytes.length < 12 || fourcc(bytes, 0) != "RIFF" ||
          fourcc(bytes, 8) != "AVI ") return None
      var bad = false
      var streamCount = 0
      var audioIdx = -1
      var lastWasAuds = false
      var fmtTag = -1
      var nch = -1
      var rate = -1
      var bits = -1
      var chunkId: String = null
      val ranges = Vector.newBuilder[(Int, Int)]
      def walk(start: Int, end: Int, depth: Int): Unit = {
        var off = start
        while (!bad && off + 8 <= end) {
          val id = fourcc(bytes, off)
          val sz = u32le(bytes, off + 4)
          val dataStart = off + 8
          val dataEndL = dataStart.toLong + sz
          if (dataEndL > end) { bad = true; return }
          val dataEnd = dataEndL.toInt
          if (id == "LIST") {
            if (sz < 4 || depth >= MaxRiffDepth) { bad = true; return }
            walk(dataStart + 4, dataEnd, depth + 1)
          } else if (id == "strh") {
            if (sz < 28) { bad = true; return }
            lastWasAuds = audioIdx < 0 && fourcc(bytes, dataStart) == "auds"
            if (lastWasAuds) {
              audioIdx = streamCount
              chunkId = f"$streamCount%02dwb"
            }
            streamCount += 1
          } else if (id == "strf" && lastWasAuds) {
            if (sz < 16) { bad = true; return }
            fmtTag = u16le(bytes, dataStart)
            nch = u16le(bytes, dataStart + 2)
            rate = u32le(bytes, dataStart + 4).toInt
            bits = u16le(bytes, dataStart + 14)
            lastWasAuds = false
          } else if (chunkId != null && id == chunkId) {
            ranges += ((dataStart, dataEnd))
          }
          off = dataEnd + (sz.toInt & 1)
        }
        if (!bad && off != end) bad = true
      }
      walk(12, bytes.length, 0)
      if (bad || audioIdx < 0 || fmtTag < 0) None
      else Some(AviAudio(audioIdx, fmtTag, nch, rate, bits, ranges.result()))
    } catch { case NonFatal(_) => None }

  /** Extract an AVI's PCM audio track as a standalone WAV blob — the
    * bridge from the video container to the ENTIRE audio pipeline
    * ([[decodeAudio]] features, [[resampleAudioBlob]] re-rating): the
    * chunk payloads ARE the PCM stream, so extraction is header assembly
    * plus copies, no transcode. Returns (wav|null, status): `extracted`,
    * `no_audio` (well-formed AVI, no auds stream), `non_pcm` (an audio
    * stream this build cannot carry into WAV — formatTag ≠ 1 or exotic
    * widths; never fabricate), or `unsupported` (not a well-formed AVI).
    */
  private[llm] def extractAudioBlob(bytes: Array[Byte]): (Array[Byte], String) =
    parseAviAudio(bytes) match {
      // parseAviAudio validates the container itself (same strict walk),
      // so an audio-ONLY AVI extracts without needing a video stream;
      // its None is disambiguated by the video parser: a well-formed
      // video AVI without an auds stream is `no_audio`, anything else
      // `unsupported`
      case None =>
        if (parseAvi(bytes).isDefined) (null, "no_audio") else (null, "unsupported")
      case Some(a) if a.formatTag != 1 ||
          (a.bitsPerSample != 8 && a.bitsPerSample != 16) ||
          a.channels <= 0 || a.sampleRate <= 0 => (null, "non_pcm")
      case Some(a) =>
          val dataLen = a.ranges.iterator.map(r => r._2 - r._1).sum
          val out = new Array[Byte](44 + dataLen)
          def le32(p: Int, v: Int): Unit = { out(p) = (v & 0xff).toByte
            out(p + 1) = ((v >> 8) & 0xff).toByte
            out(p + 2) = ((v >> 16) & 0xff).toByte
            out(p + 3) = ((v >> 24) & 0xff).toByte }
          def le16(p: Int, v: Int): Unit = { out(p) = (v & 0xff).toByte
            out(p + 1) = ((v >> 8) & 0xff).toByte }
          def tag(p: Int, s: String): Unit = { var k = 0
            while (k < 4) { out(p + k) = s.charAt(k).toByte; k += 1 } }
          val blockAlign = a.channels * (a.bitsPerSample / 8)
          tag(0, "RIFF"); le32(4, 36 + dataLen); tag(8, "WAVE")
          tag(12, "fmt "); le32(16, 16); le16(20, 1); le16(22, a.channels)
          le32(24, a.sampleRate); le32(28, a.sampleRate * blockAlign)
          le16(32, blockAlign); le16(34, a.bitsPerSample)
          tag(36, "data"); le32(40, dataLen)
          var p = 44
          a.ranges.foreach { case (s, e) =>
            System.arraycopy(bytes, s, out, p, e - s); p += e - s }
          (out, "extracted")
    }

  /** Per-row [[extractAudioBlob]]: input columns + `audio_track` WAV
    * binary (NULL unless extracted) + `audio_status`. Narrow
    * mapPartitions — the per-row work is container parsing, justified
    * like the decode/resize/resample paths. */
  def extractAudio(df: DataFrame, binaryCol: String): DataFrame = {
    val binIdx = df.columns.indexOf(binaryCol)
    require(binIdx >= 0, s"no column $binaryCol")
    val outSchema = df.schema
      .add("audio_track", BinaryType)
      .add("audio_status", StringType)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { rows =>
      rows.map { row =>
        val bytes = Option(row.getAs[Array[Byte]](binIdx)).getOrElse(Array.emptyByteArray)
        val (out, status) = extractAudioBlob(bytes)
        Row.fromSeq(row.toSeq :+ out :+ status)
      }
    }(enc).toDF()
  }

  /** Video branch of the [[decodeMedia]] cascade: header-exact
    * width/height/frames/duration from the AVI main header, features =
    * the per-bin MEAN of the 8-bin luminance histograms of up to 4 evenly
    * spaced REAL-decoded frames (bounded work on an hour-long clip). */
  private def decodeVideo(bytes: Array[Byte]): Option[MediaInfo] =
    parseAvi(bytes).map { v =>
      val feats = new Array[Float](8)
      var decoded = 0
      if (v.frameRanges.nonEmpty) {
        val m = v.frameRanges.length
        val probes = math.min(4, m)
        var i = 0
        while (i < probes) {
          val fi = if (probes == 1) 0 else (i.toLong * (m - 1) / (probes - 1)).toInt
          val (fw, _, bins) = decodeStub(v.frameBytes(bytes, fi))
          if (fw > 0) {
            var b = 0
            while (b < 8) { feats(b) += bins(b); b += 1 }
            decoded += 1
          }
          i += 1
        }
        if (decoded > 0) { var b = 0; while (b < 8) { feats(b) /= decoded; b += 1 } }
      }
      MediaInfo("video/x-msvideo", Integer.valueOf(v.width), Integer.valueOf(v.height),
        java.lang.Long.valueOf(v.durationMs), java.lang.Long.valueOf(v.totalFrames),
        null, null, feats)
    }

  /** Build a minimal MJPEG-in-AVI container from already-encoded JPEG
    * frames (pure JDK; the fixture/writer dual of [[parseAvi]] — also the
    * re-container step of a frame-transcode pipeline). Layout: RIFF(AVI )
    * → LIST(hdrl){avih, LIST(strl){strh vids/MJPG, strf BITMAPINFOHEADER}}
    * → LIST(movi){00dc…}. */
  def buildMjpegAvi(jpegFrames: Seq[Array[Byte]], width: Int, height: Int,
      fps: Int): Array[Byte] = {
    require(fps > 0, s"fps must be positive, got $fps")
    buildMjpegAviUspf(jpegFrames, width, height, 1000000L / fps)
  }

  /** [[buildMjpegAvi]] with the frame duration given directly in
    * microseconds — so a rewrite of a parsed clip ([[transcodeVideo]])
    * preserves the SOURCE header timing exactly, fps-representable or not. */
  def buildMjpegAviUspf(jpegFrames: Seq[Array[Byte]], width: Int, height: Int,
      microSecPerFrame: Long): Array[Byte] =
    buildAvi(jpegFrames, width, height, microSecPerFrame, None)

  /** [[buildMjpegAvi]] plus a PCM audio track as stream 1 (`auds` strl
    * in the header, the samples as one `01wb` chunk in movi) — the
    * writer dual of [[parseAviAudio]]/[[extractAudioBlob]]. `pcm` is raw
    * little-endian PCM sample data matching (sampleRate, channels,
    * bitsPerSample). */
  def buildMjpegAviWithAudio(jpegFrames: Seq[Array[Byte]], width: Int,
      height: Int, fps: Int, pcm: Array[Byte], sampleRate: Int,
      channels: Int, bitsPerSample: Int): Array[Byte] = {
    require(fps > 0, s"fps must be positive, got $fps")
    require(sampleRate > 0 && channels > 0, s"bad audio format: rate=$sampleRate ch=$channels")
    require(bitsPerSample == 8 || bitsPerSample == 16,
      s"bitsPerSample must be 8 or 16, got $bitsPerSample")
    buildAvi(jpegFrames, width, height, 1000000L / fps,
      Some((pcm, sampleRate, channels, bitsPerSample)))
  }

  private def buildAvi(jpegFrames: Seq[Array[Byte]], width: Int, height: Int,
      microSecPerFrame: Long,
      audio: Option[(Array[Byte], Int, Int, Int)]): Array[Byte] = {
    require(microSecPerFrame > 0,
      s"microSecPerFrame must be positive, got $microSecPerFrame")
    def le(i: Long): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putInt((i & 0xffffffffL).toInt).array()
    }
    def le16(i: Int): Array[Byte] =
      Array[Byte]((i & 0xff).toByte, ((i >> 8) & 0xff).toByte)
    def ascii(s: String): Array[Byte] =
      s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    def chunk(id: String, data: Array[Byte]): Array[Byte] = {
      val pad = if ((data.length & 1) == 1) Array[Byte](0) else Array.emptyByteArray
      ascii(id) ++ le(data.length.toLong) ++ data ++ pad
    }
    def list(typ: String, children: Array[Byte]): Array[Byte] =
      chunk("LIST", ascii(typ) ++ children)
    val n = jpegFrames.length.toLong
    val uspf = microSecPerFrame
    val nStreams = if (audio.isDefined) 2L else 1L
    val avih = chunk("avih",
      le(uspf) ++ le(0) ++ le(0) ++ le(0) ++ le(n) ++ le(0) ++ le(nStreams) ++ le(0) ++
        le(width.toLong) ++ le(height.toLong) ++ le(0) ++ le(0) ++ le(0) ++ le(0))
    // strh rate/scale: frames per second as the exact rational 1e6/uspf
    val strh = chunk("strh",
      ascii("vids") ++ ascii("MJPG") ++ le(0) ++ le(0) ++ le(0) ++
        le(uspf) ++ le(1000000L) ++ le(0) ++ le(n) ++ le(0) ++ le(0) ++ le(0) ++ le(0) ++ le(0))
    val strf = chunk("strf",
      le(40) ++ le(width.toLong) ++ le(height.toLong) ++
        Array[Byte](1, 0, 24, 0) ++ ascii("MJPG") ++
        le(width.toLong * height * 3) ++ le(0) ++ le(0) ++ le(0) ++ le(0))
    val audioStrl = audio.map { case (pcm, rate, ch, bits) =>
      val blockAlign = ch * (bits / 8)
      val nBlocks = if (blockAlign > 0) pcm.length.toLong / blockAlign else 0L
      val aStrh = chunk("strh",
        ascii("auds") ++ le(1) ++ le(0) ++ le(0) ++ le(0) ++
          le(blockAlign.toLong) ++ le(rate.toLong * blockAlign) ++ le(0) ++
          le(nBlocks) ++ le(0) ++ le(0) ++ le(0) ++ le(0) ++ le(0))
      // WAVEFORMATEX, 16 bytes: PCM tag, channels, rate, byte rate,
      // block align, bits — exactly what extractAudioBlob reads back
      val aStrf = chunk("strf",
        le16(1) ++ le16(ch) ++ le(rate.toLong) ++ le(rate.toLong * blockAlign) ++
          le16(blockAlign) ++ le16(bits))
      list("strl", aStrh ++ aStrf)
    }
    val hdrl = list("hdrl",
      avih ++ list("strl", strh ++ strf) ++ audioStrl.getOrElse(Array.emptyByteArray))
    // stream, not fold: frame-at-a-time ++ would copy O(n²) bytes on a
    // long clip
    val moviBody = new java.io.ByteArrayOutputStream()
    moviBody.write(ascii("movi"))
    jpegFrames.foreach(f => moviBody.write(chunk("00dc", f)))
    audio.foreach { case (pcm, _, _, _) => moviBody.write(chunk("01wb", pcm)) }
    val movi = chunk("LIST", moviBody.toByteArray)
    val out = new java.io.ByteArrayOutputStream()
    out.write(ascii("RIFF"))
    out.write(le(4L + hdrl.length + movi.length))
    out.write(ascii("AVI "))
    out.write(hdrl)
    out.write(movi)
    out.toByteArray
  }

  /** Whole-clip transcode kernel: parse → per-frame JPEG decode →
    * bilinear rescale → JPEG re-encode → re-container at the source frame
    * rate. Returns (newBlob, "transcoded") for a well-formed MJPEG AVI
    * whose every frame decodes, (original, reason) otherwise — the
    * [[resampleAudioBlob]] pass-through discipline: never fabricate. */
  private[llm] def transcodeVideoBlob(bytes: Array[Byte], tw: Int,
      th: Int): (Array[Byte], String) =
    parseAvi(bytes) match {
      case None => (bytes, "unsupported")
      case Some(v) if v.frameRanges.isEmpty => (bytes, "no_frames")
      case Some(v) =>
        try {
          val out = v.frameRanges.indices.map { i =>
            val img = readImage(v.frameBytes(bytes, i))
            if (img == null) throw new IllegalArgumentException(s"frame $i undecodable")
            val scaled = new java.awt.image.BufferedImage(
              tw, th, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = scaled.createGraphics()
            try {
              g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
                java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
              g.drawImage(img, 0, 0, tw, th, null)
            } finally g.dispose()
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(scaled, "jpeg", bos)
            bos.toByteArray
          }
          // keep the source timing EXACTLY: the header's frame duration in
          // microseconds carries over as-is (fps-representable or not)
          (buildMjpegAviUspf(out, tw, th, v.microSecPerFrame), "transcoded")
        } catch { case NonFatal(_) => (bytes, "frame_decode_failed") }
    }

  /** Transcode MJPEG-in-AVI clips to target dimensions — the video dual
    * of [[resize]]: every frame REALLY decodes, rescales (JDK bilinear)
    * and re-encodes, and the clip re-containers at its source frame rate
    * (frame count and timing preserved — [[parseAvi]] of the output sees
    * the same totalFrames/microSecPerFrame). Non-AVI or undecodable blobs
    * pass through unchanged with a status, never a fabricated payload.
    * Output: input columns + `transcoded` binary + `transcode_status`.
    * Partition-local map — no shuffle. */
  def transcodeVideo(df: DataFrame, binaryCol: String, targetWidth: Int,
      targetHeight: Int): DataFrame = {
    require(targetWidth > 0 && targetHeight > 0,
      s"target dims must be positive, got ${targetWidth}x$targetHeight")
    val binIdx = df.columns.indexOf(binaryCol)
    require(binIdx >= 0, s"no column $binaryCol")
    val outSchema = df.schema
      .add("transcoded", BinaryType)
      .add("transcode_status", StringType)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val (tw, th) = (targetWidth, targetHeight)
    df.mapPartitions { rows =>
      rows.map { row =>
        val bytes = Option(row.getAs[Array[Byte]](binIdx)).getOrElse(Array.emptyByteArray)
        val (out, status) = transcodeVideoBlob(bytes, tw, th)
        Row.fromSeq(row.toSeq :+ out :+ status)
      }
    }(enc).toDF()
  }

  /** Frame sampling: REAL for MJPEG-in-AVI blobs — `n` evenly spaced
    * frames come out as their raw JPEG payloads (each a real ImageIO-
    * decodable image, so the rest of the pipeline treats frames as the
    * image modality) with source index and header-exact timestamp;
    * deterministic byte-offset placeholders (the documented stub, null
    * frame bytes/timestamp) for blobs with no JDK-readable container.
    * Output: input columns + frame_id (1-based sample #), frame_index
    * (source frame # / byte offset), frame_ms, frame_bytes, frame_status
    * ('avi' | 'offset_stub'). Partition-local flatMap — no shuffle; only
    * the sampled frames' bytes are materialized.
    */
  def sampleFrames(df: DataFrame, binaryCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val binIdx = df.columns.indexOf(binaryCol)
    require(binIdx >= 0, s"no column $binaryCol")
    val outSchema = df.schema
      .add("frame_id", IntegerType)
      .add("frame_index", LongType)
      .add("frame_ms", LongType)
      .add("frame_bytes", BinaryType)
      .add("frame_status", StringType)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val nn = n
    df.mapPartitions { rows =>
      rows.flatMap { row =>
        val bytes = row.getAs[Array[Byte]](binIdx)
        parseAvi(bytes) match {
          case Some(v) if v.frameRanges.nonEmpty =>
            val m = v.frameRanges.length
            (0 until nn).map { i =>
              val fi = if (nn == 1) 0 else (i.toLong * (m - 1) / (nn - 1)).toInt
              Row.fromSeq(row.toSeq ++ Seq(i + 1, fi.toLong,
                fi * v.microSecPerFrame / 1000L, v.frameBytes(bytes, fi), "avi"))
            }
          case _ =>
            val len = if (bytes == null) 0 else bytes.length
            (0 until nn).map { i =>
              val off = if (nn == 1) 0L else i.toLong * math.max(len - 1, 1) / (nn - 1)
              Row.fromSeq(row.toSeq ++ Seq(i + 1, off, null, null, "offset_stub"))
            }
        }
      }
    }(enc).toDF()
  }
}
