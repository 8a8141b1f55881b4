package graft
package queries

import org.apache.spark.sql.functions._
import QueryDef.fixed

/** Multimodal decoding: images, audio and video carried as
  * binary columns. */
private[queries] object MultimodalQueries {
  val all: Seq[QueryDef] = Seq(
    fixed("q175_media_resize", "documents") { (spark, ctx, _) =>
      // REAL image resize pipeline: per-row PNGs are GENERATED from doc
      // metadata (deterministic dims/content), resized through the JDK
      // bilinear + PNG re-encode path, then re-decoded. `ok` asserts the
      // re-decoded output has exactly the target dimensions and the real
      // image/png path was taken — pinning decode-scale-reencode through
      // the mapPartitions plumbing end to end.
      import spark.implicits._
      val pngs = ctx.view("documents").filter(col("doc_id") < 40)
        .select(col("doc_id"), (col("doc_id") % 16 + 8).cast("int").as("_w"),
          (col("doc_id") % 9 + 8).cast("int").as("_h"))
        .as[(Long, Int, Int)]
        .map { case (id, w, h) =>
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var x = 0
          while (x < w) {
            var y = 0
            while (y < h) { img.setRGB(x, y, (id * 97 + x * 13 + y).toInt); y += 1 }
            x += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          (id, bos.toByteArray)
        }.toDF("doc_id", "blob")
      val resized = graft.llm.Multimodal.resize(pngs, "blob", 12, 10)
      resized.select(col("doc_id"), col("resized"), col("resized_meta.mime").as("mime"))
        .as[(Long, Array[Byte], String)]
        .map { case (id, bytes, mime) =>
          val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          (id, mime, back != null && back.getWidth == 12 && back.getHeight == 10)
        }.toDF("doc_id", "mime", "_dims_ok")
        .select(col("doc_id"), col("mime"),
          (col("_dims_ok") && col("mime") === "image/png").as("ok"))
        .orderBy("doc_id")
    }.selfChecked,
    fixed("q181_audio_decode", "documents") { (spark, ctx, _) =>
      // REAL audio decode pipeline: per-row WAVs (16-bit mono PCM, 8 kHz)
      // are GENERATED from doc metadata — frames = 800 + 16·(doc_id % 50),
      // silence in the first half, a square wave in the second — then
      // decoded through the JDK javax.sound.sampled path. `ok` pins the
      // decoded frame count ≡ the header's frame count, the exact
      // duration arithmetic (frames/8 ms at 8 kHz), rate/channels, the
      // audio/wav mime (the REAL branch, not the fake), and the RMS
      // features actually reading samples (quiet first half, ~0.5 second
      // half).
      import spark.implicits._
      val wavs = ctx.view("documents").filter(col("doc_id") < 40)
        .select(col("doc_id"), (lit(800) + (col("doc_id") % 50) * 16).cast("int").as("_frames"))
        .as[(Long, Int)]
        .map { case (id, frames) =>
          import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
          val pcm = new Array[Byte](frames * 2)
          var i = frames / 2
          while (i < frames) {
            val v: Short = if (i % 2 == 0) 16384 else -16384
            pcm(2 * i) = (v & 0xff).toByte
            pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
            i += 1
          }
          val fmt = new AudioFormat(8000f, 16, 1, true, false)
          val bos = new java.io.ByteArrayOutputStream()
          AudioSystem.write(
            new AudioInputStream(
              new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong),
            AudioFileFormat.Type.WAVE, bos)
          (id, frames.toLong, bos.toByteArray)
        }.toDF("doc_id", "frames_expected", "blob")
      graft.llm.Multimodal.decodeAndFeaturize(wavs, "blob")
        .select(col("doc_id"), col("frames_expected"),
          col("media_meta.frames").as("frames_decoded"),
          col("media_meta.duration_ms").as("duration_ms"),
          (col("media_meta.mime") === "audio/wav" &&
            col("media_meta.frames") === col("frames_expected") &&
            col("media_meta.duration_ms") === (col("frames_expected") * 1000 / 8000) &&
            col("media_meta.sample_rate") === 8000 &&
            col("media_meta.channels") === 1 &&
            size(col("features")) === 8 &&
            element_at(col("features"), 1) < 0.01f &&
            abs(element_at(col("features"), 8) - 0.5f) < 0.01f).as("ok"))
        .orderBy("doc_id")
    }.selfChecked,
    fixed("q189_audio_resample", "documents") { (spark, ctx, _) =>
      // REAL audio resample + mono mixdown (Multimodal.resampleAudio):
      // STEREO 16-bit 8 kHz WAVs generated from doc metadata — channel 0
      // silent first half / constant 16384 second half, channel 1 all
      // silent — are mixed to mono and resampled to 12 kHz on PCM
      // integers with exact rational interpolation. `ok` pins the full
      // contract per row: resampled frame count ≡ ceil(frames·12000/8000)
      // (= 3/2·frames exactly — frames are even), 12 kHz mono audio/wav
      // re-decode, the mixdown arithmetic (constant (16384+0)/2 = 8192 →
      // second-half RMS exactly 0.25 — constants survive linear
      // interpolation bit-exactly), silence staying silent, and the
      // unsupported fallthrough (a text blob) reporting status without a
      // fabricated payload.
      import spark.implicits._
      val wavs = ctx.view("documents").filter(col("doc_id") < 40)
        .select(col("doc_id"), (lit(800) + (col("doc_id") % 50) * 16).cast("int").as("_frames"))
        .as[(Long, Int)]
        .map { case (id, frames) =>
          import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
          val pcm = new Array[Byte](frames * 4) // stereo 16-bit
          var i = frames / 2
          while (i < frames) {
            val v: Short = 16384 // channel 0 constant; channel 1 stays 0
            pcm(4 * i) = (v & 0xff).toByte
            pcm(4 * i + 1) = ((v >> 8) & 0xff).toByte
            i += 1
          }
          val fmt = new AudioFormat(8000f, 16, 2, true, false)
          val bos = new java.io.ByteArrayOutputStream()
          AudioSystem.write(
            new AudioInputStream(
              new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong),
            AudioFileFormat.Type.WAVE, bos)
          (id, frames.toLong, bos.toByteArray)
        }.toDF("doc_id", "frames_in", "blob")
        .unionByName(Seq((1000L, 0L, "not audio at all".getBytes("UTF-8")))
          .toDF("doc_id", "frames_in", "blob"))
      val resampled = graft.llm.Multimodal.resampleAudio(wavs, "blob", targetRate = 12000)
        .withColumn("_dec", coalesce(col("audio_resampled"), col("blob")))
      graft.llm.Multimodal.decodeAndFeaturize(resampled, "_dec")
        .select(col("doc_id"), col("frames_in"), col("resample_status"),
          col("media_meta.frames").as("frames_out"),
          when(col("doc_id") === 1000L,
            col("resample_status") === "unsupported" && col("audio_resampled").isNull)
            .otherwise(col("resample_status") === "ok" &&
              col("media_meta.mime") === "audio/wav" &&
              col("media_meta.frames") === col("frames_in") * 3 / 2 &&
              col("media_meta.sample_rate") === 12000 &&
              col("media_meta.channels") === 1 &&
              element_at(col("features"), 1) < 0.001f &&
              abs(element_at(col("features"), 8) - 0.25f) < 0.001f).as("ok"))
        .orderBy("doc_id")
    }.selfChecked,
    fixed("q199_video_frames", "documents") { (spark, ctx, _) =>
      // REAL video pipeline, self-verifying end to end: per-row
      // MJPEG-in-AVI clips (llm/Multimodal.buildMjpegAvi — pure-JDK RIFF
      // writer) are GENERATED from doc metadata — 5 solid JPEG frames at
      // shades 0/60/120/180/240, 25 fps — then (1) container-decoded
      // (parseAvi: header-exact dims/frames/duration + mean-of-frames
      // luminance features), (2) frame-sampled (3 evenly spaced frames =
      // source indices 0/2/4, raw JPEG payloads), (3) each sampled frame
      // decoded AS AN IMAGE through the same decodeAndFeaturize the image
      // modality uses. `ok` pins: the video mime (the REAL branch), the
      // header arithmetic (5 frames, 200 ms, 40 ms spacing), the sampled
      // indices/timestamps, the frame dims, and — the real-decode proof —
      // each frame's luminance histogram concentrated in the bin of the
      // shade it was ENCODED from (frame 0→bin 1, 2→bin 4, 4→bin 8;
      // JPEG noise on a solid frame stays inside a 32-wide bin). A byte
      // fake can satisfy none of these.
      import spark.implicits._
      import graft.llm.Multimodal
      val avis = ctx.view("documents").filter(col("doc_id") < 30)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val frames = (0 until 5).map { f =>
            val shade = f * 60
            val img = new java.awt.image.BufferedImage(
              24, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val rgb = (shade << 16) | (shade << 8) | shade
            (0 until 24).foreach(x => (0 until 16).foreach(y => img.setRGB(x, y, rgb)))
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "jpeg", bos)
            bos.toByteArray
          }
          (id, Multimodal.buildMjpegAvi(frames, 24, 16, fps = 25))
        }.toDF("doc_id", "blob")
      val meta = Multimodal.decodeAndFeaturize(avis, "blob")
        .select(col("doc_id"), col("blob"),
          col("media_meta.mime").as("video_mime"),
          col("media_meta.width").as("vw"), col("media_meta.height").as("vh"),
          col("media_meta.frames").as("n_frames"),
          col("media_meta.duration_ms").as("duration_ms"))
      val frames = Multimodal.sampleFrames(meta, "blob", 3)
      val decoded = Multimodal.decodeAndFeaturize(
        frames.drop("blob"), "frame_bytes")
      decoded
        .select(col("doc_id"), col("frame_id"), col("frame_index"),
          col("frame_ms"), col("n_frames"), col("duration_ms"),
          (col("video_mime") === "video/x-msvideo" &&
            col("vw") === 24 && col("vh") === 16 &&
            col("n_frames") === 5L && col("duration_ms") === 200L &&
            col("frame_status") === "avi" &&
            col("frame_index") === (col("frame_id") - 1) * 2 &&
            col("frame_ms") === col("frame_index") * 40 &&
            col("media_meta.mime") === "image/jpeg" &&
            col("media_meta.width") === 24 && col("media_meta.height") === 16 &&
            element_at(col("features"),
              (col("frame_index") * lit(60) / lit(32) + 1).cast("int")) > 0.99f)
            .as("ok"))
        .orderBy("doc_id", "frame_id")
    }.selfChecked,
    fixed("q206_video_audio_track", "documents") { (spark, ctx, _) =>
      // AVI AUDIO-track extraction, self-verifying — the bridge from the
      // video container to the whole audio pipeline: per-row MJPEG+PCM
      // clips are GENERATED (3 solid frames @25 fps + 100 ms of 16-bit
      // mono 8 kHz PCM as stream 1), the audio track is extracted to a
      // standalone WAV (header assembly + chunk copies, no transcode),
      // REAL-decoded through the same javax.sound path as any WAV (rate/
      // channels/frames/duration header-exact), then RESAMPLED to 16 kHz
      // through the existing audio operator. `ok` pins: extraction
      // status, the WAV decoding with exactly the embedded format
      // (8000 Hz / 1 ch / 800 frames / 100 ms), the resample landing at
      // exactly 1600 frames @16 kHz, and the VIDEO branch still parsing
      // the clip (the added auds stream must not perturb the video walk).
      import spark.implicits._
      import graft.llm.Multimodal
      val avis = ctx.view("documents").filter(col("doc_id") < 30)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val frames = (0 until 3).map { f =>
            val shade = f * 80
            val img = new java.awt.image.BufferedImage(
              16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val rgb = (shade << 16) | (shade << 8) | shade
            (0 until 16).foreach(x => (0 until 16).foreach(y => img.setRGB(x, y, rgb)))
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "jpeg", bos)
            bos.toByteArray
          }
          val pcm = new Array[Byte](1600) // 800 16-bit mono samples
          var i = 0
          while (i < 800) {
            val v = ((id * 131 + i * 7) % 20000 - 10000).toInt
            pcm(2 * i) = (v & 0xff).toByte
            pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
            i += 1
          }
          (id, Multimodal.buildMjpegAviWithAudio(frames, 16, 16, 25, pcm, 8000, 1, 16))
        }.toDF("doc_id", "blob")
      val vmeta = Multimodal.decodeAndFeaturize(avis, "blob")
        .select(col("doc_id"), col("blob"),
          col("media_meta.mime").as("video_mime"),
          col("media_meta.frames").as("video_frames"))
      val ex = Multimodal.extractAudio(vmeta, "blob").drop("blob")
      val wmeta = Multimodal.decodeAndFeaturize(ex, "audio_track")
        .select(col("doc_id"), col("video_mime"), col("video_frames"),
          col("audio_track"), col("audio_status"),
          col("media_meta.mime").as("wav_mime"),
          col("media_meta.sample_rate").as("wav_rate"),
          col("media_meta.channels").as("wav_channels"),
          col("media_meta.frames").as("wav_frames"),
          col("media_meta.duration_ms").as("wav_ms"))
      val rs = Multimodal.resampleAudio(wmeta, "audio_track", 16000)
        .drop("audio_track")
      Multimodal.decodeAndFeaturize(rs, "audio_resampled")
        .select(col("doc_id"), col("audio_status"), col("wav_rate"),
          col("wav_frames"), col("wav_ms"), col("resample_status"),
          col("media_meta.frames").as("rs_frames"),
          (col("audio_status") === "extracted" &&
            col("video_mime") === "video/x-msvideo" &&
            col("video_frames") === 3L &&
            col("wav_mime") === "audio/wav" &&
            col("wav_rate") === 8000 && col("wav_channels") === 1 &&
            col("wav_frames") === 800L && col("wav_ms") === 100L &&
            col("resample_status") === "ok" &&
            col("media_meta.sample_rate") === 16000 &&
            col("media_meta.frames") === 1600L).as("ok"))
        .orderBy("doc_id")
    }.selfChecked,
    fixed("q200_video_transcode", "documents") { (spark, ctx, _) =>
      // REAL video transcode, self-verifying: the q199 clips (5 solid
      // frames, shades 0/60/120/180/240, 24×16 @ 25 fps) run through
      // Multimodal.transcodeVideo to 12×8 — every frame REALLY decodes,
      // rescales and re-encodes, and the clip re-containers at the source
      // rate — then the OUTPUT is decoded and frame-sampled like any other
      // clip. `ok` pins: transcode status, the output parsing as video
      // with the NEW dims but the SOURCE frame count and duration
      // (5 frames / 200 ms — timing must survive the rewrite), and each
      // sampled output frame's luminance still concentrated in the bin of
      // the shade its SOURCE frame was encoded from (content survives the
      // decode→rescale→re-encode round trip; a container-only rewrite or a
      // fabricated payload fails the bin pin).
      import spark.implicits._
      import graft.llm.Multimodal
      val avis = ctx.view("documents").filter(col("doc_id") < 30)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val frames = (0 until 5).map { f =>
            val shade = f * 60
            val img = new java.awt.image.BufferedImage(
              24, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val rgb = (shade << 16) | (shade << 8) | shade
            (0 until 24).foreach(x => (0 until 16).foreach(y => img.setRGB(x, y, rgb)))
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "jpeg", bos)
            bos.toByteArray
          }
          (id, Multimodal.buildMjpegAvi(frames, 24, 16, fps = 25))
        }.toDF("doc_id", "blob")
      val tr = Multimodal.transcodeVideo(avis, "blob", 12, 8)
        .select(col("doc_id"), col("transcoded"), col("transcode_status"))
      val meta = Multimodal.decodeAndFeaturize(tr, "transcoded")
        .select(col("doc_id"), col("transcoded"), col("transcode_status"),
          col("media_meta.mime").as("video_mime"),
          col("media_meta.width").as("vw"), col("media_meta.height").as("vh"),
          col("media_meta.frames").as("n_frames"),
          col("media_meta.duration_ms").as("duration_ms"))
      val frames = Multimodal.sampleFrames(meta, "transcoded", 3)
      Multimodal.decodeAndFeaturize(frames.drop("transcoded"), "frame_bytes")
        .select(col("doc_id"), col("frame_id"), col("frame_index"),
          col("n_frames"), col("duration_ms"),
          (col("transcode_status") === "transcoded" &&
            col("video_mime") === "video/x-msvideo" &&
            col("vw") === 12 && col("vh") === 8 &&
            col("n_frames") === 5L && col("duration_ms") === 200L &&
            col("frame_status") === "avi" &&
            col("frame_index") === (col("frame_id") - 1) * 2 &&
            col("media_meta.width") === 12 && col("media_meta.height") === 8 &&
            element_at(col("features"),
              (col("frame_index") * lit(60) / lit(32) + 1).cast("int")) > 0.9f)
            .as("ok"))
        .orderBy("doc_id", "frame_id")
    }.selfChecked,
    fixed("q61_multimodal_decode", "documents") { (spark, ctx, _) =>
      // Binary-column pipeline: text bytes stand in for media blobs; decode
      // metadata + fixed-width features via mapPartitions (stubbed codec).
      val blobs = ctx.view("documents")
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), col("text").cast("binary").as("blob"))
      graft.llm.Multimodal
        .decodeAndFeaturize(blobs, "blob")
        .select(col("doc_id"), col("media_meta.width").as("width"),
          col("media_meta.height").as("height"), size(col("features")).cast("long").as("n_features"),
          // self-verifying: the stub codec's contract — plausible dims, an
          // 8-dim feature vector, every feature in [0,1] — checks the
          // mapPartitions plumbing (schema, batch shape, row alignment)
          (col("media_meta.width").between(1, 1920) &&
            col("media_meta.height").between(1, 1080) &&
            size(col("features")) === 8 &&
            forall(col("features"), f => f >= 0f && f <= 1f)).as("ok"))
        .orderBy("doc_id")
    }.selfChecked,
  )
}
