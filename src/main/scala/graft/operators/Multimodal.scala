package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.awt.image.BufferedImage

import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, decoded/feature-extracted in partition-sized batches.
  *
  * The Spark-side shape is the deliverable — schema (binary payload + typed
  * metadata), partitioning (decode is a narrow mapPartitions, no shuffle;
  * feature vectors are fixed-width arrays ready for [[Similarity]]-style
  * ANN), and batch amortization (codec state initialized once per
  * partition, not per row).
  *
  * The IMAGE path is real end-to-end: payloads are genuine PNG bytes
  * (encoded with `javax.imageio`, deterministic pixels derived from the
  * doc id), and decode runs `ImageIO.read` → integer Rec.601 luma plane.
  * PNG is lossless, so features depend only on the pixel function — the
  * spec pins them against a golden hash.
  *
  * The AUDIO path is real end-to-end too: payloads are genuine RIFF/WAV
  * bytes (16-bit PCM mono, written with `javax.sound.sampled`), and decode
  * runs `AudioSystem.getAudioInputStream` back to the exact samples (PCM
  * is lossless). Frame features (RMS energy, zero crossings) are integer
  * math, so they golden-check exactly.
  *
  * The VIDEO path decodes real bytes too: payloads are a self-describing
  * raw-frame container (GRVF: magic + u16 width/height/frame-count header
  * + uncompressed 8-bit gray frames — the JDK ships no video codec, so
  * the fixture generator IS the encoder), and decode parses the header
  * and slices exact frame planes, failing loudly on a malformed payload.
  * An ffmpeg-style codec binding would replace [[encodeRawVideo]] /
  * [[decodeVideo]] only — none of the Spark plumbing around them.
  */
object Multimodal {
  import Relational.{Q, pin}

  final case class MediaRow(media_id: Long, kind: String, bytes: Array[Byte],
      width: Int, height: Int, channels: Int)
  final case class MediaFeatures(media_id: Long, kind: String, dim: Int,
      features: Array[Float])
  final case class FrameFeatures(media_id: Long, frame_idx: Int,
      features: Array[Float])

  /** Deterministic w×h RGB image for id — the fixture generator for the
    * real PNG path (pixel = mixed bits of (id, x, y); nothing here depends
    * on the PNG encoder, which is lossless either way). */
  private[operators] def syntheticImage(id: Long, w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = id * 1315423911L + x * 2654435761L + y * 97531L
        img.setRGB(x, y, ((v >>> 16) & 0xffffffL).toInt)
        x += 1
      }
      y += 1
    }
    img
  }

  private[operators] def encodePng(img: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic 16-bit PCM waveform for id — the fixture generator for
    * the real WAV path (mixed-bits pseudo-noise; nothing depends on the
    * WAV container, which is lossless for PCM). */
  private[operators] def syntheticSamples(id: Long, n: Int): Array[Short] = {
    val out = new Array[Short](n)
    var i = 0
    while (i < n) {
      val v = id * 6364136223846793005L + i * 1442695040888963407L
      out(i) = (v >>> 33).toShort
      i += 1
    }
    out
  }

  /** REAL WAV encode: samples → RIFF/WAVE bytes (16-bit PCM mono 8 kHz,
    * little-endian) via `javax.sound.sampled.AudioSystem.write`. */
  private[operators] def encodeWav(samples: Array[Short]): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val raw = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      raw(2 * i) = (samples(i) & 0xff).toByte
      raw(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val ais = new AudioInputStream(new ByteArrayInputStream(raw), fmt, samples.length)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** REAL audio decode: WAV bytes → 16-bit PCM samples via
    * `AudioSystem.getAudioInputStream` (PCM in a RIFF container is
    * lossless, so this returns the exact encoded samples). Non-16-bit /
    * unsigned / float WAV flavors are CONVERTED to 16-bit signed PCM by
    * the JDK first (or rejected loudly if no converter exists) — raw
    * byte-pairing must never misread an 8-bit or float32 stream as PCM16.
    * Multi-channel streams come back channel-INTERLEAVED; frame features
    * over them measure combined energy. */
  def decodeAudio(bytes: Array[Byte]): Array[Short] = {
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    val src = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
    try {
      val f = src.getFormat
      val ais =
        if (f.getEncoding == AudioFormat.Encoding.PCM_SIGNED &&
          f.getSampleSizeInBits == 16) src
        else try AudioSystem.getAudioInputStream(
          new AudioFormat(f.getSampleRate, 16, f.getChannels, true, false), src)
        catch {
          case e: IllegalArgumentException => throw new IllegalArgumentException(
            s"decodeAudio: unsupported WAV flavor $f (no PCM16 converter)", e)
        }
      val raw = ais.readAllBytes()
      val bigEndian = ais.getFormat.isBigEndian
      val out = new Array[Short](raw.length / 2)
      var i = 0
      while (i < out.length) {
        out(i) =
          if (bigEndian) (((raw(2 * i) & 0xff) << 8) | (raw(2 * i + 1) & 0xff)).toShort
          else ((raw(2 * i) & 0xff) | ((raw(2 * i + 1) & 0xff) << 8)).toShort
        i += 1
      }
      out
    } finally src.close()
  }

  /** Deterministic 8-bit gray frames for id — the fixture generator for
    * the raw-video path (pixel = mixed bits of (id, frame, i)). */
  private[operators] def syntheticFrames(id: Long, w: Int, h: Int,
      n: Int): Array[Array[Byte]] =
    Array.tabulate(n) { f =>
      val plane = new Array[Byte](w * h)
      var i = 0
      while (i < plane.length) {
        val v = id * 1315423911L + f * 2654435761L + i * 1442695040888963407L
        plane(i) = (v >>> 40).toByte
        i += 1
      }
      plane
    }

  /** REAL (if trivial) video container encode: `GRVF` magic, version byte,
    * u16-LE width/height/frame-count, then raw row-major 8-bit gray
    * frames. Self-describing; [[decodeVideo]] trusts only the bytes. */
  private[operators] def encodeRawVideo(w: Int, h: Int,
      frames: Array[Array[Byte]]): Array[Byte] = {
    require(frames.forall(_.length == w * h), "encodeRawVideo: frame size mismatch")
    val out = new Array[Byte](11 + frames.length * w * h)
    out(0) = 'G'; out(1) = 'R'; out(2) = 'V'; out(3) = 'F'; out(4) = 1
    def u16(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte; out(off + 1) = ((v >> 8) & 0xff).toByte
    }
    u16(5, w); u16(7, h); u16(9, frames.length)
    var off = 11
    for (fr <- frames) { System.arraycopy(fr, 0, out, off, fr.length); off += fr.length }
    out
  }

  /** REAL video decode: GRVF bytes → (width, height, frames). Validates
    * the magic, version and exact byte count — a malformed payload fails
    * loudly instead of yielding garbage planes. */
  def decodeVideo(bytes: Array[Byte]): (Int, Int, Array[Array[Byte]]) = {
    require(bytes.length >= 11 && bytes(0) == 'G' && bytes(1) == 'R' &&
      bytes(2) == 'V' && bytes(3) == 'F' && bytes(4) == 1,
      "decodeVideo: not a GRVF v1 payload")
    def u16(off: Int) = (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)
    val w = u16(5); val h = u16(7); val n = u16(9)
    require(bytes.length == 11 + n * w * h,
      s"decodeVideo: payload ${bytes.length} B != header promise ${11 + n * w * h} B")
    (w, h, Array.tabulate(n)(f =>
      java.util.Arrays.copyOfRange(bytes, 11 + f * w * h, 11 + (f + 1) * w * h)))
  }

  /** Synthetic media table over `documents`: image rows carry REAL PNG
    * payloads, audio rows REAL WAV payloads, video rows REAL GRVF
    * raw-frame payloads. Stands in for
    * `spark.read.format("binaryFile")` over a media landing dir — the
    * per-row encode work is exactly the narrow, shuffle-free shape a
    * binary-file scan has. */
  def mediaFromDocuments(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    Tables.balanced(Tables(s, dir, "documents").select(col("doc_id"), col("text")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, _) =>
          val kind = ((id % 3) + 3) % 3 match {
            case 0 => "image"; case 1 => "audio"; case _ => "video"
          }
          val w = (id % 64 + 16).toInt
          val h = (id % 48 + 16).toInt
          val bytes = kind match {
            case "image" => encodePng(syntheticImage(id, w, h))
            case "audio" => encodeWav(syntheticSamples(id, (2048 + id % 1024).toInt))
            case _ => encodeRawVideo(w, h, syntheticFrames(id, w, h, (id % 12 + 4).toInt))
          }
          MediaRow(id, kind, bytes, w, h, 3)
        }
      }
  }

  /** REAL image decode: PNG/BMP/etc bytes → integer Rec.601 luma plane
    * ((299·R + 587·G + 114·B) / 1000 per pixel, row-major). */
  def decodeImage(bytes: Array[Byte]): Array[Byte] = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    val w = img.getWidth
    val h = img.getHeight
    val out = new Array[Byte](w * h)
    var y = 0
    var i = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val luma = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
          (rgb & 0xff) * 114) / 1000
        out(i) = luma.toByte
        i += 1
        x += 1
      }
      y += 1
    }
    out
  }

  private def decode(m: MediaRow): Array[Byte] = m.kind match {
    case "image" => decodeImage(m.bytes)
    case "audio" =>
      // real WAV decode; fold 16-bit samples to a byte plane (high byte,
      // offset-binary) so the block-mean feature shape is kind-agnostic
      decodeAudio(m.bytes).map(s => (((s >> 8) + 128) & 0xff).toByte)
    case _ =>
      // real GRVF decode; the "plane" is the frames concatenated in time
      // order, so block-mean features see the whole clip
      decodeVideo(m.bytes)._3.flatten
  }

  /** Fixed-width block-mean features over the decoded plane. Narrow
    * per-partition pass; the codec registry lookup is amortized across the
    * batch (ImageIO scans its plugin registry on first use per JVM). */
  def extractFeatures(media: Dataset[MediaRow], dim: Int = 16): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { m =>
        val plane = decode(m)
        val feats = new Array[Float](dim)
        val block = math.max(plane.length / dim, 1)
        var b = 0
        while (b < dim) {
          var s = 0L; var n = 0; var i = b * block
          while (i < math.min((b + 1) * block, plane.length)) {
            s += plane(i) & 0xff; n += 1; i += 1
          }
          feats(b) = if (n == 0) 0f else s.toFloat / n
          b += 1
        }
        MediaFeatures(m.media_id, m.kind, dim, feats)
      }
    }
  }

  /** Resize — every kind re-encodes a REAL payload: images decode →
    * bilinear redraw → lossless PNG re-encode; audio decodes → nearest
    * resample to w·h samples → WAV re-encode; video decodes → per-frame
    * nearest-neighbor rescale → GRVF re-encode. Shape params flow through
    * the plumbing and the output stays decodable by the same codecs. */
  def resize(media: Dataset[MediaRow], w: Int, h: Int): Dataset[MediaRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { m =>
        val bytes = m.kind match {
          case "image" =>
            val src = ImageIO.read(new ByteArrayInputStream(m.bytes))
            val dst = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
            val g = dst.createGraphics()
            try {
              g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
                java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
              g.drawImage(src, 0, 0, w, h, null)
            } finally g.dispose()
            encodePng(dst)
          case "audio" =>
            val s0 = decodeAudio(m.bytes)
            val n = w * h
            encodeWav(Array.tabulate(n)(i =>
              s0(((i.toLong * s0.length) / n).toInt)))
          case _ =>
            val (vw, vh, frames) = decodeVideo(m.bytes)
            encodeRawVideo(w, h, frames.map { fr =>
              val out = new Array[Byte](w * h)
              var y = 0; var i = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  out(i) = fr((y * vh / h) * vw + (x * vw / w))
                  i += 1; x += 1
                }
                y += 1
              }
              out
            })
        }
        m.copy(bytes = bytes, width = w, height = h)
      }
    }
  }

  /** Frame sampling for `video` rows: every `stride`-th REAL container
    * frame gets its own feature vector — one input row fans out to
    * n_frames rows (flatMap, still narrow / shuffle-free). */
  def sampleFrames(media: Dataset[MediaRow], stride: Int = 4,
      maxFrames: Int = 8, dim: Int = 8): Dataset[FrameFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter((m: MediaRow) => m.kind == "video").flatMap { m =>
      val frames = decodeVideo(m.bytes)._3
      val nFrames = math.min(frames.length, maxFrames * stride)
      (0 until nFrames by stride).map { f =>
        val frame = frames(f)
        val feats = new Array[Float](dim)
        var i = 0
        while (i < frame.length) {
          feats(i % dim) += (frame(i) & 0xff).toFloat / frame.length
          i += 1
        }
        FrameFeatures(m.media_id, f, feats)
      }
    }
  }

  // Driver-checkable queries (no SQL oracle — binary/codec ops are not
  // SQL-expressible; the driver records a rows-only check).
  def mm01Features(s: SparkSession, dir: String): DataFrame =
    // No round(): each block mean is a float32 whose double promotions
    // sum EXACTLY (≤52 mantissa bits needed — see the oracle block
    // below), so the raw double is bit-identical cross-engine, whereas
    // round-half-up vs half-even semantics differ between engines.
    extractFeatures(mediaFromDocuments(s, dir))
      .toDF().select(col("media_id"), col("kind"), col("dim"),
        expr("aggregate(features, CAST(0.0 AS DOUBLE), (a, x) -> a + x)")
          .as("feature_sum"))

  def mm02FrameSample(s: SparkSession, dir: String): DataFrame =
    sampleFrames(mediaFromDocuments(s, dir))
      .toDF().select(col("media_id"), col("frame_idx"))

  /** aHash-style perceptual hash over a feature Dataset: bit b set iff
    * block-mean b exceeds the image's mean of block means. Identical
    * pixels → identical hash regardless of how the PNG was encoded
    * (decode is exact); the standard cheap image-dedup key. */
  def withPerceptualHash(feats: Dataset[MediaFeatures]): DataFrame =
    feats.toDF()
      .withColumn("avg_f", expr(
        "aggregate(features, CAST(0.0 AS DOUBLE), (a, x) -> a + x) / size(features)"))
      .withColumn("phash", expr(
        """aggregate(sequence(0, size(features) - 1), CAST(0 AS BIGINT),
          |  (acc, i) -> acc + IF(element_at(features, i + 1) > avg_f,
          |                       shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))""".stripMargin))
      .drop("avg_f")

  /** mm03: image near-dup via perceptual hash — the cross-modal closing of
    * the loop: REAL decode → block-mean features → aHash → exact dedup
    * group-by on the hash (same scale shape as dd01: one hash shuffle,
    * map-side partial agg). Output flags every image whose hash collides
    * with a smaller media_id (rows-only driver check — codec ops are not
    * SQL-expressible; MultimodalSpec pins the semantics with planted
    * duplicate images). */
  def mm03ImageNeardup(s: SparkSession, dir: String): DataFrame = {
    // checkpoint: both the group table and the flag join read `hashed`,
    // which would otherwise re-run the whole decode pipeline per branch
    val hashed = withPerceptualHash(extractFeatures(
      mediaFromDocuments(s, dir).filter((m: MediaRow) => m.kind == "image")))
      .transform(pin)
    val groups = hashed.groupBy(col("phash"))
      .agg(min(col("media_id")).as("keep_id"), count(lit(1)).as("n_images"))
    hashed.select(col("media_id"), col("phash"))
      .join(groups, Seq("phash"))
      .select(col("media_id"), col("phash"), col("keep_id"), col("n_images"),
        (col("media_id") =!= col("keep_id")).as("is_dup"))
  }

  final case class AudioFrame(media_id: Long, frame_idx: Int,
      rms: Long, zero_crossings: Int)

  /** Per-frame audio features over REALLY-decoded PCM: RMS energy
    * (floor(sqrt(mean(s²))) — integer-exact) and zero-crossing count (the
    * classic cheap voicing/noise signal) per `frameLen`-sample frame.
    * Narrow flatMap fan-out, same shape as [[sampleFrames]]. */
  def audioFrames(media: Dataset[MediaRow], frameLen: Int = 256,
      maxFrames: Int = 8): Dataset[AudioFrame] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter((m: MediaRow) => m.kind == "audio").flatMap { m =>
      val s = decodeAudio(m.bytes)
      val n = math.min(s.length / frameLen, maxFrames)
      (0 until n).map { f =>
        var sumSq = 0L
        var zc = 0
        var i = f * frameLen
        while (i < (f + 1) * frameLen) {
          sumSq += s(i).toLong * s(i)
          if (i > f * frameLen && ((s(i) >= 0) != (s(i - 1) >= 0))) zc += 1
          i += 1
        }
        AudioFrame(m.media_id, f, math.sqrt(sumSq.toDouble / frameLen).toLong, zc)
      }
    }
  }

  def mm04AudioFrames(s: SparkSession, dir: String): DataFrame =
    audioFrames(mediaFromDocuments(s, dir)).toDF()

  final case class Scene(media_id: Long, scene_idx: Int,
      start_frame: Int, n_frames: Int, cut_mad: Long)

  /** Scene segmentation over REALLY-decoded GRVF frames: a cut opens a new
    * scene at frame t when the mean absolute pixel difference against
    * frame t−1 is ≥ `madThreshold` (integer-exact: Σ|Δ| compared against
    * threshold·w·h, no division). The canonical video-curation primitive —
    * training pipelines sample one frame PER SCENE, not per fixed stride
    * (mm02), or a long static shot floods the batch with near-identical
    * frames. Per-row imperative decode+diff in a typed flatMap: narrow,
    * shuffle-free, exactly the shape that scales to a binary-file lake —
    * each task decodes only its own rows, nothing crosses the wire but
    * the compact scene table. cut_mad = Σ|Δ| at the opening cut (0 for
    * scene 0), auditable against the threshold. */
  def sceneCuts(media: Dataset[MediaRow], madThreshold: Int = 24): Dataset[Scene] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter((m: MediaRow) => m.kind == "video").flatMap { m =>
      val (w, h, frames) = decodeVideo(m.bytes)
      val lim = madThreshold.toLong * w * h
      val starts = scala.collection.mutable.ArrayBuffer((0, 0L))
      for (t <- 1 until frames.length) {
        var sad = 0L
        val prev = frames(t - 1); val cur = frames(t)
        var i = 0
        while (i < cur.length) {
          sad += math.abs((cur(i) & 0xff) - (prev(i) & 0xff))
          i += 1
        }
        if (sad >= lim) starts += ((t, sad))
      }
      starts.toSeq.zipWithIndex.map { case ((st, mad), idx) =>
        val end = if (idx + 1 < starts.length) starts(idx + 1)._1 else frames.length
        Scene(m.media_id, idx, st, end - st, mad)
      }
    }
  }

  def mm05SceneCuts(s: SparkSession, dir: String): DataFrame =
    sceneCuts(mediaFromDocuments(s, dir)).toDF()

  /** Deterministic speech-shaped fixture: frames of the [[syntheticSamples]]
    * pseudo-noise separated by true silence (all-zero) frames, the run
    * pattern keyed off id so segment structure varies per row. The
    * all-noise [[syntheticSamples]] fixture has no inactive frames, so VAD
    * over it would be vacuous; this generator is the audio lake with
    * something to detect. */
  private[operators] def syntheticSpeech(id: Long, n: Int): Array[Short] = {
    val out = new Array[Short](n)
    var i = 0
    while (i < n) {
      // 2 voiced + 2 silent frames, phase-shifted by id
      if (((i / 256) + id) % 4 < 2) {
        val v = id * 6364136223846793005L + i * 1442695040888963407L
        out(i) = (v >>> 33).toShort
      }
      i += 1
    }
    out
  }

  final case class VadSegment(media_id: Long, seg_idx: Int,
      start_frame: Int, n_frames: Int, peak_energy: Long)

  /** Energy-threshold voice-activity segmentation over REALLY-decoded PCM —
    * the audio-curation primitive that bounds what a transcription /
    * audio-LM pipeline pays for: only voiced spans go downstream, and
    * hours of silence cost nothing but this scan. A frame is active iff
    * Σs² ≥ rmsThreshold²·frameLen (integer-exact — the threshold compare
    * needs no sqrt or division), and maximal runs of active frames become
    * segments (the islands pattern, here in-row because frames of one
    * recording are adjacent in its own byte payload — no window, no
    * shuffle). peak_energy = max frame Σs² per segment, the signal an
    * AGC/clipping audit reads. Same narrow typed-flatMap shape as
    * [[sceneCuts]]: each task decodes only its own rows, only the compact
    * segment table crosses the wire. */
  def vadSegments(media: Dataset[MediaRow], frameLen: Int = 256,
      rmsThreshold: Long = 4096): Dataset[VadSegment] = {
    val spark = media.sparkSession
    import spark.implicits._
    val lim = rmsThreshold * rmsThreshold * frameLen
    media.filter((m: MediaRow) => m.kind == "audio").flatMap { m =>
      val s = decodeAudio(m.bytes)
      val n = s.length / frameLen
      val segs = scala.collection.mutable.ArrayBuffer[VadSegment]()
      var start = -1
      var peak = 0L
      for (f <- 0 until n) {
        var sumSq = 0L
        var i = f * frameLen
        while (i < (f + 1) * frameLen) {
          sumSq += s(i).toLong * s(i)
          i += 1
        }
        if (sumSq >= lim) {
          if (start < 0) { start = f; peak = sumSq }
          else peak = math.max(peak, sumSq)
        } else if (start >= 0) {
          segs += VadSegment(m.media_id, segs.length, start, f - start, peak)
          start = -1
        }
      }
      if (start >= 0)
        segs += VadSegment(m.media_id, segs.length, start, n - start, peak)
      segs.toSeq
    }
  }

  def mm06AudioVad(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.balanced(
        Tables(s, dir, "documents").select(col("doc_id")))
      .as[Long]
      .mapPartitions(_.map { id =>
        MediaRow(id, "audio", encodeWav(syntheticSpeech(id, 3072)), 0, 0, 1)
      })
    vadSegments(media).toDF()
  }

  final case class CorruptionAudit(kind: String, n_total: Long,
      n_ok: Long, n_corrupt: Long)

  /** Decode-health audit over a (possibly dirty) media lake: attempt the
    * REAL decode for every payload and report per kind how many parse.
    * A binary lake at 100 TB always contains truncated uploads, foreign
    * formats and bit-rotted blobs; the curation contract is that they are
    * COUNTED, never job-killing (each decode failure is caught per-row —
    * the task, stage and job never see it). Same narrow flatMap-free
    * mapPartitions + keyed rollup shape as the other codec ops. */
  def corruptionAudit(media: Dataset[MediaRow]): Dataset[CorruptionAudit] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.map { m =>
      val ok = scala.util.Try {
        m.kind match {
          case "image" => decodeImage(m.bytes).nonEmpty
          case "audio" => decodeAudio(m.bytes).nonEmpty
          case _ => decodeVideo(m.bytes)._3.nonEmpty
        }
      }.getOrElse(false)
      (m.kind, if (ok) 1L else 0L)
    }.groupByKey(_._1)
      .mapGroups { (kind, rows) =>
        var total = 0L; var good = 0L
        rows.foreach { r => total += 1; good += r._2 }
        CorruptionAudit(kind, total, good, total - good)
      }
  }

  /** mm07: the audit over a deterministically-dirtied lake — payloads of
    * media_id ≡ 0 (mod 13) are truncated to 7 bytes, which defeats all
    * three container formats; the job completes and reports the damage. */
  def mm07CorruptionAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dirty = mediaFromDocuments(s, dir).map { m =>
      if (m.media_id % 13 == 0) m.copy(bytes = m.bytes.take(7)) else m
    }
    corruptionAudit(dirty).toDF()
  }

  final case class VideoFrameHash(media_id: Long, frame_idx: Int, fhash: Long)

  // Odd 64-bit mixing constants (golden-gamma and a second well-known
  // odd prime); odd ⇒ multiplication by them is a bijection mod 2^64,
  // so distinct positions get distinct weights.
  private val HashK1 = 0x9e3779b97f4a7c15L // unsigned 11400714819323198485
  private val HashK2 = 0xc2b2ae3d27d4eb4fL // unsigned 14029467366897019727

  /** 64-bit content hash of one decoded grayscale frame: the wrapping
    * sum of per-pixel SQUARED mixes, Σᵢ xᵢ² mod 2^64 where
    * xᵢ = (bᵢ+1)·(i+1)·K1 mod 2^64. EXACT frame identity, not a
    * perceptual hash: identical pixels collide however they were
    * containered, any single-pixel change separates — the delta is
    * x'²−x² = (x'−x)(x'+x) mod 2^64, and the 2-adic valuations bound
    * v(x'−x) ≤ v(d)+v(i+1) ≤ 8+21 and v(x'+x) ≤ v(b+b'+2)+v(i+1)
    * ≤ 9+21 (K1 odd contributes 0), so v(delta) ≤ 59 < 64 — the delta
    * can never be a multiple of 2^64. The SQUARE is the round-8 advice
    * fix: the previous purely linear form Σ(bᵢ+1)·(i+1)·K1 had a
    * small-support collision class (any edit with Σdᵢ·(i+1)=0 over the
    * integers, e.g. +2 at index 2 / −3 at index 1), and ANY linear
    * combination of linear functionals keeps such an integer kernel;
    * squaring makes each term nonlinear in bᵢ, so no structured
    * cancellation family exists — only generic birthday collisions, as
    * for any 64-bit key. (A block-mean aHash — mm03's image key — is
    * the wrong key at frame granularity here: brightness-shift
    * invariance folds this corpus's phase-shifted gradient frames into
    * one bucket.) Terms stay COMMUTATIVE and mod-2^64, so the DuckDB
    * oracle recomputes them relationally from the GRVF fixture formula
    * in HUGEINT: x via the bounded product (≤ 2^93), x² mod 2^64 via
    * the 32-bit split (xl² + 2^33·xh·xl, ≤ 2^97 — inside HUGEINT),
    * SUM, reduce % 2^64, sign-fold. */
  private[operators] def frameContentHash(plane: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < plane.length) {
      val x = ((plane(i) & 0xff) + 1L) * ((i + 1L) * HashK1)
      h += x * x // Long multiply IS mod-2^64, matching the oracle's split
      i += 1
    }
    h
  }

  /** Order-sensitive video signature over the per-frame hashes:
    * Σ_f lo32(fhash_f)·((2f+1)·K2) + hi32(fhash_f)·((2f+2)·K2), all
    * wrapping mod 2^64. Splitting each 64-bit frame hash into 32-bit
    * halves keeps every product < 2^96, so the DuckDB oracle's HUGEINT
    * (128-bit) SUM is exact before the final % 2^64. Position weights
    * make the signature sequence-sensitive (a reordered cut separates);
    * term-commutativity keeps it computable as an unordered SUM. This
    * level IS linear — in the FRAME HASHES, not the pixels: a collision
    * needs a frame-hash delta vector orthogonal to the position weights
    * mod 2^64, and frame hashes are effectively uniform 64-bit outputs
    * of the nonlinear [[frameContentHash]] (an adversary cannot steer
    * them to structured deltas without already colliding that layer),
    * so the linear-kernel construction that indicted the old frame
    * hash does not lift to this one — documented, accepted. */
  private[operators] def videoSignature(hashes: Iterator[(Int, Long)]): Long = {
    var s = 0L
    while (hashes.hasNext) {
      val (f, fh) = hashes.next()
      val lo = fh & 0xffffffffL
      val hi = fh >>> 32
      s += lo * ((2L * f + 1L) * HashK2) + hi * ((2L * f + 2L) * HashK2)
    }
    s
  }

  /** (media_id, frame_idx, fhash) for every frame of every video — the
    * same narrow codec flatMap shape as [[sampleFrames]]. */
  def videoFrameHashes(media: Dataset[MediaRow]): Dataset[VideoFrameHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter((m: MediaRow) => m.kind == "video").flatMap { m =>
      val (w, h, frames) = decodeVideo(m.bytes)
      frames.zipWithIndex.map { case (f, i) =>
        VideoFrameHash(m.media_id, i, frameContentHash(f))
      }
    }
  }

  /** mm08: VIDEO dedup — mm03's loop closed for the third modality, at
    * dd19's granularity: REAL GRVF decode → per-frame 64-bit content
    * hash → an ORDER-SENSITIVE video signature (position-weighted
    * wrapping sum over the frame-hash sequence; a copy collides
    * whatever container carried it, a reordered or edited cut does
    * not) → dd01-style exact dedup on the signature (one hash shuffle,
    * map-side partials). The frame-hash table is also the substrate
    * for shared-footage pair search (a dd22-style positional join),
    * left to the caller. Oracle-checked since round 7: the DuckDB
    * oracle recomputes both hash levels relationally from the GRVF
    * fixture formula (HUGEINT mod-2^64) — a codec regression shifts a
    * plane byte and the hash gate goes red. StintSixteenSpec plants a
    * duplicate and a one-frame edit and checks the flags. */
  def mm08VideoNeardup(s: SparkSession, dir: String): DataFrame =
    videoSignatureDedup(videoFrameHashes(mediaFromDocuments(s, dir)).toDF())

  private[operators] def videoSignatureDedup(fh: DataFrame): DataFrame = {
    val spark = fh.sparkSession
    import spark.implicits._
    // The signature fold wraps mod 2^64 — JVM Long arithmetic, which
    // ANSI-mode Spark SQL would reject as overflow; the terms commute,
    // so group iteration order is irrelevant. One row per video out.
    val sig = fh.select(col("media_id").cast("long"),
        col("frame_idx").cast("int"), col("fhash").cast("long"))
      .as[(Long, Int, Long)]
      .groupByKey(_._1)
      .mapGroups { (id, rows) =>
        var n = 0L
        val sig = videoSignature(rows.map { r => n += 1; (r._2, r._3) })
        (id, n, sig)
      }
      .toDF("media_id", "n_frames", "sig")
      .transform(pin)
    val groups = sig.groupBy(col("sig"))
      .agg(min(col("media_id")).as("keep_id"), count(lit(1)).as("n_videos"))
    sig.join(groups, Seq("sig"))
      .select(col("media_id"), col("n_frames"), col("sig"), col("keep_id"),
        col("n_videos"), (col("media_id") =!= col("keep_id")).as("is_dup"))
  }

  // ---------------------------------------------------------------------
  // mm09: TRANSCRIPT-TO-AUDIO forced alignment, uniform-rate baseline —
  // the subtitle-timing heuristic (each token occupies audio frames in
  // proportion to its character share) that a speech-data pipeline runs
  // before any learned aligner exists: token i of a doc covers frames
  // [cb·F div T, ce·F div T) where cb/ce are the cumulative characters
  // before/through the token, T the doc's total token characters, F the
  // clip's frame count. Spans tile [0, F) exactly — no frame unassigned,
  // none doubly owned (integer division is monotone in ce).
  //
  // F comes from the REAL WAV decode (AudioSystem → PCM sample count
  // div 256), while the DuckDB oracle derives it from the fixture
  // arithmetic (2048 + id % 1024 samples) — making this the first
  // mm-query whose oracle hash CROSS-CHECKS the binary decode path: a
  // corrupted container or a lossy decode shifts F and the gate goes
  // red. Alignment itself is the usual one-exchange token window + a
  // doc-keyed join against the frame-count table.
  // ---------------------------------------------------------------------
  def mm09TranscriptAlign(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val frames = mediaFromDocuments(s, dir)
      .filter((m: MediaRow) => m.kind == "audio")
      .map(m => (m.media_id, (decodeAudio(m.bytes).length / 256).toLong))
      .toDF("doc_id", "n_frames")
    val toks = Tables(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(expr("filter(split(text, ' '), x -> x != '')")).as(Seq("idx", "token")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("doc_id"))
    toks
      .withColumn("ce", sum(length(col("token")).cast("long")).over(w))
      .withColumn("total", sum(length(col("token")).cast("long")).over(wAll))
      .filter(col("total") > 0)
      .join(frames, Seq("doc_id"))
      .select(col("doc_id"), col("idx"), col("token"),
        expr("((ce - length(token)) * n_frames) div total").as("start_frame"),
        expr("(ce * n_frames) div total").as("end_frame"))
  }

  val mm09Oracle: String =
    """WITH au AS (
      | SELECT doc_id, CAST((2048 + doc_id % 1024) // 256 AS BIGINT) AS n_frames
      | FROM documents WHERE ((doc_id % 3) + 3) % 3 = 1),
      |tk AS (
      | SELECT doc_id, CAST(generate_subscripts(l, 1) - 1 AS INTEGER) AS idx,
      |  unnest(l) AS token
      | FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS l
      |  FROM documents) f),
      |cw AS (
      | SELECT doc_id, idx, token,
      |  CAST(SUM(length(token)) OVER (PARTITION BY doc_id ORDER BY idx) AS BIGINT) AS ce,
      |  CAST(SUM(length(token)) OVER (PARTITION BY doc_id) AS BIGINT) AS total,
      |  CAST(length(token) AS BIGINT) AS ln
      | FROM tk)
      |SELECT c.doc_id, c.idx, c.token,
      | ((c.ce - c.ln) * a.n_frames) // c.total AS start_frame,
      | (c.ce * a.n_frames) // c.total AS end_frame
      |FROM cw c JOIN au a USING (doc_id)
      |WHERE c.total > 0""".stripMargin

  final case class ResizedImage(media_id: Long, w: Int, h: Int,
      out_w: Int, out_h: Int, sum_luma_in: Long, sum_luma_out: Long,
      out_hash: Long)

  /** REAL 2× box-filter downsample of the decoded luma plane — the
    * RESIZE verb of the multimodal pipeline (thumbnailing before feature
    * extraction): each output pixel is the truncating mean of its 2×2
    * source block (odd edges carry 1-wide/1-tall blocks, the standard
    * box-filter edge rule). Integer arithmetic end to end, so the output
    * plane is bit-deterministic and golden-hashable; the luma MASS is
    * conserved up to per-block truncation (< 1 unit per output pixel —
    * the spec pins both bounds). Narrow flatMap over decoded rows, the
    * same shuffle-free shape as every decode stage here. */
  def resizeImages(media: Dataset[MediaRow]): Dataset[ResizedImage] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter((m: MediaRow) => m.kind == "image").map { m =>
      val luma = decodeImage(m.bytes)
      val (w, h) = (m.width, m.height)
      val (ow, oh) = ((w + 1) / 2, (h + 1) / 2)
      val out = new Array[Byte](ow * oh)
      var sumIn = 0L
      var i = 0
      while (i < luma.length) { sumIn += luma(i) & 0xff; i += 1 }
      var oy = 0
      var sumOut = 0L
      while (oy < oh) {
        var ox = 0
        while (ox < ow) {
          var acc = 0L
          var cnt = 0
          var dy = 0
          while (dy < 2 && oy * 2 + dy < h) {
            var dx = 0
            while (dx < 2 && ox * 2 + dx < w) {
              acc += luma((oy * 2 + dy) * w + (ox * 2 + dx)) & 0xff
              cnt += 1
              dx += 1
            }
            dy += 1
          }
          val v = (acc / cnt).toInt
          out(oy * ow + ox) = v.toByte
          sumOut += v
          ox += 1
        }
        oy += 1
      }
      // FNV-1a over the output plane: the golden fingerprint
      var hash = 0xcbf29ce484222325L
      var j = 0
      while (j < out.length) {
        hash ^= out(j) & 0xffL
        hash *= 0x100000001b3L
        j += 1
      }
      ResizedImage(m.media_id, w, h, ow, oh, sumIn, sumOut, hash)
    }
  }

  def mm10ImageResize(s: SparkSession, dir: String): DataFrame =
    // out_hash (the FNV golden fingerprint) stays in the Dataset for the
    // spec's golden check but is projected OUT of the driver query: the
    // oracle recomputes the integer mass sums from the fixture arithmetic
    // (mm09's cross-check pattern), and an ordered polynomial hash is not
    // cleanly SQL-expressible.
    resizeImages(mediaFromDocuments(s, dir)).toDF()
      .select(col("media_id"), col("w"), col("h"), col("out_w"), col("out_h"),
        col("sum_luma_in"), col("sum_luma_out"))

  final case class ResampledAudio(media_id: Long, n_in: Int, n_out: Int,
      rms_in: Long, rms_out: Long, out_hash: Long)

  /** REAL 2× audio decimation — the sample-rate-conversion verb (8 kHz →
    * 4 kHz before feature extraction): each output sample is the
    * truncating mean of a consecutive input pair (the box anti-alias
    * filter; an odd tail sample passes through). Integer end to end —
    * bit-deterministic, golden-hashable; the decimated RMS tracks the
    * input RMS (averaging only removes energy, never adds — the spec
    * pins rms_out ≤ rms_in + 1 for these fixtures' near-white noise).
    * Same narrow decode-map shape as every codec stage. */
  def resampleAudio(media: Dataset[MediaRow]): Dataset[ResampledAudio] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter((m: MediaRow) => m.kind == "audio").map { m =>
      val s = decodeAudio(m.bytes)
      val nOut = (s.length + 1) / 2
      val out = new Array[Short](nOut)
      var i = 0
      while (i < nOut) {
        val a = s(2 * i).toInt
        val b = if (2 * i + 1 < s.length) s(2 * i + 1).toInt else a
        out(i) = ((a + b) / 2).toShort
        i += 1
      }
      def rms(x: Array[Short]): Long = {
        var acc = 0L
        var j = 0
        while (j < x.length) { acc += x(j).toLong * x(j); j += 1 }
        if (x.length == 0) 0L else math.sqrt(acc.toDouble / x.length).toLong
      }
      var hash = 0xcbf29ce484222325L
      var j = 0
      while (j < out.length) {
        hash ^= out(j) & 0xffffL
        hash *= 0x100000001b3L
        j += 1
      }
      ResampledAudio(m.media_id, s.length, nOut, rms(s), rms(out), hash)
    }
  }

  def mm11AudioDecimate(s: SparkSession, dir: String): DataFrame =
    // same projection discipline as mm10: energies are oracle-checked
    // from fixture arithmetic, the ordered FNV hash stays spec-only
    resampleAudio(mediaFromDocuments(s, dir)).toDF()
      .select(col("media_id"), col("n_in"), col("n_out"),
        col("rms_in"), col("rms_out"))

  final case class Thumbnail(media_id: Long, scene_idx: Int,
      frame_idx: Int, sharpness: Long)

  /** REPRESENTATIVE-FRAME selection — one thumbnail per mm05 scene, the
    * frame a video-curation pipeline keeps for captioning/embedding:
    * the SHARPEST frame of the scene (max Σ|horizontal gradient| over
    * the decoded luma plane — blur flattens gradients; the classic
    * cheap focus measure), ties to the earliest frame. Same cut
    * detection as [[sceneCuts]] (shared decode, one pass), same narrow
    * flatMap shape — the per-video argmax never leaves the task. */
  def sceneThumbnails(media: Dataset[MediaRow], madThreshold: Int = 24): Dataset[Thumbnail] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter((m: MediaRow) => m.kind == "video").flatMap { m =>
      val (w, h, frames) = decodeVideo(m.bytes)
      val lim = madThreshold.toLong * w * h
      val starts = scala.collection.mutable.ArrayBuffer(0)
      for (t <- 1 until frames.length) {
        var sad = 0L
        val prev = frames(t - 1); val cur = frames(t)
        var i = 0
        while (i < cur.length) {
          sad += math.abs((cur(i) & 0xff) - (prev(i) & 0xff))
          i += 1
        }
        if (sad >= lim) starts += t
      }
      def sharpness(f: Array[Byte]): Long = {
        var acc = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w - 1) {
            acc += math.abs((f(y * w + x + 1) & 0xff) - (f(y * w + x) & 0xff))
            x += 1
          }
          y += 1
        }
        acc
      }
      starts.toSeq.zipWithIndex.map { case (st, idx) =>
        val end = if (idx + 1 < starts.length) starts(idx + 1) else frames.length
        var best = st
        var bestS = -1L
        var t = st
        while (t < end) {
          val s0 = sharpness(frames(t))
          if (s0 > bestS) { bestS = s0; best = t }
          t += 1
        }
        Thumbnail(m.media_id, idx, best, bestS)
      }
    }
  }

  def mm12SceneThumbnails(s: SparkSession, dir: String): DataFrame =
    sceneThumbnails(mediaFromDocuments(s, dir)).toDF()

  // ---------------------------------------------------------------------
  // Fixture-arithmetic oracles (mm09's pattern, extended round 6): the
  // engine computes from REALLY-DECODED bytes; the oracle recomputes the
  // same integers relationally from the fixture GENERATION parameters.
  // A corrupted container, a lossy decode, or a codec regression shifts
  // the decoded plane and the hash gate goes red — the oracle is an
  // independent recomputation that never touches the binary path.
  //
  // Exactness notes (why these hash-match bit-for-bit):
  //  - image pixels: v = id·1315423911 + x·2654435761 + y·97531 never
  //    exceeds 2^63 at any plausible doc_id, so plain BIGINT matches
  //    Java's arithmetic; luma is pure integer math.
  //  - audio samples / video planes: the fixture mixes via WRAPPING
  //    64-bit multiplies, so the oracle computes them in HUGEINT and
  //    reduces mod 2^64 — exact, no wrap ambiguity.
  //  - mm03's aHash crosses float land, but stays exact: each block mean
  //    is a float32 of ≤2^12 magnitude and ≥2^-36 granularity, so every
  //    double partial sum of 16 of them needs ≤52 mantissa bits — the
  //    sum is EXACT and therefore order-independent, and the f > avg
  //    comparison is deterministic in both engines.
  //  - truncating integer division: Java `/` truncates toward zero,
  //    DuckDB `//` floors — they agree on the non-negative operands used
  //    here; the one signed case (audio pair mean) uses trunc((a+b)/2.0).
  // ---------------------------------------------------------------------

  /** Image fixture re-derived relationally: doc → (w, h) → one row per
    * pixel with its integer Rec.601 luma. MATERIALIZED: referenced twice
    * downstream, and DuckDB inlines plain CTEs per reference. */
  private val imgLumaSql: String =
    """img AS (
      | SELECT doc_id, CAST(doc_id % 64 + 16 AS BIGINT) AS w,
      |        CAST(doc_id % 48 + 16 AS BIGINT) AS h
      | FROM documents WHERE ((doc_id % 3) + 3) % 3 = 0),
      |lum AS MATERIALIZED (
      | SELECT doc_id, w, h, i, i % w AS x, i // w AS y,
      |  (((p // 65536)) * 299 + ((p // 256) % 256) * 587 + (p % 256) * 114) // 1000 AS luma
      | FROM (
      |  SELECT doc_id, w, h, i,
      |   ((doc_id * 1315423911 + (i % w) * 2654435761 + (i // w) * 97531)
      |     // 65536) % 16777216 AS p
      |  FROM (SELECT doc_id, w, h, unnest(range(0, w * h)) AS i FROM img) t0) t1)""".stripMargin

  /** mm03 oracle: block-mean features → aHash → exact hash-group dedup,
    * all recomputed from the pixel formula (block = (w·h)//16; pixels
    * beyond 16 full blocks are excluded, matching extractFeatures). */
  val mm03Oracle: String =
    s"""WITH $imgLumaSql,
       |blk AS (
       | SELECT doc_id, i // ((w * h) // 16) AS b,
       |  CAST(SUM(luma) AS BIGINT) AS ssum, COUNT(*) AS cnt
       | FROM lum WHERE i < ((w * h) // 16) * 16
       | GROUP BY doc_id, i // ((w * h) // 16)),
       |bm AS (
       | SELECT doc_id, b,
       |  CAST(CAST(ssum AS REAL) / CAST(cnt AS REAL) AS DOUBLE) AS f
       | FROM blk),
       |av AS (SELECT doc_id, SUM(f) / 16 AS avg_f FROM bm GROUP BY doc_id),
       |ph AS (
       | SELECT b.doc_id AS media_id,
       |  CAST(SUM(CASE WHEN b.f > a.avg_f
       |    THEN (CAST(1 AS BIGINT) << CAST(b.b AS INTEGER))
       |    ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS phash
       | FROM bm b JOIN av a USING (doc_id) GROUP BY b.doc_id),
       |gr AS (
       | SELECT phash, MIN(media_id) AS keep_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_images
       | FROM ph GROUP BY phash)
       |SELECT p.media_id, p.phash, g.keep_id, g.n_images,
       | p.media_id != g.keep_id AS is_dup
       |FROM ph p JOIN gr g USING (phash)""".stripMargin

  /** Shared video fragment: per-frame SAD against frame t−1 from the
    * GRVF fixture formula (HUGEINT mod-2^64 — the fixture multiply
    * wraps), then the cut-threshold scene assembly via a window. Used by
    * mm05 (scenes) and mm12 (per-scene sharpest frame). */
  private val vidSceneSql: String =
    """vid AS (
      | SELECT doc_id, CAST(doc_id % 64 + 16 AS BIGINT) AS w,
      |        CAST(doc_id % 48 + 16 AS BIGINT) AS h,
      |        CAST(doc_id % 12 + 4 AS BIGINT) AS nf
      | FROM documents WHERE ((doc_id % 3) + 3) % 3 = 2),
      |sad AS MATERIALIZED (
      | SELECT doc_id, f, CAST(SUM(ABS(b_cur - b_prev)) AS BIGINT) AS sad
      | FROM (
      |  SELECT doc_id, f, i,
      |   CAST(((CAST(doc_id AS HUGEINT) * 1315423911
      |      + CAST(f AS HUGEINT) * 2654435761
      |      + CAST(i AS HUGEINT) * 1442695040888963407)
      |      % 18446744073709551616) // 1099511627776 % 256 AS BIGINT) AS b_cur,
      |   CAST(((CAST(doc_id AS HUGEINT) * 1315423911
      |      + CAST(f - 1 AS HUGEINT) * 2654435761
      |      + CAST(i AS HUGEINT) * 1442695040888963407)
      |      % 18446744073709551616) // 1099511627776 % 256 AS BIGINT) AS b_prev
      |  FROM (
      |   SELECT doc_id, f, unnest(range(0, w * h)) AS i
      |   FROM (SELECT doc_id, w, h, unnest(range(1, nf)) AS f FROM vid) a) b) c
      | GROUP BY doc_id, f),
      |cuts AS (
      | SELECT s.doc_id, s.f AS start_frame, s.sad AS cut_mad
      | FROM sad s JOIN vid v USING (doc_id) WHERE s.sad >= 24 * v.w * v.h),
      |sc0 AS (
      | SELECT doc_id, CAST(0 AS BIGINT) AS start_frame,
      |  CAST(0 AS BIGINT) AS cut_mad FROM vid
      | UNION ALL SELECT doc_id, start_frame, cut_mad FROM cuts),
      |sc AS (
      | SELECT doc_id, start_frame, cut_mad,
      |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY start_frame) - 1 AS scene_idx,
      |  LEAD(start_frame) OVER (PARTITION BY doc_id ORDER BY start_frame) AS nxt
      | FROM sc0)""".stripMargin

  val mm05Oracle: String =
    s"""WITH $vidSceneSql
       |SELECT s.doc_id AS media_id, CAST(s.scene_idx AS INTEGER) AS scene_idx,
       | CAST(s.start_frame AS INTEGER) AS start_frame,
       | CAST(COALESCE(s.nxt, v.nf) - s.start_frame AS INTEGER) AS n_frames,
       | s.cut_mad
       |FROM sc s JOIN vid v USING (doc_id)""".stripMargin

  /** mm12 oracle: the vidSceneSql scenes plus a per-frame sharpness pass
    * (Σ|horizontal gradient|, both pixel bytes recomputed from the
    * fixture formula), then argmax per scene with ties to the earliest
    * frame — exactly sceneThumbnails' selection rule. */
  val mm12Oracle: String =
    s"""WITH $vidSceneSql,
       |sharp AS MATERIALIZED (
       | SELECT doc_id, f, CAST(SUM(ABS(b2 - b1)) AS BIGINT) AS sharp
       | FROM (
       |  SELECT doc_id, f, i,
       |   CAST(((CAST(doc_id AS HUGEINT) * 1315423911
       |      + CAST(f AS HUGEINT) * 2654435761
       |      + CAST(i AS HUGEINT) * 1442695040888963407)
       |      % 18446744073709551616) // 1099511627776 % 256 AS BIGINT) AS b1,
       |   CAST(((CAST(doc_id AS HUGEINT) * 1315423911
       |      + CAST(f AS HUGEINT) * 2654435761
       |      + CAST(i + 1 AS HUGEINT) * 1442695040888963407)
       |      % 18446744073709551616) // 1099511627776 % 256 AS BIGINT) AS b2
       |  FROM (
       |   SELECT doc_id, w, f, unnest(range(0, w * h)) AS i
       |   FROM (SELECT doc_id, w, h, unnest(range(0, nf)) AS f FROM vid) a) b
       |  WHERE i % w != w - 1) c
       | GROUP BY doc_id, f),
       |asg AS (
       | SELECT sh.doc_id, s.scene_idx, sh.f, sh.sharp,
       |  ROW_NUMBER() OVER (PARTITION BY sh.doc_id, s.scene_idx
       |    ORDER BY sh.sharp DESC, sh.f ASC) AS rk
       | FROM sharp sh
       | JOIN vid v USING (doc_id)
       | JOIN sc s ON s.doc_id = sh.doc_id
       |  AND sh.f >= s.start_frame AND sh.f < COALESCE(s.nxt, v.nf))
       |SELECT doc_id AS media_id, CAST(scene_idx AS INTEGER) AS scene_idx,
       | CAST(f AS INTEGER) AS frame_idx, sharp AS sharpness
       |FROM asg WHERE rk = 1""".stripMargin

  /** mm10 oracle: input luma mass + truncating 2×2 box-filter mass from
    * the pixel formula (blocks keyed by (x//2, y//2) carry the odd-edge
    * rule structurally). */
  val mm10Oracle: String =
    s"""WITH $imgLumaSql,
       |blocks AS (
       | SELECT doc_id, x // 2 AS bx, y // 2 AS by,
       |  CAST(SUM(luma) AS BIGINT) AS acc, COUNT(*) AS cnt
       | FROM lum GROUP BY doc_id, x // 2, y // 2)
       |SELECT i.doc_id AS media_id, CAST(i.w AS INTEGER) AS w,
       | CAST(i.h AS INTEGER) AS h,
       | CAST((i.w + 1) // 2 AS INTEGER) AS out_w,
       | CAST((i.h + 1) // 2 AS INTEGER) AS out_h,
       | si.sum_luma_in, so.sum_luma_out
       |FROM img i
       |JOIN (SELECT doc_id, CAST(SUM(luma) AS BIGINT) AS sum_luma_in
       |  FROM lum GROUP BY doc_id) si USING (doc_id)
       |JOIN (SELECT doc_id, CAST(SUM(acc // cnt) AS BIGINT) AS sum_luma_out
       |  FROM blocks GROUP BY doc_id) so USING (doc_id)""".stripMargin

  /** mm11 oracle: PCM samples from the fixture recurrence (HUGEINT
    * mod-2^64, sign-folded 16-bit), pair-mean decimation, floor-sqrt RMS
    * — the double division and sqrt are the same IEEE ops both sides. */
  val mm11Oracle: String =
    """WITH au AS (
      | SELECT doc_id, CAST(2048 + doc_id % 1024 AS BIGINT) AS n
      | FROM documents WHERE ((doc_id % 3) + 3) % 3 = 1),
      |sa AS MATERIALIZED (
      | SELECT doc_id, n, i,
      |  CAST(CASE WHEN lo >= 32768 THEN lo - 65536 ELSE lo END AS BIGINT) AS s
      | FROM (
      |  SELECT doc_id, n, i,
      |   CAST(((CAST(doc_id AS HUGEINT) * 6364136223846793005
      |      + CAST(i AS HUGEINT) * 1442695040888963407)
      |      % 18446744073709551616) // 8589934592 % 65536 AS BIGINT) AS lo
      |  FROM (SELECT doc_id, n, unnest(range(0, n)) AS i FROM au) t0) t1),
      |os AS (
      | SELECT doc_id, i2,
      |  CAST(trunc((a + COALESCE(b, a)) / 2.0) AS BIGINT) AS so
      | FROM (
      |  SELECT doc_id, i // 2 AS i2,
      |   MAX(CASE WHEN i % 2 = 0 THEN s END) AS a,
      |   MAX(CASE WHEN i % 2 = 1 THEN s END) AS b
      |  FROM sa GROUP BY doc_id, i // 2) p),
      |ri AS (
      | SELECT doc_id,
      |  CAST(floor(sqrt(CAST(CAST(SUM(s * s) AS BIGINT) AS DOUBLE) / n)) AS BIGINT) AS rms_in
      | FROM sa GROUP BY doc_id, n),
      |ro AS (
      | SELECT doc_id,
      |  CAST(floor(sqrt(CAST(CAST(SUM(so * so) AS BIGINT) AS DOUBLE) / COUNT(*))) AS BIGINT) AS rms_out
      | FROM os GROUP BY doc_id)
      |SELECT a.doc_id AS media_id, CAST(a.n AS INTEGER) AS n_in,
      | CAST((a.n + 1) // 2 AS INTEGER) AS n_out, ri.rms_in, ro.rms_out
      |FROM au a JOIN ri USING (doc_id) JOIN ro USING (doc_id)""".stripMargin

  /** mm01 oracle: the 16 block-mean features recomputed from all THREE
    * fixture formulas — image luma, audio high-byte fold, video frames
    * concatenated in time order — then the exact double feature sum.
    * This is the widest decode cross-check in the family: one hash
    * covers PNG, WAV and GRVF decode simultaneously. */
  val mm01Oracle: String =
    """WITH docs3 AS (
      | SELECT doc_id, ((doc_id % 3) + 3) % 3 AS k,
      |  CAST(doc_id % 64 + 16 AS BIGINT) AS w,
      |  CAST(doc_id % 48 + 16 AS BIGINT) AS h,
      |  CAST(2048 + doc_id % 1024 AS BIGINT) AS n,
      |  CAST(doc_id % 12 + 4 AS BIGINT) AS nf
      | FROM documents),
      |ib AS (
      | SELECT doc_id, i AS j,
      |  ((p // 65536) * 299 + ((p // 256) % 256) * 587 + (p % 256) * 114) // 1000 AS v,
      |  w * h AS len
      | FROM (
      |  SELECT doc_id, w, h, i,
      |   ((doc_id * 1315423911 + (i % w) * 2654435761 + (i // w) * 97531)
      |     // 65536) % 16777216 AS p
      |  FROM (SELECT doc_id, w, h, unnest(range(0, w * h)) AS i
      |        FROM docs3 WHERE k = 0) t0) t1),
      |ab AS (
      | -- byte = (s >> 8) + 128: the arithmetic shift FLOORS while
      | -- DuckDB's // truncates toward zero, so shift the domain
      | -- non-negative first — (s + 32768) // 256 is the same value
      | SELECT doc_id, i AS j, (s + 32768) // 256 AS v, n AS len
      | FROM (
      |  SELECT doc_id, n, i,
      |   CAST(CASE WHEN lo >= 32768 THEN lo - 65536 ELSE lo END AS BIGINT) AS s
      |  FROM (
      |   SELECT doc_id, n, i,
      |    CAST(((CAST(doc_id AS HUGEINT) * 6364136223846793005
      |       + CAST(i AS HUGEINT) * 1442695040888963407)
      |       % 18446744073709551616) // 8589934592 % 65536 AS BIGINT) AS lo
      |   FROM (SELECT doc_id, n, unnest(range(0, n)) AS i
      |         FROM docs3 WHERE k = 1) a0) a1) a2),
      |vv AS (
      | SELECT doc_id, j,
      |  CAST(((CAST(doc_id AS HUGEINT) * 1315423911
      |     + CAST(j // (w * h) AS HUGEINT) * 2654435761
      |     + CAST(j % (w * h) AS HUGEINT) * 1442695040888963407)
      |     % 18446744073709551616) // 1099511627776 % 256 AS BIGINT) AS v,
      |  nf * w * h AS len
      | FROM (SELECT doc_id, w, h, nf, unnest(range(0, nf * w * h)) AS j
      |       FROM docs3 WHERE k = 2) t),
      |pl AS (
      | SELECT doc_id, j, v, len FROM ib
      | UNION ALL SELECT doc_id, j, v, len FROM ab
      | UNION ALL SELECT doc_id, j, v, len FROM vv),
      |bm AS (
      | SELECT doc_id, j // (len // 16) AS b,
      |  CAST(CAST(CAST(SUM(v) AS BIGINT) AS REAL) / CAST(COUNT(*) AS REAL) AS DOUBLE) AS f
      | FROM pl WHERE j < (len // 16) * 16
      | GROUP BY doc_id, j // (len // 16)),
      |fs AS (SELECT doc_id, SUM(f) AS feature_sum FROM bm GROUP BY doc_id)
      |SELECT d.doc_id AS media_id,
      | CASE d.k WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      | CAST(16 AS INTEGER) AS dim, fs.feature_sum
      |FROM docs3 d JOIN fs USING (doc_id)""".stripMargin

  /** mm02 oracle: every 4th container frame of each video — pure header
    * arithmetic (nf = id%12+4 < 32 = maxFrames·stride, so the cap never
    * binds on these fixtures). */
  val mm02Oracle: String =
    """SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx
      |FROM (
      | SELECT doc_id, unnest(range(0, doc_id % 12 + 4, 4)) AS f
      | FROM documents WHERE ((doc_id % 3) + 3) % 3 = 2) t""".stripMargin

  /** mm04 oracle: per-frame RMS (floor-sqrt of the exact integer ΣS²,
    * same IEEE double division both sides) and zero crossings (previous
    * sample recomputed from the formula instead of a LAG window — the
    * frames are 256-aligned so i−1 never crosses a frame). n ≥ 2048 on
    * every fixture, so maxFrames = 8 always binds at exactly 8 frames. */
  val mm04Oracle: String =
    """WITH af AS MATERIALIZED (
      | SELECT doc_id, i,
      |  CAST(CASE WHEN lo >= 32768 THEN lo - 65536 ELSE lo END AS BIGINT) AS s,
      |  CASE WHEN i % 256 = 0 THEN NULL
      |   ELSE CAST(CASE WHEN lp >= 32768 THEN lp - 65536 ELSE lp END AS BIGINT) END AS sp
      | FROM (
      |  SELECT doc_id, i,
      |   CAST(((CAST(doc_id AS HUGEINT) * 6364136223846793005
      |      + CAST(i AS HUGEINT) * 1442695040888963407)
      |      % 18446744073709551616) // 8589934592 % 65536 AS BIGINT) AS lo,
      |   CAST(((CAST(doc_id AS HUGEINT) * 6364136223846793005
      |      + CAST(i - 1 AS HUGEINT) * 1442695040888963407)
      |      % 18446744073709551616) // 8589934592 % 65536 AS BIGINT) AS lp
      |  FROM (SELECT doc_id, unnest(range(0, 2048)) AS i
      |        FROM documents WHERE ((doc_id % 3) + 3) % 3 = 1) t0) t1)
      |SELECT doc_id AS media_id, CAST(i // 256 AS INTEGER) AS frame_idx,
      | CAST(floor(sqrt(CAST(CAST(SUM(s * s) AS BIGINT) AS DOUBLE) / 256)) AS BIGINT) AS rms,
      | CAST(SUM(CASE WHEN sp IS NOT NULL AND ((s >= 0) != (sp >= 0))
      |   THEN 1 ELSE 0 END) AS INTEGER) AS zero_crossings
      |FROM af GROUP BY doc_id, i // 256""".stripMargin

  /** mm06 oracle: the speech fixture's voiced frames recomputed (silent
    * frames contribute ΣS² = 0 structurally), the VAD threshold applied
    * to the COMPUTED energy (not the fixture phase — the oracle must
    * make the same decision the engine makes), then gaps-and-islands
    * segment assembly. 3072 samples → 12 frames for every doc. */
  val mm06Oracle: String =
    """WITH sp AS MATERIALIZED (
      | SELECT doc_id, i // 256 AS f, CAST(SUM(s * s) AS BIGINT) AS ssq
      | FROM (
      |  SELECT doc_id, i,
      |   CAST(CASE WHEN lo >= 32768 THEN lo - 65536 ELSE lo END AS BIGINT) AS s
      |  FROM (
      |   SELECT doc_id, i,
      |    CAST(((CAST(doc_id AS HUGEINT) * 6364136223846793005
      |       + CAST(i AS HUGEINT) * 1442695040888963407)
      |       % 18446744073709551616) // 8589934592 % 65536 AS BIGINT) AS lo
      |   FROM (SELECT doc_id, unnest(range(0, 3072)) AS i FROM documents) t0
      |   WHERE ((i // 256) + doc_id) % 4 < 2) t1) t2
      | GROUP BY doc_id, i // 256),
      |fr AS (
      | SELECT d.doc_id, fx.f, COALESCE(sp.ssq, 0) AS ssq
      | FROM documents d
      | CROSS JOIN (SELECT unnest(range(0, 12)) AS f) fx
      | LEFT JOIN sp ON sp.doc_id = d.doc_id AND sp.f = fx.f),
      |act AS (
      | SELECT doc_id, f, ssq,
      |  f - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY f) AS grp
      | FROM fr WHERE ssq >= 4294967296),
      |seg AS (
      | SELECT doc_id, MIN(f) AS start_frame, COUNT(*) AS n_frames,
      |  MAX(ssq) AS peak_energy
      | FROM act GROUP BY doc_id, grp)
      |SELECT doc_id AS media_id,
      | CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY start_frame) - 1
      |   AS INTEGER) AS seg_idx,
      | CAST(start_frame AS INTEGER) AS start_frame,
      | CAST(n_frames AS INTEGER) AS n_frames, peak_energy
      |FROM seg""".stripMargin

  /** mm08 oracle: both hash levels recomputed relationally from the
    * GRVF fixture formula, never touching the binary path. Per-pixel
    * byte b = ((id·1315423911 + f·2654435761 + i·1442695040888963407)
    * mod 2^64) >>> 40 & 0xff (HUGEINT, reduce % 2^64); per-pixel mix
    * x = (b+1)·(i+1)·K1 mod 2^64 (product ≤ 2^93 — exact in HUGEINT),
    * squared via the 32-bit split x² mod 2^64 = (xl² + 2^33·xh·xl)
    * mod 2^64 (terms ≤ 2^97 — inside HUGEINT), frame hash = Σᵢ terms
    * mod 2^64 (sum ≤ 2^85); signature over 32-bit halves with
    * weights (2f+1)·K2 / (2f+2)·K2 (terms ≤ 2^97, ≤16 frames ⇒ sum ≤
    * 2^101 — exact in HUGEINT). Mod is a ring homomorphism, so
    * reducing only at the end equals Java's per-op wrapping. Final
    * sign-fold to BIGINT matches the JVM's signed Long. */
  val mm08Oracle: String =
    """WITH vid AS (
      | SELECT doc_id, CAST(doc_id % 64 + 16 AS BIGINT) AS w,
      |        CAST(doc_id % 48 + 16 AS BIGINT) AS h,
      |        CAST(doc_id % 12 + 4 AS BIGINT) AS nf
      | FROM documents WHERE ((doc_id % 3) + 3) % 3 = 2),
      |fh AS MATERIALIZED (
      | SELECT doc_id, f,
      |  CAST(SUM(((x % 4294967296) * (x % 4294967296)
      |       + (x // 4294967296) * (x % 4294967296) * 8589934592)
      |      % 18446744073709551616)
      |    % 18446744073709551616 AS HUGEINT) AS fhash_u
      | FROM (
      |  SELECT doc_id, f, i,
      |   ((b + 1) * ((CAST(i + 1 AS HUGEINT) * 11400714819323198485)
      |      % 18446744073709551616)) % 18446744073709551616 AS x
      |  FROM (
      |   SELECT doc_id, f, i,
      |    CAST(((CAST(doc_id AS HUGEINT) * 1315423911
      |       + CAST(f AS HUGEINT) * 2654435761
      |       + CAST(i AS HUGEINT) * 1442695040888963407)
      |       % 18446744073709551616) // 1099511627776 % 256 AS HUGEINT) AS b
      |   FROM (
      |    SELECT doc_id, f, unnest(range(0, w * h)) AS i
      |    FROM (SELECT doc_id, w, h, unnest(range(0, nf)) AS f FROM vid) a) b0) c0) c
      | GROUP BY doc_id, f),
      |sg AS (
      | SELECT doc_id AS media_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
      |  CAST(SUM(
      |     (fhash_u % 4294967296) *
      |       ((CAST(2 * f + 1 AS HUGEINT) * 14029467366897019727) % 18446744073709551616)
      |   + (fhash_u // 4294967296) *
      |       ((CAST(2 * f + 2 AS HUGEINT) * 14029467366897019727) % 18446744073709551616))
      |    % 18446744073709551616 AS HUGEINT) AS sig_u
      | FROM fh GROUP BY doc_id),
      |sg2 AS (
      | SELECT media_id, n_frames,
      |  CAST(CASE WHEN sig_u >= 9223372036854775808
      |    THEN sig_u - 18446744073709551616 ELSE sig_u END AS BIGINT) AS sig
      | FROM sg),
      |gr AS (
      | SELECT sig, MIN(media_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_videos
      | FROM sg2 GROUP BY sig)
      |SELECT s.media_id, s.n_frames, s.sig, g.keep_id, g.n_videos,
      | s.media_id != g.keep_id AS is_dup
      |FROM sg2 s JOIN gr g USING (sig)""".stripMargin

  /** mm07 oracle: the dirtying rule IS the oracle — payloads of
    * media_id ≡ 0 (mod 13) are 7-byte-truncated and defeat all three
    * containers; every untouched payload decodes (the fixtures are
    * well-formed by construction). */
  val mm07Oracle: String =
    """SELECT
      | CASE ((doc_id % 3) + 3) % 3
      |  WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      | CAST(COUNT(*) AS BIGINT) AS n_total,
      | CAST(SUM(CASE WHEN doc_id % 13 != 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
      | CAST(SUM(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt
      |FROM documents GROUP BY 1""".stripMargin

  val queries: Map[String, Q] = Map(
    "mm12_scene_thumbnails" -> (mm12SceneThumbnails _),
    "mm11_audio_decimate" -> (mm11AudioDecimate _),
    "mm10_image_resize" -> (mm10ImageResize _),
    "mm09_transcript_align" -> (mm09TranscriptAlign _),
    "mm08_video_neardup" -> (mm08VideoNeardup _),
    "mm07_corruption_audit" -> (mm07CorruptionAudit _),
    "mm01_media_features" -> (mm01Features _),
    "mm02_frame_sample" -> (mm02FrameSample _),
    "mm03_image_neardup" -> (mm03ImageNeardup _),
    "mm04_audio_frames" -> (mm04AudioFrames _),
    "mm05_scene_cuts" -> (mm05SceneCuts _),
    "mm06_audio_vad" -> (mm06AudioVad _))

  // Every member is oracle-checked (round 7 closed mm08 by moving its
  // frame key from truncated raw-byte MD5 — not relationally
  // recomputable, DuckDB md5() is VARCHAR-only — to the wrapping
  // mod-2^64 mixer arithmetic the other eleven oracles already use).
  val oracles: Map[String, String] = Map(
    "mm08_video_neardup" -> mm08Oracle,
    "mm01_media_features" -> mm01Oracle,
    "mm02_frame_sample" -> mm02Oracle,
    "mm03_image_neardup" -> mm03Oracle,
    "mm04_audio_frames" -> mm04Oracle,
    "mm05_scene_cuts" -> mm05Oracle,
    "mm06_audio_vad" -> mm06Oracle,
    "mm07_corruption_audit" -> mm07Oracle,
    "mm09_transcript_align" -> mm09Oracle,
    "mm10_image_resize" -> mm10Oracle,
    "mm11_audio_decimate" -> mm11Oracle,
    "mm12_scene_thumbnails" -> mm12Oracle)
}
