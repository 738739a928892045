package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Multimodal-column plumbing: media as opaque `binary` columns with
  * typed metadata, per SURVEY.md §2.2. The container has no image/audio
  * codecs, so the decode step is a clearly-marked deterministic STUB
  * ([[FakeDecoder]]); everything Spark-side — schema, binary column
  * handling, partition-wise batch processing, typed output — is real.
  *
  * The testdata has no true media column, so `documents.text` is cast to
  * binary to stand in for an image payload; at 100 TB the same plan
  * applies to real bytes (parquet binary columns scan + prune exactly
  * the same way).
  */
object Multimodal {

  /** Byte-level metadata extraction over a binary column, all built-ins:
    * size, content digest, header bytes, and a stride-100 "frame sample"
    * (the moral equivalent of sampling video frames). Byte access goes
    * through the hex string so the DuckDB oracle can reproduce it. The
    * frame sample is emitted as a comma-joined string, not an array —
    * the driver's checker cannot sort rows with array-typed cells. */
  def mmMeta(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("blob", col("text").cast("binary"))
      .withColumn("n_bytes", octet_length(col("blob")))
      .withColumn("hexstr", hex(col("blob")))
      .select(col("doc_id"), col("n_bytes"),
        md5(col("blob")).as("content_md5"),
        substring(col("hexstr"), 1, 16).as("header_hex"),
        concat_ws(",", transform(
          sequence(lit(1), expr("(n_bytes + 99) DIV 100")),
          i => substr(col("hexstr"), (i - 1) * 200 + 1, lit(2))))
          .as("frame_sample"))

  // ---------------------------------------------------------------------
  // Typed decode pipeline (partition-wise, format-dispatching)
  // ---------------------------------------------------------------------

  final case class MediaRow(doc_id: Long, blob: Array[Byte])

  /** Unified decode output across media formats: format-specific fields
    * are null where they don't apply (images have no sample rate, audio
    * no pixel geometry), `n_units` is the format's natural count (PCM
    * frames / pixels) and `mean_signal` its mean amplitude (mean |PCM|
    * normalized to [0,1] / mean blue-channel byte). */
  final case class DecodedAny(doc_id: Long, format: String,
                              width: Option[Int], height: Option[Int],
                              sample_rate: Option[Int], n_units: Long,
                              mean_signal: Double)

  // ---------------------------------------------------------------------
  // Real decoder for a codec-free format: canonical PCM WAV
  // ---------------------------------------------------------------------

  final case class WavInfo(doc_id: Long, sample_rate: Int, n_channels: Int,
                           bits_per_sample: Int, n_samples: Long,
                           duration_ms: Double, mean_abs: Double)

  /** REAL (non-stub) decoder for canonical 44-byte-header PCM16 WAV —
    * pure byte arithmetic, no codec library, so it runs in this
    * container for real: RIFF/fmt/data header fields + a full pass over
    * the PCM frames for mean |amplitude|. [[FakeDecoder]] remains only
    * for formats that genuinely need a codec (JPEG/H.264/…).
    * Returns None for anything that is not a canonical PCM16 WAV. */
  object WavDecoder {
    private def u16(b: Array[Byte], off: Int): Int =
      (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
    private def u32(b: Array[Byte], off: Int): Long =
      (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
        ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

    def decode(docId: Long, b: Array[Byte]): Option[WavInfo] = {
      if (b.length < 44) return None
      val riff = new String(b, 0, 4, "US-ASCII") == "RIFF" &&
        new String(b, 8, 4, "US-ASCII") == "WAVE" &&
        new String(b, 12, 4, "US-ASCII") == "fmt " &&
        new String(b, 36, 4, "US-ASCII") == "data"
      if (!riff) return None
      val audioFormat = u16(b, 20)
      val nCh = u16(b, 22)
      val rate = u32(b, 24).toInt
      val bps = u16(b, 34)
      if (audioFormat != 1 || bps != 16 || nCh < 1) return None
      val dataLen = math.min(u32(b, 40), (b.length - 44).toLong)
      val nFrames = dataLen / (2L * nCh)
      var sumAbs = 0.0
      var i = 0L
      while (i < nFrames * nCh) {
        val off = 44 + (i * 2).toInt
        val s = (u16(b, off) << 16) >> 16 // sign-extend little-endian i16
        sumAbs += math.abs(s)
        i += 1
      }
      val n = nFrames * nCh
      Some(WavInfo(docId, rate, nCh, bps, nFrames,
        nFrames * 1000.0 / rate,
        if (n == 0) 0.0 else sumAbs / (n * 32768.0)))
    }
  }

  /** Decode a WAV binary column per-partition — the same
    * one-decoder-per-task shape as [[mmDecode]], but with the REAL
    * parser; non-WAV blobs are dropped (None). */
  def decodeWav(media: Dataset[MediaRow]): Dataset[WavInfo] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.flatMap(m => WavDecoder.decode(m.doc_id, m.blob)))
  }

  final case class WavTone(doc_id: Long, n_frames: Long, tone_power: Long)

  /** SINGLE-BIN DFT tone energy (Goertzel) over the real PCM16
    * payload — the audio FEATURE EXTRACTION step (dial-tone /
    * carrier detection class): the classic two-pole recursion
    * q_t = x_t + coeff·q_{t-1} − q_{t-2} at the bin whose coeff is
    * EXACTLY 1 (frequency = sample_rate/6, 2·cos(π/3) = 1), so the
    * whole filter — recursion AND the power readout
    * P = q_N² + q_{N−1}² − coeff·q_N·q_{N−1} — is INTEGER arithmetic:
    * no transcendental ever evaluated, both engines agree to the bit
    * (the DuckDB oracle replays it via the recursion's closed-form
    * period-6 weights, a deliberately different derivation). Runs on
    * channel 0; one decoder pass per blob, mapPartitions at scan
    * speed like every codec. */
  object WavTone {
    private def u16(b: Array[Byte], off: Int): Int =
      (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
    def tone(docId: Long, b: Array[Byte]): Option[WavTone] =
      WavDecoder.decode(docId, b).map { info =>
        val nCh = info.n_channels
        var q1 = 0L; var q2 = 0L
        var t = 0L
        while (t < info.n_samples) { // n_samples = frames; channel 0
          val off = 44 + (t * nCh * 2).toInt
          val x = (u16(b, off) << 16) >> 16
          val q0 = x + q1 - q2
          q2 = q1; q1 = q0
          t += 1
        }
        WavTone(docId, info.n_samples, q1 * q1 + q2 * q2 - q1 * q2)
      }
  }

  /** Driver-checked exercise of the integer Goertzel — geometry and
    * the exact filter state re-derived closed-form by the oracle. */
  def mmTone(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    wavMedia(spark, dir)
      .mapPartitions(_.flatMap(m => WavTone.tone(m.doc_id, m.blob)))
      .toDF()
      .select(col("doc_id"), col("n_frames"), col("tone_power"))
  }

  final case class WavResampled(doc_id: Long, rate_out: Long,
                                n_frames_out: Long, sum_out: Long)

  /** DECIMATE-BY-2 RESAMPLE over the real PCM16 payload — the audio
    * counterpart of the image resize kernel: per channel, each output
    * frame is the floor-averaged pair of consecutive input frames
    * ((s₂ⱼ₋₁ + s₂ⱼ) floordiv 2 — FLOOR, not truncate-toward-zero, so
    * the signed integer arithmetic replays exactly in SQL), the
    * nominal rate halves, a trailing odd frame drops. The exact
    * integer SUM of the resampled signal rides out as the oracle
    * witness: any drift in the pairing, sign extension, channel
    * interleave, or rounding moves it. Header validation is
    * [[WavDecoder]]'s — a blob the decoder rejects resamples to
    * None, never garbage. */
  object WavResampler {
    private def u16(b: Array[Byte], off: Int): Int =
      (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
    def resample2(docId: Long, b: Array[Byte]): Option[WavResampled] =
      WavDecoder.decode(docId, b).map { info =>
        val nCh = info.n_channels
        val nOut = info.n_samples / 2
        var sum = 0L
        var j = 0L
        while (j < nOut) {
          var c = 0
          while (c < nCh) {
            val pa = (2 * j * nCh + c).toInt
            val pb = ((2 * j + 1) * nCh + c).toInt
            val sa = (u16(b, 44 + pa * 2) << 16) >> 16
            val sb = (u16(b, 44 + pb * 2) << 16) >> 16
            sum += Math.floorDiv(sa + sb, 2)
            c += 1
          }
          j += 1
        }
        WavResampled(docId, info.sample_rate / 2L, nOut, sum)
      }
  }

  /** Driver-gated resample over the in-plan WAV corpus: real parse,
    * real payload walk, closed-form replay (the synthesized sample
    * stream is pure arithmetic in (doc_id, i)). */
  def mmResample(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    wavMedia(spark, dir)
      .mapPartitions(_.flatMap(m => WavResampler.resample2(m.doc_id, m.blob)))
      .toDF()
      .select(col("doc_id"), col("rate_out"), col("n_frames_out"),
        col("sum_out"))
  }

  final case class WavVad(doc_id: Long, n_windows: Long, n_voiced: Long,
                          n_segments: Long, voiced_energy: Long)

  /** ENERGY-BASED VOICE-ACTIVITY SEGMENTATION over the real PCM16
    * payload — the speech-curation primitive (silence trimming, speech
    * ratio filters) every audio training pipeline needs. Channel 0 is
    * cut into non-overlapping windows of [[VadWindow]] frames (a
    * trailing partial window drops), each window's INTEGER energy
    * Σ x_t² compares against [[VadThreshold]] (≥ is voiced — strict
    * boundary so both engines agree to the bit), and contiguous voiced
    * runs collapse into segments. Everything is int64 arithmetic on
    * the decoded samples (max energy 8·2³⁰ ≪ 2⁶³), so the DuckDB
    * oracle replays windowing, threshold, AND the run-length collapse
    * exactly. A blob [[WavDecoder]] rejects yields None, never
    * garbage; a doc shorter than one window yields the zero row (the
    * "all silence" witness), not an absent one. */
  object WavVadOp {
    val VadWindow = 8
    val VadThreshold = 2000000000L
    private def u16(b: Array[Byte], off: Int): Int =
      (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
    def vad(docId: Long, b: Array[Byte]): Option[WavVad] =
      WavDecoder.decode(docId, b).map { info =>
        val nCh = info.n_channels
        val nWin = info.n_samples / VadWindow
        var w = 0L
        var voiced = 0L; var segments = 0L; var vEnergy = 0L
        var prevVoiced = false
        while (w < nWin) {
          var e = 0L
          var k = 0
          while (k < VadWindow) {
            val t = w * VadWindow + k // 0-based channel-0 frame
            val off = 44 + (t * nCh * 2).toInt
            val x = (u16(b, off) << 16) >> 16
            e += x.toLong * x
            k += 1
          }
          val isVoiced = e >= VadThreshold
          if (isVoiced) {
            voiced += 1; vEnergy += e
            if (!prevVoiced) segments += 1
          }
          prevVoiced = isVoiced
          w += 1
        }
        WavVad(docId, nWin, voiced, segments, vEnergy)
      }
  }

  /** Driver-gated VAD over the in-plan WAV corpus: real parse, real
    * payload walk, one mapPartitions pass at scan speed (the codec
    * rule), closed-form oracle replay of windows → energies →
    * threshold → segment run-lengths. */
  def mmVad(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    wavMedia(spark, dir)
      .mapPartitions(_.flatMap(m => WavVadOp.vad(m.doc_id, m.blob)))
      .toDF()
      .select(col("doc_id"), col("n_windows"), col("n_voiced"),
        col("n_segments"), col("voiced_energy"))
  }

  /** Generic decode: a MIXED media column (even doc_ids carry a real
    * PCM16 WAV, odd a real 24-bit BMP, both synthesized in-plan exactly
    * like [[wavMedia]]/[[bmpMedia]]) decoded in ONE mapPartitions pass
    * that dispatches per blob on the container magic ("RIFF" → the real
    * [[WavDecoder]], "BM" → the real [[BmpDecoder]], anything else
    * dropped) — the one-decoder-per-task shape a JNI/codec handle needs
    * (init once per partition, stream the batch through), now with no
    * stub anywhere: every output value is real decoder output and the
    * DuckDB oracle re-derives all of it in closed form, including the
    * full-payload means (mean |PCM| and mean blue-channel byte). */
  def mmDecode(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    mixedMedia(spark, dir).mapPartitions { rows =>
      // per-partition decoder init would go here (codec handle, model…)
      rows.flatMap { m =>
        val b = m.blob
        if (b.length >= 4 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F')
          WavDecoder.decode(m.doc_id, b).map(w =>
            DecodedAny(m.doc_id, "wav", None, None, Some(w.sample_rate),
              w.n_samples, w.mean_abs))
        else if (b.length >= 2 && b(0) == 'B' && b(1) == 'M')
          BmpDecoder.decode(m.doc_id, b).map(i =>
            DecodedAny(m.doc_id, "bmp", Some(i.width), Some(i.height),
              None, i.n_pixels, i.mean_b))
        else if (b.length >= 4 && (b(0) & 0xff) == 0x89 && b(1) == 'P' &&
          b(2) == 'N' && b(3) == 'G')
          PngDecoder.decode(m.doc_id, b).map(p =>
            DecodedAny(m.doc_id, "png", Some(p.width), Some(p.height),
              None, p.n_pixels, p.mean_px / 255.0))
        else None
      }
    }.toDF()
      .select(col("doc_id"), col("format"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("n_units"), round(col("mean_signal"), 6).as("mean_signal"))
  }

  /** The SQL-expressible slice of the decode contract, split out of the
    * stub so the hard gate witnesses it: frame count is defined as
    * ceil(n_bytes / 100) — [[FakeDecoder.decode]] must agree
    * (OperatorsSpec asserts decode.n_frames == this), and the DuckDB
    * oracle checks the arithmetic. The stub now covers only what is
    * genuinely uncheckable without a codec (width/height/luma). */
  def mmFrames(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("n_bytes", octet_length(col("text").cast("binary")))
      .select(col("doc_id"), col("n_bytes"),
        expr("(n_bytes + 99) DIV 100").cast("long").as("n_frames"))

  /** Little-endian hex encodings of 16/32-bit values, for composing
    * binary formats out of codegen string ops (unhex at the end turns
    * the hex stream into the binary column). */
  private def le16(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lpad(hex(v.bitwiseAND(lit(255))), 2, "0"),
      lpad(hex(shiftright(v, 8).bitwiseAND(lit(255))), 2, "0"))
  private def le32(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(le16(v.bitwiseAND(lit(65535))), le16(shiftright(v, 16)))

  /** Driver-checked exercise of the REAL [[WavDecoder]]: canonical
    * 44-byte-header PCM16 WAV blobs are synthesized IN-PLAN (per-row
    * header fields derived from doc_id / n_chars, PCM payload from a
    * deterministic integer stream, all little-endian hex → unhex), then
    * parsed back by [[decodeWav]]. The DuckDB oracle computes the same
    * header fields by plain arithmetic — so a bug in either the
    * encoding or the parsing shows up as a value mismatch, the same
    * witness structure as [[mmFrames]]. mean_abs (the full-payload PCM
    * pass) stays spec-gated: it has no closed-form SQL mirror. */
  /** The in-plan WAV synthesis feeding [[mmWav]], exposed so the spec
    * can cross-check the hex-composed blobs (ALL fields, including the
    * spec-gated mean_abs) against a JVM ByteBuffer reference encoder. */
  /** Hex text of the canonical PCM16 WAV blob for one documents row, as
    * a COLUMN over (doc_id, n_chars) — shared by [[wavMedia]] and the
    * mixed-format [[mixedMedia]] corpus. */
  private def wavHexCol: org.apache.spark.sql.Column = {
    val rate = (lit(8000) + (col("doc_id") % 4).cast("int") * 4000).cast("int")
    val nCh = (lit(1) + (col("doc_id") % 2).cast("int")).cast("int")
    val nFrames = ((col("n_chars") % 50).cast("int") + 1).cast("int")
    val dataLen = nFrames * nCh * 2
    val nSamp = nFrames * nCh
    val pcmHex = concat_ws("", transform(sequence(lit(1), nSamp),
      i => le16(((col("doc_id") * 31 + i * 7) % 65536).cast("int"))))
    concat(
      lit("52494646"), le32(lit(36) + dataLen),          // "RIFF", chunk size
      lit("57415645"), lit("666D7420"), le32(lit(16)),   // "WAVE", "fmt ", 16
      le16(lit(1)), le16(nCh), le32(rate),               // PCM, channels, rate
      le32(rate * nCh * 2), le16(nCh * 2), le16(lit(16)),// byte rate, align, bps
      lit("64617461"), le32(dataLen), pcmHex)            // "data", len, payload
  }

  def wavMedia(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    t(spark, dir, "documents")
      .select(col("doc_id"), unhex(wavHexCol).as("blob"))
      .as[MediaRow]
  }

  /** The mixed-format corpus feeding [[mmDecode]]: even doc_ids get the
    * WAV blob, odd the BMP — one binary column whose format varies row
    * to row, which is what a real multimodal table looks like. */
  def mixedMedia(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    t(spark, dir, "documents")
      .select(col("doc_id"),
        unhex(when(col("doc_id") % 2 === 0, wavHexCol)
          .otherwise(bmpHexCol)).as("blob"))
      .as[MediaRow]
  }

  def mmWav(spark: SparkSession, dir: String): DataFrame =
    decodeWav(wavMedia(spark, dir)).toDF()
      .select(col("doc_id"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("n_channels").cast("long").as("n_channels"),
        col("n_samples"),
        round(col("duration_ms"), 6).as("duration_ms"))

  // ---------------------------------------------------------------------
  // Real decoder #2: uncompressed 24-bit BMP (image counterpart of WAV)
  // ---------------------------------------------------------------------

  final case class BmpInfo(doc_id: Long, width: Int, height: Int,
                           n_pixels: Long, file_size: Long,
                           mean_b: Double, mean_g: Double, mean_r: Double)

  /** REAL decoder for uncompressed 24-bit BMP (BITMAPINFOHEADER) — pure
    * byte arithmetic like [[WavDecoder]], no codec library: validates
    * the BM/header fields, honors the 4-byte row stride padding and
    * bottom-up vs top-down row order, and runs a full pass over the
    * pixel array for per-channel (B,G,R) means. Returns None for
    * anything that is not a plain 24-bit uncompressed BMP. */
  object BmpDecoder {
    private def u16(b: Array[Byte], off: Int): Int =
      (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
    private def u32(b: Array[Byte], off: Int): Long =
      (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
        ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

    /** Validated header geometry: (width, height, topDown, dataOffset,
      * stride). All guards in LONG arithmetic: a hostile 32-bit field
      * must fail here, not wrap negative and index b(-1). */
    private def header(b: Array[Byte])
        : Option[(Int, Int, Boolean, Int, Int)] = {
      if (b.length < 54 || b(0) != 'B' || b(1) != 'M') return None
      val dataOffsetL = u32(b, 10)
      val biSize = u32(b, 14)
      val widthL = u32(b, 18)
      val hRaw = u32(b, 22).toInt // signed: negative = top-down row order
      val heightL = math.abs(hRaw.toLong)
      if (biSize < 40 || widthL <= 0 || widthL > (1 << 20) ||
        heightL == 0 || heightL > (1 << 20)) return None
      if (u16(b, 26) != 1 || u16(b, 28) != 24 || u32(b, 30) != 0) return None
      if (dataOffsetL < 54 || dataOffsetL > b.length) return None
      val width = widthL.toInt
      val height = heightL.toInt
      val stride = ((width * 3 + 3) / 4) * 4
      if (dataOffsetL + stride.toLong * height > b.length) return None
      Some((width, height, hRaw < 0, dataOffsetL.toInt, stride))
    }

    /** [[header]] for sibling decoders ([[Multimodal.decodeAHash]]). */
    private[operators] def headerOf(b: Array[Byte])
        : Option[(Int, Int, Boolean, Int, Int)] = header(b)

    def decode(docId: Long, b: Array[Byte]): Option[BmpInfo] =
      header(b).map { case (width, height, _, dataOffset, stride) =>
        val sums = new Array[Long](3)
        var r = 0
        while (r < height) {
          val rowStart = dataOffset + r * stride
          var j = 0
          while (j < width * 3) {
            sums(j % 3) += b(rowStart + j) & 0xff
            j += 1
          }
          r += 1
        }
        val n = width.toLong * height
        BmpInfo(docId, width, height, n, b.length.toLong,
          sums(0).toDouble / n, sums(1).toDouble / n, sums(2).toDouble / n)
      }

    /** REAL nearest-neighbor downsample run against the decoded image:
      * output pixel (x, y) reads input pixel (f·x, f·y) in TOP-DOWN
      * image space — bottom-up storage maps image row y to stored row
      * h−1−y, so the kernel honors row order and stride padding exactly
      * like [[decode]]. Emits the resized geometry plus per-channel
      * means over the RESIZED pixels (a feature a thumbnail pipeline
      * would index). */
    def decodeResized(docId: Long, b: Array[Byte],
                      f: Int): Option[BmpResizeInfo] =
      header(b).map { case (width, height, topDown, dataOffset, stride) =>
        val ow = (width + f - 1) / f
        val oh = (height + f - 1) / f
        val sums = new Array[Long](3)
        var y = 0
        while (y < oh) {
          val iy = y * f
          val fr = if (topDown) iy else height - 1 - iy
          val rowStart = dataOffset + fr * stride
          var x = 0
          while (x < ow) {
            val jBase = x * f * 3
            var c = 0
            while (c < 3) {
              sums(c) += b(rowStart + jBase + c) & 0xff
              c += 1
            }
            x += 1
          }
          y += 1
        }
        val n = ow.toLong * oh
        BmpResizeInfo(docId, width, height, ow, oh, n,
          sums(0).toDouble / n, sums(1).toDouble / n, sums(2).toDouble / n)
      }
  }

  final case class BmpResizeInfo(doc_id: Long, width: Int, height: Int,
                                 out_w: Int, out_h: Int, n_pixels_out: Long,
                                 mean_b: Double, mean_g: Double, mean_r: Double)

  /** Decode a BMP binary column per-partition — same one-decoder-per-
    * task shape as [[decodeWav]]; non-BMP blobs are dropped. */
  def decodeBmp(media: Dataset[MediaRow]): Dataset[BmpInfo] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.flatMap(m => BmpDecoder.decode(m.doc_id, m.blob)))
  }

  /** In-plan synthesis of canonical bottom-up 24-bit BMPs (the
    * [[wavMedia]] technique for images): per-row width/height from
    * doc_id, pixel bytes from a deterministic function of (row, byte
    * index), real 4-byte stride padding. Exposed for the spec's
    * ByteBuffer byte-identity cross-check. */
  /** Hex text of the canonical bottom-up 24-bit BMP blob for one
    * documents row, as a COLUMN over doc_id — shared by [[bmpMedia]]
    * and [[mixedMedia]]. */
  private def bmpHexCol: org.apache.spark.sql.Column = {
    val w = (lit(2) + (col("doc_id") % 7).cast("int")).cast("int")   // 2..8
    val h = (lit(1) + (col("doc_id") % 5).cast("int")).cast("int")   // 1..5
    val rowBytes = w * 3
    val pad = (lit(4) - pmod(rowBytes, lit(4))) % 4
    val stride = rowBytes + pad
    // padding hex: "00" × pad (sequence(1,0) would DESCEND — guard pad=0)
    val padHex = when(pad > 0,
      concat_ws("", transform(sequence(lit(1), pad), _ => lit("00"))))
      .otherwise(lit(""))
    val pixHex = concat_ws("", transform(sequence(lit(0), h - 1), fr =>
      concat(
        concat_ws("", transform(sequence(lit(0), rowBytes - 1), j =>
          lpad(hex(pmod(col("doc_id") * 7 + fr * 31 + j * 13, lit(251))),
            2, "0"))),
        padHex)))
    val fileSize = (lit(54) + stride * h).cast("int")
    concat(
      lit("424D"), le32(fileSize), le32(lit(0)), le32(lit(54)), // BM, size, res, offset
      le32(lit(40)), le32(w), le32(h),                          // biSize, w, h (bottom-up)
      le16(lit(1)), le16(lit(24)), le32(lit(0)),                // planes, bpp, compression
      le32(stride * h), le32(lit(2835)), le32(lit(2835)),       // image size, x/y ppm
      le32(lit(0)), le32(lit(0)),                               // clrUsed, clrImportant
      pixHex)
  }

  def bmpMedia(spark: SparkSession, dir: String): Dataset[MediaRow] =
    bmpMediaOf(t(spark, dir, "documents"))

  /** The BMP synthesis over ANY frame with a doc_id column. */
  def bmpMediaOf(docs: DataFrame): Dataset[MediaRow] = {
    val spark2 = docs.sparkSession
    import spark2.implicits._
    docs.select(col("doc_id"), unhex(bmpHexCol).as("blob")).as[MediaRow]
  }

  /** Driver-checked exercise of the REAL [[BmpDecoder]] — and unlike
    * mm_wav's spec-gated mean_abs, here EVERY output field including the
    * per-channel pixel means is oracle-checked: the pixel function is
    * closed-form in (doc_id, row, byte index), so the DuckDB oracle
    * re-derives the channel sums with generate_series arithmetic. A bug
    * in the synthesis, the stride/padding handling, or the decode loop
    * all surface as value mismatches. */
  def mmBmp(spark: SparkSession, dir: String): DataFrame =
    decodeBmp(bmpMedia(spark, dir)).toDF()
      .select(col("doc_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("n_pixels"), col("file_size"),
        round(col("mean_b"), 6).as("mean_b"),
        round(col("mean_g"), 6).as("mean_g"),
        round(col("mean_r"), 6).as("mean_r"))

  val ResizeFactor = 2

  /** IMAGE RESIZE over the binary column — the resize step of the
    * decode / feature-extract / resize / frame-sample multimodal
    * quartet: each blob decodes through the real [[BmpDecoder]] and a
    * nearest-neighbor factor-[[ResizeFactor]] downsample kernel runs
    * against the decoded image ([[BmpDecoder.decodeResized]] — honors
    * bottom-up row order and stride padding), emitting the resized
    * geometry and per-channel means over the SAMPLED pixels. Same
    * mapPartitions shape as every codec: one decoder per task,
    * embarrassingly parallel, undecodable blobs dropped. The pixel
    * function is closed-form in (doc_id, row, byte), so the oracle
    * re-derives the sampled-pixel sums exactly. */
  def mmResize(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    bmpMedia(spark, dir)
      .mapPartitions(_.flatMap(m =>
        BmpDecoder.decodeResized(m.doc_id, m.blob, ResizeFactor)))
      .toDF()
      .select(col("doc_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("out_w").cast("long").as("out_w"),
        col("out_h").cast("long").as("out_h"),
        col("n_pixels_out"),
        round(col("mean_b"), 6).as("mean_b"),
        round(col("mean_g"), 6).as("mean_g"),
        round(col("mean_r"), 6).as("mean_r"))
  }

  final case class BmpAHash(doc_id: Long, width: Int, height: Int,
                            hash_w: Int, hash_h: Int, n_bits: Long,
                            ahash: Long)

  /** AVERAGE-HASH (aHash) over the decoded image — the perceptual
    * fingerprint image-dedup pipelines bucket on: sample the image at
    * factor `f` (the [[BmpDecoder.decodeResized]] kernel), take each
    * sampled pixel's integer luminance (B+G+R — no /3, so the whole
    * hash is INTEGER-EXACT and the DuckDB oracle replays it to the
    * bit), and set bit p = y·hash_w + x (top-down row-major) iff that
    * pixel is strictly brighter than the image mean
    * (lum·n > Σlum, cross-multiplied to stay integral). ≤ 64 sampled
    * pixels fit the Long. */
  def decodeAHash(docId: Long, b: Array[Byte], f: Int): Option[BmpAHash] =
    BmpDecoder.headerOf(b).filter {
      case (width, height, _, _, _) =>
        (((width + f - 1) / f).toLong * ((height + f - 1) / f)) <= 64
    }.map {
      case (width, height, topDown, dataOffset, stride) =>
        val ow = (width + f - 1) / f
        val oh = (height + f - 1) / f
        val lum = new Array[Long](ow * oh)
        var total = 0L
        var y = 0
        while (y < oh) {
          val iy = y * f
          val fr = if (topDown) iy else height - 1 - iy
          val rowStart = dataOffset + fr * stride
          var x = 0
          while (x < ow) {
            val jBase = x * f * 3
            val l = (b(rowStart + jBase) & 0xff) +
              (b(rowStart + jBase + 1) & 0xff) +
              (b(rowStart + jBase + 2) & 0xff)
            lum(y * ow + x) = l
            total += l
            x += 1
          }
          y += 1
        }
        val n = ow.toLong * oh
        var hash = 0L
        var p = 0
        while (p < lum.length) {
          if (lum(p) * n > total) hash |= 1L << p
          p += 1
        }
        BmpAHash(docId, width, height, ow, oh, n, hash)
    }

  /** Per-image full-resolution aHash (factor 1) — every output field
    * oracle-checked: the pixel function is closed-form in
    * (doc_id, row, byte), so DuckDB re-derives the exact hash bits. */
  def mmAHash(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    bmpMedia(spark, dir)
      .mapPartitions(_.flatMap(m => decodeAHash(m.doc_id, m.blob, 1)))
      .toDF()
      .select(col("doc_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("n_bits"), col("ahash"))
  }

  val AHashFactor = 2

  /** IMAGE NEAR-DUP by exact aHash bucket — the scalable production
    * pattern (factor-[[AHashFactor]] downsample coarsens the hash so
    * perceptually-close images collide): decode + hash per partition,
    * then ONE hash-partitioned aggregation on (geometry, hash) — no
    * pair join anywhere, linear at any corpus size; a bucket of b
    * near-dup images costs one row, not b². Emits buckets holding ≥ 2
    * images with the canonical survivor (lowest doc_id). */
  /** Factor-[[AHashFactor]] coarse hash per image — the shared decode
    * + hash projection under [[dedupImage]] and the cross-corpus
    * screen. */
  def imageHashes(media: Dataset[MediaRow]): DataFrame = {
    val spark2 = media.sparkSession
    import spark2.implicits._
    media
      .mapPartitions(_.flatMap(m => decodeAHash(m.doc_id, m.blob, AHashFactor)))
      .toDF()
  }

  def dedupImage(spark: SparkSession, dir: String): DataFrame =
    imageHashes(bmpMedia(spark, dir))
      .groupBy(col("width").cast("long").as("width"),
        col("height").cast("long").as("height"), col("ahash"))
      .agg(count(lit(1)).as("n_images"), min(col("doc_id")).as("canonical_id"))
      .where(col("n_images") >= 2)

  /** The curated base's (geometry, hash) buckets as a PRECOMPUTED
    * artifact: built once, the screen never re-reads the base
    * corpus. */
  def imageBaseBuckets(baseDocs: DataFrame): DataFrame =
    imageHashes(bmpMediaOf(baseDocs))
      .groupBy(col("width").cast("long").as("width"),
        col("height").cast("long").as("height"), col("ahash"))
      .agg(count(lit(1)).as("n_base"), min(col("doc_id")).as("base_canonical"))

  /** CROSS-CORPUS IMAGE SCREEN — arriving images flagged when their
    * coarse perceptual hash lands in a curated-base bucket: decode +
    * hash on the crawl side only, ONE equi-join on (geometry, hash)
    * against the base artifact. Crawl-side compute per batch; at
    * 100 TB the base buckets are the persisted (and typically
    * broadcastable — buckets, not images) side. */
  def screenImagesAgainstBase(crawlDocs: DataFrame,
                              baseBuckets: DataFrame): DataFrame =
    imageHashes(bmpMediaOf(crawlDocs))
      .select(col("doc_id"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"), col("ahash"))
      .join(baseBuckets, Seq("width", "height", "ahash"))
      .select(col("doc_id"), col("width"), col("height"), col("ahash"),
        col("n_base"), col("base_canonical"))

  /** Driver-checked batch form of the screen: odd doc_ids (the crawl)
    * against even doc_ids' buckets (the base) — the
    * `dedup_cross_corpus` split, image edition. */
  def dedupImageScreen(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    screenImagesAgainstBase(docs.where(col("doc_id") % 2 === 1),
      imageBaseBuckets(docs.where(col("doc_id") % 2 === 0)))
  }

  // ---------------------------------------------------------------------
  // Real decoder #3: PNG (grayscale 8-bit) — the first COMPRESSED
  // container: zlib IDAT, per-scanline filters, CRC-validated chunks
  // ---------------------------------------------------------------------

  final case class PngInfo(doc_id: Long, width: Int, height: Int,
                           bit_depth: Int, color_type: Int, n_pixels: Long,
                           mean_px: Double)

  /** REAL PNG decoder for 8-bit grayscale, non-interlaced images —
    * unlike WAV/BMP this exercises a genuinely compressed container
    * with only the JDK: chunk walk with per-chunk CRC32 validation
    * (corrupt chunk ⇒ None, like a hardened production decoder), IDAT
    * concatenation across chunks, zlib inflate (`java.util.zip
    * .Inflater`), and scanline unfiltering for ALL five PNG filter
    * types (None/Sub/Up/Average/Paeth, bpp = 1), then a full pixel
    * pass for the mean. Returns None for anything that is not a valid
    * gray8 PNG. */
  object PngDecoder {
    private val Sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte)

    private def be32(b: Array[Byte], off: Int): Long =
      ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
        ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

    /** Signature + chunk walk (lengths, CRCs, IHDR sanity, IDAT
      * concatenation) shared by the gray and truecolor paths. */
    private def parseChunks(b: Array[Byte])
        : Option[(Int, Int, Int, Int, Array[Byte])] = {
      if (b.length < 8 + 25 + 12 || !b.take(8).sameElements(Sig)) return None
      var off = 8
      var w, h, depth, color = -1
      val idat = new java.io.ByteArrayOutputStream()
      var sawEnd = false
      while (!sawEnd && off + 12 <= b.length) {
        val len = be32(b, off)
        if (len > b.length - off - 12) return None
        val l = len.toInt
        val ctype = new String(b, off + 4, 4, "US-ASCII")
        val crc = new java.util.zip.CRC32()
        crc.update(b, off + 4, 4 + l)
        if (crc.getValue != be32(b, off + 8 + l)) return None
        ctype match {
          case "IHDR" =>
            if (l != 13) return None
            w = be32(b, off + 8).toInt
            h = be32(b, off + 12).toInt
            depth = b(off + 16) & 0xff
            color = b(off + 17) & 0xff
            // compression(0), filter method(0), interlace(0) only
            if (b(off + 18) != 0 || b(off + 19) != 0 || b(off + 20) != 0)
              return None
          case "IDAT" => idat.write(b, off + 8, l)
          case "IEND" => sawEnd = true
          case _ => () // ancillary chunks skipped (CRC still checked)
        }
        off += 12 + l
      }
      if (!sawEnd || w <= 0 || h <= 0 || w > (1 << 20) || h > (1 << 20))
        return None
      Some((w, h, depth, color, idat.toByteArray))
    }

    /** Inflate + unfilter at `bpp` bytes/pixel (the filter reference
      * distance — PNG filters are bytewise with the "left" sample bpp
      * bytes back, prior row starting as the spec's implicit zeros).
      * Returns per-CHANNEL byte sums, the oracle witnesses. */
    private def unfilterSums(idat: Array[Byte], w: Int, h: Int,
                             bpp: Int): Option[Array[Long]] = {
      val rowBytes = w * bpp
      val inf = new java.util.zip.Inflater()
      inf.setInput(idat)
      val raw = new Array[Byte](h * (1 + rowBytes))
      val got = try inf.inflate(raw)
      catch { case _: java.util.zip.DataFormatException => return None }
      finally inf.end()
      if (got != raw.length) return None
      val prev = new Array[Int](rowBytes)
      // rolling window of the prior ROW's last bpp values: prev(j-bpp)
      // is already THIS row (it was the left reference) by the time
      // byte j needs its upper-left, so the old value rides here
      val ulBuf = new Array[Int](bpp)
      val sums = new Array[Long](bpp)
      var r = 0
      while (r < h) {
        val base = r * (1 + rowBytes)
        val ft = raw(base) & 0xff
        if (ft > 4) return None
        var j = 0
        while (j < rowBytes) {
          val x = raw(base + 1 + j) & 0xff
          val up = prev(j)
          val left = if (j >= bpp) prev(j - bpp) else 0
          val ul = if (j >= bpp) ulBuf(j % bpp) else 0
          val px = ft match {
            case 0 => x
            case 1 => (x + left) & 0xff
            case 2 => (x + up) & 0xff
            case 3 => (x + (left + up) / 2) & 0xff
            case 4 =>
              val p = left + up - ul
              val (pa, pb, pc) =
                (math.abs(p - left), math.abs(p - up), math.abs(p - ul))
              val pred = if (pa <= pb && pa <= pc) left
                         else if (pb <= pc) up else ul
              (x + pred) & 0xff
          }
          ulBuf(j % bpp) = up
          prev(j) = px
          sums(j % bpp) += px
          j += 1
        }
        r += 1
      }
      Some(sums)
    }

    def decode(docId: Long, b: Array[Byte]): Option[PngInfo] =
      parseChunks(b).flatMap { case (w, h, depth, color, idat) =>
        if (depth != 8 || color != 0) None
        else unfilterSums(idat, w, h, 1).map { sums =>
          val n = w.toLong * h
          PngInfo(docId, w, h, depth, color, n, sums(0).toDouble / n)
        }
      }

    /** Truecolor (color type 2, RGB8) decode — same container walk,
      * filters at bpp = 3 (the left/upper-left references move three
      * bytes, the classic source of filter bugs). */
    def decodeRgb(docId: Long, b: Array[Byte]): Option[PngRgbInfo] =
      parseChunks(b).flatMap { case (w, h, depth, color, idat) =>
        if (depth != 8 || color != 2) None
        else unfilterSums(idat, w, h, 3).map { sums =>
          val n = w.toLong * h
          PngRgbInfo(docId, w, h, n, sums(0).toDouble / n,
            sums(1).toDouble / n, sums(2).toDouble / n)
        }
      }
  }

  final case class PngRgbInfo(doc_id: Long, width: Int, height: Int,
                              n_pixels: Long, mean_r: Double,
                              mean_g: Double, mean_b: Double)

  /** JVM PNG encoder for the synthetic corpus — the hex-column
    * technique cannot express zlib, so (unlike WAV/BMP) synthesis runs
    * in the SAME mapPartitions pass that would decode: deterministic
    * gray8 pixels (the BMP pixel function, single channel), scanline
    * filters cycling None/Sub/Up so the decoder's unfilter path is
    * genuinely exercised, one Deflater per blob, CRC'd chunks. */
  object PngEncoder {
    private def chunk(out: java.io.ByteArrayOutputStream, ctype: String,
                      data: Array[Byte]): Unit = {
      def be32(v: Long): Array[Byte] = Array(
        (v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
      out.write(be32(data.length.toLong))
      val tb = ctype.getBytes("US-ASCII")
      out.write(tb)
      out.write(data)
      val crc = new java.util.zip.CRC32()
      crc.update(tb)
      crc.update(data)
      out.write(be32(crc.getValue))
    }

    def pixel(docId: Long, r: Int, j: Int): Int =
      (((docId * 7 + r * 31L + j * 13L) % 251) + 251).toInt % 251

    def encode(docId: Long): Array[Byte] =
      encodeWith(docId, r => r % 3) // cycle None / Sub / Up

    /** Encoder body with the per-row filter choice injectable, so the
      * spec can also drive Average/Paeth rows through the decoder. */
    private[graft] def encodeWith(docId: Long,
                                  ftFor: Int => Int): Array[Byte] = {
      val w = (2 + docId % 7).toInt
      val h = (1 + docId % 5).toInt
      val raw = new Array[Byte](h * (1 + w))
      val prev = new Array[Int](w)
      var r = 0
      while (r < h) {
        val base = r * (1 + w)
        val ft = ftFor(r)
        raw(base) = ft.toByte
        var j = 0
        var left = 0
        var priorUl = 0 // prior ROW's j-1 (prev(j-1) is already this row)
        while (j < w) {
          val px = pixel(docId, r, j)
          val up = prev(j)
          val ul = if (j == 0) 0 else priorUl
          val enc = ft match {
            case 0 => px
            case 1 => (px - left) & 0xff
            case 2 => (px - up) & 0xff
            case 3 => (px - (left + up) / 2) & 0xff
            case 4 =>
              val p = left + up - ul
              val (pa, pb, pc) =
                (math.abs(p - left), math.abs(p - up), math.abs(p - ul))
              val pred = if (pa <= pb && pa <= pc) left
                         else if (pb <= pc) up else ul
              (px - pred) & 0xff
          }
          raw(base + 1 + j) = enc.toByte
          priorUl = up
          left = px
          prev(j) = px
          j += 1
        }
        r += 1
      }
      wrapPng(w, h, 0, raw)
    }

    /** Deflate the filtered scanlines and wrap them in the CRC'd
      * chunk grammar — shared by the gray and truecolor encoders. */
    private def wrapPng(w: Int, h: Int, colorType: Int,
                        raw: Array[Byte]): Array[Byte] = {
      val defl = new java.util.zip.Deflater()
      defl.setInput(raw)
      defl.finish()
      val buf = new Array[Byte](raw.length + 64)
      val idatLen = defl.deflate(buf)
      defl.end()
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
        .map(_.toByte))
      val ihdr = java.nio.ByteBuffer.allocate(13)
      ihdr.putInt(w).putInt(h).put(8.toByte).put(colorType.toByte)
        .put(0.toByte).put(0.toByte).put(0.toByte)
      chunk(out, "IHDR", ihdr.array())
      chunk(out, "IDAT", buf.take(idatLen))
      chunk(out, "IEND", Array.emptyByteArray)
      out.toByteArray
    }

    /** Per-channel closed forms for the truecolor corpus — distinct
      * linear rules per channel so a channel swap or an off-by-bpp
      * filter reference cannot cancel in the means. */
    def chG(docId: Long, r: Int, j: Int): Int =
      (((docId * 11 + r * 17L + j * 19L) % 251) + 251).toInt % 251
    def chB(docId: Long, r: Int, j: Int): Int =
      (((docId * 13 + r * 23L + j * 29L) % 251) + 251).toInt % 251

    def encodeRgb(docId: Long): Array[Byte] =
      encodeRgbWith(docId, r => r % 5) // ALL five filters in the corpus

    /** Truecolor encoder: filters run bytewise at bpp = 3 (left and
      * upper-left references three bytes back, mirroring the
      * decoder's [[unfilterSums]] exactly). */
    private[graft] def encodeRgbWith(docId: Long,
                                     ftFor: Int => Int): Array[Byte] = {
      val w = (2 + docId % 7).toInt
      val h = (1 + docId % 5).toInt
      val bpp = 3
      val rowBytes = w * bpp
      val raw = new Array[Byte](h * (1 + rowBytes))
      val prev = new Array[Int](rowBytes)
      val ulBuf = new Array[Int](bpp)
      var r = 0
      while (r < h) {
        val base = r * (1 + rowBytes)
        val ft = ftFor(r)
        raw(base) = ft.toByte
        var j = 0
        while (j < rowBytes) {
          val colIdx = j / bpp
          val ch = j % bpp
          val px = ch match {
            case 0 => pixel(docId, r, colIdx)
            case 1 => chG(docId, r, colIdx)
            case _ => chB(docId, r, colIdx)
          }
          val up = prev(j)
          val left = if (j >= bpp) prev(j - bpp) else 0
          val ul = if (j >= bpp) ulBuf(ch) else 0
          val enc = ft match {
            case 0 => px
            case 1 => (px - left) & 0xff
            case 2 => (px - up) & 0xff
            case 3 => (px - (left + up) / 2) & 0xff
            case 4 =>
              val p = left + up - ul
              val (pa, pb, pc) =
                (math.abs(p - left), math.abs(p - up), math.abs(p - ul))
              val pred = if (pa <= pb && pa <= pc) left
                         else if (pb <= pc) up else ul
              (px - pred) & 0xff
          }
          raw(base + 1 + j) = enc.toByte
          ulBuf(ch) = up
          prev(j) = px
          j += 1
        }
        r += 1
      }
      wrapPng(w, h, 2, raw)
    }
  }

  def pngMedia(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    val spark2 = spark
    import spark2.implicits._
    t(spark, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => MediaRow(id, PngEncoder.encode(id))))
  }

  /** Decode a PNG binary column per-partition; non-PNG blobs drop. */
  def decodePng(media: Dataset[MediaRow]): Dataset[PngInfo] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.flatMap(m => PngDecoder.decode(m.doc_id, m.blob)))
  }

  /** Driver-checked exercise of the REAL [[PngDecoder]]: every output
    * field is oracle-checked — geometry/depth from the doc_id closed
    * forms and mean_px re-derived from the same pixel arithmetic as
    * mm_bmp (single channel) — so a bug anywhere in the deflate →
    * chunk → inflate → unfilter round-trip surfaces as a mismatch. */
  def mmPng(spark: SparkSession, dir: String): DataFrame =
    decodePng(pngMedia(spark, dir)).toDF()
      .select(col("doc_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("bit_depth").cast("long").as("bit_depth"),
        col("color_type").cast("long").as("color_type"),
        col("n_pixels"),
        round(col("mean_px"), 6).as("mean_px"))

  def pngRgbMedia(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    val spark2 = spark
    import spark2.implicits._
    t(spark, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => MediaRow(id, PngEncoder.encodeRgb(id))))
  }

  /** Truecolor PNG decode (color type 2): the corpus cycles ALL five
    * scanline filters at bpp = 3, so Sub/Average/Paeth run with their
    * references three bytes back — the classic filter-distance bug
    * class; per-channel means replay from distinct closed forms, so a
    * channel swap or off-by-bpp reference moves a mean. */
  def mmPngRgb(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    pngRgbMedia(spark, dir)
      .mapPartitions(_.flatMap(m => PngDecoder.decodeRgb(m.doc_id, m.blob)))
      .toDF()
      .select(col("doc_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("n_pixels"),
        round(col("mean_r"), 6).as("mean_r"),
        round(col("mean_g"), 6).as("mean_g"),
        round(col("mean_b"), 6).as("mean_b"))
  }

  final case class DispatchRow(doc_id: Long, format: String,
                               n_units: Long, witness: Double)

  /** FOUR-WAY CONTAINER DISPATCH — the shape of a real multimodal
    * table: one binary column whose format varies row to row
    * (GIF / JPEG / tar / gzip by doc_id mod 4), decoded in ONE
    * mapPartitions pass that dispatches on the container magic —
    * GIF8 header, the JPEG SOI marker, the ustar magic at offset
    * 257, the gzip 1f 8b — through the four REAL decoders. Per
    * format, one count witness and one value witness ride out, each
    * replayed by its family's closed form; an unrecognized blob
    * drops. The mm_decode pattern widened from 2 to 4 codecs, now
    * spanning image, entropy-coded image, archive, and compressed
    * text in a single relation. */
  def mmDispatch(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    t(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val blob = (id % 4) match {
          case 0 => Gif.encode(id)
          case 1 => Jpeg.encode(id)
          case 2 => Archives.encodeTar(id)
          case _ => Archives.encodeGzip(text)
        }
        (id, blob)
      })
      .map { case (id, blob) => MediaRow(id, blob) }
      .transform(dispatchDecode)
      .toDF()
      .select(col("doc_id"), col("format"), col("n_units"), col("witness"))
  }

  /** The magic-dispatch decode core over ANY relation of mixed-format
    * blobs, behind [[mmDispatch]]. */
  def dispatchDecode(media: Dataset[MediaRow]): Dataset[DispatchRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.flatMap { m =>
      val (id, b) = (m.doc_id, m.blob)
      if (b.length > 6 && new String(b, 0, 4, "US-ASCII") == "GIF8")
        Gif.decodeInfo(id, b).map(g =>
          DispatchRow(id, "gif", g.n_pixels,
            graft.expressions.RoundHalfUp.round(g.mean_px, 6)))
      else if (b.length > 2 && (b(0) & 0xff) == 0xff &&
               (b(1) & 0xff) == 0xd8)
        Jpeg.decodeInfo(id, b).map(j =>
          DispatchRow(id, "jpeg", j.n_blocks,
            graft.expressions.RoundHalfUp.round(j.mean_px, 6)))
      else if (b.length > 2 && (b(0) & 0xff) == 0x1f &&
               (b(1) & 0xff) == 0x8b)
        Archives.decodeGzip(id, b).map(g =>
          DispatchRow(id, "gzip", g.n_toks, g.n_bytes.toDouble))
      else if (b.length > 262 &&
               new String(b, 257, 5, "US-ASCII") == "ustar")
        Archives.decodeTarInfo(id, b).map(t =>
          DispatchRow(id, "tar", t.n_members, t.payload_sum.toDouble))
      else None
    })
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_meta" -> mmMeta,
    "mm_dispatch" -> mmDispatch,
    "mm_png_rgb" -> mmPngRgb,
    "mm_frames" -> mmFrames,
    "mm_wav" -> mmWav,
    "mm_resample" -> mmResample,
    "mm_tone" -> mmTone,
    "mm_vad" -> mmVad,
    "mm_bmp" -> mmBmp,
    "mm_resize" -> mmResize,
    "mm_ahash" -> mmAHash,
    "dedup_image" -> dedupImage,
    "dedup_image_screen" -> dedupImageScreen,
    "mm_png" -> mmPng,
    "mm_decode" -> mmDecode)

  val oracles: Map[String, String] = Map(
    // both legs in closed form: the wav leg re-derives mean |PCM| from
    // the sample stream (doc_id*31 + 7i mod 2^16, sign-extended), the
    // bmp leg reuses the mm_bmp pixel arithmetic. Even doc_ids are wav
    // (so n_channels = 1 + doc_id%2 = 1 ⇒ n_samples = frames), odd bmp.
    "mm_decode" ->
      """SELECT doc_id, 'wav' AS format,
        |  CAST(NULL AS BIGINT) AS width, CAST(NULL AS BIGINT) AS height,
        |  CAST(8000 + (doc_id % 4) * 4000 AS BIGINT) AS sample_rate,
        |  CAST(n_chars % 50 + 1 AS BIGINT) AS n_units,
        |  round((SELECT sum(abs(CASE WHEN s >= 32768 THEN s - 65536
        |                             ELSE s END))
        |         FROM (SELECT (doc_id*31 + g.i*7) % 65536 AS s
        |               FROM generate_series(1, 50) g(i)
        |               WHERE g.i <= n_chars % 50 + 1))
        |        / ((n_chars % 50 + 1) * 32768.0), 6) AS mean_signal
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, 'bmp' AS format,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(NULL AS BIGINT) AS sample_rate,
        |  CAST(w * h AS BIGINT) AS n_units,
        |  round((SELECT sum((doc_id*7 + (g.i // (w*3))*31 + (g.i % (w*3))*13) % 251)
        |         FROM generate_series(0, 119) g(i)
        |         WHERE g.i < h*w*3 AND (g.i % (w*3)) % 3 = 0) / (w*h*1.0), 6)
        |    AS mean_signal
        |FROM (SELECT doc_id, 2 + doc_id % 7 AS w, 1 + doc_id % 5 AS h
        |      FROM documents WHERE doc_id % 2 = 1)""".stripMargin,
    // full-res aHash replayed bit-exactly: per-pixel integer luminance
    // (B+G+R of the closed-form pixel bytes), strict cross-multiplied
    // mean test, bit p = y*w + x in top-down image space (storage is
    // bottom-up ⇒ storage row = h-1-y)
    "mm_ahash" ->
      """WITH g AS (
        |  SELECT doc_id, 2 + doc_id % 7 AS w, 1 + doc_id % 5 AS h
        |  FROM documents
        |), px AS (
        |  SELECT g.doc_id, g.w, g.h, ys.y, xs.x,
        |         ((g.doc_id*7 + (g.h-1-ys.y)*31 + (xs.x*3+0)*13) % 251
        |        + (g.doc_id*7 + (g.h-1-ys.y)*31 + (xs.x*3+1)*13) % 251
        |        + (g.doc_id*7 + (g.h-1-ys.y)*31 + (xs.x*3+2)*13) % 251) AS lum
        |  FROM g
        |  JOIN (SELECT unnest(generate_series(0, 4)) AS y) ys ON ys.y < g.h
        |  JOIN (SELECT unnest(generate_series(0, 7)) AS x) xs ON xs.x < g.w
        |), tot AS (
        |  SELECT doc_id, sum(lum) AS total, count(*) AS n
        |  FROM px GROUP BY doc_id
        |)
        |SELECT p.doc_id,
        |       CAST(max(p.w) AS BIGINT) AS width,
        |       CAST(max(p.h) AS BIGINT) AS height,
        |       CAST(max(t.n) AS BIGINT) AS n_bits,
        |       CAST(coalesce(sum(CASE WHEN p.lum * t.n > t.total
        |              THEN CAST(1 AS BIGINT) << (p.y * p.w + p.x) END), 0)
        |            AS BIGINT) AS ahash
        |FROM px p JOIN tot t ON p.doc_id = t.doc_id
        |GROUP BY p.doc_id""".stripMargin,
    // factor-2 coarse aHash, bucketed: same arithmetic at sampled
    // pixels (storage row h-1-2y, bytes x*6+c), grouped on
    // (geometry, hash) with the >=2 near-dup cut
    "dedup_image" ->
      """WITH g AS (
        |  SELECT doc_id, 2 + doc_id % 7 AS w, 1 + doc_id % 5 AS h
        |  FROM documents
        |), px AS (
        |  SELECT g.doc_id, g.w, g.h, (g.w+1)//2 AS ow, ys.y, xs.x,
        |         ((g.doc_id*7 + (g.h-1-ys.y*2)*31 + (xs.x*6+0)*13) % 251
        |        + (g.doc_id*7 + (g.h-1-ys.y*2)*31 + (xs.x*6+1)*13) % 251
        |        + (g.doc_id*7 + (g.h-1-ys.y*2)*31 + (xs.x*6+2)*13) % 251) AS lum
        |  FROM g
        |  JOIN (SELECT unnest(generate_series(0, 2)) AS y) ys
        |    ON ys.y < (g.h+1)//2
        |  JOIN (SELECT unnest(generate_series(0, 3)) AS x) xs
        |    ON xs.x < (g.w+1)//2
        |), tot AS (
        |  SELECT doc_id, sum(lum) AS total, count(*) AS n
        |  FROM px GROUP BY doc_id
        |), hashes AS (
        |  SELECT p.doc_id, max(p.w) AS w, max(p.h) AS h,
        |         coalesce(sum(CASE WHEN p.lum * t.n > t.total
        |                THEN CAST(1 AS BIGINT) << (p.y * p.ow + p.x) END), 0)
        |           AS ahash
        |  FROM px p JOIN tot t ON p.doc_id = t.doc_id
        |  GROUP BY p.doc_id
        |)
        |SELECT CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |       CAST(ahash AS BIGINT) AS ahash,
        |       count(*) AS n_images, min(doc_id) AS canonical_id
        |FROM hashes GROUP BY 1, 2, 3 HAVING count(*) >= 2""".stripMargin,
    // same hash CTE, parity-split: odd (crawl) hashes matched against
    // even (base) buckets
    "dedup_image_screen" ->
      """WITH g AS (
        |  SELECT doc_id, 2 + doc_id % 7 AS w, 1 + doc_id % 5 AS h
        |  FROM documents
        |), px AS (
        |  SELECT g.doc_id, g.w, g.h, (g.w+1)//2 AS ow, ys.y, xs.x,
        |         ((g.doc_id*7 + (g.h-1-ys.y*2)*31 + (xs.x*6+0)*13) % 251
        |        + (g.doc_id*7 + (g.h-1-ys.y*2)*31 + (xs.x*6+1)*13) % 251
        |        + (g.doc_id*7 + (g.h-1-ys.y*2)*31 + (xs.x*6+2)*13) % 251) AS lum
        |  FROM g
        |  JOIN (SELECT unnest(generate_series(0, 2)) AS y) ys
        |    ON ys.y < (g.h+1)//2
        |  JOIN (SELECT unnest(generate_series(0, 3)) AS x) xs
        |    ON xs.x < (g.w+1)//2
        |), tot AS (
        |  SELECT doc_id, sum(lum) AS total, count(*) AS n
        |  FROM px GROUP BY doc_id
        |), hashes AS (
        |  SELECT p.doc_id, max(p.w) AS w, max(p.h) AS h,
        |         coalesce(sum(CASE WHEN p.lum * t.n > t.total
        |                THEN CAST(1 AS BIGINT) << (p.y * p.ow + p.x) END), 0)
        |           AS ahash
        |  FROM px p JOIN tot t ON p.doc_id = t.doc_id
        |  GROUP BY p.doc_id
        |), base AS (
        |  SELECT w, h, ahash, count(*) AS n_base,
        |         min(doc_id) AS base_canonical
        |  FROM hashes WHERE doc_id % 2 = 0 GROUP BY 1, 2, 3
        |)
        |SELECT c.doc_id, CAST(c.w AS BIGINT) AS width,
        |       CAST(c.h AS BIGINT) AS height,
        |       CAST(c.ahash AS BIGINT) AS ahash,
        |       b.n_base, b.base_canonical
        |FROM hashes c
        |JOIN base b ON c.w = b.w AND c.h = b.h AND c.ahash = b.ahash
        |WHERE c.doc_id % 2 = 1""".stripMargin,
    "mm_bmp" ->
      """SELECT doc_id,
        |  CAST(w AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height,
        |  CAST(w * h AS BIGINT) AS n_pixels,
        |  CAST(54 + (w*3 + (4 - (w*3) % 4) % 4) * h AS BIGINT) AS file_size,
        |  round((SELECT sum((doc_id*7 + (g.i // (w*3))*31 + (g.i % (w*3))*13) % 251)
        |         FROM generate_series(0, 119) g(i)
        |         WHERE g.i < h*w*3 AND (g.i % (w*3)) % 3 = 0) / (w*h*1.0), 6) AS mean_b,
        |  round((SELECT sum((doc_id*7 + (g.i // (w*3))*31 + (g.i % (w*3))*13) % 251)
        |         FROM generate_series(0, 119) g(i)
        |         WHERE g.i < h*w*3 AND (g.i % (w*3)) % 3 = 1) / (w*h*1.0), 6) AS mean_g,
        |  round((SELECT sum((doc_id*7 + (g.i // (w*3))*31 + (g.i % (w*3))*13) % 251)
        |         FROM generate_series(0, 119) g(i)
        |         WHERE g.i < h*w*3 AND (g.i % (w*3)) % 3 = 2) / (w*h*1.0), 6) AS mean_r
        |FROM (SELECT doc_id, 2 + doc_id % 7 AS w, 1 + doc_id % 5 AS h
        |      FROM documents)""".stripMargin,
    // the resize kernel replayed: sampled image rows map to stored
    // rows h-1-2y (bottom-up), sampled pixels sit at byte 6x+c; the
    // flattened series indexes (y, x) as (i // ow, i % ow)
    "mm_resize" ->
      """SELECT doc_id,
        |  CAST(w AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height,
        |  CAST(ow AS BIGINT) AS out_w,
        |  CAST(oh AS BIGINT) AS out_h,
        |  CAST(ow * oh AS BIGINT) AS n_pixels_out,
        |  round((SELECT sum((doc_id*7 + (h-1-(g.i // ow)*2)*31
        |                     + ((g.i % ow)*6 + 0)*13) % 251)
        |         FROM generate_series(0, 11) g(i)
        |         WHERE g.i < ow*oh) / (ow*oh*1.0), 6) AS mean_b,
        |  round((SELECT sum((doc_id*7 + (h-1-(g.i // ow)*2)*31
        |                     + ((g.i % ow)*6 + 1)*13) % 251)
        |         FROM generate_series(0, 11) g(i)
        |         WHERE g.i < ow*oh) / (ow*oh*1.0), 6) AS mean_g,
        |  round((SELECT sum((doc_id*7 + (h-1-(g.i // ow)*2)*31
        |                     + ((g.i % ow)*6 + 2)*13) % 251)
        |         FROM generate_series(0, 11) g(i)
        |         WHERE g.i < ow*oh) / (ow*oh*1.0), 6) AS mean_r
        |FROM (SELECT doc_id, w, h, (w + 1) // 2 AS ow, (h + 1) // 2 AS oh
        |      FROM (SELECT doc_id, 2 + doc_id % 7 AS w, 1 + doc_id % 5 AS h
        |            FROM documents))""".stripMargin,
    // geometry/depth in closed form; mean_px re-derives the gray8 pixel
    // stream (the mm_bmp function, single channel) — the zlib/filter
    // round-trip must land on exactly these values
    "mm_png" ->
      """SELECT doc_id,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(8 AS BIGINT) AS bit_depth, CAST(0 AS BIGINT) AS color_type,
        |  CAST(w * h AS BIGINT) AS n_pixels,
        |  round((SELECT sum((doc_id*7 + (g.i // w)*31 + (g.i % w)*13) % 251)
        |         FROM generate_series(0, 39) g(i)
        |         WHERE g.i < w*h) / (w*h*1.0), 6) AS mean_px
        |FROM (SELECT doc_id, 2 + doc_id % 7 AS w, 1 + doc_id % 5 AS h
        |      FROM documents)""".stripMargin,
    "mm_wav" ->
      """SELECT doc_id,
        |  CAST(8000 + (doc_id % 4) * 4000 AS BIGINT) AS sample_rate,
        |  CAST(1 + doc_id % 2 AS BIGINT) AS n_channels,
        |  CAST(n_chars % 50 + 1 AS BIGINT) AS n_samples,
        |  round((n_chars % 50 + 1) * 1000.0 / (8000 + (doc_id % 4) * 4000), 6)
        |    AS duration_ms
        |FROM documents""".stripMargin,
    // integer Goertzel replayed through the recursion's CLOSED FORM:
    // q_N = Σ x_t · u_{(N−t) mod 6} with u = [1,1,0,−1,−1,0] (the
    // period-6 homogeneous solution of q_t = x_t + q_{t−1} − q_{t−2});
    // channel-0 sample of frame t is payload index (t−1)·nch + 1
    // per-format closed forms, one branch per doc_id mod 4 — the
    // gif/jpeg/tar/gzip family oracles' arithmetic, unioned
    "mm_dispatch" ->
      """SELECT doc_id, 'gif' AS format,
        |  CAST((4 + doc_id % 9) * (3 + doc_id % 6) AS BIGINT) AS n_units,
        |  round((SELECT sum((doc_id*7 + (c.k // (4 + doc_id % 9))*31
        |                     + (c.k % (4 + doc_id % 9))*13) % 251)
        |         FROM (SELECT unnest(generate_series(0, 116)) AS k) c
        |         WHERE c.k < (4 + doc_id % 9) * (3 + doc_id % 6))
        |        / ((4 + doc_id % 9) * (3 + doc_id % 6) * 1.0), 6)
        |    AS witness
        |FROM documents WHERE doc_id % 4 = 0
        |UNION ALL
        |SELECT doc_id, 'jpeg' AS format,
        |  CAST((1 + doc_id % 3) * (1 + doc_id % 2) AS BIGINT) AS n_units,
        |  round((SELECT avg(128 + 2 * (((doc_id + 7*g.i) % 9) - 4))
        |         FROM generate_series(0, 5) g(i)
        |         WHERE g.i < (1 + doc_id % 3) * (1 + doc_id % 2)), 6)
        |    AS witness
        |FROM documents WHERE doc_id % 4 = 1
        |UNION ALL
        |SELECT doc_id, 'tar' AS format,
        |  CAST(1 + doc_id % 3 AS BIGINT) AS n_units,
        |  CAST((SELECT sum(((doc_id*3 + i.i*11) % 16 + j.j*7) % 256)
        |        FROM (SELECT unnest(generate_series(0, 2)) AS i) i,
        |             (SELECT unnest(generate_series(0, 99)) AS j) j
        |        WHERE i.i < 1 + doc_id % 3
        |          AND j.j < 1 + (doc_id*7 + i.i*13) % 100) AS DOUBLE)
        |    AS witness
        |FROM documents WHERE doc_id % 4 = 2
        |UNION ALL
        |SELECT doc_id, 'gzip' AS format,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_units,
        |  CAST(octet_length(CAST(text AS BLOB)) AS DOUBLE) AS witness
        |FROM documents WHERE doc_id % 4 = 3""".stripMargin,
    // truecolor replay: per-channel means over the three closed forms
    // (R = the gray pixel rule, G/B their own linear rules) — the
    // decode path recovers them through deflate → chunk → inflate →
    // bpp-3 unfilter across all five filter types
    "mm_png_rgb" ->
      """WITH p AS (
        |  SELECT doc_id, 2 + doc_id % 7 AS w, 1 + doc_id % 5 AS h
        |  FROM documents
        |), s AS (
        |  SELECT p.doc_id, p.w, p.h,
        |    sum((p.doc_id*7  + r.r*31 + j.j*13) % 251) AS sr,
        |    sum((p.doc_id*11 + r.r*17 + j.j*19) % 251) AS sg,
        |    sum((p.doc_id*13 + r.r*23 + j.j*29) % 251) AS sb
        |  FROM p
        |  JOIN (SELECT unnest(generate_series(0, 4)) AS r) r ON r.r < p.h
        |  JOIN (SELECT unnest(generate_series(0, 7)) AS j) j ON j.j < p.w
        |  GROUP BY 1, 2, 3
        |)
        |SELECT doc_id, CAST(w AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height,
        |  CAST(w * h AS BIGINT) AS n_pixels,
        |  round(sr / (w * h * 1.0), 6) AS mean_r,
        |  round(sg / (w * h * 1.0), 6) AS mean_g,
        |  round(sb / (w * h * 1.0), 6) AS mean_b
        |FROM s""".stripMargin,
    // full VAD replay: channel-0 sample stream → 8-frame windows
    // (partial tail dropped via (nf // 8) * 8) → integer energies →
    // threshold at 2e9 → run-length collapse via lag() — every stage
    // of the segmentation re-derived, so a drift in windowing, sign
    // extension, the ≥ boundary, or the segment transition rule all
    // surface as value mismatches. Docs shorter than one window keep
    // their zero row through the LEFT JOIN.
    "mm_vad" ->
      """WITH p AS (
        |  SELECT doc_id, 1 + doc_id % 2 AS nch, n_chars % 50 + 1 AS nf
        |  FROM documents
        |), x AS (
        |  SELECT p.doc_id, (t.t-1) // 8 AS w,
        |    CASE WHEN (p.doc_id*31 + ((t.t-1)*p.nch + 1)*7) % 65536 >= 32768
        |         THEN (p.doc_id*31 + ((t.t-1)*p.nch + 1)*7) % 65536 - 65536
        |         ELSE (p.doc_id*31 + ((t.t-1)*p.nch + 1)*7) % 65536 END AS x
        |  FROM p JOIN (SELECT unnest(generate_series(1, 48)) AS t) t
        |    ON t.t <= (p.nf // 8) * 8
        |), e AS (
        |  SELECT doc_id, w, sum(x * x) AS en FROM x GROUP BY doc_id, w
        |), v AS (
        |  SELECT doc_id, w, en,
        |    CASE WHEN en >= 2000000000 THEN 1 ELSE 0 END AS vo,
        |    CASE WHEN en >= 2000000000 AND coalesce(
        |           lag(CASE WHEN en >= 2000000000 THEN 1 ELSE 0 END)
        |             OVER (PARTITION BY doc_id ORDER BY w), 0) = 0
        |         THEN 1 ELSE 0 END AS seg_start
        |  FROM e
        |), agg AS (
        |  SELECT doc_id, count(*) AS n_windows, sum(vo) AS n_voiced,
        |         sum(seg_start) AS n_segments,
        |         sum(CASE WHEN vo = 1 THEN en ELSE 0 END) AS voiced_energy
        |  FROM v GROUP BY doc_id
        |)
        |SELECT p.doc_id,
        |  CAST(coalesce(a.n_windows, 0) AS BIGINT) AS n_windows,
        |  CAST(coalesce(a.n_voiced, 0) AS BIGINT) AS n_voiced,
        |  CAST(coalesce(a.n_segments, 0) AS BIGINT) AS n_segments,
        |  CAST(coalesce(a.voiced_energy, 0) AS BIGINT) AS voiced_energy
        |FROM p LEFT JOIN agg a ON p.doc_id = a.doc_id""".stripMargin,
    "mm_tone" ->
      """WITH p AS (
        |  SELECT doc_id, 1 + doc_id % 2 AS nch, n_chars % 50 + 1 AS nf
        |  FROM documents
        |), x AS (
        |  SELECT p.doc_id, p.nf, t.t,
        |    CASE WHEN (p.doc_id*31 + ((t.t-1)*p.nch + 1)*7) % 65536 >= 32768
        |         THEN (p.doc_id*31 + ((t.t-1)*p.nch + 1)*7) % 65536 - 65536
        |         ELSE (p.doc_id*31 + ((t.t-1)*p.nch + 1)*7) % 65536 END AS x
        |  FROM p JOIN (SELECT unnest(generate_series(1, 50)) AS t) t
        |    ON t.t <= p.nf
        |), q AS (
        |  SELECT doc_id, max(nf) AS nf,
        |    sum(x * (CASE (nf - t) % 6 WHEN 0 THEN 1 WHEN 1 THEN 1
        |             WHEN 2 THEN 0 WHEN 3 THEN -1 WHEN 4 THEN -1
        |             ELSE 0 END)) AS qn,
        |    sum(CASE WHEN t <= nf - 1 THEN
        |        x * (CASE (nf - 1 - t) % 6 WHEN 0 THEN 1 WHEN 1 THEN 1
        |             WHEN 2 THEN 0 WHEN 3 THEN -1 WHEN 4 THEN -1
        |             ELSE 0 END) ELSE 0 END) AS qn1
        |  FROM x GROUP BY doc_id
        |)
        |SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
        |       CAST(qn*qn + qn1*qn1 - qn*qn1 AS BIGINT) AS tone_power
        |FROM q""".stripMargin,
    // payload replay: sample i = (doc_id*31 + i*7) mod 65536, signed;
    // frame/channel bounds are the synthesis constants (<=25 output
    // frames, <=2 channels), correlated via WHERE because DuckDB's
    // generate_series cannot take lateral bounds.
    // floor(x/2.0), NOT x // 2: DuckDB's integer // TRUNCATES toward
    // zero while the engine floor-divides (Math.floorDiv — the
    // documented resample semantic). The two agree on the sf0.001/
    // sf0.01 gates because samples (doc_id*31 + i*7) % 65536 only wrap
    // negative from doc_id ≈ 1045 upward — the sf0.1 oracle run this
    // divergence was caught by (round 18) is exactly the scale-
    // dependent-constant probe VERDICT r17 task 4 asked for. The
    // float floor is integer-exact per term: each floor((a+b)/2.0)
    // has |a+b| < 2^17, far inside double's exact-integer range, and
    // the per-doc sum is at most 50 such terms (nfo <= 25, nch <= 2),
    // so the BIGINT cast loses nothing.
    "mm_resample" ->
      """SELECT doc_id, CAST(rate_out AS BIGINT) AS rate_out,
        |  CAST(nfo AS BIGINT) AS n_frames_out,
        |  CAST(coalesce((
        |    SELECT sum(CAST(floor((
        |                 CASE WHEN ua >= 32768 THEN ua - 65536 ELSE ua END
        |               + CASE WHEN ub >= 32768 THEN ub - 65536 ELSE ub END
        |               ) / 2.0) AS BIGINT))
        |    FROM (
        |      SELECT (doc_id * 31 + ((2 * j.g - 2) * nch + c.g) * 7) % 65536
        |               AS ua,
        |             (doc_id * 31 + ((2 * j.g - 1) * nch + c.g) * 7) % 65536
        |               AS ub
        |      FROM generate_series(1, 25) j(g), generate_series(1, 2) c(g)
        |      WHERE j.g <= nfo AND c.g <= nch)
        |  ), 0) AS BIGINT) AS sum_out
        |FROM (SELECT doc_id, 1 + doc_id % 2 AS nch,
        |             (n_chars % 50 + 1) // 2 AS nfo,
        |             (8000 + (doc_id % 4) * 4000) // 2 AS rate_out
        |      FROM documents)""".stripMargin,
    "mm_frames" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |  CAST((octet_length(encode(text)) + 99) // 100 AS BIGINT)
        |    AS n_frames
        |FROM documents""".stripMargin,
    "mm_meta" ->
      """SELECT doc_id, n_bytes,
        |  md5(text) AS content_md5,
        |  substr(hexstr, 1, 16) AS header_hex,
        |  array_to_string(
        |    list_transform(generate_series(1, (n_bytes + 99) // 100),
        |      i -> substr(hexstr, CAST((i - 1) * 200 + 1 AS INT), 2)),
        |    ',') AS frame_sample
        |FROM (SELECT doc_id, text, octet_length(encode(text))
        |        AS n_bytes, hex(encode(text)) AS hexstr
        |      FROM documents)""".stripMargin)
}
