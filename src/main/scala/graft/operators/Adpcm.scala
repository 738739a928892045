package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.operators.Multimodal.MediaRow

/** IMA ADPCM decode (WAV format tag 0x11) — the COMPRESSED audio
  * codec path, next to the PCM16 family the way JPEG sits next to
  * BMP: 4-bit differential samples through the standard step-size /
  * index-adjust tables, block header carrying the initial predictor
  * and step index, nibble order low-first. The decoder is REAL for
  * mono streams, single- OR multi-block (per-block state restart —
  * the format's seek feature): RIFF/fmt/fact/data walk, format-tag
  * and geometry validation, the full predictor recursion with both
  * clamps (predictor to int16, step index to [0, 88]). Stereo and
  * corrupt/truncated streams return None.
  *
  * The DuckDB oracle replays the ENTIRE recursion — step table,
  * nibble bit tests, sign handling, both clamps — as a recursive CTE
  * joining the 89-entry step table per iteration (the kmeans_full
  * precedent: sequential state in SQL via recursion), so every
  * decoded sample participates in the integer witnesses.
  *
  * Scale posture: the codec rule — one mapPartitions projection at
  * scan speed, tables built once per partition, no shuffle. */
object Adpcm {

  private[graft] val StepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)

  private[graft] val IndexTable: Array[Int] =
    Array(-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)

  // synthesis closed forms (replayed verbatim by the oracle)
  def nibblesOf(docId: Long, nChars: Long): Int =
    ((nChars % 40) + 8).toInt

  /** One decode step: (pred, idx, nibble) → (pred', idx'). */
  private[graft] def step(pred: Int, idx: Int, n: Int): (Int, Int) = {
    val s = StepTable(idx)
    var diff = s >> 3
    if ((n & 1) != 0) diff += s >> 2
    if ((n & 2) != 0) diff += s >> 1
    if ((n & 4) != 0) diff += s
    val p0 = if ((n & 8) != 0) pred - diff else pred + diff
    val p = math.max(-32768, math.min(32767, p0))
    val i = math.max(0, math.min(88, idx + IndexTable(n)))
    (p, i)
  }

  /** Per-block closed forms for the MULTI-block corpus: each block
    * carries its own header state (the format's seek/parallel-decode
    * feature) and its own nibble stream. */
  def blocksOf(docId: Long): Int = (1 + docId % 3).toInt
  def predInitOfBlock(docId: Long, b: Int): Int =
    (((docId * 37) + b * 101L) % 4001).toInt - 2000
  def idxInitOfBlock(docId: Long, b: Int): Int =
    ((docId + b * 7L) % 89).toInt
  def nibbleOfBlock(docId: Long, b: Int, t: Int): Int =
    ((docId * 5 + b * 13L + t * 3L) % 16).toInt

  /** WAV container, format tag 0x11 (IMA ADPCM), mono, `nBlocks`
    * blocks: fmt chunk with cbSize=2 + samplesPerBlock, fact chunk
    * with the true TOTAL sample count, data = per block a 4-byte
    * header (predictor int16 LE, step index u8, reserved 0) +
    * low-nibble-first packed deltas. */
  def encodeBlocks(docId: Long, nChars: Long, nBlocks: Int): Array[Byte] = {
    val nNib = nibblesOf(docId, nChars)
    val nibBytes = (nNib + 1) / 2
    val blockAlign = 4 + nibBytes
    val nSamples = 1 + nNib // per block
    val bb = java.nio.ByteBuffer
      .allocate(12 + 8 + 20 + 8 + 4 + 8 + nBlocks * blockAlign)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes)
    bb.putInt(4 + 8 + 20 + 8 + 4 + 8 + nBlocks * blockAlign)
    bb.put("WAVE".getBytes)
    bb.put("fmt ".getBytes); bb.putInt(20)
    bb.putShort(0x11) // IMA ADPCM
    bb.putShort(1)    // mono
    bb.putInt(8000)
    bb.putInt(8000 * blockAlign / math.max(1, nSamples)) // nominal rate
    bb.putShort(blockAlign.toShort)
    bb.putShort(4) // bits per sample
    bb.putShort(2) // cbSize
    bb.putShort(nSamples.toShort) // samples per block
    bb.put("fact".getBytes); bb.putInt(4); bb.putInt(nBlocks * nSamples)
    bb.put("data".getBytes); bb.putInt(nBlocks * blockAlign)
    var blk = 0
    while (blk < nBlocks) {
      bb.putShort(predInitOfBlock(docId, blk).toShort)
      bb.put(idxInitOfBlock(docId, blk).toByte)
      bb.put(0.toByte)
      var t = 1
      while (t <= nNib) {
        val lo = nibbleOfBlock(docId, blk, t)
        val hi = if (t + 1 <= nNib) nibbleOfBlock(docId, blk, t + 1) else 0
        bb.put((lo | (hi << 4)).toByte)
        t += 2
      }
      blk += 1
    }
    bb.array()
  }

  /** Single-block blob (block 0 of the multi-block forms). */
  def encode(docId: Long, nChars: Long): Array[Byte] =
    encodeBlocks(docId, nChars, 1)

  final case class AdpcmInfo(doc_id: Long, n_samples: Long,
                             sum_samples: Long, final_pred: Long)

  /** Decode a mono WAV-IMA-ADPCM blob, single- or multi-block (each
    * block restarts predictor/index from its own header — the
    * format's seek/parallel-decode feature). The witnesses:
    * sample count (header + fact cross-checked), the integer sum of
    * ALL decoded samples (every recursion step participates), and
    * the final predictor (order-sensitive — a swapped nibble or a
    * missed clamp shifts it). */
  def decode(docId: Long, b: Array[Byte]): Option[AdpcmInfo] = {
    try {
      def u16(off: Int): Int = (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
      def u32(off: Int): Long =
        (u16(off) & 0xffffL) | ((u16(off + 2) & 0xffffL) << 16)
      if (b.length < 12 ||
          new String(b, 0, 4, "US-ASCII") != "RIFF" ||
          new String(b, 8, 4, "US-ASCII") != "WAVE") return None
      var p = 12
      var fmtAt = -1
      var dataAt = -1
      var dataLen = -1
      var factSamples = -1L
      while (p + 8 <= b.length) {
        val cid = new String(b, p, 4, "US-ASCII")
        val clen = u32(p + 4).toInt
        if (clen < 0 || p + 8 + clen > b.length) return None
        cid match {
          case "fmt " => fmtAt = p + 8
          case "fact" => if (clen >= 4) factSamples = u32(p + 8)
          case "data" => dataAt = p + 8; dataLen = clen
          case _ => ()
        }
        p += 8 + clen + (clen & 1) // chunks are word-aligned
      }
      if (fmtAt < 0 || dataAt < 0) return None
      if (u16(fmtAt) != 0x11) return None // IMA ADPCM only
      if (u16(fmtAt + 2) != 1) return None // mono only
      val blockAlign = u16(fmtAt + 12)
      if (u16(fmtAt + 14) != 4) return None // 4-bit
      val samplesPerBlock = u16(fmtAt + 18)
      if (blockAlign < 4) return None
      // MULTI-block walk: each block restarts the predictor/index
      // from its own header — the format's seek point
      if (dataLen <= 0 || dataLen % blockAlign != 0) return None
      val nBlocks = dataLen / blockAlign
      val nNib = samplesPerBlock - 1
      if (nNib < 0 || (nNib + 1) / 2 > blockAlign - 4) return None
      var sum = 0L
      var pred = 0
      var blk = 0
      while (blk < nBlocks) {
        val base = dataAt + blk * blockAlign
        pred = (u16(base) << 16) >> 16
        var idx = b(base + 2) & 0xff
        if (idx > 88) return None
        if (b(base + 3) != 0) return None
        sum += pred
        var t = 0
        while (t < nNib) {
          val byte = b(base + 4 + t / 2) & 0xff
          val n = if (t % 2 == 0) byte & 0xf else byte >> 4
          val (p2, i2) = step(pred, idx, n)
          pred = p2; idx = i2
          sum += pred
          t += 1
        }
        blk += 1
      }
      if (factSamples >= 0 &&
          factSamples != nBlocks.toLong * samplesPerBlock) return None
      Some(AdpcmInfo(docId, nBlocks.toLong * samplesPerBlock, sum,
        pred.toLong))
    } catch { case _: Exception => None }
  }

  def adpcmMedia(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    val spark2 = spark
    import spark2.implicits._
    t(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, nc) => MediaRow(id, encode(id, nc)) })
  }

  def mmAdpcm(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    adpcmMedia(spark, dir)
      .mapPartitions(_.flatMap(m => decode(m.doc_id, m.blob)))
      .toDF()
      .select(col("doc_id"), col("n_samples"), col("sum_samples"),
        col("final_pred"))
  }

  // -------------------------------------------------------------------
  // μ-law (G.711) — the telephony companding codec, WAV format tag 7
  // -------------------------------------------------------------------

  /** G.711 μ-law expansion of one encoded byte — the canonical
    * table-free form: complement, 3-bit exponent, 4-bit mantissa,
    * bias 0x84, sign from bit 7 of the complemented byte. Pure
    * integer arithmetic, so the oracle replays it closed-form. */
  def ulawDecodeByte(b: Int): Int = {
    val u = (~b) & 0xff
    val t = (((u & 0x0f) << 3) + 0x84) << ((u & 0x70) >> 4)
    if ((u & 0x80) != 0) 0x84 - t else t - 0x84
  }

  def ulawSamplesOf(nChars: Long): Int = ((nChars % 50) + 1).toInt
  def ulawByteOf(docId: Long, i: Int): Int =
    ((docId * 31 + i * 7L) % 256).toInt

  /** WAV container for μ-law: format tag 7, 8 bits/sample, mono. */
  def encodeUlaw(docId: Long, nChars: Long): Array[Byte] = {
    val n = ulawSamplesOf(nChars)
    val bb = java.nio.ByteBuffer.allocate(12 + 8 + 18 + 8 + 4 + 8 + n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes); bb.putInt(4 + 8 + 18 + 8 + 4 + 8 + n)
    bb.put("WAVE".getBytes)
    bb.put("fmt ".getBytes); bb.putInt(18)
    bb.putShort(7)      // μ-law
    bb.putShort(1)      // mono
    bb.putInt(8000)
    bb.putInt(8000)     // byte rate = rate · 1 byte/sample
    bb.putShort(1)      // block align
    bb.putShort(8)      // bits per sample
    bb.putShort(0)      // cbSize
    bb.put("fact".getBytes); bb.putInt(4); bb.putInt(n)
    bb.put("data".getBytes); bb.putInt(n)
    var i = 1
    while (i <= n) { bb.put(ulawByteOf(docId, i).toByte); i += 1 }
    bb.array()
  }

  final case class UlawInfo(doc_id: Long, n_samples: Long, sum_pcm: Long,
                            sum_abs: Long)

  /** Decode a mono μ-law WAV blob: container walk (format tag 7,
    * 8-bit, mono, fact cross-check), per-byte G.711 expansion. */
  def decodeUlaw(docId: Long, b: Array[Byte]): Option[UlawInfo] = {
    try {
      def u16(off: Int): Int = (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
      def u32(off: Int): Long =
        (u16(off) & 0xffffL) | ((u16(off + 2) & 0xffffL) << 16)
      if (b.length < 12 ||
          new String(b, 0, 4, "US-ASCII") != "RIFF" ||
          new String(b, 8, 4, "US-ASCII") != "WAVE") return None
      var p = 12
      var fmtAt = -1
      var dataAt = -1
      var dataLen = -1
      var factSamples = -1L
      while (p + 8 <= b.length) {
        val cid = new String(b, p, 4, "US-ASCII")
        val clen = u32(p + 4).toInt
        if (clen < 0 || p + 8 + clen > b.length) return None
        cid match {
          case "fmt " => fmtAt = p + 8
          case "fact" => if (clen >= 4) factSamples = u32(p + 8)
          case "data" => dataAt = p + 8; dataLen = clen
          case _ => ()
        }
        p += 8 + clen + (clen & 1)
      }
      if (fmtAt < 0 || dataAt < 0) return None
      if (u16(fmtAt) != 7) return None    // μ-law only
      if (u16(fmtAt + 2) != 1) return None // mono only
      if (u16(fmtAt + 14) != 8) return None // 8-bit
      if (factSamples >= 0 && factSamples != dataLen.toLong) return None
      var sum = 0L
      var sumAbs = 0L
      var i = 0
      while (i < dataLen) {
        val s = ulawDecodeByte(b(dataAt + i) & 0xff)
        sum += s
        sumAbs += math.abs(s)
        i += 1
      }
      Some(UlawInfo(docId, dataLen.toLong, sum, sumAbs))
    } catch { case _: Exception => None }
  }

  def mmUlaw(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    t(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions(_.flatMap { case (id, nc) =>
        decodeUlaw(id, encodeUlaw(id, nc))
      })
      .toDF()
      .select(col("doc_id"), col("n_samples"), col("sum_pcm"),
        col("sum_abs"))
  }

  /** The MULTI-block corpus: 1 + doc_id%3 blocks per blob, each with
    * its own header state and nibble stream — the mm_adpcm witnesses
    * over the whole block walk (final_pred comes from the LAST
    * block, so a skipped or reordered block cannot cancel). */
  def mmAdpcmBlocks(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    t(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions(_.flatMap { case (id, nc) =>
        decode(id, encodeBlocks(id, nc, blocksOf(id)))
      })
      .toDF()
      .select(col("doc_id"), col("n_samples"), col("sum_samples"),
        col("final_pred"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_adpcm" -> mmAdpcm,
    "mm_adpcm_blocks" -> mmAdpcmBlocks,
    "mm_ulaw" -> mmUlaw)

  private def stepTableSql: String =
    StepTable.zipWithIndex
      .map { case (s, i) => s"($i, $s)" }.mkString(", ")
  private def indexTableSql: String =
    IndexTable.zipWithIndex
      .map { case (d, n) => s"($n, $d)" }.mkString(", ")

  val oracles: Map[String, String] = Map(
    // the FULL recursion in SQL: per doc, iterate t = 1..nNib with
    // state (pred, idx); each step joins the 89-entry step table,
    // applies the four bit tests, the sign, and both clamps — a
    // missed clamp, a swapped nibble order, or an off-by-one in the
    // index adjust all diverge the sum or the final predictor
    "mm_adpcm" ->
      s"""WITH RECURSIVE st(i, s) AS (VALUES $stepTableSql),
        |it(n, d) AS (VALUES $indexTableSql),
        |p AS (
        |  SELECT doc_id, (n_chars % 40) + 8 AS n_nib,
        |         CAST((doc_id * 37) % 4001 - 2000 AS BIGINT) AS p0,
        |         CAST(doc_id % 89 AS BIGINT) AS i0
        |  FROM documents
        |), rec AS (
        |  SELECT doc_id, n_nib, 0 AS t, p0 AS pred, i0 AS idx, p0 AS acc
        |  FROM p
        |  UNION ALL
        |  SELECT r.doc_id, r.n_nib, r.t + 1,
        |    greatest(-32768, least(32767,
        |      r.pred + CASE WHEN ((r.doc_id*5 + (r.t+1)*3) % 16) >= 8
        |                    THEN -1 ELSE 1 END *
        |        ((st.s // 8)
        |         + CASE WHEN ((r.doc_id*5 + (r.t+1)*3) % 16) % 2 = 1
        |                THEN st.s // 4 ELSE 0 END
        |         + CASE WHEN (((r.doc_id*5 + (r.t+1)*3) % 16) // 2) % 2 = 1
        |                THEN st.s // 2 ELSE 0 END
        |         + CASE WHEN (((r.doc_id*5 + (r.t+1)*3) % 16) // 4) % 2 = 1
        |                THEN st.s ELSE 0 END))) AS pred,
        |    greatest(0, least(88, r.idx + it.d)) AS idx,
        |    r.acc + greatest(-32768, least(32767,
        |      r.pred + CASE WHEN ((r.doc_id*5 + (r.t+1)*3) % 16) >= 8
        |                    THEN -1 ELSE 1 END *
        |        ((st.s // 8)
        |         + CASE WHEN ((r.doc_id*5 + (r.t+1)*3) % 16) % 2 = 1
        |                THEN st.s // 4 ELSE 0 END
        |         + CASE WHEN (((r.doc_id*5 + (r.t+1)*3) % 16) // 2) % 2 = 1
        |                THEN st.s // 2 ELSE 0 END
        |         + CASE WHEN (((r.doc_id*5 + (r.t+1)*3) % 16) // 4) % 2 = 1
        |                THEN st.s ELSE 0 END))) AS acc
        |  FROM rec r
        |  JOIN st ON st.i = r.idx
        |  JOIN it ON it.n = (r.doc_id*5 + (r.t+1)*3) % 16
        |  WHERE r.t < r.n_nib
        |)
        |SELECT doc_id, CAST(n_nib + 1 AS BIGINT) AS n_samples,
        |  CAST(acc AS BIGINT) AS sum_samples,
        |  CAST(pred AS BIGINT) AS final_pred
        |FROM rec WHERE t = n_nib""".stripMargin,
    // the multi-block replay: the same per-step recursion, now keyed
    // by (doc, block) with per-block seeds and the blk·13 nibble
    // term; the final aggregate sums every block's accumulator and
    // takes the LAST block's final predictor
    "mm_adpcm_blocks" ->
      s"""WITH RECURSIVE st(i, s) AS (VALUES $stepTableSql),
        |it(n, d) AS (VALUES $indexTableSql),
        |p AS (
        |  SELECT d.doc_id, (d.n_chars % 40) + 8 AS n_nib,
        |         1 + d.doc_id % 3 AS nb, g.blk
        |  FROM documents d
        |  JOIN (SELECT unnest(generate_series(0, 2)) AS blk) g
        |    ON g.blk < 1 + d.doc_id % 3
        |), rec AS (
        |  SELECT doc_id, n_nib, nb, blk, 0 AS t,
        |    CAST((doc_id * 37 + blk * 101) % 4001 - 2000 AS BIGINT) AS pred,
        |    CAST((doc_id + blk * 7) % 89 AS BIGINT) AS idx,
        |    CAST((doc_id * 37 + blk * 101) % 4001 - 2000 AS BIGINT) AS acc
        |  FROM p
        |  UNION ALL
        |  SELECT r.doc_id, r.n_nib, r.nb, r.blk, r.t + 1,
        |    greatest(-32768, least(32767,
        |      r.pred + CASE WHEN ((r.doc_id*5 + r.blk*13 + (r.t+1)*3) % 16) >= 8
        |                    THEN -1 ELSE 1 END *
        |        ((st.s // 8)
        |         + CASE WHEN ((r.doc_id*5 + r.blk*13 + (r.t+1)*3) % 16) % 2 = 1
        |                THEN st.s // 4 ELSE 0 END
        |         + CASE WHEN (((r.doc_id*5 + r.blk*13 + (r.t+1)*3) % 16) // 2) % 2 = 1
        |                THEN st.s // 2 ELSE 0 END
        |         + CASE WHEN (((r.doc_id*5 + r.blk*13 + (r.t+1)*3) % 16) // 4) % 2 = 1
        |                THEN st.s ELSE 0 END))) AS pred,
        |    greatest(0, least(88, r.idx + it.d)) AS idx,
        |    r.acc + greatest(-32768, least(32767,
        |      r.pred + CASE WHEN ((r.doc_id*5 + r.blk*13 + (r.t+1)*3) % 16) >= 8
        |                    THEN -1 ELSE 1 END *
        |        ((st.s // 8)
        |         + CASE WHEN ((r.doc_id*5 + r.blk*13 + (r.t+1)*3) % 16) % 2 = 1
        |                THEN st.s // 4 ELSE 0 END
        |         + CASE WHEN (((r.doc_id*5 + r.blk*13 + (r.t+1)*3) % 16) // 2) % 2 = 1
        |                THEN st.s // 2 ELSE 0 END
        |         + CASE WHEN (((r.doc_id*5 + r.blk*13 + (r.t+1)*3) % 16) // 4) % 2 = 1
        |                THEN st.s ELSE 0 END))) AS acc
        |  FROM rec r
        |  JOIN st ON st.i = r.idx
        |  JOIN it ON it.n = ((r.doc_id*5 + r.blk*13 + (r.t+1)*3) % 16)
        |  WHERE r.t < r.n_nib
        |)
        |SELECT doc_id,
        |  CAST(max(nb) * (max(n_nib) + 1) AS BIGINT) AS n_samples,
        |  CAST(sum(acc) AS BIGINT) AS sum_samples,
        |  CAST(max(CASE WHEN blk = nb - 1 THEN pred END) AS BIGINT)
        |    AS final_pred
        |FROM rec WHERE t = n_nib GROUP BY doc_id""".stripMargin,
    // G.711 expansion closed-form: u = 255 − byte, exponent
    // (u // 16) % 8, mantissa u % 16, bias 132, sign from u ≥ 128 —
    // pure integer arithmetic, both witnesses replayed per sample
    "mm_ulaw" ->
      """WITH p AS (
        |  SELECT doc_id, (n_chars % 50) + 1 AS n FROM documents
        |), x AS (
        |  SELECT p.doc_id, p.n,
        |    255 - (p.doc_id * 31 + i.i * 7) % 256 AS u
        |  FROM p JOIN (SELECT unnest(generate_series(1, 50)) AS i) i
        |    ON i.i <= p.n
        |), s AS (
        |  SELECT doc_id, n,
        |    CASE WHEN u >= 128
        |         THEN 132 - ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8))
        |         ELSE ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8)) - 132
        |    END AS pcm
        |  FROM x
        |)
        |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_samples,
        |  CAST(sum(pcm) AS BIGINT) AS sum_pcm,
        |  CAST(sum(abs(pcm)) AS BIGINT) AS sum_abs
        |FROM s GROUP BY doc_id""".stripMargin)
}
