package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.operators.Multimodal.MediaRow

/** Archive/compression containers — the INGEST formats a training-data
  * pipeline actually receives corpora in: POSIX ustar tar (the
  * WebDataset shard shape: many small members per archive, read
  * sequentially at scan speed) and gzip members (RFC 1952: header,
  * raw-deflate body, CRC32 + ISIZE trailer). Both decoders are real
  * and general for their scope; both syntheses run in the same
  * mapPartitions pass (the PngEncoder rule — deflate and 512-byte
  * block grammar cannot be expressed as hex columns).
  *
  * Scale posture: identical to the codec family — decode is a
  * mapPartitions projection over a 1-column scan, no shuffle; a
  * 100 TB corpus of tar shards streams member rows out at scan
  * speed, which is exactly how WebDataset-style loaders consume it.
  *
  * Reference scope note: the reference engine (KMeans.java) has no
  * container path at all; this is extension surface mandated by the
  * builder brief's multimodal/pipeline requirement. */
object Archives {

  // -------------------------------------------------------------------
  // ustar tar
  // -------------------------------------------------------------------

  def membersOf(docId: Long): Int = (1 + docId % 3).toInt
  def memberLenOf(docId: Long, i: Int): Int =
    (1 + (docId * 7 + i * 13L) % 100).toInt
  /** Payload byte j of member i: a mod-16 start value plus a 7-byte
    * stride. The narrow start space is deliberate — it makes GENUINE
    * cross-archive duplicates exist in a 500-doc corpus (docs 400
    * apart share (start, length) for equal i; with a mod-256 start
    * the smallest colliding doc distance is 4018 — no duplicates to
    * dedup). */
  def memberByteOf(docId: Long, i: Int, j: Int): Int =
    (((docId * 3 + i * 11L) % 16 + j * 7L) % 256).toInt

  private def octal(v: Long, width: Int): Array[Byte] = {
    val s = java.lang.Long.toOctalString(v)
    val pad = "0" * (width - 1 - s.length) + s
    (pad + "\u0000").getBytes("US-ASCII")
  }

  /** General POSIX ustar writer over (name, payload) members —
    * correct checksums, 512 padding, two zero end-blocks. Serves the
    * synthetic corpus AND the shard-writer egress path. */
  def buildTar(members: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    members.foreach { case (name, data) =>
      val hdr = new Array[Byte](512)
      val nb = name.getBytes("US-ASCII")
      System.arraycopy(nb, 0, hdr, 0, nb.length)
      System.arraycopy("0000644".getBytes ++ Array(0.toByte), 0, hdr, 100, 8)
      System.arraycopy(octal(0, 8), 0, hdr, 108, 8) // uid
      System.arraycopy(octal(0, 8), 0, hdr, 116, 8) // gid
      System.arraycopy(octal(data.length.toLong, 12), 0, hdr, 124, 12)
      System.arraycopy(octal(0, 12), 0, hdr, 136, 12) // mtime
      java.util.Arrays.fill(hdr, 148, 156, ' '.toByte) // chksum as spaces
      hdr(156) = '0' // regular file
      System.arraycopy("ustar 00".getBytes("US-ASCII"), 0, hdr, 257, 8)
      var sum = 0L
      var k = 0
      while (k < 512) { sum += hdr(k) & 0xff; k += 1 }
      val cs = java.lang.Long.toOctalString(sum)
      val csPad = "0" * (6 - cs.length) + cs
      System.arraycopy(csPad.getBytes("US-ASCII"), 0, hdr, 148, 6)
      hdr(154) = 0; hdr(155) = ' '
      out.write(hdr)
      val payload = new Array[Byte](((data.length + 511) / 512) * 512)
      System.arraycopy(data, 0, payload, 0, data.length)
      out.write(payload)
    }
    out.write(new Array[Byte](1024)) // end-of-archive
    out.toByteArray
  }

  /** One POSIX ustar archive per document: [[membersOf]] members with
    * deterministic names/sizes/payloads. */
  def encodeTar(docId: Long): Array[Byte] =
    buildTar((0 until membersOf(docId)).map { i =>
      val len = memberLenOf(docId, i)
      (s"doc$docId/part$i.txt",
        Array.tabulate(len)(j => memberByteOf(docId, i, j).toByte))
    })

  final case class TarMember(name: String, size: Long, payload_sum: Long,
                             content_md5: String)

  /** Walk a ustar archive: per-member header parse (NUL-terminated
    * name, octal size, UNSIGNED checksum verified against the
    * spaces-substituted header, ustar magic), payload extraction with
    * 512-padding, end at the double zero block. None on any
    * malformation — truncation, a bad checksum, a non-octal size, or
    * a missing terminator. Non-file typeflags are skipped but still
    * advance the cursor by their padded size. */
  def decodeTar(blob: Array[Byte]): Option[Vector[TarMember]] = {
    var p = 0
    var members = Vector.empty[TarMember]
    def isZeroBlock(off: Int): Boolean = {
      var k = off
      while (k < off + 512) { if (blob(k) != 0) return false; k += 1 }
      true
    }
    while (true) {
      if (p + 512 > blob.length) return None // no end-of-archive marker
      if (isZeroBlock(p)) {
        if (p + 1024 > blob.length || !isZeroBlock(p + 512)) return None
        return Some(members)
      }
      // checksum: unsigned byte sum with the chksum field as spaces
      var sum = 0L
      var k = 0
      while (k < 512) {
        sum += (if (k >= 148 && k < 156) ' '.toInt else blob(p + k) & 0xff)
        k += 1
      }
      def field(off: Int, len: Int): String = {
        val end = (off until off + len)
          .find(i => blob(p + i) == 0 || blob(p + i) == ' ')
          .getOrElse(off + len)
        new String(blob, p + off, end - off, "US-ASCII")
      }
      val stored = try java.lang.Long.parseLong(field(148, 8).trim, 8)
      catch { case _: NumberFormatException => return None }
      if (stored != sum) return None
      if (field(257, 6) != "ustar") return None
      val size = try java.lang.Long.parseLong(field(124, 12).trim, 8)
      catch { case _: NumberFormatException => return None }
      if (size < 0 || size > blob.length) return None
      val name = field(0, 100)
      val typeflag = blob(p + 156)
      val dataAt = p + 512
      val padded = ((size + 511) / 512) * 512
      if (dataAt + padded > blob.length) return None
      if (typeflag == '0'.toByte || typeflag == 0.toByte) {
        var s = 0L
        var j = 0
        while (j < size) { s += blob(dataAt + j) & 0xff; j += 1 }
        val md = java.security.MessageDigest.getInstance("MD5")
        md.update(blob, dataAt, size.toInt)
        val hex = md.digest().map(b => f"${b & 0xff}%02x").mkString
        members :+= TarMember(name, size, s, hex)
      }
      p = dataAt + padded.toInt
    }
    None
  }

  final case class TarInfo(doc_id: Long, n_members: Long,
                           total_bytes: Long, payload_sum: Long)

  def decodeTarInfo(docId: Long, blob: Array[Byte]): Option[TarInfo] =
    decodeTar(blob).map { ms =>
      TarInfo(docId, ms.size.toLong, ms.map(_.size).sum,
        ms.map(_.payload_sum).sum)
    }

  def tarMedia(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    val spark2 = spark
    import spark2.implicits._
    t(spark, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => MediaRow(id, encodeTar(id))))
  }

  /** Driver-gated tar walk: member count, total member bytes, and the
    * integer payload sum all replay closed-form — a skipped member,
    * a mis-advanced cursor (padding), or payload bytes read from the
    * wrong offset move a witness. */
  def mmTar(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    tarMedia(spark, dir)
      .mapPartitions(_.flatMap(m => decodeTarInfo(m.doc_id, m.blob)))
      .toDF()
      .select(col("doc_id"), col("n_members"), col("total_bytes"),
        col("payload_sum"))
  }

  final case class TarMemberRow(doc_id: Long, name: String, size: Long,
                                payload_sum: Long, content_md5: String)

  /** All members of all archives as rows — the WebDataset ingest
    * relation (one mapPartitions walk, no shuffle). */
  def tarMemberRows(spark: SparkSession, dir: String)
      : Dataset[TarMemberRow] = tarMembersOf(tarMedia(spark, dir))

  /** Member rows of ANY relation of tar blobs. */
  def tarMembersOf(media: Dataset[MediaRow]): Dataset[TarMemberRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.flatMap { m =>
      decodeTar(m.blob).toSeq.flatten.map(tm =>
        TarMemberRow(m.doc_id, tm.name, tm.size, tm.payload_sum,
          tm.content_md5))
    })
  }

  /** CROSS-ARCHIVE MEMBER DEDUP — exact dedup composed onto the
    * container walk (the WebDataset shape: the same image/text file
    * shipped inside many shards): members grouped by the MD5 of
    * their ACTUAL decoded bytes (one hash-partitioned aggregation,
    * linear — the dedup_exact rule), duplicate groups keep their
    * (doc_id, name)-minimal member. The DuckDB oracle derives the
    * same groups from the synthesis closed form (payload byte j =
    * start + 7j mod 256 ⇒ content equality ⟺ equal (length, start)),
    * so the engine-side hash grouping is verified against an
    * INDEPENDENT characterization of content equality. */
  def dedupMembers(spark: SparkSession, dir: String): DataFrame =
    tarMemberRows(spark, dir)
      .groupBy(col("content_md5"), col("size"))
      .agg(count(lit(1)).as("n_copies"),
        min(struct(col("doc_id"), col("name"))).as("keep"))
      .where(col("n_copies") >= 2)
      .select(col("size"), col("n_copies"),
        col("keep.doc_id").as("keep_doc"), col("keep.name").as("keep_name"))

  // -------------------------------------------------------------------
  // zip (stored method) — the third container over the same members
  // -------------------------------------------------------------------

  /** PKZIP writer, stored (method 0) members: local file headers with
    * CRC32s, central directory, end-of-central-directory record. */
  def buildZip(members: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def u32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
    }
    val entries = members.map { case (name, data) =>
      val crc = new java.util.zip.CRC32()
      crc.update(data)
      val offset = out.size()
      u32(0x04034b50L) // local file header
      u16(20); u16(0); u16(0) // version, flags, method 0 (stored)
      u16(0); u16(0)          // mtime, mdate
      u32(crc.getValue)
      u32(data.length.toLong); u32(data.length.toLong)
      val nb = name.getBytes("US-ASCII")
      u16(nb.length); u16(0)
      out.write(nb)
      out.write(data)
      (name, data.length.toLong, crc.getValue, offset.toLong)
    }
    val cdStart = out.size()
    entries.foreach { case (name, size, crc, offset) =>
      u32(0x02014b50L) // central directory entry
      u16(20); u16(20); u16(0); u16(0)
      u16(0); u16(0)
      u32(crc); u32(size); u32(size)
      val nb = name.getBytes("US-ASCII")
      u16(nb.length); u16(0); u16(0)
      u16(0); u16(0) // disk, internal attrs
      u32(0)         // external attrs
      u32(offset)
      out.write(nb)
    }
    val cdSize = out.size() - cdStart
    u32(0x06054b50L) // EOCD
    u16(0); u16(0)
    u16(entries.size); u16(entries.size)
    u32(cdSize.toLong); u32(cdStart.toLong)
    u16(0) // no comment
    out.toByteArray
  }

  def encodeZip(docId: Long): Array[Byte] =
    buildZip((0 until membersOf(docId)).map { i =>
      val len = memberLenOf(docId, i)
      (s"doc$docId/part$i.txt",
        Array.tabulate(len)(j => memberByteOf(docId, i, j).toByte))
    })

  /** Walk a stored-method zip the way real readers do — from the END:
    * locate the EOCD record, follow its central-directory pointer,
    * and for every CD entry cross-check the local header AND the
    * CRC32 of the stored bytes. None on any malformation: missing or
    * truncated EOCD/CD, entry-count or size mismatches, a compressed
    * member (out of scope), or a payload whose CRC disagrees. */
  def decodeZip(blob: Array[Byte]): Option[Vector[TarMember]] = {
    try {
      def u16(off: Int): Int =
        (blob(off) & 0xff) | ((blob(off + 1) & 0xff) << 8)
      def u32(off: Int): Long =
        (u16(off) & 0xffffL) | ((u16(off + 2) & 0xffffL) << 16)
      // EOCD: scan back from the end (comment can shift it)
      val eocd = (blob.length - 22 to math.max(0, blob.length - 22 - 80) by -1)
        .find(i => u32(i) == 0x06054b50L)
        .getOrElse(return None)
      val nEntries = u16(eocd + 10)
      if (u16(eocd + 8) != nEntries) return None // single-disk only
      val cdSize = u32(eocd + 12)
      val cdStart = u32(eocd + 16)
      if (cdStart + cdSize > eocd) return None
      var p = cdStart.toInt
      var members = Vector.empty[TarMember]
      var k = 0
      while (k < nEntries) {
        if (u32(p) != 0x02014b50L) return None
        val crc = u32(p + 16)
        val csize = u32(p + 20)
        val usize = u32(p + 24)
        if (u16(p + 10) != 0 || csize != usize) return None // stored only
        val nameLen = u16(p + 28)
        val extraLen = u16(p + 30)
        val commentLen = u16(p + 32)
        val lho = u32(p + 42).toInt
        val name = new String(blob, p + 46, nameLen, "US-ASCII")
        // local header cross-checks
        if (u32(lho) != 0x04034b50L) return None
        if (u16(lho + 8) != 0) return None // stored
        val lNameLen = u16(lho + 26)
        val lExtraLen = u16(lho + 28)
        if (lNameLen != nameLen) return None
        val dataAt = lho + 30 + lNameLen + lExtraLen
        if (dataAt + usize > blob.length) return None
        val data = java.util.Arrays.copyOfRange(blob, dataAt,
          dataAt + usize.toInt)
        val c = new java.util.zip.CRC32()
        c.update(data)
        if (c.getValue != crc) return None
        var s = 0L
        data.foreach(b => s += b & 0xff)
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(data).map(b => f"${b & 0xff}%02x").mkString
        members :+= TarMember(name, usize, s, hex)
        p += 46 + nameLen + extraLen + commentLen
        k += 1
      }
      Some(members)
    } catch { case _: Exception => None }
  }

  def decodeZipInfo(docId: Long, blob: Array[Byte]): Option[TarInfo] =
    decodeZip(blob).map { ms =>
      TarInfo(docId, ms.size.toLong, ms.map(_.size).sum,
        ms.map(_.payload_sum).sum)
    }

  /** Same member relation as [[mmTar]], through the zip grammar: the
    * oracle SQL is shared verbatim, so the two containers must agree
    * row for row — and with [[mmTarGz]] the three wire formats
    * triangulate one another. */
  def mmZip(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    t(spark, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => MediaRow(id, encodeZip(id))))
      .mapPartitions(_.flatMap(m => decodeZipInfo(m.doc_id, m.blob)))
      .toDF()
      .select(col("doc_id"), col("n_members"), col("total_bytes"),
        col("payload_sum"))
  }

  /** Compressed shards (.tar.gz — the wire format corpora actually
    * ship in): the gzip member wraps the whole archive; decode is
    * gunzip ∘ tar-walk, so every gate of BOTH layers (CRC32/ISIZE,
    * header checksums, end marker) guards the same rows. */
  def encodeTarGz(docId: Long): Array[Byte] = gzipBytes(encodeTar(docId))

  def decodeTarGzInfo(docId: Long, blob: Array[Byte]): Option[TarInfo] =
    gunzip(blob).flatMap(decodeTar).map { ms =>
      TarInfo(docId, ms.size.toLong, ms.map(_.size).sum,
        ms.map(_.payload_sum).sum)
    }

  def mmTarGz(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    t(spark, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => MediaRow(id, encodeTarGz(id))))
      .mapPartitions(_.flatMap(m => decodeTarGzInfo(m.doc_id, m.blob)))
      .toDF()
      .select(col("doc_id"), col("n_members"), col("total_bytes"),
        col("payload_sum"))
  }

  final case class TarShardInfo(shard: Long, n_members: Long,
                                total_bytes: Long)

  val PackShards = 8L

  /** TAR SHARD WRITER — the EGRESS half of the WebDataset story:
    * documents grouped into [[PackShards]] shards (hash of the key —
    * here doc_id so the oracle replays the assignment), each shard
    * built as ONE ustar blob with members in doc_id order, then
    * RE-DECODED through the real reader before reporting — the
    * self-check validates the bytes a consumer will see, not the
    * writer's intent. One shuffle (the group); a shard's members must
    * fit one task, the bound every shard format has (real deployments
    * size shards by rolling member count — the 8-shard split is the
    * test-corpus shape of the same plan). */
  def pipelinePackTar(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    t(spark, dir, "documents").select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .groupByKey(_._1 % PackShards)
      .mapGroups { (shard, it) =>
        val members = it.toArray.sortBy(_._1).map { case (id, text) =>
          (s"doc$id.txt", text.getBytes("UTF-8"))
        }
        val ms = decodeTar(buildTar(members.toSeq)).getOrElse(
          throw new IllegalStateException(s"shard $shard failed self-check"))
        TarShardInfo(shard, ms.size.toLong, ms.map(_.size).sum)
      }
      .toDF()
      .select(col("shard"), col("n_members"), col("total_bytes"))
  }

  // -------------------------------------------------------------------
  // gzip
  // -------------------------------------------------------------------

  /** RFC 1952 gzip member wrapping the document's UTF-8 text. */
  def encodeGzip(text: String): Array[Byte] =
    gzipBytes(text.getBytes("UTF-8"))

  /** RFC 1952 gzip member over arbitrary bytes (shared by the text
    * path and the .tar.gz composition). */
  def gzipBytes(bytes: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x1f, 0x8b, 0x08, 0, 0, 0, 0, 0, 0, 0xff)
      .map(_.toByte)) // magic, deflate, no flags, mtime 0, XFL 0, OS unknown
    val defl = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    defl.setInput(bytes)
    defl.finish()
    val buf = new Array[Byte](bytes.length + 64)
    var n = 0
    while (!defl.finished()) {
      val got = defl.deflate(buf)
      out.write(buf, 0, got)
      n += got
    }
    defl.end()
    val crc = new java.util.zip.CRC32()
    crc.update(bytes)
    def le32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
    }
    le32(crc.getValue)
    le32(bytes.length.toLong & 0xffffffffL)
    out.toByteArray
  }

  final case class GzipText(doc_id: Long, n_bytes: Long, n_toks: Long)

  /** Decode one gzip member: header validation (magic, deflate CM,
    * FEXTRA/FNAME/FCOMMENT/FHCRC skipping), raw-inflate body, CRC32
    * AND ISIZE verified against the recovered bytes. None on any
    * mismatch — a flipped payload bit fails the CRC, never yields
    * silently wrong text. */
  def decodeGzip(docId: Long, blob: Array[Byte]): Option[GzipText] =
    gunzip(blob).map { bytes =>
      val text = new String(bytes, "UTF-8")
      GzipText(docId, bytes.length.toLong,
        text.split(" ", -1).length.toLong)
    }

  /** The member walk shared by [[decodeGzip]] and the .tar.gz path:
    * header validation with optional-field skipping, raw inflate,
    * CRC32 + ISIZE verification; None on any mismatch. */
  def gunzip(blob: Array[Byte]): Option[Array[Byte]] = {
    try {
      if (blob.length < 18 || (blob(0) & 0xff) != 0x1f ||
          (blob(1) & 0xff) != 0x8b || (blob(2) & 0xff) != 8) return None
      val flg = blob(3) & 0xff
      var p = 10
      if ((flg & 4) != 0) { // FEXTRA
        val xlen = (blob(p) & 0xff) | ((blob(p + 1) & 0xff) << 8)
        p += 2 + xlen
      }
      if ((flg & 8) != 0) { while (blob(p) != 0) p += 1; p += 1 } // FNAME
      if ((flg & 16) != 0) { while (blob(p) != 0) p += 1; p += 1 } // FCOMMENT
      if ((flg & 2) != 0) p += 2 // FHCRC
      val inf = new java.util.zip.Inflater(true)
      inf.setInput(blob, p, blob.length - p - 8)
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      var done = inf.finished()
      while (!done) {
        val got = inf.inflate(buf)
        if (got > 0) out.write(buf, 0, got)
        done = inf.finished()
        // finished must win over needsInput: the final inflate call
        // both drains the input and completes the stream
        if (!done && got == 0 &&
            (inf.needsInput() || inf.needsDictionary())) {
          inf.end(); return None
        }
      }
      inf.end()
      val bytes = out.toByteArray
      val crc = new java.util.zip.CRC32()
      crc.update(bytes)
      def le32(off: Int): Long =
        (blob(off) & 0xffL) | ((blob(off + 1) & 0xffL) << 8) |
          ((blob(off + 2) & 0xffL) << 16) | ((blob(off + 3) & 0xffL) << 24)
      if (le32(blob.length - 8) != crc.getValue) return None
      if (le32(blob.length - 4) != (bytes.length.toLong & 0xffffffffL))
        return None
      Some(bytes)
    } catch { case _: Exception => None }
  }

  /** Compressed-text ingest: each document's text travels as a REAL
    * gzip member and is recovered through header parse → raw inflate
    * → CRC32/ISIZE verification; byte and whitespace-token counts
    * must equal what the PLAIN text column yields directly — the
    * oracle never sees the compressed bytes, so any corruption in
    * the round-trip breaks the match. */
  def mmGzipText(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    t(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        decodeGzip(id, encodeGzip(text))
      })
      .toDF()
      .select(col("doc_id"), col("n_bytes"), col("n_toks"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_tar" -> mmTar,
    "mm_tar_gz" -> mmTarGz,
    "mm_zip" -> mmZip,
    "dedup_members" -> dedupMembers,
    "pipeline_pack_tar" -> pipelinePackTar,
    "mm_gzip_text" -> mmGzipText)

  // members i < 1 + doc_id%3, lengths 1 + (7d+13i)%100, payload
  // bytes (3d+11i mod 16)+7j mod 256 — count, total bytes, and the
  // integer payload sum replayed over a ≤300-cell grid per doc.
  // Shared verbatim by mm_tar and mm_tar_gz: the .tar.gz pipeline
  // must recover the identical member relation through the extra
  // gunzip layer.
  private[operators] val tarInfoSql =
    """WITH p AS (
        |  SELECT doc_id, 1 + doc_id % 3 AS m FROM documents
        |), mem AS (
        |  SELECT p.doc_id, i.i,
        |         1 + (p.doc_id*7 + i.i*13) % 100 AS len
        |  FROM p JOIN (SELECT unnest(generate_series(0, 2)) AS i) i
        |    ON i.i < p.m
        |), pay AS (
        |  SELECT mem.doc_id,
        |         sum(((mem.doc_id*3 + mem.i*11) % 16 + j.j*7) % 256) AS psum
        |  FROM mem JOIN (SELECT unnest(generate_series(0, 99)) AS j) j
        |    ON j.j < mem.len
        |  GROUP BY 1
        |)
        |SELECT p.doc_id, CAST(p.m AS BIGINT) AS n_members,
        |  CAST((SELECT sum(len) FROM mem WHERE mem.doc_id = p.doc_id)
        |       AS BIGINT) AS total_bytes,
        |  CAST(pay.psum AS BIGINT) AS payload_sum
        |FROM p JOIN pay ON p.doc_id = pay.doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "mm_tar" -> tarInfoSql,
    "mm_tar_gz" -> tarInfoSql,
    "mm_zip" -> tarInfoSql,
    // the writer's witnesses from the PLAIN documents relation: shard
    // assignment, member count, byte totals — the engine reports them
    // from the re-decoded archive it just built
    "pipeline_pack_tar" ->
      """SELECT CAST(doc_id % 8 AS BIGINT) AS shard,
        |  count(*) AS n_members,
        |  CAST(sum(octet_length(CAST(text AS BLOB))) AS BIGINT)
        |    AS total_bytes
        |FROM documents GROUP BY 1""".stripMargin,
    // content equality for the synthesized payloads is characterized
    // by (length, start) — byte j = (3d+11i mod 16) + 7j mod 256 — so
    // the oracle derives duplicate groups WITHOUT hashing: an
    // independent witness that the engine's md5-of-decoded-bytes
    // grouping is true content equality. Within a group each archive
    // contributes at most one member (same doc, Δi∈{1,2}: 11·Δi ≡
    // 11/6 mod 16, never 0, or the lengths differ), so arg_min
    // recovers the keeper's member index.
    "dedup_members" ->
      """WITH mem AS (
        |  SELECT d.doc_id, i.i,
        |         1 + (d.doc_id*7 + i.i*13) % 100 AS len,
        |         (d.doc_id*3 + i.i*11) % 16 AS start
        |  FROM documents d
        |  JOIN (SELECT unnest(generate_series(0, 2)) AS i) i
        |    ON i.i < 1 + d.doc_id % 3
        |)
        |SELECT CAST(len AS BIGINT) AS size,
        |  count(*) AS n_copies,
        |  min(doc_id) AS keep_doc,
        |  'doc' || min(doc_id) || '/part' || arg_min(i, doc_id) || '.txt'
        |    AS keep_name
        |FROM mem GROUP BY len, start HAVING count(*) >= 2""".stripMargin,
    // the oracle reads the PLAIN text column — byte length and
    // whitespace token count — while the engine recovers the same
    // numbers through the gzip round-trip
    "mm_gzip_text" ->
      """SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |FROM documents""".stripMargin)
}
