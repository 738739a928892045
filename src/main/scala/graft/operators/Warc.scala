package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.operators.Multimodal.MediaRow

/** WARC (ISO 28500) — the container web crawls actually ship in
  * (Common Crawl, Internet Archive): a sequence of records, each a
  * `WARC/1.x` version line, CRLF-terminated named headers, a blank
  * line, a content block of exactly `Content-Length` bytes, and a
  * CRLF CRLF record separator. The reader here is real and general
  * for that grammar: case-insensitive header names, unknown headers
  * carried, non-`response` records (warcinfo, request, metadata)
  * skipped but cursor-advanced — the tar typeflag rule — and None on
  * ANY malformation (bad version line, missing/negative
  * Content-Length, truncated content, missing separators) so a
  * corrupt crawl file drops whole instead of emitting a partial
  * record list.
  *
  * The synthetic corpus carries the SAME member payloads as the tar/
  * zip/tar.gz containers ([[Archives.memberLenOf]]/
  * [[Archives.memberByteOf]], one leading warcinfo record ahead of
  * the response records), so `mm_warc` shares the tar oracle SQL
  * verbatim — four wire formats now triangulate one reader relation.
  *
  * Scale posture: identical to the container family — decode is a
  * mapPartitions projection over a 1-column scan, no shuffle; a
  * 100 TB crawl of WARC files streams response rows out at scan
  * speed. (Real crawls gzip each record; the gzip layer is already
  * proven by the .tar.gz composition — [[Archives.gunzip]] — and
  * composes the same way here.) */
object Warc {

  /** Fixed WARC-Date for the synthetic corpus — determinism, not a
    * clock. */
  val SynthDate = "2026-01-01T00:00:00Z"

  final case class WarcRecord(warc_type: String, target_uri: String,
                              size: Long, payload_sum: Long)

  private val Crlf = "\r\n".getBytes("US-ASCII")

  /** One WARC record: version line, headers, blank line, content,
    * record separator. */
  private def writeRecord(out: java.io.ByteArrayOutputStream,
                          headers: Seq[(String, String)],
                          content: Array[Byte]): Unit = {
    def line(s: String): Unit = {
      out.write(s.getBytes("US-ASCII")); out.write(Crlf)
    }
    line("WARC/1.0")
    headers.foreach { case (k, v) => line(s"$k: $v") }
    line(s"Content-Length: ${content.length}")
    out.write(Crlf)
    out.write(content)
    out.write(Crlf); out.write(Crlf)
  }

  /** General WARC writer over (uri, payload) responses, with the
    * leading warcinfo record real crawl files carry. */
  def buildWarc(docId: Long,
                responses: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    writeRecord(out, Seq(
      "WARC-Type" -> "warcinfo",
      "WARC-Record-ID" -> s"<urn:graft:doc$docId:info>",
      "WARC-Date" -> SynthDate),
      s"software: graft-synth\r\n".getBytes("US-ASCII"))
    responses.zipWithIndex.foreach { case ((uri, data), i) =>
      writeRecord(out, Seq(
        "WARC-Type" -> "response",
        "WARC-Record-ID" -> s"<urn:graft:doc$docId:$i>",
        "WARC-Date" -> SynthDate,
        "WARC-Target-URI" -> uri),
        data)
    }
    out.toByteArray
  }

  /** One WARC file per document over the SHARED container members —
    * [[Archives.membersOf]] responses with the tar corpus's
    * deterministic lengths and payload bytes. */
  def encodeWarc(docId: Long): Array[Byte] =
    buildWarc(docId, (0 until Archives.membersOf(docId)).map { i =>
      val len = Archives.memberLenOf(docId, i)
      (s"http://synth.graft/doc$docId/part$i",
        Array.tabulate(len)(j => Archives.memberByteOf(docId, i, j).toByte))
    })

  /** Walk a WARC file: per record, version line (`WARC/1.x`),
    * CRLF-terminated headers to the blank line (case-insensitive
    * names), a content block of exactly Content-Length bytes, then
    * the CRLF CRLF separator; records until exact EOF. None on any
    * malformation. `response` records yield rows; other types are
    * validated and skipped — their bytes still advance the cursor.
    * A stats view over the ONE validated walk
    * ([[decodeWarcOffsets]]). */
  def decodeWarc(blob: Array[Byte]): Option[Vector[WarcRecord]] =
    decodeWarcOffsets(blob).map(_.map { case (uri, off, len) =>
      var s = 0L
      var j = 0
      while (j < len) { s += blob(off + j) & 0xff; j += 1 }
      WarcRecord("response", uri, len.toLong, s)
    })

  /** One WARC record as standalone bytes — the unit `.warc.gz`
    * compresses per record. */
  private def recordBytes(headers: Seq[(String, String)],
                          content: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    writeRecord(out, headers, content)
    out.toByteArray
  }

  /** The COMMON CRAWL wire format: each WARC record gzip-compressed
    * SEPARATELY, members concatenated — so a consumer can seek to a
    * record boundary and read one record without inflating the rest
    * of the file (RFC 1952 explicitly allows multi-member streams;
    * WARC-GZ mandates record-per-member). Same leading warcinfo +
    * shared synthetic members as [[encodeWarc]]. */
  def encodeWarcGz(docId: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Archives.gzipBytes(recordBytes(Seq(
      "WARC-Type" -> "warcinfo",
      "WARC-Record-ID" -> s"<urn:graft:doc$docId:info>",
      "WARC-Date" -> SynthDate),
      "software: graft-synth\r\n".getBytes("US-ASCII"))))
    (0 until Archives.membersOf(docId)).foreach { i =>
      val len = Archives.memberLenOf(docId, i)
      out.write(Archives.gzipBytes(recordBytes(Seq(
        "WARC-Type" -> "response",
        "WARC-Record-ID" -> s"<urn:graft:doc$docId:$i>",
        "WARC-Date" -> SynthDate,
        "WARC-Target-URI" -> s"http://synth.graft/doc$docId/part$i"),
        Array.tabulate(len)(j => Archives.memberByteOf(docId, i, j).toByte))))
    }
    out.toByteArray
  }

  /** Walk a MULTI-MEMBER gzip stream (RFC 1952 §2.2: "a gzip file
    * consists of a series of members"): per member, header parse with
    * optional-field skipping, raw inflate tracking how many input
    * bytes the member consumed, CRC32 + ISIZE verified against ITS
    * OWN trailer, cursor advanced to the next member until exact EOF.
    * None on any malformation in ANY member — a flipped bit anywhere
    * refuses the whole stream ([[Archives.gunzip]]'s posture,
    * generalized). Single-member streams decode identically to
    * [[Archives.gunzip]]. */
  def gunzipMembers(blob: Array[Byte]): Option[Array[Byte]] = {
    try {
      val out = new java.io.ByteArrayOutputStream()
      var p = 0
      if (blob.length == 0) return None
      while (p < blob.length) {
        if (p + 18 > blob.length || (blob(p) & 0xff) != 0x1f ||
            (blob(p + 1) & 0xff) != 0x8b || (blob(p + 2) & 0xff) != 8)
          return None
        val flg = blob(p + 3) & 0xff
        var q = p + 10
        if ((flg & 4) != 0) {
          val xlen = (blob(q) & 0xff) | ((blob(q + 1) & 0xff) << 8)
          q += 2 + xlen
        }
        if ((flg & 8) != 0) { while (blob(q) != 0) q += 1; q += 1 }
        if ((flg & 16) != 0) { while (blob(q) != 0) q += 1; q += 1 }
        if ((flg & 2) != 0) q += 2
        val inf = new java.util.zip.Inflater(true)
        inf.setInput(blob, q, blob.length - q)
        val member = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](4096)
        var done = inf.finished()
        while (!done) {
          val got = inf.inflate(buf)
          if (got > 0) member.write(buf, 0, got)
          done = inf.finished()
          if (!done && got == 0 &&
              (inf.needsInput() || inf.needsDictionary())) {
            inf.end(); return None
          }
        }
        // the member consumed exactly (input − remaining) deflate
        // bytes; its 8-byte trailer sits right after
        val trailerAt = blob.length - inf.getRemaining
        inf.end()
        if (trailerAt + 8 > blob.length) return None
        val bytes = member.toByteArray
        val crc = new java.util.zip.CRC32()
        crc.update(bytes)
        def le32(off: Int): Long =
          (blob(off) & 0xffL) | ((blob(off + 1) & 0xffL) << 8) |
            ((blob(off + 2) & 0xffL) << 16) | ((blob(off + 3) & 0xffL) << 24)
        if (le32(trailerAt) != crc.getValue) return None
        if (le32(trailerAt + 4) != (bytes.length.toLong & 0xffffffffL))
          return None
        out.write(bytes)
        p = trailerAt + 8
      }
      Some(out.toByteArray)
    } catch { case _: Exception => None }
  }

  /** gunzip-members ∘ warc-walk — the `.warc.gz` read path: every
    * gate of BOTH layers (per-member CRC32/ISIZE, version/header
    * grammar, separators) guards the same rows. */
  def decodeWarcGz(blob: Array[Byte]): Option[Vector[WarcRecord]] =
    gunzipMembers(blob).flatMap(decodeWarc)

  /** Same witnesses as [[mmWarc]], recovered through the per-record
    * gzip layer — shares the tar oracle SQL verbatim, like
    * mm_tar_gz over mm_tar. */
  def mmWarcGz(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    t(spark, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => MediaRow(id, encodeWarcGz(id))))
      .mapPartitions(_.flatMap { m =>
        decodeWarcGz(m.blob).map { rs =>
          WarcInfo(m.doc_id, rs.size.toLong, rs.map(_.size).sum,
            rs.map(_.payload_sum).sum)
        }
      })
      .toDF()
      .select(col("doc_id"), col("n_members"), col("total_bytes"),
        col("payload_sum"))
  }

  def warcMedia(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    val spark2 = spark
    import spark2.implicits._
    t(spark, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => MediaRow(id, encodeWarc(id))))
  }

  final case class WarcInfo(doc_id: Long, n_members: Long,
                            total_bytes: Long, payload_sum: Long)

  /** Per-file rollup of ANY relation of WARC blobs. */
  def warcInfoOf(media: Dataset[MediaRow]): Dataset[WarcInfo] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.flatMap { m =>
      decodeWarc(m.blob).map { rs =>
        WarcInfo(m.doc_id, rs.size.toLong, rs.map(_.size).sum,
          rs.map(_.payload_sum).sum)
      }
    })
  }

  /** Driver-gated WARC walk: response count, total response bytes,
    * and the integer payload sum — the SAME witnesses, over the SAME
    * member relation, as mm_tar/mm_zip/mm_tar_gz (oracle SQL shared
    * verbatim). A skipped response, a cursor mis-advance at a
    * separator, or bytes read from the wrong offset move a witness;
    * the warcinfo record contributing anything breaks all three. */
  def mmWarc(spark: SparkSession, dir: String): DataFrame =
    warcInfoOf(warcMedia(spark, dir))
      .toDF()
      .select(col("doc_id"), col("n_members"), col("total_bytes"),
        col("payload_sum"))

  // -------------------------------------------------------------------
  // HTTP-in-WARC + HTML extraction — what response records actually
  // hold. A crawl pipeline gets at the text by unwrapping THREE
  // layers: WARC record → HTTP message → HTML markup.
  // -------------------------------------------------------------------

  /** Minimal deterministic HTML page around a document's text —
    * entities escaped exactly as a real generator must (& first on
    * escape, last on unescape). */
  def htmlPage(text: String): String = {
    val esc = text.replace("&", "&amp;").replace("<", "&lt;")
      .replace(">", "&gt;")
    s"<html><head><title>t</title></head><body><p>$esc</p></body></html>"
  }

  /** One HTTP/1.1 200 response message wrapping an HTML body — the
    * content block of a real crawl's WARC response record. */
  def httpResponse(html: String): Array[Byte] = {
    val body = html.getBytes("UTF-8")
    val head = ("HTTP/1.1 200 OK\r\n" +
      "Content-Type: text/html; charset=utf-8\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes("US-ASCII")
    head ++ body
  }

  /** A crawl file whose single response record holds the document's
    * page as a FULL HTTP message (warcinfo record ahead of it, as
    * ever). */
  def encodeWarcHttp(docId: Long, text: String): Array[Byte] =
    buildWarc(docId,
      Seq((s"http://synth.graft/doc$docId", httpResponse(htmlPage(text)))))

  final case class HttpInfo(status: Int, content_type: String,
                            body: Array[Byte])

  /** Parse one HTTP/1.1 response message: status line, CRLF headers
    * to the blank line (case-insensitive names), body of exactly
    * Content-Length bytes. None on malformation — bad status line,
    * non-numeric/missing Content-Length, or a short body. */
  def parseHttp(msg: Array[Byte]): Option[HttpInfo] = {
    def lineEnd(from: Int): Int = {
      var k = from
      while (k + 1 < msg.length) {
        if (msg(k) == '\r' && msg(k + 1) == '\n') return k
        k += 1
      }
      -1
    }
    val e0 = lineEnd(0)
    if (e0 < 0) return None
    val status = new String(msg, 0, e0, "US-ASCII").split(" ")
    if (status.length < 3 || !status(0).startsWith("HTTP/1.")) return None
    val code = try status(1).toInt
    catch { case _: NumberFormatException => return None }
    var p = e0 + 2
    var cType = ""
    var cLen = -1L
    while (true) {
      val e = lineEnd(p)
      if (e < 0) return None
      if (e == p) { // blank line: body follows
        if (cLen < 0 || p + 2 + cLen > msg.length) return None
        val body = java.util.Arrays.copyOfRange(msg, p + 2,
          p + 2 + cLen.toInt)
        return Some(HttpInfo(code, cType, body))
      }
      val h = new String(msg, p, e - p, "US-ASCII")
      val c = h.indexOf(':')
      if (c <= 0) return None
      h.substring(0, c).trim.toLowerCase match {
        case "content-type" => cType = h.substring(c + 1).trim
        case "content-length" =>
          cLen = try java.lang.Long.parseLong(h.substring(c + 1).trim)
          catch { case _: NumberFormatException => return None }
        case _ => ()
      }
      p = e + 2
    }
    None
  }

  /** Non-content elements a crawl extractor drops WITH their inner
    * text (the boilerplate-removal rule every production extractor
    * applies): code, styling, and page chrome. Matched case-
    * insensitively, content included, non-greedy to the matching
    * close tag (same-name nesting is out of scope, as in the
    * regex-tier extractors this models). */
  private val ChromeElements =
    "(?is)<(script|style|nav|footer|header|aside)\\b[^>]*>.*?</\\1\\s*>".r

  /** HTML → text: the <body> slice with chrome elements dropped
    * (content and all — [[ChromeElements]]), remaining tags
    * stripped, and the standard entities decoded (tags first,
    * &amp; LAST — decoding it earlier would re-interpret text like
    * `&amp;lt;` as markup). No body element → None (not a page). */
  def htmlToText(html: String): Option[String] = {
    val lower = html.toLowerCase
    val bOpen = lower.indexOf("<body")
    if (bOpen < 0) return None
    val bStart = html.indexOf('>', bOpen)
    val bEnd = lower.indexOf("</body>", bOpen)
    if (bStart < 0 || bEnd < 0 || bEnd < bStart) return None
    val inner = html.substring(bStart + 1, bEnd)
    val noChrome = ChromeElements.replaceAllIn(inner, "")
    val noTags = noChrome.replaceAll("<[^>]*>", "")
    Some(noTags.replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&#39;", "'")
      .replace("&amp;", "&"))
  }

  /** The [[htmlPage]] content wrapped in realistic page CHROME —
    * nav links, inline script/style, a footer — everything a crawl
    * page carries that must NOT reach the training text. */
  def htmlPageChrome(text: String): String = {
    val esc = text.replace("&", "&amp;").replace("<", "&lt;")
      .replace(">", "&gt;")
    "<html><head><title>t</title><style>p{margin:0}</style></head>" +
      "<body><nav><a href=\"/\">home</a> | <a href=\"/x\">about</a></nav>" +
      s"<p>$esc</p>" +
      "<script>if(1<2){track();}</script>" +
      "<footer>&copy; synth 2026</footer></body></html>"
  }

  /** Full record walk RETAINING payloads — [[decodeWarc]] keeps only
    * rollup stats; the HTTP/HTML path needs the response bytes. Both
    * derive from the ONE validated walk ([[decodeWarcOffsets]]), so
    * the stats and payload paths cannot drift. */
  def decodeWarcPayloads(blob: Array[Byte])
      : Option[Vector[(String, Array[Byte])]] =
    decodeWarcOffsets(blob).map(_.map { case (uri, off, len) =>
      (uri, java.util.Arrays.copyOfRange(blob, off, off + len))
    })

  /** THE validated record walk — the single implementation of the
    * WARC grammar, yielding each response's (uri, content offset,
    * content length); [[decodeWarc]] (stats) and
    * [[decodeWarcPayloads]] (bytes) are both views over it. Header
    * names are token-strict: whitespace inside a name means a
    * mangled line whose first colon came from the VALUE (e.g. a
    * timestamp) — refuse rather than mis-split. */
  private def decodeWarcOffsets(blob: Array[Byte])
      : Option[Vector[(String, Int, Int)]] = {
    var p = 0
    var out = Vector.empty[(String, Int, Int)]
    def line(from: Int): Option[(String, Int)] = {
      var k = from
      while (k + 1 < blob.length) {
        if (blob(k) == '\r' && blob(k + 1) == '\n')
          return Some((new String(blob, from, k - from, "US-ASCII"), k + 2))
        k += 1
      }
      None
    }
    while (p < blob.length) {
      val (ver, afterVer) = line(p) match {
        case Some(v) => v
        case None => return None
      }
      if (ver != "WARC/1.0" && ver != "WARC/1.1") return None
      var q = afterVer
      var warcType: String = null
      var uri = ""
      var len = -1L
      var open = true
      while (open) {
        line(q) match {
          case None => return None
          case Some(("", next)) => open = false; q = next
          case Some((h, next)) =>
            val c = h.indexOf(':')
            if (c <= 0) return None
            val name = h.substring(0, c).trim.toLowerCase
            if (name.exists(ch => ch == ' ' || ch == '\t')) return None
            val v = h.substring(c + 1).trim
            name match {
              case "warc-type" => warcType = v
              case "warc-target-uri" => uri = v
              case "content-length" =>
                len = try java.lang.Long.parseLong(v)
                catch { case _: NumberFormatException => return None }
              case _ => ()
            }
            q = next
        }
      }
      if (warcType == null || len < 0 || len > blob.length) return None
      if (q + len + 4 > blob.length) return None
      if (blob(q + len.toInt) != '\r' || blob(q + len.toInt + 1) != '\n' ||
          blob(q + len.toInt + 2) != '\r' || blob(q + len.toInt + 3) != '\n')
        return None
      if (warcType == "response") out :+= ((uri, q, len.toInt))
      p = q + len.toInt + 4
    }
    if (out.isEmpty) None else Some(out)
  }

  /** HTTP metadata of every response record — status, content type,
    * declared vs actual body bytes. The triple-layer witness: a
    * mis-parsed WARC length, HTTP header, or body slice moves a
    * column. */
  def mmWarcHttp(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    t(spark, dir, "documents").select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        for {
          rs <- decodeWarcPayloads(encodeWarcHttp(id, text)).toSeq
          (_, payload) <- rs
          http <- parseHttp(payload)
        } yield (id, http.status, http.content_type,
          http.body.length.toLong)
      })
      .toDF("doc_id", "status", "content_type", "body_bytes")
  }

  /** CRAWL TEXT EXTRACTION — the end-to-end unwrap a training
    * pipeline runs on crawl data: WARC walk → HTTP parse → HTML
    * strip+entity-decode. The oracle reads the PLAIN documents.text —
    * it never sees the markup — so any corruption in any of the three
    * layers breaks the match (the mm_gzip_text rule, two layers
    * deeper). One mapPartitions projection; no shuffle. */
  def textHtmlExtract(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    t(spark, dir, "documents").select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        for {
          rs <- decodeWarcPayloads(encodeWarcHttp(id, text)).toSeq
          (_, payload) <- rs
          http <- parseHttp(payload)
          extracted <- htmlToText(new String(http.body, "UTF-8"))
        } yield (id, extracted)
      })
      .toDF("doc_id", "text_out")
  }

  /** [[textHtmlExtract]] against CHROME-laden pages: nav, inline
    * script (with a `<` in its code), style and footer all wrap the
    * content — the extraction must still return EXACTLY the original
    * text, proving boilerplate removal drops chrome content instead
    * of leaking "home | about … track(); © synth" into the corpus. */
  def textHtmlExtractChrome(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    t(spark, dir, "documents").select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        for {
          rs <- decodeWarcPayloads(buildWarc(id,
            Seq((s"http://synth.graft/doc$id",
              httpResponse(htmlPageChrome(text)))))).toSeq
          (_, payload) <- rs
          http <- parseHttp(payload)
          extracted <- htmlToText(new String(http.body, "UTF-8"))
        } yield (id, extracted)
      })
      .toDF("doc_id", "text_out")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_warc" -> mmWarc,
    "mm_warc_gz" -> mmWarcGz,
    "mm_warc_http" -> mmWarcHttp,
    "text_html_extract" -> textHtmlExtract,
    "text_html_extract_chrome" -> textHtmlExtractChrome)

  val oracles: Map[String, String] = Map(
    "mm_warc" -> Archives.tarInfoSql,
    "mm_warc_gz" -> Archives.tarInfoSql,
    // body bytes from the PLAIN text: the fixed page template plus the
    // entity-escaped text length — the oracle never builds the page
    "mm_warc_http" ->
      """SELECT doc_id, 200 AS status,
        |  'text/html; charset=utf-8' AS content_type,
        |  CAST(octet_length(CAST(replace(replace(replace(text,
        |        '&', '&amp;'), '<', '&lt;'), '>', '&gt;') AS BLOB))
        |    + 62 AS BIGINT) AS body_bytes
        |FROM documents""".stripMargin,
    // the round-trip witness: extraction must return the original text
    "text_html_extract" ->
      "SELECT doc_id, text AS text_out FROM documents",
    // same witness through a chrome-laden page: nav/script/style/
    // footer content must never leak into the extracted text
    "text_html_extract_chrome" ->
      "SELECT doc_id, text AS text_out FROM documents")
}
