package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.{Archives, Warc}
import graft.operators.Multimodal.MediaRow

/** The WARC reader: grammar round-trips, the warcinfo/non-response
  * skip rule, and the refusal posture (None on any malformation —
  * truncation, bad version, bad Content-Length, missing separators).
  * The member RELATION itself is driver-gated: mm_warc shares the tar
  * oracle SQL verbatim, so the four containers triangulate. */
class WarcSpec extends SparkSessionSpec {

  test("corpus round-trip: every response's uri, length and payload sum " +
       "match the shared container closed form") {
    (0L until 40L).foreach { id =>
      val rs = Warc.decodeWarc(Warc.encodeWarc(id)).get
      assert(rs.size == Archives.membersOf(id), s"doc $id")
      rs.zipWithIndex.foreach { case (r, i) =>
        assert(r.warc_type == "response")
        assert(r.target_uri == s"http://synth.graft/doc$id/part$i")
        val len = Archives.memberLenOf(id, i)
        assert(r.size == len, s"doc $id member $i")
        assert(r.payload_sum ==
          (0 until len).map(j => Archives.memberByteOf(id, i, j).toLong).sum,
          s"doc $id member $i payload")
      }
    }
  }

  test("warcinfo and other non-response records are skipped, not counted") {
    // the synthetic file carries a leading warcinfo record; only the
    // responses surface
    val blob = Warc.encodeWarc(5L)
    assert(new String(blob, "ISO-8859-1").contains("WARC-Type: warcinfo"))
    assert(Warc.decodeWarc(blob).get.forall(_.warc_type == "response"))
    // a hand-built file with request + metadata records interleaved
    // still yields exactly the responses, in order
    val mixed = {
      val out = new java.io.ByteArrayOutputStream()
      def rec(t: String, body: String): Unit = {
        val b = body.getBytes("US-ASCII")
        out.write((s"WARC/1.0\r\nWARC-Type: $t\r\n" +
          s"WARC-Record-ID: <urn:x:$t>\r\n" +
          s"Content-Length: ${b.length}\r\n\r\n").getBytes("US-ASCII"))
        out.write(b); out.write("\r\n\r\n".getBytes("US-ASCII"))
      }
      rec("warcinfo", "w"); rec("request", "GET /")
      rec("response", "abc"); rec("metadata", "m"); rec("response", "de")
      out.toByteArray
    }
    val rs = Warc.decodeWarc(mixed).get
    assert(rs.map(_.size) == Vector(3L, 2L))
    assert(rs.map(_.payload_sum) ==
      Vector("abc".map(_.toLong).sum, "de".map(_.toLong).sum))
  }

  test("refusal posture: truncation and corruption at every layer → None") {
    val good = Warc.encodeWarc(7L)
    // truncation: inside the version line, headers, content, separator
    Seq(3, 20, good.length / 2, good.length - 1).foreach { n =>
      assert(Warc.decodeWarc(good.take(n)).isEmpty, s"truncate $n")
    }
    // bad version line
    val badVer = good.clone(); badVer(5) = '9'
    assert(Warc.decodeWarc(badVer).isEmpty)
    // non-numeric Content-Length
    val s = new String(good, "ISO-8859-1")
      .replaceFirst("Content-Length: \\d", "Content-Length: x")
    assert(Warc.decodeWarc(s.getBytes("ISO-8859-1")).isEmpty)
    // a header line without a colon
    val noColon = new String(good, "ISO-8859-1")
      .replaceFirst("WARC-Date: ", "WARC-Date ")
    assert(Warc.decodeWarc(noColon.getBytes("ISO-8859-1")).isEmpty)
    // stomped record separator: the CRLFCRLF terminating the LAST
    // record is a hard None, never a silently-short record list
    val brokenSep = good.clone()
    brokenSep(good.length - 1) = 'Z'
    assert(Warc.decodeWarc(brokenSep).isEmpty)
    // garbage that is not WARC at all / empty / no responses
    assert(Warc.decodeWarc(Array.fill(40)(7.toByte)).isEmpty)
    assert(Warc.decodeWarc(Array.emptyByteArray).isEmpty)
    val infoOnly = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(("WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
        "Content-Length: 1\r\n\r\nx\r\n\r\n").getBytes("US-ASCII"))
      out.toByteArray
    }
    assert(Warc.decodeWarc(infoOnly).isEmpty,
      "a crawl file with zero responses is not a member source")
  }

  test(".warc.gz: record-per-member gzip round-trips; any member's " +
       "corruption refuses the whole stream") {
    // the Common Crawl wire format: one gzip member PER RECORD,
    // concatenated — decode must walk member boundaries, not assume
    // one member (Archives.gunzip's single-member contract would stop
    // after the warcinfo record)
    (0L until 30L).foreach { id =>
      assert(Warc.decodeWarcGz(Warc.encodeWarcGz(id)) ==
        Warc.decodeWarc(Warc.encodeWarc(id)),
        s"doc $id: gz and plain must decode the same records")
    }
    val gz = Warc.encodeWarcGz(7L)
    // the stream really is multi-member: more than one gzip magic
    val magics = gz.indices.count(i => i + 1 < gz.length &&
      (gz(i) & 0xff) == 0x1f && (gz(i + 1) & 0xff) == 0x8b)
    assert(magics >= 1 + Archives.membersOf(7L),
      s"expected record-per-member, found $magics magics")
    // flip one payload byte in the LAST member: its CRC fails and the
    // whole stream refuses (never a silently-short record list)
    val bad = gz.clone()
    bad(gz.length - 12) = (bad(gz.length - 12) ^ 0x01).toByte
    assert(Warc.decodeWarcGz(bad).isEmpty)
    // truncation mid-member and a straight single-member gzip of the
    // CONCATENATED records both still behave (RFC 1952 allows either
    // packaging; the walker must handle one member spanning records)
    assert(Warc.decodeWarcGz(gz.take(gz.length / 2)).isEmpty)
    val single = Archives.gzipBytes(Warc.encodeWarc(7L))
    assert(Warc.decodeWarcGz(single) == Warc.decodeWarc(Warc.encodeWarc(7L)))
    // and gunzipMembers agrees with the single-member gunzip
    assert(Warc.gunzipMembers(single).map(_.toSeq) ==
      Archives.gunzip(single).map(_.toSeq))
  }

  test("mm_warc equals mm_tar row for row — four containers, one relation") {
    import spark.implicits._
    val w = Warc.mmWarc(spark, sf0001)
      .as[(Long, Long, Long, Long)].collect().toSet
    val t = Archives.mmTar(spark, sf0001)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(w == t, "warc and tar must decode the same member relation")
    assert(w.nonEmpty)
  }

  test("HTTP-in-WARC: status/headers/body parse exactly; malformed " +
       "messages refuse") {
    val html = Warc.htmlPage("hello & <world>")
    val msg = Warc.httpResponse(html)
    val h = Warc.parseHttp(msg).get
    assert(h.status == 200)
    assert(h.content_type == "text/html; charset=utf-8")
    assert(new String(h.body, "UTF-8") == html)
    // declared Content-Length larger than the actual bytes → None
    val short = msg.take(msg.length - 1)
    assert(Warc.parseHttp(short).isEmpty)
    // a non-HTTP payload refuses
    assert(Warc.parseHttp("not http at all".getBytes("US-ASCII")).isEmpty)
    // a 404 with a different body still parses (the parser is general,
    // not a 200-only happy path)
    val notFound = ("HTTP/1.1 404 Not Found\r\nContent-Length: 2\r\n" +
      "\r\nno").getBytes("US-ASCII")
    val nf = Warc.parseHttp(notFound).get
    assert(nf.status == 404 && new String(nf.body, "US-ASCII") == "no")
  }

  test("HTML extraction inverts the page synthesis, entities included") {
    // entity-heavy text: the decode order (&amp; LAST) is what keeps
    // pre-escaped-looking text intact through the round-trip
    val tricky = Seq("plain words", "a & b", "1 < 2 > 0", "&amp; literal",
      "<tag> soup & <more>")
    tricky.foreach { t =>
      assert(Warc.htmlToText(Warc.htmlPage(t)).contains(t), s"text [$t]")
    }
    // markup without a body element is not a page
    assert(Warc.htmlToText("<html><head>x</head></html>").isEmpty)
    // nested tags inside the body strip away; text order preserved
    assert(Warc.htmlToText(
      "<html><body><div>a <b>bold</b> c</div></body></html>")
      .contains("a bold c"))
  }

  test("chrome removal: nav/script/style/footer content never leaks " +
       "into the extracted text") {
    Seq("plain words", "a & b", "1 < 2 > 0", "&amp; literal").foreach { t =>
      assert(Warc.htmlToText(Warc.htmlPageChrome(t)).contains(t),
        s"chrome text [$t]")
    }
    // the script body contains a real `<` comparison — the element
    // must drop to its CLOSE TAG, not to the first `>` of the code
    val page = Warc.htmlPageChrome("content")
    val got = Warc.htmlToText(page).get
    assert(got == "content", s"chrome leaked: [$got]")
    assert(!got.contains("home") && !got.contains("track") &&
      !got.contains("synth") && !got.contains("margin"))
    // case-insensitive close tags, attributes on the chrome element
    assert(Warc.htmlToText(
      "<html><body><NAV class=\"x\">menu</NAV>keep<FOOTER>f</footer>" +
        "</body></html>").contains("keep"))
  }

  test("text_html_extract recovers every document's text through the " +
       "three-layer unwrap") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    val got = Warc.textHtmlExtract(spark, sf0001)
      .as[(Long, String)].collect()
    // one row per document, each the plain text the synthesis wrapped
    assert(got.length == docs.size && got.toSet == docs)
  }

  /** Feeds each chunk to a MemoryStream as one micro-batch, runs `op` on
    * every micro-batch, and returns the union of its output rows. */
  private def perMicroBatch[R](chunks: Seq[Seq[MediaRow]])
      (op: Dataset[MediaRow] => Dataset[R]): Seq[R] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[MediaRow]
    val got = scala.collection.mutable.ArrayBuffer[R]()
    val q = mem.toDS().writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[MediaRow], _: Long) =>
        got ++= op(batch).collect()
        ()
      }.start()
    try chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
    finally q.stop()
    got.toSeq
  }

  test("streaming crawl extraction equals the batch three-layer unwrap") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    val blobs = docs.toSeq.map { case (id, text) =>
      MediaRow(id, Warc.encodeWarcHttp(id, text))
    }
    // each micro-batch pays one pass through the batch kernels:
    // WARC walk, HTTP parse, HTML strip
    val got = perMicroBatch(Seq(blobs.take(blobs.length / 2),
        blobs.drop(blobs.length / 2))) { b =>
      b.mapPartitions(_.flatMap { m =>
        for {
          rs <- Warc.decodeWarcPayloads(m.blob).toSeq
          (_, payload) <- rs
          http <- Warc.parseHttp(payload)
          text <- Warc.htmlToText(new String(http.body, "UTF-8"))
        } yield (m.doc_id, text)
      })
    }
    // the extraction inverts the synthesis: streamed == plain text
    assert(got.toSet == docs.toSet,
      s"crawl extraction diverged: ${got.size} vs ${docs.length}")
  }

  test("streaming warc ingest equals the batch rollup across splits") {
    import spark.implicits._
    val blobs = Warc.warcMedia(spark, sf0001).collect().toSeq
    val (a, rest) = blobs.splitAt(blobs.length / 3)
    val (b, c) = rest.splitAt(rest.length / 2)
    val got = perMicroBatch(Seq(a, b, c)) { batch =>
      Warc.warcInfoOf(batch).toDF().as[(Long, Long, Long, Long)]
    }
    val batch = Warc.mmWarc(spark, sf0001)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got.toSet == batch,
      s"warc ingest diverged: ${got.size} streamed vs ${batch.size} batch")
  }
}
