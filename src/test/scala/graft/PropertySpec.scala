package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.kmeans.{LloydKernel, LloydOracle}

/** Property tests (SURVEY.md §5), driven by seeded ScalaCheck
  * generators: shuffle/partitioning invariance of the Lloyd round (the
  * distributed aggregation must not depend on row order or partition
  * layout — the property the reference gets from MapReduce determinism)
  * and scale-inverse of the mean. */
class PropertySpec extends SparkSessionSpec {
  import spark.implicits._

  private val pointGen = Gen.listOfN(2, Gen.chooseNum(-50.0, 50.0))
  private val setGen = Gen.chooseNum(5, 40).flatMap(n => Gen.listOfN(n, pointGen))

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i)))

  /** One Lloyd round on `parts` partitions, means at 9dp: through the
    * DataFrame oracle, or (`kernel`) through [[LloydKernel.round]]. */
  private def roundOn(pts: Seq[List[Double]], parts: Int, kernel: Boolean) = {
    val cents = Array(Array(-10.0, -10.0), Array(0.0, 0.0), Array(10.0, 10.0))
    val input = pts.map(_.toSeq).toDF("v").repartition(parts)
    val rows =
      if (kernel) new LloydKernel(input, "v", cache = false).round(cents)
        .map { case (c, v, n) => (c, v.toSeq, n) }
      else LloydOracle.lloydRound(input, "v", cents)
        .select("cluster", "centroid", "n")
        .as[(Int, Seq[Double], Long)].collect()
    rows.map { case (c, v, n) => (c, v.map(x => math.rint(x * 1e9) / 1e9), n) }
      .sortBy(_._1).toSeq
  }

  test("GIF LZW round-trips ARBITRARY rasters (seeded random, both modes)") {
    import operators.Gif
    val rasterGen = for {
      w <- Gen.chooseNum(1, 40)
      h <- Gen.chooseNum(1, 40)
      px <- Gen.listOfN(w * h, Gen.chooseNum(0, 255))
    } yield (w, h, px.toArray)
    samples(rasterGen, 25).foreach { case (w, h, px) =>
      def at(r: Int, j: Int): Int = px(r * w + j)
      for (interlaced <- Seq(false, true)) {
        val blob = Gif.encodeFrames(w, h, Seq(at _), interlaced)
        val (dw, dh, out) = Gif.decodePixels(blob)
          .getOrElse(fail(s"${w}x$h interlaced=$interlaced must decode"))
        assert(dw == w && dh == h)
        assert(out.sameElements(px), s"${w}x$h interlaced=$interlaced")
      }
    }
  }

  test("gzip round-trips ARBITRARY byte payloads; tar ARBITRARY members") {
    import operators.Archives
    val bytesGen = Gen.chooseNum(0, 3000)
      .flatMap(n => Gen.listOfN(n, Gen.chooseNum(-128, 127)))
      .map(_.map(_.toByte).toArray)
    samples(bytesGen, 20).foreach { payload =>
      assert(Archives.gunzip(Archives.gzipBytes(payload)).get
        .sameElements(payload), s"gzip len=${payload.length}")
    }
    val membersGen = for {
      n <- Gen.chooseNum(1, 6)
      ms <- Gen.listOfN(n, Gen.zip(
        Gen.chooseNum(1, 30).flatMap(l =>
          Gen.listOfN(l, Gen.alphaNumChar).map(_.mkString)),
        Gen.chooseNum(0, 1200).flatMap(l =>
          Gen.listOfN(l, Gen.chooseNum(-128, 127)).map(_.map(_.toByte)))))
    } yield ms.zipWithIndex.map { case ((nm, data), i) =>
      (s"$i/$nm", data.toArray) // unique names (tar allows dups; rows don't)
    }
    samples(membersGen, 15).foreach { members =>
      val ms = Archives.decodeTar(Archives.buildTar(members))
        .getOrElse(fail(s"${members.size} members must decode"))
      assert(ms.size == members.size)
      ms.zip(members).foreach { case (m, (nm, data)) =>
        assert(m.name == nm && m.size == data.length.toLong)
        assert(m.payload_sum == data.map(b => (b & 0xff).toLong).sum)
      }
    }
  }

  test("ADPCM decode equals the reference recursion on ARBITRARY streams") {
    import operators.Adpcm
    val streamGen = for {
      pred0 <- Gen.chooseNum(-32768, 32767)
      idx0 <- Gen.chooseNum(0, 88)
      nibs <- Gen.chooseNum(0, 60)
        .flatMap(n => Gen.listOfN(n, Gen.chooseNum(0, 15)))
    } yield (pred0, idx0, nibs)
    samples(streamGen, 25).foreach { case (pred0, idx0, nibs) =>
      // build the block by hand (the encoder pins the corpus closed
      // forms; this drives the DECODER over the whole state space,
      // including extreme predictors near the clamp rails)
      val nibBytes = (nibs.length + 1) / 2
      val blockAlign = 4 + nibBytes
      val nSamples = 1 + nibs.length
      val bb = java.nio.ByteBuffer
        .allocate(12 + 8 + 20 + 8 + 4 + 8 + blockAlign)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes)
      bb.putInt(4 + 8 + 20 + 8 + 4 + 8 + blockAlign)
      bb.put("WAVE".getBytes)
      bb.put("fmt ".getBytes); bb.putInt(20)
      bb.putShort(0x11); bb.putShort(1); bb.putInt(8000); bb.putInt(4000)
      bb.putShort(blockAlign.toShort); bb.putShort(4); bb.putShort(2)
      bb.putShort(nSamples.toShort)
      bb.put("fact".getBytes); bb.putInt(4); bb.putInt(nSamples)
      bb.put("data".getBytes); bb.putInt(blockAlign)
      bb.putShort(pred0.toShort); bb.put(idx0.toByte); bb.put(0.toByte)
      nibs.grouped(2).foreach { g =>
        bb.put((g.head | (g.lift(1).getOrElse(0) << 4)).toByte)
      }
      val info = Adpcm.decode(7L, bb.array()).get
      var pred = pred0
      var idx = idx0
      var sum = pred.toLong
      nibs.foreach { n =>
        val (p2, i2) = Adpcm.step(pred, idx, n)
        pred = p2; idx = i2; sum += pred
      }
      assert(info.n_samples == nSamples.toLong)
      assert(info.sum_samples == sum, s"pred0=$pred0 idx0=$idx0")
      assert(info.final_pred == pred.toLong)
    }
  }

  test("tokenBudgetOf equals a brute-force greedy replay on random corpora") {
    val corpusGen = for {
      nSrc <- Gen.chooseNum(1, 4)
      n <- Gen.chooseNum(1, 60)
      rows <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(0, nSrc - 1),
        Gen.chooseNum(1, 12)))
    } yield rows.zipWithIndex.map { case ((s, toks), i) =>
      (i.toLong, s"src$s", Seq.fill(toks)("w").mkString(" "))
    }
    def skey(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"budget:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    samples(corpusGen, 12).foreach { rows =>
      val out = operators.Pipeline.tokenBudgetOf(
        rows.toDF("doc_id", "source", "text").repartition(5))
        .select("source", "n_kept", "tokens_kept", "budget", "kept_ids_sum")
        .as[(String, Long, Long, Long, Long)].collect().toSet
      // brute force: per source, hash-order prefix while cum <= floor(T/2)
      val expect = rows.groupBy(_._2).flatMap { case (src, ds) =>
        val toks = ds.map { case (id, _, t) => (id, t.split(" ").length.toLong) }
        val budget = toks.map(_._2).sum / 2
        val ordered = toks.sortBy { case (id, _) => (skey(id), id) }
        val kept = ordered
          .scanLeft((0L, 0L)) { case ((_, cum), (id, t)) => (id, cum + t) }
          .drop(1).takeWhile(_._2 <= budget)
        if (kept.isEmpty) None
        else Some((src, kept.size.toLong, kept.last._2, budget,
          kept.map(_._1).sum))
      }.toSet
      assert(out == expect, s"rows=${rows.take(6)}…")
    }
  }

  test("prefixJoinOf equals brute force on random corpora (exactness)") {
    // small vocab + short docs force heavy set overlap, duplicates, and
    // boundary prefix lengths — the shapes where a wrong prefix bound
    // would silently drop true pairs
    val docGen = for {
      n <- Gen.chooseNum(2, 25)
      docs <- Gen.listOfN(n, Gen.chooseNum(3, 9).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d", "e"))))
    } yield docs.zipWithIndex.map { case (ws, i) =>
      (i.toLong, ws.mkString(" "))
    }
    samples(docGen, 10).foreach { rows =>
      val out = operators.Dedup.prefixJoinOf(
        rows.toDF("doc_id", "text").repartition(3))
        .select("doc_a", "doc_b", "inter", "uni")
        .as[(Long, Long, Long, Long)].collect().toSet
      val sets = rows.map { case (id, t) =>
        id -> t.split(" ").sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")).toSet
      }
      val brute = (for {
        i <- sets.indices
        j <- (i + 1) until sets.length
        (ida, a) = sets(i)
        (idb, b) = sets(j)
        inter = (a & b).size
        uni = a.size + b.size - inter
        if inter * 5L >= uni * 3L
      } yield (ida, idb, inter.toLong, uni.toLong)).toSet
      assert(out == brute, s"corpus=${rows.take(4)}…")
    }
  }

  test("lloydRound is invariant to row order and partition count") {
    samples(setGen, 8).foreach { pts =>
      val byEngine = Seq(false, true).map { kernel =>
        val a = roundOn(pts, 1, kernel)
        val b = roundOn(new scala.util.Random(1).shuffle(pts), 7, kernel)
        assert(a == b, s"order/partition dependence on $pts (kernel=$kernel)")
        a
      }
      assert(byEngine(0) == byEngine(1), s"kernel differs from the oracle on $pts")
    }
  }

  test("summarize counts merge across splits like the CF merge ctor") {
    samples(setGen, 8).foreach { pts =>
      val cents = Array(Array(0.0, 0.0), Array(5.0, 5.0))
      val (l, r) = pts.splitAt(pts.size / 2)
      def sizes(xs: Seq[List[Double]]): Map[Int, Long] =
        if (xs.isEmpty) Map.empty
        else LloydOracle.assign(xs.map(_.toSeq).toDF("v"), "v", cents)
          .groupBy("cluster").count()
          .as[(Int, Long)].collect().toMap
      val whole = sizes(pts)
      val merged = (sizes(l).toSeq ++ sizes(r).toSeq)
        .groupMapReduce(_._1)(_._2)(_ + _)
      assert(whole == merged)
    }
  }

  test("topKPerKey equals a driver-side reference over random k and data") {
    val caseGen = for {
      n <- Gen.chooseNum(1, 400)
      k <- Gen.chooseNum(1, 15)
      rows <- Gen.listOfN(n, for {
        key <- Gen.chooseNum(0L, 12L)
        score <- Gen.chooseNum(-100.0, 100.0)
      } yield (key, score))
      parts <- Gen.chooseNum(1, 6)
    } yield (rows.zipWithIndex.map { case ((key, sc), i) =>
      (key, i.toLong, math.rint(sc * 4) / 4) }, k, parts)
    samples(caseGen, 6).foreach { case (rows, k, parts) =>
      val df = rows.toDF("key", "id", "score").repartition(parts)
      val got = graft.plans.TopKPerKey.topKPerKey(df,
          Seq("key"), Seq("score" -> false, "id" -> true), k)
        .as[(Long, Long, Double)].collect().toSet
      val want = rows.groupBy(_._1).values.flatMap(g =>
        g.sortBy { case (_, id, sc) => (-sc, id) }.take(k)).toSet
      assert(got == want, s"k=$k parts=$parts")
    }
  }

  test("components equals a driver-side union-find on random graphs") {
    val edgeGen = for {
      n <- Gen.chooseNum(2, 30)
      m <- Gen.chooseNum(1, 40)
      es <- Gen.listOfN(m,
        Gen.zip(Gen.chooseNum(0L, n.toLong - 1), Gen.chooseNum(0L, n.toLong - 1)))
    } yield es.filter(e => e._1 != e._2)
    samples(edgeGen, 6).filter(_.nonEmpty).foreach { edges =>
      val got = operators.Dedup.components(edges.toDF("doc_a", "doc_b"))
        .as[(Long, Long)].collect().toMap
      // reference: sequential union-find with path compression
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val roots = nodes.groupBy(find).map { case (_, ns) => ns.min -> ns }
      val expected = roots.flatMap { case (minId, ns) =>
        ns.map(_ -> minId) }.toMap
      assert(got == expected, s"mismatch on edges $edges")
    }
  }

  test("urlCanonical is idempotent and case/port/utm/slash-insensitive") {
    val hostGen = Gen.oneOf("cdn1.Example.com", "a.b.ORG", "x-y.net")
    val pathGen = Gen.oneOf("/p/1", "/docs/xyz", "/", "")
    val caseGen = for {
      scheme <- Gen.oneOf("https", "http")
      host <- hostGen
      path <- pathGen
      defPort <- Gen.oneOf(false, true)
      slash <- Gen.oneOf("", "/")
      q <- Gen.oneOf("", "?utm_source=a", "?utm_source=a&utm_campaign=b",
        "?utm_source=a&page=2", "?page=2&utm_source=a", "?page=2")
      frag <- Gen.oneOf("", "#f1")
      upper <- Gen.oneOf(true, false)
    } yield {
      val port = if (!defPort) ""
        else if (scheme == "https") ":443" else ":80"
      val sh = s"$scheme://$host$port"
      (if (upper) sh.toUpperCase else sh) + path + slash + q + frag
    }
    val urls = samples(caseGen, 80)
    val canon = urls.toDF("url")
      .select(operators.Dedup.urlCanonical(col("url")).as("c"))
      .as[String].collect()
    urls.zip(canon).foreach { case (u, c) =>
      // idempotent: canonicalizing a canonical URL is a no-op
      val c2 = Seq(c).toDF("url")
        .select(operators.Dedup.urlCanonical(col("url")).as("c"))
        .as[String].head()
      assert(c2 == c, s"not idempotent: $u -> $c -> $c2")
      // no default port, fragment, or utm residue; kept params survive
      // with a well-formed '?'-led query
      assert(!c.contains(":443") && !c.contains(":80") && !c.contains("#") &&
        !c.contains("utm_"), s"residue in canonical: $u -> $c")
      assert(!c.endsWith("/"), s"trailing slash survives: $u -> $c")
      assert(!c.contains("&") || c.contains("?"),
        s"malformed '&'-led query: $u -> $c")
      if (u.contains("page=2"))
        assert(c.endsWith("?page=2"), s"kept param lost/mangled: $u -> $c")
    }
    // all variants of one (scheme, host, path, kept-params) collapse to
    // a single canonical form
    val grouped = urls.zip(canon).groupBy { case (u, _) =>
      val lower = u.toLowerCase
      (lower.split("://")(0),
        lower.split("//")(1).split("[/:?#]")(0),
        u.replaceAll("^[hH][^/]*//[^/?#]*", "").replaceAll("[?#].*$", "")
          .replaceAll("/+$", ""),
        u.contains("page=2"))
    }
    grouped.foreach { case (key, vs) =>
      assert(vs.map(_._2).distinct.size == 1,
        s"variants of $key disagree: ${vs.distinct}")
    }
  }

  test("BmpDecoder inverts the reference encoder over random dimensions") {
    import java.nio.{ByteBuffer, ByteOrder}
    val dimGen = Gen.zip(Gen.chooseNum(1, 40), Gen.chooseNum(1, 25),
      Gen.chooseNum(0L, 1000000L))
    samples(dimGen, 30).foreach { case (w, h, seed) =>
      val rb = w * 3; val pad = (4 - rb % 4) % 4; val stride = rb + pad
      val bb = ByteBuffer.allocate(54 + stride * h)
        .order(ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte); bb.put('M'.toByte)
      bb.putInt(54 + stride * h); bb.putInt(0); bb.putInt(54)
      bb.putInt(40); bb.putInt(w); bb.putInt(h)
      bb.putShort(1); bb.putShort(24); bb.putInt(0); bb.putInt(stride * h)
      bb.putInt(2835); bb.putInt(2835); bb.putInt(0); bb.putInt(0)
      val rnd = new scala.util.Random(seed)
      val px = Array.fill(h, rb)(rnd.nextInt(256))
      for (fr <- 0 until h) {
        for (j <- 0 until rb) bb.put(px(fr)(j).toByte)
        for (_ <- 0 until pad) bb.put(0xEE.toByte) // padding must be skipped
      }
      val info = operators.Multimodal.BmpDecoder.decode(7L, bb.array()).get
      assert(info.width == w && info.height == h)
      assert(info.n_pixels == w.toLong * h)
      def mean(ch: Int): Double =
        (for { fr <- 0 until h; j <- 0 until rb if j % 3 == ch }
          yield px(fr)(j)).sum.toDouble / (w.toLong * h)
      assert(math.abs(info.mean_b - mean(0)) < 1e-12, s"mean_b w=$w h=$h")
      assert(math.abs(info.mean_g - mean(1)) < 1e-12, s"mean_g w=$w h=$h")
      assert(math.abs(info.mean_r - mean(2)) < 1e-12, s"mean_r w=$w h=$h")
    }
  }

  test("decodeResized samples in(f·x, f·y) over random dims/factors/orders") {
    import java.nio.{ByteBuffer, ByteOrder}
    val dimGen = Gen.zip(Gen.zip(Gen.chooseNum(1, 40), Gen.chooseNum(1, 25)),
      Gen.zip(Gen.chooseNum(1, 4), Gen.oneOf(true, false)),
      Gen.chooseNum(0L, 1000000L))
    samples(dimGen, 30).foreach { case ((w, h), (f, topDown), seed) =>
      val rb = w * 3; val pad = (4 - rb % 4) % 4; val stride = rb + pad
      val bb = ByteBuffer.allocate(54 + stride * h)
        .order(ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte); bb.put('M'.toByte)
      bb.putInt(54 + stride * h); bb.putInt(0); bb.putInt(54)
      bb.putInt(40); bb.putInt(w)
      bb.putInt(if (topDown) -h else h) // negative height = top-down
      bb.putShort(1); bb.putShort(24); bb.putInt(0); bb.putInt(stride * h)
      bb.putInt(2835); bb.putInt(2835); bb.putInt(0); bb.putInt(0)
      val rnd = new scala.util.Random(seed)
      val px = Array.fill(h, rb)(rnd.nextInt(256)) // px(storedRow)(byte)
      for (fr <- 0 until h) {
        for (j <- 0 until rb) bb.put(px(fr)(j).toByte)
        for (_ <- 0 until pad) bb.put(0xEE.toByte)
      }
      val r = operators.Multimodal.BmpDecoder
        .decodeResized(7L, bb.array(), f).get
      val (ow, oh) = ((w + f - 1) / f, (h + f - 1) / f)
      assert(r.out_w == ow && r.out_h == oh && r.n_pixels_out == ow.toLong * oh)
      // brute-force reference: image row y lives at stored row
      // (topDown ? y : h-1-y); sampled pixel (x, y) = image (f·x, f·y)
      def mean(ch: Int): Double =
        (for { y <- 0 until oh; x <- 0 until ow } yield {
          val fr = if (topDown) y * f else h - 1 - y * f
          px(fr)(x * f * 3 + ch)
        }).sum.toDouble / (ow.toLong * oh)
      assert(math.abs(r.mean_b - mean(0)) < 1e-12, s"b w=$w h=$h f=$f")
      assert(math.abs(r.mean_g - mean(1)) < 1e-12, s"g w=$w h=$h f=$f")
      assert(math.abs(r.mean_r - mean(2)) < 1e-12, s"r w=$w h=$h f=$f")
    }
  }

  test("points sink -> scan round-trips exactly over random data/layout") {
    val caseGen = for {
      n <- Gen.chooseNum(1, 300)
      d <- Gen.chooseNum(1, 8)
      parts <- Gen.chooseNum(1, 7)
      split <- Gen.oneOf(32L, 64L, 1024L, 128L * 1024 * 1024)
      rows <- Gen.listOfN(n, Gen.listOfN(d,
        Gen.chooseNum(-1e6, 1e6)))
    } yield (rows, parts, split)
    samples(caseGen, 6).foreach { case (rows, parts, split) =>
      val dir = java.nio.file.Files
        .createTempDirectory("pts_prop").toFile.getAbsolutePath + "/d"
      rows.map(_.toArray).toDF("point").repartition(parts)
        .write.format("points").mode("overwrite").save(dir)
      val back = spark.read.format("points")
        .option("splitSizeBytes", split.toString).load(dir)
        .as[Seq[Double]].collect().map(_.toList)
        .sortBy(_.toString())
      // bit-exact doubles: Double.toString text is shortest-round-trip
      assert(back.toSeq == rows.map(_.toList).sortBy(_.toString()),
        s"n=${rows.size} parts=$parts split=$split")
    }
  }

  /** The String parse the points reader used before it tokenized
    * bytes (the reference's `parsePoint`), kept as the oracle: None for
    * a blank line, else the values' bits or the NumberFormatException
    * message. */
  private def stringParse(line: Array[Byte]): Option[Either[String, Seq[Long]]] = {
    val s = new org.apache.hadoop.io.Text(line).toString.trim
    if (s.isEmpty) None
    else Some(try Right(s.replaceAll("[<>]", "").split(",\\s*")
      .map(java.lang.Double.parseDouble)
      .map(java.lang.Double.doubleToRawLongBits).toSeq)
    catch { case e: NumberFormatException => Left(e.getMessage) })
  }

  test("byte tokenizer == String parse: same bits, same failures, on generated lines") {
    import java.nio.charset.StandardCharsets.UTF_8
    import graft.sources.PointsLineParser
    def digits(lo: Int, hi: Int) =
      Gen.choose(lo, hi).flatMap(Gen.listOfN(_, Gen.numChar).map(_.mkString))
    def decimal(intMax: Int, fracMax: Int) = for {
      sign <- Gen.oneOf("", "", "-", "+")
      int <- digits(0, intMax)
      dot <- Gen.oneOf("", ".", ".", ".")
      frac <- digits(0, fracMax)
    } yield sign + int + dot + frac
    val tiny = for { // fraction lengths either side of 22
      zeros <- Gen.chooseNum(0, 24)
      tail <- digits(1, 4)
    } yield "0." + "0" * zeros + tail
    val printed = Gen.choose(Long.MinValue, Long.MaxValue)
      .map(b => java.lang.Double.longBitsToDouble(b).toString)
    val special = Gen.oneOf("NaN", "-NaN", "Infinity", "-Infinity", "+Infinity",
      "-0.0", "0", "-0", ".5", "5.", "+.5", "-.", ".", "+", "-", "", "1e5",
      "1E-5", "-2.5e+3", "0x1p3", "1.0d", "2f", "1_0", "1..2", "--1", "+-1",
      "1 2", "\u0663", "\u00e9", "4.9E-324", "1.7976931348623157E308",
      "0.30000000000000004", "123456789012345", "1234567890123456")
    val token = Gen.frequency(12 -> decimal(4, 10), 3 -> decimal(18, 25),
      2 -> tiny, 2 -> printed, 1 -> special)
    val sep = Gen.oneOf(",", ",", ", ", ", ", ",\t", ", \t  ", " ,", " , ",
      ",\u000b", ",\f", ",\r", ",<", ",> ", ",\u0001", ",,", ", ,")
    val noise = Gen.frequency(30 -> Array.empty[Byte], 2 -> "<".getBytes,
      2 -> ">".getBytes, 1 -> Array(0xc3, 0xa9).map(_.toByte),
      1 -> Array(0xff.toByte), 1 -> Array(0xc2, 0xa0).map(_.toByte),
      1 -> Array(0xe2, 0x80, 0xa8).map(_.toByte), 1 -> " ".getBytes,
      1 -> Array(1.toByte), 1 -> "<>".getBytes)
    val pointLine = for {
      n <- Gen.frequency(1 -> Gen.const(0), 8 -> Gen.choose(1, 6))
      toks <- Gen.listOfN(n, token)
      seps <- Gen.listOfN(n, sep)
      open <- Gen.oneOf("", "<", "<", " <", "<<", "\t< ", "<>", "\u0001<")
      close <- Gen.oneOf("", ">", ">", "> ", ">>", " > ", "\u0001")
      trail <- Gen.oneOf("", "", "", ",", ", ", " ,", ",\u0001", ",\u000b", ",\f")
      bits <- Gen.listOfN(2, Gen.zip(noise, Gen.chooseNum(0, 400)))
    } yield {
      val body = toks.indices.map(i => toks(i) + (if (i < n - 1) seps(i) else "")).mkString
      bits.foldLeft((open + body + trail + close).getBytes(UTF_8)) {
        case (b, (extra, at)) => b.patch(at % (b.length + 1), extra, 0)
      }
    }
    val blank = Gen.oneOf("", " ", "\t \t", "\u0001\u0002 ", "  \u000b", "\r")
      .map(_.getBytes(UTF_8))
    val lines = samples(Gen.frequency(12 -> pointLine, 1 -> blank), 4000)
    val parser = new PointsLineParser
    val outcomes = lines.map { line =>
      // trailing garbage past `len`, as in a reused Text buffer
      val buf = line ++ "9,<9>".getBytes(UTF_8)
      val viaBytes =
        if (PointsLineParser.isBlank(buf, line.length)) None
        else Some(try Right(parser.parse(buf, line.length).toDoubleArray.toSeq
          .map(java.lang.Double.doubleToRawLongBits))
        catch { case e: NumberFormatException => Left(e.getMessage) })
      val expected = stringParse(line)
      assert(viaBytes == expected,
        s"line bytes ${line.map(b => f"${b & 0xff}%02x").mkString(" ")} " +
          s"(${new String(line, UTF_8)})")
      expected
    }
    // the generator reaches every outcome, often
    val (blanks, failures) = (outcomes.count(_.isEmpty), outcomes.count(_.exists(_.isLeft)))
    val points = outcomes.count(_.exists(_.exists(_.nonEmpty)))
    assert(blanks > 100 && failures > 500 && points > 1000, (blanks, failures, points))
  }

  /** The seed draw as the DataFrame query `sampleCentroids` ran before
    * it became one job over the kernel's vectors, kept as the oracle of
    * that draw: the vectors' raw bits, in draw order. */
  private def dataFrameDraw(pts: DataFrame, k: Int, seed: Long): Seq[Seq[Long]] =
    pts.select(col("v"))
      .orderBy(xxhash64(col("v"), lit(seed)), col("v"))
      .limit(k)
      .as[Seq[Double]].collect()
      .map(_.map(java.lang.Double.doubleToRawLongBits)).toSeq

  test("seed draw == the orderBy(xxhash64)·limit DataFrame draw, bit for bit") {
    import graft.kmeans.KMeansRunner
    val coord = Gen.frequency(
      6 -> Gen.chooseNum(-3, 3).map(_.toDouble), // few values: hash and order ties
      4 -> Gen.chooseNum(-1e6, 1e6),
      2 -> Gen.oneOf(0.0, -0.0, Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity, Double.MinPositiveValue))
    // two vectors equal under SQL ordering tie in both draws; when their
    // bits differ (0.0 vs -0.0 in one slot) the DataFrame draw breaks
    // the tie by task completion order, so the pool keeps one vector per
    // SQL-equal class (exact duplicates stay: their bits cannot differ)
    def sqlKey(v: List[Double]) =
      v.map(x => java.lang.Double.doubleToLongBits(if (x == 0.0) 0.0 else x))
    val caseGen = for {
      n <- Gen.frequency(1 -> Gen.const(0), 12 -> Gen.chooseNum(1, 60))
      d <- Gen.chooseNum(1, 4)
      width = Gen.frequency(8 -> Gen.const(d), 1 -> Gen.chooseNum(0, d + 2))
      pool <- Gen.chooseNum(1, math.max(1, n)).flatMap(m =>
        Gen.listOfN(m, width.flatMap(Gen.listOfN(_, coord))))
      distinct = pool.distinctBy(sqlKey)
      rows <- Gen.listOfN(n, Gen.chooseNum(0, distinct.size - 1).map(distinct))
      k <- Gen.chooseNum(1, n + 3)
      parts <- Gen.chooseNum(1, 13)
      seed <- Gen.oneOf(Gen.const(42L), Gen.chooseNum(-5L, 5L),
        Gen.choose(Long.MinValue, Long.MaxValue))
    } yield (rows, k, parts, seed)
    val cases = samples(caseGen, 48)
    cases.foreach { case (rows, k, parts, seed) =>
      val pts = rows.toDF("v").repartition(parts)
      val want = dataFrameDraw(pts, k, seed)
      val got = KMeansRunner.sampleCentroids(pts, "v", k, seed)
        .map(_.toSeq.map(java.lang.Double.doubleToRawLongBits)).toSeq
      assert(got == want, s"n=${rows.size} k=$k parts=$parts seed=$seed")
    }
    // the generator reaches the edges it is for
    def some(p: ((List[List[Double]], Int, Int, Long)) => Boolean) =
      assert(cases.count(p) >= 3)
    some(c => c._2 > c._1.size)
    some(c => c._1.distinct.size < c._1.size)
    some(c => c._1.map(_.size).distinct.size > 1)
    some(c => c._1.exists(_.exists(_.isNaN)))
    some(c => c._1.exists(_.exists(_.isInfinite)))
    some(c => c._1.exists(_.exists(x => x == 0.0 && 1 / x < 0)))
    some(c => c._3 >= 10)
  }

  test("vecScale(vecScale(v, n), 1/n) is identity (Point.scale inverse)") {
    val cases = samples(Gen.zip(pointGen, Gen.chooseNum(1, 1000)), 20)
    cases.foreach { case (p, n) =>
      val out = Seq(p.toSeq).toDF("v")
        .select(LloydOracle.vecScale(
          LloydOracle.vecScale(col("v"), lit(n.toDouble)),
          lit(1.0 / n)).as("v"))
        .as[Seq[Double]].head()
      out.zip(p).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
    }
  }

  test("paragraph screen equals a driver-side brute force on random corpora") {
    import graft.operators.Dedup
    val wordGen = Gen.oneOf("aa", "bb", "cc", "dd", "ee")
    val docGen = Gen.chooseNum(0, 20).flatMap(n =>
      Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    val corpusGen = Gen.zip(
      Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n, docGen)),
      Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n, docGen)))
    for (((baseTexts, crawlTexts), it) <- samples(corpusGen, 6).zipWithIndex) {
      val base = baseTexts.zipWithIndex
        .map { case (t, i) => (100L + i, t) }.toDF("doc_id", "text")
      val crawl = crawlTexts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = Dedup.paragraphScreenAgainstBase(
          crawl, Dedup.baseParagraphHashes(base))
        .as[(Long, Long, Long, String)].collect().toSet
      // reference: non-overlapping ParaW windows, drop any segment the
      // base carries anywhere, rebuild in order
      def segs(t: String): Seq[String] = {
        val toks = t.split(" ").toSeq
        if (toks.size < Dedup.ParaW) Seq.empty
        else (0 until toks.size / Dedup.ParaW)
          .map(i => toks.slice(i * Dedup.ParaW, (i + 1) * Dedup.ParaW)
            .mkString(" "))
      }
      val baseSegs = baseTexts.flatMap(segs).toSet
      val expect = crawlTexts.zipWithIndex.flatMap { case (t, i) =>
        val ss = segs(t)
        if (ss.isEmpty) None
        else {
          val kept = ss.filterNot(baseSegs)
          Some((i.toLong, ss.size.toLong, (ss.size - kept.size).toLong,
            kept.mkString(" ")))
        }
      }.toSet
      assert(got == expect, s"iteration $it diverged")
    }
  }

  test("robots parser agrees with a reference interpreter on random files") {
    import graft.operators.Pipeline
    // random REP files: groups of 1-2 agents, 0-3 rules, noise lines
    val agentGen = Gen.oneOf("*", "graftbot", "otherbot")
    val pathGen = Gen.oneOf("/a", "/a/b", "/b", "/", "/c")
    val ruleGen = Gen.zip(Gen.oneOf(true, false), pathGen)
    val groupGen = for {
      agents <- Gen.chooseNum(1, 2).flatMap(Gen.listOfN(_, agentGen))
      // ≥1 rule: an agents-only group is grammatically AMBIGUOUS (REP
      // stacks its agents onto the following group — the parser's
      // correct behavior), so the generator avoids the degenerate case
      rules <- Gen.chooseNum(1, 3).flatMap(Gen.listOfN(_, ruleGen))
      delay <- Gen.chooseNum(0, 9)
    } yield (agents.distinct, rules, delay)
    val fileGen = Gen.chooseNum(1, 3).flatMap(Gen.listOfN(_, groupGen))
    for ((groups, it) <- samples(fileGen, 8).zipWithIndex) {
      val txt = groups.map { case (agents, rules, delay) =>
        (agents.map(a => s"User-agent: $a") ++
          rules.map { case (allow, p) =>
            s"${if (allow) "Allow" else "Disallow"}: $p" } ++
          (if (delay > 0) Seq(s"Crawl-delay: $delay") else Seq.empty) ++
          Seq("X-noise: zz", "")).mkString("\n")
      }.mkString("\n")
      val parsed = Pipeline.parseRobots(txt)
      // reference expectation: groups in order; a group with no rules
      // and no delay still exists (agents alone open it)
      assert(parsed.size == groups.size, s"iteration $it group count")
      parsed.zip(groups).foreach { case (g, (agents, rules, delay)) =>
        assert(g.agents == agents.map(_.toLowerCase),
          s"iteration $it agents")
        assert(g.rules == rules.map { case (a, p) => (p, a) },
          s"iteration $it rules")
        assert(g.delay == delay, s"iteration $it delay")
      }
      // group selection: named beats fallback, fallback only when
      // no named group exists
      val forBot = Pipeline.robotsGroupFor(parsed, "graftbot")
      val named = parsed.find(_.agents.contains("graftbot"))
      val star = parsed.find(_.agents.contains("*"))
      assert(forBot == named.orElse(star), s"iteration $it selection")
    }
  }

  test("snapshot table tracks a sequential model under random op sequences") {
    import graft.sources.{RetryingWriters, SnapshotTable}
    // model-based testing: every op applies to the real table AND a
    // pure in-memory model (live versions -> row bags); after each op
    // the version list and the latest version's multiset must agree,
    // and at the end every surviving version must. Catches cross-op
    // interactions no single-op spec sees (merge-after-expire,
    // compact-after-overwrite, carried-manifest corruption, …).
    sealed trait Op
    case class App(rows: List[(Long, String)], keyed: Boolean,
                   retry: Boolean) extends Op
    case class Over(rows: List[(Long, String)]) extends Op
    case class Mrg(rows: List[(Long, String)], retry: Boolean) extends Op
    case object Cmp extends Op
    case object CmpS extends Op
    case object Exp extends Op
    case class Rb(sel: Int) extends Op
    case class Del(keys: List[Long]) extends Op
    case class UpM(rows: List[(Long, String)]) extends Op
    case object Mat extends Op
    case object Rw extends Op
    val rowsGen = Gen.chooseNum(1, 5).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.chooseNum(0L, 9L), Gen.oneOf("x", "y", "z"))))
    // keyed appends record doc_id stats in the manifest, so later
    // merges take the PARTITION-SCOPED path (carried-by-reference
    // sets) — interacting with compactSmall, rollback and expire's GC;
    // the MOR ops (Del/UpM/Mat) thread live delete vectors through the
    // same history, including rollback resurrecting a vectored state
    val opGen: Gen[Op] = Gen.frequency(
      4 -> Gen.zip(rowsGen, Gen.oneOf(true, false), Gen.oneOf(true, false))
        .map { case (r, k, t) => App(r, k, t) },
      1 -> rowsGen.map(Over(_)),
      2 -> Gen.zip(rowsGen, Gen.oneOf(true, false))
        .map { case (r, t) => Mrg(r, t) },
      1 -> Gen.const(Cmp), 1 -> Gen.const(CmpS), 1 -> Gen.const(Exp),
      1 -> Gen.chooseNum(0, 99).map(Rb(_)),
      2 -> Gen.chooseNum(1, 3).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(0L, 9L))).map(Del(_)),
      2 -> rowsGen.map(UpM(_)),
      1 -> Gen.const(Mat), 1 -> Gen.const(Rw))
    def bag(rows: Seq[(Long, String)]) = rows.sorted
    for (ops <- samples(Gen.listOfN(10, opGen), 3)) {
      val root = java.nio.file.Files
        .createTempDirectory("graft_snap_prop").toString + "/tbl"
      // (version, row bag, live MOR vectors?)
      var model = Vector((1, List((0L, "seed")), false))
      SnapshotTable.commit(spark, root, Seq((0L, "seed")).toDF("doc_id", "text"))
      for (op <- ops) {
        val (_, lastRows, lastMor) = model.last
        op match {
          case App(rows, keyed, retry) =>
            val sk = if (keyed) Some("doc_id") else None
            val v = if (retry)
              RetryingWriters.commitRetryAs(spark, root,
                rows.toDF("doc_id", "text"),
                SnapshotTable.latestVersion(spark, root), sk, maxRetries = 5)
            else SnapshotTable.commit(spark, root,
              rows.toDF("doc_id", "text"), statsKey = sk)
            model :+= ((v, lastRows ++ rows, lastMor))
          case Over(rows) =>
            val v = SnapshotTable.commit(spark, root,
              rows.toDF("doc_id", "text"), append = false)
            model :+= ((v, rows, false))
          case Mrg(rows, retry) if lastMor =>
            // COW merge over live vectors must REFUSE (resurrection
            // hazard), leaving table and model untouched
            intercept[IllegalArgumentException] {
              SnapshotTable.merge(spark, root,
                rows.toDF("doc_id", "text"), "doc_id")
            }
          case Mrg(rows, retry) =>
            val v = if (retry)
              RetryingWriters.mergeRetryAs(spark, root,
                rows.toDF("doc_id", "text"), "doc_id",
                SnapshotTable.latestVersion(spark, root), maxRetries = 5)
            else SnapshotTable.merge(spark, root,
              rows.toDF("doc_id", "text"), "doc_id")
            val keys = rows.map(_._1).toSet
            model :+= ((v, lastRows.filterNot(r => keys(r._1)) ++ rows, false))
          case Cmp =>
            // compact reads THROUGH the vectors and drops them —
            // an implicit materialization
            val v = SnapshotTable.compact(spark, root)
            model :+= ((v, lastRows, false))
            assert(SnapshotTable.numFileSets(spark, root, v) == 1)
          case CmpS =>
            // content must be invariant whether or not work existed;
            // a new version appears ONLY when ≥2 small sets packed;
            // vectors are carried, never packed
            val v = SnapshotTable.compactSmall(spark, root, smallRows = 3,
              statsKey = Some("doc_id"))
            if (v != model.last._1) model :+= ((v, lastRows, lastMor))
          case Exp =>
            SnapshotTable.expire(spark, root, keepFrom = model.last._1)
            model = model.filter(_._1 >= model.last._1)
          case Rb(sel) =>
            val (tv, rows, mor) = model(sel % model.size)
            val v = SnapshotTable.rollback(spark, root, tv)
            model :+= ((v, rows, mor))
          case Del(keys) =>
            val v = SnapshotTable.deleteRows(spark, root,
              keys.toDF("doc_id"), "doc_id")
            val ks = keys.toSet
            model :+= ((v, lastRows.filterNot(r => ks(r._1)), true))
          case UpM(rows) =>
            val v = SnapshotTable.upsertMor(spark, root,
              rows.toDF("doc_id", "text"), "doc_id")
            val keys = rows.map(_._1).toSet
            model :+= ((v, lastRows.filterNot(r => keys(r._1)) ++ rows, true))
          case Mat =>
            // value-neutral; mints a version ONLY when vectors live
            val v = SnapshotTable.materializeDeletes(spark, root, "doc_id")
            if (lastMor) {
              assert(v != model.last._1, "live vectors must mint a version")
              model :+= ((v, lastRows, false))
            } else assert(v == model.last._1, "clean table must no-op")
          case Rw if lastRows.isEmpty =>
            // nothing to cluster on: refuses, table untouched
            intercept[IllegalArgumentException] {
              SnapshotTable.rewriteSorted(spark, root, "doc_id", numSets = 2)
            }
          case Rw =>
            // clustered rewrite: value-neutral, drops vectors
            val v = SnapshotTable.rewriteSorted(spark, root, "doc_id",
              numSets = 2)
            model :+= ((v, lastRows, false))
        }
        assert(SnapshotTable.versions(spark, root) == model.map(_._1),
          s"version list diverged after $op")
        val (v, rows, _) = model.last
        assert(bag(SnapshotTable.read(spark, root, v)
          .as[(Long, String)].collect().toList) == bag(rows),
          s"latest version $v content diverged after $op")
      }
      for ((v, rows, _) <- model)
        assert(bag(SnapshotTable.read(spark, root, v)
          .as[(Long, String)].collect().toList) == bag(rows),
          s"surviving version $v diverged at end of sequence")
    }
  }
}
