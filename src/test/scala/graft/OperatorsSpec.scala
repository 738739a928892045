package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators._

/** Semantics tests for the extension operators on crafted inputs (the
  * testdata-facing behavior is covered by the DuckDB oracle gate). */
class OperatorsSpec extends SparkSessionSpec {
  import spark.implicits._

  /** Built-in composition of [[graft.functions.VectorFunctions.dot]]
    * (same accumulation order), the reference the native DotProduct
    * is checked against. */
  private def dotBuiltin(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  test("shingleCol produces overlapping n-grams in order") {
    val out = Seq(Seq("a", "b", "c", "d")).toDF("toks")
      .select(Dedup.shingleCol(col("toks"), 3).as("s"))
      .as[Seq[String]].head()
    assert(out == Seq("a b c", "b c d"))
  }

  test("exact dedup groups identical texts and keeps the min id") {
    val docs = Seq((1L, "x y z"), (2L, "x y z"), (3L, "other text"))
      .toDF("doc_id", "text")
    val out = docs.groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n"))
      .select("keep_id", "n").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L), (3L, 1L)))
  }

  test("identical docs always share all LSH band signatures") {
    val text = "the quick brown fox jumps over the lazy dog"
    val sigs = Seq((1L, text), (2L, text))
      .toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), Dedup.shingleCol(col("toks"), 3).as("shingles"))
    // both docs: same shingles ⇒ same minhashes ⇒ candidate pair
    val a = sigs.where(col("doc_id") === 1).select("shingles").as[Seq[String]].head()
    val b = sigs.where(col("doc_id") === 2).select("shingles").as[Seq[String]].head()
    assert(a == b)
  }

  test("jaccard of identical shingle sets is 1, disjoint is 0") {
    val df = Seq(
      (Seq("a", "b"), Seq("a", "b")),
      (Seq("a", "b"), Seq("c", "d"))).toDF("x", "y")
      .withColumn("ni", size(array_intersect(col("x"), col("y"))))
      .select((col("ni").cast("double") /
        (size(col("x")) + size(col("y")) - col("ni"))).as("j"))
      .as[Double].collect().toSeq
    assert(df == Seq(1.0, 0.0))
  }

  test("native DotProduct is bitwise-equal to the built-in composition") {
    import graft.functions.VectorFunctions.dot
    val rnd = new scala.util.Random(17)
    val vecs = (0 until 200).map(_ =>
      (Seq.fill(64)(rnd.nextGaussian()), Seq.fill(64)(rnd.nextGaussian())))
    val both = vecs.toDF("a", "b")
      .select(dot(col("a"), col("b")).as("n"),
        dotBuiltin(col("a"), col("b")).as("c"))
      .as[(Double, Double)].collect()
    both.foreach { case (n, c) => assert(n == c) } // exact, not approx
  }

  test("SortedIntersectCount equals size(array_intersect) on sorted sets") {
    // the prefix-join verify contract: on sorted-distinct long arrays
    // the two-pointer count must equal the built-in composition
    // exactly — fuzz overlapping draws plus the edge shapes (empty,
    // disjoint, identical, subset, negatives)
    val rnd = new scala.util.Random(29)
    val rows = (0 until 300).map { _ =>
      val pool = Seq.fill(rnd.nextInt(120))(rnd.nextInt(200).toLong - 100L)
      val a = pool.filter(_ => rnd.nextBoolean()).distinct.sorted
      val b = pool.filter(_ => rnd.nextBoolean()).distinct.sorted
      (a, b)
    } ++ Seq(
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(1L, 2L), Seq.empty[Long]),
      (Seq(-5L, 0L, 7L), Seq(-5L, 0L, 7L)),
      (Seq(1L, 3L), Seq(2L, 4L)),
      (Seq(1L, 2L, 3L, 4L), Seq(2L, 4L)))
    val both = rows.toDF("a", "b")
      .select(
        graft.expressions.SortedIntersectCount(col("a"), col("b")).as("n"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("c"))
      .as[(Long, Long)].collect()
    both.foreach { case (n, c) => assert(n == c) }
  }

  test("DotProduct on length-mismatched arrays is NULL, matching the built-in") {
    import graft.functions.VectorFunctions.dot
    val r = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
      .select(dot(col("a"), col("b")).as("n"),
        dotBuiltin(col("a"), col("b")).as("c"))
      .collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1)) // no silent truncation
  }

  test("mm_decode agrees with mm_wav and mm_bmp on their shared doc_ids") {
    val dec = operators.Multimodal.mmDecode(spark, sf0001)
    val wav = operators.Multimodal.mmWav(spark, sf0001)
      .where(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("sample_rate").as("w_rate"),
        col("n_samples").as("w_n"))
    val bmp = operators.Multimodal.mmBmp(spark, sf0001)
      .where(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("width").as("b_w"), col("height").as("b_h"),
        col("n_pixels").as("b_n"), col("mean_b").as("b_mean"))
    assert(dec.join(wav, "doc_id")
      .where(col("format") =!= "wav" ||
        col("sample_rate") =!= col("w_rate") ||
        col("n_units") =!= col("w_n")).count() == 0)
    assert(dec.join(bmp, "doc_id")
      .where(col("format") =!= "bmp" ||
        col("width") =!= col("b_w") || col("height") =!= col("b_h") ||
        col("n_units") =!= col("b_n") ||
        col("mean_signal") =!= col("b_mean")).count() == 0)
  }

  test("WavDecoder parses real PCM16 WAV bytes end-to-end through mapPartitions") {
    import java.nio.{ByteBuffer, ByteOrder}
    def wavBytes(rate: Int, nCh: Int, samples: Array[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataLen)
      bb.put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
      bb.putShort(1); bb.putShort(nCh.toShort)
      bb.putInt(rate); bb.putInt(rate * nCh * 2)
      bb.putShort((nCh * 2).toShort); bb.putShort(16)
      bb.put("data".getBytes("US-ASCII")); bb.putInt(dataLen)
      samples.foreach(bb.putShort)
      bb.array()
    }
    // 400 stereo frames at 8 kHz, constant |amplitude| 16384 → 50 ms, 0.5
    val good = wavBytes(8000, 2, Array.fill(800)(16384.toShort))
    val media = Seq(
      operators.Multimodal.MediaRow(1L, good),
      operators.Multimodal.MediaRow(2L, "not a wav at all".getBytes)).toDS()
    val out = operators.Multimodal.decodeWav(media).collect()
    assert(out.length == 1) // non-WAV dropped
    val w = out.head
    assert(w.doc_id == 1L && w.sample_rate == 8000 && w.n_channels == 2)
    assert(w.bits_per_sample == 16 && w.n_samples == 400)
    assert(w.duration_ms == 50.0)
    assert(math.abs(w.mean_abs - 0.5) < 1e-9)
  }

  test("mmWav's in-plan WAV synthesis is byte-identical to a JVM reference encoder") {
    import java.nio.{ByteBuffer, ByteOrder}
    // independent reference encoding of the same per-row scheme
    def refWav(docId: Long, nChars: Long): Array[Byte] = {
      val rate = 8000 + (docId % 4).toInt * 4000
      val nCh = 1 + (docId % 2).toInt
      val nFrames = (nChars % 50).toInt + 1
      val nSamp = nFrames * nCh
      val dataLen = nSamp * 2
      val bb = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataLen)
      bb.put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
      bb.putShort(1); bb.putShort(nCh.toShort)
      bb.putInt(rate); bb.putInt(rate * nCh * 2)
      bb.putShort((nCh * 2).toShort); bb.putShort(16)
      bb.put("data".getBytes("US-ASCII")); bb.putInt(dataLen)
      (1 to nSamp).foreach(i => bb.putShort(((docId * 31 + i * 7) % 65536).toShort))
      bb.array()
    }
    val meta = Tables.t(spark, sf0001, "documents")
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .collect().sortBy(_._1).take(8).toMap
    val blobs = operators.Multimodal.wavMedia(spark, sf0001)
      .collect().filter(m => meta.contains(m.doc_id))
    assert(blobs.length == meta.size)
    blobs.foreach { m =>
      assert(java.util.Arrays.equals(m.blob, refWav(m.doc_id, meta(m.doc_id))),
        s"blob mismatch for doc ${m.doc_id}")
    }
    // and the decoded mean_abs (the field the oracle cannot mirror)
    // agrees with a direct computation from the sample stream
    val decoded = operators.Multimodal
      .decodeWav(operators.Multimodal.wavMedia(spark, sf0001))
      .collect().filter(w => meta.contains(w.doc_id))
    decoded.foreach { w =>
      val docId = w.doc_id
      val nCh = 1 + (docId % 2).toInt
      val nSamp = ((meta(docId) % 50).toInt + 1) * nCh
      val exp = (1 to nSamp).map { i =>
        math.abs(((docId * 31 + i * 7) % 65536).toShort.toInt)
      }.sum.toDouble / (nSamp * 32768.0)
      assert(math.abs(w.mean_abs - exp) < 1e-12,
        s"mean_abs mismatch for doc $docId: ${w.mean_abs} vs $exp")
    }
  }

  test("components converges fast on a long chain (pointer jumping)") {
    // a 101-node chain (diameter 100) plus a separate triangle: plain
    // neighbor propagation needs ~100 rounds; pointer jumping must
    // finish in O(log D) — well inside MaxComponentRounds
    val chain = (0L until 100L).map(i => (i, i + 1))
    val tri = Seq((1000L, 1001L), (1001L, 1002L), (1000L, 1002L))
    val pairs = (chain ++ tri).toDF("doc_a", "doc_b")
    val comp = operators.Dedup.components(pairs)
      .as[(Long, Long)].collect().toMap
    assert((0L to 100L).forall(comp(_) == 0L))
    assert(Seq(1000L, 1001L, 1002L).forall(comp(_) == 1000L))
    assert(comp.size == 104)
  }

  test("coarseK scales cell count with corpus size, floor K") {
    import operators.KMeansQueries.{coarseK, CoarseCellTarget, K}
    // small corpora floor at K (the seeded-oracle regime: every test SF)
    assert(coarseK(0) == K && coarseK(500) == K && coarseK(2000) == K)
    assert(coarseK(K * CoarseCellTarget) == K)
    // beyond the floor, per-cell population is pinned at CoarseCellTarget:
    // candidate volume O(n·NProbe·CellTarget) stays linear in n
    assert(coarseK(1L << 20) == (1L << 20) / CoarseCellTarget)
    assert(coarseK((1L << 20) + 1) == (1L << 20) / CoarseCellTarget + 1)
    val n100tb = 200_000_000_000L // ~100 TB of 512 B vectors
    assert(coarseK(n100tb).toLong == n100tb / CoarseCellTarget)
    // monotone: more data never reduces parallelism
    val probes = Seq(1L, 1000L, 100_000L, 10_000_000L, n100tb)
    assert(probes.map(coarseK(_).toLong) == probes.map(coarseK(_).toLong).sorted)
    // at the test SFs the n-scaled set IS the seeded K-set, so every
    // existing oracle replay is unchanged by the parameterization
    val viaCoarse = operators.KMeansQueries.coarseCentroids(spark, sf0001)
    val viaFixed = operators.KMeansQueries.fixedCentroids(spark, sf0001)
    assert(viaCoarse.length == viaFixed.length &&
      viaCoarse.zip(viaFixed).forall { case (a, b) =>
        java.util.Arrays.equals(a, b) })
  }

  test("in-plan IVF probe routing equals the driver-side reference") {
    val cents = operators.KMeansQueries.fixedCentroids(spark, sf0001)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val viaCol = emb.select(col("vec_id"),
      graft.expressions.ProbeCells(col("v"), cents, 3).as("probe"))
      .as[(Long, Seq[Int])].collect().toMap
    val viaDriver = emb.as[(Long, Seq[Double])].collect().map { case (id, v) =>
      id -> OperatorReferences.probeCells(cents, v.toArray, 3)
    }.toMap
    assert(viaCol == viaDriver)
  }

  test("native ProbeCells is bitwise-equal to the declarative probe") {
    // large n-scaled cell set (not just the K=8 oracle set): 100 cells
    // from sf0.001's own vectors, probed at every topN the engine uses
    // plus n > k — the contract the dedup_embed_cluster ladder fix
    // rides on (distance asc, cid asc, identical fold order)
    val cents = operators.KMeansQueries.firstKCentroids(spark, sf0001, 100)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    for (n <- Seq(1, 2, 4, 5, 200)) {
      val native = emb.select(col("vec_id"),
        graft.expressions.ProbeCells(col("v"), cents, n).as("p"))
        .as[(Long, Seq[Int])].collect().toMap
      val decl = emb.select(col("vec_id"),
        OperatorReferences.probeCellsColDeclarative(col("v"), cents, n).as("p"))
        .as[(Long, Seq[Int])].collect().toMap
      assert(native == decl, s"topN=$n")
    }
    // tie-break: duplicate centroids at equal distance keep the lower
    // cell id, the strict-< scan NearestCentroid pins for top-1
    val dup = Array(Array(1.0, 0.0), Array(0.0, 3.0), Array(1.0, 0.0))
    val probed = Seq(Seq(1.0, 0.0)).toDF("v")
      .select(graft.expressions.ProbeCells(col("v"), dup, 2).as("p"))
      .as[Seq[Int]].head()
    assert(probed == Seq(0, 2))
  }

  test("brute-force ANN: nearest neighbor of a query is its duplicate") {
    // embed a duplicate of vec_id 0 and check it ranks first
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = emb.where(col("vec_id") === 0)
      .select(col("v").as("qv"))
    val dup = emb.where(col("vec_id") === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("v"))
    import graft.functions.VectorFunctions.{dot, l2Norm}
    val scored = emb.unionByName(dup).crossJoin(broadcast(q))
      .where(col("vec_id") =!= 0)
      .select(col("vec_id"), (dot(col("qv"), col("v")) /
        (l2Norm(col("qv")) * l2Norm(col("v")))).as("s"))
      .orderBy(col("s").desc).limit(1)
      .as[(Long, Double)].head()
    assert(scored._1 == 100000L && scored._2 > 0.999999)
  }

  test("duplication profile histograms crafted clusters exactly") {
    val docs = Seq(
      ("aaa", 3L), ("aaa", 3L), ("aaa", 3L), // one triple
      ("bb", 2L), ("bb", 2L),                // one pair
      ("cccc", 4L), ("d", 1L))               // two singletons
      .toDF("text", "n_chars")
    val out = Pipeline.dupStatsOf(docs)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      (1L, 2L, 2L, 0L, 0L),   // two unique docs, nothing wasted
      (2L, 1L, 2L, 1L, 2L),   // the pair wastes one copy of 2 chars
      (3L, 1L, 3L, 2L, 6L)))  // the triple wastes two copies of 3
    // the real corpus is duplicate-free: one dup_count=1 row
    val corpus = Pipeline.pipelineDupStats(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(corpus.toSeq == Seq((1L, 500L, 500L, 0L, 0L)))
  }

  test("robots parser: groups, stacking, comments, case, fallback") {
    import Pipeline.{parseRobots, robotsGroupFor, RobotsGroup}
    val txt =
      """# header comment
        |User-Agent: alpha
        |User-agent: beta
        |DISALLOW: /a  # trailing comment
        |allow: /a/b
        |Crawl-Delay: 7
        |
        |User-agent: *
        |Disallow:
        |Disallow: /x
        |Unknown-directive: zzz
        |""".stripMargin
    val gs = parseRobots(txt)
    assert(gs == Seq(
      RobotsGroup(Seq("alpha", "beta"), Seq(("/a", false), ("/a/b", true)), 7),
      RobotsGroup(Seq("*"), Seq(("/x", false)), 0)))
    // stacked agents share one group; named match beats the fallback
    assert(robotsGroupFor(gs, "BETA").contains(gs.head))
    assert(robotsGroupFor(gs, "other").contains(gs(1)))
    // no groups at all -> nothing to obey
    assert(robotsGroupFor(parseRobots("just text\n"), "any").isEmpty)
    // empty Disallow (allow-all idiom) contributes no rule
    assert(gs(1).rules == Seq(("/x", false)))
  }

  test("edit-distance verify agrees with a driver-side DP on every " +
       "candidate pair") {
    val dir = "/root/testdata/sf0.001"
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var prev = d(0); d(0) = i
        for (j <- 1 to b.length) {
          val t = d(j)
          d(j) = math.min(math.min(d(j) + 1, d(j - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = t
        }
      }
      d(b.length)
    }
    val rows = Dedup.dedupEditDistance(spark, dir)
      .as[(Long, Long, Int, Double)].collect()
    assert(rows.nonEmpty, "fixture must produce candidate pairs")
    rows.foreach { case (a, b, dist, sim) =>
      val expect = lev(texts(a), texts(b))
      assert(dist == expect, s"($a,$b): engine $dist vs reference $expect")
      val m = math.max(texts(a).length, texts(b).length)
      assert(math.abs(sim - (1.0 - dist.toDouble / m)) < 1e-6)
    }
  }

  test("hard negatives: positive shares the anchor's label, negative " +
       "does not, and both are the best of their side") {
    val dir = "/root/testdata/sf0.001"
    val labels = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label")).as[(Long, Int)].collect().toMap
    val pairs = Similarity.annHardNegatives(spark, dir)
      .as[(Long, Long, Double, Long, Double, Double)].collect()
    assert(pairs.length == Similarity.NQueries)
    // independent exact reference from the brute-force ranking
    val exact = Similarity.annTopKCosine(spark, dir)
      .as[(Long, Long, Int, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3)).toMap
    pairs.foreach { case (q, pos, ps, neg, ns, margin) =>
      assert(labels(pos) == labels(q), s"positive $pos label differs from $q")
      assert(labels(neg) != labels(q), s"negative $neg shares $q's label")
      assert(math.abs(margin - (ps - ns)) < 1e-9)
      // any higher-ranked exact neighbor of the same side would
      // contradict "best of side": check within the exact top-k
      val better = exact(q).takeWhile(_._4 > math.max(ps, ns))
      assert(better.isEmpty,
        s"query $q: ${better.length} exact neighbors outrank both sides")
    }
  }

  test("PCA: pc1 captures at least as much variance as pc2, both beat " +
       "every raw axis, components orthogonal, runs identical") {
    val dir = "/root/testdata/sf0.001"
    val rows = Similarity.annPca(spark, dir)
      .as[(Long, Double, Double, Double, Double)].collect()
    assert(rows.length == 500)
    def variance(xs: Array[Double]) = {
      val m = xs.sum / xs.length
      xs.map(x => (x - m) * (x - m)).sum / xs.length
    }
    val (v1, v2) = (variance(rows.map(_._2)), variance(rows.map(_._3)))
    assert(v1 >= v2 - 1e-6, s"pc1 variance $v1 below pc2 $v2")
    // the Rayleigh quotients carried per row agree with the realized
    // projection variances (the components ARE the variance maximizers)
    assert(math.abs(rows.head._4 - v1) < 0.05 * v1 + 1e-3,
      s"var1=${rows.head._4} vs realized $v1")
    // pc1 beats the best RAW axis — the whole point of rotating
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        org.apache.spark.sql.functions.expr(
          "transform(embedding, x -> cast(x as double))").as("v"))
      .as[(Long, Seq[Double])].collect()
    val axisVars = (0 until Similarity.PcaDim)
      .map(j => variance(e.map(_._2(j).toDouble)))
    assert(v1 >= axisVars.max - 1e-6,
      s"pc1 var $v1 below best axis ${axisVars.max}")
    // orthogonality, observed through the projections: decorrelated
    val (m1, m2) = (rows.map(_._2).sum / rows.length,
      rows.map(_._3).sum / rows.length)
    val cov = rows.map(r => (r._2 - m1) * (r._3 - m2)).sum / rows.length
    assert(math.abs(cov) < 0.05 * math.sqrt(v1 * v2) + 1e-3,
      s"pc1/pc2 correlation too high: cov=$cov")
    // determinism: quantized iteration → bit-identical re-run
    val again = Similarity.annPca(spark, dir)
      .as[(Long, Double, Double, Double, Double)].collect()
    assert(rows.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("IVF search keeps high recall against the brute-force baseline") {
    def results(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)]
        .collect().groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
    val exact = results(Similarity.annTopKCosine(spark, sf0001))
    val ivf = results(Similarity.annIvfCosine(spark, sf0001))
    val recalls = exact.map { case (q, ns) =>
      ivf.getOrElse(q, Set.empty).intersect(ns).size.toDouble / ns.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean > 0.6, s"IVF mean recall@10 too low: $mean")
  }

  test("mmDecode dispatches on magic bytes and drops undecodable blobs") {
    val media = Multimodal.mixedMedia(spark, sf0001)
    val decoded = Multimodal.mmDecode(spark, sf0001)
    // every blob in the mixed corpus is a valid wav or bmp → none dropped
    assert(decoded.count() == media.count())
    // formats follow the parity split
    assert(decoded.where(col("doc_id") % 2 === 0 && col("format") =!= "wav")
      .count() == 0)
    assert(decoded.where(col("doc_id") % 2 === 1 && col("format") =!= "bmp")
      .count() == 0)
    // a garbage blob is dropped, not decoded or crashed
    import spark.implicits._
    val junk = Seq(Multimodal.MediaRow(1L, Array[Byte](1, 2, 3, 4, 5)),
      Multimodal.MediaRow(2L, "not a media file".getBytes)).toDS()
    assert(Multimodal.decodeWav(junk).count() == 0)
    assert(Multimodal.decodeBmp(junk).count() == 0)
    assert(Multimodal.decodePng(junk).count() == 0)
  }

  test("persisted ANN index: base-only search equals ann_ivfpq, scans only the index") {
    // isolate a FRESH artifact root so no other test's delta segment
    // leaks into the base-only comparison
    val tmp = java.nio.file.Files.createTempDirectory("graft_ann_base").toString
    spark.conf.set("spark.graft.artifacts.dir", tmp)
    try {
      val path = AnnIndex.buildIndex(spark, sf0001)
      val search = AnnIndex.searchSegments(spark, sf0001, path,
        labelFiltered = false)
      val direct = Similarity.annIvfPq(spark, sf0001)
      assert(search.collect().toSet == direct.collect().toSet)
      // corpus side reads the codes artifact with partition pruning; the
      // only raw-embeddings scan is the pushed-down query batch
      val plan = search.queryExecution.executedPlan.toString
      // ivfpq3_ is the artifact dir marker (the full /codes suffix can
      // fall past the FileScan location-string truncation)
      assert(plan.contains("ivfpq3_"), "corpus side must scan the index artifact")
      // bucketed layout prunes at two levels: bucket dirs (partition
      // filter) then the probed cells as a parquet-pushed data filter
      // resolved by row-group stats (files are cell-sorted)
      assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).nonEmpty,
        "codes scan must prune bucket directories")
      assert(plan.contains("In(cluster") || plan.contains("EqualTo(cluster"),
        "probed cells must reach the parquet scan as a pushed filter")
    } finally spark.conf.unset("spark.graft.artifacts.dir")
  }

  test("BQ/SQ8 codes and params persist as tier-index segments under " +
       "the corpus-size-keyed root, and the second run serves from them") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_quant").toString
    spark.conf.set("spark.graft.artifacts.dir", tmp)
    try {
      val first = Similarity.annBq(spark, sf0001).collect().toSet
      val n = spark.read.parquet(s"$sf0001/embeddings.parquet").count()
      // codes + trained params landed as segments under the ONE
      // size-keyed tier root (a regenerated corpus with a different
      // count self-invalidates by path)
      val f = new java.io.File(tmp).listFiles().map(_.getName).toSet
      val tiers = f.find(d =>
        d.startsWith("anntiers_") && d.endsWith(s"_n$n"))
      assert(tiers.nonEmpty, s"expected size-keyed tier root in $f")
      val segs = new java.io.File(tmp, tiers.get)
        .listFiles().map(_.getName).toSet
      assert(segs.contains("codes_bq") && segs.contains("params_bq"),
        s"expected bq segments in $segs")
      Similarity.annSq8(spark, sf0001).collect()
      val segs2 = new java.io.File(tmp, tiers.get)
        .listFiles().map(_.getName).toSet
      assert(segs2.contains("codes_sq8") && segs2.contains("params_sq8"),
        s"expected sq8 segments in $segs2")
      // second run reads the segments (same results); corrupting the
      // stored CODES changes the search — proof the serve path really
      // consumes the persisted segment, not a silent re-encode
      assert(Similarity.annBq(spark, sf0001).collect().toSet == first)
      val spark2 = spark
      import spark2.implicits._
      (0L until n).map(i => (i, 0L, 0L)).toDF("vec_id", "lo", "hi")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$tmp/${tiers.get}/codes_bq")
      val skewed = Similarity.annBq(spark, sf0001).collect().toSet
      assert(skewed != first,
        "annBq must serve from the persisted code segment")
    } finally spark.conf.unset("spark.graft.artifacts.dir")
  }

  test("annIndexStats reads the segment catalog with lifecycle invariants") {
    val root = java.nio.file.Files.createTempDirectory("graft_ann_st").toString
    spark.conf.set("spark.graft.artifacts.dir", root)
    try {
      val n = spark.read.parquet(s"$sf0001/embeddings.parquet").count()
      val out = AnnIndex.annIndexStats(spark, sf0001)
        .as[(String, Long, Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> r).toMap
      val base = out("base"); val delta = out("delta")
      def tomb(lo: Long, hi: Long) =
        (lo to hi).count(_ % AnnIndex.DeleteMod == AnnIndex.DeleteRes).toLong
      // both segments hold the full corpus; delta ids are offset by n
      assert(base._2 == n && delta._2 == n)
      assert(base._6 == 0L && base._7 == n - 1)
      assert(delta._6 == n && delta._7 == 2 * n - 1)
      // tombstone overlap is the closed-form mod rule; live + dead = all
      assert(base._4 == tomb(0, n - 1) && delta._4 == tomb(n, 2 * n - 1))
      assert(base._4 + base._5 == n && delta._4 + delta._5 == n)
      // occupied cells never exceed the quantizer's k
      assert(base._3 >= 1 && base._3 <= operators.KMeansQueries.K)
      assert(delta._3 >= 1 && delta._3 <= operators.KMeansQueries.K)
    } finally spark.conf.unset("spark.graft.artifacts.dir")
  }

  test("persisted ANN index: append makes delta vectors searchable without compaction") {
    val nBase = spark.read.parquet(s"$sf0001/embeddings.parquet").count()
    // the registered query ensures the delta segment, then searches
    // base ∪ delta — NO compaction anywhere on this path
    val search = AnnIndex.annIndexSearch(spark, sf0001)
    val rows = search.collect()
    assert(rows.exists(_.getAs[Long]("neighbor_id") >= nBase),
      "appended (delta-segment) vectors must appear among the neighbors")
    // both segments are scanned, each with bucket-dir pruning and the
    // probed cells pushed into the parquet scan (row-group stats)
    val plan = search.queryExecution.executedPlan.toString
    // scan ROOT PATHS, not the plan string: the Location field in
    // toString truncates at ~100 chars, so a longer artifact path
    // (e.g. the router-revision suffix) silently hides the suffix.
    // Walk through the AQE wrappers (collect alone stops at stage
    // boundaries).
    def scanRoots(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      val self = p match {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.rootPaths.map(_.toString).toSeq
        case _ => Seq.empty[String]
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      self ++ kids.flatMap(scanRoots)
    }
    assert(scanRoots(search.queryExecution.executedPlan)
        .exists(_.contains("/codes_delta")),
      "search must scan the committed delta segment")
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).nonEmpty,
      "codes scans must prune bucket directories")
    assert(plan.contains("In(cluster") || plan.contains("EqualTo(cluster"),
      "probed cells must reach the parquet scans as a pushed filter")
    // filtered search honors the segment union under the label rule
    val filtered = AnnIndex.annIndexSearchFiltered(spark, sf0001).collect()
    assert(filtered.exists(_.getAs[Long]("neighbor_id") >= nBase),
      "filtered search must see delta vectors too")
    // build-once: a second search reuses the committed artifacts
    val success = new java.io.File(
      s"${AnnIndex.indexPath(spark, sf0001)}/codes/_SUCCESS")
    assert(success.exists)
    val t1 = success.lastModified()
    AnnIndex.annIndexSearch(spark, sf0001).count()
    assert(success.lastModified() == t1, "second search must not rebuild")
  }

  test("png decoder: all five filter types round-trip; corruption drops") {
    import Multimodal.{PngDecoder, PngEncoder}
    // drive every filter type through the unfilter path, including the
    // Average/Paeth rows the in-plan corpus doesn't use
    for (ftBase <- 0 to 4; id <- Seq(3L, 9L, 23L, 34L)) {
      val blob = PngEncoder.encodeWith(id, r => (ftBase + r) % 5)
      val info = PngDecoder.decode(id, blob)
        .getOrElse(fail(s"gray8 PNG (ftBase=$ftBase, id=$id) must decode"))
      val w = (2 + id % 7).toInt
      val h = (1 + id % 5).toInt
      val expMean = (for (r <- 0 until h; j <- 0 until w)
        yield PngEncoder.pixel(id, r, j)).sum.toDouble / (w * h)
      assert(info.width == w && info.height == h)
      assert(math.abs(info.mean_px - expMean) < 1e-12,
        s"ftBase=$ftBase id=$id: ${info.mean_px} vs $expMean")
    }
    val good = PngEncoder.encode(7L)
    // flip one IDAT payload byte: the chunk CRC must catch it
    val poisoned = good.clone()
    poisoned(8 + 25 + 12) = (poisoned(8 + 25 + 12) ^ 0x5a).toByte
    assert(PngDecoder.decode(7L, poisoned).isEmpty, "CRC must reject")
    // truncation and garbage drop instead of crashing
    assert(PngDecoder.decode(7L, good.take(good.length - 6)).isEmpty)
    assert(PngDecoder.decode(7L, "not a png at all".getBytes).isEmpty)
  }

  test("png truecolor: bpp-3 filters round-trip per channel; type gates") {
    import Multimodal.{PngDecoder, PngEncoder}
    for (ftBase <- 0 to 4; id <- Seq(3L, 9L, 23L, 34L)) {
      val blob = PngEncoder.encodeRgbWith(id, r => (ftBase + r) % 5)
      val info = PngDecoder.decodeRgb(id, blob)
        .getOrElse(fail(s"rgb8 PNG (ftBase=$ftBase, id=$id) must decode"))
      val w = (2 + id % 7).toInt
      val h = (1 + id % 5).toInt
      assert(info.width == w && info.height == h)
      def mean(f: (Long, Int, Int) => Int): Double =
        (for (r <- 0 until h; j <- 0 until w) yield f(id, r, j))
          .sum.toDouble / (w * h)
      assert(math.abs(info.mean_r - mean(PngEncoder.pixel)) < 1e-12)
      assert(math.abs(info.mean_g - mean(PngEncoder.chG)) < 1e-12,
        s"ftBase=$ftBase id=$id green")
      assert(math.abs(info.mean_b - mean(PngEncoder.chB)) < 1e-12,
        s"ftBase=$ftBase id=$id blue")
    }
    // color-type gates: gray consumer refuses RGB blobs and vice versa
    assert(PngDecoder.decode(7L, PngEncoder.encodeRgb(7L)).isEmpty)
    assert(PngDecoder.decodeRgb(7L, PngEncoder.encode(7L)).isEmpty)
    // truncation through the RGB path stays clean None
    val good = PngEncoder.encodeRgb(7L)
    assert(PngDecoder.decodeRgb(7L, good.take(good.length - 6)).isEmpty)
  }

  test("graph beam search: structure, determinism, recall vs exact cosine") {
    import operators.Similarity
    val rows = Similarity.annGraphSearch(spark, sf0001)
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    // one full top-k list per query, never the query itself, ranks 1..k
    assert(rows.length == Similarity.NQueries * Similarity.GraphTopK)
    rows.foreach { case (q, _, n, s) =>
      assert(n != q && s >= -1.0 && s <= 1.0)
    }
    assert(rows.groupBy(_._1).values.forall(_.map(_._2).sorted.toSeq ==
      (1 to Similarity.GraphTopK).toSeq))
    // deterministic across runs (entry point, tie rules, 6dp scores)
    val again = Similarity.annGraphSearch(spark, sf0001)
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(again.sameElements(rows))
    // navigation quality: recall vs an INDEPENDENT driver-side exact
    // cosine top-k, at BOTH spec SFs — the IVF-seeded beam measures
    // 0.90 at sf0.001 and 0.9333 at sf0.01; the 0.85 floor leaves
    // noise headroom while still catching any regression to the old
    // blind-entry design (which measured 0.60 at sf0.01)
    def recallAt(dir: String): Double = {
      val got = Similarity.annGraphSearch(spark, dir)
        .as[(Long, Int, Long, Double)].collect()
      val e = Tables.t(spark, dir, "embeddings")
        .select(col("vec_id"),
          graft.functions.VectorFunctions.toDoubleVec(col("embedding")).as("v"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      def cos(a: Array[Double], b: Array[Double]): Double = {
        val d = a.zip(b).map { case (x, y) => x * y }.sum
        math.rint(d / (math.sqrt(a.map(x => x * x).sum) *
          math.sqrt(b.map(x => x * x).sum)) * 1e6) / 1e6
      }
      val hits = (0L until Similarity.NQueries.toLong).map { q =>
        val exact = e.keys.filter(_ != q).toSeq
          .sortBy(n => (-cos(e(q), e(n)), n)).take(Similarity.GraphTopK).toSet
        (got.filter(_._1 == q).map(_._3).toSet & exact).size
      }.sum
      hits.toDouble / (Similarity.NQueries * Similarity.GraphTopK)
    }
    val r1 = recallAt(sf0001)
    assert(r1 >= 0.85, s"beam-search recall $r1 below floor at sf0.001")
    val r2 = recallAt("/root/testdata/sf0.01")
    assert(r2 >= 0.85, s"beam-search recall $r2 below floor at sf0.01")
  }

  test("refined search recall beats or matches plain IVF-PQ vs exact L2") {
    val emb = Tables.t(spark, sf0001, "embeddings")
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDoubleVec(col("embedding")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def l2(a: Array[Double], b: Array[Double]) =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val exactTop = (0L until Similarity.NQueries).flatMap { q =>
      emb.keys.filter(_ != q).toSeq
        .sortBy(n => (l2(emb(q), emb(n)), n)).take(Similarity.TopK)
        .map(n => (q, n))
    }.toSet
    def recall(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
        .intersect(exactTop).size.toDouble / exactTop.size
    val r = recall(Similarity.annRefine(spark, sf0001))
    val p = recall(Similarity.annIvfPq(spark, sf0001))
    assert(r >= p, s"refine recall $r < ivfpq recall $p")
    assert(r > 0.5, s"refine recall $r implausibly low")
  }

  test("trained residual IVF-PQ lowers reconstruction distortion and " +
       "its recall is not below raw IVF-PQ") {
    val emb = Tables.t(spark, sf0001, "embeddings")
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDoubleVec(col("embedding")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def l2(a: Array[Double], b: Array[Double]) =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    // the k-means objective, asserted directly: Lloyd rounds over the
    // residual slices must cut the corpus-average reconstruction
    // error vs the first-16-residual seed. (The top-k-sampled
    // |adc − true| metric is NOT asserted — ranking by ADC selects
    // for underestimates, so it is a biased sample that can move
    // either way as the codebook changes; measured r12: seed 0.82 →
    // trained 0.73 distortion at both sf0.001 and sf0.01.)
    val (seedDist, trainedDist) =
      OperatorReferences.residualTrainingGain(spark, sf0001)
    assert(trainedDist < seedDist,
      s"trained codebook distortion $trainedDist not below seed " +
        s"$seedDist — Lloyd rounds failed to optimize their objective")
    // recall vs exact L2 — trained residual codes must navigate at
    // least as well as the untrained raw-vector codes of annIvfPq
    val exactTop = (0L until Similarity.NQueries).flatMap { q =>
      emb.keys.filter(_ != q).toSeq
        .sortBy(n => (l2(emb(q), emb(n)), n)).take(Similarity.TopK)
        .map(n => (q, n))
    }.toSet
    def recallOf(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
        .intersect(exactTop).size.toDouble / exactTop.size
    val recall = recallOf(Similarity.annIvfPqResidual(spark, sf0001))
    val rawRecall = recallOf(Similarity.annIvfPq(spark, sf0001))
    assert(recall >= rawRecall,
      s"trained residual recall $recall below raw IVF-PQ $rawRecall — " +
        "training + residual geometry should dominate the untrained " +
        "raw-vector codes")
    assert(recall > 0.1, s"residual recall $recall implausibly low")
  }

  test("minhash banding s-curve calibration: empirical candidate recall " +
       "meets the 1-(1-s^r)^b floor at similarity 0.5 / 0.7 / 0.9") {
    // planted-similarity fixture DIRECTLY in shingle space (the level
    // LSH operates on): per pair, two k-shingle docs sharing exactly m
    // shingles → exact Jaccard m/(2k−m). Hash functions are the
    // engine's own fixed coefficients; randomness is over the planted
    // shingle universe, so empirical candidacy per pair is Bernoulli
    // with the s-curve probability and a 3σ binomial slack is the
    // honest floor.
    val rnd = new scala.util.Random(20260815L)
    def freshShingle() = f"sh ${rnd.nextLong()}%x"
    val k = 30
    val taus = Seq(0.5, 0.7, 0.9)
    val nPairs = 120
    var id = 0L
    val docs = scala.collection.mutable.ArrayBuffer[(Long, Seq[String])]()
    val pairs =
      scala.collection.mutable.ArrayBuffer[(Double, Long, Long, Double)]()
    for (tau <- taus; _ <- 0 until nPairs) {
      val m = math.round(2 * k * tau / (1 + tau)).toInt
      val shared = Seq.fill(m)(freshShingle())
      val a = shared ++ Seq.fill(k - m)(freshShingle())
      val b = shared ++ Seq.fill(k - m)(freshShingle())
      val j = m.toDouble / (2 * k - m)
      docs += ((id, rnd.shuffle(a))); docs += ((id + 1, rnd.shuffle(b)))
      pairs += ((tau, id, id + 1, j)); id += 2
    }
    val sig = Dedup.bandSignaturesFrom(docs.toSeq.toDF("doc_id", "shingles"))
    val cand = sig.as("x").join(sig.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (tau <- taus) {
      val ps = pairs.filter(_._1 == tau)
      val theo = ps.map { case (_, _, _, j) =>
        1 - math.pow(1 - math.pow(j, Dedup.RowsPerBand), Dedup.MinhashBands)
      }.sum / ps.size
      val emp = ps.count { case (_, a, b, _) =>
        cand.contains((a, b)) }.toDouble / ps.size
      val slack = 3 * math.sqrt(theo * (1 - theo) / ps.size)
      assert(emp >= theo - slack,
        f"tau=$tau: empirical candidate recall $emp%.3f below " +
          f"theoretical $theo%.3f − 3σ ($slack%.3f) — the banding " +
          "params are miscalibrated vs the s-curve")
    }
  }

  test("urlFilterOf: a single-label host is kept, never crashes the batch") {
    val hosts = Seq((1L, "localhost"), (2L, "site3.blog.net"),
      (3L, "site3.notblog.net")).toDF("doc_id", "host")
    val out = Pipeline.urlFilterOf(hosts, Pipeline.UrlBlocklist)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> true),
      "single-label hosts have no suffix chain (kept); suffix " +
        "semantics must still block blog.net subdomains only")
  }

  test("hard negatives drop queries whose label has no same-label " +
       "candidate (inner-join contract, not fixture luck)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_hn").toString
    // vec 0: unique label (a query with NO possible positive);
    // 1-9: label x; 10-11: label y
    val rows = (0L to 11L).map { i =>
      val lab = if (i == 0L) "solo" else if (i <= 9L) "x" else "y"
      (i, Array.tabulate(4)(d => (1.0f + i * 0.37f * (d + 1)) % 5.0f), lab)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = Similarity.annHardNegatives(spark, dir)
      .select("query_id").as[Long].collect().toSet
    assert(!out.contains(0L),
      "query 0 has no same-label candidate — no trainable pair, " +
        "must be dropped like the oracle's inner join drops it")
    assert(out == (1L to 9L).toSet,
      s"every two-sided query must survive, got $out")
  }

  test("binary quantization: rerank recovers recall the 1-bit codes lose") {
    // cosine ground truth (BQ codes approximate angular closeness)
    val emb = Tables.t(spark, sf0001, "embeddings")
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDoubleVec(col("embedding")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val exactTop = (0L until Similarity.NQueries).flatMap { q =>
      emb.keys.filter(_ != q).toSeq
        .sortBy(n => (-cos(emb(q), emb(n)), n)).take(Similarity.TopK)
        .map(n => (q, n))
    }.toSet
    def recall(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
        .intersect(exactTop).size.toDouble / exactTop.size
    val raw = recall(Similarity.annBq(spark, sf0001))
    val refined = recall(Similarity.annBqRefine(spark, sf0001))
    assert(refined >= raw, s"refine recall $refined < raw bq $raw")
    assert(refined > 0.5, s"bq refine recall $refined implausibly low")
    // every query returns exactly TopK rows, hamming within [0, 64]
    val out = Similarity.annBq(spark, sf0001).collect()
    assert(out.length === (Similarity.NQueries * Similarity.TopK).toInt)
    assert(out.forall(r => r.getLong(3) >= 0 && r.getLong(3) <= 64))
  }

  test("pagerank conserves mass and concentrates on supplier hubs") {
    val pr = RelationalQueries.qPageRank(spark, sf0001).collect()
    // symmetric edges ⇒ no dangling mass: Σpr = 1 up to rounding
    assert(math.abs(pr.map(_.getDouble(1)).sum - 1.0) < 1e-6)
    // 10 suppliers vs 150 customers: each supplier aggregates many
    // customers' mass, so the mean supplier rank must dominate
    val (sup, cust) = pr.partition(_.getString(0).startsWith("s"))
    assert(sup.nonEmpty && cust.nonEmpty)
    assert(sup.map(_.getDouble(1)).sum / sup.length >
      cust.map(_.getDouble(1)).sum / cust.length)
  }

  test("banded simhash pair join equals brute-force Hamming verify") {
    val sh = Dedup.dedupSimhash(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ia, ha) <- sh; (ib, hb) <- sh if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= Dedup.SimhashHamming
    } yield (ia, ib, d.toLong)).toSet
    val out = Dedup.dedupSimhashPairs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the banded join loses nothing (pigeonhole) and invents nothing
    assert(out.nonEmpty)
    assert(out === brute)
  }

  test("cross-corpus embed dedup = exactly the mixed-parity cosine pairs") {
    // the cross screen and the self-dedup share one quantizer, so the
    // cross output must be EXACTLY the parity-mixed subset of the
    // self-dedup pairs, re-keyed (base=even, crawl=odd) — no pair
    // gained, none lost, and never a within-corpus pair
    val self = Dedup.dedupEmbedCosine(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val cross = Dedup.dedupCrossEmbed(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(cross.nonEmpty)
    assert(cross.forall { case (b, c) => b % 2 == 0 && c % 2 == 1 })
    val expected = self.collect {
      case (a, b) if a % 2 != b % 2 =>
        if (a % 2 == 0) (a, b) else (b, a)
    }.toSet
    assert(cross.toSet === expected)
  }

  test("label propagation assigns every node a neighbor-held community") {
    val out = RelationalQueries.qCommunities(spark, sf0001).collect()
    val nodes = out.map(_.getString(0)).toSet
    val comms = out.map(_.getString(1)).toSet
    // one row per graph node, no dangling labels: every community id
    // is itself a node of the graph (labels only ever propagate)
    assert(out.length === nodes.size)
    assert(comms.subsetOf(nodes))
    // propagation actually merged: strictly fewer communities than
    // nodes, and at least one community holds several members
    assert(comms.size < nodes.size)
    val sizes = out.groupBy(_.getString(1)).map(_._2.length)
    assert(sizes.max >= 2)
    // deterministic: a second run replays the identical labeling
    val again = RelationalQueries.qCommunities(spark, sf0001).collect()
    assert(out.map(r => (r.getString(0), r.getString(1))).sorted.sameElements(
      again.map(r => (r.getString(0), r.getString(1))).sorted))
  }

  test("sq8 reconstruction error is bounded by half a quantization step") {
    // |x − dq(x)| ≤ step/2 per coordinate, by the floor + mid-interval
    // construction — THE invariant that makes SQ8 near-exact
    val e = Tables.t(spark, sf0001, "embeddings")
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDoubleVec(col("embedding")).as("v"))
    val params = e.agg(min(array_min(col("v"))).as("mn"),
        max(array_max(col("v"))).as("mx"))
      .withColumn("step", (col("mx") - col("mn")) / lit(255.0d))
    val worst = e.crossJoin(broadcast(params))
      .select(array_max(transform(col("v"), x => {
        val c = least(lit(255L), floor((x - col("mn")) / col("step")))
        abs(x - (col("mn") + (c.cast("double") + lit(0.5d)) * col("step")))
      })).as("err"), col("step"))
      .agg(max(col("err") / col("step"))).head().getDouble(0)
    assert(worst <= 0.5 + 1e-9, s"worst err/step = $worst")
  }

  test("index compaction preserves exactly the LIVE segment union") {
    AnnIndex.annIndexCompact(spark, sf0001).count() // materialize rewrite
    val path = AnnIndex.indexPath(spark, sf0001)
    def ids(seg: String) = spark.read.parquet(s"$path/$seg")
      .select("vec_id").as[Long].collect().toSet
    val union = ids("codes") ++ ids("codes_delta")
    val tomb = ids("deletes")
    val compacted = ids("codes_compacted")
    assert(tomb.nonEmpty && tomb.forall(
      _ % AnnIndex.DeleteMod == AnnIndex.DeleteRes))
    // compaction = union minus tombstones, nothing more or less
    assert(compacted == union -- tomb)
    // no duplicated vectors in the rewrite
    val codes = spark.read.parquet(s"$path/codes_compacted")
    assert(codes.count() == codes.select("vec_id").distinct().count())
  }

  test("tombstoned vectors are invisible to search without compaction") {
    val search = AnnIndex.annIndexSearch(spark, sf0001).collect()
    assert(search.nonEmpty)
    assert(!search.exists(
      _.getAs[Long]("neighbor_id") % AnnIndex.DeleteMod == AnnIndex.DeleteRes),
      "a tombstoned vector surfaced as a neighbor")
    val filtered = AnnIndex.annIndexSearchFiltered(spark, sf0001).collect()
    assert(!filtered.exists(
      _.getAs[Long]("neighbor_id") % AnnIndex.DeleteMod == AnnIndex.DeleteRes))
    // the tombstone artifact is thin ids, and without it the same
    // searchSegments plan DOES return those ids (the delete is what
    // hides them, not the candidate generation)
    val path = AnnIndex.indexPath(spark, sf0001)
    val unfiltered = AnnIndex.searchSegments(spark, sf0001, path,
      labelFiltered = false, applyDeletes = false).collect()
    assert(unfiltered.exists(
      _.getAs[Long]("neighbor_id") % AnnIndex.DeleteMod == AnnIndex.DeleteRes),
      "expected some tombstoned id among the raw candidates")
  }

  test("mm_decode emits one decoded row per document") {
    val n = spark.read.parquet(s"$sf0001/documents.parquet").count()
    assert(Multimodal.mmDecode(spark, sf0001).count() == n)
  }

  test("approx distinct counts stay within the configured HLL error") {
    // the registered q_approx_distinct: its exact counts equal a plain
    // countDistinct, and its witnesses say both HLL++ sketches landed
    // within ±5 % of them
    val bound = RelationalQueries.qApproxDistinctBound(spark, sf0001)
      .as[(String, Long, Long, Boolean, Boolean)].collect()
    val exact = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("p"),
        countDistinct(col("l_orderkey")).as("o"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(bound.length == exact.size && bound.nonEmpty)
    bound.foreach { case (k, p, o, partsOk, ordersOk) =>
      assert((p, o) == exact(k), s"$k exact counts")
      assert(partsOk && ordersOk, s"$k sketch outside ±5 %")
    }
  }

  test("saltedJoin is row-equivalent to the plain join under skew") {
    val big = (1 to 5000).map(i => (if (i % 10 == 0) 1L else i.toLong, i))
      .toDF("k", "payload") // key 1 is hot (i=1 plus every 10th: 501 rows)
    val small = Seq((1L, "hot"), (2L, "a"), (3L, "b")).toDF("k", "name")
    val plain = big.join(small, "k")
      .select("k", "payload", "name").as[(Long, Int, String)].collect().sorted.toSeq
    val salted = operators.SkewUtils.saltedJoin(big, small, "k", salt = 8)
      .select("k", "payload", "name").as[(Long, Int, String)].collect().sorted.toSeq
    assert(salted == plain)
  }

  test("sessionize (batch) splits on >30min gaps") {
    // craft: user 1 has two sessions (gap 31min), user 2 one session
    val us = 60L * 1000 * 1000
    val rows = Seq(
      (1L, 10L, 0L * us), (1L, 11L, 5L * us), (1L, 12L, 36L * us),
      (2L, 20L, 0L * us), (2L, 21L, 29L * us))
    val df = rows.toDF("user_id", "event_id", "ts_us")
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val out = df
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          col("ts_us") - col("prev_us") > Events.SessionGapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_id").count()
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 1L, 2L), (1L, 2L, 1L), (2L, 1L, 2L)))
  }

  test("repetitionOf finds the longest repeated bigram run") {
    // doc 1 "a b a b a": bigrams (a b, b a, a b, b a) -> top run 2 of 4;
    // 2 uniq toks of 5 -> dup_tok_ratio 0.6
    // doc 2 "x y z": all bigrams distinct -> top run 1 of 2
    val docs = Seq((1L, "a b a b a"), (2L, "x y z")).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionOf(docs)
      .as[(Long, Long, Double, Long, Double)].collect().toSet
    assert(out == Set((1L, 5L, 0.6, 2L, 0.5), (2L, 3L, 0.0, 1L, 0.5)))
  }

  test("bigramRarityOf counts corpus-rare bigrams per doc") {
    // model: "a b"=3 (common), "b a"=1, "b c"=1 (rare at RareMax=2)
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "z"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramRarityOf(docs)
      .select("doc_id", "n_bigrams", "n_rare")
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 3L, 1L), (2L, 2L, 1L))) // doc 3 has no bigrams
  }

  test("perplexityOf scores docs by the add-1 bigram LM (closed form)") {
    // corpus bigrams: (a,b)×2, (a,c)×1; context a=3; V={a,b,c}=3
    // P(b|a)=(2+1)/(3+3)=1/2 → 693147 µnats; P(c|a)=(1+1)/6=1/3 → 1098612
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.perplexityOf(docs)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(out == Set((1L, 1L, 693147L, 0.693147),
      (2L, 1L, 693147L, 0.693147), (3L, 1L, 1098612L, 1.098612)))
  }

  test("pplBucketsOf cuts per-lang terciles with doc_id tie-break") {
    // xx: docs 1-3 "a a a" (common bigram → low nll, identical scores),
    // docs 4-6 distinct-bigram (high nll, identical scores); yy: one doc.
    // V = {a,p,q,r,s,t,u,v,w,x,m} = 11.
    // xx low:  P(a|a) = (6+1)/(6+11) = 7/17 → r1 = round(ln(17/7)·1e6)
    // xx high: each bigram P = (1+1)/(1+11) = 1/6 → r2 = round(ln6·1e6)
    // yy:      P(m|m) = (2+1)/(2+11) = 3/13 → r3 = round(ln(13/3)·1e6)
    // n=6 → head rn∈{1,2} (ties → lowest doc_id), middle {3,4}, tail
    // {5,6}; yy n=1 → rn·3 > 2n → tail
    val docs = Seq(
      (1L, "a a a", "xx"), (2L, "a a a", "xx"), (3L, "a a a", "xx"),
      (4L, "p q r", "xx"), (5L, "s t u", "xx"), (6L, "v w x", "xx"),
      (7L, "m m m", "yy")).toDF("doc_id", "text", "lang")
    val r1 = math.round(math.log(17.0 / 7.0) * 1e6)
    val r2 = math.round(math.log(6.0) * 1e6)
    val r3 = math.round(math.log(13.0 / 3.0) * 1e6)
    val out = TextAnalysis.pplBucketsOf(docs)
      .select("lang", "bucket", "n_docs", "min_nllm", "max_nllm")
      .as[(String, String, Long, Long, Long)].collect().toSet
    assert(out == Set(
      ("xx", "head", 2L, r1, r1), ("xx", "middle", 2L, r1, r2),
      ("xx", "tail", 2L, r2, r2), ("yy", "tail", 1L, r3, r3)))
  }

  test("qualityTrainOf learns to separate a stopword-labeled fixture") {
    // en docs are all stopwords (stop_ratio 1.0), non-en none (0.0);
    // every other feature is identical across classes — the trained
    // model must pick the stopword signal and separate the classes
    val docs = ((1L to 6L).map(i => (i, "the a the a", "en")) ++
      (7L to 12L).map(i => (i, "x y x y", "de")))
      .toDF("doc_id", "text", "lang")
    val w = TextAnalysis.qualityTrainOf(spark, docs)
      .select("feature", "weight").as[(String, Double)].collect().toMap
    assert(w("stop_ratio") > 0, s"stopword weight must be positive: $w")
    def z(sr: Double) = w("bias") + 0.5 * w("uniq_ratio") +
      sr * w("stop_ratio") + 0.04 * w("len_norm") +
      0.1 * w("mean_tok_len_norm")
    assert(z(1.0) > 0, s"en-class logit must be positive: ${z(1.0)}")
    assert(z(0.0) < 0, s"non-en logit must be negative: ${z(0.0)}")
  }

  test("qualityScoreTrainedOf separates the fixture end-to-end") {
    val docs = ((1L to 6L).map(i => (i, "the a the a", "en")) ++
      (7L to 12L).map(i => (i, "x y x y", "de")))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.qualityScoreTrainedOf(spark, docs)
      .select("doc_id", "kept_trained", "is_en")
      .as[(Long, Int, Int)].collect()
    assert(out.length == 12)
    out.foreach { case (id, kept, isEn) =>
      assert(kept == isEn, s"doc $id: kept=$kept is_en=$isEn")
    }
  }

  test("sourceTemperatureOf flattens shares via sqrt (closed form)") {
    // sources with 1/4/16 docs: sqrt-weights 1:2:4 → temp shares
    // 1/7, 2/7, 4/7 vs raw 1/21, 4/21, 16/21
    val docs = ((1 to 1).map(i => (i.toLong, "a", 10L)) ++
      (2 to 5).map(i => (i.toLong, "b", 10L)) ++
      (6 to 21).map(i => (i.toLong, "c", 10L)))
      .toDF("doc_id", "source", "n_chars")
    val out = Pipeline.sourceTemperatureOf(docs)
      .select("source", "n_docs", "raw_share_micros", "temp_share_micros",
        "boost_micros")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      ("a", 1L, 47619L, 142857L, 3000000L),
      ("b", 4L, 190476L, 285714L, 1500000L),
      ("c", 16L, 761905L, 571429L, 750000L)))
  }

  test("pipelineDiverseSample keeps at most the quota per cell, dense ranks") {
    val out = Pipeline.pipelineDiverseSample(spark, sf0001)
      .select("cluster", "rn", "vec_id")
      .as[(Int, Int, Long)].collect()
    assert(out.nonEmpty)
    assert(out.map(_._3).distinct.length == out.length, "no vec_id repeats")
    out.groupBy(_._1).values.foreach { rows =>
      assert(rows.length <= Pipeline.DiverseQuota)
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.length),
        s"ranks must be dense 1..n within a cell")
    }
  }

  test("graded contamination: eval docs self-reject; clean docs band " +
       "clean; fractions bounded") {
    val out = Pipeline.pipelineDecontaminateOverlap(spark, sf0001)
      .select("doc_id", "n_shingles", "n_hit", "overlap_frac", "band")
      .as[(Long, Long, Long, Double, String)].collect()
    assert(out.nonEmpty)
    out.foreach { case (id, tot, hit, frac, band) =>
      assert(hit >= 0 && hit <= tot, s"doc $id hits out of range")
      assert(frac >= 0.0 && frac <= 1.0)
      // band derives from the fraction, consistently
      if (frac >= 0.5) assert(band == "reject", s"doc $id")
      else if (frac > 0) assert(band == "flag", s"doc $id")
      else assert(band == "clean", s"doc $id")
      // an eval-set member is 100% contaminated with itself
      if (id % 97 == 0) assert(frac == 1.0 && band == "reject",
        s"eval doc $id must self-reject")
    }
    assert(out.exists(_._5 == "clean"), "corpus should have clean docs")
  }

  test("preference pairs: chosen beats rejected, deterministic ties, " +
       "no zero-margin pairs") {
    val out = Pipeline.pipelinePrefPairs(spark, sf0001)
      .select("bucket", "chosen_id", "rejected_id", "chosen_score",
        "rejected_score", "margin")
      .as[(Long, Long, Long, Double, Double, Double)].collect()
    assert(out.nonEmpty)
    assert(out.map(_._1).distinct.length == out.length,
      "at most one pair per bucket")
    out.foreach { case (b, c, r, cs, rs, m) =>
      assert(c != r, s"bucket $b pair must differ")
      assert(c % Pipeline.PrefBuckets == b && r % Pipeline.PrefBuckets == b)
      assert(cs > rs && m > 0, s"bucket $b needs a real margin")
      assert(math.abs(m - math.rint((cs - rs) * 1e6) / 1e6) < 1e-9)
    }
    // crafted ties: identical scores in a bucket emit nothing — run
    // the same aggregation shape on a 2-doc equal-score bucket
    val two = Seq((0L, "a b c"), (50L, "x y z")).toDF("doc_id", "text")
    val scored = two
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), (col("doc_id") % Pipeline.PrefBuckets).as("bucket"),
        round(size(array_distinct(col("toks"))).cast("double") /
          size(col("toks")), 6).as("score"))
    val pairs = scored.groupBy(col("bucket"))
      .agg(max(struct(col("score"), (-col("doc_id")).as("nid"))).as("c"),
        min(struct(col("score"), col("doc_id").as("id"))).as("r"))
      .where((-col("c.nid")) =!= col("r.id"))
    assert(pairs.count() == 0, "equal scores must not form a pair")
  }

  test("span scrub removes exactly the cross-doc duplicated span tokens") {
    val s = (1 to 8).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"a1 $s z1"),            // span at pos 2..9 → keeps a1 z1
      (2L, s),                      // fully covered → empty
      (3L, (1 to 9).map(i => s"b$i").mkString(" "))) // unique → untouched
      .toDF("doc_id", "text")
    val out = Dedup.spanScrubOf(docs)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(out == Set(
      (1L, 10L, 8L, "a1 z1"),
      (2L, 8L, 8L, ""),
      (3L, 9L, 0L, (1 to 9).map(i => s"b$i").mkString(" "))))
  }

  test("datacard entropy: uniform 2-lang = ln2 micro-nats, single-lang = 0") {
    val docs = (
      (1 to 4).map(i => (s"s$i", "src_ab", "aa", 10L)) ++
      (5 to 8).map(i => (s"s$i", "src_ab", "bb", 20L)) ++
      (9 to 11).map(i => (s"s$i", "src_mono", "aa", 5L)))
      .toDF("id", "source", "lang", "n_chars")
    val out = Pipeline.datacardOf(docs)
      .select("source", "n_docs", "total_chars", "n_langs",
        "dominant_lang", "entropy_micros")
      .as[(String, Long, Long, Long, String, Long)].collect().toSet
    // uniform 2-lang source: H = ln 2 exactly (the per-lang micro-nat
    // terms are equal, so the Σ c·term / n readout is the term itself);
    // tie on counts → lexicographically first lang wins
    assert(out == Set(
      ("src_ab", 8L, 120L, 2L, "aa", math.round(math.log(2) * 1e6)),
      ("src_mono", 3L, 15L, 1L, "aa", 0L)))
  }

  test("token budget keeps the greedy hash-order prefix per source") {
    // source "s": 4 docs × 4 tokens = 16 total, budget 8 → exactly the
    // first TWO docs in skey order survive; source "solo": 1 doc, budget
    // floor(6/2) = 3 < 6 → nothing kept, source absent from the output
    val docs = Seq(
      (1L, "s", "t t t t"), (2L, "s", "t t t t"),
      (3L, "s", "t t t t"), (4L, "s", "t t t t"),
      (9L, "solo", "u u u u u u")).toDF("doc_id", "source", "text")
    def skey(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"budget:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    val expectIds = Seq(1L, 2L, 3L, 4L).sortBy(i => (skey(i), i)).take(2)
    val out = Pipeline.tokenBudgetOf(docs)
      .select("source", "n_kept", "tokens_kept", "budget", "kept_ids_sum")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(out == Set(("s", 2L, 8L, 8L, expectIds.sum)))
  }

  test("grouped split has zero leakage by construction") {
    val out = Pipeline.pipelineSplitGrouped(spark, sf0001)
      .select("split", "n_docs", "n_leaked")
      .as[(String, Long, Long)].collect()
    assert(out.map(_._1).toSet.subsetOf(Set("train", "val", "test")))
    assert(out.map(_._2).sum == 500L, "every doc lands in some split")
    assert(out.forall(_._3 == 0L),
      s"near-dup partners must never straddle splits: ${out.toSeq}")
  }

  test("prefixJoinOf finds exactly the pairs with shingle-Jaccard >= 0.6") {
    val docs = Seq(
      (1L, "a b c d e"),     // {abc,bcd,cde}
      (2L, "a b c d x"),     // vs 1: 2/4 = 0.5 → out
      (3L, "a b c d e f"),   // vs 1: 3/4 = 0.75 → in
      (4L, "a b c d e"))     // dup of 1 → 1.0; vs 3: 0.75
      .toDF("doc_id", "text")
    val out = operators.Dedup.prefixJoinOf(docs)
      .select("doc_a", "doc_b", "inter", "uni", "jacc_micros")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      (1L, 3L, 3L, 4L, 750000L),
      (1L, 4L, 3L, 3L, 1000000L),
      (3L, 4L, 3L, 4L, 750000L)))
  }

  test("crossCorpusOf finds the planted crawl-vs-base duplicate, never within-corpus pairs") {
    import operators.Dedup
    // base = even ids, crawl = odd ids. Planted: 101 (crawl) is a
    // near-verbatim copy of 100 (base) → MUST surface; 102/104 are
    // identical WITHIN the base and 103/105 identical WITHIN the
    // crawl → must NOT surface (that's the self-join's job); 107 is
    // unrelated text → no pair.
    val body = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (100L, body),
      (101L, body + " tail"),
      (102L, "x y z " + body.take(40)),
      (104L, "x y z " + body.take(40)),
      (103L, "p q r s t u v w p q r s t u v w"),
      (105L, "p q r s t u v w p q r s t u v w"),
      (107L, (1 to 30).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val sh = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"), Dedup.shingleCol(col("toks"), 3).as("shingles"))
    val out = Dedup.crossCorpusOf(sh)
      .as[(Long, Long, Double)].collect()
    assert(out.exists { case (n, b, j) => n == 101L && b == 100L && j > 0.9 },
      s"planted cross-corpus duplicate missed: ${out.toSeq}")
    assert(out.forall { case (n, b, _) => n % 2 == 1 && b % 2 == 0 },
      s"within-corpus pair leaked into the cross screen: ${out.toSeq}")
    assert(!out.exists { case (n, b, _) =>
      Set(n, b).subsetOf(Set(102L, 104L)) || Set(n, b).subsetOf(Set(103L, 105L)) })
  }

  test("prefixJoinOf equals brute-force Jaccard on real data (exactness)") {
    // the prefix lemma promises ZERO false negatives — verify against
    // an all-pairs scala replay of distinct-3-shingle Jaccard at sf0.001
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    val sets = docs.map { case (id, t) =>
      val w = t.split(" ")
      id -> w.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty)
    val brute = (for {
      i <- sets.indices.iterator
      j <- (i + 1) until sets.length
      (ida, a) = sets(i)
      (idb, b) = sets(j)
      inter = (a & b).size
      uni = a.size + b.size - inter
      if inter * 5L >= uni * 3L
    } yield (math.min(ida, idb), math.max(ida, idb),
      inter.toLong, uni.toLong)).toSet
    val out = operators.Dedup.prefixJoinOf(
      spark.read.parquet(s"$sf0001/documents.parquet"))
      .select("doc_a", "doc_b", "inter", "uni")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out == brute && out.nonEmpty, s"got ${out.size} vs ${brute.size}")
  }

  test("keepBestOf keeps the longest member with doc_id tie-break") {
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (9L, 9L), (10L, 9L))
      .toDF("doc", "component")
    val docs = Seq((1L, 5L), (2L, 9L), (3L, 9L), (9L, 2L), (10L, 7L))
      .toDF("doc_id", "n_chars")
    val out = operators.Dedup.keepBestOf(comp, docs)
      .select("component", "n_members", "rep_doc", "rep_chars",
        "total_chars")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // component 1: lengths (5, 9, 9) → tie at 9 → doc 2 wins over 3
    assert(out == Set((1L, 3L, 2L, 9L, 23L), (9L, 2L, 10L, 7L, 9L)))
  }

  test("cmsTopKOf never undercounts and is exact on a collision-free fixture") {
    val keys = (Seq.fill(5)(1L) ++ Seq.fill(3)(2L) ++ Seq(3L)).toDF("key")
    val out = RelationalQueries.cmsTopKOf(keys)
      .select("key", "exact_c", "est_c", "never_undercounts", "within_bound")
      .as[(Long, Long, Long, Boolean, Boolean)].collect().toSet
    // 3 keys × 4 hash rows in 1024 buckets: no collisions, so the min
    // cell IS the exact count and both witnesses hold
    assert(out == Set(
      (1L, 5L, 5L, true, true),
      (2L, 3L, 3L, true, true),
      (3L, 1L, 1L, true, true)))
  }

  test("personalized PageRank concentrates mass around the seed") {
    val out = RelationalQueries.qPageRankPersonalized(spark, sf0001)
      .as[(String, Double)].collect()
    val seed = out.map(_._1).min
    val byNode = out.toMap
    // the seed holds the maximum rank (restart mass returns to it),
    // all ranks are non-negative, and total mass stays ~1 (symmetric
    // graph — no dangling leak; tolerance covers per-round rounding)
    assert(byNode(seed) == out.map(_._2).max)
    assert(out.forall(_._2 >= 0.0))
    assert(math.abs(out.map(_._2).sum - 1.0) < 1e-3,
      s"mass=${out.map(_._2).sum}")
    // and it differs from uniform PageRank (the teleport matters)
    val uni = RelationalQueries.qPageRank(spark, sf0001)
      .as[(String, Double)].collect().toMap
    assert(byNode(seed) > uni(seed) * 10)
  }

  test("sparse-frontier PPR is bit-identical to the dense loop") {
    // the RDD kernel behind graph_ppr against the DataFrame lowering's
    // sparse-frontier mode (PageRankOracle): zero-mass rows contribute
    // exact zeros and the per-round 12dp quantization applies to the
    // same cb either way, so the two must agree bit-for-bit, including
    // the re-densified zeros. Uniform graph_pagerank against the
    // oracle's dense loop is the second input.
    import RelationalQueries.PrDamp
    def viaOracle(init: (Long, Long) => Column,
                  teleport: (Long, Long) => Column, sparseSeed: Boolean) =
      PageRankOracle.pageRankCore(spark, sf0001, init, teleport, sparseSeed)
        .select(concat(when(col("node") % 2 === 0, lit("c"))
            .otherwise(lit("s")), (col("node") / 2).cast("long")).as("node"),
          round(col("pr"), 9))
    val cases = Seq(
      ("ppr", RelationalQueries.qPageRankPersonalized(spark, sf0001),
        viaOracle(
          (_, seed) =>
            when(col("node") === lit(seed), lit(1.0)).otherwise(lit(0.0)),
          (_, seed) =>
            when(col("node") === lit(seed), lit(1 - PrDamp))
              .otherwise(lit(0.0)),
          sparseSeed = true)),
      ("pagerank", RelationalQueries.qPageRank(spark, sf0001),
        viaOracle((n, _) => lit(1.0 / n), (n, _) => lit((1 - PrDamp) / n),
          sparseSeed = false)))
    for ((name, kernelDf, oracleDf) <- cases) {
      val kernel = kernelDf.as[(String, Double)].collect().sortBy(_._1)
      val oracle = oracleDf.as[(String, Double)].collect().sortBy(_._1)
      assert(kernel.nonEmpty && kernel.length == oracle.length, name)
      kernel.zip(oracle).foreach { case ((kn, kv), (on, ov)) =>
        assert(kn == on, name)
        assert(java.lang.Double.doubleToLongBits(kv) ==
          java.lang.Double.doubleToLongBits(ov), s"$name node $kn: $kv vs $ov")
      }
    }
  }

  test("cmsGrid equals the declarative explode sketch cell-for-cell") {
    // pins the byte-level bucket math (digest bytes [4d,4d+4) big-
    // endian) against the hex-slicing definition the oracle replays
    val keys = (1L to 500L).flatMap(k => Seq.fill((k % 7 + 1).toInt)(k))
      .toDF("key")
    val grid = RelationalQueries.cmsGrid(keys)
      .as[(Int, Long, Long)].collect().toSet
    val decl = keys
      .select(explode(RelationalQueries.cmsBuckets(col("key"))).as("h"))
      .groupBy(col("h.d").as("d"), col("h.bucket").as("bucket"))
      .agg(count(lit(1)).as("cell"))
      .as[(Int, Long, Long)].collect().toSet
    assert(grid == decl)
  }

  test("langIdNb learns a separable fixture (fit + predict + micro-nats)") {
    // disjoint vocabularies: the NB model must classify every training
    // doc correctly, and the winning log-likelihood must equal an
    // independent scala-side replay of the micro-nat arithmetic
    val docs = Seq(
      (1L, "foo bar baz foo", "aa"), (2L, "bar baz bar", "aa"),
      (3L, "qux quux corge qux", "bb"), (4L, "quux corge", "bb"),
      (5L, "corge qux quux", "bb"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.langIdNbOf(docs)
      .select("doc_id", "pred_lang", "ll_micros", "is_correct")
      .as[(Long, String, Long, Boolean)].collect()
    assert(out.length == 5 && out.forall(_._4), s"all correct: ${out.toSeq}")
    // replay doc 2 ("bar baz bar", lang aa) by hand: V = 6,
    // n_toks(aa) = 7; c(bar|aa) = 3, c(baz|aa) = 2; prior = ln(2/5)
    def lp(c: Long) = math.round(math.log((c + 1.0) / (7 + 6.0)) * 1e6)
    val expected = 2 * lp(3) + lp(2) + math.round(math.log(2.0 / 5) * 1e6)
    assert(out.find(_._1 == 2L).get._3 == expected)
  }

  test("langIdTrain readout matches a scala-side replay of the constants") {
    val docs = Seq(
      (1L, "foo bar", "aa"), (2L, "foo", "aa"), (3L, "baz qux baz", "bb"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.langIdTrainOf(docs)
      .select("lang", "n_docs", "n_toks", "prior_micros", "lp0_micros",
        "v_size")
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // V = 4 distinct tokens overall
    assert(out("aa") == ("aa", 2L, 3L,
      math.round(math.log(2.0 / 3) * 1e6),
      math.round(math.log(1.0 / (3 + 4.0)) * 1e6), 4L))
    assert(out("bb") == ("bb", 1L, 3L,
      math.round(math.log(1.0 / 3) * 1e6),
      math.round(math.log(1.0 / (3 + 4.0)) * 1e6), 4L))
  }

  test("annRecall equals the independently-computed exact∩ivfpq overlap") {
    def results(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)]
        .collect().groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
    val exact = results(Similarity.annTopKCosine(spark, sf0001))
    val approx = results(Similarity.annIvfPq(spark, sf0001))
    val got = Similarity.annRecall(spark, sf0001)
      .select("query_id", "n_hits", "k", "recall_at_k")
      .as[(Long, Long, Long, Double)].collect()
    assert(got.length == Similarity.NQueries)
    got.foreach { case (q, hits, k, r) =>
      val expHits = exact(q).intersect(approx.getOrElse(q, Set.empty)).size
      assert(k == Similarity.TopK)
      assert(hits == expHits, s"q=$q: n_hits $hits vs independent $expHits")
      assert(r == math.round(hits.toDouble / k * 1e6) / 1e6)
    }
  }

  test("dedup_span_coverage flags only spans shared across docs") {
    val spark2 = spark
    import spark2.implicits._
    // 8 identical leading tokens shared by docs 1 and 2; doc 3 disjoint.
    val base = "t1 t2 t3 t4 t5 t6 t7 t8"
    val docs = Seq((1L, s"$base x1 x2"), (2L, s"$base y1"),
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8 z9")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("spanCov").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.dedupSpanCoverage(spark, dir)
      .select("doc_id", "n_spans", "n_dup_spans")
      .as[(Long, Long, Long)].collect().toSet
    // doc 1: spans at offsets 1..3 (10 toks) -> 3 distinct, 1 shared
    assert(out == Set((1L, 3L, 1L), (2L, 2L, 1L), (3L, 2L, 0L)))
  }

  test("containment catches the quoted-document case Jaccard dilutes") {
    val spark2 = spark
    import spark2.implicits._
    // doc 1 appears VERBATIM inside doc 2, which carries a tail of its
    // own — the doc-in-doc duplication shape: when A ⊆ B, Jaccard =
    // |A|/|B| (dilutes with the tail) while containment(A in B) stays
    // exactly 1.0. The tail is sized so the pair still survives the
    // resemblance-LSH banding (deep containment escaping minhash
    // candidates entirely is the measure's documented recall limit —
    // candidate generation is shared with the Jaccard query).
    val quoted = "alpha beta gamma delta epsilon zeta"
    val docs = Seq((1L, quoted), (2L, s"$quoted extra1"),
      (3L, "wholly unrelated content sits here alone")).toDF("doc_id", "text")
    val shingled = docs
      .select(col("doc_id"),
        Dedup.shingleCol(split(col("text"), " "), 3).as("shingles"))
    val out = Dedup.containmentOf(shingled)
      .select("doc_a", "doc_b", "containment_a", "containment_b",
        "max_containment")
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    // the pair must survive banding (doc 1's 4 shingles all live in
    // doc 2, so every minhash of doc 1 bounds doc 2's from above)
    assert(out.contains((1L, 2L)), s"candidate pair missing: $out")
    val (ca, cb, mx) = out((1L, 2L))
    assert(ca == 1.0, s"containment(1 in 2) = $ca, want 1.0")
    // A ⊆ B ⇒ Jaccard = |A|/|B| = containment_b = 4/5 — the dilution
    // the asymmetric measure corrects
    assert(cb == 0.8 && mx == 1.0, s"containment_b = $cb")
    assert(!out.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("packOf chops a shard's token stream at ContextLen boundaries") {
    val spark2 = spark
    import spark2.implicits._
    // identical text => same content shard; 2050 tokens per doc, so
    // doc 1 starts at offset 0 (chunk 0) and doc 2 at 2050 (chunk 1)
    val text = Seq.fill(2050)("t").mkString(" ")
    val docs = Seq((1L, text), (2L, text)).toDF("doc_id", "text")
    val out = Pipeline.packOf(docs)
      .select("chunk_id", "n_docs", "started_tokens")
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((0L, 1L, 2050L), (1L, 1L, 2050L)))
  }

  test("PQ codes reconstruct the codebook seed vectors exactly") {
    val spark2 = spark
    import spark2.implicits._
    // the first PqKsub vectors ARE the codebook, block-wise: each must
    // self-assign with zero quantization error
    val out = Similarity.annPqCodes(spark, sf0001)
      .select(col("vec_id"), col("recon_err"))
      .as[(Long, Double)].collect().toMap
    (0L until Similarity.PqKsub.toLong).foreach(j => assert(out(j) == 0.0,
      s"seed $j has recon_err ${out(j)}"))
    // and quantization is lossy for the corpus at large
    assert(out.values.count(_ > 0) > 400)
  }

  test("PQ ADC search recalls far above chance vs exact L2 top-10") {
    val spark2 = spark
    import spark2.implicits._
    // exact L2 baseline computed directly (500×64 fits the driver)
    val vecs = graft.Tables.t(spark, sf0001, "embeddings")
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDoubleVec(col("embedding")))
      .as[(Long, Seq[Double])].collect().toMap
    def l2sq(a: Seq[Double], b: Seq[Double]): Double =
      a.iterator.zip(b.iterator).map { case (x, y) => (x - y) * (x - y) }.sum
    val exact = (0L until Similarity.NQueries.toLong).map { q =>
      q -> vecs.keys.filter(_ != q).toSeq
        .sortBy(n => (l2sq(vecs(q), vecs(n)), n))
        .take(Similarity.TopK).toSet
    }.toMap
    val pq = Similarity.annPq(spark, sf0001)
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val recall = exact.keys.map(q =>
      (exact(q) & pq.getOrElse(q, Set.empty)).size.toDouble /
        Similarity.TopK).sum / exact.size
    // measured 0.28 with the 16-seed codebook; chance is 10/500 = 0.02
    assert(recall >= 0.15, s"mean recall@10 $recall vs 0.02 chance")
  }

  test("packOf conserves every token exactly once (random docs)") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(424242)
    val docs = (1L to 200L).map(i =>
      (i, Seq.fill(1 + rnd.nextInt(700))("w" + rnd.nextInt(50))
        .mkString(" "))).toDF("doc_id", "text")
    val out = Pipeline.packOf(docs)
      .agg(sum(col("n_docs")), sum(col("started_tokens")))
      .as[(Long, Long)].collect().head
    val expectTokens = docs.select(size(split(col("text"), " ")))
      .as[Int].collect().map(_.toLong).sum
    assert(out == ((200L, expectTokens)))
  }

  test("IVF-PQ neighbors all come from their query's probed cells") {
    val spark2 = spark
    import spark2.implicits._
    val cents = KMeansQueries.fixedCentroids(spark, sf0001)
    val clusterOf = KMeansQueries.kmAssign(spark, sf0001)
      .as[(Long, Int)].collect().toMap
    val vecs = graft.Tables.t(spark, sf0001, "embeddings")
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDoubleVec(col("embedding")))
      .as[(Long, Seq[Double])].collect().toMap
    val out = Similarity.annIvfPq(spark, sf0001)
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (q, n) =>
      val probed = OperatorReferences.probeCells(cents, vecs(q).toArray,
        Similarity.NProbe).toSet
      assert(probed.contains(clusterOf(n)),
        s"neighbor $n of query $q is in cell ${clusterOf(n)}, probed $probed")
    }
  }

  test("piiOf counts and redacts injected emails/phones/IPs") {
    val spark2 = spark
    import spark2.implicits._
    // id 15 triggers all optional injections (%3 and %5); id 1 neither
    val docs = Seq((15L, "hello world"), (1L, "hi")).toDF("doc_id", "text")
    val out = TextAnalysis.piiOf(docs)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // 15: "hello world contact <EMAIL> cc <EMAIL> tel <PHONE> ip <IP>"
    //  1: "hi contact <EMAIL> tel <PHONE>"
    assert(out == Set((15L, 2L, 1L, 1L, 58L), (1L, 1L, 1L, 0L, 30L)))
  }

  test("mmBmp's in-plan BMP synthesis is byte-identical to a JVM reference encoder") {
    import java.nio.{ByteBuffer, ByteOrder}
    def refBmp(docId: Long): Array[Byte] = {
      val w = 2 + (docId % 7).toInt
      val h = 1 + (docId % 5).toInt
      val rb = w * 3; val pad = (4 - rb % 4) % 4; val stride = rb + pad
      val bb = ByteBuffer.allocate(54 + stride * h)
        .order(ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte); bb.put('M'.toByte)
      bb.putInt(54 + stride * h); bb.putInt(0); bb.putInt(54)
      bb.putInt(40); bb.putInt(w); bb.putInt(h)
      bb.putShort(1); bb.putShort(24); bb.putInt(0); bb.putInt(stride * h)
      bb.putInt(2835); bb.putInt(2835); bb.putInt(0); bb.putInt(0)
      for (fr <- 0 until h) {
        for (j <- 0 until rb)
          bb.put(((docId * 7 + fr * 31 + j * 13) % 251).toByte)
        for (_ <- 0 until pad) bb.put(0.toByte)
      }
      bb.array()
    }
    val blobs = operators.Multimodal.bmpMedia(spark, sf0001)
      .collect().sortBy(_.doc_id).take(10)
    blobs.foreach { m =>
      assert(java.util.Arrays.equals(m.blob, refBmp(m.doc_id)),
        s"BMP bytes mismatch for doc ${m.doc_id}")
    }
    // decoder round-trip on the reference bytes + garbage rejection
    val info = operators.Multimodal.BmpDecoder.decode(6L, refBmp(6L)).get
    assert(info.width == 2 + 6 % 7 && info.height == 1 + 6 % 5)
    assert(info.n_pixels == info.width.toLong * info.height)
    assert(operators.Multimodal.BmpDecoder
      .decode(1L, Array[Byte](1, 2, 3)).isEmpty)
    // channel means agree with a direct computation over the pixel fn
    val w = info.width; val h = info.height; val rb = w * 3
    def mean(ch: Int): Double = (for { fr <- 0 until h; j <- 0 until rb
      if j % 3 == ch } yield (6L * 7 + fr * 31 + j * 13) % 251)
      .sum.toDouble / (w * h)
    assert(math.abs(info.mean_b - mean(0)) < 1e-12)
    assert(math.abs(info.mean_g - mean(1)) < 1e-12)
    assert(math.abs(info.mean_r - mean(2)) < 1e-12)
  }

  test("integer Goertzel: recursion equals closed-form weights; DC rejected") {
    import operators.Multimodal
    // corpus blobs: the decoder's recursion vs the period-6 closed form
    val u = Array(1L, 1L, 0L, -1L, -1L, 0L)
    val blobs = Multimodal.wavMedia(spark, sf0001)
      .collect().sortBy(_.doc_id).take(10)
    blobs.foreach { m =>
      val info = Multimodal.WavDecoder.decode(m.doc_id, m.blob).get
      val xs = (0 until info.n_samples.toInt).map { t =>
        val i = t * info.n_channels + 1 // 1-based interleaved sample index
        val s = (m.doc_id * 31 + i * 7) % 65536
        if (s >= 32768) s - 65536 else s
      }
      val n = xs.length
      def qAt(k: Int): Long =
        (1 to k).map(t => xs(t - 1).toLong * u((k - t) % 6)).sum
      val (qn, qn1) = (qAt(n), qAt(n - 1))
      val got = Multimodal.WavTone.tone(m.doc_id, m.blob).get
      assert(got.tone_power == qn * qn + qn1 * qn1 - qn * qn1,
        s"doc ${m.doc_id}")
      assert(got.n_frames == n.toLong)
    }
    // bin selectivity on crafted mono 8 kHz signals: a period-6 tone
    // responds (closed-form 48000² here), DC over full periods is
    // rejected EXACTLY (the u-weights sum to zero per period)
    def wav(samples: Seq[Int]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(44 + samples.length * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes); bb.putInt(36 + samples.length * 2)
      bb.put("WAVE".getBytes); bb.put("fmt ".getBytes); bb.putInt(16)
      bb.putShort(1); bb.putShort(1); bb.putInt(8000)
      bb.putInt(16000); bb.putShort(2); bb.putShort(16)
      bb.put("data".getBytes); bb.putInt(samples.length * 2)
      samples.foreach(s => bb.putShort(s.toShort))
      bb.array()
    }
    val tone = Seq.tabulate(48)(t => Seq(2, 1, -1, -2, -1, 1)(t % 6) * 1000)
    val dc = Seq.fill(48)(1000)
    assert(Multimodal.WavTone.tone(0L, wav(tone)).get.tone_power ==
      2304000000L)
    assert(Multimodal.WavTone.tone(0L, wav(dc)).get.tone_power == 0L)
    // non-WAV garbage refuses
    assert(Multimodal.WavTone.tone(0L, Array.fill(50)(7.toByte)).isEmpty)
  }

  test("WavVad: segmentation equals direct recompute; windows/threshold/runs") {
    import operators.Multimodal
    // corpus blobs (mono AND stereo): decoder walk vs direct recompute
    val blobs = Multimodal.wavMedia(spark, sf0001)
      .collect().sortBy(_.doc_id).take(10)
    blobs.foreach { m =>
      val info = Multimodal.WavDecoder.decode(m.doc_id, m.blob).get
      val xs = (0 until info.n_samples.toInt).map { t =>
        val i = t * info.n_channels + 1
        val s = (m.doc_id * 31 + i * 7) % 65536
        (if (s >= 32768) s - 65536 else s).toLong
      }
      val wins = xs.grouped(8).filter(_.size == 8)
        .map(w => w.map(x => x * x).sum).toVector
      val vo = wins.map(_ >= 2000000000L)
      val segs = vo.zip(false +: vo.dropRight(1)).count {
        case (cur, prev) => cur && !prev }
      val got = Multimodal.WavVadOp.vad(m.doc_id, m.blob).get
      assert(got.n_windows == wins.size.toLong, s"doc ${m.doc_id}")
      assert(got.n_voiced == vo.count(identity).toLong, s"doc ${m.doc_id}")
      assert(got.n_segments == segs.toLong, s"doc ${m.doc_id}")
      assert(got.voiced_energy ==
        wins.zip(vo).collect { case (e, true) => e }.sum, s"doc ${m.doc_id}")
    }
    // crafted pattern: loud,loud,quiet,loud → 4 windows, 3 voiced, 2 runs
    def wav(samples: Seq[Int]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(44 + samples.length * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes); bb.putInt(36 + samples.length * 2)
      bb.put("WAVE".getBytes); bb.put("fmt ".getBytes); bb.putInt(16)
      bb.putShort(1); bb.putShort(1); bb.putInt(8000)
      bb.putInt(16000); bb.putShort(2); bb.putShort(16)
      bb.put("data".getBytes); bb.putInt(samples.length * 2)
      samples.foreach(s => bb.putShort(s.toShort))
      bb.array()
    }
    val loud = Seq.fill(8)(20000) // 8·4e8 = 3.2e9 ≥ 2e9
    val quiet = Seq.fill(8)(1000) // 8e6 < 2e9
    val v = Multimodal.WavVadOp.vad(9L, wav(loud ++ loud ++ quiet ++ loud)).get
    assert(v.n_windows == 4L && v.n_voiced == 3L && v.n_segments == 2L)
    assert(v.voiced_energy == 3L * 8L * 20000L * 20000L)
    // trailing partial window drops; short doc → all-zero row, not absent
    val p = Multimodal.WavVadOp.vad(9L, wav(loud ++ Seq.fill(4)(20000))).get
    assert(p.n_windows == 1L && p.n_voiced == 1L)
    assert(Multimodal.WavVadOp.vad(9L, wav(Seq.fill(5)(9))).get ==
      Multimodal.WavVad(9L, 0L, 0L, 0L, 0L))
    // non-WAV garbage refuses
    assert(Multimodal.WavVadOp.vad(9L, Array.fill(50)(7.toByte)).isEmpty)
  }

  test("decodeAHash: bits equal a direct above-mean computation; guards hold") {
    val blobs = operators.Multimodal.bmpMedia(spark, sf0001)
      .collect().sortBy(_.doc_id).take(10)
    blobs.foreach { m =>
      val a = operators.Multimodal.decodeAHash(m.doc_id, m.blob, 1).get
      val (w, h) = (a.width, a.height)
      // reference: luminance = B+G+R at storage row h-1-y, bit iff
      // strictly above the integer mean (cross-multiplied)
      val lum = for { y <- 0 until h; x <- 0 until w } yield
        (0 until 3).map(c =>
          (m.doc_id * 7 + (h - 1 - y) * 31 + (3 * x + c) * 13) % 251).sum
      val total = lum.sum
      val n = lum.length.toLong
      val ref = lum.zipWithIndex
        .collect { case (l, p) if l * n > total => 1L << p }.sum
      assert(a.ahash === ref, s"hash mismatch for doc ${m.doc_id}")
      assert(a.n_bits === n)
      // not every pixel can sit strictly above the mean
      assert(java.lang.Long.bitCount(a.ahash) < n)
      // factor-2 geometry is the resize kernel's ceil rule
      val a2 = operators.Multimodal
        .decodeAHash(m.doc_id, m.blob, operators.Multimodal.AHashFactor).get
      assert((a2.hash_w, a2.hash_h) === ((w + 1) / 2, (h + 1) / 2))
    }
    // garbage and over-64-sample images are refused, never mis-hashed
    assert(operators.Multimodal.decodeAHash(1L, Array[Byte](9, 9), 1).isEmpty)
    val big = operators.Multimodal.bmpMedia(spark, sf0001)
      .collect().find(m => (2 + m.doc_id % 7) * (1 + m.doc_id % 5) >= 40).get
    // factor 1 on a 8x5 image is 40 bits (fine); a synthetic check of
    // the cap: a fake header claiming 9x8 would exceed 64 — covered by
    // the filter in decodeAHash (constructed images here never do)
    assert(operators.Multimodal.decodeAHash(big.doc_id, big.blob, 1).nonEmpty)
  }

  test("dedupImage buckets are unique, sized >=2, keyed by member minimum") {
    val out = operators.Multimodal.dedupImage(spark, sf0001).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getLong(3) >= 2))
    val keys = out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(keys.length === keys.distinct.length)
    // recompute membership directly and check one bucket end-to-end
    val hashes = operators.Multimodal.bmpMedia(spark, sf0001).collect()
      .flatMap(m => operators.Multimodal
        .decodeAHash(m.doc_id, m.blob, operators.Multimodal.AHashFactor))
    val byBucket = hashes.groupBy(a => (a.width.toLong, a.height.toLong, a.ahash))
    out.foreach { r =>
      val members = byBucket((r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(members.length.toLong === r.getLong(3))
      assert(members.map(_.doc_id).min === r.getLong(4))
    }
  }

  test("decodeResized: factor-1 equals decode; factor-2 samples image space") {
    val blobs = operators.Multimodal.bmpMedia(spark, sf0001)
      .collect().sortBy(_.doc_id).take(10)
    blobs.foreach { m =>
      // factor 1 is the identity resize: geometry and means must equal
      // the plain decoder's
      val d = operators.Multimodal.BmpDecoder.decode(m.doc_id, m.blob).get
      val r1 = operators.Multimodal.BmpDecoder
        .decodeResized(m.doc_id, m.blob, 1).get
      assert((r1.out_w, r1.out_h) == (d.width, d.height))
      assert(math.abs(r1.mean_b - d.mean_b) < 1e-12 &&
        math.abs(r1.mean_g - d.mean_g) < 1e-12 &&
        math.abs(r1.mean_r - d.mean_r) < 1e-12)
      // factor 2: ceil geometry, and means re-derived from the pixel fn
      // sampling stored rows h-1-2y (bottom-up) at bytes 6x+c
      val r2 = operators.Multimodal.BmpDecoder
        .decodeResized(m.doc_id, m.blob, 2).get
      val (w, h) = (d.width, d.height)
      assert((r2.out_w, r2.out_h) == ((w + 1) / 2, (h + 1) / 2))
      def mean(ch: Int): Double =
        (for { y <- 0 until r2.out_h; x <- 0 until r2.out_w }
          yield (m.doc_id * 7 + (h - 1 - 2 * y) * 31 +
            (6 * x + ch) * 13) % 251)
          .sum.toDouble / (r2.out_w * r2.out_h)
      assert(math.abs(r2.mean_b - mean(0)) < 1e-12)
      assert(math.abs(r2.mean_g - mean(1)) < 1e-12)
      assert(math.abs(r2.mean_r - mean(2)) < 1e-12)
    }
  }

  test("urlCanonical collapses tracking variants but keeps real params") {
    val spark2 = spark
    import spark2.implicits._
    val urls = Seq(
      "https://CDN1.Example.com/docs/7",
      "https://cdn1.example.com:443/docs/7?utm_source=x&utm_campaign=y",
      "https://cdn1.example.com/docs/7/",
      "https://cdn1.example.com/docs/7#frag",
      "https://cdn1.example.com/docs/7?page=2",
      "https://cdn1.example.com/docs/8").toDF("url")
    val out = urls.select(Dedup.urlCanonical(col("url")).as("c"))
      .as[String].collect()
    assert(out.take(4).toSet == Set("https://cdn1.example.com/docs/7"))
    assert(out(4) == "https://cdn1.example.com/docs/7?page=2")
    assert(out(5) == "https://cdn1.example.com/docs/8")
  }

  test("null-safe join matches NULL keys a plain equi-join drops") {
    val spark2 = spark
    import spark2.implicits._
    val a = Seq((1L, Option(10)), (2L, None)).toDF("ida", "k")
    val b = Seq((3L, Option(10)), (4L, None)).toDF("idb", "kb")
    val plain = a.join(b, a("k") === b("kb")).count()
    val nullSafe = a.join(b, a("k") <=> b("kb")).count()
    assert(plain == 1 && nullSafe == 2)
  }

  test("CSV and JSON source round-trips are lossless") {
    val spark2 = spark
    import spark2.implicits._
    val csv = FunctionQueries.qCsvSource(spark, sf0001)
      .as[(String, Long, Double)].collect().toSet
    val direct = Tables.t(spark, sf0001, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"),
          2).as("total"))
      .as[(String, Long, Double)].collect().toSet
    assert(csv == direct && csv.nonEmpty)
    val json = FunctionQueries.qJsonSource(spark, sf0001)
      .as[(String, String, Long, Long)].collect().toSet
    val directJ = Tables.t(spark, sf0001, "documents")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("tc"))
      .as[(String, String, Long, Long)].collect().toSet
    assert(json == directJ && json.nonEmpty)
  }

  test("vocabStatsOf counts vocabulary, hapax and the Zipf head") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabStatsOf(docs)
      .as[(Long, Long, Long, Double)].collect().head
    // vocab {a,b,c}; 5 tokens; hapax {b,c}; top-10 covers everything
    assert(out == ((3L, 5L, 2L, 1.0)))
  }

  test("bloom-pruned decontamination equals exact and prunes below the join") {
    val bloom = Pipeline.pipelineDecontaminateBloom(spark, sf0001)
    val exact = Pipeline.pipelineDecontaminate(spark, sf0001)
    assert(bloom.collect().toSet == exact.collect().toSet)
    // the might_contain cut must sit on the corpus scan side, under the
    // confirm join — that placement is the entire scale claim
    val plan = bloom.queryExecution.executedPlan.toString
    val pruneAt = plan.indexOf("might_contain")
    val joinAt = plan.indexOf("Join")
    assert(pruneAt >= 0, "bloom prune missing from physical plan")
    assert(joinAt >= 0 && pruneAt > joinAt,
      "bloom prune must appear below (after) the join in the plan tree")
  }

  test("annFiltered returns full-k SAME-LABEL neighbors (no post-filter under-return)") {
    val spark2 = spark
    import spark2.implicits._
    val out = Similarity.annFiltered(spark, sf0001)
      .as[(Long, Int, Long, Long, Double)].collect()
    assert(out.nonEmpty)
    val emb = Tables.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("label").cast("long")).as[(Long, Long)]
      .collect().toMap
    // every neighbor shares its query's label
    out.foreach { case (q, _, n, lbl, _) =>
      assert(lbl == emb(q) && lbl == emb(n),
        s"label mismatch: query $q (label ${emb(q)}) -> $n (label ${emb(n)})")
    }
    // and each query returns min(k, candidates) rows — the property a
    // post-filtered unfiltered top-k violates
    out.groupBy(_._1).foreach { case (q, rows) =>
      val candidates = emb.count { case (id, l) => id != q && l == emb(q) }
      assert(rows.length == math.min(Similarity.TopK, candidates),
        s"query $q returned ${rows.length} of expected " +
          s"${math.min(Similarity.TopK, candidates)}")
    }
  }

  test("mmrSelect prefers a diverse lower-relevance pick over a redundant one") {
    import Similarity.MmrCand
    // 1 is most relevant; 2 is nearly a duplicate of 1; 3 is diverse.
    // Greedy MMR must pick 1, then 3 (diversity beats 2's relevance),
    // then 2.
    val cands = Seq(
      MmrCand(0L, 1L, 0.9, Seq(1.0, 0.0)),
      MmrCand(0L, 2L, 0.85, Seq(0.99, 0.1)),
      MmrCand(0L, 3L, 0.5, Seq(0.0, 1.0)),
      MmrCand(0L, 4L, 0.4, Seq(0.1, 0.9)))
    val picks = Similarity.mmrSelect(0L, cands)
    assert(picks.map(_.cand_id).take(3) == Seq(1L, 3L, 2L),
      s"unexpected MMR order: ${picks.map(_.cand_id)}")
    assert(picks.head.score == 0.9)
    assert(picks.map(_.mmr_rank) == (1 to picks.length))
  }

  test("hybridScores ranks both-affinity docs above single-leg matches") {
    val spark2 = spark
    import spark2.implicits._
    // query doc 0: tokens {a,b,c,d}, vector (1,0).
    // doc 1: same tokens AND same direction  -> both legs high
    // doc 2: same tokens, orthogonal vector  -> lexical only
    // doc 3: no shared tokens, same direction -> vector only
    // doc 4: nothing in common                -> lowest
    def row(id: Long, toks: Seq[String], v: Seq[Double]) = (id, toks, v)
    val corpus = Seq(
      row(0L, Seq("a", "b", "c", "d"), Seq(1.0, 0.0)),
      row(1L, Seq("a", "b", "c", "d"), Seq(2.0, 0.0)),
      row(2L, Seq("a", "b", "c", "d"), Seq(0.0, 1.0)),
      row(3L, Seq("x", "y", "z", "w"), Seq(1.0, 0.0)),
      row(4L, Seq("x", "y", "z", "w"), Seq(0.0, 1.0)))
      .toDF("doc_id", "toks", "v")
      .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(col("v")))
    val qs = corpus.where(col("doc_id") === 0)
      .select(col("doc_id").as("query_id"), col("toks").as("q_toks"),
        col("v").as("q_v"), col("nrm").as("q_nrm"))
    val scores = Similarity.hybridScores(corpus, qs)
      .as[(Long, Long, Double)].collect()
      .map(r => r._2 -> r._3).toMap
    assert(scores(1L) == 1.0) // jaccard 1 + cosine 1
    assert(scores(1L) > scores(2L) && scores(1L) > scores(3L))
    assert(scores(2L) == 0.5 && scores(3L) == 0.5) // one full leg each
    assert(scores(4L) == 0.0)
  }

  test("bm25Scores matches the hand-computed Okapi formula") {
    val spark2 = spark
    import spark2.implicits._
    // query doc 0 terms {a, b}; doc 1 shares both (tf(a)=2), doc 2
    // shares only 'a', doc 3 shares nothing (must not appear at all —
    // the inverted-index join only touches matched postings).
    val docs = Seq(
      (0L, Seq("a", "b")),
      (1L, Seq("a", "a", "b", "c")),
      (2L, Seq("a", "c", "c", "c")),
      (3L, Seq("c", "c", "c", "c")))
      .toDF("doc_id", "toks")
    val out = Similarity.bm25Scores(docs, col("doc_id") === 0)
      .as[(Long, Long, Double)].collect()
      .map(r => r._2 -> r._3).toMap
    assert(out.keySet == Set(1L, 2L), s"unexpected neighbor set: $out")
    // replicate the operator's quantized arithmetic exactly:
    // N=4, avgdl=(2+4+4+4)/4=3.5, df(a)=3, df(b)=2
    def micros(tf: Long, df: Long, dl: Long): Long = {
      val idf = math.log(1.0 + (4.0 - df + 0.5) / (df + 0.5))
      val tfn = tf * (Similarity.Bm25K1 + 1) / (tf + Similarity.Bm25K1 *
        (1 - Similarity.Bm25B + Similarity.Bm25B * dl / 3.5))
      math.round(idf * tfn * 1e6)
    }
    val exp1 = (micros(2, 3, 4) + micros(1, 2, 4)) / 1e6 // terms a + b
    val exp2 = micros(1, 3, 4) / 1e6                     // term a only
    assert(math.abs(out(1L) - exp1) < 1e-9, s"doc1: ${out(1L)} vs $exp1")
    assert(math.abs(out(2L) - exp2) < 1e-9, s"doc2: ${out(2L)} vs $exp2")
    assert(out(1L) > out(2L), "two shared terms must outrank one")
  }

  test("retrievalRrf: fused scores decompose into the legs' reciprocal " +
       "ranks, ranks are contiguous per query, and both-leg hits " +
       "outrank equal single-leg hits") {
    val spark2 = spark
    import spark2.implicits._
    val out = Similarity.retrievalRrf(spark, sf0001)
      .as[(Long, Int, Long, Double)].collect()
    assert(out.nonEmpty)
    val k = Similarity.RrfK
    // every possible fused value is 1/(k+a), or 1/(k+a)+1/(k+b), for
    // leg ranks a,b >= 1 — a returned score outside that set means the
    // fusion arithmetic (or a missing-leg coalesce) is wrong
    val nMax = 600 // > corpus size at sf0.001
    val singles = (1 to nMax).map(a => 1.0 / (k + a)).toSet
    def representable(s: Double): Boolean =
      singles.exists(x => math.abs(s - x) < 1e-9) ||
        (1 to nMax).exists { a =>
          val rest = s - 1.0 / (k + a)
          rest > 0 && singles.exists(x => math.abs(rest - x) < 1e-9)
        }
    out.foreach { case (q, r, n, s) =>
      assert(s > 0, s"($q,$n) fused score must be positive")
      assert(representable(s), s"($q,$n) score $s is not a sum of " +
        "reciprocal ranks")
    }
    out.groupBy(_._1).foreach { case (q, rows) =>
      val ranks = rows.map(_._2).sorted
      assert(ranks.toSeq == (1 to rows.length).toSeq,
        s"query $q ranks not contiguous: ${ranks.toSeq}")
      // scores non-increasing in rank
      val byRank = rows.sortBy(_._2).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
    // deterministic across invocations (window ties are id-broken)
    val again = Similarity.retrievalRrf(spark, sf0001)
      .as[(Long, Int, Long, Double)].collect()
    assert(out.sortBy(r => (r._1, r._2)).toSeq ==
      again.sortBy(r => (r._1, r._2)).toSeq)
  }

  test("textChunk covers every token with stride-aligned overlapping windows") {
    val spark2 = spark
    import spark2.implicits._
    val out = TextAnalysis.textChunk(spark, sf0001)
      .as[(Long, Int, Int, Int, Int, Int, String)].collect()
      .groupBy(_._1)
    assert(out.nonEmpty)
    out.foreach { case (docId, chunks) =>
      val sorted = chunks.sortBy(_._4)
      val (_, nTokens, nChunks, _, _, _, _) = sorted.head
      assert(sorted.length == nChunks, s"doc $docId chunk count")
      // starts are 0, S, 2S, …
      assert(sorted.map(_._5).toSeq ==
        sorted.indices.map(_ * TextAnalysis.ChunkS))
      // all chunks full-width except possibly the tail, which clamps
      sorted.init.foreach(c => assert(c._6 == TextAnalysis.ChunkW))
      val last = sorted.last
      assert(last._5 + last._6 == nTokens,
        s"doc $docId: coverage ends at ${last._5 + last._6} of $nTokens")
      // the text of each chunk has exactly chunk_len tokens
      sorted.foreach(c => assert(c._7.split(" ").length == c._6))
    }
  }

  test("weightedSample reproduces the deterministic E-S keys and favors weight") {
    val spark2 = spark
    import spark2.implicits._
    // one source: doc 0 carries ~1e9 of the weight, 29 others carry 10
    // each — doc 0 must be in any weighted top-5.
    val docs = ((0L, "s", 1000000000L) +:
      (1L to 29L).map(id => (id, "s", 10L)))
      .toDF("doc_id", "source", "n_chars")
    val out = Pipeline.weightedSample(docs, 5)
      .as[(String, Int, Long, Long, Double)].collect()
    assert(out.length == 5)
    assert(out.exists(_._3 == 0L), "heaviest doc missing from the sample")
    // replicate the hash→uniform→key derivation exactly
    def esKey(id: Long, w: Long): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"wsample:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val u = (java.lang.Long.parseLong(hex, 16) + 0.5) / 4294967296.0
      BigDecimal(math.log(u) / w)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    out.foreach { case (_, _, id, w, key) =>
      assert(key == esKey(id, w), s"doc $id: $key vs ${esKey(id, w)}")
    }
    // ranks ordered by key desc
    assert(out.sortBy(_._2).map(_._5).toSeq ==
      out.map(_._5).sorted.reverse.toSeq)
  }

  test("scd2Of collapses change runs into adjoining validity intervals") {
    val spark2 = spark
    import spark2.implicits._
    import java.sql.Timestamp
    def ts(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    // customer 1: A A B A — three versions (the return to A is a NEW
    // version, not a merge with version 1); customer 2: constant.
    val src = Seq(
      (1L, 10L, ts(1), "A"), (1L, 11L, ts(2), "A"),
      (1L, 12L, ts(3), "B"), (1L, 13L, ts(4), "A"),
      (2L, 20L, ts(5), "X"))
      .toDF("o_custkey", "o_orderkey", "o_orderdate", "o_orderpriority")
    val out = Pipeline.scd2Of(src)
      .as[(Long, Int, String, Timestamp, Option[Timestamp], Long, Int)]
      .collect().sortBy(r => (r._1, r._2))
    assert(out.map(r => (r._1, r._2, r._3, r._6, r._7)).toSeq == Seq(
      (1L, 1, "A", 2L, 0), (1L, 2, "B", 1L, 0), (1L, 3, "A", 1L, 1),
      (2L, 1, "X", 1L, 1)))
    // intervals adjoin: each valid_to equals the successor's valid_from
    val c1 = out.filter(_._1 == 1L)
    assert(c1(0)._5.contains(c1(1)._4) && c1(1)._5.contains(c1(2)._4))
    assert(c1(2)._5.isEmpty, "current version must be open-ended")
  }

  test("triangleCounts finds exactly the triangles of a crafted graph") {
    val spark2 = spark
    import spark2.implicits._
    // 4-clique on {1,2,3,4} minus edge (3,4): triangles (1,2,3) and
    // (1,2,4) only; node 5 hangs off node 1 in no triangle.
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (1L, 5L)).toDF("s1", "s2")
    val out = RelationalQueries.triangleCounts(e)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L),
      s"unexpected triangle counts: $out")
  }

  test("qZorderLayout bounds BOTH dims' per-bucket ranges (file-skipping property)") {
    val spark2 = spark
    import spark2.implicits._
    val out = RelationalQueries.qZorderLayout(spark, sf0001)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    val (xlo, xhi) = (out.map(_._3).min, out.map(_._4).max)
    val (ylo, yhi) = (out.map(_._5).min, out.map(_._6).max)
    // a bucket fixes the top 3 quantized bits of EACH dim, so each
    // dim's in-bucket spread is at most 1/8 of its global range (+1
    // for quantization edges) — the property a 1-D sort only gives
    // its leading column
    val (xr, yr) = (xhi - xlo + 1, yhi - ylo + 1)
    out.foreach { case (b, _, xmn, xmx, ymn, ymx) =>
      assert(xmx - xmn <= xr / 8 + 1, s"bucket $b x-spread ${xmx - xmn}")
      assert(ymx - ymn <= yr / 8 + 1, s"bucket $b y-spread ${ymx - ymn}")
    }
    // every row lands in a real 8x8 grid cell
    assert(out.forall(r => r._1 >= 0 && r._1 < 64))
  }

  test("bpeTrain learns merges in frequency order, composing earlier merges") {
    val spark2 = spark
    import spark2.implicits._
    // pairs round 1: (a,b)=5, (b,c)=3, (b,d)=2 -> merge ab.
    // round 2: (ab,c)=3, (ab,d)=2 -> merge ab+c: a LEARNED symbol on
    // the left proves merges compose. round 3: only (ab,d)=2 left.
    val words = Seq(("abc", 3L), ("abd", 2L)).toDF("tok", "cnt")
    val out = TextAnalysis.bpeTrain(spark, words, 3)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (1, "a", "b", "ab", 5L),
      (2, "ab", "c", "abc", 3L),
      (3, "ab", "d", "abd", 2L)), s"unexpected merge table: ${out.toSeq}")
    // after all three merges both words collapse to single subwords
    val enc = TextAnalysis.bpeEncode(spark, words, 3)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(enc == Map("abc" -> ((3L, 1L)), "abd" -> ((2L, 1L))),
      s"unexpected encoded vocab: $enc")
    // one round earlier, 'abd' is still split as [ab, d]
    val enc2 = TextAnalysis.bpeEncode(spark, words, 2)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(enc2 == Map("abc" -> ((3L, 1L)), "ab" -> ((2L, 1L)),
      "d" -> ((2L, 1L))), s"unexpected round-2 vocab: $enc2")
  }

  test("byte-level BPE merges repeated-character runs greedily") {
    val spark2 = spark
    import spark2.implicits._
    // round 1: (a,a) counted sliding — 3 per "aaaa" × cnt 2 = 6 — beats
    // (a,b)=1; greedy leftmost apply: aaaa → [aa, aa] (the fold the
    // position-local transform cannot express). round 2: (aa,aa)=2.
    // round 3: only (a,b)=1 remains.
    val words = Seq(("aaaa", 2L), ("ab", 1L)).toDF("tok", "cnt")
    val m = TextAnalysis.bpeTrainBytes(spark, words, 3)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1).toList
    assert(m == List((1, "a", "a", "aa", 6L), (2, "aa", "aa", "aaaa", 2L),
      (3, "a", "b", "ab", 1L)), s"unexpected run-merge table: $m")
    // odd-length run: greedy leftmost leaves the trailing singleton
    val m2 = TextAnalysis.bpeTrainBytes(spark,
      Seq(("aaa", 1L)).toDF("tok", "cnt"), 2)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1).toList
    assert(m2 == List((1, "a", "a", "aa", 2L), (2, "aa", "a", "aaa", 1L)),
      s"unexpected odd-run table: $m2")
    // byte == char precondition for the corpus-level query: documents
    // are pipe-free printable ASCII, so the char split IS the byte split
    // and the '|' delimiter in greedyMerge cannot collide with symbols
    val bad = spark.read.parquet(s"$sf0001/documents.parquet")
      .where(col("text").rlike("[^ -~]") || col("text").contains("|"))
      .count()
    assert(bad == 0, "documents corpus must be pipe-free printable ASCII")
  }

  test("BPE train exits cleanly when no mergeable pair remains") {
    val spark2 = spark
    import spark2.implicits._
    // the round-5 ADVICE crash repro: all non-self pairs exhaust before
    // `rounds`, the argmax goes empty — emit the merges learned so far
    val m = TextAnalysis.bpeTrain(spark,
      Seq(("ab", 3L)).toDF("tok", "cnt"), 4)
      .as[(Int, String, String, String, Long)].collect().toList
    assert(m == List((1, "a", "b", "ab", 3L)))
    // run-merge variant: "aa" collapses in one round, then no pairs
    val m2 = TextAnalysis.bpeTrainBytes(spark,
      Seq(("aa", 2L)).toDF("tok", "cnt"), 5)
      .as[(Int, String, String, String, Long)].collect().toList
    assert(m2 == List((1, "a", "a", "aa", 2L)))
  }

  test("triangle skew cap bounds a mega-customer's wedge fanout") {
    val spark2 = spark
    import spark2.implicits._
    val cap = RelationalQueries.TriCapDeg
    // one mega-customer with 1000 distinct suppliers (≫ cap), one
    // normal customer with 5 — the crafted 100×-skew shape
    val cs = ((1 to 1000).map(s => (1L, s.toLong)) ++
      (1 to 5).map(s => (2L, s.toLong))).toDF("c", "s")
    val capped = RelationalQueries.capCustomerDegree(cs, cap)
    val byC = capped.groupBy(col("c")).count()
      .as[(Long, Long)].collect().toMap
    assert(byC(1L) == cap, "mega-customer must be capped at TriCapDeg")
    assert(byC(2L) == 5, "normal customers must pass through untouched")
    // deterministic survivor rule: the cap lowest supplier ids
    val kept = capped.where(col("c") === 1L).select("s")
      .as[Long].collect().toSet
    assert(kept == (1 to cap).map(_.toLong).toSet)
    // wedge fanout after the cap is bounded by cap²/2 per customer, no
    // matter the raw degree (1000² / 2 would be ~500k un-capped)
    val a = capped.select(col("c"), col("s").as("sa"))
    val b = capped.select(col("c").as("cb"), col("s").as("sb"))
    val wedges = a.join(b, col("c") === col("cb") && col("sa") < col("sb"))
      .count()
    assert(wedges == cap.toLong * (cap - 1) / 2 + 5L * 4 / 2)
  }

  test("anomalyOf flags only the z>3 outlier events") {
    val spark2 = spark
    import spark2.implicits._
    // user 1: ten 1.0s and one 100.0 → the 100 is a >3-sigma outlier;
    // user 2: too few events to qualify
    val ev = (Seq.fill(10)((1L, 1.0)) ++ Seq((1L, 100.0), (2L, 5.0)))
      .toDF("user_id", "value")
    val out = Events.anomalyOf(ev)
      .select(col("user_id"), col("n_events"), col("n_outliers"))
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 11L, 1L)))
  }

  test("paragraph dedup drops cross-doc segments, keeps within-doc " +
       "repeats and the sub-segment tail") {
    val boiler = (1 to Dedup.ParaW).map(i => s"b$i").mkString(" ")
    val own = (1 to Dedup.ParaW).map(i => s"o$i").mkString(" ")
    val uniq = (1 to Dedup.ParaW).map(i => s"u$i").mkString(" ")
    val docs = Seq(
      (1L, s"$boiler $uniq tail"), // boiler cut, uniq + no tail kept
      (2L, boiler),                // fully boilerplate → empty
      (3L, s"$own $own"))          // self-repeat: 1 carrier → BOTH kept
      .toDF("doc_id", "text")
    val out = Dedup.paragraphsOf(docs)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(out == Set(
      (1L, 2L, 1L, uniq), // "tail" is beyond the last full segment
      (2L, 1L, 1L, ""),
      (3L, 2L, 0L, s"$own $own")))
  }

  test("epoch shuffle is a seeded permutation: every doc exactly once, " +
       "per-shard positions contiguous from 1, runs identical") {
    val dir = "/root/testdata/sf0.001"
    val a = Pipeline.pipelineEpochShuffle(spark, dir)
      .as[(Long, Long, Long)].collect()
    val b = Pipeline.pipelineEpochShuffle(spark, dir)
      .as[(Long, Long, Long)].collect()
    assert(a.toSet == b.toSet, "same seed must replay the same deal")
    val n = a.length
    assert(a.map(_._1).distinct.length == n, "each doc exactly once")
    a.groupBy(_._2).foreach { case (shard, rows) =>
      val ps = rows.map(_._3).sorted
      assert(ps.toSeq == (1L to rows.length).toSeq,
        s"shard $shard positions must be contiguous from 1")
    }
    // every shard populated — a degenerate hash would fold shards
    assert(a.map(_._2).distinct.length == Pipeline.EpochShards)
  }

  test("url filter blocks by domain suffix, never by substring") {
    val hosts = Seq(
      (1L, "cdn4.example.com"),       // exact entry
      (2L, "media.cdn4.example.com"), // subdomain of an entry
      (3L, "cdn5.example.com"),       // sibling — kept
      (4L, "x.blog.net"),             // under blog.net
      (5L, "x.notblog.net"),          // SUBSTRING near-miss — kept
      (6L, "blog.net"))               // the entry itself
      .toDF("doc_id", "host")
    val out = Pipeline.urlFilterOf(hosts, Pipeline.UrlBlocklist)
      .select(col("doc_id"), col("kept")).as[(Long, Boolean)]
      .collect().toMap
    assert(out == Map(1L -> false, 2L -> false, 3L -> true,
      4L -> false, 5L -> true, 6L -> false))
  }

  test("paragraph screen cuts base-carried segments at ONE carrier, " +
       "keeps crawl-internal repeats the base never saw") {
    val boiler = (1 to Dedup.ParaW).map(i => s"b$i").mkString(" ")
    val own = (1 to Dedup.ParaW).map(i => s"n$i").mkString(" ")
    val uniq = (1 to Dedup.ParaW).map(i => s"u$i").mkString(" ")
    val base = Seq((100L, boiler)).toDF("doc_id", "text")
    val crawl = Seq(
      (1L, s"$boiler $uniq"), // base hit cut (1 carrier suffices), uniq kept
      (2L, s"$own $own"))     // crawl-internal repeat: NOT in base → kept
      .toDF("doc_id", "text")
    val out = Dedup.paragraphScreenAgainstBase(
        crawl, Dedup.baseParagraphHashes(base))
      .as[(Long, Long, Long, String)].collect().toSet
    assert(out == Set(
      (1L, 2L, 1L, uniq),
      (2L, 2L, 0L, s"$own $own")))
  }

  test("domain cap keeps at most DomainCap docs per host, the " +
       "top-scored ones, deterministically") {
    val dir = "/root/testdata/sf0.001"
    val rows = Pipeline.pipelineDomainCap(spark, dir)
      .as[(Long, String, Double, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (host, hs) =>
      val kept = hs.filter(_._4)
      assert(kept.length == math.min(hs.length, Pipeline.DomainCap),
        s"host $host kept ${kept.length} of ${hs.length}")
      // the kept set IS the (score desc, id asc) prefix
      val expect = hs.sortBy(r => (-r._3, r._1))
        .take(Pipeline.DomainCap).map(_._1).toSet
      assert(kept.map(_._1).toSet == expect, s"host $host kept wrong docs")
    }
    assert(rows.exists(!_._4), "fixture must actually cap some host")
  }

  test("length buckets: full batches of LenBatch, members within 2x, " +
       "longest-first deal, waste fraction sane") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val out = Pipeline.pipelineLengthBuckets(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect()
    assert(out.map(_._3).sum == docs.count(), "every doc in exactly one batch")
    out.foreach { case (bucket, _, nDocs, maxLen, sumTok, padded, waste) =>
      assert(maxLen >= (1L << bucket) && maxLen < (1L << (bucket + 1)),
        s"max_len $maxLen outside bucket $bucket")
      assert(padded == maxLen * nDocs && waste >= 0.0 && waste < 1.0)
      assert(sumTok > nDocs * (maxLen / 2.0) - nDocs,
        "members must be within 2x of the batch max")
    }
    out.groupBy(_._1).foreach { case (bucket, bs) =>
      val sorted = bs.sortBy(_._2)
      // all but the last batch are full
      sorted.dropRight(1).foreach(b => assert(b._3 == Pipeline.LenBatch,
        s"non-final batch in bucket $bucket not full"))
      // longest-first: max_len non-increasing down the batch sequence
      assert(sorted.map(_._4).sliding(2).forall(p =>
        p.length < 2 || p(0) >= p(1)), s"bucket $bucket not longest-first")
    }
  }

  test("DSIR scores English docs above non-English against the en target") {
    val dir = "/root/testdata/sf0.001"
    val langs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang")).as[(Long, String)].collect().toMap
    val scored = Pipeline.pipelineDsir(spark, dir)
      .as[(Long, Long, Double, Boolean)].collect()
    assert(scored.length == langs.size)
    val (en, other) = scored.partition(r => langs(r._1) == "en")
    def mean(xs: Array[Double]) = xs.sum / xs.length
    assert(mean(en.map(_._3)) > mean(other.map(_._3)),
      "target-language docs must score higher on average")
    // determinism: the sorted fold makes re-runs bit-identical
    val again = Pipeline.pipelineDsir(spark, dir)
      .as[(Long, Long, Double, Boolean)].collect()
    assert(scored.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("provenance audit agrees with every standalone gate it composes") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val out = Pipeline.pipelineProvenance(spark, dir)
      .as[(Long, Long, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect()
    assert(out.length == docs.count(), "audit covers every ingested doc")
    out.foreach { case (_, _, q, d, c, u, kept) =>
      assert(kept == (q && !d && !c && !u), "kept must be the conjunction")
    }
    assert(out.count(_._3) == Pipeline.gate(docs).count(),
      "quality_ok column must equal the standalone gate")
    val contExpect = Pipeline.pipelineDecontaminate(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    assert(out.filter(_._5).map(_._1).toSet == contExpect,
      "contaminated column must equal the standalone screen")
    val urlExpect = Pipeline.pipelineUrlFilter(spark, dir)
      .where(!col("kept")).select("doc_id").as[Long].collect().toSet
    assert(out.filter(_._6).map(_._1).toSet == urlExpect,
      "url_blocked column must equal the standalone filter")
  }
}
