package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.StreamingSpec._

/** Micro-batch split invariance of the stateless batch operators: each
  * case feeds a MemoryStream in uneven micro-batches, applies a batch
  * operator to every micro-batch (inside foreachBatch, or directly on
  * the streaming frame when the operator is narrow), and asserts that
  * the union equals one batch call over the whole input. The library
  * itself has no streaming layer; these pin that its per-row operators
  * carry no hidden dependence on how the input is partitioned. */
class StreamingSpec extends SparkSessionSpec {
  import spark.implicits._

  /** Feeds each chunk to a MemoryStream as one micro-batch, runs `op` on
    * every micro-batch, and returns the union of its output rows. */
  private def perMicroBatch[T: Encoder, R](chunks: Seq[Seq[T]])
      (op: Dataset[T] => Dataset[R]): Seq[R] = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[T]
    val got = ArrayBuffer[R]()
    val q = mem.toDS().writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[T], _: Long) =>
        got ++= op(batch).collect()
        ()
      }.start()
    try chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
    finally q.stop()
    got.toSeq
  }

  /** Splits `xs` into three uneven chunks: the first `1/first` of it,
    * then the first `1/second` of the rest, then the remainder. */
  private def threeWay[T](xs: Seq[T], first: Int, second: Int): Seq[Seq[T]] = {
    val (a, rest) = xs.splitAt(xs.length / first)
    val (b, c) = rest.splitAt(rest.length / second)
    Seq(a, b, c)
  }

  private def docsQ: DataFrame =
    spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))

  private def docRows(df: DataFrame): Seq[SDocQ] =
    df.as[(Long, String, String)].collect().toSeq
      .map { case (id, t, l) => SDocQ(id, t, l) }

  test("streaming cell-drift counts equal the batch monitor across splits") {
    implicit val sqlCtx = spark.sqlContext
    val cents = graft.operators.KMeansQueries.coarseCentroids(spark, sf0001)
    val odds = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .where(col("vec_id") % 2 === 1)
      .as[(Long, Seq[Float], Int)].collect()
      .map { case (id, v, l) => SVecIn(id, v, l) }
    // the drift monitor's running side: quantize onto the frozen cells,
    // keep one running count per cell
    val mem = MemoryStream[SVecIn]
    val q = graft.kmeans.KMeansOps.assignDyn(
      mem.toDS().toDF().select(
        graft.functions.VectorFunctions.toDoubleVec(col("embedding"))
          .as("v")),
      "v", cents)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_new"))
      .writeStream.format("memory").queryName("drift")
      .outputMode("complete").start()
    try {
      val (a, b) = odds.splitAt(odds.length / 3)
      mem.addData(a.toIndexedSeq); q.processAllAvailable()
      mem.addData(b.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("drift")
      .as[(Int, Long)].collect().toMap
    // the batch monitor's "new" side is the same odd half on the
    // same frozen cells
    val batch = graft.operators.Similarity.annCellDrift(spark, sf0001)
      .where(col("n_new") > 0)
      .select(col("cluster"), col("n_new"))
      .as[(Int, Long)].collect().toMap
    assert(streamed == batch,
      s"running counts diverged: $streamed vs $batch")
  }

  test("streaming robots gate equals the batch verdicts across splits") {
    import graft.operators.Pipeline
    val batchOut = Pipeline.pipelineRobots(spark, sf0001)
    val expect = batchOut
      .as[(Long, String, String, Boolean, Option[String], Int)]
      .collect().toSet
    // the frozen artifact: the same per-host rules the batch op parses
    val urls = batchOut.select(col("doc_id"), col("host"), col("path"))
    val parsed = Pipeline.parseRobotsRelation(
      Pipeline.robotsFixture(urls.select(col("host")).distinct())).persist()
    try {
      val rows = urls.as[(Long, String, String)].collect().toSeq
        .map { case (d, h, p) => SUrl(d, h, p) }
      val got = perMicroBatch(threeWay(rows, 4, 3)) { b =>
        Pipeline.robotsVerdicts(b.toDF(), parsed)
          .as[(Long, String, String, Boolean, Option[String], Int)]
      }
      assert(got.toSet == expect,
        s"robots stream diverged: ${got.size} vs ${expect.size}")
      assert(expect.exists(!_._4) && expect.exists(_._4),
        "fixture must both block and allow URLs")
    } finally parsed.unpersist()
  }

  test("streaming paragraph screen equals the batch screen across splits") {
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    // same split as dedup_paragraph_screen: even = base, odd = crawl
    val bh = Dedup.baseParagraphHashes(docs.where(col("doc_id") % 2 === 0))
      .persist()
    try {
      val crawl = docs.where(col("doc_id") % 2 === 1)
        .as[(Long, String)].collect().toSeq
        .map { case (id, t) => SCrawlDoc(id, t) }
      val got = perMicroBatch(threeWay(crawl, 5, 2)) { b =>
        Dedup.paragraphScreenAgainstBase(b.toDF(), bh)
          .as[(Long, Long, Long, String)]
      }
      val batch = Dedup.dedupParagraphScreen(spark, sf0001)
        .as[(Long, Long, Long, String)].collect().toSet
      assert(got.toSet == batch,
        s"paragraph screen diverged: ${got.size} streamed vs ${batch.size} batch")
      assert(batch.exists(_._3 > 0), "fixture must cut at least one segment")
    } finally bh.unpersist()
  }

  test("streaming URL filter equals the batch gate across splits") {
    import graft.operators.Pipeline
    // the synthetic host relation pipeline_url_filter itself screens
    val hostRows = Pipeline.pipelineUrlFilter(spark, sf0001)
      .select(col("doc_id"), col("host"))
      .as[(Long, String)].collect().toSeq
      .map { case (id, h) => SHost(id, h) }
    val got = perMicroBatch(threeWay(hostRows, 4, 3)) { b =>
      Pipeline.urlFilterOf(b.toDF(), Pipeline.UrlBlocklist)
        .as[(Long, String, Option[String], Boolean)]
    }
    val batch = Pipeline.pipelineUrlFilter(spark, sf0001)
      .as[(Long, String, Option[String], Boolean)].collect().toSet
    assert(got.toSet == batch,
      s"URL filter diverged: ${got.size} streamed vs ${batch.size} batch")
    assert(batch.exists(!_._4) && batch.exists(_._4),
      "fixture must both block and keep hosts")
  }

  test("streaming VAD equals the batch segmentation across splits") {
    import graft.operators.Multimodal
    val blobs = Multimodal.wavMedia(spark, sf0001).collect().toSeq
      .map(m => SMedia(m.doc_id, m.blob))
    val got = perMicroBatch(threeWay(blobs, 4, 3)) { b =>
      b.mapPartitions(_.flatMap(m =>
        Multimodal.WavVadOp.vad(m.doc_id, m.blob)))
        .toDF().as[(Long, Long, Long, Long, Long)]
    }
    val batch = Multimodal.mmVad(spark, sf0001)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got.toSet == batch,
      s"VAD stream diverged: ${got.size} streamed vs ${batch.size} batch")
    assert(batch.exists(_._3 > 0), "fixture must contain voiced windows")
    assert(batch.exists(r => r._2 > 0 && r._3 < r._2),
      "fixture must contain unvoiced windows")
  }

  test("streaming multi-format dispatch equals the batch rows across splits") {
    import graft.operators.{Archives, Gif, Jpeg, Multimodal}
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val blobs = docs.toSeq.map { case (id, text) =>
      SMedia(id, (id % 4) match {
        case 0 => Gif.encode(id)
        case 1 => Jpeg.encode(id)
        case 2 => Archives.encodeTar(id)
        case _ => Archives.encodeGzip(text)
      })
    }
    val got = perMicroBatch(threeWay(blobs, 4, 2)) { b =>
      Multimodal.dispatchDecode(b.map(m => Multimodal.MediaRow(m.doc_id, m.blob)))
        .toDF().as[(Long, String, Long, Double)]
    }
    val batch = Multimodal.mmDispatch(spark, sf0001)
      .as[(Long, String, Long, Double)].collect().toSet
    assert(got.toSet == batch,
      s"dispatch stream diverged: ${got.size} vs ${batch.size}")
    assert(Set("gif", "jpeg", "tar", "gzip")
      .subsetOf(batch.map(_._2)), "all four formats must appear")
  }

  test("streaming tar ingest equals the batch member relation across splits") {
    import graft.operators.{Archives, Multimodal}
    val blobs = Archives.tarMedia(spark, sf0001).collect().toSeq
      .map(m => SMedia(m.doc_id, m.blob))
    val got = perMicroBatch(threeWay(blobs, 3, 2)) { b =>
      Archives.tarMembersOf(b.map(m => Multimodal.MediaRow(m.doc_id, m.blob)))
        .toDF().as[(Long, String, Long, Long, String)]
    }
    val batch = Archives.tarMemberRows(spark, sf0001)
      .as[(Long, String, Long, Long, String)].collect().toSet
    assert(got.toSet == batch,
      s"tar ingest diverged: ${got.size} streamed vs ${batch.size} batch")
    assert(batch.size > blobs.length, "multi-member archives expected")
  }

  test("streaming image screen equals the batch screen across splits") {
    import graft.operators.Multimodal
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"))
    val buckets = Multimodal
      .imageBaseBuckets(docs.where(col("doc_id") % 2 === 0)).persist()
    try {
      val crawl = docs.where(col("doc_id") % 2 === 1)
        .as[Long].collect().toSeq.map(SImg(_))
      val got = perMicroBatch(threeWay(crawl, 5, 2)) { b =>
        Multimodal.screenImagesAgainstBase(b.toDF(), buckets)
          .as[(Long, Long, Long, Long, Long, Long)]
      }
      val batch = Multimodal.dedupImageScreen(spark, sf0001)
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
      assert(got.toSet == batch,
        s"image screen diverged: ${got.size} streamed vs ${batch.size} batch")
      assert(batch.nonEmpty, "fixture must flag at least one arriving image")
    } finally { buckets.unpersist(); () }
  }

  test("snapshot sink: a version per micro-batch, exactly-once, resumed lineage") {
    import graft.sources.SnapshotTable
    val root = java.nio.file.Files.createTempDirectory("graft_snapsink")
      .toString + "/tbl"
    val inDir = java.nio.file.Files.createTempDirectory("graft_snapsink_in")
      .toString
    def writeInput(docs: Seq[SDocQ]): Unit =
      docs.toDF().coalesce(1).write.mode("append").parquet(inDir)
    // one commitBatch per micro-batch, its checkpoint kept under the
    // table root so a later session resumes the batchId lineage
    def session(): Unit = {
      val src = spark.readStream
        .schema(implicitly[Encoder[SDocQ]].schema)
        .parquet(inDir).as[SDocQ]
      val q = src.writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$root/_checkpoints/ingest")
        .foreachBatch { (batch: Dataset[SDocQ], batchId: Long) =>
          SnapshotTable.commitBatch(spark, root, batch.toDF(), batchId)
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    def liveIds() = SnapshotTable.readLatest(spark, root)
      .select("doc_id").as[Long].collect().toSet
    writeInput(Seq(SDocQ(1L, "a", "en"), SDocQ(2L, "b", "en")))
    session()
    assert(SnapshotTable.versions(spark, root) == Seq(1))
    assert(liveIds() == Set(1L, 2L))
    // a SECOND session (fresh writer + source) resumes the durable
    // lineage: next micro-batch publishes version 2, clobbers nothing
    writeInput(Seq(SDocQ(3L, "c", "de")))
    session()
    assert(SnapshotTable.versions(spark, root) == Seq(1, 2))
    assert(liveIds() == Set(1L, 2L, 3L))
    // session 2 ran batchId 1, so replaying it must change nothing
    assert(SnapshotTable.commitBatch(spark, root,
      Seq(SDocQ(9L, "x", "en")).toDF(), batchId = 1L).isEmpty)
    assert(SnapshotTable.versions(spark, root) == Seq(1, 2))
    assert(liveIds() == Set(1L, 2L, 3L))
  }

  test("hashingVecStream equals the batch featurizer across batch splits") {
    val batch = graft.operators.TextAnalysis.hashingVecOf(docsQ)
      .as[(Long, Long, Long, Long)].collect().toSet
    // no vocabulary exists, so batch boundaries cannot change any row
    val got = perMicroBatch(threeWay(docRows(docsQ), 3, 3)) { b =>
      graft.operators.TextAnalysis.hashingVecOf(b.toDF())
        .as[(Long, Long, Long, Long)]
    }
    assert(got.toSet == batch && batch.nonEmpty)
  }

  test("qualityScoreStream with batch-trained weights equals batch scoring") {
    implicit val sqlCtx = spark.sqlContext
    // train offline (batch), serve online (stream) — the weights are
    // the same learned vector batch inference injects
    val w = graft.operators.TextAnalysis.qualityTrainOf(spark, docsQ)
      .orderBy("feature_idx").select("weight").as[Double].collect()
    val batch = graft.operators.TextAnalysis
      .qualityScoreTrainedOf(spark, docsQ)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val rows = docRows(docsQ)
    // narrow ops only, so the scorer applies to the streaming frame as is
    val mem = MemoryStream[SDocQ]
    val q = graft.operators.TextAnalysis.scoreWithWeights(mem.toDS().toDF(), w)
      .writeStream.format("memory").queryName("qscore")
      .outputMode("append").start()
    try {
      val (a, b) = rows.splitAt(rows.length / 3)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("qscore")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got == batch)
  }

  test("langIdServeStream with a batch-trained NB model equals batch predict") {
    import graft.operators.TextAnalysis
    // train offline: the same (lp, stats) model batch fit+predict uses,
    // persisted so micro-batches don't re-derive it
    val (lp, stats) = TextAnalysis.nbModelOf(docsQ)
    lp.persist(); stats.persist()
    try {
      def triples(scored: DataFrame) =
        scored.map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      val batch = triples(TextAnalysis.scoreWithNbModel(docsQ, lp, stats))
        .collect().toSet
      // scoring is stateless per doc, so the union of three arbitrary
      // micro-batches must equal one batch pass
      val got = perMicroBatch(threeWay(docRows(docsQ), 3, 3)) { b =>
        triples(TextAnalysis.scoreWithNbModel(b.toDF(), lp, stats))
      }
      assert(got.toSet == batch)
    } finally { lp.unpersist(); stats.unpersist() }
  }
}

object StreamingSpec {
  final case class SVecIn(vec_id: Long, embedding: Seq[Float], label: Int)
  final case class SDocQ(doc_id: Long, text: String, lang: String)
  final case class SCrawlDoc(doc_id: Long, text: String)
  final case class SHost(doc_id: Long, host: String)
  final case class SUrl(doc_id: Long, host: String, path: String)
  final case class SImg(doc_id: Long)
  final case class SMedia(doc_id: Long, blob: Array[Byte])
}
