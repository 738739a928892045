package graft

import graft.kmeans.{PointsIO, PointsText}

/** The DSv2 points source must agree byte-for-byte with the built-in
  * expression parse of the reference format, across any byte-range
  * split plan (line alignment), and prune parsing on count(*). */
class SourcesSpec extends SparkSessionSpec {
  import spark.implicits._

  private def writeTemp(lines: Seq[String]): String = {
    val dir = java.nio.file.Files.createTempDirectory("points_src").toFile
    dir.deleteOnExit()
    val f = new java.io.File(dir, "pts.txt")
    val w = new java.io.PrintWriter(f)
    lines.foreach(w.println)
    w.close()
    f.getAbsolutePath
  }

  private val rnd = new scala.util.Random(21)
  private val pts = (0 until 500).map(_ =>
    Seq.fill(5)(math.rint(rnd.nextDouble() * 1e6) / 1e3))
  private val lines = pts.map(p => "<" + p.mkString(", ") + ">")
  // blank lines interleaved: both parsers must skip them
  private lazy val path = writeTemp(
    lines.take(250) ++ Seq("", "   ") ++ lines.drop(250))

  private def sortedVecs(df: org.apache.spark.sql.DataFrame): Seq[List[Double]] =
    df.as[Seq[Double]].collect().map(_.toList).sortBy(_.toString()).toSeq

  test("DSv2 source == expression parse on the same file") {
    val viaSource = sortedVecs(spark.read.format("points").load(path))
    val viaExpr = sortedVecs(PointsText.readPointsText(spark, path))
    assert(viaSource.size == 500)
    assert(viaSource == viaExpr)
  }

  test("line-aligned byte-range splits: tiny splitSize, same multiset, >1 partition") {
    val df = spark.read.format("points")
      .option("splitSizeBytes", "64").load(path)
    assert(df.rdd.getNumPartitions > 1, "expected multiple range splits")
    assert(sortedVecs(df) == sortedVecs(PointsText.readPointsText(spark, path)))
  }

  test("split plan follows spark.sql.files.*; splitSizeBytes still overrides it") {
    val expected = sortedVecs(PointsText.readPointsText(spark, path))
    // one open cost (4 MiB) outweighs the 20 KB file: a single range
    assert(spark.read.format("points").load(path).rdd.getNumPartitions == 1)
    val key = "spark.sql.files.openCostInBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try {
      // bytes per core now rule: one range per core or so, no option set
      val df = spark.read.format("points").load(path)
      assert(df.rdd.getNumPartitions > 1, "expected the rule to split the file")
      assert(sortedVecs(df) == expected)
      val whole = spark.read.format("points")
        .option("splitSizeBytes", (1L << 30).toString).load(path)
      assert(whole.rdd.getNumPartitions == 1)
      assert(sortedVecs(whole) == expected)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The reader factory of a scan of `p`, planned in the shared session. */
  private def readerFactory(p: String): graft.sources.PointsReaderFactory = {
    spark.sparkContext // the tables capture the active session
    new graft.sources.PointsTable(p, None)
      .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()).build()
      .toBatch.createReaderFactory().asInstanceOf[graft.sources.PointsReaderFactory]
  }

  /** The writer factory of a write to a new directory, planned in the
    * shared session. */
  private def writerFactory(): graft.sources.PointsWriterFactory = {
    import org.apache.spark.sql.connector.write.{LogicalWriteInfo, PhysicalWriteInfo}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    spark.sparkContext
    val dst = java.nio.file.Files.createTempDirectory("points_factory").toString
    new graft.sources.PointsTable(dst, None)
      .newWriteBuilder(new LogicalWriteInfo {
        override def options(): CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty()
        override def queryId(): String = "factory-size"
        override def schema(): org.apache.spark.sql.types.StructType =
          graft.sources.PointsTable.Schema
      }).build().toBatch
      .createBatchWriterFactory(new PhysicalWriteInfo {
        override def numPartitions(): Int = 1
      }).asInstanceOf[graft.sources.PointsWriterFactory]
  }

  test("reader and writer factories carry the Hadoop conf by broadcast: < 4 KB each") {
    def serializedBytes(o: AnyRef): Int = {
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(o)
      out.close()
      bytes.size()
    }
    val readers = readerFactory(path)
    val writers = writerFactory()
    // the serialized Hadoop Configuration alone is ~120 KB
    assert(serializedBytes(readers) < 4096, s"reader factory: ${serializedBytes(readers)} B")
    assert(serializedBytes(writers) < 4096, s"writer factory: ${serializedBytes(writers)} B")
  }

  test("scans and writes share one conf broadcast until the session's conf changes") {
    val first = readerFactory(path).conf
    assert(readerFactory(path).conf.id == first.id)
    assert(writerFactory().conf.id == first.id)
    // newHadoopConf copies every SQL conf in under its own name
    val key = "spark.hadoop.graft.test.conf_memo"
    try {
      spark.conf.set(key, "changed")
      val changed = readerFactory(path).conf
      assert(changed.id != first.id)
      assert(writerFactory().conf.id == changed.id)
      // what a reader's task gets from the new broadcast
      val seen = spark.sparkContext.parallelize(Seq(0), 1)
        .map(_ => changed.value.value.get(key)).collect().toSeq
      assert(seen == Seq("changed"))
      assert(PointsIO.readPoints(spark, path).count() == pts.size)
    } finally spark.conf.unset(key)
    assert(readerFactory(path).conf.value.value.get(key) == null)
  }

  test("a malformed line fails naming the file and the line's byte offset") {
    val bad = writeTemp(Seq("<1.0, 2.0>", "", "<3.0, , 4.0>", "<5.0, 6.0>"))
    val e = intercept[Exception] {
      spark.read.format("points").load(bad).collect()
    }
    // "<1.0, 2.0>\n\n": the bad line starts at byte 12
    val named = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case n: NumberFormatException => n }
    assert(named.exists(_.getMessage.endsWith(
      s"$bad: malformed point in the line at byte 12: empty String")), e)
    assert(named.get.getCause.getMessage == "empty String")
  }

  test("count(*) prunes the parse and still counts every line") {
    assert(spark.read.format("points").load(path).count() == 500)
    assert(spark.read.format("points").option("splitSizeBytes", "64")
      .load(path).count() == 500)
  }

  test("plan shows the custom batch scan") {
    val plan = spark.read.format("points").load(path)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BatchScan"), plan)
  }

  test("readPoints (CLI input path) routes through the DSv2 source") {
    val df = PointsIO.readPoints(spark, path)
    assert(df.schema.fieldNames.toSeq == Seq("point"))
    assert(df.count() == 500)
  }

  test("ORC / JSON / CSV round-trip the documents table losslessly") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val base = java.nio.file.Files.createTempDirectory("fmt_rt").toFile
    def rt(fmt: String): Long = {
      val p = new java.io.File(base, fmt).getAbsolutePath
      docs.write.format(fmt).mode("overwrite")
        .option("header", "true").save(p)
      val back = spark.read.format(fmt)
        .option("header", "true").schema(docs.schema).load(p)
      // exact content equality both directions (anti-join both ways)
      val diff = back.exceptAll(docs).count() + docs.exceptAll(back).count()
      assert(diff == 0, s"$fmt round-trip lost/changed rows")
      back.count()
    }
    Seq("orc", "json", "csv").foreach(f => assert(rt(f) == docs.count()))
  }

  test("ParquetSink.writePartitioned enables partition pruning on read") {
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files
      .createTempDirectory("part_sink").toFile.getAbsolutePath + "/docs"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    graft.sources.ParquetSink.writePartitioned(
      docs, out, partitionCols = Seq("lang"), sortCols = Seq("doc_id"))
    val filtered = spark.read.parquet(out).where(col("lang") === "en")
    // the lang = en predicate must prune DIRECTORIES, not filter rows:
    // it appears in PartitionFilters, and no post-scan Filter remains
    val scan = filtered.queryExecution.executedPlan.toString()
    assert("PartitionFilters: \\[[^\\]]*lang#\\d+ = en".r
      .findFirstIn(scan).isDefined, scan)
    val expected = docs.where(col("lang") === "en").count()
    assert(filtered.count() == expected && expected > 0)
    // round-trip: partitioned layout loses no rows
    assert(spark.read.parquet(out).count() == docs.count())
    // salted routing for hot partition values: same data, >1 file/dir.
    // AQE would coalesce this toy-sized shuffle to one partition and
    // hide the fan-out (at real scale partitions stay byte-sized);
    // disable coalescing to observe the routing.
    val out2 = out + "_salted"
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesceKey, "false")
    try {
      graft.sources.ParquetSink.writePartitioned(
        docs, out2, partitionCols = Seq("lang"), filesPerDir = 3)
    } finally spark.conf.set(coalesceKey, "true")
    assert(spark.read.parquet(out2).count() == docs.count())
    val enDir = new java.io.File(out2, "lang=en")
    assert(enDir.listFiles().count(_.getName.endsWith(".parquet")) > 1)
  }

  test("DSv2 points SINK round-trips value-exactly; overwrite truncates; append adds") {
    val out = java.nio.file.Files.createTempDirectory("points_sink").toFile
    out.deleteOnExit()
    val dst = out.getAbsolutePath + "/pts"
    val df = pts.map(_.toArray).toDF("point").repartition(4)
    df.write.format("points").mode("overwrite").save(dst)
    // task files + job marker on disk, no in-progress residue
    val files = new java.io.File(dst).listFiles().map(_.getName)
    assert(files.count(_.startsWith("part-")) == 4)
    assert(files.contains("_SUCCESS"))
    assert(!files.exists(_.endsWith(".inprogress")))
    // read back through the DSv2 scan: same multiset, bit-exact doubles
    val back = PointsIO.readPoints(spark, dst)
    assert(sortedVecs(back) == pts.map(_.toList).sortBy(_.toString()))
    // overwrite truncates (row count stays), append doubles it
    df.write.format("points").mode("overwrite").save(dst)
    assert(PointsIO.readPoints(spark, dst).count() == pts.size)
    df.write.format("points").mode("append").save(dst)
    assert(PointsIO.readPoints(spark, dst).count() == 2L * pts.size)
    // sink rejects a schema that is not one array<double> column
    // (Spark's by-name reconciliation against the table schema throws
    // before PointsWrite's own require — either guard must hold)
    intercept[Exception] {
      Seq((1, "x")).toDF("a", "b").write.format("points")
        .mode("overwrite").save(out.getAbsolutePath + "/bad")
    }
    assert(!new java.io.File(out, "bad").exists() ||
      new java.io.File(out, "bad").listFiles().forall(
        !_.getName.startsWith("part-")))
  }
}
