package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.scheduler.SparkListenerJobStart

import graft.kmeans.{KMeansCli, KMeansRunner, PointsIO, PointsText}

/** End-to-end drive of the reference CLI contract: text points in,
  * per-iteration output dir of `id\t<coords>` lines out, reference
  * argument order (input k max_iter output dim epsilon num_reducer). */
class CliSpec extends SparkSessionSpec {
  import org.apache.spark.sql.functions._
  import spark.implicits._

  private def writeLines(dir: File, lines: Seq[String]): String = {
    val input = new File(dir, "points.txt").getAbsolutePath
    val w = new java.io.PrintWriter(input)
    lines.foreach(w.println); w.close()
    input
  }

  /** Concatenated text of a directory's part files, in name order. */
  private def partText(dir: File): String =
    dir.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .map(f => new String(Files.readAllBytes(f.toPath), UTF_8)).mkString

  /** The DataFrame text write the CLI used before its centroid write
    * moved to the driver, kept as the oracle of the bytes. */
  private def dataFrameWrite(centroids: Seq[Array[Double]], dir: File): String = {
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toDF("cluster", "centroid")
      .select(concat_ws("\t", col("cluster").cast("string"),
        concat(lit("<"),
          array_join(transform(col("centroid"), _.cast("string")), ", "),
          lit(">"))).as("value"))
      .write.mode("overwrite").text(dir.getAbsolutePath)
    partText(dir)
  }

  /** Short call sites of the jobs `body` starts. */
  private def jobSites(body: => Unit): Seq[String] =
    sparkEvents { case e: SparkListenerJobStart => e.stageInfos.map(_.name) }(body)
      .flatten

  /** The message `KMeansCli` fails with on `input` when told dim = 3,
    * and the call sites of the jobs it started. */
  private def dimFailure(dir: File, input: String): (String, Seq[String]) = {
    var error: Option[Throwable] = None
    val sites = jobSites {
      error = Some(intercept[IllegalArgumentException] {
        KMeansCli.main(Array(input, "2", "5", new File(dir, "out").getAbsolutePath,
          "3", "0.0001", "4"))
      })
    }
    (error.get.getMessage, sites)
  }

  test("KMeansCli runs the 7-arg contract end-to-end on reference-format text") {
    spark.sparkContext // shared session up first (CLI must not stop it)
    val dir = Files.createTempDirectory("cli_e2e").toFile
    val outPrefix = new File(dir, "out").getAbsolutePath

    // two tight blobs at (0,0) and (50,50)
    val rnd = new scala.util.Random(33)
    val input = writeLines(dir, (0 until 200).map { i =>
      val c = if (i % 2 == 0) 0.0 else 50.0
      s"<${c + rnd.nextGaussian() * 0.1}, ${c + rnd.nextGaussian() * 0.1}>"
    })

    KMeansCli.main(Array(input, "2", "15", outPrefix, "2", "0.0001", "4"))

    // the CLI writes exactly one dir: outPrefix + lastRound, one part file
    val outDirs = dir.listFiles().filter(_.getName.startsWith("out"))
    assert(outDirs.length == 1, outDirs.map(_.getName).toSeq)
    val names = outDirs.head.list().toSet
    assert(names.filter(!_.startsWith(".")) == Set("part-00000", "_SUCCESS"), names)
    val centroids = PointsText.readCentroids(spark,
      outDirs.head.getAbsolutePath)
      .orderBy(col("cluster"))
      .as[(Int, Seq[Double])].collect()
    assert(centroids.map(_._1).toSeq == Seq(0, 1))
    // each blob center matched by exactly one centroid
    Seq(0.0, 50.0).foreach { c =>
      assert(centroids.exists { case (_, v) =>
        math.hypot(v(0) - c, v(1) - c) < 0.5 })
    }
    // the text is what the DataFrame writer made of the same values
    assert(partText(outDirs.head) ==
      dataFrameWrite(centroids.map(_._2.toArray).toSeq, new File(dir, "oracle")))
    // session survived the CLI (ownership guard)
    assert(!spark.sparkContext.isStopped)
  }

  test("driver-side centroid write is byte-identical to the DataFrame text write") {
    val dir = Files.createTempDirectory("cli_write").toFile
    val centroids = Seq(
      Array(1.0e-5, -0.0, 1.0e7, 0.30000000000000004),
      Array(1.2345678901234567e-8, 123456.78901234567, 0.001, 9999999.999),
      Array(Double.MinPositiveValue, Double.MaxValue, -1.0e21, 1.0e-3 / 3),
      Array(0.0, -1.5, 2.0e-300, 4.0019444906464745))
    val out = new File(dir, "driver")
    PointsIO.writeCentroids(spark, centroids, out.getAbsolutePath)
    assert(partText(out) == dataFrameWrite(centroids, new File(dir, "oracle")))
    assert(new File(out, "_SUCCESS").exists())
    assert(!out.list().exists(_.endsWith(".inprogress")))
    // overwrite replaces the directory's content
    PointsIO.writeCentroids(spark, centroids.take(1), out.getAbsolutePath)
    assert(partText(out) == dataFrameWrite(centroids.take(1), new File(dir, "oracle")))
  }

  test("a dim mismatch fails before any round runs, with the reference message") {
    spark.sparkContext
    val dir = Files.createTempDirectory("cli_dim").toFile
    val input = writeLines(dir, (0 until 50).map(i => s"<$i.5, ${i * 2}.25>"))
    val (message, sites) = dimFailure(dir, input)
    assert(message == "requirement failed: declared dim=3 " +
      "but data has 2 coordinates (vectors not 3 wide: 50)")
    assert(sites.nonEmpty && !sites.exists(_.contains("LloydKernel")), sites)
    assert(!dir.list().exists(_.startsWith("out")))
  }

  test("a short line the seed sample does not pick still fails the dim check") {
    spark.sparkContext
    val dir = Files.createTempDirectory("cli_dim_one").toFile
    val input = writeLines(dir, (0 until 100).map { i =>
      if (i == 57) "<57.5, 114.25>" else s"<$i.5, ${i * 2}.25, ${i % 9}.0>"
    })
    val seed = sys.env.getOrElse("GRAFT_SEED", "42").toLong
    assert(KMeansRunner.sampleCentroids(PointsIO.readPoints(spark, input),
      "point", 2, seed).forall(_.length == 3), "the seed sample holds the short line")
    val (message, sites) = dimFailure(dir, input)
    assert(message == "requirement failed: declared dim=3 " +
      "but data has 2 coordinates (vectors not 3 wide: 1)")
    assert(sites.nonEmpty && !sites.exists(_.contains("LloydKernel")), sites)
    assert(!dir.list().exists(_.startsWith("out")))
  }

  test("a NaN or infinite coordinate fails before any round runs, with the count") {
    spark.sparkContext
    val dir = Files.createTempDirectory("cli_nonfinite").toFile
    val input = writeLines(dir, (0 until 60).map { i =>
      if (i == 17) "<NaN, 1.0>" else if (i == 41) "<2.0, Infinity>" else s"<$i.5, ${i % 5}.0>"
    })
    var error: Option[Throwable] = None
    val sites = jobSites {
      error = Some(intercept[IllegalArgumentException] {
        KMeansCli.main(Array(input, "2", "5", new File(dir, "out").getAbsolutePath,
          "2", "0.0001", "4"))
      })
    }
    assert(error.get.getMessage == "requirement failed: k-means input has a NaN " +
      "or infinite coordinate in 2 vectors", error.get.getMessage)
    assert(sites.nonEmpty && !sites.exists(_.contains("LloydKernel")), sites)
    assert(!dir.list().exists(_.startsWith("out")))
  }

  test("bad arguments fail with a message naming the argument and the usage line") {
    val ok = Array("in", "4", "10", "out", "30", "0.001", "2")
    assert(KMeansCli.parseArgs(ok) == KMeansCli.Args("in", 4, 10, "out", 30, 0.001, 2))
    assert(KMeansCli.parseArgs(ok.updated(4, "0")).dim == 0)
    // a negative or infinite epsilon keeps the reference's meaning
    assert(KMeansCli.parseArgs(ok.updated(5, "-1")).eps == -1.0)
    assert(KMeansCli.parseArgs(ok.updated(5, "Infinity")).eps.isPosInfinity)
    def failure(args: Array[String]): String =
      intercept[IllegalArgumentException](KMeansCli.parseArgs(args)).getMessage
    for ((i, v, msg) <- Seq(
        (1, "x", "k: not an integer: x"),
        (1, "0", "k: must be >= 1, got 0"),
        (2, "2.5", "max_iter: not an integer: 2.5"),
        (2, "0", "max_iter: must be >= 1, got 0"),
        (4, "-1", "dim: must be >= 0, got -1"),
        (5, "1e-3x", "epsilon: not a number: 1e-3x"),
        (5, "NaN", "epsilon: not a number: NaN"),
        (6, "0", "num_reducer: must be >= 1, got 0"),
        (6, "-3", "num_reducer: must be >= 1, got -3"))) {
      assert(failure(ok.updated(i, v)) == s"$msg\n${KMeansCli.Usage}")
    }
    assert(failure(ok.take(6)) == s"expected 7 arguments, got 6\n${KMeansCli.Usage}")
  }

  test("a GRAFT_SEED that is not an integer fails like a bad argument") {
    assert(KMeansCli.parseSeed(None) == 42L)
    assert(KMeansCli.parseSeed(Some("7")) == 7L)
    assert(KMeansCli.parseSeed(Some("-3")) == -3L)
    for (v <- Seq("x", "1.5", "", " 7")) {
      val e = intercept[IllegalArgumentException](KMeansCli.parseSeed(Some(v)))
      assert(e.getMessage == s"GRAFT_SEED: not an integer: $v\n${KMeansCli.Usage}")
    }
  }

  test("Session.get leaves an existing session's log level alone") {
    import org.apache.logging.log4j.{Level, LogManager}
    spark.sparkContext
    val before = LogManager.getRootLogger.getLevel
    try {
      spark.sparkContext.setLogLevel("ERROR")
      Session.get(shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt)
      assert(LogManager.getRootLogger.getLevel == Level.ERROR)
    } finally spark.sparkContext.setLogLevel(before.toString)
  }

  test("empty input fails with a message saying the input is empty") {
    spark.sparkContext
    Seq(Seq.empty[String], Seq("", "   ", "\t")).foreach { lines =>
      val dir = Files.createTempDirectory("cli_empty").toFile
      val input = writeLines(dir, lines)
      val e = intercept[IllegalArgumentException] {
        KMeansCli.main(Array(input, "2", "5", new File(dir, "out").getAbsolutePath,
          "2", "0.0001", "4"))
      }
      assert(e.getMessage.contains("input is empty"), e.getMessage)
    }
  }
}
