package graft.kmeans

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.SparkListenerTaskEnd
import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen

import graft.SparkSessionSpec

/** [[LloydKernel]]'s two sources — a bare `points` scan read without the
  * planner ([[PointsBlockRDD]]) and any DataFrame through its physical
  * plan — give the same runs to the bit and the same failures, and both
  * cache one [[VecBlock]] per partition. */
class PointsBlocksSpec extends SparkSessionSpec {
  import LloydLoopSpec._

  private def points(path: String, splitSize: Option[Int] = None): DataFrame =
    splitSize.fold(spark.read.format("points"))(s =>
      spark.read.format("points").option("splitSizeBytes", s.toLong))
      .load(path)

  /** `files` written into a new directory, one file each. */
  private def writeDir(files: Seq[String]): File = {
    val dir = Files.createTempDirectory("points_blocks").toFile
    files.zipWithIndex.foreach { case (text, i) =>
      Files.write(new File(dir, f"part-$i%02d.txt").toPath, text.getBytes(UTF_8))
    }
    dir
  }

  private def lineage(rdd: RDD[_]): Seq[RDD[_]] =
    rdd +: rdd.dependencies.flatMap(d => lineage(d.rdd))

  private def planFree(df: DataFrame): Boolean =
    LloydKernel.pointsFile(df, "point", None).isDefined

  private final case class Case(files: List[String], splitSize: Option[Int],
                                rows: Int, distinct: Int, k: Int,
                                maxIter: Int, eps: Double, seed: Long)

  test("the plan-free and the Catalyst source give bit-identical runs on generated files") {
    val coord = Gen.frequency(
      2 -> Gen.chooseNum(-3, 3).map(_.toDouble),
      6 -> Gen.choose(-100.0, 100.0))
    val caseGen = for {
      n <- Gen.choose(1, 150)
      d <- Gen.choose(1, 4)
      ragged <- Gen.frequency(4 -> false, 1 -> true)
      width = if (ragged) Gen.choose(1, d + 2) else Gen.const(d)
      distinct <- Gen.frequency(1 -> Gen.const(1), 3 -> Gen.const(n),
        2 -> Gen.choose(1, n))
      pool <- Gen.listOfN(distinct, width.flatMap(Gen.listOfN(_, coord)))
      vecs <- Gen.listOfN(n - distinct, Gen.oneOf(pool)).map(pool ++ _)
      // a line is a vector, maybe after a blank line, ended by LF or CRLF
      lines <- Gen.sequence[List[String], String](vecs.map { v =>
        for {
          blank <- Gen.frequency(6 -> "", 1 -> "\n", 1 -> "   \r\n")
          sep <- Gen.oneOf(", ", ",", ",\t")
          eol <- Gen.frequency(3 -> "\n", 1 -> "\r\n")
        } yield blank + v.mkString("<", sep, ">") + eol
      })
      nFiles <- Gen.frequency(3 -> Gen.const(1), 2 -> Gen.choose(2, 4))
      cuts <- Gen.listOfN(nFiles - 1, Gen.choose(0, lines.size)).map(_.sorted)
      files = (0 +: cuts :+ lines.size).sliding(2).map { case Seq(a, b) =>
        lines.slice(a, b).mkString }.toList
      splitSize <- Gen.frequency(2 -> Gen.const(None),
        3 -> Gen.choose(8, 120).map(Some(_)))
      k <- Gen.frequency(4 -> Gen.choose(1, math.min(8, distinct)),
        1 -> Gen.choose(distinct + 1, distinct + 3))
      maxIter <- Gen.choose(1, 10)
      eps <- Gen.oneOf(0.0, 1e-3, 0.5)
      seed <- Gen.choose(-5L, 50L)
    } yield Case(files, splitSize, n, vecs.distinct.size, k, maxIter, eps, seed)
    val cases = samples(caseGen, 30)
    val results = cases.map { c =>
      val dir = writeDir(c.files)
      val path = if (c.files.size == 1) new File(dir, "part-00.txt").getPath else dir.getPath
      val bare = points(path, c.splitSize)
      val planned = bare.select("point")
      assert(planFree(bare) && !planFree(planned))
      val viaScan = KMeansRunner.run(bare, "point", c.k, c.maxIter, c.eps, c.seed)
      val viaPlan = KMeansRunner.run(planned, "point", c.k, c.maxIter, c.eps, c.seed)
      assert(bits(viaScan) == bits(viaPlan), c)
      (bare.rdd.getNumPartitions, viaScan)
    }
    // the generator reaches the edges it is for
    def some(p: ((Case, (Int, KMeansResult))) => Boolean) =
      assert(cases.zip(results).count(p) >= 2)
    some { case (c, _) => c.files.size > 1 }
    some { case (c, (parts, _)) => c.splitSize.isDefined && parts >= 5 }
    some { case (c, _) => c.files.exists(_.contains("\r\n")) && c.files.exists(_.contains("\n\n")) }
    some { case (c, _) => c.files.mkString.split("\n").map(_.count(_ == ',')).distinct.size > 1 }
    some { case (_, (_, r)) => r.reinitCount > 0 }
    some { case (c, (parts, r)) => parts >= 3 && c.k > 1 && r.errorLog.size >= 2 }
  }

  test("a NaN or infinite coordinate and a malformed line fail alike on both sources") {
    val dir = writeDir(Seq(
      (0 until 40).map(i => if (i == 9) "<1.0, NaN>" else if (i == 30) "<Infinity, 2.0>"
        else s"<$i.5, ${i % 4}.0>").mkString("", "\n", "\n"),
      "<1.0, 2.0>\n\n<3.0, , 4.0>\n"))
    val nonFinite = points(new File(dir, "part-00.txt").getPath, Some(64))
    val malformed = new File(dir, "part-01.txt").getPath
    def failure(df: DataFrame): Throwable = intercept[Exception] {
      KMeansRunner.run(df, "point", k = 2, maxIter = 5, eps = 0.0, seed = 3L)
    }
    Seq(nonFinite, nonFinite.select("point")).foreach { df =>
      assert(failure(df).getMessage == "requirement failed: k-means input has a " +
        "NaN or infinite coordinate in 2 vectors")
    }
    val named = Seq(points(malformed), points(malformed).select("point")).map { df =>
      Iterator.iterate(failure(df))(_.getCause).takeWhile(_ != null)
        .collectFirst { case n: NumberFormatException => n.getMessage }
    }
    assert(named.distinct.size == 1 && named.head.exists(_.endsWith(
      s"$malformed: malformed point in the line at byte 12: empty String")), named)
  }

  private lazy val file = {
    val dir = writeDir(Seq((0 until 600).map(i => s"<$i.25, ${i % 7}.5, -$i.0>\n").mkString))
    new File(dir, "part-00.txt").getPath
  }

  test("the kernel of run(readPoints(p)) holds no Catalyst RDD in its lineage") {
    val bare = new LloydKernel(PointsIO.readPoints(spark, file), "point", cache = false)
    val planned = new LloydKernel(PointsIO.readPoints(spark, file).select("point"), "point",
      cache = false)
    def sqlExecution(k: LloydKernel) = lineage(k.vectors).map(_.getClass.getName)
      .filter(_.startsWith("org.apache.spark.sql.execution"))
    assert(sqlExecution(bare).isEmpty, lineage(bare.vectors))
    assert(sqlExecution(planned).nonEmpty)
    // a frame the session caches keeps the cached relation
    val cached = PointsIO.readPoints(spark, file).cache()
    try assert(!planFree(cached)) finally { cached.unpersist(); () }
  }

  test("each cached partition holds exactly one object on both sources") {
    Seq(points(file, Some(2000)), points(file, Some(2000)).select("point")).foreach { df =>
      val kernel = new LloydKernel(df, "point")
      try {
        KMeansRunner.sampleCentroids(df, "point", 3, 1L) // warm up the session
        kernel.round(Array(Array(0.0, 0.0, 0.0), Array(300.0, 3.0, -300.0)))
        val parts = kernel.vectors.getNumPartitions
        assert(parts >= 5)
        val info = spark.sparkContext.getRDDStorageInfo.find(_.id == kernel.vectors.id)
        assert(info.exists(_.numCachedPartitions == parts), info)
        val perPartition = kernel.vectors.mapPartitions(it => Iterator.single(it.size)).collect()
        assert(perPartition.toSeq == Seq.fill(parts)(1))
        assert(kernel.vectors.map(_.rows.length).sum() == 600)
      } finally kernel.unpersist()
    }
  }

  test("a plan-free task binary (RDD and draw closure) plus its partition is under 4 KB") {
    val kernel = new LloydKernel(points(file, Some(200)), "point")
    try {
      val rdd = kernel.vectors
      assert(lineage(rdd).exists(_.isInstanceOf[PointsBlockRDD]))
      assert(rdd.getNumPartitions >= 60)
      val ser = SparkEnv.get.closureSerializer.newInstance()
      val binary = ser.serialize((rdd, SeedDraw.task(3, 42L, 0, timed = true))).limit()
      val partition = ser.serialize(rdd.partitions(0)).limit()
      // the serialized Hadoop Configuration alone is ~120 KB
      assert(binary + partition < 4096, s"task binary $binary B, partition $partition B")
    } finally kernel.unpersist()
  }

  test("the plan-free draw reports the input metrics the Catalyst scan reports") {
    def readMetrics(df: DataFrame) = sparkEvents {
      case e: SparkListenerTaskEnd if e.taskMetrics != null =>
        (e.taskMetrics.inputMetrics.bytesRead, e.taskMetrics.inputMetrics.recordsRead)
    } {
      KMeansRunner.sampleCentroids(df, "point", 3, 1L)
    }
    val bare = readMetrics(points(file, Some(2000)))
    val planned = readMetrics(points(file, Some(2000)).select("point"))
    assert(bare.map(_._2).sum == 600)
    // every range reads from its start on: the line reader buffers past
    // the range's end, and a range after the first reads its boundary
    // line too
    val ranges = bare.filter(_._2 > 0L)
    assert(ranges.size >= 5 && ranges.forall(_._1 > 0L), bare)
    assert(ranges.map(_._1).max == new File(file).length(), bare)
    assert(bare.sorted == planned.sorted)
  }
}
