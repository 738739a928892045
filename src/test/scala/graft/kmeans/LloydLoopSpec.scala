package graft.kmeans

import java.io.File
import java.lang.Double.doubleToRawLongBits
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.SparkListenerJobStart
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSessionSpec

/** The two placements of a k-means run's rounds — one job per round,
  * and loop jobs that run consecutive rounds in one task — give the
  * same result to the bit; the measured choice between them; and the
  * two centroid writers of [[PointsIO]]. */
class LloydLoopSpec extends SparkSessionSpec {
  import spark.implicits._
  import LloydLoopSpec._

  private final case class Case(rows: List[List[Double]], distinct: Int,
                                k: Int, parts: Int, maxIter: Int,
                                eps: Double, replay: Boolean, seed: Long)

  test("loop jobs and one job per round give bit-identical runs on generated inputs") {
    // mostly full-mantissa doubles: sums of three or more of them round
    // differently in another order, so a merge out of partition order
    // shows in the bits
    val coord = Gen.frequency(
      2 -> Gen.chooseNum(-3, 3).map(_.toDouble),
      6 -> Gen.choose(-100.0, 100.0))
    // uniform draws (Gen.choose): chooseNum's bias to the bounds would
    // make most cases one point or one distinct vector
    val caseGen = for {
      n <- Gen.choose(1, 200)
      d <- Gen.choose(1, 4)
      ragged <- Gen.frequency(4 -> false, 1 -> true)
      width = if (ragged) Gen.choose(0, d + 2) else Gen.const(d)
      distinct <- Gen.frequency(1 -> Gen.const(1), 3 -> Gen.const(n),
        2 -> Gen.choose(1, n))
      pool <- Gen.listOfN(distinct, width.flatMap(Gen.listOfN(_, coord)))
      // every pool vector once, then repeats: a sample holds the same
      // vector twice only where the input repeats it
      rows <- Gen.listOfN(n - distinct, Gen.oneOf(pool)).map(pool ++ _)
      k <- Gen.frequency(4 -> Gen.choose(1, math.min(8, distinct)),
        1 -> Gen.choose(distinct + 1, distinct + 3))
      parts <- Gen.frequency(1 -> Gen.const(1), 5 -> Gen.choose(2, 13))
      maxIter <- Gen.frequency(2 -> Gen.oneOf(1, 2), 5 -> Gen.choose(3, 12))
      eps <- Gen.oneOf(0.0, 1e-3, 0.5, 5.0)
      replay <- Gen.oneOf(false, true)
      seed <- Gen.choose(-5L, 50L)
    } yield Case(rows, rows.distinct.size, k, parts, maxIter, eps, replay, seed)
    val cases = samples(caseGen, 40)
    val results = cases.map { c =>
      val pts = spark.sparkContext
        .parallelize(c.rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }, c.parts)
        .toDF("id", "v")
      def runWith(loop: Option[Boolean]) = KMeansRunner.forceLoop.withValue(loop) {
        if (c.replay)
          KMeansRunner.runReplayable(pts, "v", "id", c.k, c.maxIter, c.eps, c.seed)
        else KMeansRunner.run(pts, "v", c.k, c.maxIter, c.eps, c.seed)
      }
      val perRound = runWith(Some(false))
      Seq(Some(true), None).foreach { loop =>
        assert(bits(runWith(loop)) == bits(perRound), s"$c placement=$loop")
      }
      perRound
    }
    // the generator reaches the edges it is for
    def some(p: ((Case, KMeansResult)) => Boolean) =
      assert(cases.zip(results).count(p) >= 2)
    some { case (c, _) => c.k > c.distinct }
    some { case (c, _) => c.distinct == 1 && c.rows.size > 1 }
    some { case (c, _) => c.maxIter == 1 }
    some { case (c, _) => c.maxIter == 2 }
    some { case (c, r) => r.converged && c.eps > 0 && r.iterations > 1 }
    some { case (_, r) => r.reinitCount > 0 }
    some { case (c, _) => c.rows.map(_.size).distinct.size > 1 && !c.replay }
    some { case (c, r) => c.replay && r.errorLog.nonEmpty }
    some { case (c, _) => c.parts == 1 }
    some { case (c, _) => c.parts >= 10 }
    some { case (c, r) => c.parts >= 3 && c.k > 1 && r.errorLog.size >= 2 && !c.replay }
  }

  /** A one-file input of 400 points in three blobs. */
  private lazy val smallFile: String = {
    val dir = Files.createTempDirectory("loop_jobs").toFile
    val input = new File(dir, "points.txt")
    val rnd = new scala.util.Random(5)
    Files.write(input.toPath, (0 until 400).map { i =>
      val c = (i % 3) * 40.0
      s"<${c + rnd.nextGaussian()}, ${c - rnd.nextGaussian()}>\n"
    }.mkString.getBytes(UTF_8))
    input.getPath
  }

  test("a 3-round run on a one-file input runs the draw and one loop job") {
    var res: KMeansResult = null
    val sites = sparkEvents {
      case e: SparkListenerJobStart => e.stageInfos.maxBy(_.stageId).name
    } {
      res = KMeansRunner.run(PointsIO.readPoints(spark, smallFile), "point",
        k = 3, maxIter = 4, eps = 0.0, seed = 42L)
    }
    assert(res.errorLog.size == 3 && res.reinitCount == 0, res)
    assert(sites.head.contains("KMeansRunner.scala"), sites)
    assert(sites.tail.forall(_.contains("LloydKernel.scala")), sites)
    assert(sites.size == 2, sites)
  }

  test("rounds move into one task only when round 1's tasks computed for less than its wall time") {
    assert(KMeansRunner.loopPays(taskNs = 2000000L, roundWallNs = 8000000L))
    assert(KMeansRunner.loopPays(taskNs = 0L, roundWallNs = 1L))
    assert(!KMeansRunner.loopPays(taskNs = 8000000L, roundWallNs = 8000000L))
    assert(!KMeansRunner.loopPays(taskNs = 900000000L, roundWallNs = 300000000L))
  }

  test("the seed draw predicts round 1's wall time as its fixed cost plus its longest round") {
    val ms = 1000000L
    // one task: the rounds' sum is the longest round, below any wall time
    assert(KMeansRunner.loopPaysFrom(Seq(50 * ms -> 40 * ms), wallNs = 52 * ms))
    // four tasks: fixed cost 10 − 6 = 4 ms, round 1 predicted at 5 ms
    assert(KMeansRunner.loopPaysFrom(Seq.fill(4)(6 * ms -> 1 * ms), wallNs = 10 * ms))
    assert(!KMeansRunner.loopPaysFrom(Seq.fill(4)(6 * ms -> 2 * ms), wallNs = 10 * ms))
    // the longest task and the longest round may be different tasks:
    // 12 − 10 + 3 = 5 ms against a sum of 4 ms
    assert(KMeansRunner.loopPaysFrom(Seq(10 * ms -> 1 * ms, 4 * ms -> 3 * ms), wallNs = 12 * ms))
    // large k: rounds are real work, each task's exceeds the fixed cost
    assert(!KMeansRunner.loopPaysFrom(Seq.fill(4)(400 * ms -> 300 * ms), wallNs = 420 * ms))
    // from round 1 itself (round ns = task ns) it is loopPays on the round
    assert(KMeansRunner.loopPaysFrom(Seq(2 * ms -> 2 * ms, 3 * ms -> 3 * ms), wallNs = 8 * ms))
    assert(!KMeansRunner.loopPaysFrom(Seq(2 * ms -> 2 * ms, 3 * ms -> 3 * ms), wallNs = 5 * ms))
    // an empty input's draw has no task
    assert(!KMeansRunner.loopPaysFrom(Seq.empty, wallNs = 5 * ms))
  }

  test("the java.nio and the Hadoop centroid writes make the same files") {
    val bytes = "0\t<1.0, -0.0, 2.5E-7>\n1\t<1.0E21, 3.0, -4.5>\n".getBytes(UTF_8)
    val root = Files.createTempDirectory("centroid_write")
    val viaNio = root.resolve("nio")
    PointsIO.writeLocal(viaNio, bytes)
    val viaHadoop = root.resolve("hadoop")
    val dir = new Path(viaHadoop.toUri)
    PointsIO.writeHadoop(dir.getFileSystem(spark.sessionState.newHadoopConf()), dir, bytes)
    def visible(d: java.nio.file.Path) = d.toFile.list().filterNot(_.startsWith(".")).toSet
    assert(visible(viaNio) == Set("part-00000", "_SUCCESS"))
    assert(visible(viaHadoop) == visible(viaNio))
    Seq("part-00000", "_SUCCESS").foreach { f =>
      assert(Files.readAllBytes(viaNio.resolve(f)).sameElements(
        Files.readAllBytes(viaHadoop.resolve(f))), f)
    }
    assert(Files.readAllBytes(viaNio.resolve("part-00000")).sameElements(bytes))
    // a local path takes the java.nio branch: Hadoop's checksum files
    // are absent, and an existing directory is replaced
    val out = root.resolve("cli")
    PointsIO.writeCentroids(spark, Seq(Array(1.0, 2.0), Array(3.0, 4.0)), out.toString)
    PointsIO.writeCentroids(spark, Seq(Array(5.0, 6.0)), out.toString)
    assert(out.toFile.list().toSet == Set("part-00000", "_SUCCESS"))
    assert(new String(Files.readAllBytes(out.resolve("part-00000")), UTF_8) == "0\t<5.0, 6.0>\n")
  }
}

object LloydLoopSpec {

  /** `n` generated values, one fixed seed each. */
  def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(11L + i)))

  /** Everything a run reports, doubles as raw bits. */
  def bits(r: KMeansResult) = (
    r.centroids.map(_.map(doubleToRawLongBits).toSeq).toSeq,
    r.iterations, doubleToRawLongBits(r.finalError),
    r.errorLog.map(doubleToRawLongBits), r.reinitCount, r.converged,
    r.lastRound)
}
