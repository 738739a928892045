package graft

import org.apache.spark.sql.functions._

import graft.expressions.RoundHalfUp
import graft.kmeans.{KMeansOps, KMeansRunner, LloydKernel, LloydOracle, PointsIO, PointsText}

/** Reference-semantics unit tests for the k-means kernel (SURVEY.md §5):
  * strict-< argmin tie-break, mean finalization, empty-cluster re-init,
  * convergence metric, iteration bound off-by-one. */
class KMeansSpec extends SparkSessionSpec {
  import spark.implicits._

  private def df(pts: Seq[Seq[Double]]) = pts.toDF("v")

  test("argmin ties go to the lowest centroid index (Point.java:65 strict <)") {
    // point equidistant from both centroids
    val cents = Array(Array(0.0, 0.0), Array(2.0, 0.0))
    val out = LloydOracle.assign(df(Seq(Seq(1.0, 0.0))), "v", cents)
      .select("cluster").as[Int].collect()
    assert(out.toSeq == Seq(0))
  }

  test("assign picks the true nearest centroid") {
    val cents = Array(Array(0.0, 0.0), Array(10.0, 10.0))
    val out = LloydOracle.assign(
      df(Seq(Seq(1.0, 1.0), Seq(9.0, 9.0), Seq(4.9, 4.9), Seq(5.1, 5.1))),
      "v", cents).select("cluster").as[Int].collect().toSeq
    assert(out == Seq(0, 1, 0, 1))
  }

  test("all three assignment lowerings agree on real data") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cents = graft.operators.KMeansQueries.fixedCentroids(spark, sf0001)
    val a = LloydOracle.assign(emb, "v", cents)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
    val b = KMeansOps.assignDyn(emb, "v", cents)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
    val c = LloydOracle.assignNative(emb, "v", cents)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
    assert(a == b)
    assert(a == c)
  }

  test("NearestCentroid native expression keeps the strict-< tie-break") {
    val cents = Array(Array(0.0, 0.0), Array(2.0, 0.0))
    val out = LloydOracle.assignNative(df(Seq(Seq(1.0, 0.0))), "v", cents)
      .select("cluster").as[Int].collect()
    assert(out.toSeq == Seq(0))
    // and interpreted (non-codegen) eval agrees
    val e = graft.expressions.NearestCentroid(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(1.0, 0.0), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)), cents)
    assert(e.eval(null) == 0)
  }

  test("lloydRound computes per-cluster means and counts") {
    val cents = Array(Array(0.0), Array(10.0))
    val rows = LloydOracle.lloydRound(
      df(Seq(Seq(1.0), Seq(3.0), Seq(9.0), Seq(11.0), Seq(13.0))), "v", cents)
      .orderBy("cluster")
      .select("cluster", "centroid", "n")
      .as[(Int, Seq[Double], Long)].collect().toSeq
    assert(rows == Seq((0, Seq(2.0), 2L), (1, Seq(11.0), 3L)))
  }

  test("empty cluster yields no row (no MAX_VALUE sentinel)") {
    val cents = Array(Array(0.0), Array(1000.0))
    val rows = LloydOracle.lloydRound(df(Seq(Seq(1.0), Seq(2.0))), "v", cents)
      .select("cluster").as[Int].collect().toSeq
    assert(rows == Seq(0))
  }

  test("LloydKernel round == lloydRound on real data (assignment, means, counts)") {
    // the planning-free kernel must return the exact values of the
    // DataFrame oracle: same strict-< assignment, same sum/count means,
    // same absent-empty-cluster contract. Real embeddings (d=8, k=8)
    // exercise multi-partition partial merging.
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("v"))
      .repartition(5)
    val cents = graft.operators.KMeansQueries.fixedCentroids(spark, sf0001)
    val viaDf = LloydOracle.lloydRound(emb, "v", cents)
      .select("cluster", "centroid", "n")
      .as[(Int, Seq[Double], Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val kernel = new LloydKernel(emb, "v", cache = false)
    val viaKernel = kernel.round(cents)
      .map(r => r._1 -> ((r._2.toSeq, r._3))).toMap
    assert(viaKernel.keySet == viaDf.keySet)
    viaDf.foreach { case (c, (mean, n)) =>
      assert(viaKernel(c)._2 == n, s"cluster $c count")
      viaKernel(c)._1.zip(mean).zipWithIndex.foreach { case ((a, b), j) =>
        assert(math.abs(a - b) < 1e-12,
          s"cluster $c dim $j: kernel $a vs df $b")
      }
    }
    // empty-cluster contract: far-away extra centroid yields no entry
    val centsPlus = cents :+ Array.fill(cents.head.length)(1e9)
    assert(!kernel.round(centsPlus).exists(_._1 == cents.length))
    // strict-< tie-break parity on an equidistant point
    val tie = new LloydKernel(
      df(Seq(Seq(1.0, 0.0))), "v", cache = false)
    val tieRows = tie.round(Array(Array(0.0, 0.0), Array(2.0, 0.0)))
    assert(tieRows.map(_._1).toSeq == Seq(0))
  }

  test("km_update and km_shift equal the DataFrame oracle round, 6dp half-up") {
    import graft.operators.KMeansQueries
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("v"))
    val cents = KMeansQueries.fixedCentroids(spark, sf0001)
    val update = KMeansQueries.kmUpdate(spark, sf0001)
      .as[(Int, Int, Double, Long)].collect().sorted.toSeq
    val shift = KMeansQueries.kmShift(spark, sf0001).as[Double].collect().toSeq
    val old = cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cluster", "old_centroid")
    for (input <- Seq(emb, emb.repartition(5))) {
      val oracle = LloydOracle.lloydRound(input, "v", cents)
      val expected = oracle.select("cluster", "centroid", "n")
        .as[(Int, Seq[Double], Long)].collect()
        .flatMap { case (c, m, n) =>
          m.zipWithIndex.map { case (x, j) => (c, j + 1, RoundHalfUp.round(x, 6), n) }
        }.sorted.toSeq
      assert(expected.nonEmpty)
      assert(update == expected)
      // the shift over the non-empty clusters, as the oracle's inner join
      val expectedShift = oracle.join(broadcast(old), "cluster")
        .agg(sum(sqrt(graft.functions.VectorFunctions.sqDist(
          col("centroid"), col("old_centroid")))).as("s"))
        .as[Double].collect().map(RoundHalfUp.round(_, 6)).toSeq
      assert(shift == expectedShift)
    }
  }

  test("a run extracts each point once: its seed draw fills the kernel's cache") {
    val n = 300
    val extracted = spark.sparkContext.longAccumulator("extracted")
    val tap = udf { (v: Seq[Double]) => extracted.add(1L); v }
    val rnd = new scala.util.Random(21)
    val pts = df((0 until n).map(_ => Seq(rnd.nextDouble(), rnd.nextDouble())))
      .repartition(3).select(tap(col("v")).as("v"))
    val res = KMeansRunner.run(pts, "v", k = 3, maxIter = 4, eps = 0.0, seed = 8L)
    assert(res.errorLog.size + res.reinitCount == 3)
    assert(extracted.value == n)
  }

  test("every round is one job over the same persisted vectors: no RDD per round") {
    import org.apache.spark.scheduler.SparkListenerStageSubmitted
    val kernel = new graft.kmeans.LloydKernel(
      df((1 to 40).map(i => Seq(i.toDouble, (i % 7).toDouble))), "v")
    val rounds = try sparkEvents {
      case e: SparkListenerStageSubmitted
          if e.stageInfo.name.contains("LloydKernel.scala") =>
        e.stageInfo.rddInfos.map(_.id).toSet
    } {
      Seq(0.0, 5.0, 9.0).foreach(x =>
        kernel.round(Array(Array(x, 0.0), Array(x + 20.0, 3.0))))
    } finally kernel.unpersist()
    assert(rounds.size == 3 && rounds.distinct.size == 1, rounds)
  }

  test("a run that fails in its seed draw leaves no kernel persisted") {
    def kernels = spark.sparkContext.getPersistentRDDs.collect {
      case (id, r) if Option(r.name).exists(_.startsWith("LloydKernel(")) => id
    }.toSet
    val before = kernels
    val empty = intercept[IllegalArgumentException] {
      KMeansRunner.run(df(Seq.empty), "v", k = 2, maxIter = 5, eps = 0.0, seed = 1L)
    }
    assert(empty.getMessage.contains("input is empty"), empty.getMessage)
    val narrow = intercept[IllegalArgumentException] {
      KMeansRunner.run(df(Seq(Seq(1.0, 2.0), Seq(3.0, 4.0))), "v", k = 2,
        maxIter = 5, eps = 0.0, seed = 1L, dim = 3)
    }
    assert(narrow.getMessage.contains("declared dim=3"), narrow.getMessage)
    assert(kernels == before)
  }

  test("mbMember equals the in-plan md5 batch draw (20-bit prefix, mod MbMod)") {
    import graft.operators.KMeansQueries
    val ids = spark.range(0, 4000).toDF("vec_id")
    for (t <- Seq(1, 3, KMeansQueries.MbRounds)) {
      val inPlan = ids.where(
        conv(substring(md5(concat(lit(s"mb:$t:"),
          col("vec_id").cast("string"))), 1, 5), 16, 10).cast("long")
          % lit(KMeansQueries.MbMod) === lit(0L))
        .select("vec_id").as[Long].collect().toSet
      val viaScala = (0L until 4000L).filter(KMeansQueries.mbMember(t)).toSet
      assert(inPlan == viaScala, s"round $t draw diverged")
    }
  }

  test("shift is the sum of index-paired L2 distances (KMeans.java:206-213)") {
    val s = KMeansOps.shift(
      Array(Array(0.0, 0.0), Array(1.0, 1.0)),
      Array(Array(3.0, 4.0), Array(1.0, 1.0)))
    assert(math.abs(s - 5.0) < 1e-12)
  }

  test("runner converges on well-separated blobs to blob centers") {
    val rnd = new scala.util.Random(7)
    val blobs = Seq(Array(0.0, 0.0), Array(50.0, 0.0), Array(0.0, 50.0))
    val pts = (0 until 300).map { i =>
      val c = blobs(i % 3)
      Seq(c(0) + rnd.nextGaussian(), c(1) + rnd.nextGaussian())
    }
    val res = KMeansRunner.run(pts.toDF("v"), "v", k = 3, maxIter = 20,
      eps = 1e-3, seed = 42L)
    assert(res.finalError < 1e-3, s"did not converge: ${res.errorLog}")
    // every blob center matched by some centroid within ~3σ/√n
    blobs.foreach { b =>
      val best = res.centroids.map(c =>
        math.hypot(c(0) - b(0), c(1) - b(1))).min
      assert(best < 0.5, s"blob ${b.toSeq} unmatched: " +
        res.centroids.map(_.toSeq).toSeq)
    }
  }

  test("empty-cluster policy: full re-init, run still terminates") {
    // k=3 over only 2 distinct points forces an empty cluster every
    // round (KMeans.java:167-171 path) until maxIter bound hits.
    val res = KMeansRunner.run(
      Seq.fill(20)(Seq(1.0, 1.0)).++(Seq.fill(20)(Seq(5.0, 5.0))).toDF("v"),
      "v", k = 3, maxIter = 5, eps = 1e-6, seed = 1L)
    assert(res.reinitCount > 0)
    assert(res.iterations <= 5)
  }

  test("iteration bound is maxIter-1 rounds (KMeans.java:113,130 off-by-one)") {
    // eps=0 never satisfied (error stays > 0 on noisy data) ⇒ the loop
    // must stop after exactly maxIter-1 rounds.
    val rnd = new scala.util.Random(3)
    val pts = (0 until 100).map(_ => Seq(rnd.nextDouble() * 10, rnd.nextDouble() * 10))
    val res = KMeansRunner.run(pts.toDF("v"), "v", k = 4, maxIter = 4,
      eps = 0.0, seed = 9L)
    assert(res.iterations == 4) // iter ran 1,2,3 → 3 rounds, ends at 4
    assert(res.errorLog.size + res.reinitCount == 3)
    assert(!res.converged && res.lastRound == 3)
  }

  test("converged run reports the converging round's own index (ref breaks before iter++)") {
    // eps huge ⇒ converges on the very first error check: the reference
    // breaks BEFORE iter++ (KMeans.java:176-183), so iterations == 1 and
    // the last job output dir suffix is 1.
    val pts = (1 to 60).map(i => Seq(i.toDouble, 2.0 * i))
    val res = KMeansRunner.run(pts.toDF("v"), "v", k = 3, maxIter = 20,
      eps = 1e9, seed = 5L)
    assert(res.converged)
    assert(res.iterations == 1)
    assert(res.lastRound == 1)
    assert(res.errorLog.size == 1)
  }

  test("maxIter = 1 is legal and runs zero rounds (ref `while (1 < 1)` parity)") {
    val pts = (1 to 30).map(i => Seq(i.toDouble))
    val res = KMeansRunner.run(pts.toDF("v"), "v", k = 2, maxIter = 1,
      eps = 1e-9, seed = 6L)
    assert(res.iterations == 1 && !res.converged && res.lastRound == 0)
    assert(res.errorLog.isEmpty && res.finalError.isNaN)
    assert(res.centroids.length == 2) // the seeded sample, untouched
  }

  test("LloydKernel round == lloydRound at d = 144") {
    val d = 144
    val rnd = new scala.util.Random(13)
    val pts = (0 until 100).map(i =>
      Seq.tabulate(d)(_ => rnd.nextGaussian() + (i % 2) * 20.0)).toDF("v")
      .repartition(3)
    val cents = Array(Array.fill(d)(0.0), Array.fill(d)(20.0))
    val viaDf = LloydOracle.lloydRound(pts, "v", cents)
      .select("cluster", "centroid", "n")
      .as[(Int, Seq[Double], Long)].collect().sortBy(_._1).toSeq
    val viaKernel = new LloydKernel(pts, "v", cache = false).round(cents)
      .map { case (c, m, n) => (c, m.toSeq, n) }.toSeq
    assert(viaKernel.map(r => (r._1, r._3)) == Seq((0, 50L), (1, 50L)))
    assert(viaKernel.map(r => (r._1, r._3)) == viaDf.map(r => (r._1, r._3)))
    viaDf.zip(viaKernel).foreach { case ((c, a, _), (_, b, _)) =>
      a.zip(b).zipWithIndex.foreach { case ((x, y), j) =>
        assert(math.abs(x - y) < 1e-12, s"cluster $c dim $j: df $x vs kernel $y")
      }
    }
  }

  test("d=1 and k=1 degenerate shapes work (FIXTURES.md A.3 edges)") {
    // single dimension
    val r1 = LloydOracle.lloydRound(df(Seq(Seq(1.0), Seq(3.0))), "v",
      Array(Array(0.0)))
      .select("centroid").as[Seq[Double]].head()
    assert(r1 == Seq(2.0))
    // single cluster over 2-d points
    val res = KMeansRunner.run(
      (1 to 50).map(i => Seq(i.toDouble, 2.0 * i)).toDF("v"), "v",
      k = 1, maxIter = 5, eps = 1e-9, seed = 4L)
    assert(res.centroids.length == 1)
    assert(math.abs(res.centroids(0)(0) - 25.5) < 1e-9)
  }

  test("malformed input line is fatal, like the reference parser") {
    // KMeans.java:269 throws NumberFormatException; our ANSI cast fails
    val tmp = java.nio.file.Files.createTempDirectory("bad").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/bad.txt"), "<1.0, oops>\n")
    val thrown = intercept[Exception] {
      PointsIO.readPoints(spark, s"$tmp/bad.txt").collect()
    }
    assert(thrown.getMessage != null)
  }

  test("runReplayable is layout-independent and emits 6dp-quantized centroids") {
    val pts = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDoubleVec(col("embedding")).as("v"))
    val a = KMeansRunner.runReplayable(pts, "v", "vec_id",
      k = 4, maxIter = 5, eps = 0.01, seed = 42L)
    val b = KMeansRunner.runReplayable(pts.repartition(13), "v", "vec_id",
      k = 4, maxIter = 5, eps = 0.01, seed = 42L)
    assert(a.centroids.map(_.toSeq).toSeq == b.centroids.map(_.toSeq).toSeq,
      "partition layout must not change the replayable run")
    // every component sits exactly on the 6dp grid
    a.centroids.flatten.foreach { x =>
      assert(RoundHalfUp.round(x, 6) == x)
    }
  }

  test("kmeansParInit candidates own every point; recluster finds blobs") {
    val out = operators.KMeansQueries.kmeansParInit(spark, sf0001)
      .select("vec_id", "r_added", "weight")
      .as[(Long, Int, Long)].collect()
    // exactly one seed from round 0; every point owned by some candidate
    assert(out.count(_._2 == 0) == 1)
    assert(out.map(_._3).sum == 500L, "ownership weights must sum to n")
    assert(out.forall(c => c._2 >= 0 && c._2 <= 3))
    // oversampling delivered: far more candidates than k, far fewer than n
    assert(out.length > operators.KMeansQueries.K && out.length < 250)
  }

  test("kmeansMiniBatch is layout-independent and 6dp-quantized") {
    val a = operators.KMeansQueries.kmeansMiniBatch(spark, sf0001)
      .as[(Int, Int, Double, Long)].collect().sortBy(r => (r._1, r._2))
    assert(a.length == operators.KMeansQueries.K * operators.KMeansQueries.DIM)
    // every center component sits on the 6dp grid (the parity rule)
    a.foreach { case (_, _, v, _) =>
      assert(RoundHalfUp.round(v, 6) == v)
    }
    // batches draw ~n/MbMod points per round; accumulated mass reflects
    // all rounds and every cluster saw data on this corpus
    val nSeen = a.groupBy(_._1).map(_._2.head._4)
    assert(nSeen.sum > 500L / operators.KMeansQueries.MbMod *
      (operators.KMeansQueries.MbRounds - 1))
    assert(nSeen.forall(_ > 0))
  }

  test("kmeansBisecting yields BisectK clusters, full coverage, repeatable") {
    import operators.KMeansQueries
    val rows = KMeansQueries.kmeansBisecting(spark, sf0001)
      .as[(Int, Int, Double, Long)].collect().sortBy(r => (r._1, r._2))
    val byCluster = rows.groupBy(_._1)
    // the divisive tree ran to completion: labels 0..K-1 all populated
    assert(byCluster.keySet == (0 until KMeansQueries.BisectK).toSet)
    assert(rows.length == KMeansQueries.BisectK * KMeansQueries.DIM)
    // every point is in exactly one cluster (sizes partition the corpus)
    val n = spark.read.parquet(s"$sf0001/embeddings.parquet").count()
    assert(byCluster.values.map(_.head._4).sum == n)
    assert(byCluster.values.forall(_.head._4 > 0), "no empty final cluster")
    // centroid components sit on the 6dp grid (the parity rule)
    rows.foreach { case (_, _, v, _) =>
      assert(RoundHalfUp.round(v, 6) == v)
    }
    // deterministic: a second run reproduces the result bit-for-bit
    val again = KMeansQueries.kmeansBisecting(spark, sf0001)
      .as[(Int, Int, Double, Long)].collect().sortBy(r => (r._1, r._2))
    assert(again.sameElements(rows))
  }

  test("sampler headroom guard errors at phi = 2^43, passes just below") {
    import graft.operators.KMeansQueries
    // φ one below the ceiling: the guard must be a transparent TRUE
    val ok = Seq((KMeansQueries.SamplerHeadroomMax - 1, 7L))
      .toDF("phim", "x")
      .where(KMeansQueries.samplerHeadroomGuard(col("phim")) &&
        col("x") > 0)
      .collect()
    assert(ok.length == 1)
    // φ AT the ceiling: the job must ERROR (loud exhaustion), never
    // silently wrap u20·φ and corrupt the sampling decisions
    val e = intercept[Exception] {
      Seq((KMeansQueries.SamplerHeadroomMax, 7L)).toDF("phim", "x")
        .where(KMeansQueries.samplerHeadroomGuard(col("phim")) &&
          col("x") > 0)
        .collect()
    }
    assert(e.getMessage.contains("headroom"))
  }

  test("reference text format round-trips through PointsIO") {
    val tmp = java.nio.file.Files.createTempDirectory("pio").toString
    val data = Seq((0, Seq(0.41410840, 1.48714702)),
      (1, Seq(4.0019444906464745, 4.546128116278345)))
    PointsIO.writeCentroids(spark, data.map(_._2.toArray), s"$tmp/cents")
    val back = PointsText.readCentroids(spark, s"$tmp/cents")
      .orderBy("cluster").as[(Int, Seq[Double])].collect().toSeq
    assert(back == data)
    // and the bare points format parses the documented example
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/pts.txt"),
      "<0.41410840, 1.48714702>\n<4.0019444906464745, 4.546128116278345>\n")
    val pts = PointsIO.readPoints(spark, s"$tmp/pts.txt")
      .as[Seq[Double]].collect().toSeq.sortBy(_.head)
    assert(pts == data.map(_._2))
  }
}
