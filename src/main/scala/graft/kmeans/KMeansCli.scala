package graft.kmeans

/** Drop-in CLI with the reference driver's exact argument contract
  * (/root/reference/kmeans/.../KMeans.java:99-109):
  *
  *   <input> <k> <max_iter> <output> <dim> <epsilon> <num_reducer>
  *
  * - input: points text file(s), one `<x1, x2, …>` per line (O2 format),
  *   read through the `points` source ([[graft.sources.PointsDataSource]]:
  *   byte-range splits sized by `spark.sql.files.*`, one broadcast of
  *   the Hadoop conf per session and conf, so runs in one session share
  *   it). The frame is a bare scan, so [[LloydKernel]] reads its byte
  *   ranges straight into its cached blocks, with no query planned for
  *   the run;
  * - output: per-iteration directory `output + iter` of
  *   `clusterId\t<coords>` lines (KMeans.java:148-150 behavior), one
  *   file `part-00000` plus `_SUCCESS`, written on the driver
  *   ([[PointsIO.writeCentroids]]) — no Spark job for k lines;
  * - dim is accepted and, unlike the reference (which prints and ignores
  *   it, KMeans.java:107), validated against the width of every vector
  *   before round 1, by [[KMeansRunner.run]]'s seed draw: the run's
  *   first job, which parses and caches the file and visits every
  *   vector anyway (no separate probe job). Empty input fails there
  *   too, with a message saying so. The same job decides where the
  *   rounds run: a small input's rounds all run in one loop job, so its
  *   run is two Spark jobs ([[KMeansRunner]]);
  * - num_reducer maps to spark.sql.shuffle.partitions (the reference's
  *   job.setNumReduceTasks, KMeans.java:133) of the [[graft.Session]]
  *   the job runs on (master `SPARK_MASTER`, else
  *   `local[${Session.cpus}]`);
  * - epsilon/max_iter/empty-cluster semantics are KMeansRunner's
  *   faithful reproduction; a run summary in the reference's
  *   outputsLog.txt spirit goes to stdout;
  * - a bad argument ([[parseArgs]]: a number that does not parse,
  *   k < 1, max_iter < 1, dim < 0, a NaN epsilon, num_reducer < 1) or
  *   a GRAFT_SEED that is not an integer ([[parseSeed]]) exits 2 with
  *   a message naming it and the usage line, before any session is
  *   built.
  *
  * Improvements over the reference, documented in SURVEY.md §2 quirks
  * (not semantics): seeded init (reproducible; seed via
  * GRAFT_SEED env, default 42), no k≤10 id-parse limit, input parsed
  * and cached once instead of re-read per iteration.
  */
object KMeansCli {
  val Usage =
    "usage: KMeansCli <input> <k> <max_iter> <output> <dim> <epsilon> <num_reducer>"

  /** The seven arguments, checked. */
  final case class Args(input: String, k: Int, maxIter: Int, output: String,
                        dim: Int, eps: Double, numReducer: Int)

  private def bad(msg: String): Nothing =
    throw new IllegalArgumentException(s"$msg\n$Usage")

  /** The arguments, or an IllegalArgumentException that names the bad
    * argument and carries [[Usage]]: a number that does not parse,
    * k < 1, max_iter < 1, dim < 0 (0 skips the width check), a NaN
    * epsilon (no error is ever below it, so the run could never
    * converge) or num_reducer < 1. A negative or infinite epsilon
    * keeps the reference's meaning. */
  def parseArgs(args: Array[String]): Args = {
    if (args.length != 7) bad(s"expected 7 arguments, got ${args.length}")
    def int(name: String, s: String, min: Int): Int = {
      val v = s.toIntOption.getOrElse(bad(s"$name: not an integer: $s"))
      if (v < min) bad(s"$name: must be >= $min, got $v")
      v
    }
    Args(args(0), int("k", args(1), 1), int("max_iter", args(2), 1), args(3),
      int("dim", args(4), 0),
      args(5).toDoubleOption.filterNot(_.isNaN)
        .getOrElse(bad(s"epsilon: not a number: ${args(5)}")),
      int("num_reducer", args(6), 1))
  }

  /** The init seed: the `GRAFT_SEED` value, default 42, or an
    * IllegalArgumentException like [[parseArgs]]'s when it is not an
    * integer. */
  def parseSeed(env: Option[String]): Long =
    env.fold(42L)(s => s.toLongOption.getOrElse(bad(s"GRAFT_SEED: not an integer: $s")))

  def main(args: Array[String]): Unit = {
    val (a, seed) =
      try (parseArgs(args), parseSeed(sys.env.get("GRAFT_SEED")))
      catch { case e: IllegalArgumentException =>
        System.err.println(e.getMessage); sys.exit(2)
      }

    // only stop the session if this main created it (embedded callers —
    // tests, notebooks — keep theirs)
    val ownsSession = !graft.Session.exists
    val spark = graft.Session.get(shufflePartitions = a.numReducer)

    val t0 = System.nanoTime()
    val res = KMeansRunner.run(PointsIO.readPoints(spark, a.input), "point",
      a.k, a.maxIter, a.eps, seed, dim = a.dim)

    // per-iteration output dirs like the reference would have written;
    // we emit the final one — output + lastRound, the suffix of the
    // reference's LAST job (it breaks before iter++ on convergence, so
    // a run converging at round N ends at output+N; a bounded run at
    // output+(maxIter-1)) — plus a run log on stdout. maxIter=1 runs
    // zero jobs and, like the reference, writes no output dir.
    if (res.lastRound >= 1)
      PointsIO.writeCentroids(spark, res.centroids.toSeq, a.output + res.lastRound)

    val secs = (System.nanoTime() - t0) / 1e9
    println(f"iterations=${res.iterations} finalError=${res.finalError}%.6f " +
      f"reinits=${res.reinitCount} seconds=$secs%.2f")
    res.errorLog.zipWithIndex.foreach { case (e, i) =>
      println(f"iter=${i + 1} error=$e%.6f")
    }
    if (ownsSession) spark.stop()
  }
}
