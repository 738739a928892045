package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Dev-loop single-query timer and job profiler: `runMain graft.BenchOne
  * <sfDir> <query>[,<query>…] [runs]` — runs each named [[SparkEntry]]
  * query once cold and `runs` times warm (default 3), with [[Bench]]'s
  * drain before every run so the numbers are comparable, and prints
  *  - `[benchone] <query> cold=… warm_median=… warm=… steal=…%`;
  *  - the job table of the last warm run: wall, job count, Σ job time,
  *    the driver gap (wall − Σ job time: planning, broadcast builds,
  *    driver loops — what task metrics cannot see), then one line per
  *    job (duration, stages, tasks, description).
  * NOT the driver contract ([[Bench]] is). */
object BenchOne {
  val Usage = "usage: BenchOne <sfDir> <query>[,<query>...] [runs >= 1]"

  /** (sfDir, queries, runs), or an IllegalArgumentException that names
    * the bad argument and carries [[Usage]]. */
  def parseArgs(args: Array[String]): (String, Seq[String], Int) = {
    def bad(msg: String): Nothing =
      throw new IllegalArgumentException(s"$msg\n$Usage")
    if (args.length < 2 || args.length > 3)
      bad(s"expected 2 or 3 arguments, got ${args.length}")
    val names = args(1).split(',').toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) bad(s"query: unknown ${unknown.mkString(", ")}")
    val runs = if (args.length < 3) 3 else
      args(2).toIntOption.getOrElse(bad(s"runs: not an integer: ${args(2)}"))
    if (runs < 1) bad(s"runs: must be >= 1, got $runs")
    (args(0), names, runs)
  }

  private final case class Job(id: Int, desc: String, start: Long,
                               stages: Int, tasks: Int, var end: Long = -1L)

  private val Marker = "graft.benchone.marker"

  /** Every job the context runs while attached, whatever thread starts
    * it (a run's jobs are picked by submission time, so the threads a
    * query spawns count too). */
  private final class JobLog(sc: SparkContext) extends SparkListener {
    private val jobs = mutable.LinkedHashMap[Int, Job]()
    @volatile private var seen: CountDownLatch = new CountDownLatch(0)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      if (props.exists(_.getProperty(Marker) != null)) seen.countDown()
      else {
        // a description set by the query, else the result stage's call site
        val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.name))
          .getOrElse("")
        jobs.synchronized {
          jobs(e.jobId) = Job(e.jobId, desc, e.time, e.stageInfos.size,
            e.stageInfos.map(_.numTasks).sum)
        }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }

    /** The bus delivers events in order: once the marker job's start
      * arrives, so has every earlier job's start and end. */
    def drain(): Unit = {
      seen = new CountDownLatch(1)
      sc.setLocalProperty(Marker, "1")
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setLocalProperty(Marker, null)
      seen.await(30, TimeUnit.SECONDS)
      ()
    }

    /** Jobs submitted in [from, to] (epoch ms). */
    def submitted(from: Long, to: Long): Seq[Job] = jobs.synchronized {
      jobs.values.filter(j => j.start >= from && j.start <= to).toSeq
    }
  }

  /** The `[benchone]` line and the job table for query `name`. */
  def report(spark: SparkSession, sfDir: String, name: String,
             runs: Int): Seq[String] = {
    val fn = SparkEntry.queries(name)
    val log = new JobLog(spark.sparkContext)
    spark.sparkContext.addSparkListener(log)
    try {
      val j0 = BenchLadder.cpuJiffies()
      var window = (0L, 0L)
      val ts = (0 to runs).map { _ =>
        Bench.drain()
        val (m0, t0) = (System.currentTimeMillis(), System.nanoTime())
        fn(spark, sfDir).count()
        window = (m0, System.currentTimeMillis())
        (System.nanoTime() - t0) / 1e9
      }
      // host-steal annotation over the whole query window (the
      // BenchLadder weather report): numbers sampled under neighbor
      // load must say so, or a no-code-change rerun reads as a
      // regression
      val st = BenchLadder.stealPct(j0, BenchLadder.cpuJiffies())
      val warm = ts.drop(1).sorted
      log.drain()
      val jobs = log.submitted(window._1, window._2)
      val jobSum = jobs.map(j => (j.end - j.start) / 1e3).sum
      Seq(f"[benchone] $name%s cold=${ts.head}%.3f " +
        f"warm_median=${warm(warm.length / 2)}%.3f " +
        s"warm=${warm.map(t => f"$t%.3f").mkString(",")}" +
        f" steal=$st%.0f%%",
        f"[profile] $name%s wall=${ts.last}%.3f s  jobs=${jobs.size}%d " +
        f"job_time_sum=$jobSum%.3f s  gap=${ts.last - jobSum}%.3f s " +
        "(planning/driver)") ++
      jobs.map { j =>
        f"[profile]   job ${j.id}%3d ${(j.end - j.start) / 1e3}%7.3f s " +
          f"stages=${j.stages}%2d tasks=${j.tasks}%4d  ${j.desc.take(90)}%s"
      }
    } finally spark.sparkContext.removeSparkListener(log)
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, names, runs) =
      try parseArgs(args)
      catch { case e: IllegalArgumentException =>
        System.err.println(e.getMessage); sys.exit(2)
      }
    val spark = Session.get()
    names.foreach(report(spark, sfDir, _, runs).foreach(println))
    Caches.releaseAll(spark)
    spark.stop()
  }
}
