package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._

/** One Spark job as the listener saw it. `site` is the call site of the
  * job's last stage ("collect at LloydKernel.scala:141"): the only way
  * to tell apart the jobs one public call submits. Times are epoch ms
  * from the scheduler's events; task totals fill in only while detailed
  * tracing is on. */
final class JobRec(val id: Int, val group: String, val site: String,
                   val start: Long) {
  var end: Long = start
  var tasks = 0
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var bytesRead = 0L
  var bytesWritten = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  def seconds: Double = (end - start) / 1e3
  def siteFile: String = site.split(" at ").lastOption.getOrElse("")
    .takeWhile(_ != ':')
}

/** Job log kept in both modes (job start/end only, which is what the
  * untraced run needs to time Lloyd rounds inside `KMeansRunner.run`).
  * With `detailed` on it also totals the task metrics of each job and
  * the bytes held by cached RDD blocks. */
final class JobListener extends SparkListener {
  @volatile var detailed = false
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val blocks = mutable.HashMap[String, Long]()
  private var blockBytes = 0L
  private var peakBlock = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs(e.jobId) = new JobRec(e.jobId, group, site, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (detailed) synchronized {
    for (jid <- stageJob.get(e.stageId); r <- jobs.get(jid)) {
      r.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        r.taskRunMs += m.executorRunTime
        r.taskCpuNs += m.executorCpuTime
        r.bytesRead += m.inputMetrics.bytesRead
        r.bytesWritten += m.outputMetrics.bytesWritten
        r.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    if (detailed) synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
        val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        blockBytes += now - blocks.getOrElse(key, 0L)
        if (now == 0L) blocks.remove(key) else blocks(key) = now
        peakBlock = math.max(peakBlock, blockBytes)
      }
    }

  /** Jobs that started in [from, to] (epoch ms), in submission order. */
  def jobsBetween(sc: SparkContext, from: Long, to: Long): Seq[JobRec] = {
    PerfbenchBus.drain(sc)
    synchronized(jobs.values.filter(j => j.start >= from && j.start <= to).toVector)
  }

  /** Peak bytes held by cached RDD blocks since the last call. */
  def takePeakCached(sc: SparkContext): Long = {
    PerfbenchBus.drain(sc)
    synchronized { val p = peakBlock; peakBlock = blockBytes; p }
  }
}

final case class Span(id: Int, name: String, parent: Int,
                      start: Long, var end: Long = -1L)

/** Spans around the benchmark's calls into the program: name, start,
  * end, parent. While detailed tracing is on, every span tags the jobs
  * its body submits with a job group of its own id, so the listener's
  * task totals can be attributed to the span. */
final class Tracer(sc: SparkContext, listener: JobListener) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]

  def enabled: Boolean = listener.detailed
  def enable(on: Boolean): Unit = listener.detailed = on

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      System.currentTimeMillis())
    spans += s
    val prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", s"pb${s.id}")
    stack = s :: stack
    try body
    finally {
      s.end = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty("spark.jobGroup.id", prev)
    }
  }

  /** Jobs tagged by span `s` or any of its descendants. */
  def jobsOf(s: Span, all: Seq[JobRec]): Seq[JobRec] = {
    val ids = mutable.Set(s.id)
    spans.foreach(c => if (ids.contains(c.parent)) ids += c.id)
    val groups = ids.map(i => s"pb$i")
    all.filter(j => groups.contains(j.group))
  }
}

object Trace {
  /** Wall time in [from, to] (ms) that no job interval covers: planning,
    * driver-side work and scheduling between jobs. */
  def driverGapS(jobs: Seq[JobRec], from: Long, to: Long): Double = {
    var covered = 0L
    var cursor = from
    jobs.map(j => (math.max(j.start, from), math.min(j.end, to)))
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > cursor) { covered += b - math.max(a, cursor); cursor = b }
      }
    math.max(0L, to - from - covered) / 1e3
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Heap still in use after a full collection: the data a pass leaves
  * behind (cached frames, session state). Heap in use at any other
  * moment mostly measures how much garbage the collector has not yet
  * reclaimed, which changes from run to run. */
object Heap {
  def retainedMb(): Double = {
    System.gc()
    Thread.sleep(50)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
