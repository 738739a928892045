package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark JVM: one workload in one process on `local[<cores>]`,
  * with one closed-loop client (the next operation starts when the last
  * one returns).
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s>
  *                  --trace <0|1> --work <dir> --smoke <0|1>
  *
  * Phases: generate the JVM-side inputs three times (the set-up time
  * counts their median; the three copies must be byte-identical), warm
  * up (JIT, caches), then as many timed passes as fit in `--seconds` at
  * the workload's typical pass time.
  * The first result of each operation is the reference: every later run
  * of it must match, and the Python checker verifies the reference
  * independently. With `--trace 1` one more untimed pass runs, then at
  * least eight passes in the order untraced, traced, traced, untraced
  * (repeated), so a linear drift of speed cancels out of the tracing
  * overhead the run reports.
  *
  * Writes `<work>/result.json` (raw operation and pass records, run
  * conditions, per-layer metrics) and the check artifacts under
  * `<work>/check`. */
object Main {

  final case class Op(name: String, seconds: Double, ok: Boolean,
                      pass: Int, traced: Boolean)
  final case class Pass(index: Int, startMs: Long, endMs: Long,
                        traced: Boolean, gcMs: Long)

  final class Ctx(val spark: SparkSession, val work: String,
                  val seed: Long, val smoke: Boolean,
                  val tracer: Tracer, val listener: JobListener) {
    val cores: Int = spark.sparkContext.defaultParallelism
    val ops = mutable.ArrayBuffer[Op]()
    val errors = mutable.ArrayBuffer[String]()
    var pass: Int = -1

    /** Times one operation; a throw counts as a failed operation. */
    def op[T](name: String)(body: => T): Option[T] = {
      val t0 = System.nanoTime()
      val r = try Some(tracer.span(name)(body)) catch {
        case e: Throwable =>
          errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
      if (pass >= 0)
        ops += Op(name, (System.nanoTime() - t0) / 1e9, r.isDefined, pass,
          tracer.enabled)
      r
    }

    /** Marks the latest recorded operation failed (wrong output). */
    def fail(why: String): Unit = {
      errors += why
      if (pass >= 0 && ops.nonEmpty) ops(ops.size - 1) = ops.last.copy(ok = false)
    }

    def inputs(rep: Int): String = s"$work/inputs/rep$rep"
    def check: String = s"$work/check"
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    val tStart = System.currentTimeMillis()
    val spark = Session.create(a("work"))
    run(spark, a, (System.currentTimeMillis() - tStart) / 1e3)
    spark.stop()
  }

  private def run(spark: SparkSession, a: Map[String, String], sessionS: Double): Unit = {
    val work = a("work")
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val sc = spark.sparkContext
    val listener = new JobListener
    sc.addSparkListener(listener)
    val tracer = new Tracer(sc, listener)
    val ctx = new Ctx(spark, work, a("seed").toLong, a.getOrElse("smoke", "0") == "1",
      tracer, listener)

    val wl: Workload = a("workload") match {
      case "kmeans_paper_e2e" => new KMeansPaperE2e(ctx)
      case "lloyd_large_k" => new LloydLargeK(ctx)
      case "board_read" => new BoardRead(ctx)
      case "lake_write" => new LakeWrite(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    val genS = (0 until 3).map { rep =>
      val t0 = System.nanoTime(); wl.generate(rep); (System.nanoTime() - t0) / 1e9
    }
    val identical = wl.inputDigests.forall(_ == wl.inputDigests.head)
    val tw0 = System.currentTimeMillis()
    wl.warm()
    val tFirst = System.currentTimeMillis()
    // a traced run measures no set-up time, and one more untimed pass
    // leaves less of the warm-up trend in its overhead figure
    if (trace) wl.pass(-1)

    val passes = mutable.ArrayBuffer[Pass]()
    val retainedHeap = mutable.ArrayBuffer[Double]()
    val cached = mutable.ArrayBuffer[(Int, Long)]()
    // the pass count follows from `seconds` and the workload's typical
    // pass time, never from the clock: a count that changed with the
    // host's speed would change which operation the median and the tail
    // pick from run to run
    val base = math.max(1, (seconds / wl.typicalPassS).toInt)
    val nPasses = if (trace) 8 * ((base + 7) / 8) else base
    var p = 0
    while (p < nPasses) {
      tracer.enable(trace && (p % 4 == 1 || p % 4 == 2))
      if (tracer.enabled) listener.takePeakCached(sc)
      ctx.pass = p
      val gc0 = Trace.gcMillis()
      val ps = System.currentTimeMillis()
      tracer.span(s"${a("workload")}.pass")(wl.pass(p))
      val pe = System.currentTimeMillis()
      passes += Pass(p, ps, pe, tracer.enabled, Trace.gcMillis() - gc0)
      if (tracer.enabled) cached += p -> listener.takePeakCached(sc)
      tracer.enable(false)
      retainedHeap += Heap.retainedMb()
      p += 1
    }
    ctx.pass = -1

    val emptyJob = Trace.median((0 until 7).map { _ =>
      val s = System.nanoTime(); sc.parallelize(Seq(1), 1).count()
      (System.nanoTime() - s) / 1e9
    })

    val layers = mutable.LinkedHashMap[String, (Double, String)]()
    if (trace) {
      val traced = passes.filter(_.traced).toSeq
      val jobsPer = traced.map(ps => listener.jobsBetween(sc, ps.startMs, ps.endMs))
      def med(f: (Pass, Seq[JobRec]) => Double): Double =
        Trace.median(traced.zip(jobsPer).map { case (ps, js) => f(ps, js) })
      layers("spark.empty_job_s") = emptyJob -> "s"
      layers("spark.cores_busy") = med((ps, js) =>
        js.map(_.taskRunMs).sum / math.max(1.0, (ps.endMs - ps.startMs).toDouble)) -> "cores"
      layers("spark.driver_gap_s") = med((ps, js) =>
        Trace.driverGapS(js, ps.startMs, ps.endMs)) -> "s"
      layers("spark.gc_s") = med((ps, _) => ps.gcMs / 1e3) -> "s"
      layers("spark.jobs") = med((_, js) => js.size.toDouble) -> "count"
      layers("spark.tasks") = med((_, js) => js.map(_.tasks).sum.toDouble) -> "count"
      layers("caches.cached_bytes") =
        Trace.median(cached.map(_._2.toDouble).toSeq) -> "bytes"
      layers ++= wl.layers(traced, jobsPer)
      // means, not medians: over the balanced order a linear drift adds
      // the same time to both sums
      val un = passes.filterNot(_.traced).map(x => (x.endMs - x.startMs).toDouble).sum
      val tr = traced.map(x => (x.endMs - x.startMs).toDouble).sum
      layers("trace.overhead_pct") = (100.0 * (tr / un - 1.0)) -> "%"
    }

    wl.dumpChecks()

    Json.write(s"$work/result.json", Map(
      "workload" -> a("workload"),
      "cores" -> ctx.cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0),
      "session_s" -> sessionS,
      "gen_s" -> genS,
      "warm_s" -> (tFirst - tw0) / 1e3,
      "first_op_ms" -> tFirst,
      "inputs_identical" -> identical,
      "ops" -> ctx.ops.map(o => Map("name" -> o.name, "s" -> o.seconds,
        "ok" -> o.ok, "pass" -> o.pass, "traced" -> o.traced)),
      "passes" -> passes.map(x => Map("s" -> (x.endMs - x.startMs) / 1e3,
        "traced" -> x.traced)),
      "retained_heap_mb" -> retainedHeap,
      "traced_jobs" -> passes.filter(_.traced).flatMap(ps =>
        listener.jobsBetween(sc, ps.startMs, ps.endMs).map(j => Map(
          "pass" -> ps.index, "group" -> j.group, "site" -> j.site,
          "s" -> j.seconds, "tasks" -> j.tasks, "cpu_s" -> j.taskCpuNs / 1e9,
          "bytes_read" -> j.bytesRead, "bytes_written" -> j.bytesWritten,
          "shuffle_bytes" -> j.shuffleBytes))),
      "spans" -> tracer.spans.map(x => Map("id" -> x.id, "name" -> x.name,
        "parent" -> x.parent, "start_ms" -> x.start, "end_ms" -> x.end)),
      "empty_job_s" -> emptyJob,
      "layers" -> layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "summary" -> wl.summary,
      "errors" -> ctx.errors))
    sc.removeSparkListener(listener)
  }
}

object Session {
  /** The board harness's session settings (`graft.Bench`), on every
    * core, with every scratch directory inside `work`. */
  def create(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.artifacts.dir", s"$work/artifacts")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** One workload. `pass` records its operations through `ctx.op`; the
  * first (untimed) pass made by `warm` holds the reference outputs. */
abstract class Workload(val ctx: Main.Ctx) {
  /** Makes the JVM-side inputs of copy `rep` (0, 1, 2). */
  def generate(rep: Int): Unit = ()
  /** Digest of each generated copy; all equal when generation is a
    * function of the seed alone. */
  def inputDigests: Seq[String] = Seq("")
  def warm(): Unit
  def pass(p: Int): Unit
  /** Seconds one pass takes on a 4-core host; sets the pass count. */
  def typicalPassS: Double
  def layers(traced: Seq[Main.Pass], jobs: Seq[Seq[JobRec]])
      : Seq[(String, (Double, String))]
  /** Writes what the Python checker needs under `ctx.check`. */
  def dumpChecks(): Unit
  /** Workload facts printed with the run (iterations, sizes). */
  def summary: Map[String, Any] = Map.empty

  protected def spansNamed(prefix: String, pass: Main.Pass) =
    ctx.tracer.spans.filter(s => s.name.startsWith(prefix) &&
      s.start >= pass.startMs && s.end <= pass.endMs).toSeq

  protected def sha256(files: Seq[java.io.File]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.sortBy(_.getPath).foreach { f =>
      md.update(f.getName.getBytes("UTF-8"))
      md.update(java.nio.file.Files.readAllBytes(f.toPath))
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
