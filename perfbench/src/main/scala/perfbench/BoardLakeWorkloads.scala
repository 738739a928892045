package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{Caches, SparkEntry}
import graft.sources.SnapshotTable

/** Board queries over generated tables (the repository's testdata
  * schemas at sf0.01 row counts), timed after one untimed pass has filled the
  * caches. The four queries are the cheapest set, in run time and in
  * DuckDB oracle time, that still reaches every layer: `operators`,
  * `plans` (TopKPerKey through ann_ivfpq and retrieval_bm25,
  * CoOccurrencePairs through graph_triangles), `expressions`
  * (SortedIntersectCount through dedup_prefix_join, NearestCentroid
  * through ann_ivfpq), `Caches` and Catalyst planning. None of them
  * touches the points source or `LloydKernel`. One operation is one
  * query run to its collected rows, followed by the between-queries
  * cache release a board harness makes. */
final class BoardRead(c: Main.Ctx) extends Workload(c) {
  val queries: Seq[String] = Seq(
    "dedup_prefix_join", "ann_ivfpq", "retrieval_bm25", "graph_triangles")
  private def dir = s"${ctx.inputs(0)}/board"
  private val reference = mutable.Map[String, (StructType, Array[Row], String)]()

  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  private def run(q: String): Option[(StructType, Array[Row], String)] =
    ctx.op(s"board.$q") {
      val df = SparkEntry.queries(q)(ctx.spark, dir)
      val rows = df.collect()
      Caches.release(ctx.spark)
      (df.schema, rows, digest(rows))
    }

  /** Two untimed passes: the first fills the caches and holds the
    * reference outputs. After it alone, an 8-pass run still sped up from
    * pass to pass as the JIT settled (7.9, 6.9, 6.1 s, then near 6 s). */
  override def warm(): Unit = {
    queries.foreach(q => run(q).foreach(reference(q) = _))
    pass(-1)
  }

  override def typicalPassS: Double = 7.0

  override def pass(p: Int): Unit = queries.foreach { q =>
    run(q).foreach { case (_, _, h) =>
      if (!reference.get(q).exists(_._3 == h))
        ctx.fail(s"board.$q pass $p: rows differ from the reference run")
    }
  }

  override def summary: Map[String, Any] = Map(
    "rows" -> queries.map(q => q -> reference.get(q).map(_._2.length).getOrElse(-1)).toMap)

  override def layers(traced: Seq[Main.Pass], jobs: Seq[Seq[JobRec]])
      : Seq[(String, (Double, String))] = queries.flatMap { q =>
    val per = traced.zip(jobs).flatMap { case (ps, js) =>
      spansNamed(s"board.$q", ps).filter(_.name == s"board.$q")
        .map(s => (s, ctx.tracer.jobsOf(s, js)))
    }
    def med(f: (Span, Seq[JobRec]) => Double) =
      Trace.median(per.map { case (s, js) => f(s, js) })
    val pre = s"operators.$q"
    Seq(
      s"$pre.wall_s" -> (med((s, _) => (s.end - s.start) / 1e3) -> "s"),
      s"$pre.driver_gap_s" -> (med((s, js) => Trace.driverGapS(js, s.start, s.end)) -> "s"),
      s"$pre.jobs" -> (med((_, js) => js.size.toDouble) -> "count"),
      s"$pre.tasks" -> (med((_, js) => js.map(_.tasks).sum.toDouble) -> "count"),
      s"$pre.task_cpu_s" -> (med((_, js) => js.map(_.taskCpuNs).sum / 1e9) -> "s"),
      s"$pre.shuffle_bytes" -> (med((_, js) => js.map(_.shuffleBytes).sum.toDouble) -> "bytes"),
      s"$pre.spill_bytes" -> (med((_, js) => js.map(_.spillBytes).sum.toDouble) -> "bytes"))
  }

  override def dumpChecks(): Unit = {
    queries.foreach { q =>
      reference.get(q).foreach { case (schema, rows, _) =>
        ctx.spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"${ctx.check}/board/$q")
      }
    }
    Json.write(s"${ctx.check}/board/oracle_sql.json",
      SparkEntry.oracleSql.filter { case (q, _) => queries.contains(q) })
  }
}

/** A seeded sequence of `SnapshotTable` calls on a fresh table root per
  * pass (commit, merge, upsertMor, deleteRows, compact, expire), with a
  * `readLatest` / `readAsOf` aggregate after every write. The plan and
  * its batches are generated inputs (`lake/plan.txt`, `lake/b<i>.parquet`).
  * One operation is one table call; the run's first pass is the
  * reference the checker replays. */
final class LakeWrite(c: Main.Ctx) extends Workload(c) {
  private def dir = s"${ctx.inputs(0)}/lake"
  private lazy val plan: Seq[Array[String]] =
    java.nio.file.Files.readAllLines(new File(s"$dir/plan.txt").toPath).asScala
      .map(_.trim).filter(_.nonEmpty).map(_.split(" ")).toSeq
  private var reference: Seq[String] = Seq.empty
  private val Writes = Set("commit", "merge", "upsert", "delete", "compact", "expire")

  private def root(tag: String) = s"${ctx.work}/lake/$tag"

  private def agg(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("key")), lit(0L)),
      coalesce(sum(col("val")), lit(0L))).head()
    s"${r.getLong(0)},${r.getLong(1)},${r.getLong(2)}"
  }

  /** Runs `steps` of the plan on a fresh root; one result per step. The
    * first timed pass is the reference for the later ones. */
  private def runPlan(tag: String, p: Int, steps: Seq[Array[String]]): Seq[String] = {
    val spark = ctx.spark
    val rt = root(tag)
    val versions = mutable.Map[Int, Int]()
    def batch(b: String) = spark.read.parquet(s"$dir/$b.parquet")
    steps.zipWithIndex.map { case (step, i) =>
      val name = s"lake.${step(0)}"
      val res: Option[String] = step(0) match {
        case "commit" => ctx.op(name)(SnapshotTable.commit(spark, rt, batch(step(1)),
          append = step(2) == "1", statsKey = Some("key")).toString)
        case "merge" => ctx.op(name)(SnapshotTable.merge(spark, rt, batch(step(1)), "key").toString)
        case "upsert" => ctx.op(name)(SnapshotTable.upsertMor(spark, rt, batch(step(1)), "key").toString)
        case "delete" => ctx.op(name)(SnapshotTable.deleteRows(spark, rt, batch(step(1)), "key").toString)
        case "compact" => ctx.op(name)(SnapshotTable.compact(spark, rt, Some("key")).toString)
        case "expire" => ctx.op(name) {
          val r = SnapshotTable.expire(spark, rt, SnapshotTable.latestVersion(spark, rt).get)
          s"expired=${r.productIterator.mkString(",")}"
        }
        case "latest" => ctx.op(name)(agg(SnapshotTable.readLatest(spark, rt)))
        case "asof" =>
          // the timestamp lookup is the caller's, not part of the read
          val ts = versions.get(step(1).toInt)
            .flatMap(v => SnapshotTable.commitTime(spark, rt, v))
          ctx.op(name)(agg(SnapshotTable.readAsOf(spark, rt, ts.getOrElse(-1L))))
        case other => throw new IllegalArgumentException(s"plan step $other")
      }
      if (Writes(step(0)) && step(0) != "expire")
        res.foreach(v => versions(i) = v.toInt)
      val out = res.getOrElse("error")
      if (p > 0 && (reference.size <= i || reference(i) != out))
        ctx.fail(s"$name step $i pass $p: $out differs from the reference run")
      out
    }
  }

  /** The plan's first write and read, on a scratch root: JIT warm-up. */
  override def warm(): Unit = runPlan("warm", -1, plan.take(2))

  override def typicalPassS: Double = 11.0

  override def pass(p: Int): Unit = {
    val out = runPlan(s"p$p", p, plan)
    if (p == 0) reference = out
  }

  override def summary: Map[String, Any] = Map(
    "steps" -> plan.size, "final" -> reference.lastOption.getOrElse(""))

  override def layers(traced: Seq[Main.Pass], jobs: Seq[Seq[JobRec]])
      : Seq[(String, (Double, String))] = {
    val ops = ctx.ops.filter(o => o.traced && o.name.startsWith("lake."))
    val (writes, reads) = ops.partition(o => Writes(o.name.stripPrefix("lake.")))
    val files = traced.map { ps =>
      val all = walk(new File(root(s"p${ps.index}")))
        .filter(f => !f.getName.endsWith(".crc"))
      (all.size.toDouble, all.map(_.length).sum.toDouble)
    }
    Seq(
      "sources.commit_s" -> (Trace.median(writes.map(_.seconds).toSeq) -> "s"),
      "sources.snapshot_read_s" -> (Trace.median(reads.map(_.seconds).toSeq) -> "s"),
      "sources.bytes_written" -> (Trace.median(files.map(_._2)) -> "bytes"),
      "sources.files_written" -> (Trace.median(files.map(_._1)) -> "count"))
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    else if (f.isFile) Seq(f) else Seq.empty

  override def dumpChecks(): Unit = {
    Json.write(s"${ctx.check}/lake_write.json", Map("results" -> reference))
    SnapshotTable.readLatest(ctx.spark, root("p0")).coalesce(1)
      .write.mode("overwrite").parquet(s"${ctx.check}/lake/final")
  }
}
