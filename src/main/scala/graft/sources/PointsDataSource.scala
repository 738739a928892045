package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.Text
import org.apache.hadoop.util.LineReader

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionDirectory}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 table for the reference's point text format — one
  * `<x1, x2, …, xd>` vector per line (parser contract of
  * `KMeans.parsePoint`, /root/reference/kmeans/.../KMeans.java:261-274:
  * strip angle brackets, split on comma+whitespace, parse double;
  * malformed numbers are fatal). The reader tokenizes the line bytes
  * directly with exactly those semantics ([[PointsLineParser]]).
  *
  * `spark.read.format("points").load(path)` yields
  * `DataFrame[point: array<double>]` as a FIRST-CLASS source: the scan
  * plans one `InputPartition` per byte range (line-aligned, Hadoop
  * text-split contract), so a big file parallelizes across executors
  * exactly like the built-in text source, and column pruning reaches
  * the reader — a `count(*)` never parses a double
  * (SupportsPushDownRequiredColumns).
  *
  * Ranges are sized by the built-in file sources' rule,
  * `FilePartition.maxSplitBytes`: min(`spark.sql.files.maxPartitionBytes`,
  * max(`spark.sql.files.openCostInBytes`, bytes per core)), bytes per
  * core being (Σ file length + open cost per file) over
  * `spark.sql.files.minPartitionNum` or the session's leaf parallelism.
  * A lone file up to one open cost (4 MiB by default) stays one range;
  * a larger one gets about one range per core, each at most
  * maxPartitionBytes. The option `splitSizeBytes` overrides the rule.
  * Values are bit-stable for a given split plan; a consumer that sums
  * per range (Lloyd) may move in the last ulps when the plan changes
  * with the core count, as over the built-in sources.
  *
  * The session's Hadoop conf is captured when the query is planned and
  * reaches the tasks as ONE broadcast per session and conf
  * ([[ConfBroadcast]]): scans and writes planned while the conf is
  * unchanged share one broadcast. The reader and writer factories, which
  * sit in every task binary — and in the lineage of any RDD cached from
  * the scan — carry only the broadcast handle.
  *
  * `df.write.format("points").mode("overwrite"|"append").save(path)`
  * is the matching SINK (see [[PointsWriteBuilder]]): task-atomic
  * rename-on-commit files, truncate-on-overwrite, value-exact
  * round-trip through the scan.
  */
class PointsDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "points"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PointsTable.Schema

  override def supportsExternalMetadata(): Boolean = false

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "points source requires a single `path` (spark.read.format(\"points\").load(path))"))
    new PointsTable(path, Option(properties.get("splitSizeBytes")).map(_.toLong))
  }
}

object PointsTable {
  val Schema: StructType =
    StructType(Seq(StructField("point", ArrayType(DoubleType, false), false)))
}

/** `path` and `splitSize` are public for readers that skip the planner
  * (`LloydKernel`'s source for a bare `points` scan). */
class PointsTable(val path: String, val splitSize: Option[Long])
  extends Table with SupportsRead with SupportsWrite {

  override def name(): String = s"points($path)"
  override def schema(): StructType = PointsTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE).asJava

  // the session and its Hadoop conf are captured HERE —
  // newScanBuilder/newWriteBuilder run on the thread of the session
  // that plans the query, so a multi-session application resolves fs
  // settings/credentials (spark.hadoop.*) from the CORRECT session
  // instead of whatever SparkSession.active holds at job-commit time
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val session = SparkSession.active
    new PointsScanBuilder(path, splitSize, session,
      session.sessionState.newHadoopConf())
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val session = SparkSession.active
    new PointsWriteBuilder(path, info.schema(), session.sparkContext,
      session.sessionState.newHadoopConf())
  }
}

class PointsScanBuilder(path: String, splitSize: Option[Long],
                        session: SparkSession, conf: Configuration)
  extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var required: StructType = PointsTable.Schema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new PointsScan(path, splitSize, required, session, conf)
}

class PointsScan(path: String, splitSize: Option[Long], required: StructType,
                 session: SparkSession, conf: Configuration)
  extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"PointsScan path=$path splitSize=${splitSize.getOrElse("auto")} " +
      s"cols=${required.fieldNames.mkString(",")}"

  /** Driver-side listing: glob/dir expansion, then byte-range splits.
    * Line alignment is resolved at READ time by the Hadoop text-split
    * contract (see [[PointsPartitionReader]]), so planning never opens
    * file contents — O(#files) driver work, like the built-in sources. */
  override def planInputPartitions(): Array[InputPartition] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val matched: Array[FileStatus] =
      Option(fs.globStatus(p)).getOrElse(Array.empty)
    val files = matched.flatMap { st =>
      if (st.isDirectory) fs.listStatus(st.getPath).filter(_.isFile)
      else Array(st)
    }.filter { st =>
      val n = st.getPath.getName
      st.getLen > 0 && !n.startsWith("_") && !n.startsWith(".")
    }
    val size = splitSize.getOrElse(FilePartition.maxSplitBytes(session,
      Seq(PartitionDirectory(InternalRow.empty, files))))
    files.flatMap { st =>
      val len = st.getLen
      val uri = st.getPath.toUri.toString
      (0L until len by size).map { start =>
        PointsInputPartition(uri, start, math.min(size, len - start))
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    PointsReaderFactory(parsePoint = required.fieldNames.contains("point"),
      conf = ConfBroadcast(session.sparkContext, conf))
}

/** The broadcast of a Hadoop conf that scans and writes of the `points`
  * source share: the last one made, kept while its `SparkContext` runs
  * and every (key, value) pair of the conf asked for equals those of
  * the conf it was made from. The conf holds every SQL conf of the
  * session (`newHadoopConf` copies them in), so a change to any of them
  * makes a new broadcast, which replaces the kept one. Broadcasting
  * serializes and size-estimates the whole conf, about a thousand
  * entries, on every call; comparing the entries costs a small part of
  * that. A replaced broadcast is left to Spark's `ContextCleaner`, never
  * destroyed here: an RDD cached from an earlier scan may still need it
  * to recompute a lost partition. */
object ConfBroadcast {

  private final case class Kept(sc: SparkContext, entries: Map[String, String],
                                conf: Broadcast[SerializableConfiguration])

  private var kept: Option[Kept] = None

  def apply(sc: SparkContext, conf: Configuration)
      : Broadcast[SerializableConfiguration] = synchronized {
    val entries = conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    kept match {
      case Some(m) if (m.sc eq sc) && !sc.isStopped && m.entries == entries => m.conf
      case _ =>
        val b = sc.broadcast(new SerializableConfiguration(conf))
        kept = Some(Kept(sc, entries, b))
        b
    }
  }
}

final case class PointsInputPartition(path: String, start: Long, length: Long)
  extends InputPartition

final case class PointsReaderFactory(parsePoint: Boolean,
                                     conf: Broadcast[SerializableConfiguration])
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PointsPartitionReader(
      partition.asInstanceOf[PointsInputPartition], parsePoint, conf.value.value)
}

/** Range reader with the Hadoop text-split ownership contract: a split
  * [start, end) owns every line that STARTS in it. For start > 0 the
  * reader seeks to start−1 and discards one line (the line crossing —
  * or ending exactly at — the boundary, owned by the previous split,
  * which reads past its own end to finish it); it then emits lines
  * while their start offset is < end.
  *
  * [[nextLine]] is that line loop; [[next]] turns each line into a row,
  * and [[point]] into a plain `double[]` for readers that build their
  * own objects. */
class PointsPartitionReader(split: PointsInputPartition, parsePoint: Boolean,
                            conf: Configuration)
  extends PartitionReader[InternalRow] {

  private val end = split.start + split.length
  private val text = new Text()
  private val parser = new PointsLineParser
  private var row: InternalRow = _
  private var lineStart: Long = -1L

  private val stream = {
    val p = new Path(split.path)
    p.getFileSystem(conf).open(p)
  }
  private var pos: Long = split.start
  // ONE LineReader for skip + reads: it buffers ahead, so a second
  // reader over the same stream would lose buffered bytes. Byte
  // positions are tracked via readLine's consumed-byte return, never
  // stream.getPos (which reflects the buffer, not the lines consumed).
  // Lazy: the seek and the line skip read bytes, and a scan's input
  // metrics count only what is read after the reader is built.
  private lazy val lines: LineReader = {
    if (split.start > 0) stream.seek(split.start - 1)
    val r = new LineReader(stream)
    if (split.start > 0) pos = split.start - 1 + r.readLine(text)
    r
  }

  /** Moves to the split's next non-blank line; false past its end. */
  def nextLine(): Boolean = {
    val r = lines // skips the boundary line on the first call
    // loop (not recurse) over blank lines: a pathological all-blank
    // range must not grow the stack
    while (pos < end) {
      val consumed = r.readLine(text)
      if (consumed == 0) return false
      lineStart = pos
      pos += consumed
      if (!PointsLineParser.isBlank(text.getBytes, text.getLength)) return true
    }
    false
  }

  override def next(): Boolean = nextLine() && {
    row = if (parsePoint) {
      tokenize()
      new GenericInternalRow(Array[Any](parser.array))
    } else new GenericInternalRow(0) // count(*): no parse
    true
  }

  /** The point on the current line as a new `double[]`. */
  def point(): Array[Double] = {
    tokenize()
    java.util.Arrays.copyOf(parser.values, parser.size)
  }

  /** Parses the current line; a malformed number fails naming the file
    * and the byte offset where the line starts. */
  private def tokenize(): Unit =
    try parser.tokenize(text.getBytes, text.getLength)
    catch {
      case e: NumberFormatException =>
        val named = new NumberFormatException(
          s"${split.path}: malformed point in the line at byte $lineStart: ${e.getMessage}")
        named.initCause(e)
        throw named
    }

  override def get(): InternalRow = row
  override def close(): Unit = stream.close()
}

// ---------------------------------------------------------------------
// Write path: `df.write.format("points").save(path)` — the SINK half of
// the reference text contract. Accepts a single array<double> column,
// emits one `<x1, x2, …>` line per row via java.lang.Double.toString
// (shortest-round-trip text, so read-back through the scan above is
// value-exact). One file per task; each writer streams to a hidden
// `.inprogress` file and RENAMES on task commit, so a failed/speculated
// attempt never leaves a half-file visible — task-level atomicity, the
// FileOutputCommitter-v2 guarantee class. Job commit drops a _SUCCESS
// marker. mode("overwrite") maps to SupportsTruncate (directory cleared
// once, driver-side, before any task runs); mode("append") adds files.
// ---------------------------------------------------------------------

class PointsWriteBuilder(path: String, schema: StructType,
                         sc: SparkContext, conf: Configuration)
  extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write =
    new PointsWrite(path, schema, doTruncate, sc, conf)
}

class PointsWrite(path: String, schema: StructType, truncate: Boolean,
                  sc: SparkContext, conf: Configuration)
  extends Write {
  require(schema.fields.length == 1 && (schema.fields(0).dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }), s"points sink expects a single array<double> column, got: $schema")

  override def toBatch: BatchWrite =
    new PointsBatchWrite(path, truncate, sc, conf)
}

class PointsBatchWrite(path: String, truncate: Boolean,
                       sc: SparkContext, conf: Configuration) extends BatchWrite {

  /** Per-JOB id baked into every file name: taskId/partitionId are only
    * unique within one Spark application, so an append from a LATER
    * application would otherwise collide with existing part files
    * (rename fails, or worse silently replaces) — the same reason the
    * built-in file sources stamp a job UUID. */
  private val jobId =
    java.util.UUID.randomUUID().toString.replace("-", "").take(8)

  /** Driver-side: clear on truncate, ensure the directory exists. */
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (truncate && fs.exists(p)) fs.delete(p, true)
    fs.mkdirs(p)
    PointsWriterFactory(path, jobId, ConfBroadcast(sc, conf))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // same captured conf as the factory: spark.hadoop.* settings
    // (fs.defaultFS, object-store credentials) must resolve the marker
    // on the SAME filesystem as the data files
    val p = new Path(path, "_SUCCESS")
    val fs = p.getFileSystem(conf)
    fs.create(p, true).close()
  }

  /** Task-level abort already removed in-progress files; nothing global
    * to roll back (committed files are task-atomic renames). */
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

final case class PointsWriterFactory(path: String, jobId: String,
                                     conf: Broadcast[SerializableConfiguration])
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new PointsDataWriter(path, jobId, partitionId, taskId, conf.value.value)
}

final case class PointsCommit(file: String) extends WriterCommitMessage

class PointsDataWriter(dir: String, jobId: String, partitionId: Int,
                       taskId: Long, conf: Configuration)
  extends DataWriter[InternalRow] {

  private val finalPath =
    new Path(dir, f"part-$partitionId%05d-$taskId-$jobId")
  private val tmpPath =
    new Path(dir, f".part-$partitionId%05d-$taskId-$jobId.inprogress")
  private val fs = tmpPath.getFileSystem(conf)
  private val writer = new java.io.BufferedWriter(
    new java.io.OutputStreamWriter(fs.create(tmpPath, true),
      java.nio.charset.StandardCharsets.UTF_8))

  override def write(row: InternalRow): Unit = {
    // the format has no null representation: fail the task with a clear
    // message instead of NPE-ing (null array) or silently writing 0.0
    // (null element — getDouble on a null slot returns 0.0)
    if (row.isNullAt(0))
      throw new IllegalArgumentException(
        "points sink: null point array (the text format has no null form)")
    val arr = row.getArray(0)
    val n = arr.numElements()
    val sb = new java.lang.StringBuilder("<")
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i))
        throw new IllegalArgumentException(
          s"points sink: null element at index $i (no null form)")
      if (i > 0) sb.append(", ")
      sb.append(java.lang.Double.toString(arr.getDouble(i)))
      i += 1
    }
    sb.append(">\n")
    writer.write(sb.toString)
  }

  override def commit(): WriterCommitMessage = {
    writer.close()
    if (!fs.rename(tmpPath, finalPath))
      throw new java.io.IOException(s"points sink: rename failed for $finalPath")
    PointsCommit(finalPath.toString)
  }

  override def abort(): Unit = {
    writer.close()
    fs.delete(tmpPath, false)
    ()
  }

  override def close(): Unit = ()
}
