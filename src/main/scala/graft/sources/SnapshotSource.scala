package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.{Dataset, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The snapshot table as a FIRST-CLASS Spark relation — the
  * Delta/Iceberg architecture (a `HadoopFsRelation` over a custom
  * [[FileIndex]] that resolves a MANIFEST instead of listing a
  * directory), so a snapshot read is a plain DataFrame on Spark's own
  * vectorized parquet reader, and manifest-level data skipping happens
  * inside normal query planning:
  *
  * {{{
  * spark.read.format("graft-snapshot")
  *   .option("version", 3)            // omit → latest
  *   .option("statsColumn", "doc_id") // the column commits stats-keyed
  *   .load(root)
  *   .where(col("doc_id").between(lo, hi))   // prunes FILE SETS
  * }}}
  *
  * `FileSourceStrategy` hands the query's data filters to
  * [[SnapshotFileIndex.listFiles]]; bounds on `statsColumn` prune
  * manifest entries by min/max range (and, for equality, by the
  * per-set key bloom) BEFORE any file is opened — the same decision
  * [[SnapshotTable.readPruned]]/`readPoint` make imperatively, now
  * driven by the query predicate itself. Everything below the skip is
  * stock Spark: parquet row-group pruning, `PushedFilters`, column
  * pruning, whole-stage codegen. Pruning is CONSERVATIVE — filters
  * it cannot decode, sets without stats, or a missing `statsColumn`
  * option skip nothing, so it can only cut work, never rows.
  *
  * Schema is resolved from the manifest once at planning time (the
  * additive-evolution union [[SnapshotTable.read]] defines); sets
  * predating a column null-fill it through the parquet reader's
  * missing-column path. At 100 TB the index is O(file sets) driver
  * rows — the listing never touches data.
  */
class SnapshotSource extends RelationProvider
  with CreatableRelationProvider with DataSourceRegister {

  override def shortName(): String = "graft-snapshot"

  /** The matching WRITE path — a snapshot COMMIT through the standard
    * writer API:
    *
    * {{{
    * df.write.format("graft-snapshot")
    *   .mode("append")                  // append → new version;
    *                                    // overwrite → replace table
    *   .option("statsColumn", "doc_id") // optional: record skipping
    *   .save(root)                      //   stats + key bloom
    * }}}
    *
    * `Append` publishes a version carrying the previous sets plus this
    * batch; `Overwrite` publishes one referencing only this batch
    * (earlier versions stay readable — time travel is never
    * destructive). `ErrorIfExists`/`Ignore` apply their standard
    * contract against table existence. The commit inherits the
    * store's guarantees: data written once to a fresh set, manifest
    * renamed in atomically, losers of a concurrent race fail clean. */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: Dataset[Row]): BaseRelation = {
    val opts = new CaseInsensitiveStringMap(
      scala.jdk.CollectionConverters.MapHasAsJava(parameters).asJava)
    val root = Option(opts.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-snapshot requires a path: df.write.format(\"graft-snapshot\").save(root)"))
    val spark = sqlContext.sparkSession
    val statsColumn = Option(opts.get("statsColumn"))
    val exists = SnapshotTable.latestVersion(spark, root).isDefined
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(
          s"snapshot table already exists at $root (mode ErrorIfExists)")
      case SaveMode.Ignore if exists => ()
      case m =>
        SnapshotTable.commit(spark, root, data,
          append = m == SaveMode.Append, statsKey = statsColumn)
    }
    SnapshotSource.relationFor(spark, root,
      SnapshotTable.latestVersion(spark, root).get, statsColumn)
  }

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val opts = new CaseInsensitiveStringMap(
      scala.jdk.CollectionConverters.MapHasAsJava(parameters).asJava)
    val root = Option(opts.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-snapshot requires a path: spark.read.format(\"graft-snapshot\").load(root)"))
    val spark = sqlContext.sparkSession
    val version = Option(opts.get("version")).map(_.toInt).getOrElse(
      SnapshotTable.latestVersion(spark, root).getOrElse(
        throw new IllegalStateException(s"no versions published at $root")))
    SnapshotSource.relationFor(spark, root, version,
      Option(opts.get("statsColumn")))
  }
}

object SnapshotSource {

  /** The `HadoopFsRelation` for one published version — shared by the
    * format above and [[SnapshotTable.readIndexed]]. */
  private[sources] def relationFor(spark: SparkSession, root: String,
                                   version: Int,
                                   statsColumn: Option[String]): HadoopFsRelation = {
    val index = new SnapshotFileIndex(spark, root, version, statsColumn)
    // manifest-resolved schema (additive-evolution union order), read
    // once at planning time from one footer per file set
    val schema = SnapshotTable.read(spark, root, version).schema
    HadoopFsRelation(index, new StructType(), schema, None,
      new ParquetFileFormat, Map.empty)(spark)
  }
}

/** Manifest-backed [[FileIndex]]: the file listing IS the chosen
  * version's manifest, and `listFiles` prunes whole file sets with the
  * manifest's min/max stats (range predicates) and key blooms
  * (equality) before Spark opens anything. Immutable by construction —
  * a published manifest never changes, so `refresh` is a no-op and a
  * resolved plan can never see a concurrent commit. */
final class SnapshotFileIndex(spark: SparkSession, root: String,
                              version: Int, statsColumn: Option[String])
  extends FileIndex {

  private val entries: Seq[SnapshotTable.Entry] =
    SnapshotTable.manifestEntries(spark, root, version)
  require(entries.nonEmpty, s"version $version not published at $root")
  // a plain file scan cannot apply merge-on-read delete vectors; a
  // relation over a MOR table would silently resurrect deleted rows
  require(entries.forall(_.kind == "data"),
    s"version $version at $root carries merge-on-read deletes — " +
      "materializeDeletes first, or read via SnapshotTable.read")

  /** Data files of one manifest entry (visible parquet parts only). */
  private def filesOf(e: SnapshotTable.Entry): Seq[FileStatus] = {
    val p = new Path(SnapshotTable.resolveDir(root, e.dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && n.endsWith(".parquet") &&
        !n.startsWith("_") && !n.startsWith(".")
    }
  }

  private lazy val allFiles: Seq[FileStatus] = entries.flatMap(filesOf)

  override def rootPaths: Seq[Path] = Seq(new Path(root))

  override def partitionSchema: StructType = new StructType()

  override def sizeInBytes: Long = allFiles.map(_.getLen).sum

  override def inputFiles: Array[String] =
    allFiles.map(_.getPath.toString).toArray

  override def refresh(): Unit = () // manifests are immutable

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val hit = statsColumn match {
      case Some(c) => prune(dataFilters, c)
      case None => entries
    }
    Seq(PartitionDirectory(InternalRow.empty, hit.flatMap(filesOf).toArray))
  }

  /** Conservative manifest pruning from catalyst predicates: collect
    * per-column [lo, hi] bounds (strict comparisons relaxed to
    * inclusive — still a superset) and equality points, keep every
    * entry whose recorded ranges intersect and whose bloom (point
    * case on the primary key) might contain the key. The PRIMARY test
    * uses `statsColumn` bounds against min/max (+ bloom); a
    * [[SnapshotTable.rewriteZorder]] entry also carries a SECOND
    * column's envelope (`key2`/`minKey2`/`maxKey2`), tested against
    * that column's bounds — so after a z rewrite a 2-D box predicate
    * prunes on both dimensions straight from the query plan. Unknown
    * filter shapes contribute no bounds; entries without stats for a
    * dimension are kept on that dimension. */
  private def prune(filters: Seq[Expression],
                    c: String): Seq[SnapshotTable.Entry] = {
    // bounds per lowercased column name
    val lo = scala.collection.mutable.Map.empty[String, Long]
    val hi = scala.collection.mutable.Map.empty[String, Long]
    var pt: Option[Long] = None
    def nameOf(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name.toLowerCase)
      case _ => None
    }
    def longOf(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case _ => None
    }
    def raiseLo(k: String, x: Long): Unit =
      lo.update(k, lo.get(k).fold(x)(_ max x))
    def lowerHi(k: String, x: Long): Unit =
      hi.update(k, hi.get(k).fold(x)(_ min x))
    def walk(e: Expression): Unit = e match {
      case And(l, r) => walk(l); walk(r)
      case EqualTo(a, Literal(v, _)) if nameOf(a).isDefined =>
        for (k <- nameOf(a); x <- longOf(v)) {
          if (k == c.toLowerCase) pt = Some(x)
          raiseLo(k, x); lowerHi(k, x)
        }
      case EqualTo(Literal(v, _), a) if nameOf(a).isDefined =>
        for (k <- nameOf(a); x <- longOf(v)) {
          if (k == c.toLowerCase) pt = Some(x)
          raiseLo(k, x); lowerHi(k, x)
        }
      case GreaterThanOrEqual(a, Literal(v, _)) if nameOf(a).isDefined =>
        for (k <- nameOf(a); x <- longOf(v)) raiseLo(k, x)
      case GreaterThan(a, Literal(v, _)) if nameOf(a).isDefined =>
        for (k <- nameOf(a); x <- longOf(v)) raiseLo(k, x)
      case LessThanOrEqual(a, Literal(v, _)) if nameOf(a).isDefined =>
        for (k <- nameOf(a); x <- longOf(v)) lowerHi(k, x)
      case LessThan(a, Literal(v, _)) if nameOf(a).isDefined =>
        for (k <- nameOf(a); x <- longOf(v)) lowerHi(k, x)
      case GreaterThanOrEqual(Literal(v, _), a) if nameOf(a).isDefined =>
        for (k <- nameOf(a); x <- longOf(v)) lowerHi(k, x) // v >= key
      case GreaterThan(Literal(v, _), a) if nameOf(a).isDefined =>
        for (k <- nameOf(a); x <- longOf(v)) lowerHi(k, x)
      case LessThanOrEqual(Literal(v, _), a) if nameOf(a).isDefined =>
        for (k <- nameOf(a); x <- longOf(v)) raiseLo(k, x) // v <= key
      case LessThan(Literal(v, _), a) if nameOf(a).isDefined =>
        for (k <- nameOf(a); x <- longOf(v)) raiseLo(k, x)
      case _ => () // unknown shape: contributes no pruning
    }
    filters.foreach(walk)
    def intersects(k: String, mn: Option[Long], mx: Option[Long]): Boolean =
      (mn, mx) match {
        case (Some(a), Some(b)) =>
          b >= lo.getOrElse(k, Long.MinValue) &&
            a <= hi.getOrElse(k, Long.MaxValue)
        case _ => true // no stats: must read
      }
    entries.filter { e =>
      val primary = intersects(c.toLowerCase, e.minKey, e.maxKey)
      val secondary = e.key2.forall(k2 =>
        intersects(k2.toLowerCase, e.minKey2, e.maxKey2))
      primary && secondary && pt.forall(k => e.keyBloom.forall(b =>
        org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(b))
          .mightContainLong(k)))
    }
  }
}
