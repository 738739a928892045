package graft.kmeans

import java.io.{BufferedWriter, IOException, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** I/O parity with the reference's text formats (FIXTURES.md §A).
  *
  * Input: one point per line, `<x1, x2, …, xd>` — parser semantics of
  * `KMeans.parsePoint` (/root/reference/kmeans/.../KMeans.java:261-274):
  * strip angle brackets, split on comma+whitespace, parse as double.
  * [[readPoints]] parses through the DSv2 `points` source;
  * [[readPointsText]] is the same parse in built-in string expressions.
  *
  * Output: `clusterId TAB <c1, c2, …>` — the reference's reducer output
  * (KMeans.java:90,150), written on the driver as one part file
  * ([[writeCentroids]]). We do NOT reproduce the reference driver's
  * `substring(0,1)` id re-parse (KMeans.java:232), which silently breaks
  * k > 10 — documented quirk, not semantics.
  */
object PointsIO {

  /** Read a reference-format points file → DataFrame[point: array<double>]
    * through the first-class DSv2 source (graft.sources.PointsDataSource):
    * line-aligned byte-range splits, pruning-aware reader. Malformed
    * lines are fatal (parseDouble), matching the reference's
    * NumberFormatException behavior (KMeans.java:269). */
  def readPoints(spark: SparkSession, path: String): DataFrame =
    spark.read.format("points").load(path)

  /** The pre-DSv2 built-in-expression parse of the same format (kept:
    * it is the pattern for ad-hoc text formats without a connector). */
  def readPointsText(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .where(length(trim(col("value"))) > 0)
      .select(
        split(regexp_replace(col("value"), "[<>]", ""), ",\\s*")
          .cast("array<double>").as("point"))

  /** Write centroids as the reference's `id\t<coords>` text lines, id =
    * array index, into `path` as ONE file `part-00000`, on the driver
    * through the session's Hadoop `FileSystem` (k lines need no Spark
    * job). Coordinates print with `java.lang.Double.toString`, the text
    * Spark's double-to-string cast gives, so read-back is value-exact.
    * Overwrites `path`; the lines go to a hidden in-progress file that
    * is renamed into place, then `_SUCCESS` is written, so a reader
    * never sees a partial file. */
  def writeCentroids(spark: SparkSession, centroids: Seq[Array[Double]],
                     path: String): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(dir)) fs.delete(dir, true)
    fs.mkdirs(dir)
    val tmp = new Path(dir, ".part-00000.inprogress")
    val out = new BufferedWriter(new OutputStreamWriter(fs.create(tmp, true), UTF_8))
    try centroids.zipWithIndex.foreach { case (c, i) =>
      out.write(s"$i\t${c.mkString("<", ", ", ">")}\n")
    } finally out.close()
    if (!fs.rename(tmp, new Path(dir, "part-00000")))
      throw new IOException(s"centroid write: rename failed in $path")
    fs.create(new Path(dir, "_SUCCESS"), true).close()
  }

  /** Read centroids written by [[writeCentroids]] (or by the reference's
    * reducer) back into (cluster, centroid) rows — full-width id parse,
    * no k≤10 limit. */
  def readCentroids(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .where(length(trim(col("value"))) > 0)
      .select(
        split(col("value"), "\t").getItem(0).cast("int").as("cluster"),
        split(regexp_replace(split(col("value"), "\t").getItem(1), "[<>]", ""),
          ",\\s*").cast("array<double>").as("centroid"))
}
