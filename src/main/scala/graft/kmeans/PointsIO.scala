package graft.kmeans

import java.io.IOException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** I/O parity with the reference's text formats (FIXTURES.md §A).
  *
  * Input: one point per line, `<x1, x2, …, xd>` — parser semantics of
  * `KMeans.parsePoint` (/root/reference/kmeans/.../KMeans.java:261-274):
  * strip angle brackets, split on comma+whitespace, parse as double.
  * [[readPoints]] parses through the DSv2 `points` source.
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

  /** Write centroids as the reference's `id\t<coords>` text lines, id =
    * array index, into `path` as ONE file `part-00000`, on the driver
    * (k lines need no Spark job). Coordinates print with
    * `java.lang.Double.toString`, the text Spark's double-to-string cast
    * gives, so read-back is value-exact. Overwrites `path`; the lines go
    * to a hidden in-progress file that is renamed into place, then
    * `_SUCCESS` is written, so a reader never sees a partial file. A
    * local path is written through `java.nio.file` ([[writeLocal]]);
    * any other scheme (HDFS, S3, …) through the session's Hadoop
    * `FileSystem` ([[writeHadoop]]), with the same files and bytes. */
  def writeCentroids(spark: SparkSession, centroids: Seq[Array[Double]],
                     path: String): Unit = {
    val bytes = centroids.zipWithIndex.map { case (c, i) =>
      s"$i\t${c.mkString("<", ", ", ">")}\n"
    }.mkString.getBytes(UTF_8)
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(dir)) fs.delete(dir, true)
    val qualified = fs.makeQualified(dir)
    if (qualified.toUri.getScheme == "file")
      writeLocal(Paths.get(qualified.toUri), bytes)
    else writeHadoop(fs, qualified, bytes)
  }

  /** [[writeCentroids]]' files in an absent local directory. Hadoop's
    * local file system forks `chmod` for each directory and file it
    * makes (a file's checksum file too) when the native Hadoop library
    * is missing; `java.nio.file` makes them with no process. */
  private[kmeans] def writeLocal(dir: java.nio.file.Path,
                                 bytes: Array[Byte]): Unit = {
    Files.createDirectories(dir)
    val tmp = Files.write(dir.resolve(".part-00000.inprogress"), bytes)
    Files.move(tmp, dir.resolve("part-00000"), StandardCopyOption.ATOMIC_MOVE)
    Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
  }

  /** [[writeCentroids]]' files in an absent directory of `fs`. */
  private[kmeans] def writeHadoop(fs: FileSystem, dir: Path,
                                  bytes: Array[Byte]): Unit = {
    fs.mkdirs(dir)
    val tmp = new Path(dir, ".part-00000.inprogress")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    if (!fs.rename(tmp, new Path(dir, "part-00000")))
      throw new IOException(s"centroid write: rename failed in $dir")
    fs.create(new Path(dir, "_SUCCESS"), true).close()
  }
}
