package graft.kmeans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Built-in string-expression parses of the reference's text formats
  * (FIXTURES.md §A): the references the specs check the DSv2 `points`
  * source and [[PointsIO.writeCentroids]] against. */
object PointsText {

  /** Points file → DataFrame[point: array<double>]: strip angle
    * brackets, split on comma+whitespace, cast to double; blank lines
    * skipped. */
  def readPointsText(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .where(length(trim(col("value"))) > 0)
      .select(
        split(regexp_replace(col("value"), "[<>]", ""), ",\\s*")
          .cast("array<double>").as("point"))

  /** Read centroids written by [[PointsIO.writeCentroids]] (or by the
    * reference's reducer) back into (cluster, centroid) rows —
    * full-width id parse, no k≤10 limit. */
  def readCentroids(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .where(length(trim(col("value"))) > 0)
      .select(
        split(col("value"), "\t").getItem(0).cast("int").as("cluster"),
        split(regexp_replace(split(col("value"), "\t").getItem(1), "[<>]", ""),
          ",\\s*").cast("array<double>").as("centroid"))
}
