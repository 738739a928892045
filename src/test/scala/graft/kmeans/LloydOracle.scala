package graft.kmeans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The Lloyd round as a DataFrame — assign, per-cluster (vector sum,
  * count) through Spark's partial/final hash aggregate, mean — and its
  * alternate assignment lowerings: the references the specs check
  * [[LloydKernel.round]] and [[KMeansOps.assignDyn]] against.
  *
  * The aggregate is the reference's "ClusteringFeature"
  * (ClusteringFeature.java:7-9); the partial/final split of
  * HashAggregateExec is the map-side combine the reference hand-rolls
  * in its in-mapper combiner (KMeans.java:36-67); the mean is
  * sum / count (ClusteringFeature.java:60-70).
  */
object LloydOracle {

  /** Squared distance from a vector column to a *literal* centroid,
    * unrolled at plan-build time: Σ (vᵢ − cᵢ)² as a flat sum expression. */
  def sqDistToLiteral(v: Column, centroid: Array[Double]): Column = {
    val terms = centroid.iterator.zipWithIndex.map { case (c, i) =>
      val d = element_at(v, i + 1) - lit(c)
      d * d
    }
    terms.reduce(_ + _)
  }

  /** Distances from `vec` to each centroid, as one array column.
    * Unrolled per-centroid literal math — no array-of-struct shuffle of
    * the centroid table, no join. */
  def distances(vec: Column, centroids: Array[Array[Double]]): Column =
    array(centroids.toIndexedSeq.map(c => sqDistToLiteral(vec, c)): _*)

  /** Index (0-based) of the nearest centroid; ties → lowest index.
    * `array_position` returns the FIRST occurrence (1-based) of the min,
    * which is exactly the reference's strict-`<` scan (Point.java:65). */
  def nearestCentroid(vec: Column, centroids: Array[Array[Double]]): Column = {
    val ds = distances(vec, centroids)
    (array_position(ds, array_min(ds)) - 1).cast("int")
  }

  /** points + `cluster` column, through the unrolled literal distances.
    * vecCol must be array<double>. */
  def assign(points: DataFrame, vecCol: String,
             centroids: Array[Array[Double]]): DataFrame =
    points.withColumn("cluster", nearestCentroid(col(vecCol), centroids))

  /** points + `cluster` column, through the native codegen expression
    * [[graft.expressions.NearestCentroid]]. */
  def assignNative(points: DataFrame, vecCol: String,
                   centroids: Array[Array[Double]]): DataFrame =
    points.withColumn("cluster",
      graft.expressions.NearestCentroid(col(vecCol), centroids))

  /** a / s for scalar column s (the reference's Point.scale). */
  def vecScale(a: Column, s: Column): Column = transform(a, x => x / s)

  /** Per-cluster (vector sum, count), as d per-dimension `sum`s in one
    * codegen'd HashAggregate (partial → shuffle-by-cluster → final).
    * Absent clusters produce no row. */
  def summarize(assigned: DataFrame, vecCol: String, dim: Int): DataFrame = {
    val sums = (0 until dim).map(i =>
      sum(element_at(col(vecCol), i + 1)).as(s"s$i"))
    assigned
      .groupBy(col("cluster"))
      .agg(sums.head, sums.tail :+ count(lit(1)).as("n"): _*)
      .select(col("cluster"),
        array((0 until dim).map(i => col(s"s$i")): _*).as("vec_sum"),
        col("n"))
  }

  /** One full Lloyd round: [[assignNative]] + [[summarize]] + mean.
    * Output: (cluster, centroid: array<double>, n). Absent (empty)
    * clusters yield no row — no Double.MAX_VALUE sentinel
    * (ClusteringFeature.java:64-67). */
  def lloydRound(points: DataFrame, vecCol: String,
                 centroids: Array[Array[Double]]): DataFrame = {
    val dim = centroids.head.length
    summarize(assignNative(points, vecCol, centroids), vecCol, dim)
      .select(col("cluster"),
        vecScale(col("vec_sum"), col("n")).as("centroid"),
        col("n"))
  }
}
