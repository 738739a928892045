package graft.kmeans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** The DataFrame k-means operators the queries plan with: assignment
  * and the convergence test. The Lloyd round itself (assign, per-cluster
  * (vector sum, count), mean) is [[LloydKernel.round]] — the one round
  * in the engine.
  *
  * Reference semantics reproduced exactly
  * (citations into /root/reference/kmeans/src/main/java/it/unipi/hadoop/):
  *  - nearest centroid = linear argmin with STRICT `<` comparison, so ties
  *    go to the lowest index (Point.java:57-71, the `<` at Point.java:65);
  *  - convergence error = Σᵢ ‖cᵢ_new − cᵢ_old‖₂ (KMeans.java:206-213).
  *
  * The centroid set (k·d doubles) is tiny and travels in the plan — the
  * Spark analogue of the reference shipping centroids through the Hadoop
  * `Configuration` (KMeans.java:152-157).
  */
object KMeansOps {

  /** Distances from `vec` to each centroid, as one array column, with
    * the centroid set as a single `typedLit` reference object — small
    * generated code regardless of k·d, and the same generated source
    * whatever the centroid values, so Spark's codegen cache hits across
    * centroid updates. The fold order of
    * [[graft.functions.VectorFunctions.sqDist]] is left to right. */
  def distancesDyn(vec: Column, centroids: Array[Array[Double]]): Column =
    transform(typedLit(centroids.map(_.toSeq).toSeq), c => sqDist(vec, c))

  /** points + `cluster` (int, 0-based): the index of the nearest
    * centroid. `array_position` returns the FIRST occurrence (1-based)
    * of the min, which is exactly the reference's strict-`<` scan
    * (Point.java:65). vecCol must be array<double>. */
  def assignDyn(points: DataFrame, vecCol: String,
                centroids: Array[Array[Double]]): DataFrame = {
    val ds = distancesDyn(col(vecCol), centroids)
    points.withColumn("cluster",
      (array_position(ds, array_min(ds)) - 1).cast("int"))
  }

  /** Σᵢ ‖cᵢ_new − cᵢ_old‖₂ over index-paired centroids — the reference's
    * `checkTermination` (KMeans.java:206-213). Driver-side: k·d values. */
  def shift(oldC: Array[Array[Double]], newC: Array[Array[Double]]): Double = {
    require(oldC.length == newC.length)
    oldC.iterator.zip(newC.iterator).map { case (a, b) =>
      math.sqrt(a.iterator.zip(b.iterator).map { case (x, y) =>
        (x - y) * (x - y)
      }.sum)
    }.sum
  }
}
