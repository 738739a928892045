package graft.kmeans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** The decomposed k-means operators, each a pure DataFrame→DataFrame
  * transform built from Spark built-ins (no UDFs, no RDDs).
  *
  * Reference semantics reproduced exactly
  * (citations into /root/reference/kmeans/src/main/java/it/unipi/hadoop/):
  *  - nearest centroid = linear argmin with STRICT `<` comparison, so ties
  *    go to the lowest index (Point.java:57-71, the `<` at Point.java:65);
  *  - per-cluster partial aggregate = (vector sum, count)
  *    ("ClusteringFeature", ClusteringFeature.java:7-9) — in Spark this is
  *    the automatic partial/final split of HashAggregateExec, which is the
  *    same map-side-combine the reference hand-rolls in its in-mapper
  *    combiner (KMeans.java:36-67);
  *  - new centroid = sum / count (ClusteringFeature.java:60-70);
  *  - convergence error = Σᵢ ‖cᵢ_new − cᵢ_old‖₂ (KMeans.java:206-213).
  *
  * The centroid set (k·d doubles) is tiny and travels as *literals* baked
  * into the plan — the Spark analogue of the reference shipping centroids
  * through the Hadoop `Configuration` (KMeans.java:152-157). Catalyst
  * constant-folds them into straight-line codegen arithmetic; at 1000
  * executors this broadcasts with the task binary, costing nothing.
  */
object KMeansOps {

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

  /** points + `cluster` column. vecCol must be array<double>. */
  def assign(points: DataFrame, vecCol: String,
             centroids: Array[Array[Double]]): DataFrame =
    points.withColumn("cluster", nearestCentroid(col(vecCol), centroids))

  /** Distances to each centroid with the centroid set as a single
    * `typedLit` reference object — small generated code regardless of
    * k·d (the unrolled [[distances]] splices k·d literals into the
    * source, which Janino compiles slowly and which defeats the codegen
    * cache across centroid updates). Bitwise-identical results: the
    * fold order of [[graft.functions.VectorFunctions.sqDist]] equals the
    * unrolled left-associated sum. */
  def distancesDyn(vec: Column, centroids: Array[Array[Double]]): Column =
    transform(typedLit(centroids.map(_.toSeq).toSeq), c => sqDist(vec, c))

  /** Codegen-cache-stable variant for the ITERATIVE path: the centroid
    * set enters the plan as one `typedLit` array-of-arrays, which codegen
    * attaches as a reference object instead of splicing k·d literals into
    * the generated source. The generated code is therefore byte-identical
    * across iterations and Spark's codegen cache hits — the unrolled
    * [[nearestCentroid]] recompiles ~1 s of Janino per iteration because
    * every new centroid value yields new source. */
  def assignDyn(points: DataFrame, vecCol: String,
                centroids: Array[Array[Double]]): DataFrame = {
    val ds = distancesDyn(col(vecCol), centroids)
    points.withColumn("cluster",
      (array_position(ds, array_min(ds)) - 1).cast("int"))
  }

  /** Per-cluster (vector sum, count) — the ClusteringFeature aggregate.
    * Expressed as d per-dimension `sum`s so the whole thing is one
    * codegen'd HashAggregate (partial → shuffle-by-cluster → final):
    * shuffle traffic is k·d doubles per partition, independent of n,
    * identical in shape to the reference's in-mapper combiner
    * (KMeans.java:64-67) but without its always-emit-k-empty-CFs quirk —
    * absent clusters simply produce no row and are handled by
    * [[KMeansRunner]]'s empty-cluster policy. */
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

  /** Dimension above which [[lloydRound]] switches from the d-expression
    * [[summarize]] to the single-buffer [[summarizeTyped]]. */
  val MaxUnrolledDim = 128

  /** Large-d variant of [[summarize]]: one typed Aggregator buffer
    * ([[VectorSumAgg]]) instead of d per-dimension sum expressions —
    * plan size O(1) in d, same partial/final split. */
  def summarizeTyped(assigned: DataFrame, vecCol: String): DataFrame =
    assigned
      .groupBy(col("cluster"))
      .agg(VectorSumAgg.vecSum(col(vecCol)).as("sc"))
      .select(col("cluster"), col("sc.sum").as("vec_sum"),
        col("sc.n").as("n"))

  /** Fastest assignment path: the native codegen expression
    * [[graft.expressions.NearestCentroid]] — primitive loops, zero
    * per-row allocation, codegen-cache-stable. Identical semantics to
    * [[assign]]/[[assignDyn]] (asserted in KMeansSpec). */
  def assignNative(points: DataFrame, vecCol: String,
                   centroids: Array[Array[Double]]): DataFrame =
    points.withColumn("cluster",
      graft.expressions.NearestCentroid(col(vecCol), centroids))

  /** One full Lloyd round as a DataFrame: [[assignNative]] + summarize +
    * mean.
    * Output: (cluster, centroid: array<double>, n). Absent (empty)
    * clusters yield no row — no Double.MAX_VALUE sentinel
    * (ClusteringFeature.java:64-67); see KMeansRunner for the policy. */
  def lloydRound(points: DataFrame, vecCol: String,
                 centroids: Array[Array[Double]]): DataFrame = {
    val dim = centroids.head.length
    val assigned = assignNative(points, vecCol, centroids)
    val summarized =
      if (dim > MaxUnrolledDim) summarizeTyped(assigned, vecCol)
      else summarize(assigned, vecCol, dim)
    summarized
      .select(col("cluster"),
        vecScale(col("vec_sum"), col("n")).as("centroid"),
        col("n"))
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
