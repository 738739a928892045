package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expressions.CellTree
import graft.kmeans.KMeansOps

/** Reference forms and seams the specs check engine code against:
  * driver-side and built-ins-only twins of native expressions, a
  * training diagnostic, and a bare plan for the plan spec. */
object OperatorReferences {

  /** Nearest `n` cell ids for one vector — driver-side reference
    * implementation (same argmin + lowest-index tie-break as the
    * distributed path; OperatorsSpec asserts agreement). */
  def probeCells(cents: Array[Array[Double]], v: Array[Double],
                 n: Int): Seq[Int] =
    cents.iterator.zipWithIndex.map { case (c, i) =>
      val d = c.iterator.zip(v.iterator)
        .map { case (x, y) => (x - y) * (x - y) }.sum
      (d, i)
    }.toSeq.sortBy(identity).take(n).map(_._2)

  /** Driver-side twin of [[CellRouting.probe]]: the flat scan below
    * [[CellTree.Branch]] cells, the beam tree above. */
  def probeDriver(cents: Array[Array[Double]], v: Array[Double],
                  n: Int): Seq[Int] =
    if (cents.length <= CellTree.Branch) probeCells(cents, v, n)
    else CellTree.build(cents).routeArray(v, n).toIndexedSeq

  /** The declarative composition the native
    * [[graft.expressions.ProbeCells]] replaced (per-cell distances zip
    * with indices, struct-sort, slice n) — the built-ins-only
    * reference the native expression is asserted bitwise-equal to
    * (OperatorsSpec), the same contract pairing as
    * assignDyn/NearestCentroid. */
  def probeCellsColDeclarative(
      vec: Column, cents: Array[Array[Double]], n: Int): Column = {
    val ds = KMeansOps.distancesDyn(vec, cents)
    transform(
      slice(array_sort(zip_with(ds,
        sequence(lit(0), lit(cents.length - 1)),
        (d, i) => struct(d.as("d"), i.as("cid")))), 1, n),
      s => s.getField("cid"))
  }

  /** Training diagnostic (the FAISS `index.train()` stats idiom):
    * corpus-average residual reconstruction error under the seed
    * codebook vs the Lloyd-trained one. The k-means objective is
    * monotone under exact arithmetic, so trained < seed is the
    * direct witness that [[Similarity.trainResidualCodebook]]
    * optimizes what it claims — spec-pinned, because the
    * top-k-sampled |adc − true| metric is selection-biased (ranking
    * by ADC favors underestimates) and CANNOT certify training. */
  def residualTrainingGain(spark: SparkSession,
      dir: String): (Double, Double) = {
    import Similarity._
    val spark2 = spark
    import spark2.implicits._
    val cents = trainedCoarseCentroids(spark, dir)
    val centDf = broadcast(cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("c_cl", "cent"))
    val assigned = CellRouting.assign(emb(spark, dir), "v", cents)
      .join(centDf, col("cluster") === col("c_cl"))
      .withColumn("r", zip_with(col("v"), col("cent"), (a, b) => a - b))
      .drop("c_cl", "cent")
    val ck = cents.length
    val seedRs = assigned
      .where(col("vec_id") >= ck && col("vec_id") < ck + PqKsub)
      .select(col("vec_id"), col("r")).collect()
      .sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)
    val seed = Array.tabulate(PqM)(m =>
      seedRs.map(_.slice(m * PqSubDim, (m + 1) * PqSubDim)))
    def distortion(cb: Array[Array[Array[Double]]]): Double =
      withBlockDists(assigned, "r", cb, "ds_")
        .select(sqrt((0 until PqM).map(m => array_min(col(s"ds_$m")))
          .reduce(_ + _)).as("e"))
        .agg(avg(col("e"))).collect()(0).getDouble(0)
    (distortion(seed), distortion(trainResidualCodebook(assigned, seed)))
  }

  /** The joined-but-unaggregated frame of `q_bucketed_join`, so the
    * plan spec can assert the exchange-free join shape in isolation. */
  def bucketedJoinPlan(spark: SparkSession, dir: String): DataFrame = {
    import RelationalQueries.{bucketedName, bucketedTables}
    bucketedTables(spark, dir)
    spark.table(bucketedName(dir, "lineitem"))
      .join(spark.table(bucketedName(dir, "orders")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("o_orderstatus"), col("l_extendedprice"))
  }
}
