package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<double>` columns, built entirely from Spark's
  * codegen'd higher-order array functions (`zip_with`, `aggregate`,
  * `transform`) — no UDFs, so every expression stays inside
  * WholeStageCodegen and Catalyst can prune/push around it.
  *
  * Semantics mirror the reference's `Point` math
  * (`/root/reference/kmeans/src/main/java/it/unipi/hadoop/Point.java`):
  * `distance` = Point.java:47-55, scalar divide = Point.java:73-76.
  */
object VectorFunctions {

  /** Σᵢ aᵢ·bᵢ — dot product of two equal-length array<double> columns.
    * Lowered to the native fused loop (graft.expressions.DotProduct). */
  def dot(a: Column, b: Column): Column =
    graft.expressions.DotProduct(a, b)

  /** Σᵢ (aᵢ−bᵢ)² — squared Euclidean distance (monotone in distance, so
    * argmin over it equals argmin over the distance itself; avoids sqrt
    * in the hot loop, same trick MLlib uses). */
  def sqDist(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0),
      (acc, x) => acc + x)

  /** √(Σᵢ (aᵢ−bᵢ)²) — the reference's Point.distance (Point.java:47-55). */
  def l2Dist(a: Column, b: Column): Column = sqrt(sqDist(a, b))

  /** ‖a‖₂ */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))

  /** a / s for scalar column s (the reference's Point.scale). */
  def vecScale(a: Column, s: Column): Column = transform(a, x => x / s)

  /** Cast an array<float> (parquet `list<float>`) to array<double>; the
    * reference computes in double throughout (Point.java:12). */
  def toDoubleVec(c: Column): Column = c.cast("array<double>")

  /** Squared distance from a vector column to a *literal* centroid,
    * unrolled at plan-build time: Σ (vᵢ − cᵢ)² as a flat sum expression.
    * For small d this codegens to straight-line arithmetic with zero
    * array allocation — the hot path of k-means assignment. */
  def sqDistToLiteral(v: Column, centroid: Array[Double]): Column = {
    val terms = centroid.iterator.zipWithIndex.map { case (c, i) =>
      val d = element_at(v, i + 1) - lit(c)
      d * d
    }
    terms.reduce(_ + _)
  }
}
