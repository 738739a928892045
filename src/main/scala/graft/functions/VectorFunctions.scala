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
  * `sqDist` is Point.distance (Point.java:47-55) before its square root.
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

  /** ‖a‖₂ */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))

  /** Cast an array<float> (parquet `list<float>`) to array<double>; the
    * reference computes in double throughout (Point.java:12). */
  def toDoubleVec(c: Column): Column = c.cast("array<double>")
}
