package graft

import org.apache.spark.sql.functions._

import graft.expressions.{GraftExtensions, NearestCentroid, RewriteNearestCentroid}
import graft.kmeans.{KMeansOps, LloydOracle}

/** The optimizer rewrite must lower the declarative argmin shape to the
  * native NearestCentroid expression without changing results. */
class RewriteSpec extends SparkSessionSpec {
  import spark.implicits._

  private val cents = Array(Array(0.0, 0.0), Array(10.0, 10.0))
  private val pts = Seq(Seq(1.0, 1.0), Seq(9.0, 9.0), Seq(5.0, 5.0))

  test("rewrite fires on the declarative assignDyn shape") {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ RewriteNearestCentroid
    try {
      // go through parquet so ConvertToLocalRelation can't pre-evaluate
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val realCents = operators.KMeansQueries.fixedCentroids(spark, sf0001)
      val df = KMeansOps.assignDyn(emb, "v", realCents)
      val optimized = df.queryExecution.optimizedPlan
      val fired = optimized.expressions.exists(_.exists {
        case _: NearestCentroid => true
        case _ => false
      })
      assert(fired, s"rewrite did not fire:\n${optimized.treeString}")
      // results identical to the native form
      val viaRule = df.select("vec_id", "cluster")
        .as[(Long, Int)].collect().toMap
      val native = LloydOracle.assignNative(emb, "v", realCents)
        .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
      assert(viaRule == native)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ == RewriteNearestCentroid)
    }
  }

  test("rewrite leaves non-matching argmin expressions alone") {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ RewriteNearestCentroid
    try {
      // same outer shape but a DIFFERENT fold body (sum, not sq-dist):
      // must NOT be rewritten
      val ds = transform(typedLit(cents.map(_.toSeq).toSeq),
        c => aggregate(zip_with(col("v"), c, (x, y) => x + y),
          lit(0.0), (acc, x) => acc + x))
      val df = pts.toDF("v").withColumn("cluster",
        (array_position(ds, array_min(ds)) - 1).cast("int"))
      val fired = df.queryExecution.optimizedPlan.expressions.exists(_.exists {
        case _: NearestCentroid => true
        case _ => false
      })
      assert(!fired, "rewrite fired on a non-sqdist fold")
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ == RewriteNearestCentroid)
    }
  }

  test("rewrite refuses an EMPTY centroid literal (declarative NULL ≠ native -1)") {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ RewriteNearestCentroid
    try {
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
        .select(col("embedding").cast("array<double>").as("v"))
      val df = KMeansOps.assignDyn(emb, "v", Array.empty[Array[Double]])
      val fired = df.queryExecution.optimizedPlan.expressions.exists(_.exists {
        case _: NearestCentroid => true
        case _ => false
      })
      assert(!fired, "rewrite fired on an empty centroid literal")
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ == RewriteNearestCentroid)
    }
  }

  test("GraftExtensions registers without error") {
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
  }
}
