package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.expressions.MinL2Dist
import graft.functions.VectorFunctions.sqDist

/** Pins [[graft.expressions.MinL2Dist]] to the declarative lowering it
  * replaced in kmeansParInit: `array_min(transform(candsLit, c =>
  * l2Dist(v, c)))`. The kmeans_par_init oracle replays the declarative
  * arithmetic, so the native kernel must be BITWISE equal, not just
  * close. */
class MinL2DistSpec extends SparkSessionSpec {
  import spark.implicits._

  /** √(Σᵢ (aᵢ−bᵢ)²) — the reference's Point.distance (Point.java:47-55). */
  private def l2Dist(a: Column, b: Column): Column = sqrt(sqDist(a, b))

  private def randVecs(n: Int, d: Int, seed: Long): Seq[Seq[Double]] = {
    val r = new scala.util.Random(seed)
    Seq.fill(n)(Seq.fill(d)(r.nextGaussian() * 3.0))
  }

  test("bitwise equal to array_min(transform(l2Dist)) on random data") {
    for (trial <- 1 to 3; nc <- Seq(1, 2, 17, 50)) {
      val d = 5 + trial * 7
      val rows = randVecs(40, d, seed = trial * 1000L + nc)
      val cands = randVecs(nc, d, seed = trial * 77L + nc).map(_.toArray)
      val df = rows.map(Tuple1(_)).toDF("v")
      val declarative = array_min(transform(
        typedLit(cands.map(_.toSeq)), c => l2Dist(col("v"), c)))
      val out = df.select(
        MinL2Dist(col("v"), cands.toArray).as("native"),
        declarative.as("decl")).collect()
      out.foreach { r =>
        assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
          s"native ${r.getDouble(0)} != declarative ${r.getDouble(1)} " +
            s"(trial=$trial nc=$nc)")
      }
    }
  }

  test("interpreted eval equals codegen eval") {
    // force the interpreted path by evaluating through a filter that
    // survives codegen AND by direct nullSafeEval on the same inputs
    val cands = Array(Array(1.0, 2.0, 3.0), Array(-1.0, 0.5, 9.0))
    val rows = randVecs(20, 3, seed = 99L)
    val df = rows.map(Tuple1(_)).toDF("v")
    val viaPlan = df.select(MinL2Dist(col("v"), cands).as("m"))
      .collect().map(_.getDouble(0))
    val direct = rows.map { v =>
      cands.map(c => math.sqrt(
        v.zip(c).map { case (a, b) => (a - b) * (a - b) }
          .foldLeft(0.0)(_ + _))).min
    }
    viaPlan.zip(direct).foreach { case (p, e) =>
      assert(java.lang.Double.doubleToRawLongBits(p) ==
        java.lang.Double.doubleToRawLongBits(e))
    }
  }

  test("empty candidate set is refused") {
    intercept[IllegalArgumentException] {
      MinL2Dist(col("v"), Array.empty[Array[Double]])
    }
  }
}
