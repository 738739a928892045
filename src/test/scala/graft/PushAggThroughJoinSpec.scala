package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
import org.apache.spark.sql.functions._

import graft.plans.PushAggThroughJoin

/** Eager aggregation: the join-then-aggregate shape must collapse to
  * per-side aggregates joined 1:1 — value-identically — and must leave
  * every shape it can't prove alone. */
class PushAggThroughJoinSpec extends SparkSessionSpec {
  import spark.implicits._

  // extraOptimizations run AFTER the main optimizer batches — by then
  // RewriteDistinctAggregates has already expanded count(DISTINCT …),
  // hiding the shape. The engine registers the rule in the operator-
  // optimization batch (injectOptimizerRule), so the spec tests through
  // the suite's extensions session (`extSpark`) — the same registration
  // path every main's session uses.

  private def withRule[T](body: => T): T = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ PushAggThroughJoin
    try body
    finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ == PushAggThroughJoin)
      ()
    }
  }

  /** True iff the optimized plan has no Aggregate with a Join anywhere
    * below it (the fan-out was eliminated). */
  private def aggBelowJoin(df: DataFrame): Boolean = {
    val plan = df.queryExecution.optimizedPlan
    val aggAboveJoin = plan.collect {
      case a: Aggregate if a.exists(_.isInstanceOf[Join]) => a
    }
    aggAboveJoin.isEmpty && plan.exists(_.isInstanceOf[Join])
  }

  private def nullSafeShape(s: org.apache.spark.sql.SparkSession) = {
    val cust = s.read.parquet(s"$sf0001/customer.parquet")
      .select(col("c_custkey"), nullif(col("c_nationkey") % 5, lit(2)).as("k"))
    val supp = s.read.parquet(s"$sf0001/supplier.parquet")
      .select(col("s_suppkey"), nullif(col("s_nationkey") % 5, lit(2)).as("sk"))
    cust.join(supp, col("k") <=> col("sk"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("c_custkey")).as("n_cust"),
        countDistinct(col("s_suppkey")).as("n_supp"),
        min(col("c_custkey")).as("min_cust"),
        max(col("s_suppkey")).as("max_supp"),
        sum(col("c_custkey")).as("sum_cust"))
  }

  test("fires on null-safe join-then-aggregate; values identical") {
    // the baseline must run without the rule, or the comparison below
    // compares the rewrite with itself
    assert(!aggBelowJoin(nullSafeShape(spark)), "baseline was rewritten")
    val naive = nullSafeShape(spark).collect().map(_.toSeq).toSet
    val df = nullSafeShape(extSpark)
    assert(aggBelowJoin(df), "rule did not push the aggregate below the join")
    val rewritten = df.collect().map(_.toSeq).toSet
    assert(rewritten == naive && naive.nonEmpty)
    // the NULL bucket must survive the rewrite: <=> matches NULLs and
    // GROUP BY groups them — both paths must carry the NULL-key row
    assert(naive.exists(_.head == null), "fixture lost its NULL bucket")
  }

  test("sum over fan-out multiplies exactly (integral sum · other-side count)") {
    val l = Seq((1L, 10L), (1L, 20L), (2L, 5L)).toDF("k", "x")
    val r = Seq((1L, "a"), (1L, "b"), (1L, "c"), (2L, "d")).toDF("rk", "y")
    def q = l.join(r, col("k") === col("rk"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        count(col("y")).as("cy"))
    val naive = q.collect().map(_.toSeq).toSet
    val eager = withRule(q.collect().map(_.toSeq).toSet)
    assert(eager == naive)
    assert(naive == Set(Seq(1L, 6L, 90L, 6L), Seq(2L, 1L, 5L, 1L)))
  }

  test("refuses shapes it cannot prove") {
    val l = Seq((1L, 1.5), (2L, 2.5)).toDF("k", "d")
    val r = Seq((1L, 3L), (2L, 4L)).toDF("rk", "z")
    withRule {
      // double sum: sl·cr reassociates float addition — must not fire
      val s = l.join(r, col("k") === col("rk"))
        .groupBy(col("k")).agg(sum(col("d")).as("sd"))
      assert(!aggBelowJoin(s), "fired on a floating-point sum")
      // avg: unsupported aggregate — must not fire
      val a = l.join(r, col("k") === col("rk"))
        .groupBy(col("k")).agg(avg(col("z")).as("az"))
      assert(!aggBelowJoin(a), "fired on avg")
      // left outer join: unmatched keys change count semantics
      val o = l.join(r, col("k") === col("rk"), "left")
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
      assert(!aggBelowJoin(o), "fired on an outer join")
      // grouping on a NON-key column: per-side uniqueness is lost
      val g = l.join(r, col("k") === col("rk"))
        .groupBy(col("z")).agg(count(lit(1)).as("n"))
      assert(!aggBelowJoin(g), "fired on a non-key grouping")
      ()
    }
  }

  test("multi-key equi join groups by the full left key set") {
    val l = Seq((1L, 1L, 7L), (1L, 2L, 8L), (1L, 1L, 9L))
      .toDF("a", "b", "x")
    val r = Seq((1L, 1L), (1L, 1L), (1L, 2L)).toDF("ra", "rb")
    def q = l.join(r, col("a") === col("ra") && col("b") === col("rb"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n"), max(col("x")).as("mx"))
    val naive = q.collect().map(_.toSeq).toSet
    val (eager, fired) = withRule((q.collect().map(_.toSeq).toSet,
      aggBelowJoin(q)))
    assert(fired && eager == naive)
    assert(naive == Set(Seq(1L, 1L, 4L, 9L), Seq(1L, 2L, 1L, 8L)))
  }
}
