package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.{TopKPerKey, TopKPerKeyExec}

/** The native per-key top-k operator: row-set equivalence with the
  * window lowering, and the physical shape that justifies it (partial
  * heap BEFORE the exchange, final heap after). */
class PlansSpec extends SparkSessionSpec {

  private def windowTopK(df: org.apache.spark.sql.DataFrame, k: Int) = {
    val w = Window.partitionBy(col("key"))
      .orderBy(col("score").desc, col("id"))
    df.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .select(col("key"), col("id"), col("score"))
  }

  test("topKPerKey equals the row_number window lowering (random data)") {
    val spark2 = spark
    import spark2.implicits._
    // seeded keys/scores; (key, id) unique, (score desc, id) total order
    val rnd = new scala.util.Random(20260812)
    val rows = (1L to 3000L).map(i =>
      (rnd.nextInt(40).toLong, i, math.floor(rnd.nextDouble() * 1000) / 4))
    val df = rows.toDF("key", "id", "score").repartition(7)
    val native = TopKPerKey.topKPerKey(df,
        Seq("key"), Seq("score" -> false, "id" -> true), 5)
      .select(col("key"), col("id"), col("score"))
      .as[(Long, Long, Double)].collect().toSet
    val declarative =
      windowTopK(df, 5).as[(Long, Long, Double)].collect().toSet
    assert(native == declarative && native.nonEmpty)
  }

  test("topKPerKey handles k larger than any group (keeps everything)") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1L, 1L, 2.0), (1L, 2L, 1.0), (2L, 3L, 5.0))
      .toDF("key", "id", "score")
    val out = TopKPerKey.topKPerKey(df,
        Seq("key"), Seq("score" -> false, "id" -> true), 10)
      .as[(Long, Long, Double)].collect().toSet
    assert(out == Set((1L, 1L, 2.0), (1L, 2L, 1.0), (2L, 3L, 5.0)))
  }

  test("physical plan is partial heap -> exchange -> final heap") {
    val spark2 = spark
    import spark2.implicits._
    val df = (1L to 100L).map(i => (i % 5, i, i * 1.5)).toDF("key", "id", "score")
    val top = TopKPerKey.topKPerKey(df,
      Seq("key"), Seq("score" -> false, "id" -> true), 2)
    top.collect() // finalize the adaptive plan before inspecting it
    // AQE hides materialized stages from TreeNode.collect (QueryStageExec
    // keeps its subtree as a field, not a child) — assert on the final
    // explain string instead.
    val planStr = top.queryExecution.explainString(
      org.apache.spark.sql.execution.ExtendedMode)
    assert(planStr.contains("TopKPerKeyPartial") &&
        planStr.contains("TopKPerKeyFinal"),
      s"expected partial AND final top-k passes:\n$planStr")
    assert(planStr.contains("hashpartitioning(key"),
      s"expected a hash exchange on the key between the two passes:\n$planStr")
  }

  test("topKPerKey orders NULL scores like the window lowering") {
    val spark2 = spark
    import spark2.implicits._
    // desc ordering: NULLS LAST in both the SortOrder default and the
    // window's orderBy(desc) — null scores must lose to real ones
    val df = Seq((1L, 1L, Some(2.0)), (1L, 2L, None), (1L, 3L, Some(1.0)),
        (2L, 4L, None), (2L, 5L, None))
      .toDF("key", "id", "score")
    val native = TopKPerKey.topKPerKey(df,
        Seq("key"), Seq("score" -> false, "id" -> true), 2)
      .as[(Long, Long, Option[Double])].collect().toSet
    val declarative = {
      val w = Window.partitionBy(col("key"))
        .orderBy(col("score").desc, col("id"))
      df.withColumn("rn", row_number().over(w)).where(col("rn") <= 2)
        .select(col("key"), col("id"), col("score"))
        .as[(Long, Long, Option[Double])].collect().toSet
    }
    assert(native == declarative &&
      native == Set((1L, 1L, Some(2.0)), (1L, 3L, Some(1.0)),
        (2L, 4L, None), (2L, 5L, None)))
  }

  test("partial pass degrades gracefully past the key cap (bypass exact)") {
    val spark2 = spark
    import spark2.implicits._
    // 70k unique keys in ONE task exceeds PartialKeyCap (65536): the
    // overflow keys bypass the partial heaps and stream through; the
    // final pass cuts exactly. k=1 with unique keys ⇒ every row is its
    // own top-1, so any loss or duplication through the bypass path
    // changes the count.
    val df = (1L to 70000L).map(i => (i, i, i.toDouble))
      .toDF("key", "id", "score").repartition(1)
    val out = TopKPerKey.topKPerKey(df,
      Seq("key"), Seq("score" -> false, "id" -> true), 1)
    assert(out.count() == 70000L)
  }

  test("q_topk_native equals q_window_top_orders' rows on sf0.001") {
    val spark2 = spark
    import spark2.implicits._
    val native = graft.operators.RelationalQueries
      .qTopKNative(spark, sf0001)
      .as[(Long, Long, Double)].collect().toSet
    val viaWindow = graft.operators.RelationalQueries
      .qWindowTopOrders(spark, sf0001)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .as[(Long, Long, Double)].collect().toSet
    assert(native == viaWindow && native.nonEmpty)
  }

  test("text_keywords_native equals text_tfidf's rows; heap cut, no Window") {
    val spark2 = spark
    import spark2.implicits._
    val nativeDf = graft.operators.TextAnalysis
      .textKeywordsNative(spark, sf0001)
    val native = nativeDf.as[(Long, String, Double)].collect().toSet
    val viaWindow = graft.operators.TextAnalysis
      .textTfIdf(spark, sf0001)
      .select(col("doc_id"), col("tok"), col("score"))
      .as[(Long, String, Double)].collect().toSet
    assert(native == viaWindow && native.nonEmpty)
    val planStr = nativeDf.queryExecution.executedPlan.toString
    assert(planStr.contains("TopKPerKeyPartial") &&
      planStr.contains("TopKPerKeyFinal") && !planStr.contains("Window"))
  }

  test("bucketed join: zero Exchange and zero Sort below the join — " +
       "the write-time shuffle is the only one") {
    // tiny test tables would broadcast; the 100 TB case this layout
    // exists for cannot — pin the SMB shape by disabling broadcast
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // since 3.0 Spark ignores bucket sort order by default (probing
    // files-per-bucket costs planning time); the writer guarantees one
    // sorted file per bucket, so opting in is sound here — this is the
    // conf a production SMB deployment sets alongside the layout
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try bucketedBody()
    finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering",
        "false")
    }
  }

  private def bucketedBody(): Unit = {
    val join = graft.operators.OperatorReferences
      .bucketedJoinPlan(spark, sf0001)
    join.collect() // force execution so AQE finalizes the plan
    val plan = join.queryExecution.executedPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val finalPlan = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val s = finalPlan.toString
    assert(s.contains("SortMergeJoin"), s"expected SMJ:\n$s")
    assert(!s.contains("Exchange"),
      s"bucketed join must not shuffle either side:\n$s")
    assert(!s.contains("Sort "),
      s"sortBy buckets must also kill the SMJ sorts:\n$s")
    // layout must not change values: equals the plain join
    val expect = graft.Tables.t(spark, sf0001, "lineitem")
      .join(graft.Tables.t(spark, sf0001, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .count()
    assert(join.count() == expect)
  }

  private def withTopKRewrite[A](body: => A): A = {
    graft.plans.TopKPerKey.register(spark)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.RewriteWindowTopK
    try body
    finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations
        .filterNot(_ eq graft.plans.RewriteWindowTopK)
  }

  private def planOf(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.explainString(org.apache.spark.sql.execution.ExtendedMode)
  }

  test("RewriteWindowTopK lowers the row_number idiom to the native operator") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(4)
    val rows = (1L to 2000L).map(i =>
      (rnd.nextInt(30).toLong, i, math.floor(rnd.nextDouble() * 400) / 4))
    val df = rows.toDF("key", "id", "score").repartition(5)
    val expected = windowTopK(df, 3)
      .as[(Long, Long, Double)].collect().toSet
    withTopKRewrite {
      val rewritten = windowTopK(df, 3)
      val plan = planOf(rewritten)
      assert(plan.contains("TopKPerKeyFinal"),
        s"rewrite did not fire:\n$plan")
      assert(!plan.contains("WindowExec"), s"window survived:\n$plan")
      val got = rewritten.as[(Long, Long, Double)].collect().toSet
      assert(got == expected && got.nonEmpty)
    }
  }

  test("RewriteWindowTopK leaves non-eligible shapes alone") {
    val spark2 = spark
    import spark2.implicits._
    val df = (1L to 200L).map(i => (i % 5, i, i * 1.5))
      .toDF("key", "id", "score")
    val w = Window.partitionBy(col("key"))
      .orderBy(col("score").desc, col("id"))
    withTopKRewrite {
      // (1) rank column kept in the output → the window must run
      val keepsRank = df.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 2)
      assert(!planOf(keepsRank).contains("TopKPerKeyFinal"))
      // (2) rank() admits ties past k → not row-set-equivalent, no fire
      val rankNotRowNumber = df.withColumn("rn", rank().over(w))
        .where(col("rn") <= 2).select(col("key"), col("id"))
      assert(!planOf(rankNotRowNumber).contains("TopKPerKeyFinal"))
      // (3) global top-k (no partition) stays on TakeOrderedAndProject
      val noPartition = df.withColumn("rn",
          row_number().over(Window.orderBy(col("score").desc, col("id"))))
        .where(col("rn") <= 2).select(col("key"), col("id"))
      assert(!planOf(noPartition).contains("TopKPerKeyFinal"))
    }
  }

  /** Permanent regression guard for the round-4 finding (an
    * un-partitioned `row_number().over(Window.orderBy(...))` funneled
    * the whole corpus through ONE task in dedupEmbedCosine's seeding):
    * sweep EVERY driver-contract query's physical plan and reject the
    * single-point-of-scale anti-patterns outright. */
  test("plan lint: no global window, no cartesian product, BNLJ only on bounded builds") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.{FilterExec, GlobalLimitExec, LocalTableScanExec, TakeOrderedAndProjectExec}

    // a BNLJ build side is acceptably bounded when it demonstrably
    // collapses (1-row aggregate, literal rows, a limit) or is a
    // selective slice (filter above/into the scan — the broadcast-query
    // pattern); a FULL unfiltered table on the broadcast side fails
    def bounded(p: SparkPlan): Boolean = p.collectFirst {
      case a: HashAggregateExec if a.groupingExpressions.isEmpty => ()
      case a: ObjectHashAggregateExec if a.groupingExpressions.isEmpty => ()
      case a: SortAggregateExec if a.groupingExpressions.isEmpty => ()
      case _: LocalTableScanExec => ()
      case _: GlobalLimitExec => ()
      case _: TakeOrderedAndProjectExec => ()
      case _: FilterExec => ()
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.dataFilters.nonEmpty => ()
    }.nonEmpty

    // lint the plans PRODUCTION builds: every entry point registers
    // GraftExtensions (graft.Session), and the SQL catalog queries
    // cannot even resolve without its rules — so the sweep runs on the
    // suite's extensions session.
    val sx = extSpark
    val violations = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(sx, sf0001).queryExecution.sparkPlan
        plan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty =>
            s"$name: un-partitioned Window (single-task global sort)"
          case _: CartesianProductExec =>
            s"$name: CartesianProduct on unbounded inputs"
          case j: BroadcastNestedLoopJoinExec if !bounded(j.buildSide match {
            case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
            case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
          }) =>
            s"$name: BroadcastNestedLoopJoin over an unbounded build side"
        }
    }
    assert(violations.isEmpty, violations.mkString("\n"))

    // negative control: the exact round-4 pattern must trip the detector
    val bad = spark.range(100).toDF("id")
      .withColumn("rn", row_number().over(Window.orderBy(col("id"))))
    val caught = bad.queryExecution.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(caught.nonEmpty, "lint failed to catch an un-partitioned Window")
  }
}
