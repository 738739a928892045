package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Relational operator coverage over the TPC-H-ish star schema: scan with
  * pushdown, hash aggregation, broadcast + shuffle joins, semi-join,
  * window functions, sort/top-k. The reference has none of these
  * (SURVEY.md §2.1 — its only pipeline is the k-means round), but the
  * engine-extension surface and any real user of the engine needs them;
  * they also pin down the oracle methodology for every later operator.
  *
  * Float-determinism: money columns are summed as DECIMAL(18,2) — exact
  * in both Spark and DuckDB regardless of row order — and only converted
  * to DOUBLE at the end (SURVEY.md §7.4).
  */
object RelationalQueries {

  /** TPC-H Q1-shaped aggregation: full lineitem scan, 2-key hash agg.
    * At scale: partial agg runs map-side (HashAggregateExec partial),
    * only |groups| rows shuffle. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("sum_base_price"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** [[q1Agg]] expressed through `spark.sql` over a temp view — the
    * SQL entry point into the same Catalyst plan (identical text to
    * the DuckDB oracle modulo the view name). One query exercising
    * the parser→analyzer path keeps the SQL surface driver-gated, not
    * just spec-gated (ExtensionsSpec covers the custom functions). */
  def q1AggSql(spark: SparkSession, dir: String): DataFrame = {
    // per-call unique view, dropped after the eager analysis resolves
    // it — no fixed-name session-catalog mutation
    val v = s"graft_li_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    t(spark, dir, "lineitem").createOrReplaceTempView(v)
    try spark.sql(
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         |    AS sum_base_price,
         |  round(avg(l_discount), 6) AS avg_disc,
         |  count(*) AS count_order
         |FROM $v GROUP BY l_returnflag, l_linestatus""".stripMargin)
    finally { spark.catalog.dropTempView(v); () }
  }

  /** 3-way join: customer ⋈ orders ⋈ lineitem, revenue top-10.
    * customer is small → broadcast; orders⋈lineitem shuffles on
    * l_orderkey. Revenue in DECIMAL for exactness. */
  def q3Join(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val ord = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val li = t(spark, dir, "lineitem")
      .select(col("l_orderkey"),
        (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
            col("l_discount").cast("decimal(18,2)"))).as("rev"))
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 shape — the 6-table join-order workout: revenue from
    * LOCAL-supplier lineitems (customer and supplier in the SAME
    * nation) for one region and one order-date year, per nation.
    * Join order is volume-descending: lineitem ⋈ orders shuffles on
    * the order key (the only big⋈big edge); supplier, customer and
    * the region-pruned nation list all BROADCAST (dims stay dims at
    * every SF — customer is the largest at ~1.5% of lineitem), so the
    * locality predicate c_nationkey = s_nationkey evaluates inside a
    * broadcast join, never as a shuffle. The date filter pushes into
    * the orders scan; revenue in DECIMAL so the sum is
    * order-independent (the q3 rule). */
  def q5LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val nat = t(spark, dir, "nation")
      .join(broadcast(t(spark, dir, "region")
          .where(col("r_name") === "ASIA").select(col("r_regionkey"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val sup = t(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val cust = t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val ord = t(spark, dir, "orders")
      .where(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
        col("o_orderdate") < to_timestamp(lit("1997-01-01 00:00:00")))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
            col("l_discount").cast("decimal(18,2)"))).as("rev"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q18 shape — the large-volume-customer query: orders whose
    * total lineitem quantity exceeds 300, with their customer. The
    * selective HAVING is the whole scale story: the quantity
    * aggregation is ONE hash-partitioned pass over lineitem (partial
    * map-side sums first), the survivors are ~0.03% of orders, and
    * the plan is left declarative so AQE turns the survivors ⋈ orders
    * edge into a broadcast join from the RUNTIME row count — the
    * filtered relation's size isn't knowable at plan time at 100 TB,
    * which is exactly what adaptive re-planning is for. The final
    * customer edge broadcasts the (now tiny) hot-order relation into
    * customer's scan, so the big dimension never shuffles. Top-100 by
    * total price via TakeOrderedAndProject (no global sort). */
  def q18BigSpenders(spark: SparkSession, dir: String): DataFrame = {
    val hotSums = t(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .where(col("sum_qty") > 300)
    val ord = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice"))
    val hot = ord.join(hotSums, col("o_orderkey") === col("l_orderkey"))
    t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"))
      .join(broadcast(hot), col("c_custkey") === col("o_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), round(col("o_totalprice"), 2).as("o_totalprice"),
        col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q6 shape — the pure filter-aggregate: one scan, every
    * predicate pushed into the parquet reader (shipdate range,
    * discount band, quantity cap all show under PushedFilters), a
    * two-column ReadSchema beyond the filter columns, and ONE
    * partial→final aggregate with no exchange wider than one row.
    * DECIMAL product so the sum is aggregation-order-free. The
    * whole-stage-codegen ideal: at 100 TB this runs at scan
    * bandwidth. */
  def q6Forecast(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .where(col("l_shipdate") >= to_timestamp(lit("1995-01-01 00:00:00")) &&
        col("l_shipdate") < to_timestamp(lit("1996-01-01 00:00:00")) &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          col("l_discount").cast("decimal(18,2)"))
        .cast("double").as("revenue"))
      .select(round(col("revenue"), 2).as("revenue"))

  /** TPC-H Q14 shape — promotion effect: the share of one ship-month's
    * revenue carried by PROMO-type parts. The part dimension
    * BROADCASTS (it's dimension-sized at every scale factor), the
    * date filter pushes into the lineitem scan, and both the promo
    * and total revenue come out of ONE aggregate (conditional sum) —
    * a single pass at scan bandwidth, no second job for the
    * denominator. DECIMAL accumulation; the final ratio is the only
    * double (the q3/q6 rule). */
  def q14Promo(spark: SparkSession, dir: String): DataFrame = {
    val rev = (col("l_extendedprice").cast("decimal(18,2)") *
      (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
        col("l_discount").cast("decimal(18,2)")))
    t(spark, dir, "lineitem")
      .where(col("l_shipdate") >= to_timestamp(lit("1996-03-01 00:00:00")) &&
        col("l_shipdate") < to_timestamp(lit("1996-04-01 00:00:00")))
      .join(broadcast(t(spark, dir, "part")
          .select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .agg(sum(when(col("p_type") === "PROMO", rev)
          .otherwise(lit(java.math.BigDecimal.ZERO).cast("decimal(18,2)")))
          .as("promo"),
        sum(rev).as("total"))
      .select(round(lit(100.0) * col("promo").cast("double") /
          col("total").cast("double"), 6).as("promo_revenue_pct"),
        col("promo").cast("double").as("promo_revenue"),
        col("total").cast("double").as("total_revenue"))
  }

  /** TPC-H Q10 shape — returned-item customer ranking: revenue lost
    * to returns (l_returnflag = 'R') in one order-date quarter, per
    * customer with their nation, top 20. The flags/date filters push
    * into both big scans; lineitem⋈orders is the one big⋈big edge
    * (AQE broadcasts the date-filtered orders at test SF); customer
    * and nation broadcast (dims stay dims); top-20 via
    * TakeOrderedAndProject on the rounded revenue. */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
      .where(col("o_orderdate") >= to_timestamp(lit("1995-10-01 00:00:00")) &&
        col("o_orderdate") < to_timestamp(lit("1996-01-01 00:00:00")))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = t(spark, dir, "lineitem")
      .where(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
            col("l_discount").cast("decimal(18,2)"))).as("rev"))
    val cust = t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    val nat = t(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(round(sum(col("rev")).cast("double"), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** Window function: top-3 orders per customer by total price.
    * Deterministic tie-break on o_orderkey. */
  def qWindowTopOrders(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(spark, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
  }

  /** Same row set as [[qWindowTopOrders]] (minus the rank column), but
    * through the NATIVE [[graft.plans.TopKPerKey]] operator: a custom
    * LogicalPlan/Strategy/SparkPlan that runs a bounded-heap top-k pass
    * map-side BEFORE the shuffle, so the exchange carries at most
    * partitions·keys·k rows instead of the whole table — the per-key
    * analogue of TakeOrderedAndProject, and the in-mapper-combiner
    * shape applied to ranking. Ordering is total (price desc, orderkey)
    * so the row set is unique and oracle-comparable. */
  def qTopKNative(spark: SparkSession, dir: String): DataFrame =
    graft.plans.TopKPerKey.topKPerKey(
        t(spark, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
        Seq("o_custkey"),
        Seq("o_totalprice" -> false, "o_orderkey" -> true), 3)
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"))

  /** Global sort + limit (top-k): TakeOrderedAndProject in the physical
    * plan — no full sort materialization at scale. */
  def qTopK(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
        col("l_linenumber"))
      .limit(20)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice"), 2).as("l_extendedprice"))

  /** Left-semi join (EXISTS): customers having at least one
    * high-value order, joined to nation/region dims (broadcast). */
  def qSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val bigOrders = t(spark, dir, "orders")
      .where(col("o_totalprice") > 400000)
      .select(col("o_custkey"))
    t(spark, dir, "customer")
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
      .join(broadcast(t(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"))
  }

  /** Anti-join (NOT EXISTS): parts with no shipment before the cutoff.
    * The shipdate filter is pushed below the anti-join into the parquet
    * scan (PushedFilters), shrinking the build side. */
  def qAntiJoin(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .join(t(spark, dir, "lineitem")
          .where(col("l_shipdate") < to_timestamp(lit("1995-07-01 00:00:00")))
          .select(col("l_partkey")),
        col("p_partkey") === col("l_partkey"), "left_anti")
      .select(col("p_partkey"), col("p_name"))

  /** ROLLUP over (returnflag, linestatus): hierarchical grouping sets in
    * one pass (Expand + single shuffle in the physical plan). */
  def qRollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))

  /** Set operation: EXCEPT (distinct) — building-segment customers who
    * never placed a >300k order. */
  def qSetOp(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
      .except(t(spark, dir, "orders")
        .where(col("o_totalprice") > 300000)
        .select(col("o_custkey").as("c_custkey")))

  /** The remaining set operations (q_setop covers EXCEPT): INTERSECT,
    * UNION (distinct) and UNION ALL cardinalities of the same two
    * customer sets, as one row. NOT the naive three-set-op lowering —
    * that plan scanned each table three times and paid two dedup
    * shuffles plus cross-joins (the r4→r5 regression was this shape
    * losing an exchange reuse). Instead: tag each side, union-all,
    * ONE hash aggregate by key, then a 1-row rollup — each set-op
    * cardinality falls out of the same per-key (na, nb) counts
    * (INTERSECT = keys on both sides, UNION = group count, UNION ALL
    * = Σ(na+nb)). One scan per table, one data-sized shuffle. */
  def qSetOps2(spark: SparkSession, dir: String): DataFrame = {
    val a = t(spark, dir, "customer")
      .where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), lit(1L).as("na"), lit(0L).as("nb"))
    val b = t(spark, dir, "orders")
      .where(col("o_totalprice") > 300000)
      .select(col("o_custkey").as("c_custkey"),
        lit(0L).as("na"), lit(1L).as("nb"))
    a.unionAll(b)
      .groupBy(col("c_custkey"))
      .agg(sum(col("na")).as("na"), sum(col("nb")).as("nb"))
      .agg(count(when(col("na") > 0 && col("nb") > 0, 1)).as("n_intersect"),
        count(lit(1)).as("n_union"),
        sum(col("na") + col("nb")).as("n_union_all"))
  }

  /** Exact distinct counting (shuffle-dedup aggregate). */
  def qDistinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_partkey"), col("l_suppkey")).as("n_pairs"))

  /** Calendar bucketing on a (ms-precision) timestamp column: monthly
    * order volume. Months as epoch-µs of month start for oracle parity. */
  def qMonthly(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(unix_micros(date_trunc("month", col("o_orderdate"))).as("month_us"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total"))

  /** Exact percentiles (median / p90) per group — single-pass sort-based
    * percentile aggregate; linear interpolation matches DuckDB's
    * quantile_cont. */
  def qQuantiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 6).as("median_qty"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"),
        round(avg(col("l_discount")), 6).as("avg_disc"))

  /** Statistical aggregates: sample stddev and Pearson correlation.
    * Both engines use the numerically-stable one-pass formulations;
    * rounded to absorb last-ulp accumulation-order differences. */
  def qStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
        round(corr(col("l_extendedprice"), col("l_quantity")), 6)
          .as("corr_price_qty"),
        round(covar_samp(col("l_discount"), col("l_tax")), 8)
          .as("cov_disc_tax"))

  /** PIVOT: order volume per priority, statuses as columns. The pivot
    * values are DECLARED (not discovered), so this stays ONE pass — a
    * values-less pivot costs an extra distinct-collect job, which at
    * 100 TB is a full scan wasted. Empty cells coalesced to 0 on both
    * engines (Spark pivot yields null, DuckDB FILTER'd sum yields null). */
  def qPivot(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")))
      .select(col("o_orderpriority"),
        coalesce(col("F").cast("double"), lit(0.0)).as("total_f"),
        coalesce(col("O").cast("double"), lit(0.0)).as("total_o"),
        coalesce(col("P").cast("double"), lit(0.0)).as("total_p"))

  /** CUBE over (status, priority): all 4 grouping sets in one pass —
    * Expand (4× row multiplier map-side) + a single shuffle, not 4
    * separate scans. */
  def qCube(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total"))

  /** Deterministic stratified Bernoulli sample: keep-decision from an
    * md5 of the row key mapped to [0,1), compared against a per-stratum
    * rate — reproducible on ANY cluster layout (no rand()), no shuffle
    * for the sampling itself (narrow filter), and the same predicate is
    * expressible in the oracle. Emits per-stratum survivor stats. */
  def qSample(spark: SparkSession, dir: String): DataFrame = {
    val u = conv(substring(md5(concat_ws(":",
      col("l_orderkey"), col("l_linenumber"))), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)
    val rate = when(col("l_returnflag") === "A", 0.1)
      .when(col("l_returnflag") === "N", 0.2)
      .otherwise(0.5)
    t(spark, dir, "lineitem")
      .where(u < rate)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_sampled"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"))
  }

  /** Hard gate for the skew-salting utility: revenue per supplier
    * nation computed THROUGH [[SkewUtils.saltedJoin]] (8-way salt on
    * the lineitem side, supplier replicated). The salt is invisible to
    * the aggregate — counts and exact DECIMAL sums are partition-order
    * independent — so the plain-join DuckDB oracle must match
    * bit-for-bit, proving the salted lowering row-equivalent. */
  def qSkewJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .select(col("l_suppkey"),
        col("l_extendedprice").cast("decimal(18,2)").as("price"))
    val supp = t(spark, dir, "supplier")
      .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
    SkewUtils.saltedJoin(li, supp, "l_suppkey", salt = 8)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("price")).cast("double").as("total_price"))
  }

  val JoinBuckets = 8

  /** SORT-MERGE-BUCKET (co-located) JOIN — the pre-partitioning play
    * big fact-fact joins run at 100 TB: both sides are WRITTEN
    * bucketed (+ sorted) on the join key with the same bucket count
    * ([[JoinBuckets]]), so the join consumes bucket files directly —
    * NO Exchange and NO Sort on either side of the SortMergeJoin (the
    * shuffle happened once at WRITE time and is amortized over every
    * subsequent join; PlansSpec pins the exchange-free shape). The
    * bucketed tables are session-catalog tables over engine-written
    * parquet; they rebuild when absent (a fresh catalog forgets table
    * metadata — files alone don't carry the bucket spec). The
    * aggregate AFTER the join still exchanges its k rows, as it
    * should. */
  def qBucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    bucketedTables(spark, dir)
    val li = spark.table(bucketedName(dir, "lineitem"))
    val ord = spark.table(bucketedName(dir, "orders"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"))
  }

  private[operators] def bucketedName(dir: String, table: String): String =
    s"graft_buck_${table}_${dir.replaceAll("[^A-Za-z0-9]", "_")}"

  /** Ensure the bucketed/sorted table pair exists in the session
    * catalog (write once per session+dir; Overwrite keeps reruns
    * idempotent). */
  private[operators] def bucketedTables(spark: SparkSession, dir: String): Unit =
    Seq("lineitem" -> "l_orderkey", "orders" -> "o_orderkey")
      .foreach { case (tn, key) =>
        val name = bucketedName(dir, tn)
        if (!spark.catalog.tableExists(name)) {
          // external location under the artifacts root: a FRESH session
          // catalog has forgotten the table (files alone don't carry
          // the bucket spec), so sweep the stale location and rewrite
          val path = s"${graft.sources.Artifacts.root(spark)}/buck/$name"
          val p = new org.apache.hadoop.fs.Path(path)
          val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
          if (fs.exists(p)) fs.delete(p, true)
          // one FILE per bucket (repartition on the bucket key): with
          // several files per bucket Spark must re-sort at read time —
          // single sorted files are what lets the SMJ skip its sorts
          t(spark, dir, tn).repartition(JoinBuckets, col(key)).write
            .bucketBy(JoinBuckets, key).sortBy(key)
            .option("path", path)
            .mode("overwrite").format("parquet")
            .saveAsTable(name)
        }
      }

  val CmsD = 4
  val CmsW = 1024L
  val CmsTopK = 20

  /** COUNT-MIN SKETCH heavy hitters — the frequency-estimation member
    * of the sketch family (HLL++ = distinct counts, CMS = per-key
    * counts): a D×W grid of integer cells where every row increments
    * one bucket per hash row, and a key's estimate is the MIN over its
    * D cells. The sketch is FIXED-SIZE by construction (D·W = 4096
    * cells regardless of input rows), so at 100 TB it behaves like a
    * broadcastable aggregate: one hash aggregation over D·n (key, d,
    * bucket) increments, then the estimate join probes the 4096-cell
    * grid broadcast-side. The md5-derived bucket hash is replayable in
    * the oracle, and every output column is exact-integer arithmetic —
    * the one-sided error witness cross-multiplies
    * (est−exact)·W ≤ 2·n instead of dividing, so no float ever
    * appears. Estimates never undercount (structural CMS property,
    * also emitted as a witness column). */
  def qCmsTopK(spark: SparkSession, dir: String): DataFrame =
    cmsTopKOf(t(spark, dir, "lineitem").select(col("l_suppkey")
      .cast("long").as("key")))

  /** The domain-separated key hash the sketch slices — evaluated ONCE
    * per row (projected as a column BEFORE the bucket slicing, so the
    * D hash rows cost one md5, not D: relying on codegen subexpression
    * elimination across array elements is not guaranteed). */
  private[graft] def cmsHex(key: Column): Column =
    md5(concat(lit("cms:"), key.cast("string")))

  /** The D (d, bucket) probes for one key from its [[cmsHex]] digest —
    * [[CmsD]] disjoint 8-hex-char (32-bit) windows of the one digest. */
  private[graft] def cmsBucketsFromHex(hex: Column): Column =
    array((0 until CmsD).map { d =>
      struct(lit(d).as("d"),
        pmod(conv(substring(hex, 1 + 8 * d, 8), 16, 10).cast("long"),
          lit(CmsW)).as("bucket"))
    }: _*)

  /** Convenience composition for callers probing a few keys. */
  private[graft] def cmsBuckets(key: Column): Column =
    cmsBucketsFromHex(cmsHex(key))

  /** The D×W count grid over a key frame — IN-MAPPER COMBINED: one
    * scan, each partition folds its keys into a FIXED 4·1024-long
    * array (the whole sketch fits in L1 — this is the reference's O6
    * in-mapper-combiner shape applied to a sketch), then emits its
    * ≤4096 non-zero cells for one final sum. The declarative explode
    * alternative Generates D rows per key (a data-sized 4× row blowup
    * before the aggregate, measured ~4× slower at sf0.1); per-partition
    * imperative fold is exactly the case mapPartitions exists for —
    * the grid is the ONLY state and its size is scale-invariant. The
    * byte-level bucket math equals the oracle's hex slicing: hex chars
    * [8d, 8d+8) of the digest ARE bytes [4d, 4d+4) big-endian
    * (spec-pinned against [[cmsBucketsFromHex]]). */
  private[graft] def cmsGrid(keys: DataFrame): DataFrame = {
    val spark = keys.sparkSession
    import spark.implicits._
    val w = CmsW.toInt
    keys.select(col("key")).as[Long].mapPartitions { it =>
      val grid = Array.ofDim[Long](CmsD * w)
      val md = java.security.MessageDigest.getInstance("MD5")
      it.foreach { k =>
        md.reset()
        val dig = md.digest(s"cms:$k".getBytes("UTF-8"))
        var d = 0
        while (d < CmsD) {
          val u = ((dig(4 * d) & 0xffL) << 24) |
            ((dig(4 * d + 1) & 0xffL) << 16) |
            ((dig(4 * d + 2) & 0xffL) << 8) | (dig(4 * d + 3) & 0xffL)
          grid(d * w + (u % CmsW).toInt) += 1L
          d += 1
        }
      }
      grid.iterator.zipWithIndex.collect {
        case (c, i) if c > 0 => (i / w, (i % w).toLong, c)
      }
    }.toDF("d", "bucket", "cnt")
      .groupBy(col("d"), col("bucket"))
      .agg(sum(col("cnt")).as("cell"))
  }

  /** Core of [[qCmsTopK]] over any single-column `key` frame. */
  def cmsTopKOf(keys: DataFrame): DataFrame = {
    val cms = cmsGrid(keys)
    val n = keys.agg(count(lit(1)).as("n_total"))
    val top = keys.groupBy(col("key")).agg(count(lit(1)).as("exact_c"))
      .orderBy(col("exact_c").desc, col("key")).limit(CmsTopK)
    top.select(col("key"), col("exact_c"),
        explode(cmsBuckets(col("key"))).as("h"))
      .select(col("key"), col("exact_c"), col("h.d").as("d"),
        col("h.bucket").as("bucket"))
      .join(broadcast(cms), Seq("d", "bucket"))
      .groupBy(col("key"), col("exact_c"))
      .agg(min(col("cell")).as("est_c"))
      .crossJoin(broadcast(n))
      .select(col("key"), col("exact_c"), col("est_c"),
        (col("est_c") >= col("exact_c")).as("never_undercounts"),
        ((col("est_c") - col("exact_c")) * lit(CmsW) <=
          lit(2L) * col("n_total")).as("within_bound"))
  }

  /** The REGISTERED `q_approx_distinct`: the HLL++ sketch runs inside
    * a hash-checkable accuracy witness — EXACT distinct counts plus
    * booleans asserting the estimate lands within ±5% of them. The
    * DuckDB oracle computes the same exact counts and claims `true`,
    * so the driver's hash compare fails iff the sketch ever leaves its
    * accuracy envelope. (Round-5 verdict item 4: the raw-estimate
    * variant was the board's one `no_oracle` row; folding the witness
    * into the registered query closes it without losing the sketch —
    * the approx aggregates still execute in this plan.) */
  def qApproxDistinctBound(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact_parts"),
        countDistinct(col("l_orderkey")).as("exact_orders"),
        approx_count_distinct(col("l_partkey"), 0.02).as("ap"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("ao"))
      .select(col("l_returnflag"), col("exact_parts"), col("exact_orders"),
        (abs(col("ap") - col("exact_parts")).cast("double") /
          col("exact_parts") <= 0.05).as("parts_within_5pct"),
        (abs(col("ao") - col("exact_orders")).cast("double") /
          col("exact_orders") <= 0.05).as("orders_within_5pct"))

  /** LEFT OUTER join with the null-extension VISIBLE in the output:
    * every customer appears, those with no qualifying order carry
    * n_big_orders = 0 and total_big = NULL (sum over the null-extended
    * side). Join key is the shuffle key; the pre-join filter on the
    * orders side runs at the scan (pushed), shrinking the probe input
    * before any data moves. */
  def qOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer").select(col("c_custkey"))
    val big = t(spark, dir, "orders")
      .where(col("o_totalprice") > 400000)
      .select(col("o_custkey"), col("o_totalprice"))
    cust.join(big, cust("c_custkey") === big("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_custkey")).as("n_big_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_big"))
  }

  /** FULL OUTER join where BOTH sides can miss: custkeys holding a
    * >400k order vs custkeys in the BUILDING segment. Rows null-extend
    * left (building customer, no big order) and right (big-order
    * customer outside the segment); the output key coalesces the two
    * join columns, the standard full-outer idiom. */
  def qOuterJoinFull(spark: SparkSession, dir: String): DataFrame = {
    val big = t(spark, dir, "orders")
      .where(col("o_totalprice") > 400000)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_big"))
    val bld = t(spark, dir, "customer")
      .where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), round(col("c_acctbal"), 2).as("acctbal"))
    big.join(bld, big("o_custkey") === bld("c_custkey"), "full_outer")
      .select(coalesce(big("o_custkey"), bld("c_custkey")).as("custkey"),
        col("n_big"), col("acctbal"))
  }

  /** Explicit GROUPING SETS with grouping_id — the generalization of
    * rollup/cube: two chosen sets, still ONE Expand + ONE shuffle. The
    * grouping-set id disambiguates a real NULL key from a rolled-up
    * one, which cube/rollup outputs cannot do. */
  def qGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("graft_orders_gs")
    // gid from per-column grouping() arithmetic, not grouping_id():
    // explicit bit assignment is convention-proof across engines
    spark.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |       CAST(grouping(o_orderstatus) * 2 +
        |            grouping(o_orderpriority) AS BIGINT) AS gid,
        |       count(1) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS total
        |FROM graft_orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |""".stripMargin)
  }

  /** Running (cumulative) aggregate: per-customer order-value running
    * total in order-date order — the unbounded-preceding window frame,
    * partition-pruned by customer so each partition sorts only its own
    * rows (no global sort at scale). Exact DECIMAL accumulation makes
    * the running values partition-order independent. */
  def qRunningTotal(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, dir, "orders")
      .where(col("o_custkey") % 100 === 0) // bounded output, same plan shape
      .select(col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
          .cast("double").as("running_total"),
        count(lit(1)).over(w).as("running_n"))
  }

  /** Oracle-checkable witness for approx_percentile — the sketch that
    * replaces exact percentiles at 100 TB (exact needs a per-group
    * sort; the KLL/GK-style sketch merges associatively map-side).
    * Emits the exact p50/p90 plus booleans asserting the approximate
    * answer lands within the value range spanned by ±2% of the rank —
    * the driver's hash compare fails iff the sketch leaves its
    * envelope. */
  def qApproxQuantilesBound(spark: SparkSession, dir: String): DataFrame = {
    val qs = t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("exact_p50"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("exact_p90"),
        expr("percentile(l_extendedprice, 0.48)").as("lo50"),
        expr("percentile(l_extendedprice, 0.52)").as("hi50"),
        expr("percentile(l_extendedprice, 0.88)").as("lo90"),
        expr("percentile(l_extendedprice, 0.92)").as("hi90"),
        expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("a50"),
        expr("approx_percentile(l_extendedprice, 0.9, 10000)").as("a90"))
    qs.select(col("l_returnflag"), col("exact_p50"), col("exact_p90"),
      (col("a50") >= col("lo50") && col("a50") <= col("hi50"))
        .as("p50_within_rank_2pct"),
      (col("a90") >= col("lo90") && col("a90") <= col("hi90"))
        .as("p90_within_rank_2pct"))
  }

  /** Heavy-hitters sketch witness — the third member of the
    * sketch-bound family (HLL distinct / approx-percentile): Spark's
    * single-pass `stat.freqItems` (Karp-Shenker-Papadimitriou) promises
    * a SUPERSET of every item with frequency > support. The witness
    * claims EXACTLY the guarantee: `share > support → in sketch`
    * (sources at/below the support line may legitimately be absent, so
    * the boolean is the implication, not raw membership — data-shape
    * shifts at other scale factors cannot break the gate while the
    * sketch honors its contract). The oracle claims `true` per row;
    * the driver's hash compare fails iff the sketch ever drops a
    * qualifying heavy hitter. (False positives in the sketch are
    * allowed by contract and not tested.) `stat.freqItems` runs its
    * single distributed pass eagerly and returns the sketch as a LOCAL
    * 1-row relation — a justified driver action: the result is
    * O(1/support) items by construction, the same size class as the
    * k-row centroid collects in the k-means loop. */
  val FreqItemsSupport = 0.03

  def qFreqItemsBound(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val fi = docs.stat.freqItems(Seq("source"), FreqItemsSupport)
    val shares = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("total"))))
      .select(col("source"),
        round(col("n").cast("double") / col("total"), 6).as("share"),
        (col("n").cast("double") / col("total") > FreqItemsSupport)
          .as("qualifies"))
    shares.crossJoin(broadcast(fi))
      .select(col("source"), col("share"),
        (!col("qualifies") ||
          array_contains(col("source_freqItems"), col("source")))
          .as("guarantee_holds"))
  }

  /** Null-aware anti join — `NOT IN (subquery)` over a NULLABLE key,
    * the SQL shape with famously different semantics from NOT EXISTS /
    * `left_anti` ([[qAntiJoin]]): three-valued logic makes
    * `x NOT IN (S)` never-true once S contains a single NULL (x <> NULL
    * is UNKNOWN), so the result goes EMPTY — while NOT EXISTS simply
    * ignores the NULL rows. Spark plans the NOT IN legs as null-aware
    * anti joins (isNullAwareAntiJoin / BroadcastNestedLoopJoin), a
    * distinct physical operator from the hash left_anti. One row pins
    * all three behaviors against the oracle:
    *  - `n_not_in_clean`: NOT IN over the null-free subquery — must
    *    equal the left_anti count ([[qAntiJoin]]'s 243 rows at sf0.01;
    *    OperatorsSpec asserts the equality directly);
    *  - `n_not_in_withnull`: same subquery with its min key NULLIFed —
    *    must collapse to 0, the week-one porting surprise;
    *  - `n_not_exists_withnull`: NOT EXISTS over the SAME nulled
    *    subquery — unaffected by the NULL, counts parts absent from
    *    set∖{min}.
    * Views get per-call unique names and are dropped right after
    * analysis (spark.sql resolves eagerly), so no session state leaks. */
  def qNotInAnti(spark: SparkSession, dir: String): DataFrame = {
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val pv = s"graft_part_$tag"
    val lv = s"graft_li_$tag"
    t(spark, dir, "part").createOrReplaceTempView(pv)
    t(spark, dir, "lineitem").createOrReplaceTempView(lv)
    try spark.sql(
      s"""WITH early AS (
         |  SELECT l_partkey FROM $lv
         |  WHERE l_shipdate < TIMESTAMP '1995-07-01 00:00:00'
         |), nulled AS (
         |  SELECT nullif(l_partkey, (SELECT min(l_partkey) FROM $lv
         |                            WHERE l_shipdate <
         |                              TIMESTAMP '1995-07-01 00:00:00')) AS k
         |  FROM early
         |)
         |SELECT
         |  (SELECT count(*) FROM $pv
         |   WHERE p_partkey NOT IN (SELECT l_partkey FROM early))
         |    AS n_not_in_clean,
         |  (SELECT count(*) FROM $pv
         |   WHERE p_partkey NOT IN (SELECT k FROM nulled))
         |    AS n_not_in_withnull,
         |  (SELECT count(*) FROM $pv p
         |   WHERE NOT EXISTS (SELECT 1 FROM nulled n
         |                     WHERE n.k = p.p_partkey))
         |    AS n_not_exists_withnull""".stripMargin)
    finally {
      spark.catalog.dropTempView(pv)
      spark.catalog.dropTempView(lv)
      ()
    }
  }

  val PrIters = 5
  val PrDamp = 0.85

  /** PAGERANK over the customer↔supplier trade graph — the iterative
    * GRAPH workload class (beyond connected components,
    * [[Dedup.dedupComponents]]): edges are distinct (customer,
    * supplier) trading pairs from lineitem×orders, symmetrized so both
    * sides propagate mass; node ids are namespaced ('c'/'s' prefix)
    * since the key spaces overlap. Each of the [[PrIters]] fixed
    * rounds is ONE equi-join of the edge list with the current ranks
    * plus one hash aggregation — the same bounded-driver-loop shape as
    * Lloyd and components: the driver holds only the loop counter,
    * never a rank vector, so the plan scales to any node/edge count.
    * Per-round ranks round to 12dp — exactly like the Lloyd replay's
    * per-level 6dp means — pinning both engines to identical state so
    * float summation order cannot drift across rounds; the final
    * report rounds to 9 (the driver's own compare precision).
    * Dangling nodes cannot arise (symmetrized edges ⇒ outdeg ≥ 1). */
  def qPageRank(spark: SparkSession, dir: String): DataFrame =
    pageRankKernel(spark, dir, personalized = false)
      .select(nodeName(col("node")).as("node"),
        round(col("pr"), 9).as("pagerank"))

  /** PERSONALIZED PAGERANK — the graph-similarity form retrieval and
    * recommendation systems run (random walk with restart): all
    * restart mass concentrates on ONE seed node instead of spreading
    * uniformly, so ranks measure proximity TO THE SEED through the
    * trading graph. Seed = the lexicographically smallest node (a
    * deterministic 1-row aggregate the oracle replays); the loop,
    * caching, and per-round quantization are literally [[qPageRank]]'s
    * ([[pageRankKernel]] is shared — the teleport vector is the only
    * difference, exactly the algebra's difference). The loop stays
    * dense: the trading graph is hub-dense bipartite (1k suppliers
    * fan out to every customer within 2 hops), so the seed's frontier
    * covers the graph by round 2 and zero-row pruning would save
    * nothing (A/B at sf0.1: 4.35 s dense vs 5.9 s sparse-frontier
    * warm). */
  def qPageRankPersonalized(spark: SparkSession, dir: String): DataFrame =
    pageRankKernel(spark, dir, personalized = true)
      .select(nodeName(col("node")).as("node"),
        round(col("pr"), 9).as("ppr"))

  /** Reconstruct the public 'c<id>'/'s<id>' node name from the packed
    * long id the iteration runs on (customers even, suppliers odd).
    *
    * The iteration state is keyed by PACKED LONG node ids — customer
    * 2k, supplier 2k+1 — not the public 'c…'/'s…' strings: every
    * per-round join, shuffle, hash and sort works 8-byte keys instead
    * of variable-length strings (at 100 TB the edge relation is the
    * volume, and string keys tax every one of its exchanges). The
    * string form exists only at the boundary: the seed pick (the
    * oracle's rule is the LEXICOGRAPHICALLY smallest name, which the
    * numeric order does not replicate) and the caller's final
    * projection through this function. */
  private[operators] def nodeName(node: Column): Column =
    concat(when(node % 2 === 0, lit("c")).otherwise(lit("s")),
      (node / 2).cast("long"))

  /** Distinct (customer, supplier) trading pairs as PACKED LONG node
    * ids (customer 2k, supplier 2k+1) — the shared edge seed for every
    * graph workload here ([[qPageRank]], [[qPageRankPersonalized]],
    * [[qCommunities]]). Checkpointed: it is read several times by each
    * consumer (both symmetrize arms + a sizing count) and is tiny next
    * to the lineitem×orders join that builds it. */
  private[operators] def tradeCs(spark: SparkSession, dir: String): DataFrame = {
    // DURABLE build-once artifact, not a per-query checkpoint: every
    // graph workload here (PageRank, PPR, LPA, SSSP) derives the SAME
    // distinct-trading-pairs projection from lineitem×orders, and each
    // query paid the join+distinct again every run (~1–1.5 s of the
    // 3.4–4.4 s warm numbers at sf0.1). Materializing the edge list
    // once per (dir, row count) is the production shape — a graph
    // system at 100 TB serves iteration from a prepared edge table,
    // not from re-deriving it out of the fact tables per query — and
    // the same write-once `_SUCCESS`-gated pattern the ANN segments
    // use. Keyed by BOTH source tables' row counts AND a filesystem
    // content fingerprint (file name/length/mtime manifest of the two
    // parquet sources): TPC-H counts are deterministic per SF, so a
    // regenerated same-SF corpus would hash to the same count — the
    // fingerprint is what actually self-invalidates on a rewrite.
    // Readers still cache/repartition per query; only the derivation
    // is shared.
    val nLi = graft.Tables.cachedCount(spark, dir, "lineitem")
    val nOrd = graft.Tables.cachedCount(spark, dir, "orders")
    val fp = graft.sources.Artifacts.sourceFingerprint(spark,
      s"$dir/lineitem.parquet", s"$dir/orders.parquet")
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = s"${graft.sources.Artifacts.root(spark)}/" +
      s"tradecs_${key}_n${nLi}_o${nOrd}_f$fp"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_SUCCESS")))
      t(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(t(spark, dir, "orders")
            .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
        .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** Dense power iteration on the planning-free RDD kernel (r19; see
    * [[GraphLoops]] for the rationale and the value contract). Same
    * recursion, element for element, as the DataFrame lowering
    * OperatorsSpec checks it against bit for bit: out-degrees
    * double as the node set, each round is one co-partitioned
    * edge⋈rank join (zero exchange) feeding one combiner-backed
    * sum-by-dst shuffle, ranks quantize to 12dp per round through the
    * spec-pinned [[graft.expressions.RoundHalfUp]], and the driver
    * holds only the loop counter plus the same two bounded scalars
    * (node count, lexicographically-smallest node name) the DataFrame
    * lowering collected. The fixed [[PrIters]] rounds unroll into one
    * lazy lineage — materialized by the final eager checkpoint as a
    * single job, one shuffle stage per round — where the DataFrame
    * loop paid per-round planning plus AQE's job-per-exchange
    * choreography (values oracle-hash-exact at sf0.001/0.01/0.1;
    * numbers in OPTIMIZATION_r19.md). */
  private def pageRankKernel(spark: SparkSession, dir: String,
                             personalized: Boolean): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val cs = tradeCs(spark, dir)
    val part = new org.apache.spark.HashPartitioner(
      GraphLoops.widthFor(spark, 2L * cs.count()))
    // edge relation lowered ONCE to per-partition primitive arrays
    // (src, dst, outdeg) — one shuffle (the src partitioning), degrees
    // counted inside the build task (all edges of a node land in its
    // partition, so no edges⋈deg join exists at all)
    val segs = GraphLoops.degSegments(cs, part)
      .persist(StorageLevel.MEMORY_AND_DISK).setName("pagerank.segs")
    segs.count() // materialize; every round re-reads the arrays
    // node relation (symmetrized edges ⇒ every node appears as a src):
    // narrow distinct over the cached arrays, co-partitioned rows
    val nodes = GraphLoops.distinctSrcNodes(
      segs.mapPartitions(_.map(_._1), preservesPartitioning = true))
    // ONE bounded driver action for both loop scalars, as before (the
    // seed name's lexicographic min cannot fold into the long order,
    // so it rides the same single reduce as a string)
    val (n, seedName) = nodes
      .map { case (node, _) => (1L, GraphLoops.nodeNameStr(node)) }
      .reduce((a, b) => (a._1 + b._1,
        if (a._2.compareTo(b._2) <= 0) a._2 else b._2))
    val seed = seedName.tail.toLong * 2 +
      (if (seedName.head == 's') 1L else 0L)
    val uniInit = 1.0 / n
    val uniTp = (1 - PrDamp) / n
    val seedTp = 1 - PrDamp
    var ranks: RDD[(Long, Double)] =
      nodes.mapPartitions(_.map { case (nd, _) =>
        (nd, if (!personalized) uniInit
             else if (nd == seed) 1.0 else 0.0)
      }, preservesPartitioning = true)
    val idPart = new GraphLoops.IdPartitioner(part.numPartitions)
    for (_ <- 1 to PrIters) {
      val prev = ranks
      // zero-exchange "join": ranks are co-partitioned with the edge
      // arrays, so each task builds its partition's rank lookup (the
      // SHUFFLE_HASH build side the DataFrame plan also carried) and
      // walks the primitive arrays summing pr/outdeg per dst into a
      // combiner bounded by the partition's edge count (widthFor caps
      // edges/partition, so the map is ≤ ~512k entries by
      // construction). The round's ONE shuffle then ships one
      // primitive-array packet per destination partition instead of
      // one boxed tuple per contribution — same bytes, p² objects
      // (the boxed per-row stream measured super-linear at the x100
      // rung: 63 s vs the packed form's, see plans/r19)
      val packed = segs.zipPartitions(prev) { (sit, rit) =>
        if (!sit.hasNext) Iterator.empty
        else {
          val (srcs, dsts, ods) = sit.next()
          val rmap = new GraphLoops.LongDoubleMap(1 << 10)
          while (rit.hasNext) {
            val kv = rit.next(); rmap.put(kv._1, kv._2)
          }
          val acc = new GraphLoops.LongDoubleMap(1 << 12)
          var i = 0
          while (i < srcs.length) {
            // miss ⇒ skip: the inner join's row-drop semantics
            // (cannot occur — ranks are complete over nodes)
            val pr = rmap.getOr(srcs(i), Double.NaN)
            if (!java.lang.Double.isNaN(pr)) acc.addTo(dsts(i), pr / ods(i))
            i += 1
          }
          GraphLoops.packDouble(acc, part)
        }
      }.partitionBy(idPart)
      ranks = packed.mapPartitions({ it =>
        val m = new GraphLoops.LongDoubleMap(1 << 12)
        while (it.hasNext) {
          val (_, (ks, vs)) = it.next()
          var i = 0
          while (i < ks.length) { m.addTo(ks(i), vs(i)); i += 1 }
        }
        m.iterator.map { case (nd, cb) =>
          val tp = if (!personalized) uniTp
                   else if (nd == seed) seedTp else 0.0
          (nd, graft.expressions.RoundHalfUp.round(tp + PrDamp * cb, 12))
        }
      }, preservesPartitioning = false)
    }
    import spark.implicits._
    // eager: the caller consumes ranks after the kernel caches drop
    val out = ranks.toDF("node", "pr").localCheckpoint(true)
    segs.unpersist(blocking = false)
    out
  }

  val LpaRounds = 3

  /** COMMUNITY DETECTION over the trading graph — graph workload #4
    * (after components, PageRank, triangles): synchronous label
    * propagation, [[LpaRounds]] fixed rounds. Every node starts as its
    * own community; each round it adopts the label held by the MOST of
    * its neighbors (ties → the smallest label — fully deterministic,
    * so the DuckDB oracle replays the identical labeling; a fixed
    * round budget is also how LPA runs in production — like the fixed-
    * iteration [[qPageRank]], never "until stable", which sync updates
    * on a bipartite graph cannot promise anyway).
    *
    * Scale shape = the PageRank loop's: the edge relation is cached
    * pre-partitioned on the join key once, each round joins it to the
    * node-sized label relation (SHUFFLE_HASH — never re-sort the big
    * cached side) and runs two hash aggregations whose map-side
    * combine collapses the edge-sized vote stream to ≤ distinct
    * (node, label) pairs before the exchange. The driver holds only
    * the loop counter; no rank/label vector ever leaves the cluster. */
  def qCommunities(spark: SparkSession, dir: String): DataFrame = {
    // r19: the loop runs on the planning-free RDD kernel (see
    // [[GraphLoops]]). Same recursion as the former DataFrame lowering
    // vote for vote: per round one co-partitioned edge⋈label join
    // (zero exchange), a combiner-backed count-by-(dst,label) shuffle,
    // and an argmax-by-dst shuffle with the identical min-(−cnt, lab)
    // tie rule — integer arithmetic throughout, so the kernel is
    // VALUE-EXACT against the DataFrame plan (no float-order caveat).
    // The fixed LpaRounds unroll into one lazy lineage; the final
    // eager checkpoint runs it as a single job, two shuffle stages per
    // round, where the DataFrame loop paid per-round planning + AQE's
    // job-per-exchange choreography.
    val cs = tradeCs(spark, dir)
    val part = new org.apache.spark.HashPartitioner(
      GraphLoops.widthFor(spark, 2L * cs.count()))
    // per-partition primitive (src, dst) arrays — the vote pass walks
    // them allocation-free (boxed per-round RDD.join measured 2.8×
    // slower than codegen on the pagerank kernel; same lesson)
    val segs = GraphLoops.edgeSegments(cs, part)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .setName("lpa.segs")
    segs.count() // materialize once; every round re-reads the cache
    // symmetrized edges ⇒ every node appears as a src, so the initial
    // label relation derives narrowly from the cached arrays (srcs
    // are part-hashed ⇒ the distinct set is co-partitioned)
    var labels: RDD[(Long, Long)] = GraphLoops.distinctSrcNodes(
      segs.mapPartitions(_.map(_._1), preservesPartitioning = true))
    val votePart = new GraphLoops.FirstOfPairPartitioner(part)
    for (_ <- 1 to LpaRounds) {
      val prev = labels
      // zero-exchange vote generation: labels are co-partitioned with
      // the edge arrays; each task builds its partition's label
      // lookup, walks the arrays voting (dst ← its neighbors' labels)
      // into a capped (dst, label) counter, streaming capped overflow
      // to the spillable vote shuffle
      val votes = segs.zipPartitions(prev) { (sit, lit) =>
        if (!sit.hasNext) Iterator.empty
        else {
          val (srcs, dsts) = sit.next()
          val lmap = new GraphLoops.LongLongMap(1 << 10)
          while (lit.hasNext) {
            val kv = lit.next(); lmap.put(kv._1, kv._2)
          }
          val acc = new GraphLoops.PairCountMap(
            1 << 10, GraphLoops.PartialNodeCap)
          new GraphLoops.CombineOrStream[((Long, Long), Long)](
            srcs.length,
            { i =>
              val lab = lmap.getOr(srcs(i), Long.MinValue)
              if (lab == Long.MinValue || acc.add(dsts(i), lab, 1L)) null
              else ((dsts(i), lab), 1L)
            },
            () => acc.iterator)
        }
      // the round's ONE shuffle: counts reduce under a partitioner
      // that hashes only dst, so every vote of a node lands in one
      // partition (reduceByKey stays correct — equal (dst,label)
      // keys still collocate — and stays spillable)
      }.reduceByKey(votePart, _ + _)
      // the argmax that used to be a SECOND full shuffle is now
      // partition-local: highest vote count, ties → smallest label
      // (the DataFrame plan's min(struct(−cnt, lab)) verbatim, and
      // arrival-order-free), over two node-partition-sized maps
      labels = votes.mapPartitions({ it =>
        val bestC = new GraphLoops.LongLongMap(1 << 10)
        val bestL = new GraphLoops.LongLongMap(1 << 10)
        while (it.hasNext) {
          val ((dst, lab), cnt) = it.next()
          val bc = bestC.getOr(dst, Long.MinValue)
          if (cnt > bc ||
              (cnt == bc && lab < bestL.getOr(dst, Long.MaxValue))) {
            bestC.put(dst, cnt); bestL.put(dst, lab)
          }
        }
        bestL.iterator
      }, preservesPartitioning = false)
    }
    import spark.implicits._
    // eager: the caller consumes labels after the edge cache drops
    val out = labels.toDF("node", "lab").localCheckpoint(true)
    segs.unpersist(blocking = false)
    out.select(nodeName(col("node")).as("node"),
      nodeName(col("lab")).as("community"))
  }

  val SsspRounds = 4

  /** MULTI-SOURCE SHORTEST PATHS over the trading graph — graph
    * workload #5: hop-count distances from the seed set (customers
    * with custkey ≡ 0 mod 50) by [[SsspRounds]] rounds of Bellman-Ford
    * relaxation — distances exact for every node within that many
    * hops, the bounded-frontier form production BFS runs in (a fixed
    * round budget, like the fixed-iteration PageRank/LPA, keeps the
    * plan finite and the oracle replayable round for round).
    *
    * Scale shape = the LPA loop's: edges cached pre-partitioned on
    * the join key once, each round ONE SHUFFLE_HASH join of the
    * cached edges with the node-sized distance relation plus a
    * min-aggregation whose map-side combine collapses the relaxation
    * stream before its exchange. min() is associative and order-free,
    * so the result is deterministic regardless of partitioning.
    * Unreached nodes carry no row (frontier-sized state, not
    * graph-sized — at 100 TB the distance relation only ever holds
    * the reached set). */
  def qSssp(spark: SparkSession, dir: String): DataFrame = {
    // r19: the loop runs on the planning-free RDD kernel (see
    // [[GraphLoops]]). Same Bellman-Ford recursion as the former
    // DataFrame lowering — integer min throughout, VALUE-EXACT. Per
    // round: one co-partitioned frontier⋈edge join (zero exchange)
    // and one min-merge where only the relaxation stream shuffles —
    // the cogroup keeps the distance side narrow, unlike the DataFrame
    // union+groupBy which re-shuffled the whole distance relation.
    // The former per-round eager localCheckpoint (needed because the
    // union consumed round r−1 twice in an unmaterialized lineage) is
    // replaced by a lazy per-round persist: both same-round references
    // read one cached computation when the single final job runs —
    // no per-round job at all, no 2^r blowup.
    import org.apache.spark.storage.StorageLevel
    val cs = tradeCs(spark, dir)
    val part = new org.apache.spark.HashPartitioner(
      GraphLoops.widthFor(spark, 2L * cs.count()))
    // per-partition primitive (src, dst) arrays: the per-round
    // relaxation walks them allocation-free (a boxed per-round
    // RDD.join measured 2.8× slower than codegen on the pagerank
    // kernel — same lesson here)
    val segs = GraphLoops.edgeSegments(cs, part)
      .persist(StorageLevel.MEMORY_AND_DISK).setName("sssp.segs")
    segs.count() // materialize once; every round re-reads the cache
    val rounds = scala.collection.mutable.ArrayBuffer[RDD[_]]()
    // seed set: customers with custkey ≡ 0 mod 50 (packed id ≡ 0 mod
    // 100), distance 0 — frontier-sized, never graph-sized; derived
    // narrowly from the cached arrays (srcs are part-hashed, so the
    // per-partition distinct set is co-partitioned by construction)
    var dist: RDD[(Long, Long)] = segs.mapPartitions({ it =>
      if (!it.hasNext) Iterator.empty
      else {
        val (srcs, _) = it.next()
        val seen = new GraphLoops.LongLongMap(1 << 8)
        var i = 0
        while (i < srcs.length) {
          if (srcs(i) % 100 == 0) seen.combine(srcs(i), 0L, (a, _) => a)
          i += 1
        }
        seen.iterator
      }
    }, preservesPartitioning = true)
    val idPart = new GraphLoops.IdPartitioner(part.numPartitions)
    for (_ <- 1 to SsspRounds) {
      val prev = dist
      // zero-exchange relaxation: the frontier is co-partitioned with
      // the edge arrays; each task builds its partition's distance
      // lookup, walks the arrays min-combining d+1 per out-edge into
      // a combiner bounded by the partition's edge count (widthFor),
      // and ships one primitive packet per destination partition —
      // the packed shuffle (see pageRankKernel), p² objects per round
      val packed = segs.zipPartitions(prev) { (sit, dit) =>
        if (!sit.hasNext) Iterator.empty
        else {
          val (srcs, dsts) = sit.next()
          val dmap = new GraphLoops.LongLongMap(1 << 8)
          while (dit.hasNext) {
            val kv = dit.next(); dmap.put(kv._1, kv._2)
          }
          val acc = new GraphLoops.LongLongMap(1 << 8)
          var i = 0
          while (i < srcs.length) {
            val d = dmap.getOr(srcs(i), Long.MinValue)
            if (d != Long.MinValue) acc.combine(dsts(i), d + 1L, math.min)
            i += 1
          }
          GraphLoops.packLong(acc, part)
        }
      }.partitionBy(idPart)
      // min-merge with the previous round's frontier, both sides
      // node-partition-sized maps; the union preserves the layout
      dist = prev.zipPartitions(packed) { (dit, pit) =>
        val m = new GraphLoops.LongLongMap(1 << 8)
        while (pit.hasNext) {
          val (_, (ks, vs)) = pit.next()
          var i = 0
          while (i < ks.length) {
            m.combine(ks(i), vs(i), math.min); i += 1
          }
        }
        val dmap = new GraphLoops.LongLongMap(1 << 8)
        while (dit.hasNext) {
          val kv = dit.next(); dmap.put(kv._1, kv._2)
        }
        m.iterator.map { case (nd, v) =>
          (nd, math.min(v, dmap.getOr(nd, Long.MaxValue)))
        } ++ dmap.iterator.filter(kv => !m.contains(kv._1))
      }
        .persist(StorageLevel.MEMORY_AND_DISK) // read twice next round
      rounds += dist
    }
    import spark.implicits._
    // eager: the caller consumes distances after the caches drop
    val out = dist.toDF("node", "dist").localCheckpoint(true)
    rounds.foreach(_.unpersist(blocking = false))
    segs.unpersist(blocking = false)
    out.select(nodeName(col("node")).as("node"), col("dist"))
  }

  val TriTopM = 8
  val TriCapDeg = 128

  /** Per-customer supplier-degree cap: keep at most `cap` suppliers per
    * customer (the [[TriCapDeg]] lowest ids — deterministic, so the
    * DuckDB oracle replays the identical survivor set). A native
    * TopKPerKey heap cut, NOT a window: map-side bounded heaps, no
    * per-key sort. Exposed for the crafted mega-customer spec. */
  def capCustomerDegree(cs: DataFrame, cap: Int): DataFrame =
    graft.plans.TopKPerKey.topKPerKey(cs, Seq("c"), Seq("s" -> true), cap)

  /** TRIANGLE COUNTING — graph workload #3 (after components and
    * PageRank), over the supplier CO-PURCHASE AFFINITY graph: each
    * supplier keeps its [[TriTopM]] strongest trading partners by
    * shared-customer count (ties by partner id), the kNN-graph
    * sparsification that keeps |E| ≤ M·n and the triangle join's
    * wedge count ≤ M²·n at EVERY scale factor — a mean-relative
    * threshold was tried first and left this projection near-complete
    * (wedges Θ(n³)) because co-purchase weights concentrate; top-M is
    * how production graph systems bound dense projections. The
    * per-node cut runs through the native TopKPerKey heaps.
    * Projection fanout is per-customer quadratic in that customer's
    * supplier degree — the skew point at 100 TB — so heavy customers
    * are DEGREE-CAPPED at [[TriCapDeg]] before the wedge self-join
    * ([[capCustomerDegree]]; wedges per customer ≤ cap²/2 no matter
    * how hot the key), and the `s1 < s2` orientation halves the rest.
    * The cap never binds at the tested SFs (max degree 102 at sf0.1),
    * and the oracle mirrors the identical cap rule so parity holds at
    * the scales where it does bind. The capped relation feeds both
    * self-join arms, and the selected edge list feeds the triangle
    * join's three arms — each materializes once via localCheckpoint.
    * Integer-exact end to end. */
  def qTriangles(spark: SparkSession, dir: String): DataFrame = {
    // the distinct trading-pairs projection comes from the SHARED
    // durable [[tradeCs]] artifact (unpacking the even/odd long ids
    // back to raw keys — exact integer DIV, no float path), so warm
    // runs and every co-resident graph query skip the lineitem×orders
    // join + distinct entirely (~600 CPU-s of the x100 rung)
    val pairs = tradeCs(spark, dir)
      .select(expr("src DIV 2").as("c"), expr("dst DIV 2").as("s"))
    // ONE tiny degree aggregate feeds three decisions: the exact
    // CAPPED wedge total Σ min(d,cap)·(min(d,cap)−1)/2 (identical to
    // aggregating after the cap — the survivor count per customer IS
    // min(d, cap)), the data-proportional partition width, and
    // whether the cap BINDS at all. When max degree ≤ TriCapDeg the
    // TopKPerKey cut is a no-op that still cost a full extra exchange
    // + per-customer heap pass + checkpoint (~600 CPU-s at the x100
    // rung, where the observed max degree is 102) — skip it and feed
    // the artifact scan straight into the repartition. The oracle's
    // cap rule selects everyone in that case too, so parity is
    // unchanged on both branches.
    val capL = lit(TriCapDeg.toLong)
    val degRow = pairs.groupBy(col("c"))
      .agg(count(lit(1)).as("d"))
      .agg(coalesce(sum(least(col("d"), capL) * (least(col("d"), capL) - 1)),
          lit(0L)).as("w2"),
        coalesce(max(col("d")), lit(0L)).as("maxd"))
      .collect()(0)
    val wedgeTotal = degRow.getLong(0) / 2
    val capBinds = degRow.getLong(1) > TriCapDeg
    val cs =
      if (capBinds) capCustomerDegree(pairs, TriCapDeg).localCheckpoint()
      else pairs
    // The wedge fan-out is deg²/2 per customer (measured 125M wedge
    // rows at sf1 from a ~5M-row input). Pin the pair operator's
    // input to an explicit c-hash partitioning (AQE never coalesces a
    // user repartition); per-customer work is bounded by the degree
    // cap, so partitions stay balanced at any scale.
    //
    // The partition COUNT is data-proportional from the EXACT wedge
    // total: a fixed 4×parallelism put ~10M wedge rows per task at
    // the x100 rung and the per-task pair state blew past memory —
    // ~2M wedges per task keeps every partial chunk in memory at any
    // scale; the 4096 cap bounds scheduler pressure (4096 × 2M = 8B
    // wedges before tasks grow past target again). NO parallelism
    // floor: the former 4×cores floor (128 on this box) sprayed the
    // sf0.1 board's 12.5M wedges over 128 partial tasks — 16k shuffle
    // blocks (M×R growth, guide §2.2) and per-task wedge sets too
    // small to combine against the SATURATED 500k pair space, so the
    // partial pass emitted ~11.5M barely-combined rows. jstack showed
    // ~65% of executor samples in shuffle-file write/mmap/unmap; a
    // width sweep measured 0.5 s at 16 parts vs 3.3 s at 128. Wedge-
    // proportional sizing (7 parts at sf0.1, 626 at the x100 rung —
    // x100 unchanged) keeps every chunk fully combined per task and
    // the block count quadratic only in DATA, not in core count.
    val wedgeParts = math.min(4096L, wedgeTotal / 2000000L + 1).toInt
    val a = cs.repartition(wedgeParts, col("c"))
    // the co-purchase weights run through the NATIVE co-occurrence
    // operator ([[graft.plans.CoOccurrencePairs]]): the former
    // self-join + groupBy lowering paid one generic HashAggregate
    // probe per wedge — 1.25e9 wedges × ~1.9 µs ≈ 2.3k CPU-s at the
    // x100 rung, the query's dominant stage — where the fused
    // primitive-map pass generates and combines the same wedges
    // without materializing a row per wedge. Identical exchanges
    // (group-clustered in, pair-hashed out; the explicit repartition
    // above satisfies the first), identical integer counts. The
    // final-merge width rides the same data-proportional wedgeParts.
    //
    // w MATERIALIZES once (eager checkpoint): the symmetrizing union
    // below references it twice, and an unmaterialized lineage made
    // each branch re-run the full pair aggregation — measured at the
    // x100 rung as one stage re-reading 2×11 GB and burning ~1.8k
    // CPU-s. The checkpointed pair relation is ~5% of that shuffle
    // (50M rows at x100), so both union branches cost one cheap scan.
    // COALESCED after the checkpoint: the merge runs wide
    // (wedgeParts tasks) for its map memory, but downstream consumers
    // of the 628-block checkpoint at that width paid per-block
    // map/unmap and per-task overhead far above their row counts
    // (jstack-sampled: FileChannel map/unmap dominated the TopK
    // stage). Reading the blocks back through a narrow coalesce keeps
    // the materialized width for the merge and the consumer width at
    // the core count.
    // DISK_ONLY, not the default MEMORY_AND_DISK: the checkpointed
    // pair relation is ~50M UnsafeRow OBJECTS at the x100 rung — ~4 GB
    // resident as deserialized cache blocks, which the memory manager
    // happily keeps while the TopK partial's (untracked) per-key heaps
    // also grow, and the 8 GB driver JVM OOMed in exactly that state
    // (round-18 repro: OOM in TopKPerKeyExec row copies with the w
    // blocks pinned). Serialized-to-disk blocks cost one sequential
    // re-read per union branch (~1.2 GB at x100) and zero heap.
    val w = graft.plans.CoOccurrencePairs
      .pairCounts(a, "c", "s", Some(wedgeParts))
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
      .coalesce(2 * spark.sparkContext.defaultParallelism)
    val und = w.select(col("s1").as("src"), col("s2").as("dst"), col("w"))
      .unionByName(w.select(col("s2").as("src"), col("s1").as("dst"),
        col("w")))
    // partial key cap at the DEFAULT 64k: the union stage is NOT
    // key-partitioned, so every one of the ~32 concurrent partial
    // tasks tracks up to min(cap, node count) keys — at the x100 rung
    // (100k suppliers) a 1M cap let each task hold ~100k key heaps of
    // copied rows, and 32 tasks of untracked heap state on top of the
    // pair checkpoint OOMed the 8 GB JVM (round-18 repro, stack in
    // TopKPerKeyExec). The default bounds partial state at
    // 64k·k rows/task; overflow keys stream through uncut and the
    // final pass still cuts exactly — a bounded-memory shuffle tax,
    // never a crash.
    val sel = graft.plans.TopKPerKey.topKPerKey(und,
      Seq("src"), Seq("w" -> false, "dst" -> true), TriTopM)
    val e = sel
      .select(least(col("src"), col("dst")).as("s1"),
        greatest(col("src"), col("dst")).as("s2"))
      .distinct()
      .localCheckpoint()
    triangleCounts(e)
  }

  /** Core of [[qTriangles]]: per-node triangle participation over a
    * canonical (s1 < s2, distinct) undirected edge list. Exposed for
    * the crafted-graph spec.
    *
    * DEGREE-ORDERED orientation (the node-iterator++ / "forward"
    * algorithm of Schank & Wagner / Latapy — standard published
    * technique): every edge is oriented from its lower-(degree, id)
    * endpoint to the higher, wedges are enumerated ONLY among the
    * out-neighbors of each apex, and a wedge (v→u1, v→u2) closes iff
    * the oriented edge u1→u2 exists. Each triangle is then counted
    * exactly once, at its minimum-(degree, id) vertex. The win over
    * the previous id-oriented join is the wedge mass: id order pays
    * Σ_b smaller(b)·larger(b) ≈ Σ d²/4 — dominated by hub nodes that
    * many low-degree suppliers pick as a top-M partner — while degree
    * order pays Σ d_out(d_out−1)/2 with d_out ≤ O(√|E|) (a vertex's
    * out-neighbors all have degree ≥ its own), so hubs collect
    * in-edges but never fan wedges out. Exact count, same output,
    * strictly less join input at every scale.
    *
    * The tie rule (degree, then id) is a total order, so orientation
    * is acyclic and deterministic; the oracle replays the identical
    * count because the TRIANGLE SET is orientation-invariant — only
    * the enumeration order changed. */
  def triangleCounts(e: DataFrame): DataFrame = {
    // undirected degrees: one agg over both endpoint projections
    val deg = e.select(col("s1").as("v"))
      .unionByName(e.select(col("s2").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val lowFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("s1") < col("s2"))
    // oriented out-edges (v → u), carrying u's degree for the wedge
    // pair order; materialized once — it feeds both wedge arms and
    // the closure probe. deg is node-sized (tiny next to edges), so
    // AQE broadcasts both degree joins.
    val o = e
      .join(deg.select(col("v").as("s1"), col("d").as("da")), "s1")
      .join(deg.select(col("v").as("s2"), col("d").as("db")), "s2")
      .select(
        when(lowFirst, col("s1")).otherwise(col("s2")).as("v"),
        when(lowFirst, col("s2")).otherwise(col("s1")).as("u"),
        when(lowFirst, col("db")).otherwise(col("da")).as("du"))
      .localCheckpoint()
    // wedges at the apex: ordered pairs of out-neighbors by (deg, id)
    val wedges = o.select(col("v"), col("u").as("u1"), col("du").as("du1"))
      .join(o.select(col("v").as("v2"), col("u").as("u2"),
          col("du").as("du2")),
        col("v") === col("v2") &&
          (col("du1") < col("du2") ||
            (col("du1") === col("du2") && col("u1") < col("u2"))))
      .select(col("v"), col("u1"), col("u2"))
    // closure: (u1, u2) ordered low-first by construction, so the
    // closing edge — if present — is oriented u1 → u2 in o
    val tri = wedges
      .join(o.select(col("v").as("x1"), col("u").as("x2")),
        col("u1") === col("x1") && col("u2") === col("x2"))
      .select(col("v").as("ta"), col("u1").as("tb"), col("u2").as("tc"))
    tri.select(explode(array(col("ta"), col("tb"), col("tc"))).as("supp"))
      .groupBy(col("supp")).agg(count(lit(1)).as("n_tri"))
  }

  val ZBits = 8

  /** Z-ORDER (Morton) LAYOUT — the multi-dimensional data-layout
    * primitive behind Delta/Iceberg `ZORDER BY`: co-locating rows by
    * the bit-interleaved key of (l_partkey, l_suppkey) makes parquet
    * row-group min/max pruning effective for predicates on EITHER
    * column, where a 1-D sort only serves its leading column. Each
    * dimension quantizes to [[ZBits]] bits against its in-plan global
    * min/max (a broadcast 1-row aggregate — no driver collect), the
    * interleave is a pure bit expression (codegen, no UDF), and the
    * write bucket is the Z-value's top 6 bits — an 8×8 grid cell, NO
    * global sort or ntile (an un-partitioned window would be the
    * PlansSpec-banned single-task pattern; a prefix of Z IS a range).
    * The query reports per-bucket (count, min/max of both dims): the
    * file-skipping property made measurable — both dims' per-bucket
    * ranges are bounded by their quantization cell, which the spec
    * asserts. At 100 TB the same bucket column feeds
    * `ParquetSink.writePartitioned` and each bucket becomes a
    * prunable file. Integer-exact end to end. */
  def qZorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .select(col("l_partkey").as("x"), col("l_suppkey").as("y"))
    val bounds = li.agg(min(col("x")).as("xlo"), max(col("x")).as("xhi"),
      min(col("y")).as("ylo"), max(col("y")).as("yhi"))
    val q = li.crossJoin(broadcast(bounds))
      .withColumn("xq", floor((col("x") - col("xlo")) * (1 << ZBits)
        / (col("xhi") - col("xlo") + 1)).cast("long"))
      .withColumn("yq", floor((col("y") - col("ylo")) * (1 << ZBits)
        / (col("yhi") - col("ylo") + 1)).cast("long"))
    val z = (0 until ZBits).map { i =>
      shiftleft(shiftright(col("xq"), i).bitwiseAND(lit(1L)), 2 * i + 1) +
        shiftleft(shiftright(col("yq"), i).bitwiseAND(lit(1L)), 2 * i)
    }.reduce(_ + _)
    q.withColumn("zval", z)
      .withColumn("bucket", shiftright(col("zval"), 2 * ZBits - 6))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"))
  }

  /** ANALYZE-style COLUMN PROFILING — the stats collection every
    * cost-based optimizer and data-quality gate runs first: per
    * column of `orders`, row count, null count and EXACT distinct
    * cardinality, computed in ONE scan (Spark expands the multi-
    * distinct aggregate internally) and unpivoted to one row per
    * column. At warehouse scale the exact distincts become the HLL
    * sketches of the `q_approx_distinct*` family — this is the
    * ground-truth shape they approximate. */
  def qProfile(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val aggs = count(lit(1)).as("n") +: cols.flatMap(c => Seq(
      sum(col(c).isNull.cast("long")).as(s"nulls_$c"),
      count_distinct(col(c)).as(s"nd_$c")))
    t(spark, dir, "orders").agg(aggs.head, aggs.tail: _*)
      .select(col("n"), explode(array(cols.map(c =>
        struct(lit(c).as("column"),
          col(s"nulls_$c").as("n_nulls"),
          col(s"nd_$c").as("n_distinct"))): _*)).as("s"))
      .select(col("s.column").as("column"), col("n"),
        col("s.n_nulls").as("n_nulls"),
        col("s.n_distinct").as("n_distinct"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_profile" -> qProfile,
    "q_zorder_layout" -> qZorderLayout,
    "graph_triangles" -> qTriangles,
    "graph_pagerank" -> qPageRank,
    "graph_ppr" -> qPageRankPersonalized,
    "graph_communities" -> qCommunities,
    "graph_sssp" -> qSssp,
    "q_not_in_anti" -> qNotInAnti,
    "q_freq_items_bound" -> qFreqItemsBound,
    "q_grouping_sets" -> qGroupingSets,
    "q_running_total" -> qRunningTotal,
    "q_approx_quantiles_bound" -> qApproxQuantilesBound,
    "q_outer_join" -> qOuterJoin,
    "q_outer_join_full" -> qOuterJoinFull,
    "q_approx_distinct" -> qApproxDistinctBound,
    "q_pivot" -> qPivot,
    "q_cube" -> qCube,
    "q_sample" -> qSample,
    "q_skew_join" -> qSkewJoin,
    "q_bucketed_join" -> qBucketedJoin,
    "q14_promo" -> q14Promo,
    "q_setop2" -> qSetOps2,
    "q_stats" -> qStats,
    "q_quantiles" -> qQuantiles,
    "q1_agg" -> q1Agg,
    "q1_agg_sql" -> q1AggSql,
    "q3_join" -> q3Join,
    "q5_local_supplier" -> q5LocalSupplier,
    "q18_big_spenders" -> q18BigSpenders,
    "q6_forecast" -> q6Forecast,
    "q10_returned_items" -> q10ReturnedItems,
    "q_window_top_orders" -> qWindowTopOrders,
    "q_topk" -> qTopK,
    "q_topk_native" -> qTopKNative,
    "q_cms_topk" -> qCmsTopK,
    "q_semi_join" -> qSemiJoin,
    "q_anti_join" -> qAntiJoin,
    "q_rollup" -> qRollup,
    "q_setop" -> qSetOp,
    "q_distinct" -> qDistinct,
    "q_monthly" -> qMonthly)

  private def zInterleaveSql: String =
    (0 until ZBits).map { i =>
      s"(((xq >> $i) & 1) << ${2 * i + 1}) + (((yq >> $i) & 1) << ${2 * i})"
    }.mkString(" + ")

  private def profileSql: String = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val rows = cols.map { c =>
      s"""SELECT '$c' AS "column", count(*) AS n,
         |       CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_nulls,
         |       count(DISTINCT $c) AS n_distinct
         |FROM orders""".stripMargin
    }
    rows.mkString("\nUNION ALL\n")
  }

  val oracles: Map[String, String] = Map(
    "q_profile" -> profileSql,
    "q_zorder_layout" ->
      s"""WITH li AS (
         |  SELECT l_partkey AS x, l_suppkey AS y FROM lineitem
         |), b AS (
         |  SELECT min(x) AS xlo, max(x) AS xhi,
         |         min(y) AS ylo, max(y) AS yhi
         |  FROM li
         |), q AS (
         |  SELECT x, y,
         |    CAST(floor((x - xlo) * ${1 << ZBits} / (xhi - xlo + 1))
         |      AS BIGINT) AS xq,
         |    CAST(floor((y - ylo) * ${1 << ZBits} / (yhi - ylo + 1))
         |      AS BIGINT) AS yq
         |  FROM li, b
         |), z AS (
         |  SELECT x, y, ($zInterleaveSql) AS zval FROM q
         |)
         |SELECT (zval >> ${2 * ZBits - 6}) AS bucket, count(*) AS n,
         |       min(x) AS x_min, max(x) AS x_max,
         |       min(y) AS y_min, max(y) AS y_max
         |FROM z GROUP BY 1""".stripMargin,
    "graph_triangles" ->
      s"""WITH cs0 AS (
         |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |), cs AS (
         |  SELECT c, s FROM (
         |    SELECT c, s, row_number() OVER (PARTITION BY c ORDER BY s) AS rn
         |    FROM cs0)
         |  WHERE rn <= $TriCapDeg
         |), w AS (
         |  SELECT a.s AS s1, b.s AS s2, count(*) AS w
         |  FROM cs a JOIN cs b ON a.c = b.c AND a.s < b.s
         |  GROUP BY 1, 2
         |), und AS (
         |  SELECT s1 AS src, s2 AS dst, w FROM w
         |  UNION ALL
         |  SELECT s2 AS src, s1 AS dst, w FROM w
         |), sel AS (
         |  SELECT src, dst FROM (
         |    SELECT src, dst,
         |           row_number() OVER (PARTITION BY src
         |                              ORDER BY w DESC, dst) AS rn
         |    FROM und)
         |  WHERE rn <= $TriTopM
         |), e AS (
         |  SELECT DISTINCT least(src, dst) AS s1, greatest(src, dst) AS s2
         |  FROM sel
         |), tri AS (
         |  SELECT ab.s1 AS a, ab.s2 AS b, bc.s2 AS c
         |  FROM e ab
         |  JOIN e bc ON ab.s2 = bc.s1
         |  JOIN e ac ON ac.s1 = ab.s1 AND ac.s2 = bc.s2
         |)
         |SELECT supp, count(*) AS n_tri
         |FROM (SELECT unnest([a, b, c]) AS supp FROM tri)
         |GROUP BY supp""".stripMargin,
    // replays the fixed-round power iteration with the Lloyd-replay
    // state-row technique: one recursive row carries the full rank
    // list; each LATERAL recomputes contributions from the base edge
    // table and re-rounds to 12dp so both engines hold identical state
    "graph_pagerank" ->
      s"""WITH RECURSIVE cs AS (
         |  SELECT DISTINCT concat('c', o_custkey) AS src,
         |                  concat('s', l_suppkey) AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |), edges AS (
         |  SELECT src, dst FROM cs UNION ALL SELECT dst, src FROM cs
         |), deg AS (
         |  SELECT src, count(*) AS outdeg FROM edges GROUP BY src
         |), nodes AS (
         |  SELECT DISTINCT src AS node FROM edges
         |), nn AS (SELECT count(*) AS n FROM nodes
         |), iter AS (
         |  SELECT 0 AS r,
         |    (SELECT list(struct_pack(node := node,
         |                             pr := 1.0 / (SELECT n FROM nn))
         |            ORDER BY node) FROM nodes) AS prs
         |  UNION ALL
         |  SELECT s.r + 1, nxt.prs
         |  FROM iter s, LATERAL (
         |    WITH cur AS (
         |      SELECT u.node AS node, u.pr AS pr
         |      FROM (SELECT unnest(s.prs) AS u)
         |    ), contrib AS (
         |      SELECT e.dst AS node, sum(c.pr / d.outdeg) AS cb
         |      FROM edges e
         |      JOIN deg d ON e.src = d.src
         |      JOIN cur c ON e.src = c.node
         |      GROUP BY e.dst
         |    )
         |    SELECT (SELECT list(struct_pack(node := n.node,
         |              pr := round((1 - $PrDamp) / (SELECT n FROM nn)
         |                    + $PrDamp * coalesce(c.cb, 0.0), 12))
         |            ORDER BY n.node)
         |            FROM nodes n LEFT JOIN contrib c ON n.node = c.node)
         |      AS prs
         |  ) nxt
         |  WHERE s.r < $PrIters
         |)
         |SELECT u.node AS node, round(u.pr, 9) AS pagerank
         |FROM (SELECT prs FROM iter ORDER BY r DESC LIMIT 1) f,
         |     (SELECT unnest(f.prs) AS u) s2""".stripMargin,
    // personalized PageRank replayed: the same recursion with all
    // restart mass on the lexicographically-smallest node
    "graph_ppr" ->
      s"""WITH RECURSIVE cs AS (
         |  SELECT DISTINCT concat('c', o_custkey) AS src,
         |                  concat('s', l_suppkey) AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |), edges AS (
         |  SELECT src, dst FROM cs UNION ALL SELECT dst, src FROM cs
         |), deg AS (
         |  SELECT src, count(*) AS outdeg FROM edges GROUP BY src
         |), nodes AS (
         |  SELECT DISTINCT src AS node FROM edges
         |), sd AS (SELECT min(node) AS sn FROM nodes
         |), iter AS (
         |  SELECT 0 AS r,
         |    (SELECT list(struct_pack(node := node,
         |       pr := CAST(CASE WHEN node = (SELECT sn FROM sd)
         |                       THEN 1.0 ELSE 0.0 END AS DOUBLE))
         |            ORDER BY node) FROM nodes) AS prs
         |  UNION ALL
         |  SELECT s.r + 1, nxt.prs
         |  FROM iter s, LATERAL (
         |    WITH cur AS (
         |      SELECT u.node AS node, u.pr AS pr
         |      FROM (SELECT unnest(s.prs) AS u)
         |    ), contrib AS (
         |      SELECT e.dst AS node, sum(c.pr / d.outdeg) AS cb
         |      FROM edges e
         |      JOIN deg d ON e.src = d.src
         |      JOIN cur c ON e.src = c.node
         |      GROUP BY e.dst
         |    )
         |    SELECT (SELECT list(struct_pack(node := n.node,
         |              pr := round(CAST(CASE WHEN n.node = (SELECT sn FROM sd)
         |                                THEN 1 - $PrDamp ELSE 0.0 END
         |                           AS DOUBLE)
         |                    + $PrDamp * coalesce(c.cb, 0.0), 12))
         |            ORDER BY n.node)
         |            FROM nodes n LEFT JOIN contrib c ON n.node = c.node)
         |      AS prs
         |  ) nxt
         |  WHERE s.r < $PrIters
         |)
         |SELECT u.node AS node, round(u.pr, 9) AS ppr
         |FROM (SELECT prs FROM iter ORDER BY r DESC LIMIT 1) f,
         |     (SELECT unnest(f.prs) AS u) s2""".stripMargin,
    // sync LPA replayed round by round (LpaRounds is small and fixed,
    // so the rounds unroll into chained CTEs — no recursion needed);
    // the vote argmax is the same deterministic (count DESC, label)
    // rule both engines apply
    "graph_communities" -> {
      val rounds = (1 to LpaRounds).map { i =>
        s"""v$i AS (
           |  SELECT e.dst AS node, l.lab, count(*) AS cnt
           |  FROM edges e JOIN l${i - 1} l ON l.node = e.src
           |  GROUP BY 1, 2
           |), l$i AS (
           |  SELECT node, lab FROM (
           |    SELECT node, lab, row_number() OVER (
           |      PARTITION BY node ORDER BY cnt DESC, lab) AS rn
           |    FROM v$i)
           |  WHERE rn = 1
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH cs AS (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |), edges AS (
         |  SELECT src, dst FROM cs UNION ALL SELECT dst, src FROM cs
         |), l0 AS (
         |  SELECT DISTINCT src AS node, src AS lab FROM edges
         |), $rounds
         |SELECT (CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END
         |        || CAST(node // 2 AS BIGINT)) AS node,
         |       (CASE WHEN lab % 2 = 0 THEN 'c' ELSE 's' END
         |        || CAST(lab // 2 AS BIGINT)) AS community
         |FROM l$LpaRounds""".stripMargin
    },
    // Bellman-Ford unrolled round for round: d_r = min(d_{r-1},
    // 1 + d_{r-1} over incoming edges) — min is order-free, so the
    // replay is exact
    "graph_sssp" -> {
      val rounds = (1 to SsspRounds).map { i =>
        s"""d$i AS (
           |  SELECT node, min(dist) AS dist FROM (
           |    SELECT node, dist FROM d${i - 1}
           |    UNION ALL
           |    SELECT e.dst AS node, d.dist + 1 AS dist
           |    FROM d${i - 1} d JOIN edges e ON e.src = d.node)
           |  GROUP BY node
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH cs AS (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |), edges AS (
         |  SELECT src, dst FROM cs UNION ALL SELECT dst, src FROM cs
         |), d0 AS (
         |  SELECT DISTINCT src AS node, 0 AS dist FROM edges
         |  WHERE src % 100 = 0
         |), $rounds
         |SELECT (CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END
         |        || CAST(node // 2 AS BIGINT)) AS node,
         |       CAST(dist AS BIGINT) AS dist
         |FROM d$SsspRounds""".stripMargin
    },
    "q_not_in_anti" ->
      """WITH early AS (
        |  SELECT l_partkey FROM lineitem
        |  WHERE l_shipdate < TIMESTAMP '1995-07-01'
        |), nulled AS (
        |  SELECT nullif(l_partkey, (SELECT min(l_partkey) FROM lineitem
        |                            WHERE l_shipdate <
        |                              TIMESTAMP '1995-07-01')) AS k
        |  FROM early
        |)
        |SELECT
        |  (SELECT count(*) FROM part
        |   WHERE p_partkey NOT IN (SELECT l_partkey FROM early))
        |    AS n_not_in_clean,
        |  (SELECT count(*) FROM part
        |   WHERE p_partkey NOT IN (SELECT k FROM nulled))
        |    AS n_not_in_withnull,
        |  (SELECT count(*) FROM part p
        |   WHERE NOT EXISTS (SELECT 1 FROM nulled n
        |                     WHERE n.k = p.p_partkey))
        |    AS n_not_exists_withnull""".stripMargin,
    "q_freq_items_bound" ->
      """SELECT source,
        |  round(CAST(count(*) AS DOUBLE) /
        |        (SELECT count(*) FROM documents), 6) AS share,
        |  true AS guarantee_holds
        |FROM documents GROUP BY source""".stripMargin,
    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus) * 2 +
        |       GROUPING(o_orderpriority) AS BIGINT) AS gid,
        |  count(1) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""".stripMargin,
    "q_running_total" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    AS running_total,
        |  count(*) OVER w AS running_n
        |FROM orders
        |WHERE o_custkey % 100 = 0
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,
    "q_approx_quantiles_bound" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS exact_p90,
        |  true AS p50_within_rank_2pct,
        |  true AS p90_within_rank_2pct
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_outer_join" ->
      """SELECT c_custkey, count(o_custkey) AS n_big_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_big
        |FROM customer LEFT JOIN orders
        |  ON c_custkey = o_custkey AND o_totalprice > 400000
        |GROUP BY c_custkey""".stripMargin,
    "q_outer_join_full" ->
      """WITH big AS (
        |  SELECT o_custkey, count(*) AS n_big FROM orders
        |  WHERE o_totalprice > 400000 GROUP BY o_custkey
        |), bld AS (
        |  SELECT c_custkey, round(c_acctbal, 2) AS acctbal FROM customer
        |  WHERE c_mktsegment = 'BUILDING'
        |)
        |SELECT coalesce(o_custkey, c_custkey) AS custkey, n_big, acctbal
        |FROM big FULL JOIN bld ON o_custkey = c_custkey""".stripMargin,
    "q_setop2" ->
      """WITH a AS (SELECT c_custkey FROM customer
        |           WHERE c_mktsegment = 'BUILDING'),
        |     b AS (SELECT o_custkey AS c_custkey FROM orders
        |           WHERE o_totalprice > 300000)
        |SELECT
        |  (SELECT count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b))
        |    AS n_intersect,
        |  (SELECT count(*) FROM (SELECT * FROM a UNION SELECT * FROM b))
        |    AS n_union,
        |  (SELECT count(*) FROM (SELECT * FROM a UNION ALL SELECT * FROM b))
        |    AS n_union_all""".stripMargin,
    "q14_promo" ->
      """WITH r AS (
        |  SELECT CAST(l_extendedprice AS DECIMAL(18,2)) *
        |         (CAST(1 AS DECIMAL(18,2)) -
        |          CAST(l_discount AS DECIMAL(18,2))) AS rev, p_type
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        |    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        |)
        |SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev
        |                                   ELSE CAST(0 AS DECIMAL(18,2)) END)
        |                     AS DOUBLE)
        |             / CAST(sum(rev) AS DOUBLE), 6) AS promo_revenue_pct,
        |  CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev
        |           ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |    AS promo_revenue,
        |  CAST(sum(rev) AS DOUBLE) AS total_revenue
        |FROM r""".stripMargin,
    // bucketing is a physical layout choice — the logical join result
    // must equal the plain join bit-for-bit
    "q_bucketed_join" ->
      """SELECT o_orderstatus, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus""".stripMargin,
    "q_skew_join" ->
      """SELECT s_nationkey, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey""".stripMargin,
    "q_pivot" ->
      """SELECT o_orderpriority,
        |  coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    FILTER (WHERE o_orderstatus = 'F') AS DOUBLE), 0.0) AS total_f,
        |  coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    FILTER (WHERE o_orderstatus = 'O') AS DOUBLE), 0.0) AS total_o,
        |  coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    FILTER (WHERE o_orderstatus = 'P') AS DOUBLE), 0.0) AS total_p
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
    "q_sample" ->
      """SELECT l_returnflag, count(*) AS n_sampled,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM (
        |  SELECT l_returnflag, l_quantity,
        |    CAST(CAST(concat('0x', substr(md5(concat(
        |      CAST(l_orderkey AS VARCHAR), ':',
        |      CAST(l_linenumber AS VARCHAR))), 1, 8)) AS BIGINT) AS DOUBLE)
        |      / 4294967296.0 AS u,
        |    CASE WHEN l_returnflag = 'A' THEN 0.1
        |         WHEN l_returnflag = 'N' THEN 0.2
        |         ELSE 0.5 END AS rate
        |  FROM lineitem)
        |WHERE u < rate GROUP BY l_returnflag""".stripMargin,
    "q_approx_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  count(DISTINCT l_orderkey) AS exact_orders,
        |  true AS parts_within_5pct,
        |  true AS orders_within_5pct
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_stats" ->
      """SELECT l_returnflag,
        |  round(stddev_samp(l_quantity), 6) AS sd_qty,
        |  round(corr(l_extendedprice, l_quantity), 6) AS corr_price_qty,
        |  round(covar_samp(l_discount, l_tax), 8) AS cov_disc_tax
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_quantiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
        |  round(avg(l_discount), 6) AS avg_disc
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q1_agg_sql" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_join" ->
      """SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |       AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "q6_forecast" ->
      """SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                        CAST(l_discount AS DECIMAL(18,2)))
        |                  AS DOUBLE), 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                 (CAST(1 AS DECIMAL(18,2)) -
        |                  CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2)
        |    AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1995-10-01'
        |  AND o_orderdate < TIMESTAMP '1996-01-01'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,
    "q18_big_spenders" ->
      """WITH hot AS (
        |  SELECT l_orderkey, sum(l_quantity) AS sum_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300
        |)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate,
        |       round(o_totalprice, 2) AS o_totalprice, sum_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN hot ON o_orderkey = hot.l_orderkey
        |ORDER BY round(o_totalprice, 2) DESC, o_orderkey
        |LIMIT 100""".stripMargin,
    "q5_local_supplier" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |       AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |              AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "q_window_top_orders" ->
      """SELECT o_custkey, rn, o_orderkey, round(o_totalprice, 2) AS o_totalprice
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3""".stripMargin,
    "q_topk_native" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3""".stripMargin,
    "q_topk" ->
      """SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS l_extendedprice
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 20""".stripMargin,
    // the CMS replayed cell-for-cell: ONE md5 per key sliced into D
    // 32-bit windows (the plan's hashing-cost trick), same D×W grid,
    // same min-over-rows estimate; the error witness is the
    // cross-multiplied integer form, so no float appears anywhere
    "q_cms_topk" ->
      s"""WITH keys AS (
         |  SELECT CAST(l_suppkey AS BIGINT) AS key FROM lineitem
         |), h AS (
         |  SELECT key, d,
         |    CAST(concat('0x', substr(md5(concat('cms:',
         |      CAST(key AS VARCHAR))), CAST(1 + 8 * d AS INT), 8))
         |      AS BIGINT) % $CmsW AS bucket
         |  FROM keys
         |  CROSS JOIN (SELECT unnest(generate_series(0, ${CmsD - 1})) AS d)
         |), cms AS (
         |  SELECT d, bucket, count(*) AS cell FROM h GROUP BY d, bucket
         |), n AS (
         |  SELECT count(*) AS n_total FROM keys
         |), top AS (
         |  SELECT key, count(*) AS exact_c FROM keys GROUP BY key
         |  ORDER BY exact_c DESC, key LIMIT $CmsTopK
         |), tb AS (
         |  SELECT t.key, t.exact_c, d,
         |    CAST(concat('0x', substr(md5(concat('cms:',
         |      CAST(t.key AS VARCHAR))), CAST(1 + 8 * d AS INT), 8))
         |      AS BIGINT) % $CmsW AS bucket
         |  FROM top t
         |  CROSS JOIN (SELECT unnest(generate_series(0, ${CmsD - 1})) AS d)
         |), est AS (
         |  SELECT tb.key, tb.exact_c, min(c.cell) AS est_c
         |  FROM tb JOIN cms c ON c.d = tb.d AND c.bucket = tb.bucket
         |  GROUP BY tb.key, tb.exact_c
         |)
         |SELECT key, exact_c, est_c,
         |  (est_c >= exact_c) AS never_undercounts,
         |  ((est_c - exact_c) * $CmsW <= 2 * n.n_total) AS within_bound
         |FROM est CROSS JOIN n""".stripMargin,
    "q_semi_join" ->
      """SELECT n_name, count(*) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |GROUP BY n_name""".stripMargin,
    "q_anti_join" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_partkey = p_partkey
        |                    AND l_shipdate < TIMESTAMP '1995-07-01')""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q_setop" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |EXCEPT
        |SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000""".stripMargin,
    "q_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        |       count(DISTINCT l_suppkey) AS n_supps,
        |       count(DISTINCT (l_partkey, l_suppkey)) AS n_pairs
        |FROM lineitem""".stripMargin,
    "q_monthly" ->
      """SELECT CAST(epoch_us(date_trunc('month', o_orderdate)) AS BIGINT)
        |         AS month_us,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1""".stripMargin)
}
