package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Event-stream operators in their BATCH form (the oracle-checkable
  * side): tumbling-window aggregation, gap-based sessionization, JSON
  * property extraction, filtered top-k.
  *
  * Time travels as epoch MICROSECONDS (unix_micros / epoch_us) so the
  * parquet ns-precision column compares exactly between Spark and
  * DuckDB.
  */
object Events {

  /** The events table's `ts` has shipped under THREE physical parquet
    * encodings across testdata generations, and the reader must accept
    * all of them without session-conf coupling (one regeneration to
    * `timestamp[us]` silently took the whole family off the correctness
    * board in round 7):
    *
    *  - `timestamp[ns]` + `spark.sql.legacy.parquet.nanosAsLong=true`
    *    (set in Verify/Bench/the test harness — without it Spark's
    *    reader rejects NANOS outright): arrives as a nano-epoch LONG,
    *    narrowed here to µs. Both Spark's `DIV` and DuckDB's `epoch_us`
    *    floor toward zero; data is post-1970, so they agree exactly.
    *  - `timestamp[us]` naive (isAdjustedToUTC=false) → TIMESTAMP_NTZ:
    *    the raw µs value IS the wall clock; recover it by casting
    *    through the session zone and undoing that zone's offset with
    *    `from_utc_timestamp` — an exact round-trip (and a no-op) under
    *    the UTC session zone every entry point pins, and exact
    *    everywhere except inside a DST transition hour otherwise.
    *  - `timestamp[us]` UTC-adjusted → TIMESTAMP: already an instant;
    *    `unix_micros` reads it directly.
    *
    * All three yield the identical `ts_us` BIGINT (EventsEncodingSpec
    * pins this on fabricated files of each encoding), and DuckDB's
    * `epoch_us(ts)` in the oracles is encoding-agnostic on its side. */
  def events(spark: SparkSession, dir: String): DataFrame =
    withTsUs(t(spark, dir, "events"))

  /** Derive epoch-µs `ts_us` from whatever physical type `ts` arrived
    * as (see [[events]]). Pure column logic — usable on any frame with
    * a `ts` column, batch or fixture. */
  def withTsUs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val tsUs = df.schema("ts").dataType match {
      case LongType => expr("ts DIV 1000") // legacy nanosAsLong path
      case TimestampType => unix_micros(col("ts"))
      case TimestampNTZType =>
        val zone = df.sparkSession.sessionState.conf.sessionLocalTimeZone
        unix_micros(from_utc_timestamp(col("ts").cast(TimestampType), zone))
      case other => throw new IllegalArgumentException(
        s"events.ts: unsupported physical type $other (expected " +
          "nano-long, TIMESTAMP or TIMESTAMP_NTZ)")
    }
    df.withColumn("ts_us", tsUs)
  }

  private val HourUs = 3600L * 1000 * 1000

  /** Tumbling 1-hour window counts + value sums per event type. */
  def evHourly(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy((expr(s"ts_us DIV $HourUs") * HourUs).as("hour_us"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))

  /** SLIDING 1-hour windows on a 30-minute slide (evHourly covers
    * tumbling): Spark's native `window()` generator assigns each event
    * to its size/slide = 2 overlapping windows — the same 2-candidate
    * explode the banded range join does by hand, here done by the
    * TimeWindow expression inside codegen. Output keyed by window
    * start in epoch-µs for oracle parity. */
  def evHourlySliding(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("tsm", timestamp_micros(col("ts_us")))
      .groupBy(window(col("tsm"), "1 hour", "30 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("n"), col("sum_value"))

  val SessionGapUs: Long = 30L * 60 * 1000 * 1000 // 30 min

  /** Gap-based sessionization: per-user sessions split on >30 min
    * silence. One shuffle on user_id; two window passes (lag → running
    * session counter) — the batch mirror of
    * `flatMapGroupsWithState` sessionization. */
  def evSessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          col("ts_us") - col("prev_us") > SessionGapUs, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"))
      .withColumn("duration_us", col("end_us") - col("start_us"))

  }

  /** EVENT TRANSITION MATRIX — per-user next-event Markov counts,
    * the path-analysis primitive under funnels and journey mining:
    * each user's event sequence (total order: ts_us, event_id)
    * yields (previous type → type) pairs via one lag window inside
    * the user partition; the global matrix is then a tiny
    * (from, to)-keyed aggregate. Cost at any scale: ONE user-keyed
    * shuffle for the window (the sessionize exchange), partial
    * map-side counts into a #types²-row result — the matrix itself
    * never grows with the corpus. */
  def evTransitions(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .where(col("prev_type").isNotNull)
      .select(col("prev_type").as("from_type"),
        col("event_type").as("to_type"))
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** Sessionization through Spark's NATIVE session_window operator
    * (MergingSessions physical aggregation) — cross-checking the
    * hand-rolled lag/sum lowering in [[evSessionize]]. Boundary
    * semantics differ at exactly-gap spacing: session_window merges
    * while next.ts < prev.ts + gap (strict), i.e. a gap of EXACTLY
    * 30 min starts a new session, where evSessionize's `diff > gap`
    * split keeps it — the oracle mirrors the native `>=` split.
    * Output keyed by (user_id, start_us); no ordinal session id. */
  def evSessionizeNative(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("tsm", timestamp_micros(col("ts_us")))
      .groupBy(col("user_id"),
        session_window(col("tsm"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"))
      .select(col("user_id"), col("n_events"), col("start_us"),
        col("end_us"), (col("end_us") - col("start_us")).as("duration_us"))

  /** JSON property extraction + aggregation: props is a JSON string
    * column; pull `$.k`, aggregate per event type. */
  def evJson(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_with_k"),
        round(avg(col("k")), 6).as("avg_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))

  /** FORWARD as-of join — the mirror of [[evAsof]]: each purchase
    * matched to the user's NEXT click strictly after it (time-to-
    * next-action analysis). Same single-window-pass lowering with the
    * frame reversed: first ignoreNulls over the FOLLOWING frame,
    * clicks tie-sorted BEFORE purchases at equal ts so an equal-ts
    * click is NOT in a purchase's following frame — "strictly after"
    * holds at boundaries. One shuffle on user_id, no range
    * self-join. */
  def evAsofForward(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"),
        lit(null).cast("long").as("event_id"), lit(0).as("tag"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), col("event_id"),
        lit(1).as("tag"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("tag"))
      .rowsBetween(1, Window.unboundedFollowing)
    clicks.unionByName(purchases)
      .withColumn("next_click_us",
        first(when(col("tag") === 0, col("ts_us")), ignoreNulls = true)
          .over(w))
      .where(col("tag") === 1)
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("next_click_us"))
  }

  /** LAST-TOUCH ATTRIBUTION — the marketing-analytics staple built on
    * the as-of machinery: every purchase is attributed to the CHANNEL
    * of the user's most recent click at-or-before it (channel =
    * click's props.k mod 3; purchases with no prior click fall in the
    * 'organic' bucket), then revenue and counts aggregate per
    * channel. Same scale shape as [[evAsof]]: tag both streams,
    * union, ONE user-partitioned window pass carrying the last
    * click's channel forward (ignoreNulls last, clicks tie-sorted
    * before purchases at equal ts), filter back to purchases, one
    * k-row aggregate. Revenue sums in DECIMAL (order-free). */
  def evAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"),
        concat(lit("ch"),
          pmod(get_json_object(col("props"), "$.k").cast("long"), lit(3)))
          .as("channel"),
        lit(null).cast("double").as("value"), lit(0).as("tag"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"),
        lit(null).cast("string").as("channel"),
        col("value"), lit(1).as("tag"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("tag"))
      .rowsBetween(Window.unboundedPreceding, 0)
    clicks.unionByName(purchases)
      .withColumn("attr",
        last(when(col("tag") === 0, col("channel")), ignoreNulls = true)
          .over(w))
      .where(col("tag") === 1)
      .groupBy(coalesce(col("attr"), lit("organic")).as("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2)
          .as("revenue"))
  }

  /** Filtered top-k: top 10 users by total purchase value. The
    * event_type filter pushes into the parquet scan. */
  def evTopUsers(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .where(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(round(sum(col("value")), 4).as("total_value"),
        count(lit(1)).as("n_purchases"))
      .orderBy(col("total_value").desc, col("user_id"))
      .limit(10)

  private val DayUs = 86400L * 1000 * 1000

  /** Weekly cohort retention: users grouped by first-seen week; for each
    * (cohort, weeks-since) the count of distinct users active. The
    * first-seen table is a per-user aggregate joined back — the standard
    * two-shuffle cohort shape (groupBy user, then groupBy cohort). */
  def evRetention(spark: SparkSession, dir: String): DataFrame = {
    // integer week index (floor division — DuckDB's CAST(double) rounds,
    // so never divide-then-cast cross-engine)
    val ev = events(spark, dir)
      .select(col("user_id"), expr(s"ts_us DIV ${7 * DayUs}").as("week"))
    val firstSeen = ev.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    ev.join(firstSeen, "user_id")
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("weeks_since"))
      .agg(countDistinct(col("user_id")).as("active_users"))
  }

  /** AS-OF join — an operator Spark has no native form of: each
    * purchase matched to the user's most recent click at-or-before it.
    * Lowered the scale-safe way: tag both streams, union, ONE window
    * pass carrying the last click timestamp forward (ignoreNulls last),
    * filter back to purchases. One shuffle on user_id, no range
    * self-join, no per-row subquery — the same shape at 100 TB, and the
    * batch mirror of a flatMapGroupsWithState join. Clicks tie-sorted
    * before purchases at equal ts (at-or-before semantics). */
  def evAsof(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"), lit(null).cast("long").as("event_id"),
        lit(0).as("tag"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), col("event_id"), lit(1).as("tag"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("tag"))
      .rowsBetween(Window.unboundedPreceding, 0)
    clicks.unionByName(purchases)
      .withColumn("last_click_us",
        last(when(col("tag") === 0, col("ts_us")), ignoreNulls = true).over(w))
      .where(col("tag") === 1)
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("last_click_us"))
  }

  /** Range join, bin-blocked: for each purchase, how many clicks the
    * same user made in the preceding hour. Instead of an unbounded
    * inequality self-join (O(n·m) within each user), purchases explode
    * to their 2 candidate hour-bins and join clicks on
    * (user_id, hour_bin) — an EQUI key that hash-partitions — with the
    * exact range check as a post-join filter. Candidate pairs are
    * bounded by events-per-user-per-2-hours, independent of history
    * length. Left join + click-count so zero-click purchases keep a row. */
  def evRecentClicks(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"),
        expr(s"ts_us DIV $HourUs").as("c_bin"), col("ts_us").as("c_ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts_us"))
      // (ts−H) DIV H = ts DIV H − 1 exactly, so the 2 candidate bins
      // are always distinct — no dedup needed, the explode is exact
      .withColumn("bin",
        explode(array(expr(s"(ts_us - $HourUs) DIV $HourUs"),
          expr(s"ts_us DIV $HourUs"))))
    purchases
      .join(clicks,
        col("user_id") === col("c_user") && col("bin") === col("c_bin") &&
          col("c_ts") >= col("ts_us") - HourUs && col("c_ts") < col("ts_us"),
        "left")
      .groupBy(col("user_id"), col("event_id"), col("ts_us"))
      .agg(count(col("c_ts")).as("n_recent_clicks"))
  }

  /** Ordered funnel (view → click → purchase): per user, how many
    * purchases complete the chain — a prior click that itself had a
    * prior view, all at-or-before in event time. Lowered as CASCADED
    * as-of passes over ONE (user_id, ts, stage) sort: the first window
    * carries the last view timestamp forward, the second carries the
    * last view-qualified click; purchases then just read a flag. No
    * stage-to-stage self-joins — at 100 TB this is one shuffle + one
    * sort per user partition, independent of funnel depth beyond the
    * window-expression count. Stage rank breaks event-time ties so
    * same-timestamp chains resolve in funnel order. */
  def evFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .where(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_id"), col("ts_us"),
        when(col("event_type") === "view", 0)
          .when(col("event_type") === "click", 1)
          .otherwise(2).as("stage"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("stage"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    ev
      .withColumn("last_view_us",
        last(when(col("stage") === 0, col("ts_us")), ignoreNulls = true)
          .over(w))
      .withColumn("last_qclick_us",
        last(when(col("stage") === 1 && col("last_view_us").isNotNull,
          col("ts_us")), ignoreNulls = true).over(w))
      .where(col("stage") === 2)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
        count(when(col("last_qclick_us").isNotNull, 1)).as("n_converted"))
  }

  /** TIME-BOUNDED funnel — [[evFunnel]] with CONVERSION WINDOWS, the
    * form product analytics actually ships (an unbounded funnel counts
    * a view from last year as qualifying today's purchase): each stage
    * must follow its predecessor within [[DayUs]] (one hour converts
    * nothing on this data's inter-event gaps; one day splits the
    * unbounded funnel's conversions ~1:6 — a discriminating gate). Same single-sort
    * cascaded-window lowering — the recency bound composes cleanly
    * because the carried value is the LATEST qualifying predecessor,
    * which is always the CLOSEST one: "most recent view within W of
    * this click" ⟺ "∃ view within W", and qualified-click timestamps
    * form their own carried sequence for the purchase test. Still one
    * shuffle + one sort per user partition, no stage self-joins, no
    * range join — the bound is a filter on the carried column. */
  def evFunnelWindowed(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .where(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_id"), col("ts_us"),
        when(col("event_type") === "view", 0)
          .when(col("event_type") === "click", 1)
          .otherwise(2).as("stage"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("stage"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    ev
      .withColumn("last_view_us",
        last(when(col("stage") === 0, col("ts_us")), ignoreNulls = true)
          .over(w))
      .withColumn("last_qclick_us",
        last(when(col("stage") === 1 && col("last_view_us").isNotNull &&
          col("ts_us") - col("last_view_us") <= DayUs,
          col("ts_us")), ignoreNulls = true).over(w))
      .where(col("stage") === 2)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
        count(when(col("last_qclick_us").isNotNull &&
          col("ts_us") - col("last_qclick_us") <= DayUs, 1))
          .as("n_converted_1d"))
  }

  /** Per-user anomaly detection — z-score outliers against each user's
    * own value distribution, the standard telemetry/abuse screen.
    * Moments ride a window over the user partition (see [[anomalyOf]]
    * for the one-exchange plan rationale); scores are rounded BEFORE
    * the threshold test so both engines make the identical cut. Only
    * users with n ≥ 5 qualify (a 2-event user's stddev is noise). */
  def evAnomaly(spark: SparkSession, dir: String): DataFrame =
    anomalyOf(events(spark, dir))

  /** Core of [[evAnomaly]] over any (user_id, value) frame. The
    * per-user moments ride a WINDOW over the user partition instead of
    * a groupBy+self-join: ONE exchange of the events, one partition-key
    * sort, and the final per-user aggregate reuses the window's
    * hashpartitioning(user_id) — no second shuffle of the big side
    * (the join formulation scans and shuffles the events twice). */
  def anomalyOf(ev: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
    val scored = ev
      .withColumn("n_events", count(lit(1)).over(w))
      .withColumn("mu", avg(col("value")).over(w))
      .withColumn("sigma", stddev_samp(col("value")).over(w))
      .where(col("n_events") >= 5 && col("sigma") > 0)
      .withColumn("z", round((col("value") - col("mu")) / col("sigma"), 6))
    scored.groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"),
        sum(when(abs(col("z")) > 3.0, 1L).otherwise(0L)).as("n_outliers"),
        round(max(abs(col("z"))), 6).as("max_abs_z"))
  }

  /** Time-series gap filling — densify the hourly series so every
    * (hour, event_type) cell exists, zero-filled where no events landed
    * (dashboards and downstream window math need the gaps explicit).
    * The hour grid is GENERATED IN-PLAN: a 1-row min/max aggregate
    * explodes through sequence() into the dense hour axis and
    * cross-joins the observed type set — no driver-side collect, no
    * hand-written calendar table; both small sides broadcast into the
    * left join against the real counts. */
  def evGapFill(spark: SparkSession, dir: String): DataFrame = {
    // ONE scan of the events: bounds, the observed type set and the
    // join's right side all consume the SAME (hours×types-sized) hourly
    // aggregate, materialized once via localCheckpoint. Unlike the
    // previous persist(), this registers nothing in the session's
    // CacheManager — the blocks are owned by the checkpointed RDD and
    // freed by the ContextCleaner as soon as the returned DataFrame is
    // unreachable, so repeated invocations cannot accumulate session
    // state (query functions must not mutate the session).
    val hourly = events(spark, dir)
      .groupBy(expr(s"ts_us DIV $HourUs").as("hour_idx"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val grid = hourly
      .agg(min(col("hour_idx")).as("lo"), max(col("hour_idx")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("hour_idx"))
      .crossJoin(hourly.select(col("event_type")).distinct())
    grid.join(hourly, Seq("hour_idx", "event_type"), "left")
      .select((col("hour_idx") * HourUs).as("hour_us"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"), col("n").isNull.as("is_gap"))
  }

  /** RANGE-frame window — the VALUE-based frame q_running_total's ROWS
    * frame can't express: per event, the rolling 1-hour sum/count of
    * the same user's events, frame bounds in microseconds of event
    * time. The frame is tie-safe by construction (equal timestamps are
    * all in or all out together — no row-order dependence), one shuffle
    * on the user key, per-partition sort on time only. */
  def evRangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-HourUs, 0)
    events(spark, dir)
      .where(col("user_id") % 7 === 0)
      .select(col("user_id"), col("event_id"), col("ts_us"),
        round(sum(col("value")).over(w), 4).as("sum_1h"),
        count(lit(1)).over(w).as("n_1h"))
  }

  /** Per-type distinct-user cardinality, exact AND sketched; the
    * q_approx_distinct witness pattern puts it on the oracle board: estimates are
    * engine-specific, so the row carries the EXACT count plus a
    * boolean asserting the HLL++ estimate landed within ±5% — the
    * driver's hash compare fails iff the sketch leaves its envelope.
    * Why the sketch matters at scale: the exact count shuffles every
    * distinct (type, user) pair; the sketch is a few KB per group
    * forever and merges associatively. */
  def evDistinctUsers(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), 0.02).as("au"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("au") - col("exact_users")).cast("double") /
          col("exact_users") <= 0.05).as("users_within_5pct"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ev_distinct_users" -> evDistinctUsers,
    "ev_funnel_windowed" -> evFunnelWindowed,
    "ev_range_frame" -> evRangeFrame,
    "ev_gap_fill" -> evGapFill,
    "ev_anomaly" -> evAnomaly,
    "ev_funnel" -> evFunnel,
    "ev_retention" -> evRetention,
    "ev_hourly" -> evHourly,
    "ev_hourly_sliding" -> evHourlySliding,
    "ev_sessionize" -> evSessionize,
    "ev_transitions" -> evTransitions,
    "ev_sessionize_native" -> evSessionizeNative,
    "ev_json" -> evJson,
    "ev_top_users" -> evTopUsers,
    "ev_asof" -> evAsof,
    "ev_asof_forward" -> evAsofForward,
    "ev_attribution" -> evAttribution,
    "ev_recent_clicks" -> evRecentClicks)

  val oracles: Map[String, String] = Map(
    "ev_distinct_users" ->
      """SELECT event_type,
        |  count(DISTINCT user_id) AS exact_users,
        |  true AS users_within_5pct
        |FROM events GROUP BY event_type""".stripMargin,
    "ev_range_frame" ->
      """SELECT user_id, event_id, ts_us,
        |  round(sum(value) OVER w, 4) AS sum_1h,
        |  count(*) OVER w AS n_1h
        |FROM (SELECT user_id, event_id,
        |        CAST(epoch_us(ts) AS BIGINT) AS ts_us, value
        |      FROM events WHERE user_id % 7 = 0)
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |             RANGE BETWEEN 3600000000 PRECEDING
        |                   AND CURRENT ROW)""".stripMargin,
    // the grid bounds are DATA-DRIVEN via the scalar (list-returning)
    // generate_series, which unlike the table function accepts column
    // arguments — no hardcoded hour range to silently go stale if the
    // testdata window ever moves
    "ev_gap_fill" ->
      """WITH h AS (
        |  SELECT CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS hour_idx,
        |         event_type
        |  FROM events
        |), c AS (
        |  SELECT hour_idx, event_type, count(*) AS n FROM h GROUP BY 1, 2
        |), b AS (
        |  SELECT min(hour_idx) AS lo, max(hour_idx) AS hi FROM h
        |), grid AS (
        |  SELECT s.hour_idx, t.event_type
        |  FROM (SELECT unnest(generate_series(lo, hi)) AS hour_idx FROM b) s,
        |       (SELECT DISTINCT event_type FROM h) t
        |)
        |SELECT grid.hour_idx * 3600000000 AS hour_us, grid.event_type,
        |  CAST(coalesce(c.n, 0) AS BIGINT) AS n, c.n IS NULL AS is_gap
        |FROM grid LEFT JOIN c
        |  ON grid.hour_idx = c.hour_idx
        | AND grid.event_type = c.event_type""".stripMargin,
    "ev_anomaly" ->
      """WITH stats AS (
        |  SELECT user_id, count(*) AS n_events,
        |         avg(value) AS mu, stddev_samp(value) AS sigma
        |  FROM events GROUP BY user_id
        |  HAVING count(*) >= 5 AND stddev_samp(value) > 0
        |)
        |SELECT e.user_id, max(s.n_events) AS n_events,
        |  CAST(sum(CASE WHEN abs(round((e.value - s.mu) / s.sigma, 6)) > 3.0
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  round(max(abs(round((e.value - s.mu) / s.sigma, 6))), 6)
        |    AS max_abs_z
        |FROM events e JOIN stats s ON e.user_id = s.user_id
        |GROUP BY e.user_id""".stripMargin,
    "ev_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |         CAST(epoch_us(ts) AS BIGINT) AS ts_us
        |  FROM events
        |), v AS (
        |  SELECT user_id, ts_us FROM e WHERE event_type = 'view'
        |), c AS (
        |  SELECT user_id, ts_us FROM e WHERE event_type = 'click'
        |), qc AS (
        |  SELECT c.user_id, c.ts_us FROM c
        |  WHERE EXISTS (SELECT 1 FROM v
        |                WHERE v.user_id = c.user_id AND v.ts_us <= c.ts_us)
        |), p AS (
        |  SELECT user_id, event_id, ts_us FROM e WHERE event_type = 'purchase'
        |)
        |SELECT p.user_id, count(*) AS n_purchases,
        |  count(CASE WHEN EXISTS (
        |    SELECT 1 FROM qc
        |    WHERE qc.user_id = p.user_id AND qc.ts_us <= p.ts_us)
        |    THEN 1 END) AS n_converted
        |FROM p GROUP BY p.user_id""".stripMargin,
    "ev_funnel_windowed" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, event_type,
         |         CAST(epoch_us(ts) AS BIGINT) AS ts_us
         |  FROM events
         |), v AS (
         |  SELECT user_id, ts_us FROM e WHERE event_type = 'view'
         |), c AS (
         |  SELECT user_id, ts_us FROM e WHERE event_type = 'click'
         |), qc AS (
         |  SELECT c.user_id, c.ts_us FROM c
         |  WHERE EXISTS (SELECT 1 FROM v
         |                WHERE v.user_id = c.user_id AND v.ts_us <= c.ts_us
         |                  AND c.ts_us - v.ts_us <= $DayUs)
         |), p AS (
         |  SELECT user_id, event_id, ts_us FROM e WHERE event_type = 'purchase'
         |)
         |SELECT p.user_id, count(*) AS n_purchases,
         |  count(CASE WHEN EXISTS (
         |    SELECT 1 FROM qc
         |    WHERE qc.user_id = p.user_id AND qc.ts_us <= p.ts_us
         |      AND p.ts_us - qc.ts_us <= $DayUs)
         |    THEN 1 END) AS n_converted_1d
         |FROM p GROUP BY p.user_id""".stripMargin,
    "ev_retention" ->
      """WITH ev AS (
        |  SELECT user_id,
        |         CAST(epoch_us(ts) AS BIGINT) // 604800000000 AS week
        |  FROM events
        |), fs AS (
        |  SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id
        |)
        |SELECT fs.cohort_week, ev.week - fs.cohort_week AS weeks_since,
        |       count(DISTINCT ev.user_id) AS active_users
        |FROM ev JOIN fs ON ev.user_id = fs.user_id
        |GROUP BY fs.cohort_week, ev.week - fs.cohort_week""".stripMargin,
    "ev_hourly" ->
      """SELECT CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS hour_us,
        |       event_type, count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "ev_hourly_sliding" ->
      """WITH e AS (
        |  SELECT event_type, value, CAST(epoch_us(ts) AS BIGINT) AS t
        |  FROM events
        |), w AS (
        |  SELECT event_type, value,
        |         (t // 1800000000) * 1800000000 - off AS win_start_us, t
        |  FROM e CROSS JOIN (SELECT unnest([0, 1800000000]) AS off) o
        |)
        |SELECT win_start_us, event_type, count(*) AS n,
        |       round(sum(value), 4) AS sum_value
        |FROM w
        |WHERE t >= win_start_us AND t < win_start_us + 3600000000
        |GROUP BY win_start_us, event_type""".stripMargin,
    "ev_transitions" ->
      """WITH e AS (
        |  SELECT user_id, event_id,
        |         CAST(epoch_us(ts) AS BIGINT) AS ts_us, event_type
        |  FROM events
        |), t AS (
        |  SELECT event_type,
        |         lag(event_type) OVER (
        |           PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_type
        |  FROM e
        |)
        |SELECT prev_type AS from_type, event_type AS to_type,
        |       count(*) AS n
        |FROM t WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,
    "ev_sessionize" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id,
         |         CAST(epoch_us(ts) AS BIGINT) AS ts_us
         |  FROM events
         |), flagged AS (
         |  SELECT user_id, event_id, ts_us,
         |    CASE WHEN lag(ts_us) OVER w IS NULL
         |           OR ts_us - lag(ts_us) OVER w > $SessionGapUs
         |         THEN 1 ELSE 0 END AS new_session
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
         |), sess AS (
         |  SELECT user_id, ts_us,
         |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |                           ROWS UNBOUNDED PRECEDING) AS session_id
         |  FROM flagged
         |)
         |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
         |       count(*) AS n_events,
         |       min(ts_us) AS start_us, max(ts_us) AS end_us,
         |       max(ts_us) - min(ts_us) AS duration_us
         |FROM sess GROUP BY user_id, session_id""".stripMargin,
    "ev_sessionize_native" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id,
         |         CAST(epoch_us(ts) AS BIGINT) AS ts_us
         |  FROM events
         |), flagged AS (
         |  SELECT user_id, event_id, ts_us,
         |    CASE WHEN lag(ts_us) OVER w IS NULL
         |           OR ts_us - lag(ts_us) OVER w >= $SessionGapUs
         |         THEN 1 ELSE 0 END AS new_session
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
         |), sess AS (
         |  SELECT user_id, ts_us,
         |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |                           ROWS UNBOUNDED PRECEDING) AS session_id
         |  FROM flagged
         |)
         |SELECT user_id, count(*) AS n_events,
         |       min(ts_us) AS start_us, max(ts_us) AS end_us,
         |       max(ts_us) - min(ts_us) AS duration_us
         |FROM sess GROUP BY user_id, session_id""".stripMargin,
    "ev_json" ->
      """SELECT event_type, count(k) AS n_with_k, round(avg(k), 6) AS avg_k,
        |       min(k) AS min_k, max(k) AS max_k
        |FROM (SELECT event_type, CAST(props->>'$.k' AS BIGINT) AS k
        |      FROM events)
        |GROUP BY event_type""".stripMargin,
    "ev_top_users" ->
      """SELECT user_id, round(sum(value), 4) AS total_value,
        |       count(*) AS n_purchases
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id
        |ORDER BY total_value DESC, user_id
        |LIMIT 10""".stripMargin,
    // the forward mirror: first following click strictly after each
    // purchase (equal-ts clicks sort before the purchase, outside
    // its following frame)
    "ev_asof_forward" ->
      """WITH u AS (
        |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |    CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS tag,
        |    CASE WHEN event_type = 'purchase' THEN event_id END AS event_id
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |), x AS (
        |  SELECT user_id, event_id, ts_us, tag,
        |    first_value(CASE WHEN tag = 0 THEN ts_us END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts_us, tag
        |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        |      AS next_click_us
        |  FROM u
        |)
        |SELECT user_id, event_id, ts_us, next_click_us
        |FROM x WHERE tag = 1""".stripMargin,
    // last-click channel carried forward by the same at-or-before
    // window as ev_asof; the no-prior-click bucket is 'organic'
    "ev_attribution" ->
      """WITH u AS (
        |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |    CASE WHEN event_type = 'click'
        |         THEN 'ch' || (CAST(props->>'$.k' AS BIGINT) % 3)
        |    END AS channel,
        |    value,
        |    CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS tag
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |), attr AS (
        |  SELECT user_id, value, tag,
        |    last_value(channel IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts_us, tag
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS attr
        |  FROM u
        |)
        |SELECT coalesce(attr, 'organic') AS channel,
        |  count(*) AS n_purchases,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS revenue
        |FROM attr WHERE tag = 1
        |GROUP BY 1""".stripMargin,
    "ev_asof" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |         CAST(epoch_us(ts) AS BIGINT) AS ts_us
        |  FROM events
        |), clicks AS (
        |  SELECT user_id, ts_us FROM e WHERE event_type = 'click'
        |), p AS (
        |  SELECT user_id, event_id, ts_us FROM e WHERE event_type = 'purchase'
        |)
        |SELECT p.user_id, p.event_id, p.ts_us,
        |  (SELECT max(c.ts_us) FROM clicks c
        |   WHERE c.user_id = p.user_id AND c.ts_us <= p.ts_us) AS last_click_us
        |FROM p""".stripMargin,
    "ev_recent_clicks" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, event_type,
         |         CAST(epoch_us(ts) AS BIGINT) AS ts_us
         |  FROM events
         |), clicks AS (
         |  SELECT user_id, ts_us FROM e WHERE event_type = 'click'
         |), p AS (
         |  SELECT user_id, event_id, ts_us FROM e WHERE event_type = 'purchase'
         |)
         |SELECT p.user_id, p.event_id, p.ts_us,
         |  (SELECT count(*) FROM clicks c
         |   WHERE c.user_id = p.user_id
         |     AND c.ts_us >= p.ts_us - $HourUs
         |     AND c.ts_us < p.ts_us) AS n_recent_clicks
         |FROM p""".stripMargin)
}
