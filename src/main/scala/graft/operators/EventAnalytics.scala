package graft.operators

import graft.streaming.EventStreams.{SessionGap, TumblingWindow}
import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Time-windowed analytics over the events table, in batch form. The
  * same `window()` / `session_window()` expressions run unchanged under
  * Structured Streaming (see [[graft.streaming.EventStreams]]) — batch
  * here gives them a DuckDB oracle (time_bucket / gaps-and-islands).
  */
object EventAnalytics {

  /** Tumbling windows of [[TumblingWindow]] per event type. */
  def tumbling(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), TumblingWindow), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy(col("hour"), col("event_type"))

  /** Sliding windows: 1-hour window every 30 minutes (each event lands
    * in 2 windows).
    */
  def sliding(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("n"))
      .orderBy(col("win_start"))

  /** Session windows: per-user sessions closed by a [[SessionGap]]
    * inactivity gap — `session_window` in Spark; the oracle reproduces
    * it with the classic lag + cumulative-flag gaps-and-islands SQL.
    * Timestamps are truncated to seconds on OUTPUT only (ns parquet →
    * µs differs between engines at the boundary otherwise).
    */
  def sessions(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), SessionGap))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("session_value"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), col("session_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** Per-user journey paths — the ORDER-SENSITIVE list aggregation
    * shape (path/sequence analysis): each user's first [[PathLen]]
    * event types in (ts, event_id) order, joined into one string.
    *
    * The selection is the bounded top-K AGGREGATOR, not
    * `slice(collect_list(...))`: collecting every event per user
    * before slicing buffers an unbounded heavy user (a bot with 10⁸
    * events) in one aggregation buffer — the exact failure mode the
    * stratified-sample/BM25 lesson exists for. The aggregator keys on
    * (−ts_µs, event_id) — largest-first over negated microseconds IS
    * earliest-first, and epoch-µs ≈ 1.7·10¹⁵ < 2⁵³ stays Double-exact —
    * and ships ≤[[PathLen]] rows per partition per user map-side.
    * Event types for the selected ids come back on one join against
    * the events scan. The selection table is ≤[[PathLen]]·|users| rows
    * — it scales with USER CARDINALITY, so the broadcast is GATED, not
    * unconditional: the selection is materialized (localCheckpoint —
    * bounded by construction, and consumed twice anyway), its row
    * count checked against [[BroadcastSelectRows]], and only a
    * fitting table is broadcast — a billion-user corpus falls back to
    * a plain shuffle join instead of OOMing every executor on a forced
    * hint. The final ordered assembly is
    * `sort_array(collect_list(struct(rank, type)))` over the now
    * provably-bounded per-user rows.
    */
  val PathLen = 10

  /** Broadcast budget for [[eventPathsOn]]'s selection table: 2M rows
    * of four numeric fields ≈ tens of MB packed — the classic
    * autoBroadcastJoinThreshold class. Above it the fallback shuffle
    * join is the correct plan, not a bigger broadcast.
    */
  val BroadcastSelectRows: Long = 1L << 21

  def eventPaths(spark: SparkSession, dir: String): DataFrame =
    eventPathsOn(spark, Tables.events(spark, dir))

  def eventPathsOn(spark: SparkSession, ev: DataFrame): DataFrame = {
    import graft.functions.TypedAggregators.topKSelect
    val top = topKSelect(spark,
        ev.select(col("user_id").as("key"),
          (-unix_micros(col("ts"))).as("v"), col("event_id").as("tag")),
        PathLen)
      .select(col("key").as("user_id"), col("rank"),
        col("tag").as("event_id"), col("n_rows").as("n_events"))
      .localCheckpoint()
    val sel = if (top.count() <= BroadcastSelectRows) broadcast(top) else top
    ev.select(col("event_id"), col("event_type"))
      .join(sel, "event_id")
      .groupBy(col("user_id"))
      .agg(first(col("n_events")).as("n_events"),
        concat_ws(">", transform(
          sort_array(collect_list(struct(col("rank"), col("event_type")))),
          e => e.getField("event_type"))).as("path"))
      .orderBy(col("user_id"))
  }

  /** Time-weighted average value per user (TWAP) — the irregular-
    * time-series aggregation shape: each event's value holds until the
    * next event, so the mean weights by holding duration, not by event
    * count (a metric a burst of cheap events cannot distort). Exact
    * under the gate: cents = round(value·100) longs (the q_ewma
    * convention), durations = integral millisecond gaps from exact
    * epoch-microsecond differences, so numerator and denominator are
    * overflow-safe long sums (cents ≲ 2²⁵ × gap-ms ≲ 2²⁷ × events ≲ 2¹⁴
    * < 2⁶³ headroom) and the reported double is two correctly-rounded
    * divisions on identical inputs in both engines. ONE user_id
    * shuffle serves the lead window and the aggregation (the q_scd2
    * partitioning-reuse lesson). The last event per user holds nothing
    * and is excluded (n_intervals = events − 1); single-event and
    * zero-span users drop via the HAVING guard on both sides.
    */
  def twap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .withColumn("dur_us", lead(col("us"), 1).over(w) - col("us"))
      // `div` (integral), not `/` (double division on longs in Spark)
      .withColumn("dur_ms", expr("dur_us div 1000"))
      .filter(col("dur_ms").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("cents") * col("dur_ms")).as("num"),
        sum(col("dur_ms")).as("den"))
      .filter(col("den") > 0)
      .select(col("user_id"), col("n_intervals"),
        (col("num").cast("double") / col("den").cast("double") / lit(100.0)).as("twap"))
      .orderBy(col("user_id"))
  }

  /** Funnel: per user, did a `click` lead to a `purchase` within 30
    * minutes? Implemented with a forward-looking window (min purchase
    * time at or after each click, per user) — one shuffle by user, no
    * self-join explosion. Emits per-user conversion counts.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // event_id in the ordering: with ts ties a ROWS frame is otherwise
    // peer-order-dependent and engines may disagree
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val nextPurchase = min(when(col("event_type") === "purchase", col("ts"))).over(w)
    ev.withColumn("next_purchase", nextPurchase)
      .filter(col("event_type") === "click")
      .withColumn("converted",
        (col("next_purchase").isNotNull &&
          col("next_purchase") <= col("ts") + expr("INTERVAL 30 MINUTES")).cast("int"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_clicks"),
        sum(col("converted")).cast("long").as("n_converted"))
      .orderBy(col("user_id"))
  }

  /** New-user accumulation: distinct users per hour counted by their
    * FIRST-SEEN hour, then a running total — the scalable form of
    * "cumulative distinct users over time" (one groupBy for first-seen,
    * one tiny window over hours; never a running distinct).
    */
  def newUsers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val firstSeen = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(date_trunc("hour", min(col("ts"))).as("h"))
    val w = Window.orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    firstSeen.groupBy(col("h")).agg(count(lit(1)).as("n_new"))
      .withColumn("cum_users", sum(col("n_new")).over(w))
      .select(date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("n_new"), col("cum_users"))
      .orderBy(col("hour"))
  }

  /** Hour-over-hour retention: of the distinct users active in hour h,
    * how many were also active in h-1. One distinct (hour, user) set,
    * self-joined shifted by an hour — both sides shuffle on the same
    * (hour, user) key, so the join co-partitions.
    */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .select(date_trunc("hour", col("ts")).as("h"), col("user_id"))
      .distinct()
    val prev = hourly.select((col("h") + expr("INTERVAL 1 HOUR")).as("hp"),
      col("user_id").as("u2"))
    hourly.join(prev,
        col("h") === col("hp") && col("user_id") === col("u2"), "left")
      .groupBy(col("h"))
      .agg(count(lit(1)).as("active"), count(col("u2")).as("retained"))
      .select(date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("active"), col("retained"))
      .orderBy(col("hour"))
  }

  /** SCD Type-2 dimension build from the event log: per user, collapse
    * consecutive same-`event_type` events into validity intervals with
    * `valid_from` / `valid_to` / `is_current` — the warehouse shape
    * ("what was this user's state at time T?") that point-in-time
    * lookups range-join against (cf. q_asof_join / q_range_join).
    * Gaps-and-islands with a DIFFERENT output contract than
    * [[sessions]]: runs close on attribute CHANGE, not inactivity, and
    * each emitted row is a versioned interval (`valid_to` = next run's
    * start, NULL on the open current row) rather than an activity
    * summary.
    *
    * Determinism: ts ties within a user would make lag() peer-order
    * dependent, so every window orders by (ts, event_id) — both
    * engines then see identical run boundaries. Timestamps format to
    * seconds on OUTPUT only (ns parquet, same rule as [[sessions]]).
    *
    * Scale shape: one shuffle by user_id serves the change-flag
    * window, the running version sum, AND the interval lead() — the
    * groupBy(user_id, version) between them is partial-aggregated on
    * already-user-partitioned rows. Users are many and independent, so
    * the per-user window never concentrates (contrast a global-order
    * window); at 100 TB the dimension build is embarrassingly parallel
    * across users.
    */
  def scd2(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val prevType = lag(col("event_type"), 1).over(w)
    val runs = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("chg",
        when(prevType.isNull || prevType =!= col("event_type"), 1).otherwise(0))
      .withColumn("version",
        sum(col("chg")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wv = Window.partitionBy(col("user_id")).orderBy(col("version"))
    runs.groupBy(col("user_id"), col("version"))
      .agg(min(col("event_type")).as("event_type"),
        min(col("ts")).as("t0"), count(lit(1)).as("n_events"))
      .withColumn("t1", lead(col("t0"), 1).over(wv))
      .select(col("user_id"), col("version"), col("event_type"),
        date_format(col("t0"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        date_format(col("t1"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
        col("n_events"), col("t1").isNull.as("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  /** EWMA half-life window length (α = 1/2, last [[EwmaK]] events). */
  val EwmaK = 8

  /** Minimum prior events before a user's anomaly baseline can flag. */
  val AnomalyMinPrior = 10

  /** The batch (backfill) twin of the streaming 3σ detector
    * [[graft.streaming.EventStreams.streamedAnomaly]]: per-user
    * cumulative moments over strictly-prior events via ONE
    * (user_id)-keyed window, the division-free long test
    * (n·x − Σx)² > 9·(n·Σx² − (Σx)²), identical rows to the stream's
    * finite replay — both share one oracle.
    */
  def runningAnomalies(spark: SparkSession, dir: String): DataFrame =
    runningAnomaliesOn(Tables.events(spark, dir))

  def runningAnomaliesOn(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val d = col("n_prior") * col("cents") - col("sum_prior")
    events
      .select(col("event_id"), col("user_id"), col("ts"),
        round(col("value") * lit(100)).cast("long").as("cents"))
      .withColumn("n_prior", count(lit(1)).over(w))
      .withColumn("sum_prior", coalesce(sum(col("cents")).over(w), lit(0L)))
      .withColumn("sumsq_prior", coalesce(sum(col("cents") * col("cents")).over(w), lit(0L)))
      .filter(col("n_prior") >= AnomalyMinPrior &&
        d * d > lit(9L) * (col("n_prior") * col("sumsq_prior") - col("sum_prior") * col("sum_prior")))
      .select(col("user_id"), col("event_id"), col("cents"),
        col("n_prior"), col("sum_prior"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Per-user exponentially weighted moving average of event value,
    * α = 1/2 truncated to the last [[EwmaK]] events — the streaming
    * -friendly smoother every metrics pipeline keeps per key.
    *
    * Exactness: α = 1/2 makes every weight a power of two, so the
    * weighted sum is computed in integer CENTS scaled by
    * 2^(K−1−distance) — Σ is an exact long on both engines — and the
    * reported ewma is ONE correctly-rounded division num/den (den =
    * the matching Σ of weights, which self-adjusts for users with
    * fewer than K prior events). No double ever accumulates.
    *
    * Implemented as [[EwmaK]] lag() taps over one (user_id)-keyed
    * window — a single shuffle, no self-join; at 100 TB users are
    * independent and the per-user frame is O(K).
    */
  def ewma(spark: SparkSession, dir: String): DataFrame =
    ewmaOn(Tables.events(spark, dir))

  def ewmaOn(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val taps = (0 until EwmaK).map { d =>
      val c = if (d == 0) col("cents") else lag(col("cents"), d).over(w)
      val wt = lit(1L << (EwmaK - 1 - d))
      (when(c.isNotNull, c * wt).otherwise(lit(0L)),
        when(c.isNotNull, wt).otherwise(lit(0L)))
    }
    val num = taps.map(_._1).reduce(_ + _)
    val den = taps.map(_._2).reduce(_ + _)
    events
      .select(col("event_id"), col("user_id"), col("ts"),
        round(col("value") * lit(100)).cast("long").as("cents"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("num", num)
      .withColumn("den", den)
      .select(col("user_id"), col("rn"), col("event_id"), col("cents"),
        (col("num").cast("double") / col("den").cast("double")).as("ewma_cents"))
      .orderBy(col("user_id"), col("rn"))
  }

  /** Robust outlier detection by median/MAD (the data-quality screen
    * that survives the skew that wrecks mean/stddev): per event type,
    * flag events whose |cents − median| exceeds 3 robust standard
    * deviations (MAD · 1.4826), reporting the robust z-score.
    *
    * Exactness: cents are exact longs; both medians are exact
    * interpolated percentiles of integer inputs ((a+b)/2 — one
    * deterministic double op, the q_percentile precedent); the
    * deviation, threshold compare, and z division are the identical
    * IEEE expression tree on both engines, so no rounding is needed.
    *
    * Scale shape: the per-type medians are two tiny aggregations
    * (exact percentile sorts WITHIN each type partition — at 100 TB
    * swap in percentile_approx, the graded q_approx_percentile twin);
    * the type→median side table broadcasts back over the events scan,
    * so flagging is a map-only pass.
    */
  def madAnomalies(spark: SparkSession, dir: String): DataFrame =
    madAnomaliesOn(Tables.events(spark, dir))

  def madAnomaliesOn(events: DataFrame): DataFrame = {
    val ev = events
      .select(col("event_id"), col("event_type"),
        round(col("value") * lit(100)).cast("long").as("cents"))
    val med = ev.groupBy(col("event_type"))
      .agg(expr("percentile(cents, 0.5)").as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("cents").cast("double") - col("med")))
    val mad = dev.groupBy(col("event_type"))
      .agg(expr("percentile(dev, 0.5)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .filter(col("mad") > lit(0.0) && col("dev") > lit(3.0) * (lit(1.4826) * col("mad")))
      .select(col("event_type"), col("event_id"), col("cents"), col("med"),
        col("mad"), (col("dev") / (lit(1.4826) * col("mad"))).as("robust_z"))
      .orderBy(col("event_type"), col("event_id"))
  }
}
