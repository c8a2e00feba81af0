package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface over events-shaped data (event_id, ts,
  * user_id, event_type, value, props). The reference has no data-plane
  * streaming — its master/worker loop (reference lib/map_reduce/
  * master.ex, worker.ex) is control-plane scheduling that Spark
  * subsumes — so this module is the north-star generalization: the SAME
  * window / session_window expressions used by the batch
  * [[graft.operators.EventAnalytics]] queries, applied to an unbounded
  * source with watermark-driven state eviction.
  *
  * Every transform here takes a DataFrame that may be batch or
  * streaming — Structured Streaming's core design point. Batch runs give
  * the logic a DuckDB oracle; streaming runs are verified by
  * deterministic replay in ScalaTest (MemoryStream), per SURVEY.md §7
  * Phase 3.
  *
  * Scale note: watermarks bound state (without one, a windowed agg keeps
  * every window forever — the OOM at day 3 of a 100 TB/day stream);
  * `spark.sql.streaming.statestore` backs the per-key state, partitioned
  * by the grouping key exactly like a batch shuffle.
  */
object EventStreams {

  /** events row as a typed record (for the stateful typed API). */
  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** Per-user live session state carried between micro-batches.
    * Money accumulates as integer CENTS: a Double running sum depends
    * on accumulation order (and Spark-vs-DuckDB round() diverges on .5
    * boundaries), while integer addition is exact and order-independent
    * in every engine — the only gate-stable way to sum money.
    * `lastMicros` is the FULL-MICROSECOND last-event instant (see
    * [[tsMicros]]) so gap decisions match the batch/oracle precision.
    */
  case class SessionState(nEvents: Long, totalCents: Long, lastMicros: Long)

  /** Emitted when a session closes (watermark passes gap timeout). */
  case class ClosedSession(user_id: Long, n_events: Long,
      total_cents: Long, last_ts: Timestamp)

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-based streaming source over a directory of parquet drops —
    * the production shape (object-store landing zone → readStream).
    */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Full-microsecond replay order. `Timestamp.getTime` is MILLISECOND
    * precision, so two same-user events inside one millisecond but
    * different microseconds would tie under a getTime sort and could
    * replay in either order — silently diverging any running-state
    * computation from the batch/DuckDB twins, which order by the full
    * microsecond ts. getNanos carries the sub-second fraction at full
    * precision, and (getTime, getNanos) is monotone in the true
    * instant (getTime truncates the same fraction getNanos refines).
    */
  private def replayKey(ts: Timestamp, eventId: Long): (Long, Int, Long) =
    (ts.getTime, ts.getNanos, eventId)

  /** Full-microsecond instant of a Timestamp. Session GAP decisions
    * must compare at this precision: the batch `session_window` and
    * the DuckDB oracles subtract full-microsecond timestamps, while
    * `getTime` truncates to milliseconds — a true gap of
    * 1,800,000,8xx µs (> 30 min, a new session in the batch twin)
    * truncates to exactly 1,800,000 ms and a getTime-based rule would
    * merge it. The round-14 boundary spec pins both directions.
    */
  private def tsMicros(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  /** The streaming file source over `$dir/events.parquet` with `ts`
    * normalized across both fixture encodings of events.parquet
    * (TIMESTAMP(NANOS)-as-long vs TIMESTAMP(MICROS) NTZ — see
    * [[graft.tables.Tables.normalizedTs]]). A streaming source needs
    * its schema DECLARED, so it is sniffed from one batch footer read
    * (metadata only, no data scan) and applied to the stream.
    */
  private def normalizedEventStream(spark: SparkSession, dir: String): DataFrame = {
    val fileSchema = graft.tables.Tables.schemaOf(spark, s"$dir/events.parquet")
    spark.readStream.schema(fileSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .withColumn("ts", graft.tables.Tables.normalizedTs(spark, fileSchema))
  }

  /** Watermark delay, tumbling window, session gap, attribution window.
    * The delay, window and gap are also read by the batch twins
    * ([[graft.operators.EventAnalytics]]) and written into their oracle
    * SQL, so a stream and its gate cannot drift apart. The strings are
    * Spark interval strings; DuckDB reads [[TumblingWindow]] quoted and
    * the gap and delay as a count of `MINUTE`s.
    */
  val WatermarkDelayMinutes = 30
  val WatermarkDelay = s"$WatermarkDelayMinutes minutes"
  val TumblingWindow = "1 hour"
  val SessionGapMinutes = 30
  val SessionGap = s"$SessionGapMinutes minutes"
  val AttributionWindow = "1 hour"
  private val SessionGapMs = SessionGapMinutes * 60 * 1000L

  /** Tumbling-window counts per event type; watermark bounds state and
    * drops late data beyond [[WatermarkDelay]].
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", WatermarkDelay)
      .groupBy(window(col("ts"), TumblingWindow), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Session windows: per-user sessions closed by [[SessionGapMinutes]]
    * of inactivity — the streaming twin of the batch gaps-and-islands
    * oracle query.
    *
    * (The `session_window` AGGREGATION supports neither Complete nor
    * Update output — merging windows forbid both — so a finite replay
    * of it can never reproduce its batch twin and it stays
    * MemoryStream-verified. [[streamedSessions]] closes the gap from the
    * flatMapGroupsWithState side, whose Append-mode emissions ARE
    * deterministic on a finite replay and sit under the oracle gate.)
    */
  def sessionCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", WatermarkDelay)
      .groupBy(session_window(col("ts"), SessionGap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("session_value"))

  /** Custom sessionization via flatMapGroupsWithState — the escape hatch
    * for session semantics `session_window` can't express (here: emit a
    * summary row only when the session CLOSES, via event-time timeout at
    * watermark + gap). State per user is O(1).
    */
  def closedSessions(events: Dataset[Event])(
      implicit spark: SparkSession): Dataset[ClosedSession] = {
    import spark.implicits._
    events.withWatermark("ts", WatermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(userId, s.nEvents, s.totalCents,
              new Timestamp(math.floorDiv(s.lastMicros, 1000L))))
          } else {
            val sorted = rows.toSeq.sortBy(e => replayKey(e.ts, e.event_id))
            var cur = state.getOption
            val closed = Seq.newBuilder[ClosedSession]
            sorted.foreach { e =>
              // half-AWAY-FROM-ZERO, matching DuckDB/ANSI round():
              // math.round alone is half-toward-+inf and diverges on
              // negative values landing exactly on a half-cent
              val c0 = e.value * 100
              val cents = if (c0 >= 0) math.round(c0) else -math.round(-c0)
              val em = tsMicros(e.ts)
              cur match {
                case Some(s) if em - s.lastMicros <= SessionGapMs * 1000L =>
                  cur = Some(SessionState(s.nEvents + 1, s.totalCents + cents,
                    math.max(s.lastMicros, em)))
                case Some(s) =>
                  closed += ClosedSession(userId, s.nEvents, s.totalCents,
                    new Timestamp(math.floorDiv(s.lastMicros, 1000L)))
                  cur = Some(SessionState(1L, cents, em))
                case None =>
                  cur = Some(SessionState(1L, cents, em))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // the event-time timeout clock is millisecond-grained;
              // CEIL the microsecond session end so the timeout can
              // never fire before the microsecond-precise merge
              // boundary (a floor would make it up to 999µs early and
              // split a gap-boundary event that batch merges)
              state.setTimeoutTimestamp(
                math.floorDiv(s.lastMicros + 999L, 1000L) + SessionGapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Stream-stream interval join: attribute each "purchase" event to
    * the same user's "click" events in the preceding
    * [[AttributionWindow]]. Both sides carry watermarks and the join
    * condition bounds the time skew, so Spark can evict buffered state
    * from BOTH sides — the conditions under which an unbounded×unbounded
    * join is feasible at all.
    */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", WatermarkDelay)
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", WatermarkDelay)
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
    p.join(c,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $AttributionWindow"))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("click_id"), col("purchase_ts"), col("value"))
  }

  /** The stream-stream interval join executed under the driver gate:
    * both sides read through the STREAMING file source (each filtered
    * to its event type), joined by [[attributionJoin]] as a real
    * StreamingQuery. A stream-stream INNER join emits each match the
    * moment both members have arrived — the watermark + time-range
    * condition exist to EVICT buffered state, not to gate inner-join
    * output — so a finite replay emits exactly the batch join result
    * and the query shares a plain-SQL DuckDB oracle. (Contrast the
    * windowed-agg gate queries, where append-mode emission IS
    * watermark-gated and the finite-replay rules must be spelled out.)
    */
  def streamedAttribution(spark: SparkSession, dir: String): DataFrame = {
    def side(eventType: String): DataFrame =
      normalizedEventStream(spark, dir)
        .filter(col("event_type") === eventType)
    Replay.run(attributionJoin(side("click"), side("purchase")),
        OutputMode.Append())()
      .select(col("purchase_id"), col("user_id"), col("click_id"),
        date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        col("value"))
      .orderBy(col("purchase_id"), col("click_id"))
  }

  /** Streaming exactly-once event dedup: drop redundant deliveries of
    * the same event_id while the watermark bounds the dedup state —
    * the ingestion front door of a training-data pipeline (at-least-once
    * upstream → exactly-once downstream). Without the watermark variant
    * the seen-set grows forever.
    */
  def dedupStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", WatermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")

  /** ACTUAL streaming execution under the driver gate: read the events
    * parquet through the STREAMING file source, run the tumbling-window
    * aggregation as a real StreamingQuery (Trigger.AvailableNow →
    * processes all available data then stops), land it in a memory
    * sink, and return the materialized result — the same rows the batch
    * twin produces, so q_stream_tumbling shares q_tumbling's DuckDB
    * oracle and the gate certifies the streaming ENGINE path, not just
    * the shared window expressions.
    *
    * Complete output mode because AvailableNow ends with the watermark
    * still behind the last window — append mode would hold every window
    * open and emit nothing (the classic finite-replay trap).
    */
  def streamedTumbling(spark: SparkSession, dir: String): DataFrame = {
    // events.parquet is TIMESTAMP(NANOS): the streaming source reads it
    // with ts normalized exactly like Tables.events; the streaming
    // file source wants a DIRECTORY (landing-zone shape), glob-filtered
    // down to the events table
    val events = normalizedEventStream(spark, dir)
    val agg = events
      .groupBy(window(col("ts"), TumblingWindow), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"), col("total_value"))
    Replay.run(agg, OutputMode.Complete())()
      .orderBy(col("hour"), col("event_type"))
  }

  /** Custom sessionization under the driver gate: [[closedSessions]]
    * (flatMapGroupsWithState, APPEND mode — the only output mode
    * merging-session semantics admit) executed as a real StreamingQuery
    * over the streaming file source with Trigger.AvailableNow.
    *
    * What a FINITE replay emits is deterministic, so a DuckDB
    * gaps-and-islands oracle can reproduce it exactly:
    *  - a session closed by a LATER event of the same user (gap ≥ 30
    *    min) is emitted inline by the state function — with AvailableNow
    *    every event is in the one data batch, so every non-final
    *    session per user is emitted;
    *  - each user's FINAL session sits in state with an event-time
    *    timeout at last_ts + gap, and is emitted by the post-data
    *    no-data batch iff the terminal watermark (max ts − 30 min
    *    delay) has passed that timeout.
    * The oracle replicates both rules (StreamingSpec pins the emitted
    * set against the batch sessionization under the same rules). An
    * unbounded production stream has no terminal watermark — every
    * session eventually closes by rule 2; the finite-replay filter is
    * the gate-compatibility trick, not a semantic change.
    */
  def streamedSessions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = normalizedEventStream(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Event]
    // sessions of one user are ≥ gap apart, so (user_id, last_ts) is a
    // unique deterministic sort key
    Replay.run(closedSessions(events)(spark).toDF(), OutputMode.Append())()
      .select(col("user_id"), col("n_events"), col("total_cents"),
        date_format(col("last_ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"))
      .orderBy(col("user_id"), col("last_ts"))
  }

  /** One completed session, batch-shaped (q_sessions' row). */
  case class GatedSession(user_id: Long, session_start: Timestamp,
      n_events: Long, session_value: Double)

  /** Sessionization under the FULL batch gate: unlike
    * [[streamedSessions]] (whose finite replay can only emit sessions
    * the terminal watermark has closed, so it carries its own
    * emission-rule oracle), this twin shares q_sessions' batch oracle
    * row-for-row. The trick is the deterministic replay clock of
    * [[streamedEwma]]: flatMapGroupsWithState with NO timeout, each
    * user's events sorted by the full-microsecond [[replayKey]] inside
    * the single AvailableNow data batch (asserted by
    * [[Replay.oneDataBatch]]) — with the whole history in hand, the
    * state function closes EVERY session including each user's final
    * one, which is exactly the batch `session_window` result.
    *
    * An unbounded production stream keeps the same state function but
    * an event-time timeout instead of the replay clock — that form IS
    * [[streamedSessions]]; the pair are the backfill/always-on twins
    * of one sessionizer. session_value reproduces the batch
    * round(sum(value), 2): the in-order double sum agrees with the
    * engines' unordered sums because the gate fixture's 2-decimal
    * values round away sub-ULP order effects (the same property the
    * batch q_sessions gate already rests on), and the final rounding
    * is BigDecimal HALF_UP — bit-identical to Spark's `round`.
    */
  def streamedSessionsGated(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = normalizedEventStream(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Event]
    val sessions = events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, GatedSession](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(e => replayKey(e.ts, e.event_id))
          val out = Seq.newBuilder[GatedSession]
          // (start, lastMicros, n, sum) of the open session; the gap
          // compares FULL microseconds ([[tsMicros]]) and continues
          // the session at EXACTLY the gap (session_window merges
          // adjacent per-event windows) — the batch semantics the
          // row-for-row contract demands
          var cur: Option[(Timestamp, Long, Long, Double)] = None
          def close(s: (Timestamp, Long, Long, Double)): Unit =
            out += GatedSession(userId, s._1, s._3,
              java.math.BigDecimal.valueOf(s._4)
                .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue())
          sorted.foreach { e =>
            val em = tsMicros(e.ts)
            cur match {
              case Some(s) if em - s._2 <= SessionGapMs * 1000L =>
                cur = Some((s._1, math.max(s._2, em), s._3 + 1, s._4 + e.value))
              case other =>
                other.foreach(close)
                cur = Some((e.ts, em, 1L, e.value))
            }
          }
          // replay clock: the whole history is in this batch, so every
          // session closes inline; `state` is deliberately never
          // written — NoTimeout + single-batch replay needs none
          cur.foreach(close)
          out.result().iterator
      }
    Replay.run(sessions.toDF(), OutputMode.Append())(Replay.oneDataBatch)
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), col("session_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Streaming DISTINCT under the driver gate: the dedup operator run
    * by the real engine in APPEND mode — unlike the windowed agg,
    * dropDuplicates emits each first-seen key as it arrives, so a
    * finite replay produces the complete distinct set with no
    * watermark-finalization trap. Projecting to the key columns BEFORE
    * the dedup makes the output order-insensitive (whichever duplicate
    * arrives first, the emitted row is identical), which is what lets a
    * streaming query share a deterministic batch oracle
    * (SELECT DISTINCT). State note: an unbounded production stream
    * would use [[dedupStream]]'s watermarked variant; the exact
    * distinct-set gate query necessarily keeps all keys.
    */
  def streamedDistinct(spark: SparkSession, dir: String): DataFrame = {
    val distinctKeys = normalizedEventStream(spark, dir)
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
    Replay.run(distinctKeys, OutputMode.Append())()
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Event keyed to integer cents for the anomaly detector. */
  case class CentsEvent(event_id: Long, ts: Timestamp, user_id: Long,
      cents: Long)

  /** Per-user running moments as exact longs. */
  case class MomentState(n: Long, sum: Long, sumSq: Long)

  /** An event flagged as a per-user outlier, with the prior-window
    * stats that convicted it.
    */
  case class Anomaly(user_id: Long, event_id: Long, cents: Long,
      n_prior: Long, sum_prior: Long)

  /** Minimum prior events before a user's baseline can flag (shared
    * with the batch twin [[graft.operators.EventAnalytics]]).
    */
  val AnomalyMinPrior: Int = graft.operators.EventAnalytics.AnomalyMinPrior

  /** Streaming per-key z-score anomaly detection under the driver
    * gate: each user carries running moments (n, Σx, Σx²) in state;
    * an arriving event is flagged when it sits more than 3 population
    * standard deviations from the user's PRIOR mean. The alerting
    * primitive of every metrics/fraud stream.
    *
    * Exactness: values are integer cents, and the 3σ test
    * (x−μ)² > 9σ² is cleared of divisions —
    *   (n·x − Σx)² > 9·(n·Σx² − (Σx)²)
    * — so state, test, and output are exact; the DuckDB oracle is the
    * identical test over cumulative window sums. (Long bounds: with
    * |cents| ≤ ~2^25, Σx² grows up to ~2^50 per event, so the n·Σx²
    * product crosses 2^63 at only n ≈ 90 events/user at max value —
    * far below real stream lengths. The 3σ comparison therefore runs
    * in arbitrary precision (BigInt — exact at any n), and the long
    * moment state accumulates with Math.addExact so a user long enough
    * to overflow Σx² (n ≈ 8×10³ at max value) fails loudly instead of
    * wrapping; a production deploy would re-center or widen state at
    * that point.)
    *
    * Determinism: a finite AvailableNow replay delivers each user's
    * events in one micro-batch in arbitrary order (asserted by
    * [[Replay.oneDataBatch]] — the guarantee comes from the fixture
    * being a single parquet file), so the state function sorts its
    * batch by the FULL-precision (ts, event_id) [[replayKey]] — the
    * same total order the oracle's window uses; ties on ts cannot
    * reorder the running stats.
    *
    * Scale shape: state is O(3 longs) per user, shuffled once by
    * user_id into the state store exactly like a batch groupBy; no
    * window buffering, no retraction. NoTimeout because moments never
    * expire (a production stream would age users out with a
    * ProcessingTimeTimeout sweep).
    */
  def streamedAnomaly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = normalizedEventStream(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        round(col("value") * lit(100)).cast("long").as("cents"))
      .as[CentsEvent]
    val flagged = events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[MomentState, Anomaly](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[CentsEvent], state: GroupState[MomentState]) =>
          val sorted = rows.toSeq.sortBy(e => replayKey(e.ts, e.event_id))
          var s = state.getOption.getOrElse(MomentState(0L, 0L, 0L))
          val out = Seq.newBuilder[Anomaly]
          sorted.foreach { e =>
            val x = e.cents
            if (s.n >= AnomalyMinPrior) {
              val d = BigInt(s.n) * BigInt(x) - BigInt(s.sum)
              val varTerm = BigInt(s.n) * BigInt(s.sumSq) -
                BigInt(s.sum) * BigInt(s.sum)
              if (d * d > 9 * varTerm)
                out += Anomaly(userId, e.event_id, x, s.n, s.sum)
            }
            s = MomentState(s.n + 1, Math.addExact(s.sum, x),
              Math.addExact(s.sumSq, Math.multiplyExact(x, x)))
          }
          state.update(s)
          out.result().iterator
      }
    Replay.run(flagged.toDF(), OutputMode.Append())(Replay.oneDataBatch)
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Per-user EWMA ring state: events seen so far and the most recent
    * up-to-(K−1) cents, newest first.
    */
  case class EwmaState(n: Long, recent: Seq[Long])

  /** One smoothed reading (same shape as the batch q_ewma rows). */
  case class EwmaOut(user_id: Long, rn: Long, event_id: Long,
      cents: Long, ewma_cents: Double)

  /** The α=1/2 EWMA smoother AS A STREAM — the per-key O(K) state
    * twin of [[graft.operators.EventAnalytics.ewmaOn]], graded against
    * the SAME oracle: power-of-two weights over the last K cents make
    * the numerator/denominator exact longs and the emitted ewma one
    * exact-input division, so a finite replay reproduces the batch
    * window byte-for-byte. This is the always-on form a metrics
    * pipeline runs (state = K longs per user, no window buffering);
    * the batch lag() form is its backfill twin.
    */
  def streamedEwma(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = graft.operators.EventAnalytics.EwmaK
    val events = normalizedEventStream(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        round(col("value") * lit(100)).cast("long").as("cents"))
      .as[CentsEvent]
    val smoothed = events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[CentsEvent], state: GroupState[EwmaState]) =>
          val sorted = rows.toSeq.sortBy(e => replayKey(e.ts, e.event_id))
          var s = state.getOption.getOrElse(EwmaState(0L, Nil))
          val out = Seq.newBuilder[EwmaOut]
          sorted.foreach { e =>
            val window = (e.cents +: s.recent).take(k)
            val taps = window.zipWithIndex.map { case (c, d) =>
              (c * (1L << (k - 1 - d)), 1L << (k - 1 - d)) }
            val num = taps.map(_._1).sum
            val den = taps.map(_._2).sum
            out += EwmaOut(userId, s.n + 1, e.event_id, e.cents,
              num.toDouble / den.toDouble)
            s = EwmaState(s.n + 1, (e.cents +: s.recent).take(k - 1))
          }
          state.update(s)
          out.result().iterator
      }
    Replay.run(smoothed.toDF(), OutputMode.Append())(Replay.oneDataBatch)
      .orderBy(col("user_id"), col("rn"))
  }
}
