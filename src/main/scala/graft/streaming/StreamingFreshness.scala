package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState

/** Streaming extension of the freshness/count checks (SURVEY.md
  * §2.10, §7.2 M5): the same per-table count + max-event-time
  * semantics as the batch DCC pipeline, expressed over an unbounded
  * `events` stream with watermarked tumbling windows.
  *
  * Batch parity note: the transformation is a pure DataFrame →
  * DataFrame function, so the identical code runs in batch mode for
  * testing (Structured Streaming's unified API) — the spec drives it
  * both ways.
  */
object StreamingFreshness {

  /** Tumbling-window freshness per event_type: count + max event time
    * per (window, type). With a watermark, state for closed windows
    * is dropped — bounded state at any input scale.
    */
  def windowedFreshness(
      events: DataFrame,
      windowLength: String = "1 hour",
      watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(
        count(lit(1)).as("record_count"),
        max(col("ts")).as("max_ts"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("record_count"), col("max_ts"))

  /** One event-type's running freshness state, maintained across
    * micro-batches by [[freshnessMonitor]].
    */
  final case class FreshnessState(maxTsMicros: Long, totalCount: Long)

  /** Continuously-updated freshness snapshot per key. */
  final case class FreshnessStatus(
      event_type: String,
      max_ts_micros: Long,
      total_count: Long)

  /** Stateful freshness monitor (`mapGroupsWithState`): tracks, per
    * event_type, the running max event time and total count across
    * ALL micro-batches — the DCC freshness check as a continuously-
    * maintained quantity rather than a batch snapshot. State is one
    * tiny record per key (bounded by key cardinality, not input
    * volume); a production deployment adds a timeout to expire keys
    * that stop arriving.
    */
  def freshnessMonitor(
      spark: SparkSession,
      events: DataFrame): Dataset[FreshnessStatus] = {
    import spark.implicits._
    events
      .select(col("event_type"), unix_micros(col("ts")).as("ts_micros"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[FreshnessState, FreshnessStatus] {
        (key: String, batch: Iterator[(String, Long)], state: GroupState[FreshnessState]) =>
          val prev = state.getOption.getOrElse(FreshnessState(Long.MinValue, 0L))
          var maxTs = prev.maxTsMicros
          var n = prev.totalCount
          batch.foreach { case (_, ts) =>
            if (ts > maxTs) maxTs = ts
            n += 1
          }
          val next = FreshnessState(maxTs, n)
          state.update(next)
          FreshnessStatus(key, next.maxTsMicros, next.totalCount)
      }(Encoders.product[FreshnessState], Encoders.product[FreshnessStatus])
  }

  /** Streaming exact dedup: drop events whose dedup key was already
    * seen within the watermark horizon. State holds one entry per
    * distinct key inside the horizon and is purged as the watermark
    * advances — the streaming half of the training-data dedup story
    * (batch half: Dedup.dropExactDuplicates).
    */
  def dedupStream(
      events: DataFrame,
      keyCols: Seq[String],
      watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Gap-based streaming sessionization via the built-in
    * `session_window`: the streaming counterpart of
    * `Temporal.sessionize`. A session's state is emitted and dropped
    * once the watermark passes its close (start-gap merge handled by
    * the engine); state is bounded by open sessions, not input volume.
    */
  def sessionizedCounts(
      events: DataFrame,
      keyCol: String = "user_id",
      gap: String = "30 minutes",
      watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col(keyCol), col("n_events"))

  final case class VolumeState(count: Long, alerted: Boolean)
  final case class VolumeAlert(event_type: String, total_count: Long)

  /** Windowed volume-anomaly stream: tumbling event-time count
    * windows per group, each flagged against a STATIC per-group
    * baseline of `(group, mean, std)` — the profile a batch
    * [[graft.operators.Checks.volumeAnomalies]] run over history
    * produces. The streaming half of that monitor: history profiles
    * offline, the live feed is scored window-by-window as the
    * watermark closes each one.
    *
    * Scale: the windowed count is watermark-bounded state (groups ×
    * open windows); the baseline joins as a broadcast (it is
    * group-cardinality-sized by construction), so no stream-side
    * shuffle beyond the count's own. Unprofiled groups flag null,
    * not false — new feeds are "unknown", never silently normal.
    */
  def anomalousWindows(
      events: DataFrame,
      baseline: DataFrame,
      groupCol: String = "event_type",
      tsCol: String = "ts",
      windowLength: String = "1 hour",
      watermarkDelay: String = "1 hour",
      threshold: Double = 3.0): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(col(groupCol).as("group"), window(col(tsCol), windowLength))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(baseline), Seq("group"), "left_outer")
      .select(
        col("group"), col("window.start").as("window_start"), col("n"),
        when(col("std") > 0.0,
          abs(col("n").cast("double") - col("mean")) > lit(threshold) * col("std"))
          .otherwise(lit(null).cast("boolean")).as("is_anomaly"))

  /** Threshold-crossing alert stream (`flatMapGroupsWithState`):
    * emits ONE alert per event_type the first time its running count
    * reaches `threshold`, and nothing afterwards — 0-or-1 outputs per
    * group per batch, the variable-arity contract that
    * `mapGroupsWithState` (exactly one output) cannot express.
    */
  def volumeAlerts(
      spark: SparkSession,
      events: DataFrame,
      threshold: Long): Dataset[VolumeAlert] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import spark.implicits._
    events.select(col("event_type")).as[String]
      .groupByKey(identity)
      .flatMapGroupsWithState[VolumeState, VolumeAlert](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, batch: Iterator[String], state: GroupState[VolumeState]) =>
          val prev = state.getOption.getOrElse(VolumeState(0L, alerted = false))
          val total = prev.count + batch.size
          if (!prev.alerted && total >= threshold) {
            state.update(VolumeState(total, alerted = true))
            Iterator.single(VolumeAlert(key, total))
          } else {
            state.update(VolumeState(total, prev.alerted))
            Iterator.empty
          }
      }
  }

  /** First-seen filter over keys with native state TTL — the Spark 4
    * `transformWithState` API (StatefulProcessor + ValueState +
    * TTLConfig): emits a key's FIRST occurrence, suppresses repeats
    * until the state's TTL expires, after which the key may be
    * emitted again. State expiry is handled by the store itself (no
    * watermark coupling) — the production shape for "dedup within a
    * retention horizon" when the horizon is wall-clock, not
    * event-time. Requires the RocksDB state store provider.
    */
  class FirstSeenProcessor(ttl: java.time.Duration)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Long, Long] {
    import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}
    @transient private var seen: ValueState[Boolean] = _

    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      seen = getHandle.getValueState[Boolean](
        "seen", Encoders.scalaBoolean, TTLConfig(ttl))

    override def handleInputRows(
        key: Long, rows: Iterator[Long], timerValues: TimerValues): Iterator[Long] =
      if (seen.exists()) Iterator.empty
      else { seen.update(true); Iterator.single(key) }
  }

  /** Streaming TTL dedup via [[FirstSeenProcessor]]. */
  def dedupStreamTtl(
      spark: SparkSession,
      events: DataFrame,
      keyCol: String,
      ttl: java.time.Duration): Dataset[Long] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    events.select(col(keyCol).cast("long")).as[Long]
      .groupByKey(identity)
      .transformWithState(new FirstSeenProcessor(ttl),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  final case class SessionAgg(startMs: Long, endMs: Long, nEvents: Long)
  final case class SessionOut(
      user_id: Long, session_start_ms: Long, session_end_ms: Long, n_events: Long)

  /** Inactivity-gap sessionization emitted by EVENT-TIME TIMERS — the
    * transformWithState upgrade of [[sessionizedCounts]]'s
    * `session_window`: the processor owns the session boundary
    * decision, so enrichments the declarative form can't express
    * (emit-on-close side outputs, per-session custom payloads,
    * mid-session early emission) hang off the same skeleton.
    *
    * Each key holds one open session in a ValueState. Every input
    * batch extends the session envelope and reschedules the ONE
    * pending timer to (session end + gap); when the watermark passes
    * that instant the timer fires, the session emits exactly once,
    * and state clears — state lifetime is bounded by the gap, the
    * timer registry holds one entry per open session, and emission
    * needs no second shuffle. A later event simply opens a new
    * session (standard watermark semantics).
    */
  class SessionTimerProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp), SessionOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimerValues, TTLConfig, ValueState}
    @transient private var sess: ValueState[SessionAgg] = _

    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      sess = getHandle.getValueState[SessionAgg](
        "sess", Encoders.product[SessionAgg], TTLConfig.NONE)

    override def handleInputRows(
        key: Long, rows: Iterator[(Long, java.sql.Timestamp)],
        timerValues: TimerValues): Iterator[SessionOut] = {
      var start = Long.MaxValue
      var end = Long.MinValue
      var n = 0L
      rows.foreach { case (_, ts) =>
        val ms = ts.getTime
        if (ms < start) start = ms
        if (ms > end) end = ms
        n += 1
      }
      if (n > 0) {
        val merged =
          if (sess.exists()) {
            val cur = sess.get()
            SessionAgg(math.min(cur.startMs, start), math.max(cur.endMs, end),
              cur.nEvents + n)
          } else SessionAgg(start, end, n)
        sess.update(merged)
        // one live timer per key: drop whatever was scheduled, then
        // re-arm at the (possibly extended) close instant
        getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
        getHandle.registerTimer(merged.endMs + gapMs)
      }
      Iterator.empty
    }

    override def handleExpiredTimer(
        key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionOut] =
      if (!sess.exists()) Iterator.empty
      else {
        val s = sess.get()
        sess.clear()
        Iterator.single(SessionOut(key, s.startMs, s.endMs, s.nEvents))
      }
  }

  /** Per-user sessions via [[SessionTimerProcessor]] (event-time
    * timers; `events` needs a `user_id` and a timestamp `ts`).
    */
  def sessionsWithTimers(
      spark: SparkSession, events: DataFrame,
      gap: java.time.Duration,
      watermarkDelay: String = "10 minutes"): Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id").cast("long").as("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new SessionTimerProcessor(gap.toMillis),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Watermarked stream-stream interval join: attribute each `click`
    * to the `view`s by the same user within the preceding
    * `attributionWindow`. Both sides carry watermarks and the join
    * condition bounds click_ts ∈ [view_ts, view_ts + window], so the
    * engine can prove when buffered view state is unmatchable and
    * drop it — the contract that makes stream-stream joins run with
    * bounded state at any input rate.
    */
  def attributedClicks(
      events: DataFrame,
      attributionWindow: String = "30 minutes",
      watermarkDelay: String = "1 hour"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"))
      .withWatermark("view_ts", watermarkDelay)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", watermarkDelay)
    clicks.join(views,
      expr(s"""c_user = v_user
              |AND click_ts >= view_ts
              |AND click_ts <= view_ts + INTERVAL $attributionWindow""".stripMargin))
      .select(col("c_user").as("user_id"), col("view_ts"), col("click_ts"))
  }
}
