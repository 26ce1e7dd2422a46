package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Stream processing over the `events` table shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference engine has no stream processing (SURVEY §2.10) — this
  * is the extension surface: Structured Streaming pipelines whose
  * batch-mode equivalents are what the driver's oracle verifies
  * (identical DataFrame code runs in both modes — the Spark streaming
  * contract).
  *
  * Scale: windowed aggregation state is bounded by the watermark;
  * sessionization state is per-user and times out; both shuffle on
  * (window/user) keys only.
  */
object EventStreams {

  /** The events schema as Spark reads it (ts normalized to µs — see
    * Tables.registerAll).
    */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Tumbling-window aggregation: per (1-hour window, event_type)
    * counts and exact sums. Works identically over a batch or
    * streaming DataFrame.
    */
  def tumblingAgg(events: DataFrame, windowLen: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Sliding-window event rate (1 h window every 30 min). */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("n_events"))

  /** The events table under `dir` read as a stream, `ts` cast to
    * TIMESTAMP: watermarks require instant event time, and the session
    * runs in UTC, so the cast keeps wall-clock values. `watermark` sets
    * the out-of-order tolerance on `ts` for the stateful operators.
    */
  def events(spark: SparkSession, dir: String, watermark: Option[String] = None,
             maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val src = Streams.files(spark, dir, eventSchema, maxFilesPerTrigger)
      .withColumn("ts", col("ts").cast("timestamp"))
    watermark.fold(src)(src.withWatermark("ts", _))
  }

  /** As-of attach for the stream-static shape: each event gets the
    * latest row of a STATIC (broadcast) timestamped dimension
    * at-or-before its `ts`. Candidates fan out per eligible dimension
    * row and collapse with `max_by` per event — on a stream an
    * update-mode aggregation keyed by the event id, state one row per
    * in-flight event. (The stream-STREAM as-of needs the union+window
    * plan of ops.AsofJoin, which streaming windows can't express —
    * pair a stream with a slowly-changing static side, the realistic
    * shape.) Output: (event_id, ts, the dimension's non-key columns).
    */
  def asofAttach(events: DataFrame, checkpoints: DataFrame, keys: Seq[String],
                 rightTs: String): DataFrame = {
    val rPayload = checkpoints.columns.toSeq.filterNot(keys.contains)
    events.join(broadcast(checkpoints),
        keys.map(k => events(k) === checkpoints(k)).reduce(_ && _) &&
          col(rightTs) <= col("ts"),
        "inner")
      .groupBy(col("event_id"))
      .agg(
        first(col("ts")).as("ts"),
        max_by(struct(rPayload.map(col): _*), col(rightTs)).as("__m"))
      .select(Seq(col("event_id"), col("ts")) ++
        rPayload.map(c => col("__m").getField(c).as(c)): _*)
  }

  /** Interval join: pair left and right events on equi `keys` where the
    * right event's time falls within [left.ts − lower, left.ts + upper].
    * Over two watermarked streams this is Spark's native stream-STREAM
    * inner join with a time-range condition, the stateful join shape
    * next to the stream-static [[asofAttach]] (correlating two
    * telemetry streams, impressions↔clicks, etc.). Output: the keys,
    * `l_event_id`, `l_ts`, `r_event_id`, `r_ts`.
    *
    * State: each side buffers only rows the OTHER side could still
    * match — Spark derives per-side retention from the time-range
    * condition plus the watermark and evicts automatically, so state
    * is bounded by (key cardinality × join window), never by stream
    * history. The join itself is a keyed exchange like any shuffle
    * hash join — no pair enumeration beyond co-keyed candidates.
    *
    * LOSSLESS iff the watermark covers the join bound plus the
    * sources' out-of-orderness (the replay spec pins batch ≡
    * streaming under exactly that sizing); an undersized watermark
    * degrades to best-effort — pairs whose partner was already
    * evicted are silently dropped — the standard bounded-state trade,
    * same as [[sessionizeWatermarked]]'s late-event rule. Inner-join
    * matches emit as soon as both rows are present (Append mode
    * holds back only OUTER-join nulls, not inner matches).
    *
    * `ops.IntervalJoin.overlapJoin` degenerates to this when both
    * sides are point events.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   keys: Seq[String] = Seq("user_id"),
                   lower: String = "10 minutes",
                   upper: String = "10 minutes"): DataFrame = {
    def side(df: DataFrame, tag: String) =
      df.select(keys.map(k => col(k).as(s"${tag}_$k")) ++
        Seq(col("event_id").as(s"${tag}_event_id"), col("ts").as(s"${tag}_ts")): _*)
    val cond = keys.map(k => col(s"l_$k") === col(s"r_$k")).reduce(_ && _) &&
      col("r_ts") >= expr(s"l_ts - INTERVAL $lower") &&
      col("r_ts") <= expr(s"l_ts + INTERVAL $upper")
    side(left, "l").join(side(right, "r"), cond, "inner")
      .select(keys.map(k => col(s"l_$k").as(k)) ++
        Seq(col("l_event_id"), col("l_ts"), col("r_event_id"), col("r_ts")): _*)
  }

  // ── stateful sessionization ────────────────────────────────────────

  final case class Event(event_id: Long, ts: java.time.LocalDateTime, user_id: Long,
                         event_type: String, value: Double)
  final case class SessionInfo(user_id: Long, session_id: Long, n_events: Long,
                               start_ts: java.time.LocalDateTime, end_ts: java.time.LocalDateTime)
  final case class SessionState(sessionSeq: Long, nEvents: Long,
                                startUs: Long, lastUs: Long)

  /** A user with no open session; the next session gets `sessionSeq`. */
  private val NoSession = SessionState(0, 0, 0, Long.MinValue)

  private def toUs(i: java.time.Instant): Long =
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  private def ofUs(u: Long): java.time.Instant =
    java.time.Instant.ofEpochSecond(Math.floorDiv(u, 1000000L),
      Math.floorMod(u, 1000000L) * 1000L)
  private def ofUsLocal(u: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofInstant(ofUs(u), java.time.ZoneOffset.UTC)

  /** The gap-split rule both sessionizers share: fold one user's event
    * times (µs since the epoch, in any order — events within one
    * micro-batch arrive unordered) into `st`. An event more than
    * `gapUs` after the open session's last event closes that session
    * and opens the next. Returns the new state and the sessions it
    * closed. Microseconds, because toEpochMilli would truncate the µs
    * component the events carry and misplace sessions near the gap.
    */
  private def splitSessions(st0: SessionState, times: Iterator[Long],
                            gapUs: Long): (SessionState, Seq[SessionState]) = {
    val closed = Seq.newBuilder[SessionState]
    var st = st0
    times.toArray.sorted.foreach { t =>
      if (st.nEvents == 0) st = st.copy(nEvents = 1, startUs = t, lastUs = t)
      else if (t - st.lastUs > gapUs) {
        closed += st
        st = SessionState(st.sessionSeq + 1, 1, t, t)
      } else st = st.copy(nEvents = st.nEvents + 1, lastUs = t)
    }
    (st, closed.result())
  }

  /** Gap-based sessionization with custom state
    * (flatMapGroupsWithState): a session closes after `gapMinutes` of
    * user inactivity; emits one row per closed session.
    */
  def sessionize(events: Dataset[Event], gapMinutes: Long = 30): Dataset[SessionInfo] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60 * 1000000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionInfo](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, it, state: GroupState[SessionState]) =>
          val (st, closed) = splitSessions(state.getOption.getOrElse(NoSession),
            it.map(e => toUs(e.ts.toInstant(java.time.ZoneOffset.UTC))), gapUs)
          state.update(st)
          closed.iterator.map(s => SessionInfo(userId, s.sessionSeq, s.nEvents,
            ofUsLocal(s.startUs), ofUsLocal(s.lastUs)))
      }
  }

  /** Flush still-open sessions (batch-mode epilogue): emit the current
    * state per user as a final session. Batch flatMapGroupsWithState
    * runs exactly one "batch", so closed sessions come from
    * `sessionize` and open ones from the per-user tail; this helper
    * computes the full session list batch-side for verification.
    */
  def sessionizeBatchComplete(events: Dataset[Event], gapMinutes: Long = 30): DataFrame = {
    import events.sparkSession.implicits._
    // gap compared in exact microseconds (unix_micros) — second-level
    // truncation could misclassify a gap within 1s of the threshold
    val gapUs = gapMinutes * 60 * 1000000L
    events.toDF().createOrReplaceTempView("_sess_events")
    events.sparkSession.sql(
      s"""WITH ordered AS (
         |  SELECT user_id, event_id, ts,
         |         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
         |  FROM _sess_events),
         |flagged AS (
         |  SELECT user_id, event_id, ts,
         |         CASE WHEN prev_ts IS NULL
         |                OR (unix_micros(CAST(ts AS TIMESTAMP)) - unix_micros(CAST(prev_ts AS TIMESTAMP))) > $gapUs
         |              THEN 1 ELSE 0 END AS new_session
         |  FROM ordered),
         |numbered AS (
         |  SELECT user_id, event_id, ts,
         |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_id
         |  FROM flagged)
         |SELECT user_id, session_id, COUNT(*) AS n_events,
         |       MIN(ts) AS start_ts, MAX(ts) AS end_ts
         |FROM numbered GROUP BY user_id, session_id""".stripMargin)
  }

  // ── watermarked (event-time) sessionization ────────────────────────

  /** Event with an instant (TIMESTAMP) event time — the type
    * watermarks require (TIMESTAMP_NTZ carries no instant).
    */
  final case class EventT(event_id: Long, ts: java.time.Instant, user_id: Long,
                          event_type: String, value: Double)
  final case class SessionInfoT(user_id: Long, session_id: Long, n_events: Long,
                                start_ts: java.time.Instant, end_ts: java.time.Instant)

  /** Event-time sessionization with a WATERMARK — the continuous form
    * of [[sessionize]]: per-user custom state plus
    * `GroupStateTimeout.EventTimeTimeout`, so a session CLOSES (and
    * emits) when the event-time watermark passes its last event by
    * `gapMinutes` — no terminal batch flush needed, and a closed
    * session's event state shrinks to a fixed-size tombstone.
    * The split rule is byte-identical to the batch form (µs-exact
    * `t − last > gap`, events sorted within each micro-batch), so an
    * available-now replay emits exactly the batch session set once
    * the watermark passes the tail — INCLUDING cumulative per-user
    * session numbering across timeout-closed sessions: the tombstone
    * carries the next sessionSeq, so a user returning after their
    * session timed out continues at seq+1 instead of colliding with
    * session 0 (spec-proven in EventStreamsSpec).
    *
    * Scale: ACTIVE-session state is bounded by the watermark horizon;
    * closed sessions leave one fixed-size tombstone per user ever
    * seen — the irreducible price of the batch form's cumulative
    * numbering (a returning user's next id cannot be derived from
    * nothing). Each micro-batch shuffles only its own events on
    * user_id. Late events below the watermark are dropped by the
    * engine — the standard trade that bounds state.
    */
  def sessionizeWatermarked(events: Dataset[EventT],
                            gapMinutes: Long = 30): Dataset[SessionInfoT] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60 * 1000000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionInfoT](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, it, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // the watermark passed last_event + gap with no new event:
            // the open session is closed by definition of the gap rule.
            // Retain a TOMBSTONE carrying the next sessionSeq (no
            // timeout re-armed, so it never fires again): cumulative
            // per-user session numbering — the batch contract — is
            // impossible with fully reclaimed state, because a user
            // returning after reclamation would restart at session 0
            // and collide with their earlier session's id. The
            // tombstone is one fixed-size record per user ever seen;
            // ACTIVE-session state stays bounded by the watermark
            // horizon. (For fully reclaimable state, key sessions by
            // start_ts instead — a different output contract.)
            val st = state.get
            state.update(NoSession.copy(sessionSeq = st.sessionSeq + 1))
            Iterator.single(SessionInfoT(userId, st.sessionSeq, st.nEvents,
              ofUs(st.startUs), ofUs(st.lastUs)))
          } else {
            val (st, closed) = splitSessions(state.getOption.getOrElse(NoSession),
              it.map(e => toUs(e.ts)), gapUs)
            state.update(st)
            // close at last + gap (ms granularity — the timeout only
            // schedules the FLUSH; the µs-exact split rule above is
            // untouched). Must exceed the current watermark: a state
            // already past due fires on the next no-data batch.
            val dueMs = Math.floorDiv(st.lastUs + gapUs, 1000L) + 1L
            state.setTimeoutTimestamp(
              Math.max(dueMs, state.getCurrentWatermarkMs() + 1L))
            closed.iterator.map(s => SessionInfoT(userId, s.sessionSeq, s.nEvents,
              ofUs(s.startUs), ofUs(s.lastUs)))
          }
      }
  }
}
