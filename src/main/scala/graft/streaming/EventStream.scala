package graft.streaming

import java.sql.Timestamp

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode,
  TimerValues, ValueState}

/** A raw activity-log event on the stream (mirror of the events table). */
case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                 event_type: String, value: Double)

/** A closed user session emitted by the stateful sessionizer. */
case class Session(user_id: Long, session_start: Timestamp,
                   session_end: Timestamp, n_events: Long, duration_s: Long)

/** In-flight session state kept per user between micro-batches. */
case class SessionState(start: Long, last: Long, n: Long)

/** One tracked item of a per-shard Space-Saving summary, emitted after
  * every micro-batch; `n_seen` is the shard's total item count (its max
  * per shard identifies the newest snapshot downstream).
  */
case class ShardTopK(shard: Long, item: String, est: Long, err: Long,
                     n_seen: Long)

/** Serialized Space-Saving summary kept per shard between micro-batches
  * (parallel arrays — a stable product encoding for the state store).
  */
case class TopKState(items: Array[String], est: Array[Long],
                     err: Array[Long], seen: Long)

/** Streaming-CUSUM drift alert for one user after a micro-batch. */
case class DriftAlert(user_id: Long, n_obs: Long, mean: Double, cusum: Double)

/** Per-user Welford + CUSUM accumulator kept between micro-batches. */
case class DriftState(n: Long, mean: Double, m2: Double, cusum: Double)

case class FunnelConversion(user_id: Long, signup_ts: Timestamp,
    click_ts: Timestamp, purchase_ts: Timestamp)

/** Per-user funnel state machine position: step reached so far (0–3) and
  * the timestamps that completed steps 1 and 2. */
case class FunnelState(step: Long, s1: Timestamp, s2: Timestamp)

/** Structured Streaming twin of the batch pipeline (SURVEY.md §2.G).
  *
  * The reference detects threats by re-running Cypher queries over a
  * materialized Neo4j graph (neo4j_analysis.py:6-122) — inherently batch.
  * Here the same detections run continuously over an unbounded event
  * stream: each transform takes ANY streaming DataFrame with the events
  * schema (Kafka, files, socket, MemoryStream in tests — source-agnostic),
  * so the logic is identical from `readStream` to `writeStream`.
  *
  * Scale posture: every operator is keyed by a high-cardinality column
  * (user_id / event_type×window) → state distributes evenly across
  * executors; watermarks bound state size so a 100 TB/day stream can't
  * accumulate unbounded window or session state.
  */
object EventStream {

  /** Record-validity gate for raw stream frames: drop events whose
    * critical columns are null — the streaming face of
    * [[graft.Tables.cleanEvents]], so batch/stream twins agree on dirty
    * data. STRICT on schema: each transform declares the critical set
    * its record contract carries (default: the full
    * user_id/ts/event_type event schema; the resource-keyed transforms
    * that consume reduced `(event_id, ts, props)` frames declare just
    * `ts`), and a frame MISSING any declared column fails fast at
    * stream construction. A renamed or dropped critical column is
    * schema drift, and it surfaces as a loud require() here instead of
    * a silently disabled null gate degrading the policy in production.
    */
  private def cleanStream(df: DataFrame,
      critical: Seq[String] = Seq("user_id", "ts", "event_type")): DataFrame = {
    val missing = critical.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"stream frame is missing critical column(s) [${missing.mkString(", ")}] " +
        "— schema drift would silently disable the null-drop policy; pin the " +
        "source schema (readStream.schema(...)) or fix the upstream rename")
    critical.foldLeft(df)((d, c) => d.filter(col(c).isNotNull))
  }

  /** 1-hour tumbling counts + value sums per event_type — the streaming
    * twin of [[graft.operators.RelationalOps.qWindowedCounts]]. The
    * 2-hour watermark lets late events up to 2 h old still land in their
    * window, after which the window's state is dropped (bounded memory).
    */
  def windowedCounts(events: DataFrame): DataFrame =
    cleanStream(events)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** 1-hour tumbling OHLC bars per event type — the streaming twin of
    * [[graft.operators.RelationalOps.qOhlc]]. min_by/max_by are
    * declarative aggregates (partial-mergeable), so each open window's
    * state is six scalars per (window, type) no matter how many events
    * land in it; the same portable zero-padded `(micros, event_id)` key
    * makes open/close deterministic under replay and identical to the
    * batch bars over the same data. Watermark evicts closed windows.
    */
  def ohlcBars(events: DataFrame): DataFrame = {
    val key = format_string("%020d-%012d", unix_micros(col("ts")), col("event_id"))
    cleanStream(events)
      .filter(col("value").isNotNull)
      .withColumn("k", key)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(min_by(col("value"), col("k")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("k")).as("close"),
        count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("open"), col("high"), col("low"), col("close"), col("n_events"))
  }

  /** Per-window approximate distinct resources — the streaming form of
    * [[graft.operators.ThreatOps.qResourceAccessApprox]]'s HLL swap. The
    * HyperLogLog++ buffer is a fixed-size MERGEABLE sketch, so the
    * streaming state per open window is constant (vs an exact distinct,
    * whose per-window state grows with cardinality — unbounded on a
    * 100 TB/day log). Watermark closes windows and drops their sketches.
    */
  def approxDistinctResources(events: DataFrame): DataFrame =
    cleanStream(events, critical = Seq("ts"))
      .withColumn("resource", get_json_object(col("props"), "$.k"))
      .filter(col("resource").isNotNull)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(approx_count_distinct(col("resource"), 0.02).as("approx_resources"),
        count(lit(1)).as("n_accesses"))
      .select(col("w.start").as("window_start"),
        col("approx_resources"), col("n_accesses"))

  /** After-hours activity alerts: any event landing before 08:00 or after
    * 18:59 local (UTC session) is flagged immediately — the streaming twin
    * of the reference's after-hours detection (neo4j_analysis.py:6-35).
    * Stateless map-only transform: no shuffle, no state, per-event latency.
    */
  def afterHoursAlerts(events: DataFrame): DataFrame =
    cleanStream(events)
      .withColumn("hour_of_day", hour(col("ts")))
      .filter(col("hour_of_day") < 8 || col("hour_of_day") > 18)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("hour_of_day"))

  /** Per-user after-hours counts over a sliding 1-hour window — a bursty
    * after-hours actor fires repeatedly as the window slides.
    */
  def afterHoursWindowed(events: DataFrame): DataFrame =
    cleanStream(events)
      .withWatermark("ts", "2 hours")
      .filter(hour(col("ts")) < 8 || hour(col("ts")) > 18)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("after_hours_count"))
      .select(col("w.start").as("window_start"), col("user_id"),
        col("after_hours_count"))

  /** Streaming exact deduplication: drops events re-delivered with the
    * same event_id (at-least-once sources like Kafka replay on failure)
    * while keeping state bounded — `dropDuplicatesWithinWatermark` evicts
    * a key's dedup state once the watermark passes its event time, unlike
    * `dropDuplicates` whose state grows forever. The streaming twin of
    * the batch exact-dedup operator (DedupOps.qDedupExact).
    */
  def dedupEvents(events: DataFrame): DataFrame =
    cleanStream(events)
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Burst pattern detection: >= `minCount` error events from one user
    * inside a sliding 5-minute window — the multi-pattern-over-streams
    * shape (count-threshold CEP) as a watermarked windowed aggregation.
    * State is (window × bursty user) only; the filter runs pre-shuffle.
    */
  def errorBursts(events: DataFrame, minCount: Int = 3): DataFrame =
    cleanStream(events)
      .withWatermark("ts", "2 hours")
      .filter(col("event_type") === "error")
      .groupBy(window(col("ts"), "5 minutes", "1 minute").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_errors"))
      .filter(col("n_errors") >= minCount)
      .select(col("w.start").as("window_start"), col("user_id"), col("n_errors"))

  /** Stream-static anomaly scoring: each incoming event joined (broadcast,
    * stateless) against a batch-computed per-user baseline — flag users
    * whose live after-hours event arrives while their historical
    * after-hours ratio is already above `ratioThreshold`. The static side
    * is re-read per micro-batch if it's a table, so a nightly baseline
    * refresh propagates without restarting the stream. This is the
    * pattern that fuses the batch feature matrix (ThreatOps.qUserFeatures)
    * with live detection.
    */
  def anomalyAlerts(events: DataFrame, userBaseline: DataFrame,
      ratioThreshold: Double = 0.3): DataFrame = {
    val base = userBaseline.select(col("user_id"),
      col("after_hours_ratio"), col("total_activities"))
    cleanStream(events)
      .filter(hour(col("ts")) < 8 || hour(col("ts")) > 18)
      .join(base, Seq("user_id"), "inner")
      .filter(col("after_hours_ratio") >= ratioThreshold)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("after_hours_ratio"), col("total_activities"))
  }

  /** STREAM-STREAM interval join: each error event matched to the same
    * user's purchases in the preceding 10 minutes — "errors right after
    * checkout" correlation, continuously. Both sides carry watermarks and
    * the join condition bounds event-time distance, so Spark can evict
    * buffered rows once the watermark passes `purchase_ts + 10 min`:
    * retained state is bounded by the watermark delay PLUS the join
    * interval (~2h10m of stream here), not the whole stream. (Without
    * the time bound a stream-stream inner join must buffer forever.)
    */
  def purchaseLinkedErrors(events: DataFrame): DataFrame =
    errorPurchaseJoin(events, "inner")
      .select(col("user_id"), col("error_id"), col("error_ts"),
        col("purchase_id"), col("purchase_ts"))

  /** ORPHAN errors — the LEFT OUTER twin of [[purchaseLinkedErrors]]:
    * errors with NO same-user purchase in the preceding 10 minutes.
    * A streaming outer join cannot know "no match" until the watermark
    * proves no matching purchase can still arrive, so the null-side rows
    * emit when `max(event time) − 2 h` passes the error's join bound —
    * the unmatched detection is as late as the watermark, by design.
    * State stays bounded exactly as in the inner join.
    */
  def orphanErrors(events: DataFrame): DataFrame =
    errorPurchaseJoin(events, "left_outer")
      .filter(col("purchase_id").isNull)
      .select(col("user_id"), col("error_id"), col("error_ts"))

  /** The watermarked error and purchase sides (purchases' user renamed to
    * `p_user`) joined on same user and `purchase_ts ≤ error_ts ≤
    * purchase_ts + 10 min`, with join type `joinType`. */
  private def errorPurchaseJoin(events: DataFrame, joinType: String): DataFrame = {
    val ev = cleanStream(events) // gate BOTH join sides, not just errors
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("ts").as("error_ts"),
        col("user_id"))
      .withWatermark("error_ts", "2 hours")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
        col("user_id").as("p_user"))
      .withWatermark("purchase_ts", "2 hours")
    errors.join(purchases,
      col("user_id") === col("p_user") &&
        col("error_ts") >= col("purchase_ts") &&
        col("error_ts") <= col("purchase_ts") + expr("INTERVAL 10 MINUTES"),
      joinType)
  }

  /** Streaming CUSUM drift detector — the continuous twin of
    * [[graft.operators.ThreatOps.qCusumDrift]]: each user's event values
    * update a Welford running mean/variance; every value is standardized
    * against the baseline-SO-FAR (before it joins the baseline) and the
    * deviations accumulate. After a micro-batch, a user whose |cusum|
    * clears the threshold emits an alert. State is 4 numbers per user —
    * O(|users|) forever, no watermark needed (TimeMode.None); the
    * processor sorts each batch's rows by event time so replay/overlap
    * feeding produces identical accumulation (same contract as
    * sessionizeUser).
    */
  def driftAlerts(events: Dataset[Event], minObs: Int = 10,
      threshold: Double = 3.0): Dataset[DriftAlert] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new DriftProcessor(minObs, threshold),
        TimeMode.None(), OutputMode.Append())
  }

  /** Continuous three-step funnel (signup → click → purchase, each step
    * at-or-after the previous one's completion) on `transformWithState` —
    * the streaming twin of
    * [[graft.operators.RelationalOps.qFunnel3]]. Each user carries a
    * 3-field state-machine position (step + two timestamps, O(|users|)
    * bounded, TimeMode.None); a conversion emits EXACTLY ONCE, when the
    * purchase step completes, and the terminal state suppresses
    * re-emission forever after. Batches are sorted by event time for
    * replay determinism; the machine consumes the first QUALIFYING event
    * in stream order, which equals the batch twin's min-ts semantics
    * whenever the stream is time-ordered per user.
    */
  def funnelConversions(events: Dataset[Event]): Dataset[FunnelConversion] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor, TimeMode.None(),
        OutputMode.Append())
  }

  /** The processors' state encoders are built once per JVM, here in this
    * object: `init` runs once per task per micro-batch, and
    * `Encoders.product` is Scala reflection, whose runtime mirror is
    * behind one lock. Built inside `init`, it held the benchmark's alert
    * stream's task threads 7.7 s per run parked on that lock (JFR). A
    * `val` of this object is static, so it is not serialized with the task. */
  private lazy val FunnelStateEncoder: Encoder[FunnelState] = Encoders.product[FunnelState]

  /** Per-user signup→click→purchase state machine for
    * [[funnelConversions]]. */
  private[graft] class FunnelProcessor
      extends StatefulProcessor[Long, Event, FunnelConversion] {
    @transient private var state: ValueState[FunnelState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[FunnelState]("funnel",
        FunnelStateEncoder, TTLConfig.NONE)

    override def handleInputRows(userId: Long, batch: Iterator[Event],
        timerValues: TimerValues): Iterator[FunnelConversion] = {
      var st = if (state.exists()) state.get() else FunnelState(0L, null, null)
      var out: Option[FunnelConversion] = None
      for (e <- batch.toArray.sortBy(e => (e.ts.getTime, e.event_id))
           if out.isEmpty && st.step < 3) {
        st.step match {
          case 0 if e.event_type == "signup" =>
            st = FunnelState(1L, e.ts, null)
          case 1 if e.event_type == "click" && !e.ts.before(st.s1) =>
            st = FunnelState(2L, st.s1, e.ts)
          case 2 if e.event_type == "purchase" && !e.ts.before(st.s2) =>
            out = Some(FunnelConversion(userId, st.s1, st.s2, e.ts))
            st = FunnelState(3L, st.s1, st.s2)
          case _ => ()
        }
      }
      state.update(st)
      out.iterator
    }
  }

  private lazy val DriftStateEncoder: Encoder[DriftState] = Encoders.product[DriftState]

  /** Per-user Welford+CUSUM state machine for [[driftAlerts]]. */
  private[graft] class DriftProcessor(minObs: Int, threshold: Double)
      extends StatefulProcessor[Long, Event, DriftAlert] {
    @transient private var state: ValueState[DriftState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[DriftState]("drift",
        DriftStateEncoder, TTLConfig.NONE)

    override def handleInputRows(userId: Long, batch: Iterator[Event],
        timerValues: TimerValues): Iterator[DriftAlert] = {
      var st = if (state.exists()) state.get() else DriftState(0L, 0.0, 0.0, 0.0)
      // deterministic within-batch order (micro-batches deliver unsorted)
      for (e <- batch.toArray.sortBy(e => (e.ts.getTime, e.event_id))) {
        if (st.n >= minObs && st.m2 > 0) {
          val dev = (e.value - st.mean) / math.sqrt(st.m2 / st.n)
          st = st.copy(cusum = st.cusum + dev)
        }
        val n1 = st.n + 1
        val delta = e.value - st.mean
        val mean1 = st.mean + delta / n1
        st = DriftState(n1, mean1, st.m2 + delta * (e.value - mean1), st.cusum)
      }
      state.update(st)
      if (st.n >= minObs && math.abs(st.cusum) >= threshold)
        Iterator.single(DriftAlert(userId, st.n, st.mean, st.cusum))
      else Iterator.empty
    }
  }

  /** Stateful gap sessionization: a >30-minute silence per user closes the
    * session — the streaming twin of
    * [[graft.operators.RelationalOps.qSessionize]]'s lag-gap pattern,
    * re-expressed with `flatMapGroupsWithState` + event-time timeout so a
    * session also closes when the user simply goes quiet (the batch lag()
    * can look ahead; a stream cannot).
    *
    * State per user is three longs — O(|active users|) total, evicted on
    * timeout, so state is bounded regardless of stream length.
    */
  val SessionGapMs: Long = 30 * 60 * 1000L

  def sessionize(events: Dataset[Event]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(sessionizeUser)
  }

  /** Per-user state transition. Events inside a micro-batch arrive unsorted
    * → sort the (small, per-user-per-batch) group locally, fold through the
    * gap rule, emit every closed session, keep the open one in state.
    */
  private[graft] def sessionizeUser(
      userId: Long, batch: Iterator[Event],
      state: GroupState[SessionState]): Iterator[Session] = {
    if (batch.isEmpty && state.hasTimedOut) {
      // Watermark passed last event + gap with no new activity: close out.
      val out = state.getOption.map(toSession(userId, _)).iterator
      state.remove()
      return out
    }
    val (closed, cur) = sessionFold(userId, state.getOption, sortedEvents(batch))
    cur.foreach { s =>
      state.update(s)
      state.setTimeoutTimestamp(s.last + SessionGapMs)
    }
    closed.iterator
  }

  private def sortedEvents(batch: Iterator[Event]): Seq[Event] =
    batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))

  /** The gap rule both sessionizers fold a user's time-sorted events
    * through, starting from the open session `open`: an event within
    * [[SessionGapMs]] of the open session's last event joins it, a later
    * one closes it and opens a new one. Returns the closed sessions and
    * the session left open.
    */
  private def sessionFold(userId: Long, open: Option[SessionState],
      sorted: Seq[Event]): (Seq[Session], Option[SessionState]) = {
    var cur = open
    val closed = Seq.newBuilder[Session]
    for (e <- sorted) {
      val t = e.ts.getTime
      cur match {
        case Some(s) if t - s.last <= SessionGapMs =>
          // Late-but-admitted events can predate the open session (t <
          // s.last, even t < s.start): merging is the documented one-pass
          // approximation, but the span must still cover the event —
          // extend BOTH ends so start/duration can't understate it.
          cur = Some(s.copy(start = math.min(s.start, t),
            last = math.max(s.last, t), n = s.n + 1))
        case Some(s) =>
          closed += toSession(userId, s)
          cur = Some(SessionState(t, t, 1))
        case None =>
          cur = Some(SessionState(t, t, 1))
      }
    }
    (closed.result(), cur)
  }

  private def toSession(userId: Long, s: SessionState): Session =
    Session(userId, new Timestamp(s.start), new Timestamp(s.last),
      s.n, (s.last - s.start) / 1000L)

  /** Gap sessionization on the Spark 4 arbitrary-state API
    * ([[org.apache.spark.sql.streaming.StatefulProcessor]] /
    * `transformWithState`) — same semantics as [[sessionize]], re-expressed
    * with an explicit ValueState + event-time TIMERS instead of
    * flatMapGroupsWithState's single timeout. The processor model is what
    * new stateful operators should target: typed state variables (value/
    * list/map) on the RocksDB store, multiple timers per key, and state
    * TTL — `flatMapGroupsWithState` can only approximate those.
    *
    * Requires `spark.sql.streaming.stateStore.providerClass` =
    * RocksDBStateStoreProvider (transformWithState is implemented on the
    * RocksDB store only).
    */
  def sessionizeTws(events: Dataset[Event]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor, TimeMode.EventTime(),
        OutputMode.Append())
  }

  private lazy val SessionStateEncoder: Encoder[SessionState] = Encoders.product[SessionState]

  /** Per-user session state machine for [[sessionizeTws]]: merge events
    * within the gap (extending BOTH ends, as in [[sessionizeUser]]), close
    * on a gap-exceeding event, and arm ONE event-time timer at
    * last + gap so the open session also closes when the user goes quiet.
    */
  private[graft] class SessionProcessor
      extends StatefulProcessor[Long, Event, Session] {
    @transient private var state: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[SessionState]("session",
        SessionStateEncoder, TTLConfig.NONE)

    override def handleInputRows(userId: Long, batch: Iterator[Event],
        timerValues: TimerValues): Iterator[Session] = {
      val sorted = sortedEvents(batch)
      if (sorted.isEmpty) return Iterator.empty
      val (closed, cur) = sessionFold(userId,
        if (state.exists()) Some(state.get()) else None, sorted)
      cur.foreach { s =>
        state.update(s)
        // exactly one armed timer per key: drop stale ones, arm at the
        // new quiet-period deadline
        getHandle.listTimers().foreach(ts => getHandle.deleteTimer(ts.asInstanceOf[Long]))
        getHandle.registerTimer(s.last + SessionGapMs)
      }
      closed.iterator
    }

    override def handleExpiredTimer(userId: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Session] = {
      if (!state.exists()) return Iterator.empty
      val s = state.get()
      // stale-timer guard: only close if this timer is the CURRENT
      // quiet-period deadline (newer activity re-arms a later timer)
      if (expiredTimerInfo.getExpiryTimeInMs >= s.last + SessionGapMs) {
        state.clear()
        Iterator.single(toSession(userId, s))
      } else Iterator.empty
    }
  }

  /** Streaming heavy hitters: the continuous form of
    * [[graft.operators.HeavyHitters]]'s batch sketch. Resources are
    * sharded by hash (state distributes across executors exactly like
    * the batch kernel's partitions); each shard folds its slice through
    * a capacity-bounded Space-Saving summary held in a ValueState, and
    * emits its full summary snapshot after every micro-batch. Downstream
    * merge = the same groupBy-item sum as the batch path, so the
    * streaming estimates inherit the same ±n/capacity contract. State is
    * O(shards × capacity) FOREVER — no watermark needed, which is the
    * point: exact streaming top-k state grows with key cardinality.
    * TimeMode.None: pure data-driven state, no timers.
    */
  def topResourcesStream(events: DataFrame, shards: Int = 8,
      capacity: Int = 64): Dataset[ShardTopK] = {
    import events.sparkSession.implicits._
    cleanStream(events, critical = Seq("ts"))
      .withColumn("resource", get_json_object(col("props"), "$.k"))
      .filter(col("resource").isNotNull)
      .select(col("resource")).as[String]
      .groupByKey(r => math.floorMod(r.hashCode, shards).toLong)
      .transformWithState(new TopKProcessor(capacity), TimeMode.None(),
        OutputMode.Append())
  }

  private lazy val TopKStateEncoder: Encoder[TopKState] = Encoders.product[TopKState]

  /** Per-shard Space-Saving state machine for [[topResourcesStream]]:
    * rehydrate the summary map, fold the batch through the SHARED batch
    * kernel ([[graft.operators.HeavyHitters.spaceSavingUpdate]]), persist,
    * snapshot.
    */
  private[graft] class TopKProcessor(capacity: Int)
      extends StatefulProcessor[Long, String, ShardTopK] {
    @transient private var state: ValueState[TopKState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[TopKState]("topk",
        TopKStateEncoder, TTLConfig.NONE)

    override def handleInputRows(shard: Long, batch: Iterator[String],
        timerValues: TimerValues): Iterator[ShardTopK] = {
      val est = new java.util.HashMap[String, Array[Long]](capacity * 2)
      var seen = 0L
      if (state.exists()) {
        val s = state.get()
        seen = s.seen
        var i = 0
        while (i < s.items.length) {
          est.put(s.items(i), Array(s.est(i), s.err(i))); i += 1
        }
      }
      var n = 0L
      graft.operators.HeavyHitters.spaceSavingUpdate(est,
        batch.map { r => n += 1; r }, capacity)
      seen += n
      import scala.jdk.CollectionConverters._
      val entries = est.entrySet().asScala.toArray
      state.update(TopKState(entries.map(_.getKey),
        entries.map(_.getValue()(0)), entries.map(_.getValue()(1)), seen))
      entries.iterator.map(kv =>
        ShardTopK(shard, kv.getKey, kv.getValue()(0), kv.getValue()(1), seen))
    }
  }

  /** CDC keep-last-write upsert sink: maintains a compacted parquet
    * snapshot of the newest event per (user, resource) — the streaming
    * twin of [[graft.operators.RelationalOps.qLatestSnapshot]], i.e. a
    * MERGE INTO without a transactional table format. The snapshot is
    * hash-bucketed on the key; each micro-batch (1) reduces itself to
    * newest-per-key, (2) reads back ONLY the buckets it touches,
    * (3) re-deduplicates old∪new, (4) dynamic-partition-OVERWRITES just
    * those buckets — a Hudi-style copy-on-write upsert where work scales
    * with touched buckets, not snapshot size. `localCheckpoint(eager)`
    * materializes the merge BEFORE the overwrite so the job never reads
    * the files it is replacing. Replayed batches rewrite identical
    * content — idempotent. (With Delta/Iceberg available this becomes
    * one MERGE INTO; the bucket math is what those formats do inside.)
    */
  def sinkCdcUpsert(events: DataFrame, path: String, checkpoint: String,
      buckets: Int = 16): org.apache.spark.sql.streaming.StreamingQuery =
    cleanStream(events)
      .withColumn("resource", get_json_object(col("props"), "$.k"))
      .filter(col("resource").isNotNull)
      .select(col("user_id"), col("resource"), col("ts"), col("event_id"),
        col("value"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        import org.apache.spark.sql.expressions.{Window => W}
        val newestFirst = W.partitionBy(col("user_id"), col("resource"))
          .orderBy(col("ts").desc, col("event_id").desc)
        def latest(df: DataFrame): DataFrame = df
          .withColumn("rn", row_number().over(newestFirst))
          .filter(col("rn") === 1).drop("rn")
        val newest = latest(batch)
          .withColumn("bucket", pmod(hash(col("user_id"), col("resource")), lit(buckets)))
        val touched = newest.select("bucket").distinct()
          .collect().map(_.getInt(0)).toSeq // ≤ `buckets` small ints
        val existing =
          try spark.read.parquet(path).filter(col("bucket").isin(touched: _*))
          catch { case _: org.apache.spark.sql.AnalysisException =>
            newest.limit(0) } // first batch: no snapshot yet
        val merged = latest(existing.unionByName(newest))
          .localCheckpoint(true) // materialize before overwriting the source
        merged.write.mode("overwrite")
          .partitionBy("bucket")
          .option("partitionOverwriteMode", "dynamic")
          .parquet(path)
      }
      .start()

  /** Production sink for the windowed-counts stream: foreachBatch +
    * dynamic partition overwrite into parquet partitioned by
    * (window_date, window_ts). The partition key is the WINDOW itself:
    * append mode finalizes each window in exactly one micro-batch, so no
    * two batches ever write the same partition (no cross-batch
    * clobbering), while a replayed batch rewrites exactly its own
    * partitions — idempotent without a transactional table format.
    * (Partitioning by date alone would let batch N+1's windows of the
    * same day overwrite batch N's.)
    */
  def sinkWindowedCounts(counts: DataFrame, path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    counts.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          batch.sparkSession.conf
            .set("spark.sql.sources.partitionOverwriteMode", "dynamic")
          batch
            .withColumn("window_date", to_date(col("window_start")))
            .withColumn("window_ts", unix_timestamp(col("window_start")))
            .write.mode("overwrite")
            .partitionBy("window_date", "window_ts")
            .parquet(path)
        }
      }
      .start()

  /** End-to-end wiring sugar: file-source stream over a parquet events
    * directory → windowed counts → an in-memory/console-style sink, used
    * by docs and manual smoke runs. Tests drive the transforms above with
    * MemoryStream instead (source-agnostic by construction).
    */
  def fileStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.readStream.schema(Tables.table(spark, dir, "events").schema)
      .parquet(s"$dir/events.parquet")
    // Same physical-type dispatch as the batch reader — ONE helper so the
    // two paths can never drift apart again (they did once; see Tables).
    windowedCounts(Tables.adaptEventTs(raw))
  }
}
