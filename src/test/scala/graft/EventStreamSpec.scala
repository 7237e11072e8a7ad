package graft

import java.sql.Timestamp

import graft.streaming.{Event, EventStream, Session, SessionState, ShardTopK}
import org.apache.spark.api.java.Optional
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}

class EventStreamSpec extends SparkSpec {

  // Base of +1 day keeps hour-of-day intact while staying clear of epoch 0:
  // an event AT the initial watermark (0) is dropped as late by stateful ops.
  private def ts(minutes: Long): Timestamp = new Timestamp((1440 + minutes) * 60000L)
  private def ev(id: Long, minutes: Long, user: Long, typ: String = "login"): Event =
    Event(id, ts(minutes), user, typ, 1.0)

  test("sessionizeUser: gap > 30min closes a session, state carries the open one") {
    val state = TestGroupState.create[SessionState](
      Optional.empty[SessionState](), GroupStateTimeout.EventTimeTimeout,
      0L, Optional.of(java.lang.Long.valueOf(0L)), false)
    val batch = Iterator(ev(1, 0, 7), ev(2, 10, 7), ev(3, 100, 7))
    val closed = EventStream.sessionizeUser(7L, batch, state).toSeq
    assert(closed === Seq(Session(7L, ts(0), ts(10), 2, 600)))
    assert(state.get === SessionState(ts(100).getTime, ts(100).getTime, 1))
  }

  test("sessionizeUser: timeout flushes the open session and clears state") {
    val open = SessionState(ts(0).getTime, ts(10).getTime, 2)
    val state = TestGroupState.create[SessionState](
      Optional.of(open), GroupStateTimeout.EventTimeTimeout,
      0L, Optional.of(java.lang.Long.valueOf(ts(10).getTime + EventStream.SessionGapMs)), true)
    val out = EventStream.sessionizeUser(7L, Iterator.empty, state).toSeq
    assert(out === Seq(Session(7L, ts(0), ts(10), 2, 600)))
    assert(!state.exists)
  }

  test("sessionizeUser sorts unordered events within a batch") {
    val state = TestGroupState.create[SessionState](
      Optional.empty[SessionState](), GroupStateTimeout.EventTimeTimeout,
      0L, Optional.of(java.lang.Long.valueOf(0L)), false)
    val batch = Iterator(ev(2, 10, 7), ev(1, 0, 7), ev(3, 20, 7))
    val closed = EventStream.sessionizeUser(7L, batch, state).toSeq
    assert(closed.isEmpty)
    assert(state.get.n === 3 && state.get.start === ts(0).getTime)
  }

  test("windowedCounts aggregates a MemoryStream into 1h tumbling windows") {
    val s = spark
    import s.implicits._
    val mem = MemoryStream[Event](spark)
    val q = EventStream.windowedCounts(mem.toDF())
      .writeStream.format("memory").queryName("wc").outputMode("complete").start()
    try {
      mem.addData(ev(1, 10, 1, "login"), ev(2, 20, 1, "login"),
        ev(3, 70, 2, "write"), ev(4, 80, 2, "login"))
      q.processAllAvailable()
      val rows = spark.table("wc")
        .select("window_start", "event_type", "n").collect()
        .map(r => (r.getTimestamp(0).getTime / 60000, r.getString(1), r.getLong(2))).toSet
      assert(rows === Set((1440L, "login", 2L), (1500L, "write", 1L), (1500L, "login", 1L)))
    } finally q.stop()
  }

  test("approxDistinctResources: per-window sketch counts match exact on small sets") {
    val s = spark
    import s.implicits._
    // (event_id, ts, props) — the resource rides in the JSON payload as
    // in the batch table; HLL at rsd=0.02 is exact at these cardinalities
    val mem = MemoryStream[(Long, Timestamp, String)](spark)
    val df = mem.toDF().toDF("event_id", "ts", "props")
    val q = EventStream.approxDistinctResources(df)
      .writeStream.format("memory").queryName("adr").outputMode("complete").start()
    try {
      mem.addData(
        (1L, ts(10), """{"k":"a"}"""), (2L, ts(20), """{"k":"b"}"""),
        (3L, ts(30), """{"k":"a"}"""), (4L, ts(40), null),
        (5L, ts(70), """{"k":"a"}"""), (6L, ts(80), """{"k":"c"}"""),
        (7L, ts(90), """{"x":"no-k"}"""))
      q.processAllAvailable()
      val rows = spark.table("adr").collect()
        .map(r => (r.getTimestamp(0).getTime / 60000,
          r.getLong(1), r.getLong(2))).toSet
      // window 1: {a,b} over 3 accesses; window 2: {a,c} over 2 (null and
      // missing-key rows never reach the sketch)
      assert(rows === Set((1440L, 2L, 3L), (1500L, 2L, 2L)))
    } finally q.stop()
  }

  test("afterHoursAlerts flags only <08:00 or >18:59 events") {
    val s = spark
    import s.implicits._
    val mem = MemoryStream[Event](spark)
    val q = EventStream.afterHoursAlerts(mem.toDF())
      .writeStream.format("memory").queryName("ah").outputMode("append").start()
    try {
      // minute offsets within day 0: 03:00 (after-hours), 12:00 (not), 21:00 (yes)
      mem.addData(ev(1, 3 * 60, 1), ev(2, 12 * 60, 1), ev(3, 21 * 60, 2))
      q.processAllAvailable()
      val ids = spark.table("ah").select("event_id").collect().map(_.getLong(0)).toSet
      assert(ids === Set(1L, 3L))
    } finally q.stop()
  }

  test("sessionize end-to-end: watermark-driven session close on a MemoryStream") {
    val s = spark
    import s.implicits._
    val mem = MemoryStream[Event](spark)
    val q = EventStream.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      mem.addData(ev(1, 0, 42), ev(2, 10, 42))
      q.processAllAvailable()
      // Advance the watermark far past last+gap: 2h delay => wm = 360-120 = 240min
      mem.addData(ev(3, 360, 99))
      q.processAllAvailable()
      mem.addData(ev(4, 361, 99)) // extra batch so the timeout fires
      q.processAllAvailable()
      val sessions = spark.table("sess").as[Session].collect()
      val u42 = sessions.filter(_.user_id == 42L)
      assert(u42.toSeq === Seq(Session(42L, ts(0), ts(10), 2, 600)))
    } finally q.stop()
  }

  test("sessionizeTws (transformWithState): gap close + timer close match sessionize") {
    val s = spark
    import s.implicits._
    withRocksDb {
      val mem = MemoryStream[Event](spark)
      val q = EventStream.sessionizeTws(mem.toDS())
        .writeStream.format("memory").queryName("sess_tws").outputMode("append").start()
      try {
        // session A: two events 10 min apart; then a 40-min gap event (> 30
        // min gap) closes A within the same key
        mem.addData(ev(1, 0, 42), ev(2, 10, 42), ev(3, 50, 42))
        q.processAllAvailable()
        // advance the watermark far past 50 + gap so the TIMER closes B
        mem.addData(ev(4, 360, 99))
        q.processAllAvailable()
        mem.addData(ev(5, 361, 99))
        q.processAllAvailable()
        val sessions = spark.table("sess_tws").as[Session].collect()
        val u42 = sessions.filter(_.user_id == 42L).sortBy(_.session_start.getTime)
        assert(u42.toSeq === Seq(
          Session(42L, ts(0), ts(10), 2, 600),   // closed by the gap event
          Session(42L, ts(50), ts(50), 1, 0)))   // closed by the timer
      } finally q.stop()
    }
  }

  test("topResourcesStream: sharded Space-Saving state merges to exact counts") {
    val s = spark
    import s.implicits._
    withRocksDb {
      val mem = MemoryStream[(Long, Timestamp, String)](spark)
      val df = mem.toDF().toDF("event_id", "ts", "props")
      // capacity far above cardinality: the sketch must be exact across
      // micro-batches (state carries batch-1 counts into batch 2)
      val q = EventStream.topResourcesStream(df, shards = 4, capacity = 64)
        .writeStream.format("memory").queryName("hh_tws").outputMode("append").start()
      def p(r: String) = s"""{"k":"$r"}"""
      try {
        mem.addData((1L, ts(1), p("a")), (2L, ts(2), p("a")), (3L, ts(3), p("b")),
          (4L, ts(4), null))
        q.processAllAvailable()
        mem.addData((5L, ts(5), p("a")), (6L, ts(6), p("c")), (7L, ts(7), p("b")))
        q.processAllAvailable()
        val all = spark.table("hh_tws").as[ShardTopK].collect()
        // newest snapshot per shard = rows at that shard's max n_seen
        val latest = all.groupBy(_.shard).values.flatMap { rows =>
          val top = rows.map(_.n_seen).max
          rows.filter(_.n_seen == top)
        }.toSeq
        val merged = latest.groupBy(_.item).view
          .mapValues(_.map(_.est).sum).toMap
        assert(merged === Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
        assert(latest.forall(_.err == 0L), "no evictions below capacity")
        assert(latest.map(r => r.shard -> r.n_seen).toMap.values.sum === 6L)
      } finally q.stop()
    }
  }

  test("purchaseLinkedErrors joins errors to purchases within 10 minutes, same user") {
    val s = spark
    import s.implicits._
    val mem = MemoryStream[Event](spark)
    val q = EventStream.purchaseLinkedErrors(mem.toDF())
      .writeStream.format("memory").queryName("ple").outputMode("append").start()
    try {
      mem.addData(
        ev(1, 0, 7, "purchase"),
        ev(2, 5, 7, "error"),    // 5 min after purchase, same user → match
        ev(3, 20, 7, "error"),   // 20 min after → outside interval
        ev(4, 5, 8, "error"))    // same offset, different user → no match
      q.processAllAvailable()
      val rows = spark.table("ple")
        .select("user_id", "error_id", "purchase_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows === Set((7L, 2L, 1L)))
    } finally q.stop()
  }

  test("orphanErrors emits only watermark-proven unmatched errors") {
    val s = spark
    import s.implicits._
    val mem = MemoryStream[Event](spark)
    val q = EventStream.orphanErrors(mem.toDF())
      .writeStream.format("memory").queryName("orphans").outputMode("append").start()
    try {
      mem.addData(
        ev(1, 0, 7, "purchase"),
        ev(2, 5, 7, "error"),   // purchase 5 min before, same user → matched
        ev(3, 5, 8, "error"))   // no purchase for user 8 → orphan
      q.processAllAvailable()
      // nothing can emit yet: watermark hasn't passed the join bound
      assert(spark.table("orphans").count() === 0)
      // push BOTH side watermarks far past error_ts + interval (2h delay
      // + slack). The advancing events must survive the side filters —
      // a non-error/non-purchase event never reaches a watermark node.
      mem.addData(ev(9, 300, 9, "purchase"), ev(10, 300, 9, "error"))
      q.processAllAvailable()
      // eviction applies the new watermark in the NEXT micro-batch
      mem.addData(ev(11, 301, 9, "purchase"), ev(12, 301, 9, "error"))
      q.processAllAvailable()
      val rows = spark.table("orphans").select("user_id", "error_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows === Set((8L, 3L)))
    } finally q.stop()
  }

  test("driftAlerts: stable stream stays silent, a level shift fires and matches Welford by hand") {
    val s = spark
    import s.implicits._
    withRocksDb {
      val mem = MemoryStream[Event](spark)
      val q = EventStream.driftAlerts(mem.toDS(), minObs = 4, threshold = 3.0)
        .writeStream.format("memory").queryName("drift").outputMode("append").start()
      try {
        // user 7: alternating baseline (variance > 0), then a level shift;
        // user 8: same baseline, no shift — must stay silent
        val base7 = Seq(10.0, 12.0, 10.0, 12.0).zipWithIndex.map { case (v, i) =>
          Event(i + 1, ts(i), 7, "m", v) }
        val base8 = Seq(10.0, 12.0, 10.0, 12.0).zipWithIndex.map { case (v, i) =>
          Event(100 + i, ts(i), 8, "m", v) }
        mem.addData(base7 ++ base8: _*)
        q.processAllAvailable()
        assert(spark.table("drift").count() === 0) // cusum still ~0
        val shift = (0 until 4).map(i => Event(10 + i, ts(10 + i), 7, "m", 20.0))
        val calm = (0 until 4).map(i => Event(110 + i, ts(10 + i), 8, "m", 10.0 + 2 * (i % 2)))
        mem.addData(shift ++ calm: _*)
        q.processAllAvailable()
        val alerts = spark.table("drift").as[graft.streaming.DriftAlert].collect()
        assert(alerts.map(_.user_id).toSet === Set(7L))
        // replicate the accumulation by hand (same order, same formulas)
        var (n, mean, m2, cusum) = (0L, 0.0, 0.0, 0.0)
        for (v <- Seq(10.0, 12.0, 10.0, 12.0, 20.0, 20.0, 20.0, 20.0)) {
          if (n >= 4 && m2 > 0) cusum += (v - mean) / math.sqrt(m2 / n)
          n += 1; val d = v - mean; mean += d / n; m2 += d * (v - mean)
        }
        val a = alerts.head
        assert(a.n_obs === n && math.abs(a.cusum - cusum) < 1e-9 &&
          math.abs(a.mean - mean) < 1e-9)
        assert(math.abs(cusum) >= 3.0)
      } finally q.stop()
    }
  }

  test("ohlcBars: open/close track the portable time key, high/low bound the window") {
    val s = spark
    import s.implicits._
    val mem = MemoryStream[Event](spark)
    val q = EventStream.ohlcBars(mem.toDF())
      .writeStream.format("memory").queryName("ohlc").outputMode("complete").start()
    try {
      // one 1-h window (minutes 0-59): open at t=5 (value 11), close at
      // t=50 (value 7), high 20 at t=30, low 3 at t=10 — arrival order
      // deliberately scrambled so only the event-time key can sort it out
      mem.addData(
        Event(3, ts(30), 1, "m", 20.0), Event(1, ts(5), 1, "m", 11.0),
        Event(4, ts(50), 1, "m", 7.0), Event(2, ts(10), 1, "m", 3.0))
      q.processAllAvailable()
      val r = spark.table("ohlc").collect()
      assert(r.length === 1)
      val row = r.head
      assert(row.getAs[Double]("open") === 11.0)
      assert(row.getAs[Double]("high") === 20.0)
      assert(row.getAs[Double]("low") === 3.0)
      assert(row.getAs[Double]("close") === 7.0)
      assert(row.getAs[Long]("n_events") === 4L)
      // batch twin agrees on the same data shape: same key, same answer
    } finally q.stop()
  }

  test("funnelConversions: ordered steps convert once, wrong-order users never do") {
    val s = spark
    import s.implicits._
    withRocksDb {
      val mem = MemoryStream[Event](spark)
      val q = EventStream.funnelConversions(mem.toDS())
        .writeStream.format("memory").queryName("funnel3").outputMode("append").start()
      try {
        // user 1 completes across TWO micro-batches; user 2 clicks before
        // signing up (click must not count); user 3 purchases before
        // clicking (purchase must not count)
        mem.addData(
          Event(1, ts(0), 1, "signup", 0), Event(2, ts(1), 1, "click", 0),
          Event(10, ts(0), 2, "click", 0), Event(11, ts(1), 2, "signup", 0),
          Event(20, ts(0), 3, "signup", 0), Event(21, ts(1), 3, "purchase", 0))
        q.processAllAvailable()
        assert(spark.table("funnel3").count() === 0)
        mem.addData(
          Event(3, ts(2), 1, "purchase", 0),
          Event(12, ts(2), 2, "purchase", 0),
          Event(22, ts(2), 3, "click", 0),
          // a second full pass for user 1 must NOT re-emit (terminal state)
          Event(4, ts(3), 1, "signup", 0), Event(5, ts(4), 1, "click", 0),
          Event(6, ts(5), 1, "purchase", 0))
        q.processAllAvailable()
        val conv = spark.table("funnel3")
          .as[graft.streaming.FunnelConversion].collect()
        assert(conv.map(_.user_id).toSeq === Seq(1L))
        val c = conv.head
        assert(c.signup_ts === ts(0) && c.click_ts === ts(1) && c.purchase_ts === ts(2))
      } finally q.stop()
    }
  }

  test("sinkCdcUpsert maintains newest-per-key across batches, updates and replays") {
    val s = spark
    import s.implicits._
    val dir = s"/tmp/graft-cdc-${System.nanoTime()}"
    val mem = MemoryStream[org.apache.spark.sql.Row](spark)(
      org.apache.spark.sql.Encoders.row(Tables.events(spark, sf).schema))
    // drive with the raw events schema (ts, props JSON payload)
    def raw(id: Long, minutes: Long, user: Long, res: Int, value: Double) =
      org.apache.spark.sql.Row(id, ts(minutes), user, "login", value, s"""{"k": $res}""")
    val q = EventStream.sinkCdcUpsert(mem.toDF(), s"$dir/snap", s"$dir/ck")
    try {
      mem.addData(raw(1, 0, 7, 100, 1.0), raw(2, 10, 7, 100, 2.0), raw(3, 0, 8, 200, 3.0))
      q.processAllAvailable()
      // batch 2: update user 7's key, replay event 3, add a new key
      mem.addData(raw(4, 20, 7, 100, 4.0), raw(3, 0, 8, 200, 3.0), raw(5, 5, 9, 300, 5.0))
      q.processAllAvailable()
      val snap = spark.read.parquet(s"$dir/snap")
        .select("user_id", "resource", "event_id", "value").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(snap === Set(
        (7L, "100", 4L, 4.0),  // updated to the newest write
        (8L, "200", 3L, 3.0),  // replay did not duplicate
        (9L, "300", 5L, 5.0)))
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir)); ()
    }
  }

  test("sinkCdcUpsert crash-restart: a mid-batch kill recovers to the uninterrupted twin's snapshot") {
    // The exactly-once pattern the r14 round built for nearDupStream,
    // applied to the upsert SINK (r14 verdict #6): the query is killed
    // with a batch enqueued but not awaited — the stop races that
    // batch's foreachBatch body, so the crash can land before, inside,
    // or after its non-transactional bucket overwrite — then restarted
    // from the same checkpoint and driven to the end of the feed. The
    // recovered snapshot must EQUAL an uninterrupted twin's: the
    // replayed batch re-merges into whatever half-state the crash left
    // (keep-last-write is idempotent), and post-restart updates must
    // land on keys first written before the crash (state comes from the
    // snapshot itself, which must have survived).
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_cdc_restart_").toFile
    def raw(id: Long, minutes: Long, user: Long, res: Int, value: Double) =
      org.apache.spark.sql.Row(id, ts(minutes), user, "login", value, s"""{"k": $res}""")
    // batch 2 updates a batch-1 key; batch 3 (post-restart) updates a
    // key from EACH side of the crash — full cross-crash dependence
    val batches: Seq[Seq[org.apache.spark.sql.Row]] = Seq(
      Seq(raw(1, 0, 7, 100, 1.0), raw(2, 0, 8, 200, 2.0), raw(3, 0, 9, 300, 3.0)),
      Seq(raw(4, 10, 7, 100, 4.0), raw(5, 0, 10, 400, 5.0)),
      Seq(raw(6, 20, 8, 200, 6.0), raw(7, 15, 10, 400, 7.0)))
    def run(name: String, crash: Boolean): Set[(Long, String, Long, Double)] = {
      val snap = s"$tmp/$name/snap"
      val ckpt = s"$tmp/$name/ck"
      val mem = MemoryStream[org.apache.spark.sql.Row](spark)(
        org.apache.spark.sql.Encoders.row(Tables.events(spark, sf).schema))
      def start() = EventStream.sinkCdcUpsert(mem.toDF(), snap, ckpt)
      val q1 = start()
      mem.addData(batches(0): _*)
      q1.processAllAvailable()
      if (crash) {
        mem.addData(batches(1): _*) // un-awaited: the kill races this commit
        q1.stop()
        val q2 = start() // recover from the checkpoint, same source
        mem.addData(batches(2): _*)
        q2.processAllAvailable()
        q2.stop()
      } else {
        mem.addData(batches(1): _*)
        mem.addData(batches(2): _*)
        q1.processAllAvailable()
        q1.stop()
      }
      spark.read.parquet(snap)
        .select("user_id", "resource", "event_id", "value").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    }
    try {
      // The kill races a non-transactional bucket overwrite, but that
      // overwrite is STAGED (files land under a hidden .spark-staging
      // dir and move into place via renames, atomic per file/dir on a
      // local fs), so a reader never sees a half-written parquet file —
      // the recovery read's residual failure mode is a transient listing
      // race inside the delete→rename commit window. Per the r15
      // advisory that residual race must RETRY, not flake: a read/IO
      // error in the crash run gets a bounded re-roll on fresh dirs.
      // Assertion failures are NOT retried — a wrong snapshot stays red.
      def crashRunWithRetry(attempt: Int = 0): Set[(Long, String, Long, Double)] =
        try run(s"crash$attempt", crash = true)
        catch {
          case e: Exception if attempt < 2 &&
              !e.isInstanceOf[org.scalatest.exceptions.TestFailedException] =>
            info(s"crash-run attempt $attempt hit a transient failure " +
              s"(${e.getClass.getSimpleName}: ${e.getMessage}); retrying")
            crashRunWithRetry(attempt + 1)
        }
      val interrupted = crashRunWithRetry()
      val reference = run("clean", crash = false)
      assert(interrupted === reference,
        s"restart diverged from the uninterrupted twin: $interrupted vs $reference")
      // and both equal the by-hand newest-per-key truth — the twin
      // compare alone could not catch a bug that breaks both runs alike
      assert(interrupted === Set(
        (7L, "100", 4L, 4.0),   // updated across the crash boundary
        (8L, "200", 6L, 6.0),   // pre-crash key updated post-restart
        (9L, "300", 3L, 3.0),   // untouched pre-crash key survives
        (10L, "400", 7L, 7.0))) // crash-window key updated post-restart
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(tmp); ()
    }
  }

  test("dedupEvents drops replayed event_ids within the watermark") {
    val s = spark
    import s.implicits._
    val mem = MemoryStream[Event](spark)
    val q = EventStream.dedupEvents(mem.toDF())
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      mem.addData(ev(1, 10, 1), ev(2, 20, 1))
      q.processAllAvailable()
      mem.addData(ev(1, 10, 1), ev(3, 30, 2)) // event 1 replayed
      q.processAllAvailable()
      val ids = spark.table("dedup").select("event_id").collect().map(_.getLong(0))
      assert(ids.sorted.toSeq === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("errorBursts fires only when >= 3 errors land in a 5-minute window") {
    val s = spark
    import s.implicits._
    val mem = MemoryStream[Event](spark)
    val q = EventStream.errorBursts(mem.toDF())
      .writeStream.format("memory").queryName("bursts").outputMode("append").start()
    try {
      mem.addData(
        ev(1, 10, 7, "error"), Event(2, ts(11), 7, "error", 1.0),
        Event(3, ts(12), 7, "error", 1.0),          // user 7: 3 errors in 3 min
        Event(4, ts(10), 8, "error", 1.0),
        Event(5, ts(30), 8, "error", 1.0),          // user 8: spread out, never 3
        Event(6, ts(11), 9, "click", 1.0))          // non-error ignored
      q.processAllAvailable()
      // Catalyst pushes the error filter BELOW the watermark node, so only
      // error events advance the watermark — flush with late lone errors
      // (2 in a window, below the >= 3 threshold).
      mem.addData(ev(7, 400, 1, "error"))
      q.processAllAvailable()
      mem.addData(ev(8, 700, 1, "error")) // extra batch: emission follows the advance
      q.processAllAvailable()
      val users = spark.table("bursts").select("user_id").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(users === Set(7L))
    } finally q.stop()
  }

  test("anomalyAlerts: stream-static join flags only high-ratio users after hours") {
    val s = spark
    import s.implicits._
    val baseline = Seq((1L, 0.5, 100L), (2L, 0.1, 200L))
      .toDF("user_id", "after_hours_ratio", "total_activities")
    val mem = MemoryStream[Event](spark)
    val q = EventStream.anomalyAlerts(mem.toDF(), baseline)
      .writeStream.format("memory").queryName("alerts").outputMode("append").start()
    try {
      // 03:00: user 1 (ratio .5 -> alert), user 2 (ratio .1 -> no), user 3 (no baseline)
      mem.addData(ev(1, 3 * 60, 1), ev(2, 3 * 60, 2), ev(3, 3 * 60, 3),
        ev(4, 12 * 60, 1)) // midday event from user 1 -> no alert
      q.processAllAvailable()
      val ids = spark.table("alerts").select("event_id").collect().map(_.getLong(0)).toSet
      assert(ids === Set(1L))
    } finally q.stop()
  }

  test("sinkWindowedCounts materializes closed windows into partitioned parquet") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sink").toString
    val mem = MemoryStream[Event](spark)
    val q = EventStream.sinkWindowedCounts(
      EventStream.windowedCounts(mem.toDF()), s"$dir/out", s"$dir/ckpt")
    try {
      mem.addData(ev(1, 10, 1), ev(2, 20, 1))       // window [1440,1500)
      q.processAllAvailable()
      mem.addData(ev(3, 70, 2), ev(4, 185, 2))      // wm -> 1505: closes 1440
      q.processAllAvailable()
      mem.addData(ev(5, 430, 9))                    // wm -> 1750: closes 1500+1620
      q.processAllAvailable()
      mem.addData(ev(6, 431, 9))                    // emission batch
      q.processAllAvailable()
      val out = spark.read.parquet(s"$dir/out")
      val rows = out.select("window_start", "event_type", "n").collect()
        .map(r => (r.getTimestamp(0).getTime / 60000, r.getString(1), r.getLong(2)))
      // windows of the SAME date finalized in DIFFERENT batches must all
      // survive (regression: date-only partition overwrite clobbered them)
      assert(rows.toSet === Set(
        (1440L, "login", 2L), (1500L, "login", 1L), (1620L, "login", 1L)))
      assert(out.columns.contains("window_date"))
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir)); ()
    }
  }

  test("batch qSessionize and streaming sessionize agree on session counts") {
    val s = spark
    import s.implicits._
    // Deterministic mini-log: 3 users x interleaved sessions
    val evs = Seq(
      ev(1, 0, 1), ev(2, 5, 1), ev(3, 60, 1),            // user 1: 2 sessions
      ev(4, 0, 2), ev(5, 29, 2), ev(6, 58, 2),           // user 2: 1 session (gaps <=30)
      ev(7, 0, 3))                                        // user 3: 1 session
    val mem = MemoryStream[Event](spark)
    val q = EventStream.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sess2").outputMode("append").start()
    try {
      mem.addData(evs: _*)
      q.processAllAvailable()
      mem.addData(ev(8, 1000, 9)) // push watermark to close everything
      q.processAllAvailable()
      mem.addData(ev(9, 1001, 9))
      q.processAllAvailable()
      val got = spark.table("sess2").as[Session].collect()
        .filter(_.user_id <= 3).groupBy(_.user_id).view.mapValues(_.length).toMap
      assert(got === Map(1L -> 2, 2L -> 1, 3L -> 1))
    } finally q.stop()
  }

  test("nearDupStream: streamed near-dup pairs equal the batch LSH frame for in-order arrival") {
    val s = spark
    import s.implicits._
    withRocksDb {
      val mem = MemoryStream[(Long, String)](spark)
      val q = graft.streaming.DocStream.nearDupStream(
          mem.toDS().toDF("doc_id", "text"))
        .writeStream.format("memory").queryName("neardup_stream")
        .outputMode("append").start()
      try {
        // the whole sf0.001 corpus, streamed in doc_id order across three
        // micro-batches — the arrival order under which the streaming cap
        // semantics coincide with the batch first-K-by-doc_id clamp
        val docs = Tables.documents(spark, sf).select("doc_id", "text")
          .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
        for (chunk <- docs.grouped(math.max(1, docs.length / 3 + 1))) {
          mem.addData(chunk.toSeq)
          q.processAllAvailable()
        }
        val streamed = spark.table("neardup_stream")
          .select("doc_a", "doc_b", "jaccard").distinct().collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        val batch = graft.operators.DedupOps.qDedupMinhashPairs(spark, sf)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(streamed === batch,
          s"streamed ${streamed.size} pairs vs batch ${batch.size}")
        assert(batch.nonEmpty, "fixture must surface at least one near-dup pair")
      } finally q.stop()
    }
  }

  test("decontaminateStream: streamed contamination flags equal the batch scrub; stateless narrow plan") {
    val s = spark
    import s.implicits._
    // eval hash set exactly as the batch operator builds it
    val evalHashes = Tables.documents(spark, sf)
      .filter(col("doc_id") % 20 === 0)
      .select(explode(graft.functions.ShingleHash32(col("text"), 5)).as("h"))
      .distinct().as[Long].collect().toSet
    val mem = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.DocStream.decontaminateStream(
        mem.toDS().toDF("doc_id", "text"), evalHashes)
      .writeStream.format("memory").queryName("decon_stream")
      .outputMode("append").start()
    try {
      val train = Tables.documents(spark, sf)
        .filter(col("doc_id") % 20 =!= 0).select("doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      for (chunk <- train.grouped(math.max(1, train.length / 3 + 1))) {
        mem.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      // full-row equality: n_shared MAGNITUDES agree, not just the flag
      // (both sides count DISTINCT shared shingle hashes)
      val streamed = spark.table("decon_stream").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_shared"), r.getAs[Long]("contaminated")))).toMap
      val batch = graft.operators.DedupOps.qDecontaminate(spark, sf).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(streamed === batch,
        "streamed (n_shared, contaminated) must equal the batch scrub row-for-row")
      assert(batch.values.map(_._2).sum > 0, "fixture must surface contaminated docs")
      // stateless: the gate must run no stateful operator (narrow
      // projection only — no state store, no watermark, no shuffle)
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.forall(_.numRowsTotal == 0),
        "decontamination gate must hold zero state")
    } finally q.stop()
  }

  test("nearDupStream: full buckets drop juniors — emissions and state stay cap-bounded under a clone storm") {
    val s = spark
    import s.implicits._
    withRocksDb {
      val cap = 4
      val clone = "the same boilerplate license header text repeated on every single clone"
      val mem = MemoryStream[(Long, String)](spark)
      val q = graft.streaming.DocStream.nearDupStream(
          mem.toDS().toDF("doc_id", "text"), cap = cap)
        .writeStream.format("memory").queryName("neardup_storm")
        .outputMode("append").start()
      try {
        mem.addData((1L to 10L).map(i => (i, clone)))
        q.processAllAvailable()
        val hits = spark.table("neardup_storm").collect()
        // identical text -> identical signature -> all 4 bands share one
        // bucket each; members cap at 4 per bucket, so each band emits
        // C(4,2) = 6 pairs at jaccard 1.0 and the distinct pair set is 6
        assert(hits.length === 4 * 6, s"got ${hits.length} hits")
        assert(hits.forall(_.getAs[Double]("jaccard") === 1.0))
        val distinctPairs = spark.table("neardup_storm")
          .select("doc_a", "doc_b").distinct().count()
        assert(distinctPairs === 6L)
        // seniors only: every surviving endpoint is one of the first four
        assert(hits.forall(r => r.getAs[Long]("doc_a") <= 4 &&
          r.getAs[Long]("doc_b") <= 4))
        // a second storm wave adds NOTHING: buckets are full
        mem.addData((11L to 40L).map(i => (i, clone)))
        q.processAllAvailable()
        assert(spark.table("neardup_storm").count() === 24L,
          "full buckets must drop juniors without emitting")
        // replayed doc_ids are idempotent (skipped, no duplicate emission)
        mem.addData(Seq((2L, clone)))
        q.processAllAvailable()
        assert(spark.table("neardup_storm").count() === 24L)
        // state ceiling: bands x cap list rows, never |docs|
        val stateRows = q.lastProgress.stateOperators.headOption
          .map(_.numRowsTotal).getOrElse(-1L)
        assert(stateRows >= 0 && stateRows <= 4L * cap,
          s"state rows $stateRows exceed bands*cap=${4 * cap}")
      } finally q.stop()
    }
  }

  test("nearDupStream: OUT-OF-ORDER (doc_id-descending) replay still equals the batch frame while no bucket saturates") {
    val s = spark
    import s.implicits._
    withRocksDb {
      // Guard: the documented degradation is CONFINED to saturated buckets
      // (arrival order decides which members survive a full bucket). At
      // sf0.001 no band bucket reaches the cap, so descending arrival must
      // reproduce the batch pair set EXACTLY — membership, pairs, jaccards.
      // If the fixture ever grows a >cap bucket this guard fails loudly and
      // the assertion below must move to the storm test's weaker form.
      val maxBucket = graft.operators.DedupOps
        .bandRows(Tables.documents(spark, sf).select("doc_id", "text"))
        .filter(col("bucket").isNotNull)
        .groupBy("bucket").count().agg(max("count")).head.getLong(0)
      assert(maxBucket <= graft.operators.DedupOps.MinhashBandCap,
        s"fixture has a saturated bucket ($maxBucket): descending-equality premise broken")
      val mem = MemoryStream[(Long, String)](spark)
      val q = graft.streaming.DocStream.nearDupStream(
          mem.toDS().toDF("doc_id", "text"))
        .writeStream.format("memory").queryName("neardup_desc")
        .outputMode("append").start()
      try {
        val docs = Tables.documents(spark, sf).select("doc_id", "text")
          .collect().map(r => (r.getLong(0), r.getString(1)))
          .sortBy(-_._1) // worst-case out-of-order: strictly descending
        for (chunk <- docs.grouped(math.max(1, docs.length / 3 + 1))) {
          mem.addData(chunk.toSeq)
          q.processAllAvailable()
        }
        val streamed = spark.table("neardup_desc")
          .select("doc_a", "doc_b", "jaccard").distinct().collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        val batch = graft.operators.DedupOps.qDedupMinhashPairs(spark, sf)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(streamed === batch,
          s"descending replay: ${streamed.size} pairs vs batch ${batch.size}")
        assert(batch.nonEmpty)
      } finally q.stop()
    }
  }

  test("nearDupStream: at a SATURATED bucket, out-of-order arrival changes WHICH members survive (first-arrival wins) but never the bound") {
    val s = spark
    import s.implicits._
    withRocksDb {
      val cap = 4
      val clone = "the same boilerplate license header text repeated on every single clone"
      val mem = MemoryStream[(Long, String)](spark)
      val q = graft.streaming.DocStream.nearDupStream(
          mem.toDS().toDF("doc_id", "text"), cap = cap)
        .writeStream.format("memory").queryName("neardup_desc_storm")
        .outputMode("append").start()
      try {
        // the clone family arrives REVERSED, one doc per micro-batch, so
        // arrival order and doc_id order disagree maximally
        for (i <- 10L to 1L by -1L) {
          mem.addData(Seq((i, clone)))
          q.processAllAvailable()
        }
        val hits = spark.table("neardup_desc_storm").collect()
        // bound unchanged: C(cap,2) pairs per band, 6 distinct pairs
        assert(hits.length === 4 * 6, s"got ${hits.length} hits")
        assert(hits.forall(_.getAs[Double]("jaccard") === 1.0))
        assert(spark.table("neardup_desc_storm")
          .select("doc_a", "doc_b").distinct().count() === 6L)
        // degradation pinned: survivors are the FIRST ARRIVALS (10,9,8,7),
        // not the batch clamp's smallest doc_ids (1,2,3,4) — this is the
        // membership difference the scaladoc documents for out-of-order
        assert(hits.forall(r => r.getAs[Long]("doc_a") >= 7L &&
          r.getAs[Long]("doc_b") >= 7L),
          "saturated-bucket survivors must be first arrivals")
        val stateRows = q.lastProgress.stateOperators.headOption
          .map(_.numRowsTotal).getOrElse(-1L)
        assert(stateRows >= 0 && stateRows <= 4L * cap)
      } finally q.stop()
    }
  }

  test("nearDupStream TTL: expired members stop matching — the index becomes a sliding-recency window") {
    val s = spark
    import s.implicits._
    withRocksDb {
      val clone = "the same boilerplate license header text repeated on every single clone"
      val ttl = org.apache.spark.sql.streaming.TTLConfig(java.time.Duration.ofSeconds(3))
      val mem = MemoryStream[(Long, String)](spark)
      // A TTL'd transformWithState runs in processing-time mode, where the
      // planner re-triggers micro-batches FOREVER (shouldRunAnotherBatch:
      // processing time always advances — that's what fires the TTL
      // cleanup). Under the default 0ms trigger that is a busy loop and
      // processAllAvailable never observes quiescence, so: real trigger
      // interval + progress polling instead of processAllAvailable.
      val q = graft.streaming.DocStream.nearDupStream(
          mem.toDS().toDF("doc_id", "text"), ttl = ttl)
        .writeStream.format("memory").queryName("neardup_ttl")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(250))
        .start()
      // await COMMIT of a specific source offset: progress events are
      // emitted post-commit, and in the continuous-retrigger mode
      // numInputRows is unreliable (reported 0), so offsets are the only
      // trustworthy progress signal
      def awaitOffset(off: org.apache.spark.sql.connector.read.streaming.Offset): Unit = {
        val want = off.json.replaceAll("[^0-9]", "").toLong
        val deadline = System.currentTimeMillis + 60000
        def committed: Long = Option(q.lastProgress).flatMap(_.sources.headOption)
          .flatMap(s => Option(s.endOffset)).map(_.replaceAll("[^0-9]", ""))
          .filter(_.nonEmpty).map(_.toLong).getOrElse(-1L)
        while (committed < want && System.currentTimeMillis < deadline)
          Thread.sleep(100)
        assert(committed >= want, s"offset $want not committed in time")
      }
      try {
        awaitOffset(mem.addData(Seq((1L, clone))))
        // doc 1 joined its 4 buckets; no hits yet
        assert(spark.table("neardup_ttl").count() === 0L)
        Thread.sleep(4500)      // > TTL: doc 1's membership expires
        // docs 2 and 3 arrive in ONE batch (intra-batch gap is zero, so
        // their mutual match cannot itself be expired away): doc 2 must
        // see an EMPTY bucket — no (1,2) hit — and doc 3 matches doc 2
        awaitOffset(mem.addData(Seq((2L, clone), (3L, clone))))
        val hits = spark.table("neardup_ttl")
          .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
        assert(hits.length === 4 && hits.forall(_ == (2L, 3L)),
          s"expected only (2,3) x 4 bands after expiry, got ${hits.toSeq}")
      } finally q.stop()
    }
  }

  test("composed ingest query: decontamination gate piped into nearDupStream drops contaminated docs before they reach near-dup state") {
    val s = spark
    import s.implicits._
    withRocksDb {
      val evalHashes = Tables.documents(spark, sf)
        .filter(col("doc_id") % 20 === 0)
        .select(explode(graft.functions.ShingleHash32(col("text"), 5)).as("h"))
        .distinct().as[Long].collect().toSet
      val mem = MemoryStream[(Long, String)](spark)
      // THE composition the scaladoc sells: gate -> filter clean -> near-dup,
      // one streaming query (stateless projection in front of the TWS)
      val gated = graft.streaming.DocStream.decontaminateStream(
          mem.toDS().toDF("doc_id", "text"), evalHashes)
        .filter(col("contaminated") === 0).select("doc_id", "text")
      val q = graft.streaming.DocStream.nearDupStream(gated)
        .writeStream.format("memory").queryName("clean_ingest")
        .outputMode("append").start()
      try {
        val train = Tables.documents(spark, sf)
          .filter(col("doc_id") % 20 =!= 0).select("doc_id", "text")
          .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
        for (chunk <- train.grouped(math.max(1, train.length / 3 + 1))) {
          mem.addData(chunk.toSeq)
          q.processAllAvailable()
        }
        val streamed = spark.table("clean_ingest")
          .select("doc_a", "doc_b", "jaccard").distinct().collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        // expected = the batch LSH frame restricted to pairs whose BOTH
        // endpoints are clean train docs. Exact because no sf0.001 bucket
        // saturates (guard-asserted by the descending-replay test), so
        // removing docs can't change which survivors a cap admits.
        val clean = graft.operators.DedupOps.qDecontaminate(spark, sf)
          .filter(col("contaminated") === 0).select("doc_id")
          .as[Long].collect().toSet
        val expected = graft.operators.DedupOps.qDedupMinhashPairs(spark, sf)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .filter(p => clean.contains(p._1) && clean.contains(p._2) &&
            p._1 % 20 != 0 && p._2 % 20 != 0).toSet
        assert(streamed === expected,
          s"composed ingest: ${streamed.size} pairs vs expected ${expected.size}")
        assert(expected.nonEmpty, "fixture must keep some clean near-dup pairs")
        // the gate must have actually removed something: at least one full
        // batch pair touches a contaminated or eval doc
        val full = graft.operators.DedupOps.qDedupMinhashPairs(spark, sf).count()
        assert(full > expected.size, "gate removed nothing — fixture no longer exercises it")
      } finally q.stop()
    }
  }

  test("decontaminateStream rejects inputs that already carry its reserved output columns") {
    val s = spark
    import s.implicits._
    val mem = MemoryStream[(Long, String)](spark)
    for (reserved <- Seq("n_shared", "contaminated")) {
      val withClash = mem.toDS().toDF("doc_id", "text")
        .withColumn(reserved, lit(7L))
      val e = intercept[IllegalArgumentException] {
        graft.streaming.DocStream.decontaminateStream(withClash, Set(1L, 2L))
      }
      assert(e.getMessage.contains(reserved) && e.getMessage.contains("reserved"),
        s"error must name the clashing column: ${e.getMessage}")
    }
  }

  test("nearDupStream crash-restart: checkpoint recovery is exactly-once and the RocksDB state survives") {
    val s = spark
    import s.implicits._
    withRocksDb {
      val tmp = java.nio.file.Files.createTempDirectory("graft_restart_").toFile
      // shingle-disjoint pool texts (the StreamSoak construction): docs of
      // one pool pair with each other and with nothing else
      def poolText(pool: Long): String =
        (0 until 12).map(k => s"p${pool}x$k").mkString(" ")
      val nPool = 3
      // three batches, 6 docs each, round-robin over the pools — every
      // batch extends every clone family, so CROSS-batch pairs exist by
      // construction and batch-2/3 emissions depend on batch-1 state
      val batches: Seq[Seq[(Long, String)]] = (0 until 3).map { b =>
        (0 until 6).map { i =>
          val id = b.toLong * 6 + i
          (id, poolText(id % nPool))
        }
      }
      def pairs(outDir: String): Seq[(Long, Long, Double)] =
        // reading the SINK DIRECTORY goes through the FileStreamSink
        // metadata log, so files from an uncommitted (crashed) batch are
        // invisible — this is the exactly-once read path a downstream
        // batch consumer uses
        spark.read.format("parquet").load(outDir)
          .select("doc_a", "doc_b", "jaccard").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
          .sortBy(p => (p._1, p._2, p._3))
      def run(name: String, crash: Boolean): Seq[(Long, Long, Double)] = {
        val out = s"$tmp/$name/out"
        val ckpt = s"$tmp/$name/ckpt"
        val mem = MemoryStream[(Long, String)](spark)
        def start() = graft.streaming.DocStream.nearDupStream(
            mem.toDS().toDF("doc_id", "text"))
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt).outputMode("append").start()
        val q1 = start()
        mem.addData(batches(0))
        q1.processAllAvailable()
        if (crash) {
          // kill mid-corpus: batch 2 is enqueued but NOT awaited, so the
          // stop lands before/inside its commit — whatever it half-did
          // must be invisible after recovery
          mem.addData(batches(1))
          q1.stop()
          val q2 = start() // recover from the checkpoint, same source
          mem.addData(batches(2))
          q2.processAllAvailable()
          q2.stop()
        } else {
          mem.addData(batches(1))
          mem.addData(batches(2))
          q1.processAllAvailable()
          q1.stop()
        }
        pairs(out)
      }
      try {
        val interrupted = run("crash", crash = true)
        val reference = run("clean", crash = false)
        // exactly-once across the restart: the pair MULTISET (4 band rows
        // per matching pair) equals the uninterrupted run's — nothing
        // re-emitted, nothing lost
        assert(interrupted === reference,
          s"restart diverged: ${interrupted.size} rows vs ${reference.size}")
        // and the state actually RECOVERED (not rebuilt empty): batch-3
        // docs (ids 12-17) must pair with PRE-CRASH batch-1 docs (ids 0-5),
        // which only happens if their member entries came back from the
        // checkpointed RocksDB state
        assert(interrupted.exists(p => p._1 <= 5 && p._2 >= 12),
          "no cross-restart pair: recovered state was empty")
        assert(interrupted.nonEmpty && reference.nonEmpty)
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(tmp); ()
      }
    }
  }

  test("sessionizeTws restart: state and event-time timers recover from the checkpoint") {
    val s = spark
    import s.implicits._
    withRocksDb {
      val tmp = java.nio.file.Files.createTempDirectory("graft_tws_restart_").toFile
      // two batches open sessions for users 1-3 and close two of them by
      // the gap rule; the last two batches (after the restart) advance the
      // watermark past every open session, so the timers registered
      // before the restart must fire from recovered state
      val batches = Seq(
        Seq(ev(1, 0, 1), ev(2, 10, 1), ev(3, 5, 2), ev(4, 20, 3)),
        Seq(ev(5, 50, 1), ev(6, 30, 2), ev(7, 200, 3)),
        Seq(ev(8, 600, 4)),
        Seq(ev(9, 601, 4)))
      def run(name: String, restart: Boolean): Seq[Session] = {
        val out = s"$tmp/$name/out"
        val mem = MemoryStream[Event](spark)
        def start() = EventStream.sessionizeTws(mem.toDS())
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", s"$tmp/$name/ckpt").outputMode("append").start()
        var q = start()
        for ((b, i) <- batches.zipWithIndex) {
          if (restart && i == 2) { q.stop(); q = start() }
          mem.addData(b)
          q.processAllAvailable()
        }
        q.stop()
        spark.read.parquet(out).as[Session].collect().toSeq
          .sortBy(x => (x.user_id, x.session_start.getTime))
      }
      try {
        val restarted = run("restart", restart = true)
        val reference = run("clean", restart = false)
        assert(restarted === reference)
        assert(reference === Seq(
          Session(1L, ts(0), ts(10), 2, 600),    // gap, before the restart
          Session(1L, ts(50), ts(50), 1, 0),     // timer, after it
          Session(2L, ts(5), ts(30), 2, 1500),   // timer: state from batches 1-2
          Session(3L, ts(20), ts(20), 1, 0),     // gap
          Session(3L, ts(200), ts(200), 1, 0)))  // timer
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(tmp); ()
      }
    }
  }
}
