package graft

import java.sql.Timestamp

import scala.collection.immutable.ListMap

import graft.streaming.{Event, EventStream}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming scale-posture soak: pushes synthetic load through the
  * stateful streaming operators whose 100 TB claim is "state stays
  * bounded no matter how many events flow" — sessionizer, heavy
  * hitters, the interval join and its left outer twin, OHLC windows,
  * CUSUM drift, funnel and near-dup ingest (plus its TTL and
  * crash-restart variants) — and records rows/s plus the state-store
  * metrics Spark reports per micro-batch. The specs pin the operators'
  * SEMANTICS; this harness supplies the throughput/state-size datapoint
  * and exits 1 when a state contract fails.
  *
  * The load shape is adversarial for state: event time advances 15 min
  * per batch (watermark keeps moving, timers keep firing), the active
  * user window SLIDES (sessions continuously open AND close — a static
  * user set would never exercise eviction), and heavy-hitter keys mix
  * a hot head with a hash-spread tail over far more distinct resources
  * than the sketch capacity (exact-top-k state would grow with
  * cardinality; the sketch must not).
  *
  * Usage: runMain graft.StreamSoak [nEvents] [outPath]
  */
object StreamSoak {

  /** One operator soak's measurement. `stateRows` holds `numRowsTotal` of
    * every stateful operator in each progress report, in report order:
    * peak and final state derive from it, and for the joins it is the
    * eviction evidence — rows RISE to the watermark-bounded plateau
    * during steady feed, then FALL once drain batches advance the
    * watermark past the buffered rows' eviction bounds.
    */
  final case class Soak(rows: Long, wallSec: Double, batches: Int,
      stateRows: Seq[Long], peakStateBytes: Long) {
    def rowsPerSec: Double = rows / wallSec
    def peakStateRows: Long = stateRows.foldLeft(0L)(math.max)
    def finalStateRows: Long = stateRows.lastOption.getOrElse(0L)
  }

  /** Event time base for batch `b`: batches are 15 min apart starting
    * one day past the epoch (clear of the initial watermark), events
    * spread across the first 15 min inside the batch.
    */
  private def eventMs(b: Int, i: Int): Long =
    (1440L + b * 15) * 60000L + (i % 900) * 1000L

  /** (state rows, state bytes) of every stateful operator in each of
    * `q`'s recent progress reports, in report order. RocksDB reports its
    * usage through custom metrics; `memoryUsedBytes` is the HDFS-store
    * field and stays ~0 there, so bytes are the larger of the two.
    */
  private def progressState(q: StreamingQuery): Seq[(Long, Long)] =
    q.recentProgress.toSeq.flatMap(_.stateOperators).map { so =>
      val custom = Option(so.customMetrics)
        .map(m => Seq("rocksdbTotalMemoryUsage", "rocksdbSstFileSize")
          .map(k => Option(m.get(k)).map(_.longValue()).getOrElse(0L)).max)
        .getOrElse(0L)
      (so.numRowsTotal, math.max(so.memoryUsedBytes, custom))
    }

  /** Starts `pipeline` on a `MemoryStream` into the memory sink named
    * `name`, feeds batches `0 until nBatches` from `batch` with
    * `processAllAvailable` after each, and stops the query.
    */
  private def run[T: Encoder](spark: SparkSession, name: String, nBatches: Int)(
      pipeline: Dataset[T] => Dataset[_])(batch: Int => Seq[T]): Soak = {
    val mem = MemoryStream[T](spark)
    val q = pipeline(mem.toDS()).writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      val t0 = System.nanoTime()
      var rows = 0L
      for (b <- 0 until nBatches) {
        val data = batch(b)
        rows += data.size
        mem.addData(data)
        q.processAllAvailable()
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val state = progressState(q)
      Soak(rows, wall, nBatches, state.map(_._1), state.map(_._2).foldLeft(0L)(math.max))
    } finally q.stop()
  }

  /** Sessionizer soak on `transformWithState` (ValueState + event-time
    * timers on RocksDB). The sliding active-user window means total
    * distinct users grows with the soak length while concurrently-open
    * sessions stay ~`nUsers` — the boundedness claim under test is
    * peak state rows ~ active window, NOT total users or events.
    */
  def soakSessionizer(spark: SparkSession, nBatches: Int, batchSize: Int,
      nUsers: Int): Soak = {
    import spark.implicits._
    run[Event](spark, "soak_sess", nBatches)(EventStream.sessionizeTws) { b =>
      (0 until batchSize).map { i =>
        // window front advances nUsers/8 per batch; the tail goes quiet
        val user = b.toLong * nUsers / 8 + i % nUsers
        Event(b.toLong * batchSize + i, new Timestamp(eventMs(b, i)),
          user, "access", 1.0)
      }
    }
  }

  /** Heavy-hitters soak: state rows must equal the SHARD count (one
    * ValueState summary per shard) regardless of event count or
    * distinct-key cardinality — ~30% of traffic on 5 hot keys, the
    * rest hash-spread over ~4096 tail keys (64× the default capacity).
    */
  def soakHeavyHitters(spark: SparkSession, nBatches: Int, batchSize: Int,
      shards: Int = 8): Soak = {
    import spark.implicits._
    run[(Long, Timestamp, String)](spark, "soak_hh", nBatches)(ds =>
      EventStream.topResourcesStream(ds.toDF("event_id", "ts", "props"),
        shards = shards)) { b =>
      (0 until batchSize).map { i =>
        val r =
          if (i % 10 < 3) (i % 5).toLong
          else (math.pow(i.toDouble % 9973 + 1, 1.7) % 4096).toLong + 100
        (b.toLong * batchSize + i, new Timestamp(eventMs(b, i)),
          s"""{"k":"res$r"}""")
      }
    }
  }

  /** TWS funnel soak ([[EventStream.funnelConversions]]): every user
    * cycles signup → click → purchase REPEATEDLY (time-ordered inside
    * each batch — ts is monotone in the batch index so each user's
    * phases arrive in order), so each user converts in their first
    * cycle and every later cycle hits the terminal state. The two
    * claims under measurement: (1) the state ceiling tracks |users|
    * (one 3-field ValueState row per user — peak must stay ~nUsers
    * while events grow 200× past it), and (2) terminal-state
    * suppression holds — conversions emitted == distinct users
    * converted == nUsers, EXACTLY once each, despite every user
    * completing the funnel pattern dozens more times.
    */
  def soakFunnel(spark: SparkSession, nBatches: Int, batchSize: Int,
      nUsers: Int): Soak = {
    // Events inside a batch are 1 ms apart but batch bases only 15 min
    // (900,000 ms) apart — a batch larger than that would push its tail
    // past the next batch's base, regressing event time across the
    // boundary and breaking the monotone ordering FunnelProcessor's
    // !ts.before(prev) guards rely on. Fail loudly instead.
    require(batchSize < 900000,
      s"soakFunnel batchSize=$batchSize must stay < 900000 (15 min batch " +
        "spacing at 1 ms/event) to keep event time monotone across batches")
    import spark.implicits._
    val perBatch = math.max(1, batchSize / nUsers)
    run[Event](spark, "soak_funnel", nBatches)(EventStream.funnelConversions) { b =>
      (0 until batchSize).map { i =>
        val user = (i % nUsers).toLong
        val cycle = b * perBatch + i / nUsers
        val typ = (cycle % 3) match {
          case 0 => "signup"
          case 1 => "click"
          case _ => "purchase"
        }
        // 1 ms apart, monotone in i: a user's phases are time-ordered
        // within the batch AND across batches (15 min batch spacing)
        Event(b.toLong * batchSize + i,
          new Timestamp((1440L + b * 15) * 60000L + i), user, typ, 1.0)
      }
    }
  }

  /** Watermarked STREAM-STREAM interval join soak
    * ([[EventStream.purchaseLinkedErrors]]): alternating purchase/error
    * load with event time advancing 15 min per batch. The 2 h watermark
    * + 10 min join interval bound the buffer to ~9 batches of BOTH
    * sides, so buffered rows must PLATEAU at ~9·batchSize during the
    * steady feed — then three 8-row DRAIN batches jump event time
    * +6 h each, the watermark chases it, and Spark must EVICT the
    * buffered rows: the claim under measurement is that
    * post-drain state << peak (a join whose state only ever grows is
    * the one shape a 100 TB/day stream cannot run).
    */
  def soakIntervalJoin(spark: SparkSession, nBatches: Int, batchSize: Int,
      nUsers: Int = 2000,
      pipeline: DataFrame => DataFrame = EventStream.purchaseLinkedErrors,
      name: String = "soak_join"): Soak = {
    import spark.implicits._
    run[Event](spark, name, nBatches + 3)(ds => pipeline(ds.toDF())) { b =>
      if (b < nBatches) (0 until batchSize).map { i =>
        Event(b.toLong * batchSize + i, new Timestamp(eventMs(b, i)),
          (i % nUsers).toLong, if (i % 2 == 0) "purchase" else "error", 1.0)
      }
      else { // drain: few rows, event time +6 h per batch
        val baseMs = (1440L + nBatches.toLong * 15) * 60000L +
          (b - nBatches + 1).toLong * 6L * 3600000L
        (0 until 8).map { i =>
          Event(1000000000L + b.toLong * 100 + i,
            new Timestamp(baseMs + i * 1000L), (i % nUsers).toLong,
            if (i % 2 == 0) "purchase" else "error", 1.0)
        }
      }
    }
  }

  /** OHLC bar soak ([[EventStream.ohlcBars]], windowed min_by/max_by
    * aggregation): the boundedness claim is six scalars per OPEN
    * (window, event_type) pair — with 1 h windows, a 2 h watermark and
    * event time advancing 15 min per batch, open windows are bounded at
    * ~(watermark + window)/window + 1 ≈ 4 per type regardless of event
    * count, so peak state rows must stay ≤ ~4·|types| + slack while
    * events grow without bound.
    */
  def soakOhlc(spark: SparkSession, nBatches: Int, batchSize: Int,
      nTypes: Int = 4): Soak = {
    import spark.implicits._
    // label count tracks nTypes (named labels for the first 4, synthetic
    // beyond) so nTypes > 4 widens the type space instead of throwing
    val named = Array("access", "purchase", "error", "login")
    val types = Array.tabulate(nTypes)(i =>
      if (i < named.length) named(i) else s"type_$i")
    run[Event](spark, "soak_ohlc", nBatches)(ds => EventStream.ohlcBars(ds.toDF())) { b =>
      (0 until batchSize).map { i =>
        Event(b.toLong * batchSize + i, new Timestamp(eventMs(b, i)),
          (i % 1000).toLong, types(i % nTypes), (i % 97).toDouble)
      }
    }
  }

  /** Streaming-CUSUM drift detector soak ([[EventStream.driftAlerts]],
    * `transformWithState`, TimeMode.None): state is one 4-number record
    * per user FOREVER, so under a fixed user population the state-row
    * count must equal |users| no matter how many events flow — the
    * boundedness contract is peak == final == nUsers.
    */
  def soakDrift(spark: SparkSession, nBatches: Int, batchSize: Int,
      nUsers: Int): Soak = {
    import spark.implicits._
    run[Event](spark, "soak_drift", nBatches)(ds => EventStream.driftAlerts(ds)) { b =>
      (0 until batchSize).map { i =>
        // value drifts upward for a minority of users → real alerts flow
        val user = (i % nUsers).toLong
        val v = if (user % 17 == 0) 1.0 + b * 0.5 else (i % 7).toDouble
        Event(b.toLong * batchSize + i, new Timestamp(eventMs(b, i)),
          user, "access", v)
      }
    }
  }

  /** Streaming near-dup soak ([[graft.streaming.DocStream.nearDupStream]],
    * `transformWithState`, per-bucket member lists): documents draw
    * their text from a FIXED pool of `nPool` distinct payloads, so the
    * stream is one continuous clone storm — every pool text floods its
    * 4 band buckets with an unbounded clone family. The boundedness
    * contract is the per-bucket cap: state rows must plateau at
    * ≤ nPool × 4 bands × cap member entries (and emissions stop once
    * every bucket is full) no matter how many documents flow — the
    * shape that makes near-dup ingest survivable at 100 TB/day, where
    * per-key state growing with |docs| would be fatal.
    */
  def soakNearDup(spark: SparkSession, nBatches: Int, batchSize: Int,
      nPool: Int = 200, cap: Int = 8): Soak = {
    import spark.implicits._
    run[(Long, String)](spark, "soak_neardup", nBatches)(ds =>
      graft.streaming.DocStream.nearDupStream(ds.toDF("doc_id", "text"), cap = cap)) { b =>
      (0 until batchSize).map { i =>
        val id = b.toLong * batchSize + i
        val pool = id % nPool
        // pool texts are SHINGLE-DISJOINT (every token pool-specific):
        // shared tokens across pools would let bands agree across clone
        // families and merge their buckets, making the expected
        // bucket/hit counts fixture-dependent instead of exact
        (id, (0 until 12).map(k => s"w${pool}x$k").mkString(" "))
      }
    }
  }

  /** Crash-restart soak result: `exactlyOnce` is full pair-multiset
    * equality between the interrupted and uninterrupted runs;
    * `crossRestartHits` counts pairs whose junior side arrived AFTER the
    * restart and whose senior side arrived BEFORE the crash — each one
    * is direct evidence the member lists came back from the
    * checkpointed RocksDB state rather than being rebuilt empty.
    * `changelogFiles` counts the RocksDB `*.changelog` commits under the
    * interrupted run's checkpoint: non-zero means the recovery replayed
    * changelog commits, not only snapshots. */
  final case class RestartSoak(rows: Long, wallSec: Double, batches: Int,
      hitsInterrupted: Long, hitsReference: Long, crossRestartHits: Long,
      exactlyOnce: Boolean, changelogFiles: Long)

  /** Crash-restart recovery soak for
    * [[graft.streaming.DocStream.nearDupStream]] — the production seam
    * the per-operator soaks don't touch: a file-sink ingest query is
    * KILLED mid-corpus (a batch enqueued but not awaited, so the stop
    * can land before or inside its commit), restarted from the same
    * checkpoint, and driven to the end of the corpus. Contracts: the
    * recovered run's emitted pair multiset EQUALS an uninterrupted
    * twin's (exactly-once across restart — nothing lost, nothing
    * re-emitted; the read goes through the FileStreamSink metadata log,
    * so a crashed batch's orphan files are invisible), and post-restart
    * arrivals still pair with pre-crash members (RocksDB state
    * recovery, not an empty rebuild). One doc per pool per batch with
    * `cap > nBatches` keeps every bucket below its cap across the whole
    * corpus, so cross-restart pairs exist by construction.
    */
  def soakNearDupRestart(spark: SparkSession, nBatches: Int, batchSize: Int,
      cap: Int): RestartSoak = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val nPool = batchSize // one doc per pool per batch
    // Deleted in the finally below: the two parquet sinks
    // plus RocksDB checkpoints under this tree would otherwise leak into
    // java.io.tmpdir on every soak invocation.
    val tmp = java.nio.file.Files.createTempDirectory("graft_soak_restart_").toString
    def poolText(pool: Long): String =
      (0 until 12).map(k => s"r${pool}x$k").mkString(" ")
    def docs(b: Int): Seq[(Long, String)] = (0 until batchSize).map { i =>
      val id = b.toLong * batchSize + i
      (id, poolText(id % nPool))
    }
    val half = math.max(1, nBatches / 2)
    def run(name: String, crash: Boolean): org.apache.spark.sql.DataFrame = {
      val out = s"$tmp/$name/out"
      val ckpt = s"$tmp/$name/ckpt"
      val mem = MemoryStream[(Long, String)](spark)
      def start() = graft.streaming.DocStream.nearDupStream(
          mem.toDS().toDF("doc_id", "text"), cap = cap)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      val q1 = start()
      for (b <- 0 until half) { mem.addData(docs(b)); q1.processAllAvailable() }
      if (crash) {
        mem.addData(docs(half)) // un-awaited: the kill races this commit
        q1.stop()
        val q2 = start()
        for (b <- half + 1 until nBatches) mem.addData(docs(b))
        q2.processAllAvailable()
        q2.stop()
      } else {
        for (b <- half until nBatches) mem.addData(docs(b))
        q1.processAllAvailable()
        q1.stop()
      }
      spark.read.format("parquet").load(out).select("doc_a", "doc_b")
    }
    val t0 = System.nanoTime()
    try {
      val interrupted = run("crash", crash = true)
      val reference = run("clean", crash = false)
      val preMax = half.toLong * batchSize - 1
      val exactlyOnce = interrupted.exceptAll(reference).isEmpty &&
        reference.exceptAll(interrupted).isEmpty
      val changelogs = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$tmp/crash/ckpt"))
      val changelogFiles =
        try changelogs.filter(_.getFileName.toString.endsWith(".changelog")).count()
        finally changelogs.close()
      // every Dataset action lands here, before the sinks are deleted
      RestartSoak(nBatches.toLong * batchSize,
        (System.nanoTime() - t0) / 1e9, nBatches,
        interrupted.count(), reference.count(),
        interrupted.filter(col("doc_a") <= preMax && col("doc_b") > preMax).count(),
        exactlyOnce, changelogFiles)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  /** TTL soak result: state must RISE to phase-1's plateau, then — after
    * the harness sleeps past the TTL — phase 2's per-batch cleanup must
    * sweep the expired members back out, and a re-sent phase-1 clone
    * must probe an EMPTY bucket (zero hits). */
  final case class TtlSoak(rows: Long, wallSec: Double,
      peakStateRows: Long, phase1PlateauRows: Long, finalStateRows: Long,
      probeHits: Long, batches: Int)

  /** Sliding-recency TTL soak for
    * [[graft.streaming.DocStream.nearDupStream]]: with a member TTL the
    * near-dup index must be a WINDOW, not an archive. Phase 1 streams a
    * clone storm from pool tag `a` (state rises to its bucket plateau),
    * the harness sleeps past the TTL, then phase 2 streams the disjoint
    * pool tag `b`: the state-store TTL cleanup that runs with each
    * phase-2 batch removes `a`'s expired members, so final state decays
    * toward `b`'s own plateau instead of accumulating both pools — and
    * a fresh probe of an `a` text afterwards emits ZERO hits (its
    * former family no longer matches). Contracts asserted in [[main]]:
    * final < combined-pools row count, probe hits == 0.
    */
  def soakNearDupTtl(spark: SparkSession, nBatches: Int, batchSize: Int,
      nPool: Int, cap: Int, ttlSec: Int): TtlSoak = {
    import spark.implicits._
    val mem = MemoryStream[(Long, String)](spark)
    // A TTL'd transformWithState runs in processing-time mode, where the
    // planner re-triggers micro-batches forever (processing time always
    // advances — that is what fires the TTL cleanup between arrivals).
    // Under the default 0ms trigger that is a busy loop and
    // processAllAvailable never observes quiescence — so the TTL soak
    // drives on a real trigger interval and polls cumulative processed
    // rows instead.
    val q = graft.streaming.DocStream.nearDupStream(
        mem.toDS().toDF("doc_id", "text"), cap = cap,
        ttl = org.apache.spark.sql.streaming.TTLConfig(
          java.time.Duration.ofSeconds(ttlSec)))
      .writeStream.format("memory").queryName("soak_neardup_ttl")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(250))
      .start()
    // pool texts are shingle-disjoint across pools AND phases (the
    // soakNearDup construction): expected bucket counts stay exact
    def poolText(pool: Long, tag: String): String =
      (0 until 12).map(k => s"$tag$pool" + s"x$k").mkString(" ")
    // Await COMMIT of a specific source offset. numInputRows is 0 on
    // every progress event in the continuous-retrigger (TTL) mode, so
    // row counting is unusable here — but sources.endOffset advances
    // exactly when the batch that consumed the data commits, and
    // progress events are emitted post-commit.
    def committedOffset: Long =
      Option(q.lastProgress).flatMap(_.sources.headOption)
        .flatMap(s => Option(s.endOffset)).map(_.replaceAll("[^0-9]", ""))
        .filter(_.nonEmpty).map(_.toLong).getOrElse(-1L)
    def awaitOffset(off: org.apache.spark.sql.connector.read.streaming.Offset): Unit = {
      val want = off.json.replaceAll("[^0-9]", "").toLong
      val deadline = System.currentTimeMillis + 300000
      while (committedOffset < want && System.currentTimeMillis < deadline)
        Thread.sleep(100)
      require(committedOffset >= want,
        s"soak stalled: committed offset $committedOffset < $want")
    }
    def stateRows: Seq[Long] = progressState(q).map(_._1)
    def lastStateRows: Long = stateRows.lastOption.getOrElse(0L)
    try {
      val t0 = System.nanoTime()
      var id = 0L
      def feed(tag: String): Unit = {
        var last: org.apache.spark.sql.connector.read.streaming.Offset = null
        for (_ <- 0 until nBatches)
          last = mem.addData((0 until batchSize).map { _ =>
            id += 1
            (id, poolText(id % nPool, tag))
          })
        awaitOffset(last)
      }
      feed("a")
      val plateau1 = lastStateRows
      Thread.sleep((ttlSec + 2) * 1000L) // let phase-1 members expire
      feed("b")
      val fin = lastStateRows
      // membership probe: one fresh doc per phase-1 pool text — expired
      // buckets are empty, so NOTHING may match (and single docs per
      // pool can't pair with each other)
      val before = spark.sql("SELECT count(*) FROM soak_neardup_ttl")
        .head().getLong(0)
      val probeOff = mem.addData((0 until nPool).map { p =>
        id += 1; (id, poolText(p.toLong, "a"))
      })
      awaitOffset(probeOff)
      val probeHits = spark.sql("SELECT count(*) FROM soak_neardup_ttl")
        .head().getLong(0) - before
      val wall = (System.nanoTime() - t0) / 1e9
      TtlSoak(2L * nBatches * batchSize + nPool, wall,
        stateRows.foldLeft(0L)(math.max), plateau1, fin,
        probeHits, 2 * nBatches + 1)
    } finally q.stop()
  }

  def main(args: Array[String]): Unit = {
    val nEvents = args.headOption.map(_.toInt).getOrElse(1000000)
    val outPath = if (args.length > 1) args(1) else "STREAM_SOAK.json"
    val nBatches = 50
    // floor at 1: a sub-nBatches event count must still feed every batch
    // (batchSize 0 would plateau the TTL soak at 0 and fail it by design)
    val batchSize = math.max(1, nEvents / nBatches)
    val nUsers = 5000
    val spark = Tables.localSession(Tables.cpus.toString)
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def count(sql: String): Long = spark.sql(sql).head().getLong(0)
    val sess = soakSessionizer(spark, nBatches, batchSize, nUsers)
    val hh = soakHeavyHitters(spark, nBatches, batchSize)
    // join soak: 30 steady batches is ~3.3 plateau windows (buffer bound
    // ≈ 9 batches) — enough to see rise → plateau → post-drain fall
    val join = soakIntervalJoin(spark, nBatches = 30, batchSize = math.max(1, nEvents / 160))
    // LEFT OUTER twin: same watermark-eviction contract, PLUS the
    // null-side rows must actually emit once the watermark proves
    // no-match
    val orphan = soakIntervalJoin(spark, nBatches = 30,
      batchSize = math.max(1, nEvents / 160),
      pipeline = EventStream.orphanErrors, name = "soak_orphan")
    val ohlc = soakOhlc(spark, nBatches, batchSize)
    val drift = soakDrift(spark, nBatches, batchSize, nUsers)
    val fun = soakFunnel(spark, nBatches, batchSize, nUsers)
    val nPool = 200
    val ndCap = 8
    val nd = soakNearDup(spark, nBatches, batchSize, nPool, ndCap)
    val ndHits = count("SELECT count(*) FROM soak_neardup")
    val ttlSec = 5
    val ndTtl = soakNearDupTtl(spark, nBatches = 8, batchSize = math.max(1, nEvents / 100),
      nPool = nPool, cap = ndCap, ttlSec = ttlSec)
    val ndRestart = soakNearDupRestart(spark, nBatches = 10,
      batchSize = math.max(2, nEvents / 10000), cap = 12)
    val funnelRows = count("SELECT count(*) FROM soak_funnel")
    val funnelUsers = count("SELECT count(DISTINCT user_id) FROM soak_funnel")
    // null-side rows can only emit at the watermark — a left-outer join
    // that never emits orphans is silently behaving as an inner join
    val orphanRows = count("SELECT count(*) FROM soak_orphan")
    val ndStateCeiling = nPool.toLong * 4 * ndCap
    val ndHitsCeiling = ndStateCeiling * (ndCap - 1) / 2
    def evicted(s: Soak): Boolean = s.finalStateRows < s.peakStateRows / 4
    def opJson(s: Soak, extra: (String, Any)*): ListMap[String, Any] =
      ListMap[String, Any]("rows" -> s.rows, "wall_sec" -> Diag.r3(s.wallSec),
        "rows_per_sec" -> math.round(s.rowsPerSec), "batches" -> s.batches,
        "peak_state_rows" -> s.peakStateRows,
        "final_state_rows" -> s.finalStateRows) ++ extra +
        ("peak_state_bytes" -> s.peakStateBytes)
    def joinJson(s: Soak, extra: (String, Any)*): ListMap[String, Any] =
      ListMap[String, Any]("rows" -> s.rows, "wall_sec" -> Diag.r3(s.wallSec),
        "batches" -> s.batches, "peak_state_rows" -> s.peakStateRows,
        "post_watermark_state_rows" -> s.finalStateRows,
        "state_dropped_after_watermark" -> evicted(s)) ++ extra +
        ("state_rows_series" -> s.stateRows)
    val out = Json.write(ListMap[String, Any](
      "metric" -> "stream_soak", "n_events" -> sess.rows,
      "n_users_active" -> nUsers, "store" -> "rocksdb",
      "sessionizer_tws" -> opJson(sess), "heavy_hitters_tws" -> opJson(hh),
      "interval_join" -> joinJson(join),
      "left_outer_join" -> joinJson(orphan, "null_side_rows_emitted" -> orphanRows),
      "ohlc_windows" -> opJson(ohlc), "cusum_tws" -> opJson(drift),
      "funnel_tws" -> opJson(fun, "conversions" -> funnelRows,
        "distinct_converted" -> funnelUsers,
        "exactly_once" -> (funnelRows == funnelUsers && funnelRows == nUsers)),
      "neardup_tws" -> opJson(nd, "pool_texts" -> nPool, "cap" -> ndCap,
        "hits" -> ndHits, "state_ceiling" -> ndStateCeiling,
        "hits_ceiling" -> ndHitsCeiling),
      "neardup_ttl" -> ListMap("rows" -> ndTtl.rows,
        "wall_sec" -> Diag.r3(ndTtl.wallSec), "ttl_sec" -> ttlSec,
        "peak_state_rows" -> ndTtl.peakStateRows,
        "phase1_plateau_rows" -> ndTtl.phase1PlateauRows,
        "final_state_rows" -> ndTtl.finalStateRows,
        "no_ttl_accumulation_rows" -> 2 * nPool * 4,
        "probe_hits_after_expiry" -> ndTtl.probeHits),
      "neardup_restart" -> ListMap("rows" -> ndRestart.rows,
        "wall_sec" -> Diag.r3(ndRestart.wallSec), "batches" -> ndRestart.batches,
        "hits_interrupted" -> ndRestart.hitsInterrupted,
        "hits_reference" -> ndRestart.hitsReference,
        "cross_restart_hits" -> ndRestart.crossRestartHits,
        "changelog_files" -> ndRestart.changelogFiles,
        "exactly_once" -> ndRestart.exactlyOnce)))
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      out.getBytes("UTF-8"))
    println(out)
    spark.stop()
    // the eviction claims are the artifact's point — fail LOUDLY if any
    // join's buffered rows did not fall after the watermark advanced, or
    // the outer join never produced a null-side row
    // funnel contracts: exactly-once emission (terminal suppression) and
    // a |users|-bounded state ceiling
    val funnelOk = funnelRows == funnelUsers && funnelRows == nUsers &&
      fun.peakStateRows <= nUsers.toLong
    // near-dup contracts: the bucket cap bounds BOTH state and emissions
    // while events grow without bound. RocksDB reports ListState as one
    // row per KEY, so the key-count bound (pool×bands buckets) is the
    // tight one; pool×bands×cap also covers a per-element accounting.
    // Shingle-disjoint pool texts make the hit count EXACT:
    // every pool text owns 4 private buckets, each fills to cap and
    // emits C(cap,2) verified pairs, then drops juniors forever.
    val ndOk = nd.peakStateRows <= ndStateCeiling && ndHits == ndHitsCeiling && ndHits > 0
    // TTL contracts: an expired family must stop MATCHING (zero probe
    // hits — the behavioral definition of a sliding-recency window) and
    // final state must sit clearly below the no-TTL two-pool
    // accumulation (phase-1 members swept by phase-2's batch cleanups;
    // the 1.5× slack tolerates lazily-reported store rows, while any
    // archive behavior would hold the full 2× pools)
    val ndTtlOk = ndTtl.probeHits == 0 &&
      ndTtl.finalStateRows < (1.5 * nPool * 4).toLong &&
      ndTtl.phase1PlateauRows > 0
    // restart contracts: exactly-once pair multiset across the kill and
    // at least one pair bridging the crash (state recovery evidence)
    val ndRestartOk = ndRestart.exactlyOnce && ndRestart.crossRestartHits > 0
    if (!evicted(join) || !evicted(orphan) || orphanRows == 0 || !funnelOk || !ndOk
        || !ndTtlOk || !ndRestartOk) {
      System.err.println(s"[soak] state contract violated: " +
        s"inner peak=${join.peakStateRows} final=${join.finalStateRows} " +
        s"outer peak=${orphan.peakStateRows} final=${orphan.finalStateRows} " +
        s"orphans=$orphanRows funnel conv=$funnelRows distinct=$funnelUsers " +
        s"peak=${fun.peakStateRows} (users=$nUsers) " +
        s"neardup peak=${nd.peakStateRows} hits=$ndHits " +
        s"(ceilings $ndStateCeiling/$ndHitsCeiling) " +
        s"ttl plateau=${ndTtl.phase1PlateauRows} final=${ndTtl.finalStateRows} " +
        s"probe_hits=${ndTtl.probeHits} " +
        s"restart exactly_once=${ndRestart.exactlyOnce} " +
        s"cross_hits=${ndRestart.crossRestartHits}")
      sys.exit(1)
    }
  }
}
