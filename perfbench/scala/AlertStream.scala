package graftbench

import java.sql.Timestamp
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.streaming.{DocStream, Event, EventStream}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

/** One events row as the stream carries it (the events table's columns). */
final case class StreamEvent(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

/** One open-loop append: the events and documents it carried, the
  * offset each source reached, and how late the generator ran. */
final case class Tick(events: Int, offsets: Seq[Long], lateMs: Long, docs: Int)

/** The `alert_stream` workload: the five EventStream alert twins and
  * DocStream.nearDupStream run concurrently on a RocksDB state store, fed
  * by one generator thread from the generated events and documents. Each
  * query reads its own in-memory source, and the generator appends the
  * same slice to every source at once, the way one topic feeds several
  * consumer groups.
  *
  * Phases: warm-up; `drains` closed-loop drains of a `backlog`-event
  * backlog (plus one document per `doc_ratio` events); then an open loop
  * of `seconds` at `rate` events/s, appended every `tick_ms`, where each
  * event's lag runs from when it was due to the commit of the last
  * micro-batch, across all six queries, that consumed it.
  */
final class AlertStream(spark: SparkSession, data: String, out: String,
    kv: Map[String, String]) {
  import spark.implicits._

  private val rate = kv("rate").toDouble
  private val tickMs = kv("tick_ms").toInt
  private val backlog = kv("backlog").toInt
  private val drains = kv("drains").toInt
  private val docRatio = kv("doc_ratio").toInt
  private val seconds = kv("seconds").toDouble
  private val warmup = kv("warmup").toInt

  private val names = Seq("afterHoursAlerts", "errorBursts", "funnelConversions",
    "sessionizeTws", "topResourcesStream", "nearDupStream")

  /** Progress of every micro-batch, with its query's name. */
  private val progress = new ConcurrentLinkedQueue[(String, StreamingQueryProgress)]()

  def run(): Map[String, Any] = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val events = spark.table("events")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .orderBy("ts", "event_id").as[StreamEvent].collect()
    val docs = spark.table("documents").select("doc_id", "text")
      .orderBy("doc_id").as[(Long, String)].collect()

    val evSources = names.init.map(_ => MemoryStream[StreamEvent](spark))
    val docSource = MemoryStream[(Long, String)](spark)
    def typed(df: DataFrame) =
      df.select("event_id", "ts", "user_id", "event_type", "value").as[Event]
    val frames: Seq[DataFrame] = Seq(
      EventStream.afterHoursAlerts(evSources(0).toDF()),
      EventStream.errorBursts(evSources(1).toDF()),
      EventStream.funnelConversions(typed(evSources(2).toDF())).toDF(),
      EventStream.sessionizeTws(typed(evSources(3).toDF())).toDF(),
      EventStream.topResourcesStream(evSources(4).toDF()).toDF(),
      DocStream.nearDupStream(docSource.toDF().toDF("doc_id", "text")).toDF())

    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress.name -> e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    // The generator's cursor over the generated inputs. Documents follow
    // the events at one per `docRatio`, carried across small slices.
    var evPos = 0
    var docPos = 0
    val fedAfterHours = Array(0L)
    val offsets = Array.fill(names.size)(-1L)
    /** Appends the next `n` events (and their share of documents) to the
      * sources; returns the offset each source has reached and the number
      * of documents added. */
    def feed(n: Int): (Seq[Long], Int) = {
      require(evPos + n <= events.length, s"alert_stream ran out of generated events at $evPos")
      val ev = events.slice(evPos, evPos + n).toSeq
      val nd = (evPos + n) / docRatio - evPos / docRatio
      evPos += n
      fedAfterHours(0) += ev.count { e =>
        val h = e.ts.toInstant.atZone(java.time.ZoneOffset.UTC).getHour
        h < 8 || h > 18
      }
      evSources.indices.foreach(i => offsets(i) = evSources(i).addData(ev).toString.toLong)
      if (nd > 0) {
        val dc = (0 until nd).map(i => ((docPos + i).toLong, docs((docPos + i) % docs.length)._2))
        docPos += nd
        offsets(names.size - 1) = docSource.addData(dc).toString.toLong
      }
      (offsets.toVector, nd)
    }
    // Cold: the queries start one at a time, each taking the warm-up
    // slice as its first micro-batch, so their first-batch costs (planning,
    // codegen, state store creation) do not race each other.
    val t0 = System.nanoTime()
    val c0 = Harness.cpuTicks()
    feed(warmup)
    val queries: Seq[StreamingQuery] = names.zip(frames).map { case (n, df) =>
      val q = df.writeStream.format("memory").queryName(n).outputMode("append")
        .option("checkpointLocation", s"$out/checkpoint/$n").start()
      q.processAllAvailable()
      q
    }
    val warmupS = (System.nanoTime() - t0) / 1e9
    val warmupShare = Harness.runShare(c0, Harness.cpuTicks())
    def awaitAll(): Unit = queries.foreach(_.processAllAvailable())
    val warmEnd = System.currentTimeMillis()
    val cWarm = Harness.cpuTicks()

    // Closed loop: a pre-staged backlog drained through every query.
    val drained = (0 until drains).map { _ =>
      val d0 = System.nanoTime()
      val cd = Harness.cpuTicks()
      val (_, nd) = feed(backlog)
      awaitAll()
      Map("records" -> (backlog + nd), "s" -> (System.nanoTime() - d0) / 1e9,
        "share" -> Harness.runShare(cd, Harness.cpuTicks()))
    }

    // Open loop: event i is due at openStart + i / rate, on a schedule
    // that does not slow when the queries do. Every `tickMs` the generator
    // appends the events that have come due (a producer batching for
    // tickMs); each event is timed from when it was due, and the generator
    // records how late each tick ran.
    val ticks = mutable.ArrayBuffer.empty[Tick]
    val openStart = System.currentTimeMillis()
    val cOpen = Harness.cpuTicks()
    val nTicks = (seconds * 1000 / tickMs).toInt
    var openFed = 0
    for (k <- 1 to nTicks) {
      val due = openStart + k.toLong * tickMs
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val late = System.currentTimeMillis() - due
      val n = (rate * k * tickMs / 1000).toInt - openFed
      if (n > 0) {
        val (offs, nd) = feed(n)
        ticks += Tick(n, offs, late, nd)
        openFed += n
      }
    }
    val openEnd = System.currentTimeMillis()
    awaitAll()
    val catchupS = (System.currentTimeMillis() - openEnd) / 1000.0
    // shares of the open loop (the lags) and of everything after the
    // warm-up (the micro-batch durations)
    val openShare = Harness.runShare(cOpen, Harness.cpuTicks())
    val measuredShare = Harness.runShare(cWarm, Harness.cpuTicks())

    // Output check: every query consumed everything, none failed, the
    // stateless after-hours filter emitted exactly one row per
    // after-hours event, and every other query emitted rows.
    val lastOffsets = ticks.last.offsets
    // A query publishes its last progress just after the commit that
    // processAllAvailable waits for, and the listener gets it through the
    // bus: wait for the publication, then drain the bus.
    val published = System.currentTimeMillis() + 30000
    while (queries.indices.exists(i => Option(queries(i).lastProgress)
        .forall(endOffset(_) < lastOffsets(i))) && System.currentTimeMillis() < published)
      Thread.sleep(10)
    Harness.drainBus(spark)
    spark.streams.removeListener(listener)
    val byQuery = progress.asScala.toSeq.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val checks = names.zipWithIndex.map { case (n, i) =>
      val q = queries(i)
      val rows = spark.table(n).count()
      val consumed = byQuery.getOrElse(n, Nil).map(endOffset).maxOption.getOrElse(-1L)
      val err = q.exception.map(_.getMessage.take(300))
        .orElse(if (consumed < lastOffsets(i)) Some(s"consumed offset $consumed < fed ${lastOffsets(i)}") else None)
        .orElse(if (n == "afterHoursAlerts" && rows != fedAfterHours(0))
          Some(s"$rows alerts for ${fedAfterHours(0)} after-hours events") else None)
        .orElse(if (rows == 0) Some("no output rows") else None)
      n -> Map("rows" -> rows, "ok" -> err.isEmpty, "err" -> err)
    }.toMap
    queries.foreach(_.stop())

    // Lag of each event: from when it was due to the latest commit, over
    // the six queries, of the first micro-batch covering its tick's offset.
    val commits = names.map { n =>
      byQuery.getOrElse(n, Nil).map(p => (endOffset(p), commitMs(p))).sortBy(_._1)
    }
    var eventIx = 0
    val lags = ticks.flatMap { t =>
      val committed = names.indices.map { i =>
        commits(i).find(_._1 >= t.offsets(i)).map(_._2).getOrElse(Long.MaxValue)
      }.max
      val ix = eventIx until eventIx + t.events
      eventIx += t.events
      ix.map(j => committed - (openStart + (j + 1) * 1000.0 / rate))
    }
    // rows fed but not yet committed when the open loop ended, worst query
    val backlogEnd = names.indices.map { i =>
      val done = commits(i).filter(_._2 <= openEnd).map(_._1).maxOption.getOrElse(-1L)
      ticks.filter(_.offsets(i) > done).map(t => if (i == names.size - 1) t.docs else t.events).sum.toLong
    }.max

    val perQuery = names.map { n =>
      val ps = byQuery.getOrElse(n, Nil).filter(p => commitMs(p) > warmEnd)
      val state = ps.map(p => p.stateOperators.map(_.numRowsTotal).sum)
      val stateBytes = ps.map(p => p.stateOperators.map { so =>
        val custom = Option(so.customMetrics).map(m => Seq("rocksdbTotalMemoryUsage", "rocksdbSstFileSize")
          .map(k => Option(m.get(k)).map(_.longValue()).getOrElse(0L)).max).getOrElse(0L)
        math.max(so.memoryUsedBytes, custom)
      }.sum)
      n -> Map(
        "batches" -> ps.size,
        "batch_ms" -> ps.map(_.batchDuration.toDouble),
        "state_rows_peak" -> state.maxOption.getOrElse(0L),
        "state_mb_peak" -> stateBytes.maxOption.getOrElse(0L) / 1048576.0,
        "watermark_lag_s" -> ps.flatMap(watermarkLagS).lastOption)
    }.toMap
    if (kv("trace") == "1") writeSpans(byQuery)

    Map("stream" -> Map(
      "warmup_s" -> warmupS, "warmup_share" -> warmupShare, "drains" -> drained, "rate" -> rate,
      "open_share" -> openShare, "measured_share" -> measuredShare,
      "tick_ms" -> tickMs, "ticks" -> ticks.size,
      "lag_ms" -> lags, "gen_late_ms" -> ticks.map(_.lateMs.toDouble),
      "backlog_rows_end" -> backlogEnd, "catchup_s" -> catchupS,
      "events_fed" -> evPos, "docs_fed" -> docPos, "queries" -> perQuery),
      "checks" -> checks)
  }

  private def endOffset(p: StreamingQueryProgress): Long =
    p.sources.headOption.flatMap(s => Option(s.endOffset)).map(_.trim.toLong).getOrElse(-1L)

  private def commitMs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli + p.batchDuration

  private def watermarkLagS(p: StreamingQueryProgress): Option[Double] = {
    val et = p.eventTime
    for (mx <- Option(et.get("max")); wm <- Option(et.get("watermark")))
      yield (Instant.parse(mx).toEpochMilli - Instant.parse(wm).toEpochMilli) / 1000.0
  }

  /** Span file of the traced run: run → query → micro-batch. */
  private def writeSpans(byQuery: Map[String, Seq[StreamingQueryProgress]]): Unit = {
    var id = 0L
    val lines = mutable.ArrayBuffer.empty[String]
    def add(parent: Long, name: String, op: String, s: Long, e: Long): Long = {
      id += 1
      lines += Json.write(Span(id, parent, name, op, s * 1000, e * 1000).toMap)
      id
    }
    val all = byQuery.values.flatten.toSeq
    val runStart = all.map(p => Instant.parse(p.timestamp).toEpochMilli).minOption.getOrElse(0L)
    val runId = add(0, "run", "run", runStart, all.map(commitMs).maxOption.getOrElse(runStart))
    byQuery.foreach { case (n, ps) =>
      val qs = ps.map(p => Instant.parse(p.timestamp).toEpochMilli)
      val q = add(runId, n, n, qs.minOption.getOrElse(runStart), ps.map(commitMs).maxOption.getOrElse(runStart))
      ps.foreach(p => add(q, s"batch ${p.batchId}", n, Instant.parse(p.timestamp).toEpochMilli, commitMs(p)))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out, "spans.jsonl"), lines.asJava)
  }
}
