package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.{GraftFunctions, Memo, SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** JVM side of the graft benchmark. One process runs one workload in a
  * fresh session and writes `<out>/result.json`; `perfbench/run.py`
  * launches it, checks the outputs and turns the result into metrics.
  *
  * Arguments are `key=value` pairs:
  *   mode     batch | stream
  *   t0_ms    epoch ms at which the launcher started this JVM
  *   t0_busy, t0_steal  the machine's busy and stolen CPU ticks then
  *   data     input directory (one parquet file per table)
  *   out      result directory
  *   cpus     local[cpus] session size
  *   seconds  length of the measured phase
  *   trace    1 to attach the listeners and record spans
  *   ops      comma-separated SparkEntry.queries names (batch)
  * plus the stream knobs read by [[AlertStream]].
  */
object Harness {
  val InputTables = Seq("events", "documents", "embeddings", "lineitem", "orders",
    "customer", "supplier", "part", "nation", "region")

  def main(args: Array[String]): Unit = {
    val kv = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val out = kv("out")
    Files.createDirectories(Paths.get(out))
    val t0Ms = kv("t0_ms").toLong
    val t0Ticks = (kv("t0_busy").toLong, kv("t0_steal").toLong)
    val data = kv("data")
    val tSession = System.nanoTime()
    val spark = Tables.localSession(kv("cpus"))
    val sessionS = (System.nanoTime() - tSession) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    val tables = registerInputs(spark, data)
    val setupS = (System.currentTimeMillis() - t0Ms) / 1000.0
    val base = Map[String, Any]("setup_s" -> setupS, "setup_share" -> runShare(t0Ticks, cpuTicks()),
      "session_s" -> sessionS,
      "tables" -> tables, "cpus" -> spark.sparkContext.defaultParallelism,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576)
    val result = try kv("mode") match {
      case "batch" => new BatchRun(spark, data, out, kv).run()
      case "stream" => new AlertStream(spark, data, out, kv).run()
    } finally {
      Memo.clear()
    }
    val rss = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    spark.stop()
    Files.writeString(Paths.get(out, "result.json"),
      Json.write(base ++ result ++ Map("peak_rss_mb" -> rss, "gc_s_total" -> gcSeconds())))
  }

  /** The session-start half of set-up: a temp view per input table (for
    * `events` through the program's schema-adaptive loader). */
  def registerInputs(spark: SparkSession, data: String): Seq[String] =
    InputTables.filter(t => Files.exists(Paths.get(data, s"$t.parquet"))).map { t =>
      val df = if (t == "events") Tables.events(spark, data) else Tables.table(spark, data, t)
      df.createOrReplaceTempView(t)
      t
    }

  /** This machine's CPU ticks since boot: (busy, stolen). A guest's
    * stolen ticks are time its runnable vCPUs waited while the host ran
    * other guests. */
  def cpuTicks(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").tail.map(_.toLong)
    (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
  }

  /** Share of the CPU time wanted between two readings that actually ran:
    * busy / (busy + stolen). Every measured interval records it beside its
    * wall time; run.py reports wall time times this share. */
  def runShare(from: (Long, Long), to: (Long, Long)): Double = {
    val busy = to._1 - from._1
    val stolen = to._2 - from._2
    if (busy + stolen <= 0) 1.0 else busy.toDouble / (busy + stolen)
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  def storedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  def drainBus(spark: SparkSession): Unit =
    org.apache.spark.graftbench.Bus.waitUntilEmpty(spark.sparkContext)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** The batch workloads: a cold pass and warm passes over a fixed list of
  * SparkEntry operations, each built through its public function and
  * materialized in full through the `noop` sink, then an untimed dump of
  * every result for the output check.
  */
final class BatchRun(spark: SparkSession, data: String, out: String,
    kv: Map[String, String]) {
  import Harness._

  private val ops = kv("ops").split(",").toSeq
  private val seconds = kv("seconds").toDouble
  private val traced = kv("trace") == "1"
  private val tracer = if (traced) Some(new Tracer(spark)) else None
  private val runSpan = tracer.map(_.newId()).getOrElse(0L)
  private val runStart = tracer.map(_.nowUs).getOrElse(0L)

  private def now: Long = tracer.map(_.nowUs).getOrElse(System.nanoTime() / 1000)

  /** Build, then execute, one operation; returns its record. */
  private def runOp(pass: Int, passSpan: Long, op: String, trace: Boolean): Map[String, Any] = {
    val group = s"p$pass/$op"
    val ids = tracer.filter(_ => trace).map(t => (t.newId(), t.newId(), t.newId()))
    ids.foreach { case (_, b, x) => tracer.get.bindGroup(group, b, x) }
    spark.sparkContext.setJobGroup(group, op)
    val c0 = cpuTicks()
    val t0 = now
    var t1 = t0
    val err = try {
      val df = SparkEntry.queries(op)(spark, data)
      t1 = now
      ids.foreach(_ => tracer.get.buildEnded(group, t1))
      noop(df)
      None
    } catch {
      case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    } finally spark.sparkContext.clearJobGroup()
    val t2 = now
    val share = runShare(c0, cpuTicks())
    if (err.nonEmpty && t1 == t0) t1 = t2
    ids.foreach { case (o, b, x) =>
      val t = tracer.get
      t.record(o, passSpan, op, group, t0, t2)
      t.record(b, o, "build", group, t0, t1)
      t.record(x, o, "execute", group, t1, t2)
    }
    Map("op" -> op, "build_s" -> (t1 - t0) / 1e6, "exec_s" -> (t2 - t1) / 1e6,
      "share" -> share, "ok" -> err.isEmpty, "err" -> err)
  }

  private def runPass(pass: Int, trace: Boolean): Map[String, Any] = {
    if (trace) tracer.foreach(_.attach())
    val passSpan = tracer.filter(_ => trace).map(_.newId()).getOrElse(0L)
    val c0 = cpuTicks()
    val t0 = now
    val recs = ops.map(runOp(pass, passSpan, _, trace))
    val t1 = now
    val share = runShare(c0, cpuTicks())
    if (trace) tracer.foreach { t =>
      t.detach()
      t.record(passSpan, runSpan, if (pass == 0) "cold pass" else s"warm pass $pass", s"p$pass", t0, t1)
    }
    Map("pass" -> pass, "traced" -> trace, "wall_s" -> (t1 - t0) / 1e6, "share" -> share,
      "stored_mb" -> storedMb(spark), "ops" -> recs)
  }

  def run(): Map[String, Any] = {
    val cold = runPass(0, traced)
    val memoColdMb = storedMb(spark)
    // The measured phase: warm passes until `seconds` have elapsed. The
    // traced run mixes untraced and traced passes: the traced ones give
    // the per-layer numbers, the difference gives the tracing overhead.
    val warm = mutable.ArrayBuffer.empty[Map[String, Any]]
    val gc0 = gcSeconds()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // At least two warm passes, so the median is not one pass's noise.
    // Traced passes follow the pattern untraced, traced, traced, untraced
    // so that neither kind gets all the early, still-warming passes.
    val minPasses = if (traced) 4 else 2
    while (warm.size < minPasses || System.nanoTime() < deadline)
      warm += runPass(warm.size + 1, traced && Set(1, 2).contains(warm.size % 4))
    val gcWarm = gcSeconds() - gc0
    val memoWarmMb = storedMb(spark)
    val tExtra = System.nanoTime()
    val extra = if (!traced) Map.empty[String, Any] else traceExtras()
    val tDump = System.nanoTime()
    val checkErrs = dumpOutputs()
    val dumpS = (System.nanoTime() - tDump) / 1e9
    tracer.foreach { t =>
      t.record(runSpan, 0L, "run", "run", runStart, t.nowUs)
      Files.write(Paths.get(out, "spans.jsonl"),
        t.spans.map(s => Json.write(s.toMap)).asJava)
    }
    Map("cold" -> cold, "warm" -> warm.toSeq, "gc_warm_s" -> gcWarm,
      "memo_cold_mb" -> memoColdMb, "memo_warm_mb" -> memoWarmMb,
      "dump_errors" -> checkErrs, "dump_s" -> dumpS, "extras_s" -> (tDump - tExtra) / 1e9,
      "counters" -> tracer.map(_.counters.map { case (g, c) => g -> c.toMap }).getOrElse(Map.empty)) ++ extra
  }

  /** Traced-run extras: count() vs noop per operation, a full-column scan
    * of the inputs and, on corpus inputs, the kernel costs per row. */
  private def traceExtras(): Map[String, Any] = {
    val countS = ops.map { op =>
      val t0 = System.nanoTime()
      try SparkEntry.queries(op)(spark, data).count()
      catch { case NonFatal(_) => () }
      op -> (System.nanoTime() - t0) / 1e9
    }.toMap
    val scans = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      spark.catalog.listTables().collect().foreach(t => noop(spark.table(t.name)))
      (System.nanoTime() - t0) / 1e9
    }
    Map("count_s" -> countS, "scan_s" -> median(scans), "kernels" -> Kernels.measure(spark, data))
  }

  /** Untimed: every operation's result as one parquet directory plus the
    * oracle SQL, in the layout tools/check.py reads. */
  private def dumpOutputs(): Map[String, String] = {
    val dir = Paths.get(out, "verify")
    Files.createDirectories(dir)
    val errs = ops.flatMap { op =>
      try {
        SparkEntry.queries(op)(spark, data).coalesce(1).write.mode("overwrite")
          .parquet(dir.resolve(op).toString)
        None
      } catch { case NonFatal(e) => Some(op -> String.valueOf(e.getMessage).take(300)) }
    }.toMap
    // the whole registry; run.py restricts the check to this workload's ops
    Files.writeString(dir.resolve("oracle_sql.json"), Json.write(SparkEntry.oracleSql))
    errs
  }
}
