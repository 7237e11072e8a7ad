package graft

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.{ListMap, TreeMap}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec,
  ShuffleExchangeLike}

/** Developer entry point over [[SparkEntry.queries]], on the session every
  * graft entry point uses: [[Tables.localSession]] at [[Tables.cpus]] cores
  * plus [[Tables.applyConfOverrides]].
  *
  *  - `time <q,…|all> <sfDir> [runs=3]` runs each query `runs` times in a
  *    row through [[materialize]] and prints `TIMEQ <name> <t1> … <tN>`
  *    (seconds). Run 1 is `cold`: it pays JIT, first-touch scans, codegen
  *    and the Memo and model builds. `warm` is the min of runs 2..N. `all`
  *    also writes the sweep artifact, see [[finish]].
  *  - `profile <q> <sfDir>` runs the query once, then prints one `STAGE`
  *    line per stage of a fresh re-execution and a `PROF` total.
  *  - `explain <q,…|all> <sfDir> [outDir]` prints the formatted post-AQE
  *    plan of each query, or writes it to `<outDir>/<q>.txt`, under a
  *    header with the load average before and after the run and the
  *    plan's [[Exchanges]].
  *  - `amplify <baseDir> <outDir> <factor> <mode> [copyOffset]` writes a
  *    [[ScaleProbe.amplify]] fixture.
  *
  * Exit code 1 when any timed query failed.
  */
object Diag {
  /** A sweep whose median or total per-query ratio to the prior is above
    * this is drift: it is written beside the prior, never over it. */
  val DriftRatio = 1.15
  /** A query whose ratio to the prior is beyond this either way is listed
    * under `moved`. */
  val MovedRatio = 1.5

  private val Usage = "usage: graft.Diag time <q,...|all> <sfDir> [runs] | profile <q> <sfDir>" +
    " | explain <q,...|all> <sfDir> [outDir] | amplify <baseDir> <outDir> <factor> <mode> [copyOffset]"

  def main(args: Array[String]): Unit = {
    if (args.length < 3) { System.err.println(Usage); sys.exit(2) }
    val spark = Tables.localSession(Tables.cpus.toString)
    spark.sparkContext.setLogLevel("WARN")
    Tables.applyConfOverrides(spark)
    val ok = try args(0) match {
      case "time" =>
        time(spark, names(args(1)), args(2), args.lift(3).fold(3)(_.toInt),
          Option.when(args(1) == "all")(artifactPath(Tables.cpus)))
      case "profile" => profile(spark, args(1), args(2)); true
      case "explain" => explain(spark, names(args(1)), args(2), args.lift(3)); true
      case "amplify" =>
        ScaleProbe.amplify(spark, args(1), args(2), args(3).toInt, args(4),
          args.lift(5).fold(0)(_.toInt))
        println(s"AMPLIFIED ${args(2)} x${args(3)} mode=${args(4)}")
        true
      case _ => System.err.println(Usage); false
    } finally spark.stop()
    if (!ok) sys.exit(1)
  }

  private def names(spec: String): Seq[String] =
    if (spec == "all") SparkEntry.queries.keys.toSeq.sorted else spec.split(",").toSeq

  /** Executes every output column of `df` through Spark's noop sink, which
    * is what a consumer of the result pays. `count()` would let Catalyst
    * prune every column it does not read, UDFs and hashes included. */
  def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One prior per core count: a sweep at one core count can never
    * overwrite the prior of another. */
  def artifactPath(cpus: Int): String = s"bench_full_c$cpus.json"

  private[graft] def r3(x: Double): Double = math.rint(x * 1000) / 1000

  private def loadavg(): Double =
    math.rint(ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage * 100) / 100

  /** Classes the JVM's generated-code compiler has compiled so far. */
  def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Times `queries`; with `artifact`, also writes the sweep there through
    * [[finish]]. Each query's `warm_compiles` counts the classes compiled
    * during runs 2..N: identical runs regenerate identical source, which
    * the codegen cache serves, so a non-zero count names a query whose
    * generated source changes from run to run. False when any query
    * failed. */
  def time(spark: SparkSession, queries: Seq[String], sfDir: String, runs: Int,
      artifact: Option[String]): Boolean = {
    require(runs >= 2, s"runs=$runs: run 1 is the cold run, warm needs at least one more")
    val loadStart = loadavg()
    def run(name: String): Double = {
      val t0 = System.nanoTime()
      materialize(SparkEntry.queries(name)(spark, sfDir))
      (System.nanoTime() - t0) / 1e9
    }
    val timed: Seq[(String, Option[(Seq[Double], Long)])] = queries.map { name =>
      val times =
        try {
          val cold = run(name)
          val c0 = compiles()
          val warm = (2 to runs).map(_ => run(name))
          Some((cold +: warm, compiles() - c0))
        } catch { case NonFatal(e) =>
          System.err.println(s"[diag] $name failed: ${e.getMessage}")
          None
        }
      times.foreach { case (ts, _) =>
        println(s"TIMEQ $name " + ts.map(t => f"$t%.3f").mkString(" "))
      }
      name -> times
    }
    val failed = timed.collect { case (n, None) => n }
    artifact.foreach { path =>
      val ok = timed.collect { case (n, Some(r)) => n -> r }
      val warm = ok.map { case (n, (ts, _)) => n -> ts.tail.min }.toMap
      val rows = TreeMap(ok.map { case (n, (ts, wc)) =>
        n -> ListMap("cold" -> r3(ts.head), "warm" -> r3(warm(n)),
          "spread" -> r3((ts.tail.max - warm(n)) / warm(n)), "warm_compiles" -> wc)
      }: _*)
      val sweep = ListMap("cpus" -> Tables.cpus, "sf" -> sfDir, "runs" -> runs,
        "codegen_cache_entries" -> spark.conf.get("spark.sql.codegen.cache.maxEntries").toInt,
        "loadavg_start" -> loadStart, "loadavg_end" -> loadavg(),
        "warm_total" -> r3(warm.values.sum), "queries" -> rows, "failed" -> failed)
      println(s"[diag] wrote ${finish(path, sweep, warm)}")
    }
    failed.isEmpty
  }

  /** Ratios of a sweep's warm times to the prior's, over the queries both
    * have. */
  case class Drift(medianRatio: Double, totalRatio: Double, moved: Seq[String]) {
    def flagged: Boolean = medianRatio > DriftRatio || totalRatio > DriftRatio
  }

  def compare(prior: Map[String, Double], now: Map[String, Double]): Drift = {
    val common = now.keySet.filter(q => prior.get(q).exists(_ > 0)).toSeq.sorted
    if (common.isEmpty) Drift(1.0, 1.0, Nil)
    else {
      val ratio = common.map(q => q -> now(q) / prior(q)).toMap
      val sorted = ratio.values.toSeq.sorted
      Drift(sorted(sorted.size / 2), common.map(now).sum / common.map(prior).sum,
        common.filter(q => ratio(q) > MovedRatio || ratio(q) < 1 / MovedRatio))
    }
  }

  /** Warm times of a prior artifact. */
  def priorWarm(path: String): Map[String, Double] =
    Json.mapper.readTree(new File(path)).path("queries").properties().asScala
      .map(e => e.getKey -> e.getValue.path("warm").asDouble()).toMap

  /** Writes a `time all` artifact to `path`. When `path` already holds a
    * prior, the artifact gains a `compare` block and, if [[Drift.flagged]],
    * goes to `<path>.drift` instead, so a loaded window never becomes the
    * next sweep's prior. Returns the path written. */
  def finish(path: String, artifact: ListMap[String, Any], warm: Map[String, Double]): String = {
    val (out, full) =
      if (!new File(path).isFile) (path, artifact)
      else {
        val prior = priorWarm(path)
        val d = compare(prior, warm)
        val moved = d.moved.map(q => ListMap("query" -> q, "prior" -> prior(q), "now" -> r3(warm(q)),
          "ratio" -> r3(warm(q) / prior(q))))
        val cmp = ListMap("prior" -> path, "median_ratio" -> r3(d.medianRatio),
          "total_ratio" -> r3(d.totalRatio), "drift" -> d.flagged, "moved" -> moved)
        if (d.flagged) System.err.println(s"[diag] drift against $path: median_ratio=" +
          s"${r3(d.medianRatio)} total_ratio=${r3(d.totalRatio)}, sweep diverted to $path.drift")
        (if (d.flagged) s"$path.drift" else path, artifact + ("compare" -> cmp))
      }
    Files.writeString(Paths.get(out),
      Json.mapper.writerWithDefaultPrettyPrinter().writeValueAsString(full) + "\n")
    out
  }

  /** Stage-level view of one query. Always a FRESH plan: re-running an
    * executed Dataset reuses its materialized AQE shuffle stages and only
    * re-runs the final stage. */
  def profile(spark: SparkSession, name: String, sfDir: String): Unit = {
    val fn = SparkEntry.queries(name)
    materialize(fn(spark, sfDir))
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val dur = for { s <- si.submissionTime; c <- si.completionTime } yield c - s
        val m = si.taskMetrics
        println(s"STAGE ${si.stageId} tasks=${si.numTasks} ms=${dur.getOrElse(-1L)} " +
          s"cpuMs=${m.executorCpuTime / 1000000} runMs=${m.executorRunTime} " +
          s"in=${m.inputMetrics.recordsRead} sr=${m.shuffleReadMetrics.recordsRead} " +
          s"sw=${m.shuffleWriteMetrics.recordsWritten} ${si.name.take(90)}")
      }
    })
    val t0 = System.nanoTime()
    materialize(fn(spark, sfDir))
    println(f"PROF fresh_$name ${(System.nanoTime() - t0) / 1e9}%.3f")
  }

  /** Exchange nodes of an executed query's final plan, AQE query stages
    * and subqueries included. `reused` counts the reads of another
    * exchange's output, which run no shuffle or broadcast of their own;
    * exchanges inside a cached relation's plan are not counted. */
  final case class Exchanges(shuffle: Int, broadcast: Int, reused: Int) {
    /** The exchanges the plan runs. */
    def run: Int = shuffle + broadcast
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** [[Exchanges]] of `df`, which must have been executed: AQE plans are
    * final only then. */
  def exchanges(df: DataFrame): Exchanges = {
    val nodes = PlanWalk.collectWithSubqueries(df.queryExecution.executedPlan) { case p => p }
    Exchanges(nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      nodes.count(_.isInstanceOf[BroadcastExchangeLike]),
      nodes.count(_.isInstanceOf[ReusedExchangeExec]))
  }

  def explain(spark: SparkSession, queries: Seq[String], sfDir: String,
      outDir: Option[String]): Unit = {
    outDir.foreach(d => Files.createDirectories(Paths.get(d)))
    for (name <- queries) {
      val loadStart = loadavg()
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // AQE plans are final only once executed
      val x = exchanges(df)
      val txt = s"# $name — explain(formatted), post-AQE, over $sfDir\n" +
        s"# loadavg start=$loadStart end=${loadavg()}\n" +
        s"# exchanges shuffle=${x.shuffle} broadcast=${x.broadcast} reused=${x.reused}\n\n" +
        df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      outDir match {
        case Some(d) =>
          Files.writeString(Paths.get(d, s"$name.txt"), txt)
          println(s"[diag] wrote $d/$name.txt")
        case None => println(txt)
      }
    }
  }
}
