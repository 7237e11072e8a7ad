package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One span of the traced run: run → pass → operation → {build, execute}
  * → Spark stage. Times are epoch microseconds; spans of one operation
  * share `op`.
  */
final case class Span(id: Long, parent: Long, name: String, op: String,
    start: Long, end: Long) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "name" -> name, "op" -> op, "start_us" -> start, "end_us" -> end)
}

/** Per-operation Spark counters, keyed by the job group the harness sets
  * around each operation. */
final class OpCounters {
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var exchanges = 0L
  def toMap: Map[String, Any] = Map("stages" -> stages, "tasks" -> tasks,
    "exec_cpu_s" -> cpuNs / 1e9, "shuffle_mb" -> shuffleBytes / 1048576.0,
    "spill_mb" -> spillBytes / 1048576.0, "exchanges" -> exchanges)
}

/** Reads Spark's listener bus: stage completions give the stage/task
  * counters and stage spans, SQL execution events give the Exchange nodes
  * of each execution's final (post-AQE) plan. Work is attributed to an
  * operation through the job group (`spark.jobGroup.id`) its jobs carry.
  * (A QueryExecutionListener cannot attribute: the QueryExecution it is
  * handed has another id than the `spark.sql.execution.id` of its jobs.)
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val baseNano = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000
  def nowUs: Long = baseUs + (System.nanoTime() - baseNano) / 1000

  private var nextId = 1L
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.LinkedHashMap.empty[String, OpCounters]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val execGroup = mutable.HashMap.empty[Long, String]
  private val plans = mutable.HashMap.empty[Long, SparkPlanInfo]
  /** Build span, execute span and build end of each group: a stage
    * submitted before the build ended (an eager fit or checkpoint inside
    * the public call) is a child of `build`, every later one of `execute`.
    */
  private val groupSpans = mutable.HashMap.empty[String, (Long, Long, Long)]

  def newId(): Long = synchronized { nextId += 1; nextId - 1 }

  def record(id: Long, parent: Long, name: String, op: String, start: Long, end: Long): Unit =
    synchronized { spans += Span(id, parent, name, op, start, end) }

  def bindGroup(group: String, build: Long, execute: Long): Unit =
    synchronized { groupSpans(group) = (build, execute, Long.MaxValue) }

  def buildEnded(group: String, atUs: Long): Unit = synchronized {
    groupSpans.get(group).foreach { case (b, x, _) => groupSpans(group) = (b, x, atUs) }
  }

  private def group(g: String): OpCounters = counters.getOrElseUpdate(g, new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).foreach { p =>
      Option(p.getProperty("spark.jobGroup.id")).foreach { g =>
        e.stageIds.foreach(stageGroup(_) = g)
        Option(p.getProperty("spark.sql.execution.id"))
          .foreach(id => execGroup(id.toLong) = g)
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageGroup.get(si.stageId).foreach { g =>
      val c = group(g)
      val m = si.taskMetrics
      c.stages += 1
      c.tasks += si.numTasks
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      for (s <- si.submissionTime; end <- si.completionTime) {
        val parent = groupSpans.get(g)
          .map { case (b, x, buildEnd) => if (s * 1000 < buildEnd) b else x }.getOrElse(0L)
        record(newId(), parent, s"stage ${si.stageId}", g, s * 1000, end * 1000)
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case x: SparkListenerSQLExecutionStart => plans(x.executionId) = x.sparkPlanInfo
      case x: SparkListenerSQLAdaptiveExecutionUpdate => plans(x.executionId) = x.sparkPlanInfo
      case x: SparkListenerSQLExecutionEnd =>
        for (plan <- plans.remove(x.executionId); g <- execGroup.get(x.executionId))
          group(g).exchanges += exchanges(plan)
      case _ =>
    }
  }

  /** Shuffle and broadcast exchanges a plan runs: a reused exchange runs
    * none of its own, and a scan of a cached relation none of the plan that
    * built the cache. */
  private def exchanges(p: SparkPlanInfo): Int =
    if (Set("ReusedExchange", "InMemoryTableScan", "TableCacheQueryStage")(p.nodeName)) 0
    else (if (p.nodeName.endsWith("Exchange")) 1 else 0) + p.children.map(exchanges).sum

  def attach(): Unit = spark.sparkContext.addSparkListener(this)

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
  }

  /** Block until every event posted so far has reached the listeners. */
  def drain(): Unit = Harness.drainBus(spark)
}
