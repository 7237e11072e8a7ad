package graft.operators

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed exact ranking — the two-phase swap for unpartitioned
  * `Window.orderBy`, which funnels every row of its input through ONE
  * task (the single-task global sort the 100 TB plan cannot contain).
  *
  * Phase 1 range-partitions the frame on the sort key, so partition i
  * holds keys strictly before partition i+1's. Phase 2 computes
  * per-partition counts (and optional partial sums) — a numParts-row
  * frame — turns them into per-partition offsets with a window over
  * that provably-tiny frame, and broadcast-joins the offsets back:
  *
  *   global rank        = partition offset + local row_number
  *   global running sum = partition sum offset + local running sum
  *
  * Every data-sized stage is parallel; the only ordered single-task
  * work is the numParts-row offset scan. This is the same
  * prefix-sum-and-offset pattern `q_weighted_sample` uses to avoid its
  * global sort, packaged for every rank/ntile/cumulative consumer.
  */
object RankOps {

  /** Pinned rank inputs, deduplicated by the analyzed plan's semantic
    * hash. CacheManager already reuses one InMemoryRelation for
    * semantically-equal plans, so the map mirrors (not duplicates) its
    * state — what it adds is ACCOUNTING: [[releasePins]] gives sessions
    * a deterministic unpersist point (Memo.clear calls it), instead of
    * cache entries living until session teardown.
    */
  private val pins =
    new java.util.concurrent.ConcurrentHashMap[Int, DataFrame]()

  private def registerPin(df: DataFrame): DataFrame = {
    val key = try df.queryExecution.analyzed.semanticHash()
              catch { case NonFatal(_) => System.identityHashCode(df) }
    val prev = pins.putIfAbsent(key, df)
    if (prev != null) prev else { df.cache(); df }
  }

  /** Unpersist every rank-pinned frame and forget it. Safe mid-session:
    * a later rank of the same input just re-pins. */
  def releasePins(): Unit = {
    pins.values().forEach(df =>
      try df.unpersist() catch { case NonFatal(_) => () })
    pins.clear()
  }

  /** Adds `rankName` (1-based global rank, long) under the total order
    * `sort`. The caller MUST make `sort` a total order (unique
    * tiebreak), or ranks are nondeterministic — same contract as
    * row_number. Each `(name, expr)` in `cumSums` adds a column `name`
    * holding the running sum of `expr` up to and including the current
    * row in `sort` order.
    *
    * The input is always pinned (cached) before ranking:
    * `repartitionByRange` runs a SAMPLING job over its input and then
    * re-reads it for the shuffle write, so un-pinned input lineage
    * executes 2-3× per action (measured 36× wall-clock on a scoring
    * frame whose lineage scanned parquet each time). Every consumer
    * ranks an already-reduced frame (scores, per-user totals, vocab) —
    * the thing you'd pin on a cluster anyway. CacheManager matches
    * plans by equivalence, so repeated calls with the same input reuse
    * one InMemoryRelation rather than stacking new ones; on top of that
    * every pinned frame is registered (deduplicated by semantic hash)
    * so [[releasePins]] can unpersist the lot deterministically — a
    * long-lived session doesn't accrete unaccounted InMemoryRelations.
    *
    * Each `cumSums` name present in `cumTotalNames` additionally emits
    * that sum's GRAND total under the mapped column name — it rides the
    * same numParts-row offset frame (one more window over tiny data),
    * so consumers needing "running sum + total" (Pareto coverage,
    * share-of-total cuts) don't pay a separate whole-input aggregation
    * job + crossJoin.
    */
  def withGlobalRank(df: DataFrame, rankName: String, sort: Seq[Column],
      cumSums: Seq[(String, Column)] = Nil,
      totalName: Option[String] = None,
      cumTotalNames: Map[String, String] = Map.empty): DataFrame = {
    val in = registerPin(df)
    val n = df.sparkSession.sparkContext.defaultParallelism
    // Explicit numPartitions: a user-specified width AQE won't coalesce,
    // so spark_partition_id() stays aligned with the range ordering.
    //
    // localCheckpoint is CORRECTNESS, not tuning: `parted` is consumed
    // twice (the per-partition count/offset frame rides a broadcast
    // subtree, which materializes as its own job), and
    // repartitionByRange SAMPLES its input to pick range bounds — two
    // independent executions sample under different seeds and can pick
    // DIFFERENT bounds, making phase-2 offsets inconsistent with the
    // phase-1 row_numbers (duplicate + skipped ranks). The divergence
    // only appears once the frame outgrows the exchange's sample size
    // (~sampleSizePerPartition × partitions rows — below that the
    // "sample" is the whole frame and every execution agrees), i.e.
    // exactly at scale: caught by the sf0.1 oracle gate on q_gini's
    // 7,500-row frame while every smaller consumer stayed green.
    // Checkpointing materializes the partitioning ONCE; both the offset
    // frame and the ranked join then read the same frozen bounds.
    val parted = in.repartitionByRange(n, sort: _*)
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint()
    val sumAliases = cumSums.zipWithIndex.map { case ((_, e), i) => (s"_s$i", e) }
    val aggs = count(lit(1)).as("_n") +: sumAliases.map { case (a, e) => sum(e).as(a) }
    val perPart = parted.groupBy(col("_pid")).agg(aggs.head, aggs.tail: _*)
    // Offsets = totals of all partitions strictly BEFORE this one.
    // numParts rows; the global orderBy here is over that tiny frame.
    val wOff = Window.orderBy(col("_pid")).rowsBetween(Window.unboundedPreceding, -1)
    // The TOTAL row count rides along on the same tiny frame when asked
    // for (`totalName`): consumers cutting at ceil(cnt·q) would otherwise
    // pay a separate whole-input aggregation job + crossJoin just to
    // learn N — here it's one more window over the numParts-row frame.
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val withTot = totalName.foldLeft(
        perPart.withColumn("_rk_off", coalesce(sum(col("_n")).over(wOff), lit(0L)))) {
      case (acc, t) => acc.withColumn(t, sum(col("_n")).over(wAll))
    }
    // cumSum name → (partial-sum alias, requested grand-total column)
    val sumTotals = cumSums.map(_._1).zip(sumAliases).collect {
      case (name, (a, _)) if cumTotalNames.contains(name) =>
        (a, cumTotalNames(name))
    }
    val withSumTots = sumTotals.foldLeft(withTot) {
      case (acc, (a, tot)) => acc.withColumn(tot, sum(col(a)).over(wAll))
    }
    val offsets = sumAliases.foldLeft(withSumTots) {
        case (acc, (a, _)) =>
          acc.withColumn(s"${a}_off", coalesce(sum(col(a)).over(wOff), lit(0)))
      }
      .select(col("_pid") +: col("_rk_off") +:
        (totalName.map(col).toSeq ++ sumTotals.map { case (_, t) => col(t) } ++
          sumAliases.map { case (a, _) => col(s"${a}_off") }): _*)
    val wLoc = Window.partitionBy(col("_pid")).orderBy(sort: _*)
    val wRun = wLoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = parted.join(broadcast(offsets), Seq("_pid"))
      .withColumn(rankName, col("_rk_off") + row_number().over(wLoc))
    val withSums = cumSums.zip(sumAliases).foldLeft(ranked) {
      case (acc, ((name, e), (a, _))) =>
        acc.withColumn(name, col(s"${a}_off") + sum(e).over(wRun))
    }
    withSums.drop("_pid" +: "_rk_off" +: sumAliases.map { case (a, _) => s"${a}_off" }: _*)
  }

  /** Exact SQL `NTILE(b)` reconstructed from a precomputed global rank:
    * bucket sizes differ by at most one, larger buckets first — the
    * standard semantics both Spark and DuckDB implement — so a two-phase
    * rank plus this formula replaces an unpartitioned ntile window
    * bit-for-bit. `cnt` is the total row count (broadcast scalar).
    */
  def ntileFromRank(rk: Column, cnt: Column, b: Int): Column = {
    val q = floor(cnt / lit(b)).cast("long")       // base bucket size
    val r = (cnt % lit(b)).cast("long")            // buckets holding q+1
    when(rk <= r * (q + lit(1)),
      (floor((rk - lit(1)) / (q + lit(1))) + lit(1)).cast("long"))
      .otherwise(
        (r + floor((rk - r * (q + lit(1)) - lit(1)) / q) + lit(1)).cast("long"))
  }
}
