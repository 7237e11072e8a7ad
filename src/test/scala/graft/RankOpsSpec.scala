package graft

import graft.operators.RankOps
import org.apache.spark.sql.functions._

/** Regression guard for the two-phase rank's one scale-dependent failure
  * mode: `repartitionByRange` SAMPLES its input to pick range bounds, and
  * the partitioned frame is consumed twice (offset frame on a broadcast
  * subtree + the main ranked join). Without the localCheckpoint freeze,
  * the two executions sample under different seeds and can pick different
  * bounds — offsets inconsistent with row_numbers ⇒ duplicate + skipped
  * ranks. Below ~sampleSizePerPartition×partitions rows the "sample" is
  * the whole frame and every execution agrees, which is why every small
  * fixture stayed green while the sf0.1 oracle gate caught q_gini's
  * 7,500-row frame. This spec ranks a frame well ABOVE the threshold.
  */
class RankOpsSpec extends SparkSpec {

  test("withGlobalRank is a bijection onto 1..N above the range-sampler threshold") {
    val n = 50000
    // keys deliberately collide (mod groups), so range bounds fall INSIDE
    // tie groups and the id tiebreak must carry uniqueness across the
    // partition boundary — the q_gini shape that exposed the bug.
    val df = spark.range(n.toLong).select(
      (col("id") % 977).as("k"), col("id").as("id"))
    val ranked = RankOps.withGlobalRank(df, "grk",
      Seq(col("k"), col("id")))
    val rows = ranked.select(col("k"), col("id"), col("grk")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._3)
    assert(rows.length === n)
    assert(rows.map(_._3).toSeq === (1L to n.toLong), "ranks must be exactly 1..N")
    val keysInRankOrder = rows.map(r => (r._1, r._2)).toSeq
    assert(keysInRankOrder === keysInRankOrder.sorted,
      "rank order must equal sort-key order")
  }

  test("withGlobalRank running sums and totals stay exact above the threshold") {
    val n = 20000
    val df = spark.range(n.toLong).select(
      (col("id") % 311).as("k"), col("id").as("id"), lit(1L).as("w"))
    val ranked = RankOps.withGlobalRank(df, "grk",
      Seq(col("k"), col("id")), cumSums = Seq("cw" -> col("w")),
      totalName = Some("tot"),
      cumTotalNames = Map("cw" -> "cw_tot"))
    val rows = ranked.select(col("grk"), col("cw"), col("tot"), col("cw_tot"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // w ≡ 1 ⇒ the running sum must equal the rank itself, row by row
    assert(rows.forall { case (rk, cw, _, _) => rk === cw })
    assert(rows.forall { case (_, _, tot, cwTot) => tot === n.toLong && cwTot === n.toLong })
  }
}
