package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components via Pregel-style min-label
  * propagation — the shared kernel behind the near-dup cluster query
  * ([[DedupOps.qDedupClusters]]) and the co-access ring query
  * ([[ThreatOps.qCoaccessComponents]]).
  *
  * Each round is one edge-keyed join + node-keyed min aggregate; labels
  * are localCheckpointed so lineage stays flat across rounds, and
  * convergence is detected by the monotonically decreasing label sum —
  * ONE scalar to the driver per round, never the data. Rounds needed =
  * component diameter (graph-dependent, small for the dense components
  * both consumers see); the safety valve guards against a pathological
  * path graph rather than bounding real workloads.
  */
object GraphOps {

  /** [[minLabelPropagation]]'s round cap (see the object doc). */
  val MaxLabelRounds = 100

  /** Min-label propagation over an UNDIRECTED edge list given as a
    * `(src, dst)` frame already symmetrized by the caller (both
    * directions present). Returns `(id, lbl)` for every node appearing
    * in an edge, with `lbl` converged to the component minimum. The
    * caller should localCheckpoint `edges` first if its lineage is
    * expensive — every round re-reads it.
    */
  def minLabelPropagation(edges: DataFrame): DataFrame = {
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id")).localCheckpoint()
    def lblSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("lbl")), lit(0L))).first().getLong(0)
    var prevSum = Long.MaxValue
    var curSum = lblSum(labels)
    var rounds = 0
    while (curSum < prevSum && rounds < MaxLabelRounds) {
      val nbrMin = edges.join(labels, col("dst") === col("id"))
        .groupBy(col("src")).agg(min(col("lbl")).as("nbr_lbl"))
      labels = labels.join(nbrMin, col("id") === col("src"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nbr_lbl"), col("lbl"))).as("lbl"))
        .localCheckpoint()
      prevSum = curSum
      curSum = lblSum(labels)
      rounds += 1
    }
    // Never exit un-converged: labels past the cap would carry
    // non-minimal component ids (two "survivors" in one component), and
    // a Memo would serve the wrong labels for the rest of the session.
    if (curSum < prevSum)
      throw new IllegalStateException("minLabelPropagation: hit " +
        s"$MaxLabelRounds rounds before convergence — component diameter " +
        "exceeds the cap; raise MaxLabelRounds or check the edge set")
    labels
  }

  /** Bounded-round k-core peel over a symmetrized `(src, dst)` edge
    * list: each round drops every node of degree < k and the edges
    * touching it, until a fixpoint or `rounds` rounds — whichever comes
    * first. Returns the surviving edge frame.
    *
    * Each round probes convergence from the degree aggregate ALONE
    * before building anything: one node-keyed count + a two-scalar
    * rollup (total nodes, surviving nodes) to the driver. Every node in
    * the aggregate carries ≥ 1 edge, so "every node survives" ⟺ "this
    * round drops nothing" — PROVIDED every dst also appears as a src
    * (degrees are counted src-side; a dst-only node has no degree row
    * and would still be peeled by the dst semi-join). A caller that
    * BUILDS its frame symmetrized (both directions unioned — every
    * current caller does) passes `assumeSymmetric = true` and keeps
    * the zero-edge-scan early exit; under the SAFE DEFAULT (`false`)
    * every candidate-converged round runs a distinct-dst anti-join
    * probe over two map-side-combined node sets and falls back to a
    * real peel round if dst-only nodes exist (a fallback peel can
    * strand NEW dst-only nodes, so the probe may fire more than once
    * per call — its cost bound is once per candidate-converged round),
    * so the r-round unrolled-oracle equivalence holds for ANY edge
    * frame without silently trusting the caller. A converged round on
    * the symmetric path therefore costs one
    * map-side-combined aggregate instead of two semi-joins plus a full
    * edge-frame materialization (the r10 ×30 probe measured that
    * difference as the peel's entire superlinear tail: the no-op
    * confirming round was writing a second 67M-row checkpoint copy and
    * pushing the local block manager into eviction). Rounds that DO
    * peel run the two shuffle-hash semi-joins (build = the provably
    * smaller survivor side; the edge frame streams — without the hint
    * the planner flips to sort-merge exactly where the survivor set
    * crosses the broadcast threshold and sorts the edges twice per
    * round) and localCheckpoint the result so lineage stays flat. No
    * entry checkpoint: the caller hands a cached/cheap frame, and a
    * checkpoint here would materialize a second full copy of it.
    *
    * The round bound is part of the OPERATOR's semantics (an
    * "r-round peel"), not a safety valve: an oracle can replay exactly
    * `rounds` unrolled iterations, and because peeling is monotone
    * (rounds after the fixpoint are no-ops) early exit here never
    * diverges from the oracle's fixed unrolling.
    */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int,
      assumeSymmetric: Boolean = false): DataFrame = {
    var e = edges
    var converged = false
    var r = 0
    while (!converged && r < rounds) {
      val degs = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val probe = degs.agg(count(lit(1)),
        coalesce(sum(when(col("deg") >= k, 1L).otherwise(0L)), lit(0L))).first()
      val (nNodes, nKeep) = (probe.getLong(0), probe.getLong(1))
      // Src-side degrees alone prove "this round drops nothing" only
      // when every dst also appears as a src. A node appearing ONLY as
      // dst has no degree row, is absent from the keep set, and the dst
      // semi-join would still peel it — so unless the caller vouches for
      // a symmetrized frame, each candidate-converged round verifies no
      // dst-only nodes exist before taking the early exit; asymmetric
      // frames fall through to a real peel round whose dst semi-join
      // removes the dst-only edges (and may strand NEW dst-only nodes,
      // so the probe can fire again on the next candidate convergence).
      // assumeSymmetric = true skips the probe so the converged round
      // stays edge-scan-free (the r10 scale fix).
      val symOk = nKeep == nNodes && (assumeSymmetric || {
        e.select(col("dst").as("_d")).distinct()
          .join(e.select(col("src")).distinct().hint("shuffle_hash"),
            col("_d") === col("src"), "left_anti")
          .isEmpty
      })
      if (symOk) converged = true
      else {
        val keep = degs.filter(col("deg") >= k).select(col("src").as("keep_id"))
        e = e.join(keep.hint("shuffle_hash"), col("src") === col("keep_id"), "left_semi")
          .join(keep.hint("shuffle_hash"), col("dst") === col("keep_id"), "left_semi")
          .localCheckpoint()
      }
      r += 1
    }
    e
  }
}
