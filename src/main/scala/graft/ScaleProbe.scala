package graft

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-slope probe: amplifies the sf0.1 tables by an integer factor
  * (key-remapped copies, referential integrity preserved) and times a
  * headline query subset at BOTH scales, printing per-query slopes.
  *
  * Purpose: the driver ships sf0.001/0.01/0.1 only, so sf0.1-level
  * tuning could hide superlinear plans. A slope ≈ factor means the
  * plan's work grows linearly with data at fixed parallelism (what a
  * shuffle-bounded distributed plan should do); a slope ≫ factor flags
  * a quadratic term. Amplified data is measurement-only (never a
  * correctness input — the oracle gate stays on driver data): each copy
  * c shifts every entity key by c·10¹² (preserves mod-5/mod-2 splits
  * like the embeddings held-out fold, keeps joins key-correct, makes
  * copies distinct entities), while dimension tables (nation/region)
  * keep their original keys so FK edges from amplified facts stay valid.
  *
  * Documents are copied with UNCHANGED text: a ×F corpus where every doc
  * has F exact clones is a dup-heavy corpus — the honest stress shape
  * for the dedup/containment family (candidate sets grow ×C(F,2) per
  * clone group, exactly what boilerplate does at 100 TB).
  *
  * Two amplification modes for the EVENTS graph:
  *  - "hotkey" (default): resources copied unchanged, so ×F multiplies
  *    per-resource degree — a hot-key storm. Probes the degree cap's
  *    clamp behavior (the capped pair frame SHRINKS once hot resources
  *    cross the cap), NOT graph growth.
  *  - "strided": resource ids shift by copy·stride exactly like user
  *    ids, so the amplified graph is F DISJOINT clones of the base graph
  *    — per-resource degree distribution preserved, pair frame grows ×F.
  *    This is the mode that answers "does the graph family scale when
  *    the GRAPH grows" (the r7 verdict's missing datapoint). Strided
  *    mode writes events only: the graph family reads nothing else.
  *
  * Usage: runMain graft.ScaleProbe [baseDir] [outDir] [factor] [queries] [mode]
  */
object ScaleProbe {

  /** One headliner per operator family: TPC-H agg/join chains, the
    * event-log behavioral path, ranking, graph, dedup ladder, text
    * scoring, ANN, and the ML feature path.
    */
  val Headliners: Seq[String] = Seq(
    "q1_agg", "q3_join", "q5_join", "q18_large_orders",
    "q_user_features", "q_latest_snapshot", "q_sessionize", "q_rfm",
    "q_pagerank", "q_dedup_minhash_pairs", "q_containment", "q_bm25",
    "q_ann_brute", "q_zscore_anomaly",
    // composites + sketch + text + transition families
    "q_ensemble_vote", "q_heavy_hitters", "q_tfidf", "q_coaccess_pairs",
    // the capped production co-access entry probes alongside the uncapped
    // oracle variant: its slope must stay ≤ factor while uncapped grows
    // quadratically in amplified degree — that contrast IS the point
    "q_coaccess_capped",
    "q_event_transitions", "q_embed_quantize",
    // graph-kernel family (components + peer stats) and HITS
    "q_coaccess_components", "q_peer_anomaly", "q_hits")

  // ×10⁷: >> any base key (all < 2×10⁵ at sf0.1, 50× margin), divisible
  // by 5 and 2 (preserves vec_id%5 fold splits), and factor·stride stays
  // inside the [0, 2³¹) range qCoaccessPairs' packed-long pair key
  // requires for every factor up to 214 (the prior 10⁸ capped factor at
  // 21, too small for the ×30 tail probe).
  private[graft] val Stride = 10000000L

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_scale_x10"
    val factor = if (args.length > 2) args(2).toInt else 10
    val names = if (args.length > 3) args(3).split(",").toSeq else Headliners
    val mode = if (args.length > 4) args(4) else "hotkey"
    val spark = Tables.localSession(Tables.cpus.toString)
    spark.sparkContext.setLogLevel("WARN")
    amplify(spark, baseDir, outDir, factor, mode)
    // iid replica-base estimator (r9 verdict: a content-hash query's base
    // must be the MEAN over the jittered copies, not one draw — each
    // copy's token re-hash samples a different subset of the
    // near-threshold pair reservoir, ±50% per draw, and r9's copy-0 base
    // happened to sit 39% low, inflating q_edit_distance's printed slope
    // 1.63×). Replica r is a single-copy fixture whose draw is exactly
    // the ×F fixture's copy r, so base_mean over all F replicas makes
    // slope = (Σ_r cost_r) / mean_r(cost_r) / F ≈ 1 per construction for
    // a linear plan — timing noise, not draw variance, is the residual.
    val JitterSensitive = Set(
      "q_edit_distance", "q_dedup_minhash", "q_dedup_minhash_pairs",
      "q_dedup_simhash", "q_dedup_simhash_pairs", "q_ngram_jaccard",
      "q_containment", "q_semantic_dedup", "q_embed_neardup",
      "q_minhash_calibration", "q_dedup_clusters", "q_doc_dup_profile",
      "q_dedup_funnel", "q_window_dup", "q_ngram_novelty",
      "q_cross_source_dup", "q_dup_rate_by_source", "q_decontaminate",
      // byte-profile near-dup pairs depend on the per-copy content draw
      // exactly like the shingle families
      "q_media_neardup")
    val nReplicas =
      if (mode == "iid" && names.exists(JitterSensitive)) math.min(factor, 10) else 0
    val replicaDirs = (0 until nReplicas).map(r => s"${outDir}_rep$r")
    replicaDirs.zipWithIndex.foreach { case (d, r) =>
      amplify(spark, baseDir, d, 1, "iid", copyOffset = r)
    }
    // Warm both scales' tables: first-touch footer/page-cache cost must
    // not land on one arbitrary query.
    for (dir <- Seq(baseDir, outDir) ++ replicaDirs) {
      for (t <- Seq("lineitem", "orders", "customer", "supplier", "part",
                    "nation", "region", "documents", "embeddings"))
        try Tables.table(spark, dir, t).foreach(_ => ()) catch { case NonFatal(_) => () }
      try Tables.events(spark, dir).foreach(_ => ()) catch { case NonFatal(_) => () }
    }
    // min over two runs (a GC spike on run 2 must not land directly in
    // the slope; cold = run 1 per query is `Diag time`'s job). Each run
    // materializes every output column: count() lets Spark prune output
    // projections, which can hide a superlinear column from the slope.
    def time(name: String, dir: String): Double =
      (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        Diag.materialize(SparkEntry.queries(name)(spark, dir))
        (System.nanoTime() - t0) / 1e9
      }.min
    // Generator-volume instrumentation (r14 verdict #4): the co-access
    // family's slope defense is "volume grows ×F² on hotkey, wall grows
    // ×F ⇒ sublinear" — emit the measured candidate-pair volume at both
    // scales IN the artifact so that claim is machine-checkable per run.
    val generatorVolume: Map[String, (org.apache.spark.sql.SparkSession, String) => Long] = Map(
      "q_coaccess_pairs" -> ((s, d) =>
        graft.operators.ThreatOps.coaccessGeneratorVolume(s, d, Int.MaxValue)),
      "q_coaccess_jaccard" -> ((s, d) =>
        graft.operators.ThreatOps.coaccessGeneratorVolume(s, d, Int.MaxValue)),
      "q_coaccess_capped" -> ((s, d) =>
        graft.operators.ThreatOps.coaccessGeneratorVolume(s, d,
          graft.operators.ThreatOps.CoaccessMaxDegree)))
    val rows = names.map { n =>
      val useReplicas = nReplicas > 0 && JitterSensitive(n)
      // replica base = mean over the replicas' minima
      val reps = if (useReplicas) replicaDirs.map(d => time(n, d)) else Seq.empty[Double]
      val b = if (useReplicas) reps.sum / reps.size else time(n, baseDir)
      val x = time(n, outDir)
      // measured AFTER the timed runs — the volume aggregation warms
      // nothing the queries read beyond what the table warmup already did
      val vols: Option[(Long, Long)] = generatorVolume.get(n).map { f =>
        (f(spark, baseDir), f(spark, outDir))
      }
      System.err.println(f"[scale] $n%-22s base=$b%7.2fs x$factor=$x%7.2fs slope=${x / b}%5.2f" +
        (if (useReplicas) s" (base=mean of ${reps.size} replicas)" else "") +
        vols.map { case (vb, vx) =>
          f" gen_volume=$vb%d->$vx%d (x${vx.toDouble / math.max(vb, 1)}%.1f)" }.getOrElse(""))
      val replicaFields =
        if (reps.isEmpty) Nil
        else Seq("base_estimator" -> s"mean_of_${reps.size}_replicas", "base_replicas" -> reps)
      val volumeFields = vols.toSeq.flatMap { case (vb, vx) =>
        Seq("generator_volume_base" -> vb, "generator_volume_amplified" -> vx,
          "generator_volume_ratio" -> math.rint(vx.toDouble / math.max(vb, 1) * 10) / 10)
      }
      (n, b, x, ListMap[String, Any]("base" -> b, "amplified" -> x, "slope" -> x / b) ++
        replicaFields ++ volumeFields)
    }
    val totB = rows.map(_._2).sum
    val totX = rows.map(_._3).sum
    println(Json.write(ListMap("metric" -> "scale_slope", "factor" -> factor,
      "base_sf" -> baseDir, "mode" -> mode, "iid_base_replicas" -> nReplicas,
      "total_base" -> totB, "total_amplified" -> totX, "total_slope" -> totX / totB,
      "queries" -> ListMap(rows.map { case (n, _, _, q) => n -> q }: _*))))
    spark.stop()
  }

  /** Writes factor× key-shifted copies of every base table to `outDir`
    * (idempotent: skipped when the marker file exists). Events' ts is
    * written back as int64 nanos so `Tables.events`' nanos loader reads
    * the amplified dir exactly like a driver-generated one.
    *
    * Modes: "hotkey" (copies unchanged — duplication storm), "strided"
    * (events only, resource ids strided — disjoint graph clones), "iid"
    * (strided resources PLUS per-copy content jitter on documents and
    * embeddings — every token of EVERY copy gets its copy suffix, so
    * shingle and token spaces are DISJOINT across copies at preserved
    * length/Zipf shape, and each vector is deterministically perturbed
    * to ~0.85 cosine of its source, below the 0.9 SemDeDup τ). iid is
    * the fixture that separates "the cap saturated under a duplication
    * storm" from "the plan scales": content-blocked candidate sets grow
    * ×F, not ×F², by construction, so a superlinear slope on iid is a
    * real plan property. iid fixtures are measurement-only (slope
    * probes), like every amplified fixture.
    *
    * `copyOffset` shifts the copy-index range to [offset, offset+factor):
    * amplify(…, factor = 1, mode = "iid", copyOffset = r) writes a
    * single-copy REPLICA fixture whose content draw is exactly the ×F
    * fixture's copy r (same token suffix, same vector perturbation, same
    * key stride), which is what lets the probe measure the base as the
    * mean over the very draws the amplified fixture is the sum of —
    * the r9 verdict's fix for the "slope against one low base draw"
    * artifact (every copy's token re-hash samples a different subset of
    * the near-threshold pair reservoir, ±50% per draw).
    *
    * NOTE: iid formerly kept copy 0's content verbatim; jittering every
    * copy makes the fixture a uniform F-draw sample (and matches the
    * replica estimator), so the iid marker name is versioned — a stale
    * copy-0-verbatim fixture can never be silently reused.
    */
  def amplify(spark: SparkSession, baseDir: String, outDir: String, factor: Int,
              mode: String = "hotkey", copyOffset: Int = 0): Unit = {
    require(Set("hotkey", "strided", "iid")(mode), s"unknown mode $mode")
    require(copyOffset == 0 || mode == "iid", "copyOffset is an iid-replica knob")
    val strideResources = mode != "hotkey"
    val suffix = (if (mode == "hotkey") "" else if (mode == "iid") "_iidv2" else s"_$mode") +
      (if (copyOffset != 0) s"_o$copyOffset" else "")
    val marker = new java.io.File(s"$outDir/_AMPLIFIED_x$factor$suffix")
    if (marker.exists()) return
    // A marker from ANOTHER mode/factor validates tables this run is
    // about to overwrite — delete all stale markers first so a later run
    // in the old mode can never skip re-amplification against the wrong
    // fixture (e.g. 'hotkey'-labeled queries silently measuring strided
    // events).
    Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("_AMPLIFIED_"))
      .foreach(_.delete())
    def xF(df: DataFrame, keys: String*): DataFrame = {
      val c = explode(array((copyOffset until copyOffset + factor).map(i => lit(i.toLong)): _*)).as("_copy")
      val withC = df.select(col("*"), c)
      keys.foldLeft(withC) { (acc, k) =>
        acc.withColumn(k, col(k) + col("_copy") * Stride)
      }.drop("_copy")
    }
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    // Strided mode: shift the resource id inside the props JSON by the
    // same per-copy stride as the entity keys (the generator writes
    // integer resources, {"k": 69}), making copy c's bipartite graph
    // disjoint from every other copy's — F clean clones, degree
    // distribution preserved. Rows whose props carry no integral k keep
    // their props verbatim (they're resource-null in every consumer).
    val evBase = xF(Tables.events(spark, baseDir), "event_id", "user_id")
    val ev0 = if (strideResources) {
      val c = explode(array((copyOffset until copyOffset + factor).map(i => lit(i.toLong)): _*)).as("_copy")
      val withC = Tables.events(spark, baseDir).select(col("*"), c)
      val k = get_json_object(col("props"), "$.k").cast("long")
      Seq("event_id", "user_id").foldLeft(withC) { (acc, key) =>
        acc.withColumn(key, col(key) + col("_copy") * Stride)
      }.withColumn("props",
          when(k.isNotNull,
            concat(lit("{\"k\": "), (k + col("_copy") * Stride).cast("string"), lit("}")))
          .otherwise(col("props")))
        .drop("_copy")
    } else evBase
    write(ev0.withColumn("ts", expr("unix_micros(ts) * 1000L")), "events")
    if (mode == "strided") { // graph fixture: the family reads events only
      marker.getParentFile.mkdirs()
      marker.createNewFile()
      return
    }
    // iid: copy c of a document suffixes EVERY token with "_c<c>" — token
    // and shingle spaces are disjoint across copies (no clone storm) at
    // preserved document length profile and within-copy Zipf shape.
    // EVERY copy is jittered, copy 0 included (it gets suffix _c0 and
    // the perturbed vector — the iidv2 semantics the amplify docstring
    // states). n_chars tracks the new text.
    def withCopy(df: DataFrame, keys: String*): DataFrame = {
      val c = explode(array((copyOffset until copyOffset + factor).map(i => lit(i.toLong)): _*)).as("_copy")
      keys.foldLeft(df.select(col("*"), c)) { (acc, k) =>
        acc.withColumn(k, col(k) + col("_copy") * Stride)
      }
    }
    val docs0 = withCopy(Tables.documents(spark, baseDir), "doc_id")
    val docs = if (mode == "iid")
      docs0.withColumn("text",
          regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1_c"), col("_copy").cast("string"))))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .drop("_copy")
    else docs0.drop("_copy")
    write(docs, "documents")
    // iid: copy c of a vector adds a deterministic per-(copy, position)
    // perturbation of amplitude 0.1 per dim — ~0.57 L2 shift on a unit
    // vector, i.e. ~0.85 cosine to its source: a NEW nearby point, not a
    // clone, so pair candidate sets grow ×F, not ×F².
    val emb0 = withCopy(Tables.embeddings(spark, baseDir), "vec_id")
    val emb = if (mode == "iid")
      emb0.withColumn("embedding",
          transform(col("embedding"), (x, i) =>
            (x + sin(col("vec_id").cast("double") * 0.7
              + i.cast("double") * 1.3) * lit(0.1)).cast("float")))
        .drop("_copy")
    else emb0.drop("_copy")
    write(emb, "embeddings")
    write(xF(Tables.customer(spark, baseDir), "c_custkey"), "customer")
    write(xF(Tables.orders(spark, baseDir), "o_orderkey", "o_custkey"), "orders")
    write(xF(Tables.lineitem(spark, baseDir), "l_orderkey", "l_partkey", "l_suppkey"), "lineitem")
    write(xF(Tables.part(spark, baseDir), "p_partkey"), "part")
    write(xF(Tables.supplier(spark, baseDir), "s_suppkey"), "supplier")
    write(Tables.nation(spark, baseDir), "nation")
    write(Tables.region(spark, baseDir), "region")
    marker.getParentFile.mkdirs()
    marker.createNewFile()
    ()
  }
}
