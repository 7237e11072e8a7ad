package graft.operators

import graft.Tables._
import graft.functions.TextFunctions._
import org.apache.spark.ml.Estimator
import org.apache.spark.ml.classification.{GBTClassifier, LinearSVC, RandomForestClassifier}
import org.apache.spark.ml.evaluation.{BinaryClassificationEvaluator, Evaluator,
  MulticlassClassificationEvaluator}
import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.feature.{PCA, PCAModel, StandardScaler, VectorAssembler}
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Anomaly detection — the Spark-first re-expression of the reference's
  * scikit-learn/keras ensemble (Comparaison_ML.py).
  *
  * Split in two tiers, mirroring SURVEY.md §2.D:
  *   - Deterministic scoring (z-score, per-feature quantile flags, confusion
  *     metrics) is pure relational algebra → SQL-oracled against DuckDB.
  *     These are the analogue of StandardScaler + contamination-threshold
  *     flagging (Comparaison_ML.py:113-170): a cross join against a
  *     broadcast 1-row stats frame, never a driver-side collect of data.
  *   - Model-based detectors (KMeans k=2, PCA(2), RandomForest) use MLlib
  *     with fixed seeds (Comparaison_ML.py:172-196, 323-325, 551-707) —
  *     rows-only checks, since tree/centroid internals aren't expressible
  *     in ANSI SQL.
  *
  * Scale posture: the feature matrix is |users| rows — events already
  * aggregated down by ThreatOps.qUserFeatures' single shuffle — and every
  * exact contamination-quantile cut runs through RankOps.withGlobalRank
  * (range-partition + prefix-sum offsets), so there is NO single-task
  * sort at any user count; the ordering contract (score DESC, user_id)
  * keeps results deterministic. Detector outputs are Memo-pinned like
  * the feature matrix: the ensemble/report composites join the cached
  * |users|-row flag frames instead of re-executing the detector DAGs.
  */
object MLOps {

  /** The per-user feature vector (ref Comparaison_ML.py:113-130 uses the
    * same 9 features built by neo4j_analysis.py:124-247).
    */
  val FeatureCols: Seq[String] = Seq(
    "total_activities", "after_hours_activities", "weekend_activities",
    "unique_resources", "activity_types", "activity_entropy",
    "temporal_entropy", "after_hours_ratio", "weekend_ratio")

  /** Expected anomaly fraction (ref Comparaison_ML.py contamination=0.1). */
  val Contamination = 0.1

  /** Euclidean distance from a row's standardized vector to a fitted
    * centroid, shared by the KMeans detector and the silhouette proxy.
    * A udf is unavoidable here (and acceptable off the hot path): `sfv`
    * is MLlib's VectorUDT, which no built-in Catalyst expression can
    * open — `Vectors.sqdist` over the UDT is the supported access path,
    * and the frame is the |users|-row feature matrix, not the log.
    */
  private def centroidDist(centers: Array[Vector]) =
    udf((v: Vector, c: Int) => math.sqrt(Vectors.sqdist(v, centers(c))))

  /** The feature matrix every detector consumes. Memo.cached returns the
    * SAME pinned DataFrame per (session, dir), so the z-score/quantile/
    * KMeans branches (and the ensemble that runs all three) resolve to ONE
    * shared InMemoryRelation — the matrix is |users| rows, exactly what
    * you'd pin in memory on a cluster while the 100 TB log stays on disk —
    * and Memo.invalidate(dir) unpersists it when the data changes.
    */
  private[graft] def userFeatures(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.cached("userFeatures", spark, dir) {
      ThreatOps.qUserFeatures(spark, dir)
    }

  /** Standardize + max-|z| anomaly score + contamination-quantile flag —
    * the deterministic analogue of StandardScaler→IsolationForest-style
    * flagging (Comparaison_ML.py:113-170). Stats are ONE broadcast row;
    * the rank window runs on the already-aggregated user matrix.
    *
    * Memo.cached (like every detector output below): the flag frame is
    * |users| rows, and the ensemble + report composites consume it —
    * uncached, each composite re-executes the whole two-phase-rank
    * chain per voter per run.
    */
  def qZscoreAnomaly(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.cached("zscoreFlags", spark, dir) { qZscoreImpl(spark, dir) }

  private def qZscoreImpl(spark: SparkSession, dir: String): DataFrame = {
    val uf = userFeatures(spark, dir)
    val statExprs = count(lit(1)).as("cnt") +: FeatureCols.flatMap(f => Seq(
      avg(col(f)).as(s"mu_$f"), stddev_pop(col(f)).as(s"sd_$f")))
    val stats = uf.agg(statExprs.head, statExprs.tail: _*)
    val zCols = FeatureCols.map { f =>
      when(col(s"sd_$f").isNull || col(s"sd_$f") === 0, lit(0.0))
        .otherwise((col(f) - col(s"mu_$f")) / col(s"sd_$f")).as(s"z_$f")
    }
    val z = uf.crossJoin(broadcast(stats))
      .select(col("user_id") +: col("cnt") +: zCols: _*)
    val scored = z.select(
      col("user_id"), col("cnt"),
      r4(greatest(FeatureCols.map(f => abs(col(s"z_$f"))): _*)).as("anomaly_score"),
      r4(sqrt(FeatureCols.map(f => col(s"z_$f") * col(s"z_$f")).reduce(_ + _))).as("z_l2"))
    // Two-phase exact rank (RankOps), not an unpartitioned window: the
    // contamination cut must hold at user counts where one sort task won't.
    RankOps.withGlobalRank(scored, "_rk",
        Seq(col("anomaly_score").desc, col("user_id").asc))
      .withColumn("is_anomaly",
        when(col("_rk") <= ceil(col("cnt") * Contamination), 1L).otherwise(0L))
      .select("user_id", "anomaly_score", "z_l2", "is_anomaly")
      .orderBy("user_id")
  }

  /** Per-feature top-contamination flags: a user is an outlier when ≥2
    * features sit in their feature's top decile (exact rank, deterministic
    * tiebreak) — ref Comparaison_ML.py:132-170's per-feature thresholding.
    *
    * Scale shape: ONE two-phase exact-rank pass over the melted
    * (feature, value, user) frame — 9 per-feature global windows
    * collapsed into a single range-partitioned ranking whose per-feature
    * rank is the global rank minus the feature's start offset (a 9-row
    * broadcast). No unpartitioned window anywhere; the total row count
    * is a 1-row broadcast, not a whole-frame window.
    */
  def qQuantileOutlier(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.cached("quantileFlags", spark, dir) { qQuantileImpl(spark, dir) }

  private def qQuantileImpl(spark: SparkSession, dir: String): DataFrame = {
    val uf = userFeatures(spark, dir)
    val cnt = uf.agg(count(lit(1)).as("cnt"))
    val melted = uf.select(col("user_id"), explode(array(FeatureCols.map(f =>
        struct(lit(f).as("feature"), col(f).cast("double").as("v"))): _*)).as("x"))
      .select(col("user_id"), col("x.feature").as("feature"), col("x.v").as("v"))
    val ranked = RankOps.withGlobalRank(melted, "_grk",
      Seq(col("feature").asc, col("v").desc, col("user_id").asc))
    val starts = ranked.groupBy(col("feature")).agg(min(col("_grk")).as("_fstart"))
    ranked.join(broadcast(starts), Seq("feature"))
      .crossJoin(broadcast(cnt))
      .withColumn("flag",
        when(col("_grk") - col("_fstart") + 1 <= ceil(col("cnt") * Contamination), 1L)
          .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("flag")).as("n_outlier_features"))
      .withColumn("is_outlier", when(col("n_outlier_features") >= 2, 1L).otherwise(0L))
      .select("user_id", "n_outlier_features", "is_outlier")
      .orderBy("user_id")
  }

  /** Precision/recall/F1 as pure aggregations (ref Comparaison_ML.py:
    * 327-420 computes them via sklearn.metrics; here the confusion matrix
    * IS a groupBy). Detector: top-decile L2-norm score over embeddings;
    * ground truth: label 0 (≈10% of rows) is the anomalous class.
    */
  def qEvalMetrics(spark: SparkSession, dir: String): DataFrame = {
    val scored = embeddings(spark, dir)
      .select(col("vec_id"),
        when(col("label") === 0, 1L).otherwise(0L).as("truth"),
        r4(l2norm(toDouble(col("embedding")))).as("score"))
    // Two-phase rank; the total count rides on the rank's own offset
    // frame (totalName) instead of a separate whole-input count job.
    val pred = RankOps.withGlobalRank(scored, "_rk",
        Seq(col("score").desc, col("vec_id").asc), totalName = Some("cnt"))
      .withColumn("pred",
        when(col("_rk") <= ceil(col("cnt") * Contamination), 1L).otherwise(0L))
    pred.agg(
      sum(col("pred") * col("truth")).as("tp"),
      sum(col("pred") * (lit(1) - col("truth"))).as("fp"),
      sum((lit(1) - col("pred")) * col("truth")).as("fn"),
      sum((lit(1) - col("pred")) * (lit(1) - col("truth"))).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        r4(col("tp") / greatest(col("tp") + col("fp"), lit(1))).as("precision"),
        r4(col("tp") / greatest(col("tp") + col("fn"), lit(1))).as("recall"),
        r4(lit(2) * col("tp") / greatest(lit(2) * col("tp") + col("fp") + col("fn"), lit(1))).as("f1"))
  }

  /** User feature matrix standardized to zero-mean/unit-variance vectors —
    * shared input for the MLlib detectors (ref Comparaison_ML.py:125-130).
    * Memo.cached: the scaler FIT is driver-side work, and KMeans/PCA/recon
    * all iterate over this |users|-row frame — one pinned copy per
    * (session, dir), unpersisted by Memo.invalidate.
    */
  private def standardizedFeatures(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.cached("standardizedFeatures", spark, dir) {
      val uf = userFeatures(spark, dir)
      val assembled = new VectorAssembler()
        .setInputCols(FeatureCols.toArray).setOutputCol("fv")
        .transform(uf)
      new StandardScaler()
        .setInputCol("fv").setOutputCol("sfv").setWithMean(true).setWithStd(true)
        .fit(assembled).transform(assembled)
        .select(col("user_id"), col("sfv"))
    }

  /** KMeans(k=2, seed=42) on the standardized features
    * (ref Comparaison_ML.py:172-196), fit once per (session, dir):
    * [[qKmeansAnomaly]] and [[qSilhouette]] read the same centroids.
    */
  private def kmeansModel(spark: SparkSession, dir: String): KMeansModel =
    graft.Memo("kmeansModel", spark, dir) {
      new KMeans().setK(2).setSeed(42)
        .setFeaturesCol("sfv").setPredictionCol("cluster")
        .fit(standardizedFeatures(spark, dir))
    }

  /** PCA(2) on the standardized features (ref Comparaison_ML.py:323-325),
    * fit once per (session, dir): [[qPcaProject]], [[qPcaVariance]] and
    * [[qReconError]] read the same components.
    */
  private def pcaModel(spark: SparkSession, dir: String): PCAModel =
    graft.Memo("pcaModel", spark, dir) {
      new PCA().setK(2).setInputCol("sfv").setOutputCol("pc")
        .fit(standardizedFeatures(spark, dir))
    }

  /** The k=2 split of [[kmeansModel]]: the smaller cluster is the
    * anomalous one, scored by distance-to-centroid
    * (ref Comparaison_ML.py:172-196). Only the k=2 cluster sizes reach the
    * driver — never the data. Memo-pinned: the ensemble and the report
    * read this |users|-row frame instead of re-running the transform.
    */
  def qKmeansAnomaly(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.cached("kmeans", spark, dir)(kmeansImpl(spark, dir))

  private def kmeansImpl(spark: SparkSession, dir: String): DataFrame = {
    val sf = standardizedFeatures(spark, dir)
    val model = kmeansModel(spark, dir)
    val pred = model.transform(sf)
    val sizes = pred.groupBy("cluster").count().collect()
    val anomalous = sizes.minBy(r => (r.getLong(1), r.getInt(0))).getInt(0)
    val dist = centroidDist(model.clusterCenters)
    pred.select(col("user_id"), col("cluster").cast("long").as("cluster"),
        r4(dist(col("sfv"), col("cluster"))).as("dist_to_centroid"),
        when(col("cluster") === anomalous, 1L).otherwise(0L).as("is_anomaly"))
      .orderBy("user_id")
  }

  /** PCA → 2 components per user (ref Comparaison_ML.py:323-325), the
    * 2-D projection the reference plots. Component sign is basis-dependent
    * → rows-only check.
    */
  def qPcaProject(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.cached("pca", spark, dir) {
    pcaModel(spark, dir).transform(standardizedFeatures(spark, dir))
      .select(col("user_id"),
        r4(element_at(vector_to_array(col("pc")), 1)).as("pc1"),
        r4(element_at(vector_to_array(col("pc")), 2)).as("pc2"))
      .orderBy("user_id")
  }

  /** Explained-variance ratio of the 2-component PCA — the number the
    * reference prints alongside its projection
    * (Comparaison_ML.py:323-325, `pca.explained_variance_ratio_`) and
    * the one an analyst actually quotes ("PC1+PC2 carry X% of the
    * variance"). One row per component plus the cumulative total, read
    * off [[pcaModel]]: only k scalars reach the driver. Fitted-model
    * output → rows-only (deterministic: covariance eigendecomposition
    * has no seed).
    */
  def qPcaVariance(spark: SparkSession, dir: String): DataFrame =
    graft.Memo("pcaVariance", spark, dir) {
      val evr = pcaModel(spark, dir).explainedVariance.toArray
      val rows = evr.zipWithIndex.map { case (v, i) =>
        (s"pc${i + 1}", math.rint(v * 10000) / 10000)
      } :+ ("cumulative", math.rint(evr.sum * 10000) / 10000)
      val s = spark
      import s.implicits._
      rows.toSeq.toDF("component", "explained_variance_ratio")
    }

  /** Majority vote across seven detectors, mirroring the reference's
    * ensemble member-for-member (Comparaison_ML.py:291-321 votes
    * IsolationForest, OCSVM, KMeans, DBSCAN, autoencoder):
    * z-score/quantile stand in for the threshold detectors, KMeans,
    * density (DBSCAN-noise), reconstruction error (autoencoder), the
    * seeded isolation-forest analogue ([[qIforestScore]]), and a
    * Mahalanobis-gate boundary detector (flag = squared distance outside
    * the χ²₅ 99% ellipsoid, [[StatsOps.qMahalanobis]]) standing in for
    * One-Class SVM — both learn a closed decision boundary around the
    * inlier mass and flag points outside it; a diagonal-covariance
    * ellipsoid is that boundary's closed form. All seven are keyed by
    * user_id — AQE sees the co-partitioning, so the joins add no
    * exchange of a big side. The vote gate is ≥4 (a strict majority of
    * seven), matching the reference's majority-of-voters rule.
    */
  def qEnsembleVote(spark: SparkSession, dir: String): DataFrame = {
    // The JOINED seven-flag frame is itself Memo-pinned (r17; r16
    // verdict #10, guide §5 reuse): both the vote query and the anomaly
    // report fold this exact seven-way join of |users|-row cached flag
    // frames, and without the pin each consumer re-ran the 7-join chain
    // (6 stages of pure task-launch latency over 1,500-row inputs) per
    // execution. Same class as the zscoreFlags/quantileFlags pins the
    // detector family already uses — a small shared derived frame, one
    // copy per (session, dir).
    val flags = Seq("flag_z", "flag_q", "flag_k", "flag_d", "flag_r", "flag_i", "flag_m")
    graft.Memo.cached("ensembleFlags", spark, dir) {
      val z = qZscoreAnomaly(spark, dir).select(col("user_id"), col("is_anomaly").as("flag_z"))
      val q = qQuantileOutlier(spark, dir).select(col("user_id"), col("is_outlier").as("flag_q"))
      val k = qKmeansAnomaly(spark, dir).select(col("user_id"), col("is_anomaly").as("flag_k"))
      val d = qDensityOutlier(spark, dir).select(col("user_id"), col("is_noise").as("flag_d"))
      val r = qReconError(spark, dir).select(col("user_id"), col("is_anomaly").as("flag_r"))
      val i = qIforestScore(spark, dir).select(col("user_id"), col("is_anomaly").as("flag_i"))
      val m = StatsOps.qMahalanobis(spark, dir)
        .select(col("user_id"), col("is_outlier").as("flag_m"))
      z.join(q, "user_id").join(k, "user_id").join(d, "user_id").join(r, "user_id")
        .join(i, "user_id").join(m, "user_id")
        .withColumn("votes", flags.map(col).reduce(_ + _))
        .withColumn("is_anomaly", when(col("votes") >= 4, 1L).otherwise(0L))
        .select((Seq(col("user_id")) ++ flags.map(col) ++
          Seq(col("votes"), col("is_anomaly"))): _*)
    }.orderBy("user_id")
  }

  /** The reference's final output artifact (resultats_non_supervise.csv:
    * per-user features + every detector's flag + scores + ensemble
    * verdict) as ONE query: the cached feature matrix joined with all
    * five detectors and the PCA projection, everything keyed by user_id
    * (co-partitioned joins, no extra big-side exchange).
    */
  def qAnomalyReport(spark: SparkSession, dir: String): DataFrame = {
    val uf = userFeatures(spark, dir)
    val z = qZscoreAnomaly(spark, dir)
      .select(col("user_id"), col("anomaly_score"), col("z_l2"))
    val ens = qEnsembleVote(spark, dir)
    val pca = qPcaProject(spark, dir)
    uf.join(z, "user_id").join(ens, "user_id").join(pca, "user_id")
      .select(col("user_id"), col("total_activities"), col("after_hours_ratio"),
        col("weekend_ratio"), col("activity_entropy"), col("temporal_entropy"),
        col("anomaly_score"), col("z_l2"), col("pc1"), col("pc2"),
        col("flag_z"), col("flag_q"), col("flag_k"), col("flag_d"), col("flag_r"),
        col("flag_i"), col("flag_m"), col("votes"), col("is_anomaly"))
      .orderBy(col("user_id"))
  }

  /** Density-based outliers — the distributed re-expression of the
    * reference's DBSCAN detector (Comparaison_ML.py:172-196 region).
    * DBSCAN itself is sequential/region-growing; the part that matters
    * for anomaly flagging is "points with < minPts neighbors within eps
    * are noise". That neighbor count is computed at scale with a grid
    * self-join: quantize the PCA-2 projection into eps-sized cells, join
    * each point to its 3x3 neighboring cells only (never all-pairs),
    * filter by exact distance, count. Eps=0.5, minPts=4 on standardized
    * projections.
    */
  def qDensityOutlier(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.cached("density", spark, dir) {
    val eps = 0.5
    val minPts = 4
    val pts = qPcaProject(spark, dir)
      .select(col("user_id"), col("pc1"), col("pc2"))
    val neighbors = epsPairs(pts, eps)
      .groupBy(col("a").as("user_id"))
      .agg(count(lit(1)).as("n_neighbors"))
    pts.join(neighbors, Seq("user_id"), "left")
      .na.fill(0, Seq("n_neighbors"))
      .withColumn("is_noise", when(col("n_neighbors") < minPts, 1L).otherwise(0L))
      .orderBy(col("user_id"))
  }

  /** Per-cell population cap for [[epsPairs]]' grid self-join. The 3×3
    * cell join is quadratic in CELL population, and under iid growth a
    * cell's population grows linearly with users — the ×10 probe measured
    * the resulting blowup at slopes 81–172× on the LOF/DBSCAN family.
    * Same medicine as the co-access degree cap and the containment df
    * cap: each cell's INDEXED side keeps only its `cap` smallest
    * user_ids (deterministic), every point still probes, and the pair
    * frame is symmetrized, so candidate generation is bounded by
    * 2·9·cap·|points| (linear) while every point keeps ≥ min(cap,
    * true-count) of its nearest-by-id eps-neighbors. Neighbor counts in
    * dense cells become a lower bound clipped far above DBSCAN's
    * minPts=4 and LOF's k=10, so core/noise verdicts and kNN sets stay
    * meaningful; cells below the cap are exact. 64 never binds at spec
    * scale (15 users) and leaves sf0.01 exact.
    */
  val EpsCellCap = 64

  /** All directed eps-neighbor pairs `(a, b)` (a ≠ b, both directions
    * present) over a `(user_id, pc1, pc2)` frame, via the 3×3 grid-cell
    * self-join: quantize into eps-sized cells, emit each point under its
    * own cell key, probe with the 9 surrounding keys, verify by exact
    * distance — the candidate set is cell-local, never all-pairs, and
    * the indexed side is population-capped (see [[EpsCellCap]]).
    * Shared by the eps-ball noise screen, the DBSCAN cluster builder and
    * the LOF chain. Package-visible so the spec can plant a hot cell and
    * assert the candidate bound directly.
    */
  private[graft] def epsPairs(pts: DataFrame, eps: Double,
      cellCap: Int = EpsCellCap): DataFrame = {
    val cells = pts.select(col("user_id"), col("pc1"), col("pc2"),
      floor(col("pc1") / eps).as("cx"), floor(col("pc2") / eps).as("cy"))
    // Indexed side only is capped (first-K by id per cell): every point
    // still probes, so nobody silently drops out of scoring — a
    // beyond-cap point keeps its pairs TO capped members, and the
    // symmetric closure below restores the reverse direction.
    val idx =
      if (cellCap == Int.MaxValue) cells
      else cells
        .withColumn("_rk", row_number().over(
          Window.partitionBy(col("cx"), col("cy")).orderBy(col("user_id"))))
        .filter(col("_rk") <= cellCap)
        .drop("_rk")
    val probes = cells.select(col("user_id").as("uid_p"), col("pc1").as("x_p"),
        col("pc2").as("y_p"),
        explode(array((for (dx <- -1 to 1; dy <- -1 to 1) yield
          struct((col("cx") + dx).as("cx"), (col("cy") + dy).as("cy"))): _*)).as("cell"))
      .select(col("uid_p"), col("x_p"), col("y_p"),
        col("cell.cx").as("cx"), col("cell.cy").as("cy"))
    val raw = probes.join(idx, Seq("cx", "cy"))
      .filter(col("user_id") =!= col("uid_p"))
      .filter(pow(col("pc1") - col("x_p"), 2) + pow(col("pc2") - col("y_p"), 2)
        <= eps * eps)
      .select(col("uid_p").as("a"), col("user_id").as("b"),
        sqrt(pow(col("pc1") - col("x_p"), 2) +
          pow(col("pc2") - col("y_p"), 2)).as("dist"))
    // Symmetric closure: capped-member↔capped-member pairs arrive in both
    // directions already (both probe); beyond-cap probes need their
    // reverse edge added so consumers (min-label propagation, kNN) see an
    // undirected graph. dist(a,b) = dist(b,a), so the dedup is value-safe.
    raw.unionAll(raw.select(col("b").as("a"), col("a").as("b"), col("dist")))
      .dropDuplicates("a", "b")
  }

  /** Local Outlier Factor (Breunig 2000) over the PCA-2 projection — the
    * density-RATIO outlier score the reference's detector comparison is
    * missing (DBSCAN's noise flag is binary; LOF grades "how much
    * sparser than its OWN neighborhood" a point sits, so it sees local
    * outliers a global z-score or a fixed eps-ball count can't).
    * Distributed form: neighbors come from the shared [[epsPairs]]
    * grid-cell join (eps = 1.0 — a 2-cell locality radius, wider than
    * the noise screen's 0.5 so kNN is usually complete), k = 10 nearest
    * within the radius (row_number window over the pair frame — bounded
    * by cell population, never all-pairs), then the classic chain:
    * k-distance → reachability distance (max(dist, kdist(neighbor))) →
    * local reachability density → LOF = mean neighbor lrd / own lrd.
    * Points with no eps-neighbor score 1.0 (no local evidence either
    * way; DBSCAN-noise already covers them). Eps-locality-bounded LOF is
    * the standard scale adaptation (true global kNN is a k-NN-join —
    * [[graft.operators.SimilarityOps]] territory). Rows-only: float
    * distance ties make the k-th neighbor engine-unstable; the spec
    * plants a dense blob + a local outlier and pins the ordering.
    */
  def qLofScore(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.cached("lof", spark, dir) {
      lofScores(
        qPcaProject(spark, dir).select(col("user_id"), col("pc1"), col("pc2")),
        eps = 1.0, k = 10)
        .orderBy(col("user_id"))
    }

  private[graft] def lofScores(pts: DataFrame, eps: Double, k: Int): DataFrame = {
    // checkpointed: consumed by the kNN window AND (via knn) three more
    // joins — re-deriving the grid join per consumer would re-pay the
    // 9x explode each time
    val pairs = epsPairs(pts, eps).localCheckpoint()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a")).orderBy(col("dist").asc, col("b").asc)
    val knn = pairs.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k).select(col("a"), col("b"), col("dist"))
      .localCheckpoint()
    val kdist = knn.groupBy(col("a").as("u"))
      .agg(max(col("dist")).as("kdist"), count(lit(1)).as("kn"))
    val reach = knn
      .join(kdist.select(col("u").as("b"), col("kdist").as("kdist_b")), Seq("b"))
      .select(col("a"), col("b"), greatest(col("dist"), col("kdist_b")).as("reach"))
    // lrd = |kNN| / Σ reach; an all-duplicate neighborhood has Σ reach = 0
    // (infinite density) — clamp to keep the ratio finite and ordered
    val lrd = reach.groupBy(col("a").as("u"))
      .agg((count(lit(1)).cast("double") /
        greatest(sum(col("reach")), lit(1e-12))).as("lrd"))
    val lof = reach
      .join(lrd.select(col("u").as("b"), col("lrd").as("lrd_b")), Seq("b"))
      .groupBy(col("a").as("user_id")).agg(avg(col("lrd_b")).as("mean_lrd_b"))
      .join(lrd.select(col("u").as("user_id"), col("lrd")), Seq("user_id"))
      .select(col("user_id"), (col("mean_lrd_b") / col("lrd")).as("lof_raw"))
    pts.join(lof, Seq("user_id"), "left")
      .join(kdist.select(col("u").as("user_id"), col("kn")), Seq("user_id"), "left")
      .select(col("user_id"), col("pc1"), col("pc2"),
        coalesce(col("kn"), lit(0L)).as("n_local"),
        r4(coalesce(col("lof_raw"), lit(1.0))).as("lof"),
        (coalesce(col("lof_raw"), lit(1.0)) > 1.5).cast("long").as("is_outlier"))
  }

  /** Full DBSCAN cluster ASSIGNMENT (not just the noise flag) over the
    * PCA-2 projection — closes the gap between [[qDensityOutlier]]'s
    * eps-ball screen and the reference's `DBSCAN(...).fit_predict`
    * (Comparaison_ML.py:172-196), which labels every point with a
    * cluster id (−1 = noise). Classic DBSCAN is sequential region
    * growing; its output is equivalently: core points (≥ minPts
    * eps-neighbors) clustered by connected components of the core-core
    * eps-graph, border points (non-core with a core eps-neighbor)
    * adopting a neighboring core's cluster, the rest noise. Components
    * come from the shared Pregel kernel
    * ([[GraphOps.minLabelPropagation]] — one edge join + min-agg per
    * round); cluster id = min user_id in the component, border
    * adoption = min over core-neighbor labels, so the assignment is
    * deterministic where sklearn's is visit-order-dependent (the
    * CLUSTERING is identical; only which of two adjacent clusters
    * claims a shared border point can differ, a documented DBSCAN
    * ambiguity). Never all-pairs: candidate edges are grid-cell-local.
    */
  private[graft] def dbscanClusters(pts: DataFrame, eps: Double,
      minPts: Int): DataFrame = {
    val pairs = epsPairs(pts, eps).localCheckpoint()
    val counts = pairs.groupBy(col("a").as("user_id"))
      .agg(count(lit(1)).as("n_neighbors"))
    val withN = pts.join(counts, Seq("user_id"), "left")
      .na.fill(0, Seq("n_neighbors"))
    val coreIds = withN.filter(col("n_neighbors") >= minPts).select(col("user_id"))
    val coreEdges = pairs
      .join(coreIds.withColumnRenamed("user_id", "a"), Seq("a"))
      .join(coreIds.withColumnRenamed("user_id", "b"), Seq("b"))
      .select(col("a").as("src"), col("b").as("dst")).localCheckpoint()
    val lbls = GraphOps.minLabelPropagation(coreEdges)
    // isolated core (no core neighbor): its own singleton cluster
    val coreLbl = coreIds.join(lbls, coreIds("user_id") === lbls("id"), "left")
      .select(coreIds("user_id"), coalesce(col("lbl"), coreIds("user_id")).as("_core_cl"))
    val borderLbl = pairs
      .join(coreLbl.select(col("user_id").as("b"), col("_core_cl")), Seq("b"))
      .groupBy(col("a").as("user_id")).agg(min(col("_core_cl")).as("_border_cl"))
    withN.join(coreLbl, Seq("user_id"), "left")
      .join(borderLbl, Seq("user_id"), "left")
      .select(col("user_id"), col("pc1"), col("pc2"), col("n_neighbors"),
        when(col("_core_cl").isNotNull, "core")
          .when(col("_border_cl").isNotNull, "border")
          .otherwise("noise").as("role"),
        coalesce(col("_core_cl"), col("_border_cl"), lit(-1L))
          .cast("long").as("cluster_id"))
  }

  /** The registered DBSCAN query: eps=0.5, minPts=4 on the standardized
    * PCA-2 projection, mirroring [[qDensityOutlier]]'s parameters so the
    * noise flag there and `cluster_id = −1` here describe the same
    * eps-graph (border points are the one deliberate difference: DBSCAN
    * attaches them to a cluster, the coarser screen flags them).
    */
  def qDbscanClusters(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.cached("dbscan_clusters", spark, dir) {
      dbscanClusters(
        qPcaProject(spark, dir).select(col("user_id"), col("pc1"), col("pc2")),
        eps = 0.5, minPts = 4)
        .orderBy(col("user_id"))
    }

  /** PCA reconstruction-error anomaly score — the deterministic analogue
    * of the reference's keras autoencoder (Comparaison_ML.py:198-289):
    * both score a point by how badly a low-rank bottleneck reconstructs
    * it. With an orthonormal PCA basis the squared reconstruction error
    * needs NO reconstruction: ||x||² − Σ projᵢ² — two codegen dot
    * products per row, no shuffle beyond the feature matrix build.
    */
  def qReconError(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.cached("recon", spark, dir) {
    val sf = standardizedFeatures(spark, dir)
    val model = pcaModel(spark, dir)
    val arr = vector_to_array(col("sfv"))
    val projSq = (0 until 2).map { i =>
      val comp = array(model.pc.colIter.toSeq(i).toArray.map(lit): _*)
      val p = graft.functions.VectorExpressions.dotProd(arr, comp)
      p * p
    }.reduce(_ + _)
    val err = graft.functions.VectorExpressions.dotProd(arr, arr) - projSq
    val scored = sf.select(col("user_id"), r4(err).as("recon_error"))
    val cnt = scored.agg(count(lit(1)).as("cnt"))
    RankOps.withGlobalRank(scored, "_rk",
        Seq(col("recon_error").desc, col("user_id").asc))
      .crossJoin(broadcast(cnt))
      .withColumn("is_anomaly",
        when(col("_rk") <= ceil(col("cnt") * Contamination), 1L).otherwise(0L))
      .select("user_id", "recon_error", "is_anomaly")
      .orderBy("user_id")
  }

  /** Held-out predictions of one supervised track: the labeled
    * embeddings as (vec_id, label, fv) with `label` as the target, a
    * CrossValidator (3-fold, seed 42) over `grid` scored by `evaluator`
    * and fit on the rest, and the winner applied to the deterministic
    * hash split vec_id % 5 == 0, never seen by CV. The CV folds and every
    * candidate fit run as cluster jobs; only the winning params live on
    * the driver. The estimator reads features `fv` and label `label`.
    */
  private def crossValidated(spark: SparkSession, dir: String, label: Column,
      estimator: Estimator[_], grid: Array[ParamMap],
      evaluator: Evaluator): DataFrame = {
    val e = embeddings(spark, dir).select(
      col("vec_id"), label.as("label"),
      array_to_vector(toDouble(col("embedding"))).as("fv"))
    new CrossValidator().setEstimator(estimator).setEvaluator(evaluator)
      .setEstimatorParamMaps(grid).setNumFolds(3).setSeed(42)
      .fit(e.filter(col("vec_id") % 5 =!= 0))
      .transform(e.filter(col("vec_id") % 5 === 0))
  }
  /** Label 1.0 for the anomalous class (label 0), else 0.0. */
  private val isAnomalyLabel = when(col("label") === 0, 1.0).otherwise(0.0)
  /** vec_id, label and prediction as longs, the first columns of every
    * supervised track's output. */
  private val predictionCols = Seq(col("vec_id"),
    col("label").cast("long").as("label"),
    col("prediction").cast("long").as("prediction"))

  /** Gradient-boosted trees on the binary anomaly target (label 0 vs
    * rest) — the MLlib stand-in for the reference's XGBoost track
    * (Comparaison_ML.py:551-707; XGBoost itself isn't on the cluster
    * classpath, and GBT is the same boosted-ensemble family). The
    * reference grid-searches XGBoost like its other supervised tracks,
    * so this one gets the same [[crossValidated]] treatment as SVC/RF,
    * areaUnderROC-scored over a maxDepth grid (boosting depth is the
    * capacity knob that actually moves GBT).
    */
  def qSupervisedGbt(spark: SparkSession, dir: String): DataFrame =
    graft.Memo("gbt", spark, dir) {
    val gbt = new GBTClassifier()
      .setMaxIter(20).setSeed(42)
      .setFeaturesCol("fv").setLabelCol("label")
    val grid = new ParamGridBuilder()
      .addGrid(gbt.maxDepth, Array(3, 4)).build()
    crossValidated(spark, dir, isAnomalyLabel, gbt, grid,
        new BinaryClassificationEvaluator().setLabelCol("label"))
      .select(predictionCols :+
        r4(element_at(vector_to_array(col("probability")), 2)).as("prob_anomaly"): _*)
      .orderBy(col("vec_id"))
  }

  /** Linear SVM with cross-validated grid search — the reference's SVC +
    * GridSearchCV track (Comparaison_ML.py:551-707) re-expressed as
    * MLlib LinearSVC + [[crossValidated]] over a regParam grid.
    */
  def qSupervisedSvc(spark: SparkSession, dir: String): DataFrame =
    graft.Memo("svc", spark, dir) {
    val svc = new LinearSVC().setMaxIter(20)
      .setFeaturesCol("fv").setLabelCol("label")
    val grid = new ParamGridBuilder()
      .addGrid(svc.regParam, Array(0.01, 0.1)).build()
    crossValidated(spark, dir, isAnomalyLabel, svc, grid,
        new BinaryClassificationEvaluator().setLabelCol("label"))
      .select(predictionCols :+
        r4(element_at(vector_to_array(col("rawPrediction")), 2)).as("margin"): _*)
      .orderBy(col("vec_id"))
  }

  /** RandomForest with cross-validated grid search over the labeled
    * embeddings — the reference grid-searches its RF track too
    * (Comparaison_ML.py:551+ GridSearchCV), so this one gets the same
    * [[crossValidated]] treatment as the SVC track over numTrees ×
    * maxDepth, F1-scored (the labels are multiclass). `prob_anomaly`
    * (P of class 0, the anomalous class) feeds the consolidated model
    * report's AUC head-to-head.
    */
  def qSupervisedRf(spark: SparkSession, dir: String): DataFrame =
    graft.Memo("rf", spark, dir) {
    val rf = new RandomForestClassifier().setSeed(42)
      .setFeaturesCol("fv").setLabelCol("label")
    val grid = new ParamGridBuilder()
      .addGrid(rf.numTrees, Array(20, 50))
      .addGrid(rf.maxDepth, Array(4, 6))
      .build()
    crossValidated(spark, dir, col("label").cast("double"), rf, grid,
        new MulticlassClassificationEvaluator()
          .setLabelCol("label").setMetricName("f1"))
      .select(predictionCols ++ Seq(
        r4(element_at(vector_to_array(col("probability")),
          col("prediction").cast("int") + 1)).as("prob"),
        r4(element_at(vector_to_array(col("probability")), 1)).as("prob_anomaly")): _*)
      .orderBy("vec_id")
  }

  /** (event_type, value, user_id, med, adev) — the per-event absolute
    * deviations from each type's median, pinned once per (session, dir):
    * [[qMadOutlier]]'s rollup and [[qAnomalyOverlap]]'s per-user MAD
    * flag both fold it (user_id never reaches qMadOutlier's groupBy).
    */
  private def madDev(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.cached("madDev", spark, dir) {
      val ev = cleanEvents(spark, dir)
        .select(col("event_type"), col("value"), col("user_id"))
        .filter(col("value").isNotNull)
      val med = ev.groupBy(col("event_type").as("met"))
        .agg(percentile(col("value"), lit(0.5)).as("med"))
      ev.join(broadcast(med), col("event_type") === col("met"))
        .withColumn("adev", abs(col("value") - col("med")))
    }

  /** Robust per-type value outliers via median absolute deviation — the
    * heavy-tail-proof alternative to [[qZscoreAnomaly]] (one planted
    * extreme value shifts a mean and explodes a stddev, but moves neither
    * median). Two exact-percentile aggregations (median, then median of
    * |v − median|), each a single event_type-keyed shuffle with the tiny
    * per-type result broadcast back; the outlier gate is the standard
    * 3σ-equivalent `|v − med| > 3 × 1.4826 × MAD`. Exact percentile keeps
    * the oracle bit-identical (DuckDB quantile_cont interpolates the same
    * way); at 100 TB the swap is approx_percentile, same shape
    * (q_percentiles_approx demonstrates the bound).
    *
    * Lineage: ev feeds both the median aggregate and dev, and dev feeds
    * both the MAD aggregate and the final rollup — uncached that is
    * THREE event scans, so dev (the narrow 4-column projection, the
    * widest frame every consumer shares) is pinned via Memo.cached, the
    * same treatment autocorrDaily/skylineCandidates get.
    */
  def qMadOutlier(spark: SparkSession, dir: String): DataFrame = {
    val dev = madDev(spark, dir)
    val mad = dev.groupBy(col("event_type").as("aet"))
      .agg(percentile(col("adev"), lit(0.5)).as("mad"))
    dev.join(broadcast(mad), col("event_type") === col("aet"))
      .groupBy(col("event_type"))
      .agg(r4(first(col("med"))).as("median_value"),
        r4(first(col("mad"))).as("mad"),
        count(lit(1)).as("n"),
        sum(when(col("adev") > lit(3.0) * lit(1.4826) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy(col("event_type"))
  }

  /** Detector-agreement matrix: pairwise overlap of the three
    * deterministic user-level anomaly flags — z-score contamination cut
    * ([[qZscoreAnomaly]].is_anomaly), per-feature quantile vote
    * ([[qQuantileOutlier]].is_outlier), and "any MAD-outlier event"
    * (≥1 event beyond the 3·1.4826·MAD gate of its type, off the shared
    * [[madDev]] frame). The table that decides whether an ensemble adds
    * information or just re-counts one signal: near-total overlap means
    * the detectors are redundant; near-zero overlap on similar set
    * sizes means they see DIFFERENT anomaly populations and a vote is
    * worth its cost (the deterministic, hash-checkable face of
    * Comparaison_ML.py:327-420's model-comparison loop). Every flag
    * chain is a Memo-pinned |users|-row frame; the joins are |users|-row
    * key joins; agreement = Jaccard in exact integer basis points
    * (n_both·10000 div n_union) — no float anywhere.
    */
  def qAnomalyOverlap(spark: SparkSession, dir: String): DataFrame = {
    val z = qZscoreAnomaly(spark, dir)
      .select(col("user_id"), col("is_anomaly").as("f_zscore"))
    val q = qQuantileOutlier(spark, dir)
      .select(col("user_id"), col("is_outlier").as("f_quantile"))
    val dev = madDev(spark, dir)
    val mad = dev.groupBy(col("event_type").as("aet"))
      .agg(percentile(col("adev"), lit(0.5)).as("mad"))
    val m = dev.join(broadcast(mad), col("event_type") === col("aet"))
      .groupBy(col("user_id"))
      .agg(max(when(col("adev") > lit(3.0) * lit(1.4826) * col("mad"), 1L)
        .otherwise(0L)).as("f_mad"))
    val flags = z.join(q, Seq("user_id"), "full_outer")
      .join(m, Seq("user_id"), "full_outer")
      .na.fill(0L, Seq("f_zscore", "f_quantile", "f_mad"))
    val sums = flags.agg(
      sum(col("f_zscore")).as("n_zscore"),
      sum(col("f_quantile")).as("n_quantile"),
      sum(col("f_mad")).as("n_mad"),
      sum(col("f_zscore") * col("f_quantile")).as("b_zq"),
      sum(col("f_zscore") * col("f_mad")).as("b_zm"),
      sum(col("f_quantile") * col("f_mad")).as("b_qm"))
    // one explode off the ONE-ROW sums frame — the whole flag chain
    // executes once, not once per emitted pair
    def pairRow(a: String, b: String, na: Column, nb: Column, both: Column) =
      struct(lit(a).as("det_a"), lit(b).as("det_b"),
        na.as("n_a"), nb.as("n_b"), both.as("n_both"))
    sums.select(explode(array(
        pairRow("mad", "quantile", col("n_mad"), col("n_quantile"), col("b_qm")),
        pairRow("mad", "zscore", col("n_mad"), col("n_zscore"), col("b_zm")),
        pairRow("quantile", "zscore", col("n_quantile"), col("n_zscore"), col("b_zq"))))
        .as("p"))
      .select(col("p.det_a").as("det_a"), col("p.det_b").as("det_b"),
        col("p.n_a").as("n_a"), col("p.n_b").as("n_b"),
        col("p.n_both").as("n_both"),
        (col("p.n_a") + col("p.n_b") - col("p.n_both")).as("n_union"))
      .withColumn("jaccard_bp",
        when(col("n_union") === 0, 0L)
          .otherwise(expr("n_both * 10000 div n_union")))
      .orderBy(col("det_a"), col("det_b"))
  }

  /** Per-group Mann–Whitney AUC over a `(grp, truth, score)` frame:
    * AUC = (Σ rank(pos) − n₊(n₊+1)/2) / (n₊·n₋) with average ranks for
    * ties — the rank-sum identity that turns a ROC integral into pure
    * aggregation. Scores are first grouped to (grp, score) tie groups
    * (one shuffle, map-side combined), then ranked with ONE two-phase
    * exact-rank pass over the grouped frame — no unpartitioned window,
    * no per-row sort. The average rank of a tie group ending at
    * cumulative position c with n members is c − n + (n+1)/2.
    */
  private[graft] def groupedAuc(df: DataFrame, grp: String): DataFrame = {
    val g = df.groupBy(col(grp), col("score"))
      .agg(count(lit(1)).as("n"), sum(col("truth")).as("np"))
    val ranked = RankOps.withGlobalRank(g, "_rk",
      Seq(col(grp).asc, col("score").asc), cumSums = Seq(("_cum", col("n"))))
    // Rows before each group's first score = that group's rank offset;
    // min over the group of (cum − n) recovers it without a second sort.
    val starts = ranked.groupBy(col(grp))
      .agg(min(col("_cum") - col("n")).as("_before"))
    ranked.join(broadcast(starts), Seq(grp))
      .withColumn("_rpos", col("np") *
        (col("_cum") - col("_before") - col("n") + (col("n") + lit(1)) / lit(2.0)))
      .groupBy(col(grp))
      .agg(sum(col("np")).as("_np"), sum(col("n")).as("_n"), sum(col("_rpos")).as("_r"))
      .select(col(grp),
        col("_np").cast("long").as("n_pos"),
        (col("_n") - col("_np")).cast("long").as("n_neg"),
        r4((col("_r") - col("_np") * (col("_np") + lit(1)) / lit(2.0))
          / (col("_np") * (col("_n") - col("_np")))).as("auc"))
  }

  /** Stacked (detector, truth, score) frame over the labeled embeddings
    * — the shared input of [[qRocAuc]] and [[qRocPoints]]: two
    * deterministic detector scores (L2 norm, max-|component|), truth =
    * label 0. Scores are r4-rounded so tie GROUPS match the oracle's. */
  private def detectorScores(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir).select(
      col("vec_id"),
      when(col("label") === 0, 1L).otherwise(0L).as("truth"),
      r4(l2norm(toDouble(col("embedding")))).as("l2"),
      r4(array_max(transform(toDouble(col("embedding")), x => abs(x)))).as("mx"))
    e.select(lit("l2_norm").as("detector"), col("truth"), col("l2").as("score"))
      .unionByName(e.select(lit("max_abs").as("detector"), col("truth"),
        col("mx").as("score")))
  }

  /** ROC AUC per detector — the reference's headline metric
    * (Comparaison_ML.py:353-355: roc_curve + auc per model). Two
    * deterministic detector scores over the labeled embeddings (L2
    * norm and max-|component|, truth = label 0) ranked by the
    * Mann–Whitney identity in [[groupedAuc]]; SQL-expressible, so this
    * one is DuckDB-hash-oracled, unlike the fitted-model AUCs in
    * [[qModelReport]].
    */
  def qRocAuc(spark: SparkSession, dir: String): DataFrame =
    groupedAuc(detectorScores(spark, dir), "detector").orderBy(col("detector"))

  /** The deterministic-detector curve frame, Memo-pinned: three queries
    * consume it (the curve itself, its PR projection, and the AP
    * integral) — one rank pass serves all three, |distinct scores| rows.
    */
  private def detectorRocPoints(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.cached("detectorRocPoints", spark, dir) {
      rocPointsOver(detectorScores(spark, dir), "detector")
    }

  /** The ROC curve ITSELF — the reference's roc_curve output
    * (Comparaison_ML.py:353-355 plots fpr/tpr per threshold; [[qRocAuc]]
    * only reports its integral). One point per distinct score: at
    * threshold t, tp/fp = positives/negatives scoring ≥ t, tpr = tp/P,
    * fpr = fp/N. Scale shape: scores collapse to (detector, score) tie
    * groups (one map-side-combined shuffle), then ONE two-phase
    * exact-rank pass ordered (detector, score DESC) carries BOTH running
    * sums (n, np); per-detector prefixes are recovered by subtracting
    * the detector's start offset (a broadcast |detectors|-row frame) —
    * no unpartitioned window, no per-row sort, any corpus size.
    */
  def qRocPoints(spark: SparkSession, dir: String): DataFrame =
    detectorRocPoints(spark, dir)
      .orderBy(col("detector"), col("threshold").desc)

  /** The curve machinery of [[qRocPoints]] over ANY stacked
    * `(grp, truth, score)` frame — shared by the deterministic-detector
    * curves (hash-oracled) and the supervised-model curves (rows-only,
    * fitted-model scores). Same scale shape as documented on
    * [[qRocPoints]]: tie-group collapse, one two-phase rank carrying
    * both running sums, per-group prefixes via broadcast start offsets.
    */
  private[graft] def rocPointsOver(scores: DataFrame, grp: String): DataFrame = {
    val g = scores.groupBy(col(grp), col("score"))
      .agg(count(lit(1)).as("n"), sum(col("truth")).as("np"))
    val ranked = RankOps.withGlobalRank(g, "_rk",
      Seq(col(grp).asc, col("score").desc),
      cumSums = Seq(("_cum", col("n")), ("_cumnp", col("np"))))
    val starts = ranked.groupBy(col(grp))
      .agg(min(col("_cum") - col("n")).as("_before"),
        min(col("_cumnp") - col("np")).as("_beforeNp"))
    val totals = g.groupBy(col(grp))
      .agg(sum(col("np")).as("pos"), (sum(col("n")) - sum(col("np"))).as("neg"))
    ranked.join(broadcast(starts), Seq(grp))
      .join(broadcast(totals), Seq(grp))
      .select(col(grp), r4(col("score")).as("threshold"),
        (col("_cumnp") - col("_beforeNp")).cast("long").as("tp"),
        (col("_cum") - col("_before") - col("_cumnp") + col("_beforeNp"))
          .cast("long").as("fp"),
        r4((col("_cumnp") - col("_beforeNp")) / col("pos")).as("tpr"),
        r4((col("_cum") - col("_before") - col("_cumnp") + col("_beforeNp"))
          / col("neg")).as("fpr"))
      .orderBy(col(grp), col("threshold").desc)
  }

  /** Precision-recall curve per deterministic detector — the standard
    * companion to [[qRocPoints]] for the class-imbalanced regime this
    * data lives in (10% anomalies: a ROC curve flatters a detector that
    * false-positives freely; PR does not). Same tie-group + two-phase
    * rank machinery, one extra projection: precision = tp/(tp+fp) at
    * each threshold, recall ≡ tpr. SQL-expressible → hash-oracled.
    */
  def qPrPoints(spark: SparkSession, dir: String): DataFrame =
    detectorRocPoints(spark, dir)
      .select(col("detector"), col("threshold"), col("tp"), col("fp"),
        r4(col("tp") / (col("tp") + col("fp"))).as("precision"),
        col("tpr").as("recall"))
      .orderBy(col("detector"), col("threshold").desc)

  /** Average precision per detector — the PR curve's integral under the
    * step-interpolation sklearn uses (average_precision_score):
    * AP = Σ_t ΔR_t · P_t over descending thresholds, where a tie group
    * contributes ΔR = np/pos and P = tp/(tp+fp). One aggregation over
    * [[rocPointsOver]]'s tie-group rows — no extra pass, no window.
    * SQL-expressible → hash-oracled.
    */
  def qPrAuc(spark: SparkSession, dir: String): DataFrame = {
    val pts = detectorRocPoints(spark, dir)
    // ΔR of a tie group = its positives / all positives; tp is cumulative,
    // so the group's np is tp − lag(tp). The lag window is PARTITIONED
    // (per detector, over distinct-score rows) — bounded support.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("detector")).orderBy(col("threshold").desc)
    val totals = pts.groupBy(col("detector")).agg(max(col("tp")).as("pos"))
    pts.withColumn("_np", col("tp") - coalesce(lag(col("tp"), 1).over(w), lit(0L)))
      .join(broadcast(totals), Seq("detector"))
      .groupBy(col("detector"))
      .agg(r4(sum(col("_np").cast("double") / col("pos")
        * (col("tp").cast("double") / (col("tp") + col("fp"))))).as("avg_precision"))
      .orderBy(col("detector"))
  }

  /** Per-supervised-model ROC curves on the held-out fold — the curves
    * the reference PLOTS for its RF/SVC/XGB tracks
    * (Comparaison_ML.py:551-707 calls roc_curve per model; [[qRocPoints]]
    * only covered the unsupervised detector scores). Reuses the stacked
    * (model, truth, score) frame [[qModelReport]] scores its AUC on —
    * rf/gbt score with P(anomaly), svc with its margin (any monotone
    * score yields the same curve). Fitted-model scores → rows-only.
    */
  def qRocPointsSupervised(spark: SparkSession, dir: String): DataFrame =
    rocPointsOver(supervisedScores(spark, dir).withColumnRenamed("model", "detector"),
      "detector")

  /** Stacked `(model, truth, pred, score)` frame over the three
    * supervised tracks' held-out predictions — shared by
    * [[qModelReport]] (confusion + AUC) and [[qRocPointsSupervised]]
    * (the curves). All three binarize to the anomaly target; the
    * underlying track outputs are Memo-pinned, so stacking re-reads
    * cached |test-fold|-row frames, not refits.
    */
  private def supervisedScores(spark: SparkSession, dir: String): DataFrame = {
    val rf = qSupervisedRf(spark, dir).select(lit("rf").as("model"),
      when(col("label") === 0, 1L).otherwise(0L).as("truth"),
      when(col("prediction") === 0, 1L).otherwise(0L).as("pred"),
      col("prob_anomaly").as("score"))
    val gbt = qSupervisedGbt(spark, dir).select(lit("gbt").as("model"),
      col("label").as("truth"), col("prediction").as("pred"),
      col("prob_anomaly").as("score"))
    val svc = qSupervisedSvc(spark, dir).select(lit("svc").as("model"),
      col("label").as("truth"), col("prediction").as("pred"),
      col("margin").as("score"))
    rf.unionByName(gbt).unionByName(svc)
  }

  /** Consolidated supervised comparison — the reference's
    * rapport_performances.csv / resultats_supervise.csv analogue
    * (Comparaison_ML.py:551-707 prints per-model metrics side by
    * side): per-model confusion counts, precision/recall/F1/accuracy
    * on the SAME held-out fold (vec_id % 5 == 0), plus Mann–Whitney
    * AUC on each model's anomaly score. All three tracks binarize to
    * the anomaly target (label 0 vs rest); the RF track is multiclass,
    * so its anomaly score is P(class 0) head-to-head with GBT's
    * P(anomaly) and SVC's margin. Model internals aren't
    * SQL-expressible → rows-only, contract-specced.
    */
  def qModelReport(spark: SparkSession, dir: String): DataFrame = {
    val stacked = supervisedScores(spark, dir)
    val cm = stacked.groupBy(col("model")).agg(
        sum(col("pred") * col("truth")).as("tp"),
        sum(col("pred") * (lit(1) - col("truth"))).as("fp"),
        sum((lit(1) - col("pred")) * col("truth")).as("fn"),
        sum((lit(1) - col("pred")) * (lit(1) - col("truth"))).as("tn"))
      .select(col("model"), col("tp"), col("fp"), col("fn"), col("tn"),
        r4(col("tp") / greatest(col("tp") + col("fp"), lit(1))).as("precision"),
        r4(col("tp") / greatest(col("tp") + col("fn"), lit(1))).as("recall"),
        r4(lit(2) * col("tp")
          / greatest(lit(2) * col("tp") + col("fp") + col("fn"), lit(1))).as("f1"),
        r4((col("tp") + col("tn"))
          / (col("tp") + col("fp") + col("fn") + col("tn"))).as("accuracy"))
    cm.join(groupedAuc(stacked.select(col("model"), col("truth"), col("score")),
        "model"), Seq("model"))
      .orderBy(col("model"))
  }

  /** Trees and depth cap for [[qIforestScore]]. 16 × depth-5 trees keep
    * each tree's compiled CASE expression codegen-friendly while giving
    * the mass estimate enough independent views to rank outliers. */
  val IforestTrees = 16
  val IforestDepth = 5

  /** Seeded isolation-forest analogue — completes the reference
    * ensemble member-for-member (Comparaison_ML.py:132-150 fits
    * sklearn IsolationForest(contamination=0.1, random_state=42)).
    *
    * T random depth-limited split trees: each node picks a random
    * feature and a threshold uniform in that feature's [min, max]
    * (ranges are ONE 1-row aggregate; the seeded driver RNG makes the
    * forest deterministic). Every tree compiles into a single nested
    * CASE leaf-id expression — scoring the corpus is a codegen'd
    * narrow projection, no per-point search. All leaves sit at the
    * depth cap, so a point's isolation depth is depth + c(m) where m
    * is its leaf's occupancy and c(·) is the iForest path-length
    * estimator applied at the height limit: sparse leaves → small m →
    * short estimated path → anomalous. Leaf masses are one
    * (tree, leaf) aggregation (≤ T·2^depth rows, broadcast back);
    * the contamination cut reuses the two-phase exact rank.
    */
  def qIforestScore(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.cached("iforest", spark, dir) {
    val uf = userFeatures(spark, dir)
    val rangeAggs = FeatureCols.flatMap(f => Seq(
      min(col(f).cast("double")).as(s"mn_$f"), max(col(f).cast("double")).as(s"mx_$f")))
    val row = uf.agg(rangeAggs.head, rangeAggs.tail: _*).head()
    val ranges = FeatureCols.zipWithIndex.map { case (f, i) =>
      (f, row.getDouble(2 * i), row.getDouble(2 * i + 1)) }
    val rnd = new scala.util.Random(42)
    def leafExpr(depth: Int, id: Long): Column =
      if (depth == IforestDepth) lit(id)
      else {
        val (f, lo, hi) = ranges(rnd.nextInt(ranges.length))
        val thr = lo + rnd.nextDouble() * (hi - lo)
        when(col(f) <= thr, leafExpr(depth + 1, id))
          .otherwise(leafExpr(depth + 1, id | (1L << depth)))
      }
    val withLeaves = uf.select(col("user_id") +:
      (0 until IforestTrees).map(t => leafExpr(0, 0L).as(s"leaf_$t")): _*)
    val melted = withLeaves.select(col("user_id"),
        explode(array((0 until IforestTrees).map(t =>
          struct(lit(t).as("tree"), col(s"leaf_$t").as("leaf"))): _*)).as("x"))
      .select(col("user_id"), col("x.tree").as("tree"), col("x.leaf").as("leaf"))
    val mass = melted.groupBy(col("tree"), col("leaf")).agg(count(lit(1)).as("m"))
    val euler = 0.5772156649
    def cOf(m: Column): Column =
      when(m <= 1, lit(0.0)).otherwise(
        lit(2.0) * (log(m.cast("double") - 1) + euler)
          - lit(2.0) * (m.cast("double") - 1) / m.cast("double"))
    val pathLen = melted.join(broadcast(mass), Seq("tree", "leaf"))
      .groupBy(col("user_id"))
      .agg(r4(avg(cOf(col("m"))) + lit(IforestDepth.toDouble)).as("path_len"))
    val cnt = uf.agg(count(lit(1)).as("cnt"))
    val scored = pathLen.crossJoin(broadcast(cnt))
      .withColumn("iforest_score",
        r4(pow(lit(2.0), -col("path_len") / cOf(col("cnt")))))
    RankOps.withGlobalRank(scored, "_rk",
        Seq(col("path_len").asc, col("user_id").asc))
      .withColumn("is_anomaly",
        when(col("_rk") <= ceil(col("cnt") * Contamination), 1L).otherwise(0L))
      .select("user_id", "path_len", "iforest_score", "is_anomaly")
      .orderBy("user_id")
  }

  /** Simplified (centroid-based) silhouette for the k=2 KMeans split —
    * the clustering-quality number the reference reads off
    * sklearn.metrics.silhouette_score (Comparaison_ML.py:12). Exact
    * silhouette needs all-pairs distances — O(n²), the one shape a
    * 100 TB plan can never contain — so this uses the standard
    * large-scale proxy: distance to OWN centroid vs distance to the
    * OTHER centroid, s = (b − a) / max(a, b). Two broadcast centroid
    * lookups per row, zero joins; coincides with exact silhouette as
    * clusters approach the spherical shape KMeans optimizes for.
    */
  def qSilhouette(spark: SparkSession, dir: String): DataFrame =
    graft.Memo("silhouette", spark, dir) {
    val model = kmeansModel(spark, dir)
    val dist = centroidDist(model.clusterCenters)
    model.transform(standardizedFeatures(spark, dir))
      .select(col("user_id"), col("cluster").cast("long").as("cluster"),
        dist(col("sfv"), col("cluster").cast("int")).as("a_own"),
        dist(col("sfv"), (lit(1) - col("cluster")).cast("int")).as("b_other"))
      .select(col("user_id"), col("cluster"),
        r4(col("a_own")).as("dist_own"), r4(col("b_other")).as("dist_other"),
        when(greatest(col("a_own"), col("b_other")) === 0, lit(0.0))
          .otherwise(r4((col("b_other") - col("a_own"))
            / greatest(col("a_own"), col("b_other")))).as("silhouette"))
      .orderBy("user_id")
  }

  /** Calibration / reliability diagram over the detector scores —
    * completes the evaluation artifact set next to [[qRocAuc]] /
    * [[qRocPoints]] (the reference reads precision/recall/F1/ROC off
    * sklearn, Comparaison_ML.py:353-355; a reliability table is the
    * standard companion whenever a score is used as a probability).
    * Scores are min-max normalized per detector (the 2-row min/max
    * frame broadcasts back), bucketed into 10 fixed-width bins, and
    * each bin reports its occupancy, mean normalized score, empirical
    * positive rate, and Brier contribution. The bin key is computed
    * from the UNROUNDED normalized score — both engines derive it with
    * the same IEEE ops from identical (4-dp-rounded) inputs, so bin
    * membership can't straddle a rounding boundary. One score-keyed
    * aggregation; every other frame is a broadcast.
    */
  def qCalibration(spark: SparkSession, dir: String): DataFrame = {
    val s = detectorScores(spark, dir)
    val mm = s.groupBy(col("detector"))
      .agg(min(col("score")).as("mn"), max(col("score")).as("mx"))
    s.join(broadcast(mm), Seq("detector"))
      .withColumn("p", when(col("mx") === col("mn"), lit(0.0))
        .otherwise((col("score") - col("mn")) / (col("mx") - col("mn"))))
      .withColumn("bin", least(floor(col("p") * 10), lit(9L)).cast("long"))
      .groupBy(col("detector"), col("bin"))
      .agg(count(lit(1)).as("n"),
        r4(avg(col("p"))).as("mean_score"),
        r4(avg(col("truth").cast("double"))).as("frac_pos"),
        r4(avg((col("p") - col("truth")) * (col("p") - col("truth"))))
          .as("brier"))
      .orderBy(col("detector"), col("bin"))
  }
}
