package graft.operators

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classical hypothesis tests over the activity log, expressed as exact
  * distributed aggregations (ref: Comparaison_ML.py evaluates detectors
  * with scipy-style statistics; these are the engine-side equivalents a
  * security team runs to decide whether an apparent behavior shift is
  * real before paging anyone).
  *
  * Scale posture: every test reduces the raw log with ONE map-combined
  * aggregation keyed by (user, day) or coarser before any statistic is
  * computed, so the frames the test math touches are support-sized
  * (distinct count values, one row per group) — never data-sized. All
  * accumulations that feed a cross-engine-hashed number run over exact
  * integer counts or DECIMAL-cast values (order-independent), with the
  * single double division/sqrt at the very end on identical operands.
  */
object StatsOps {

  import ThreatOps.{isAfterHours, isWeekend}

  /** Two-sample Kolmogorov–Smirnov test: does the distribution of
    * per-user DAILY activity volume differ between weekdays and
    * weekends? D = max |F_wd(x) − F_we(x)| over the pooled support,
    * compared against the large-sample 5% critical value
    * c(α)·√((n+m)/nm), c(0.05)=1.358.
    *
    * The raw log collapses to (user, day) counts in one map-combined
    * aggregation; the ECDFs then live on the DISTINCT-count support
    * frame — tens of rows no matter the corpus size, which is why the
    * unpartitioned windows here are safe at 100 TB (the query is on the
    * PlanAuditSpec tiny-frame allowlist for exactly that reason). The
    * group totals are whole-frame window sums over that same single
    * partition the cumulative window gathers, so they cost no shuffle or
    * join of their own. All sums are exact longs; the only doubles are
    * the two final ECDF divisions on identical operands per engine.
    */
  def qKsTest(spark: SparkSession, dir: String): DataFrame = {
    val daily = cleanEvents(spark, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("d"), isWeekend.as("wk"))
      .agg(count(lit(1)).as("n"))
    val sup = daily.groupBy(col("n")).agg(
      sum(when(col("wk") === 0, 1L).otherwise(0L)).as("c_wd"),
      sum(when(col("wk") === 1, 1L).otherwise(0L)).as("c_we"))
    val all = Window.partitionBy()
    val w = Window.orderBy(col("n"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val crit = lit(1.358) * sqrt((col("n_wd") + col("n_we")).cast("double")
      / (col("n_wd") * col("n_we")).cast("double"))
    sup.withColumn("n_wd", sum(col("c_wd")).over(all))
      .withColumn("n_we", sum(col("c_we")).over(all))
      .withColumn("diff", abs(
        sum(col("c_wd")).over(w).cast("double") / col("n_wd").cast("double")
          - sum(col("c_we")).over(w).cast("double") / col("n_we").cast("double")))
      .groupBy(col("n_wd"), col("n_we"))
      .agg(max(col("diff")).as("d"))
      .select(col("n_wd").as("n_weekday"), col("n_we").as("n_weekend"),
        r4(col("d")).as("d_stat"), r4(crit).as("crit_05"),
        when(col("d") > crit, 1L).otherwise(0L).as("drift_flag"))
  }

  /** Welch's unequal-variance t-test: is the mean event `value` on
    * weekends different from weekdays? t from the standard formula, df
    * from Welch–Satterthwaite, flagged at the two-sided 5% normal
    * approximation (|t| > 1.96 — df is in the thousands here, where
    * t ≈ z).
    *
    * ONE pass over the log: both groups' (n, Σv, Σv²) come from a
    * single conditional aggregation with `value` cast to DECIMAL(18,2)
    * first (the fixture carries 2-dp values, so the cast is exact and
    * the sums are order-independent — the same discipline as the
    * monetary DECIMAL sums in the TPC-H shapes). Means/variances are
    * then scalar double arithmetic on ONE row of identical operands.
    */
  def qWelchTtest(spark: SparkSession, dir: String): DataFrame = {
    val v = col("value").cast("decimal(18,2)")
    val g = cleanEvents(spark, dir).filter(col("value").isNotNull)
      .select(isWeekend.as("wk"), v.as("v"))
      .agg(
        sum(when(col("wk") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("wk") === 0, col("v"))).as("s0"),
        sum(when(col("wk") === 0, col("v") * col("v"))).as("ss0"),
        sum(when(col("wk") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("wk") === 1, col("v"))).as("s1"),
        sum(when(col("wk") === 1, col("v") * col("v"))).as("ss1"))
    def m(s: Column, n: Column): Column = s.cast("double") / n.cast("double")
    def va(s: Column, ss: Column, n: Column): Column =
      (ss.cast("double") - s.cast("double") * s.cast("double") / n.cast("double")) /
        (n.cast("double") - lit(1.0))
    val (m0, m1) = (m(col("s0"), col("n0")), m(col("s1"), col("n1")))
    val (v0, v1) = (va(col("s0"), col("ss0"), col("n0")),
      va(col("s1"), col("ss1"), col("n1")))
    val se0 = v0 / col("n0").cast("double")
    val se1 = v1 / col("n1").cast("double")
    val t = (m1 - m0) / sqrt(se0 + se1)
    val dfW = (se0 + se1) * (se0 + se1) /
      (se0 * se0 / (col("n0").cast("double") - lit(1.0))
        + se1 * se1 / (col("n1").cast("double") - lit(1.0)))
    g.select(col("n0").as("n_weekday"), col("n1").as("n_weekend"),
      r4(m0).as("mean_weekday"), r4(m1).as("mean_weekend"),
      r4(t).as("t_stat"), r2(dfW).as("df"),
      when(abs(t) > 1.96, 1L).otherwise(0L).as("significant"))
  }

  /** Feature names for [[qCorrMatrix]] — all exact per-user LONG counts,
    * so every sum/cross-product the correlation needs is
    * order-independent integer arithmetic until the final division.
    */
  private[graft] val CorrFeatures =
    Seq("n_events", "n_types", "n_days", "n_after_hours", "n_weekend")

  /** Pearson correlation matrix over the per-user behavioral feature
    * vector (event volume, type breadth, active days, after-hours and
    * weekend counts) — the multicollinearity screen run before feeding
    * features to any detector (ref: Comparaison_ML.py trains on exactly
    * such a feature matrix).
    *
    * Shape: one user-keyed aggregation builds the feature frame, then
    * ONE global aggregation accumulates every Σx, Σx², Σxy as exact
    * DECIMAL (k=5 features → 21 sums, all map-combined in a single
    * reduce to ONE row), and the 10 pairwise correlations are scalar
    * double arithmetic on that row — no per-pair passes, no windows, no
    * MLlib. corr = (nΣxy−ΣxΣy)/√((nΣx²−(Σx)²)(nΣy²−(Σy)²)).
    */
  /** The per-user behavioral feature frame [[CorrFeatures]] describes —
    * ONE map-combined user-keyed aggregation over the cleaned log,
    * shared by [[qCorrMatrix]] and [[qMahalanobis]].
    */
  private def userFeatures(spark: SparkSession, dir: String): DataFrame =
    cleanEvents(spark, dir)
      .groupBy(col("user_id")).agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        countDistinct(to_date(col("ts"))).as("n_days"),
        sum(isAfterHours).as("n_after_hours"),
        sum(isWeekend).as("n_weekend"))

  def qCorrMatrix(spark: SparkSession, dir: String): DataFrame = {
    val u = userFeatures(spark, dir)
    val fs = CorrFeatures
    def d(f: String): Column = col(f).cast("decimal(18,0)")
    val sums =
      fs.map(f => sum(d(f)).as(s"s_$f")) ++
        fs.map(f => sum(d(f) * d(f)).as(s"ss_$f")) ++
        (for (i <- fs.indices; j <- fs.indices if i < j)
          yield sum(d(fs(i)) * d(fs(j))).as(s"sx_${fs(i)}_${fs(j)}"))
    val one = u.agg(count(lit(1)).as("n"), sums: _*)
    val n = col("n").cast("double")
    def sd(c: String): Column = col(c).cast("double")
    val pairs = for (i <- fs.indices; j <- fs.indices if i < j) yield {
      val (a, b) = (fs(i), fs(j))
      val cov = n * sd(s"sx_${a}_$b") - sd(s"s_$a") * sd(s"s_$b")
      val varA = n * sd(s"ss_$a") - sd(s"s_$a") * sd(s"s_$a")
      val varB = n * sd(s"ss_$b") - sd(s"s_$b") * sd(s"s_$b")
      // zero-variance feature → Pearson undefined; NULL on both engines
      // (also keeps ANSI mode from raising DIVIDE_BY_ZERO)
      struct(lit(a).as("feat_a"), lit(b).as("feat_b"),
        when(varA > 0 && varB > 0, r4(cov / sqrt(varA * varB)))
          .otherwise(lit(null).cast("double")).as("corr"))
    }
    one.select(explode(array(pairs: _*)).as("p"))
      .select(col("p.feat_a"), col("p.feat_b"), col("p.corr"))
      .orderBy(col("feat_a"), col("feat_b"))
  }

  /** Mutual information between event type and the after-hours flag —
    * "how much does KNOWING the event type tell you about WHEN it
    * happens" in nats, with the entropies that normalize it. Where
    * [[graft.operators.ThreatOps.qChi2]] answers "is the association
    * statistically real", NMI answers "is it big enough to matter as a
    * feature" — the standard feature-selection screen before one-hot
    * encoding a categorical into a detector.
    *
    * Shape: ONE map-combined (type, flag) contingency aggregation
    * (ǀtypesǀ·2 rows), then every p·ln(p) term is scalar arithmetic on
    * that tiny frame; marginals come from two rollups of the SAME cell
    * frame, joined back by type / broadcast as one row. All
    * probabilities divide exact longs; the handful of double ln-terms
    * sum on a ǀcellsǀ-row frame before the single r4.
    */
  def qMutualInfo(spark: SparkSession, dir: String): DataFrame = {
    val cells = cleanEvents(spark, dir)
      .groupBy(col("event_type"), isAfterHours.as("ah"))
      .agg(count(lit(1)).as("n_tc"))
    val rowTot = cells.groupBy(col("event_type")).agg(sum(col("n_tc")).as("n_t"))
    val colTot = cells.groupBy(col("ah")).agg(sum(col("n_tc")).as("n_c"))
    val tot = cells.agg(sum(col("n_tc")).as("n"))
    val joined = cells
      .join(broadcast(rowTot), Seq("event_type"))
      .join(broadcast(colTot), Seq("ah"))
      .crossJoin(broadcast(tot))
    def d(c: Column): Column = c.cast("double")
    val pTc = d(col("n_tc")) / d(col("n"))
    val miTerm = pTc * log(pTc / (d(col("n_t")) / d(col("n")) *
      (d(col("n_c")) / d(col("n")))))
    val hT = -sum((d(col("n_t")) / d(col("n"))) *
      log(d(col("n_t")) / d(col("n"))))
    val hC = -sum((d(col("n_c")) / d(col("n"))) *
      log(d(col("n_c")) / d(col("n"))))
    // entropies recomputed from the marginal frames (not the joined
    // cells, which repeat each marginal once per partner level)
    val ent = rowTot.crossJoin(broadcast(tot)).agg(hT.as("h_type")).crossJoin(
      broadcast(colTot.crossJoin(broadcast(tot)).agg(hC.as("h_flag"))))
    joined.agg(max(col("n")).as("n_events"), sum(miTerm).as("mi"))
      .crossJoin(broadcast(ent))
      .select(col("n_events"), r4(col("mi")).as("mi_nats"),
        r4(col("h_type")).as("h_type"), r4(col("h_flag")).as("h_flag"),
        r4(col("mi") / least(col("h_type"), col("h_flag"))).as("nmi"))
  }

  /** Cramér's V over the full event-type × day-of-week contingency table
    * — the r×c generalization of [[graft.operators.ThreatOps.qChi2]]'s
    * 2-column test, scaled to [0,1] effect size: V = √(χ²/(n·min(r−1,
    * c−1))). One row: table dims, χ², V.
    *
    * Shape: one map-combined (type, dow) cell aggregation, marginals as
    * two rollups of the cell frame (broadcast joins), χ² summed over the
    * ≤ ǀtypesǀ·7 cell rows. Counts are exact longs; the χ² terms are the
    * only doubles and they're summed on the tiny cell frame before ONE
    * r4. Cells with zero count contribute (0−e)²/e = e, so the expected
    * mass of MISSING cells must be added too — done by summing e over
    * the full marginal cross product and subtracting the observed-cell
    * e's, no dense grid materialized.
    */
  def qCramersV(spark: SparkSession, dir: String): DataFrame = {
    val dow = expr("weekday(ts)").cast("long")
    val cells = cleanEvents(spark, dir)
      .groupBy(col("event_type"), dow.as("dw"))
      .agg(count(lit(1)).as("n_tc"))
    val rowTot = cells.groupBy(col("event_type")).agg(sum(col("n_tc")).as("n_t"))
    val colTot = cells.groupBy(col("dw")).agg(sum(col("n_tc")).as("n_c"))
    val tot = cells.agg(sum(col("n_tc")).as("n"),
      count_distinct(col("event_type")).as("r"),
      count_distinct(col("dw")).as("c"))
    def d(c: Column): Column = c.cast("double")
    val e = d(col("n_t")) * d(col("n_c")) / d(col("n"))
    // observed cells: (o−e)²/e − e  (the −e cancels the full-grid Σe=n)
    val obs = cells
      .join(broadcast(rowTot), Seq("event_type"))
      .join(broadcast(colTot), Seq("dw"))
      .crossJoin(broadcast(tot))
      .agg(sum((d(col("n_tc")) - e) * (d(col("n_tc")) - e) / e - e)
        .as("chi2_obs"))
    // Σe over ALL (r×c) grid cells is exactly n, so χ² = chi2_obs + n.
    obs.crossJoin(broadcast(tot))
      .select(col("n").as("n_events"), col("r").as("n_types"),
        col("c").as("n_dows"),
        r4(col("chi2_obs") + d(col("n"))).as("chi2"),
        r4(sqrt((col("chi2_obs") + d(col("n"))) /
          (d(col("n")) * d(least(col("r"), col("c")) - lit(1L)))))
          .as("cramers_v"))
  }

  /** χ²(k=5) 99th percentile — the gate for [[qMahalanobis]]'s flag. */
  private[graft] val Chi2k5p99 = 15.0863

  /** Mahalanobis distance (diagonal covariance) over the per-user
    * behavioral feature vector — multivariate outlier screening that
    * respects each feature's own scale, where a z-score looks at one
    * axis at a time. Full covariance needs a matrix inverse (driver-side
    * linear algebra the 5-feature case doesn't justify); the diagonal
    * form Σᵢ (xᵢ−μᵢ)²/σᵢ² is the standard large-scale compromise and is
    * exactly scipy's standardized euclidean. Flag at the χ²(5) 99%
    * quantile, the textbook multivariate-normal cut.
    *
    * Shape: the user-feature aggregation, then ONE global aggregation
    * for (μ, σ²) of the 5 features as exact DECIMAL sums → a 1-row
    * broadcast; the distance is per-row scalar arithmetic (5 terms
    * summed INSIDE one row expression — no cross-row double
    * accumulation anywhere, so r4 is boundary-safe). Zero-variance
    * features contribute 0 on both engines (undefined axis carries no
    * outlier signal).
    */
  def qMahalanobis(spark: SparkSession, dir: String): DataFrame = {
    val u = userFeatures(spark, dir)
    val fs = CorrFeatures
    def dd(f: String): Column = col(f).cast("decimal(18,0)")
    val stats = u.agg(count(lit(1)).as("n"),
      fs.map(f => sum(dd(f)).as(s"s_$f")) ++
        fs.map(f => sum(dd(f) * dd(f)).as(s"ss_$f")): _*)
    def d(c: Column): Column = c.cast("double")
    val dist2 = fs.map { f =>
      val m = d(col(s"s_$f")) / d(col("n"))
      val v = (d(col(s"ss_$f")) - d(col(s"s_$f")) * d(col(s"s_$f")) /
        d(col("n"))) / (d(col("n")) - lit(1.0))
      when(v > 0, (d(col(f)) - m) * (d(col(f)) - m) / v).otherwise(lit(0.0))
    }.reduce(_ + _)
    u.crossJoin(broadcast(stats))
      .select(col("user_id") +: fs.map(col) :+
        r4(dist2).as("m_dist2") :+
        when(dist2 > Chi2k5p99, 1L).otherwise(0L).as("is_outlier"): _*)
      .orderBy(col("user_id"))
  }
}
