package graft.operators

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral threat analytics — the Spark-first re-expression of the
  * reference's Neo4j graph queries and feature extraction.
  *
  * The reference materializes a property graph (neo4j_setup.py:28-110:
  * User-PERFORMS->Activity, User-USES->System, Activity-INVOLVES->Resource)
  * because pandas can't aggregate it well. Every one of its Cypher queries
  * (neo4j_analysis.py:6-122) is a per-user aggregation over the activity
  * edge list — so here the "graph" stays what it really is: the events
  * table, with `user_id` as User, `event_type` as Activity and
  * `props.$.k` as Resource. Each query is map-side partially aggregated
  * and shuffles exactly once on the high-cardinality user key; nothing is
  * collected to the driver, so the same plan runs on 100 TB of logs.
  */
object ThreatOps {

  /** Shadow: every behavioral query in this object reads the event log
    * through [[graft.Tables.cleanEvents]] (the preprocess null-drop
    * policy), so a null user_id / ts / event_type can never form a
    * phantom per-user group or a null temporal bucket.
    */
  private def events(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.cleanEvents(spark, dir)

  /** Events with the resource extracted from the JSON props payload.
    * (Deliberately NOT spread(): the round-robin exchange of full props
    * rows costs more than the single-split JSON parse it would
    * parallelize — measured at sf0.1; at scale the scan has many splits
    * and the question disappears.)
    */
  private def activityLog(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("resource", get_json_object(col("props"), "$.k"))

  private val hourOfDay: Column = hour(col("ts"))
  // Monday=0 .. Sunday=6 (matches pandas dt.dayofweek used by the ref).
  private val dayOfWeek: Column = expr("weekday(ts)")
  private[operators] val isAfterHours: Column =
    when(afterHours(hourOfDay), 1L).otherwise(0L)
  private[operators] val isWeekend: Column = when(weekend(dayOfWeek), 1L).otherwise(0L)

  /** Temporal-feature derivation (ref: data_preprocessing.py:14-28):
    * timestamp → hour_of_day / day_of_week / is_weekend / is_after_hours,
    * dropping rows whose critical columns are null. Narrow projection —
    * no shuffle at all; runs at scan speed.
    */
  def qPreprocess(spark: SparkSession, dir: String): DataFrame =
    // the null-drop itself happens in the shared cleanEvents shadow —
    // this op's contract is the temporal-feature derivation on top
    activityLog(spark, dir)
      .select(
        col("event_id"), col("user_id"), col("event_type"), col("resource"),
        hourOfDay.cast("long").as("hour_of_day"),
        dayOfWeek.cast("long").as("day_of_week"),
        isWeekend.as("is_weekend"),
        isAfterHours.as("is_after_hours"))
      .orderBy(col("event_id"))

  /** Users with the most after-hours activity (ref: neo4j_analysis.py:15-22).
    * Filter is evaluated pre-shuffle; top-10 with a deterministic
    * (count DESC, user ASC) tiebreak.
    */
  def qAfterHoursTop(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .filter(afterHours(hourOfDay))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("after_hours_count"))
      .orderBy(col("after_hours_count").desc, col("user_id").asc)
      .limit(10)

  /** Users touching the most distinct resources (ref: neo4j_analysis.py:28-36). */
  def qResourceAccess(spark: SparkSession, dir: String): DataFrame =
    activityLog(spark, dir)
      .groupBy(col("user_id"))
      .agg(countDistinct(col("resource")).as("unique_resources"),
        count(lit(1)).as("total_accesses"))
      .orderBy(col("unique_resources").desc, col("user_id").asc)
      .limit(10)

  /** Highest-activity users (ref: neo4j_analysis.py:42-48). */
  def qHighActivity(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("activity_count"))
      .orderBy(col("activity_count").desc, col("user_id").asc)
      .limit(10)

  /** Per-user activity-type breakdown (ref: neo4j_analysis.py:54-61) —
    * the full user × event_type count matrix instead of Cypher's nested
    * collect(); downstream consumers pivot/collect as needed.
    */
  def qActivityPatterns(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("user_id").asc, col("n").desc, col("event_type").asc)

  /** Degree centrality (ref: neo4j_analysis.py:67-83). In the reference
    * graph every log row creates one PERFORMS and one USES edge from the
    * user (neo4j_setup.py:69-85), so total degree = 2 × activity count —
    * no graph store needed to compute it.
    */
  def qDegreeCentrality(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("user_id"))
      .agg((count(lit(1)) * 2).as("total_degree"))
      .orderBy(col("total_degree").desc, col("user_id").asc)
      .limit(10)

  /** Shannon entropy of a per-user categorical distribution, computed from
    * integer counts as H = log2(N) − Σ f·log2(f) / N. Two cascaded
    * aggregations — (user, key) then (user) — both map-side combined.
    * Rounded to 4 dp for cross-engine hash stability.
    */
  private def entropyOf(df: DataFrame, keyCol: Column, outName: String): DataFrame =
    df.groupBy(col("user_id"), keyCol.as("k"))
      .agg(count(lit(1)).cast("double").as("f"))
      .groupBy(col("user_id"))
      .agg(
        r4(log2(sum(col("f"))) - sum(col("f") * log2(col("f"))) / sum(col("f"))).as(outName),
        sum(col("f")).cast("long").as("n"))

  /** Activity-type entropy per user (ref: neo4j_analysis.py:89-114). */
  def qActivityEntropy(spark: SparkSession, dir: String): DataFrame =
    entropyOf(events(spark, dir), col("event_type"), "activity_entropy")
      .withColumnRenamed("n", "activity_count")
      .orderBy(col("activity_entropy").desc, col("user_id").asc)

  /** Hour-of-day entropy per user (ref: neo4j_analysis.py:219-240). */
  def qTemporalEntropy(spark: SparkSession, dir: String): DataFrame =
    entropyOf(events(spark, dir), hourOfDay.cast("long"), "temporal_entropy")
      .withColumnRenamed("n", "activity_count")
      .orderBy(col("temporal_entropy").desc, col("user_id").asc)

  /** Resource-access entropy per user (ref: neo4j_analysis.py:249-289). */
  def qResourceEntropy(spark: SparkSession, dir: String): DataFrame =
    entropyOf(activityLog(spark, dir), col("resource"), "resource_entropy")
      .withColumnRenamed("n", "access_count")
      .orderBy(col("resource_entropy").desc, col("user_id").asc)

  /** User × hour-of-day activity matrix (24 fixed columns) — the data
    * behind the reference's temporal-distribution heatmap
    * (neo4j_visualization.py:107-166 plots exactly this). Conditional
    * aggregation, one shuffle.
    */
  def qHourlyHeatmap(spark: SparkSession, dir: String): DataFrame = {
    val hourCols = (0 until 24).map(h =>
      sum(when(hourOfDay === h, 1L).otherwise(0L)).as(f"h_$h%02d"))
    events(spark, dir)
      .groupBy(col("user_id"))
      .agg(hourCols.head, hourCols.tail: _*)
      .orderBy(col("user_id"))
  }

  /** Approximate per-user distinct-resource counts via HyperLogLog++ —
    * the 100 TB swap-in for [[qResourceAccess]]'s exact countDistinct
    * (exact distinct needs per-key de-dup state proportional to
    * cardinality; HLL state is a fixed sketch, and sketches merge, so
    * partial aggregation stays map-side). rows-only: HLL internals are
    * engine-specific. Spec bounds the error against the exact count.
    */
  def qResourceAccessApprox(spark: SparkSession, dir: String): DataFrame =
    activityLog(spark, dir)
      .groupBy(col("user_id"))
      .agg(approx_count_distinct(col("resource"), 0.02).as("approx_resources"),
        count(lit(1)).as("total_accesses"))
      .orderBy(col("approx_resources").desc, col("user_id").asc)
      .limit(10)

  /** Sequence-pattern (funnel) detection: per user, first signup and the
    * first purchase at-or-after it; converted_1h flags the signup→purchase
    * sequence completing within an hour (exact-microsecond window). Two
    * user-keyed aggregations and two user-keyed joins — co-partitioned,
    * so the pattern match costs one shuffle of each (tiny) event slice,
    * the CEP-over-log shape that scales.
    */
  def qFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_signup"))
    val pu = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"))
      .join(su, "user_id")
      .filter(col("ts") >= col("first_signup"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_purchase_after"))
    su.join(pu, Seq("user_id"), "left")
      .withColumn("converted_1h",
        when(col("first_purchase_after").isNotNull &&
          unix_micros(col("first_purchase_after")) - unix_micros(col("first_signup"))
            <= 3600L * 1000000L, 1L).otherwise(0L))
      .select("user_id", "first_signup", "first_purchase_after", "converted_1h")
      .orderBy("user_id")
  }

  /** Co-access graph projection: pairs of users touching >= 2 common
    * resources — the two-hop Cypher pattern
    * (u1)-[:ACCESSES]->(r)<-[:ACCESSES]-(u2) the reference's graph model
    * implies (neo4j_setup.py:87-110 builds ACCESSES/INVOLVES edges).
    * Pair fan-out is Σ C(deg(r),2) over resources, not |users|² — and the
    * pairs are never materialized as a join result: per-resource user
    * sets are folded into a bounded partition-local count map (map-side
    * combining), so only distinct pairs reach the shuffle. At corpus
    * scale a frequency cap on ultra-hot resources (drop or sample r with
    * deg(r) > cap before pairing) bounds the quadratic term — standard
    * bipartite-projection practice. Top-100, deterministic.
    */
  def qCoaccessPairs(spark: SparkSession, dir: String): DataFrame =
    coaccessPairs(spark, dir, maxDegree = Int.MaxValue)

  /** Degree cap used by the REGISTERED production entry
    * [[qCoaccessCapped]]: generous enough that no sf0.1 resource is
    * anywhere near it (results match the uncapped oracle bit-for-bit on
    * driver data), tight enough to bound the quadratic pair term at
    * cap²/2 per resource when a planet-hot key shows up at corpus scale.
    */
  val CoaccessMaxDegree = 1000

  /** The capped co-access entry — the form you'd actually run at 100 TB.
    * [[qCoaccessPairs]] (uncapped, exact) stays as the oracle-parity
    * variant; this one drops resources with more than
    * [[CoaccessMaxDegree]] distinct users BEFORE pairing (see
    * [[coaccessPairs]]), so Σ deg² — the ×10-probe's measured scale
    * killer on the uncapped path — is bounded by construction. Its
    * oracle applies the same degree filter, so it is hash-checked too.
    */
  def qCoaccessCapped(spark: SparkSession, dir: String): DataFrame =
    coaccessPairs(spark, dir, maxDegree = CoaccessMaxDegree)

  /** Insider-ring detection: connected components of the capped
    * co-access graph (nodes = users, edges = pairs sharing ≥2 resources
    * from [[coaccessPairFrame]] under [[CoaccessMaxDegree]]). The graph
    * intuition the reference's Neo4j model sells — "who operates in the
    * same resource neighborhood" — without a graph store:
    * [[GraphOps.minLabelPropagation]] converges in diameter rounds, one
    * edge join + min-agg each. Users with no qualifying co-access edge
    * are singleton components of themselves. Emits component sizes (the
    * ring-size signal an analyst triages by) alongside the membership;
    * size attaches via a component-keyed join (components can approach
    * |users|, so never a broadcast). Deterministic (component id = min
    * user id) → hash-oracled against a recursive-CTE transitive closure.
    */
  /** The symmetrized edge list of the capped co-access projection —
    * shared (Memo'd per session/dir) by the components, blast-radius,
    * and any future traversal consumer; localCheckpointed because every
    * consumer reads it once per round.
    */
  private[operators] def coaccessEdges(spark: SparkSession, dir: String): DataFrame =
    // Memo.cached columnar pin + ONE explode, not union+localCheckpoint
    // (r17): the checkpointed row-store scan cost ~5 µs/row — every
    // k-core peel round and every frontier hop re-paid ~12 s CPU to
    // re-read 2.25M edges — and the union planned two scans of the pair
    // frame where one explode emits both directions in a single pass.
    // The columnar cache decodes the same edges at a fraction of that,
    // and the Memo pin keeps one copy per (session, dir) exactly as the
    // checkpoint did.
    graft.Memo.cached("coaccessEdges", spark, dir) {
      coaccessPairFrame(spark, dir, CoaccessMaxDegree)
        .select(explode(array(
          struct(col("user_a").as("src"), col("user_b").as("dst")),
          struct(col("user_b").as("src"), col("user_a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
    }

  /** k and round bound for [[qKcore]]. k = 3 targets the "mutually
    * embedded ring" shape (every member co-accesses with ≥3 ring
    * members — a triangle-dense neighborhood, not a hub-and-spoke);
    * 8 peel rounds are part of the declared semantics so the oracle
    * can replay exactly 8 unrolled iterations (the spec asserts the
    * fixpoint lands well inside the bound on real fixtures). */
  val KcoreK = 3
  val KcoreRounds = 8

  /** k-core of the capped co-access graph (Seidman 1983): iteratively
    * peel users with fewer than k co-access partners until the stable
    * inner subgraph remains — the maximal subgraph of minimum degree k.
    * Components and degree rank SIZE and VOLUME; the k-core grades
    * EMBEDDEDNESS: a user surviving the k=3 peel operates inside a
    * mutually-reinforcing cluster (the insider-ring candidate set),
    * while high-degree users hanging off hubs peel away. Runs on the
    * same Memo'd degree-capped edge frame as components/blast-radius
    * ([[coaccessEdges]]) via [[GraphOps.kCorePeel]] — per round one
    * count aggregate + two semi-joins, lineage checkpointed flat.
    * Emits each core member with its within-core degree (how deeply
    * embedded). Deterministic → hash-oracled against 8 identically
    * unrolled peel-round CTEs (the q_blast_radius pattern).
    */
  def qKcore(spark: SparkSession, dir: String): DataFrame = {
    // coaccessEdges unions both directions, so the frame is symmetric by
    // construction — the peel's converged round stays edge-scan-free
    val core = GraphOps.kCorePeel(coaccessEdges(spark, dir), KcoreK, KcoreRounds,
      assumeSymmetric = true)
    core.groupBy(col("src")).agg(count(lit(1)).as("core_degree"))
      .select(col("src").as("user_id"), col("core_degree"))
      .orderBy(col("user_id"))
  }

  /** Component-level cohesion: per connected component of the capped
    * co-access graph, member count, undirected edge count, and density
    * in exact integer basis points (2·E·10000 div n(n−1)) — the triage
    * column for [[qCoaccessComponents]]' ring candidates: a 12-user
    * component at density 9800 is a closed ring (everyone co-accesses
    * with everyone — the collusion shape), at 1800 it's a hub with
    * spokes (a service account's blast pattern). Rides the SAME Memo'd
    * label and pair frames the component/blast family pins (labels
    * attach to the pair frame by ONE endpoint key join — both endpoints
    * share a component by definition); singletons emit (1, 0, 0).
    * All-integer output, nothing for the cross-engine hash to drift on.
    */
  def qComponentDensity(spark: SparkSession, dir: String): DataFrame = {
    val labels = coaccessCompLabels(spark, dir)
    val pairs = coaccessPairFrame(spark, dir, CoaccessMaxDegree)
    val eCnt = pairs.join(labels, pairs("user_a") === labels("id"))
      .groupBy(col("lbl").as("component_id"))
      .agg(count(lit(1)).as("n_edges"))
    val users = graft.Tables.cleanEvents(spark, dir).select(col("user_id")).distinct()
    val nCnt = users.join(labels, col("user_id") === col("id"), "left")
      .groupBy(coalesce(col("lbl"), col("user_id")).as("component_id"))
      .agg(count(lit(1)).as("n_users"))
    nCnt.join(eCnt, Seq("component_id"), "left")
      .select(col("component_id"), col("n_users"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"))
      .withColumn("density_bp",
        when(col("n_users") >= 2,
          expr("n_edges * 2 * 10000 div (n_users * (n_users - 1))"))
          .otherwise(lit(0L)))
      .orderBy(col("component_id"))
  }

  /** Min-label components of the capped co-access graph
    * ([[coaccessEdges]]), Memo'd once per (session, dir). */
  private[graft] def coaccessCompLabels(spark: SparkSession, dir: String): DataFrame =
    graft.Memo("coaccessCompLabels", spark, dir) {
      GraphOps.minLabelPropagation(coaccessEdges(spark, dir))
    }

  def qCoaccessComponents(spark: SparkSession, dir: String): DataFrame = {
    val labels = coaccessCompLabels(spark, dir)
    val users = graft.Tables.cleanEvents(spark, dir).select(col("user_id")).distinct()
    val comp = users.join(labels, col("user_id") === col("id"), "left")
      .select(col("user_id"),
        coalesce(col("lbl"), col("user_id")).as("component_id"))
    val sizes = comp.groupBy(col("component_id"))
      .agg(count(lit(1)).as("component_size"))
    comp.join(sizes, Seq("component_id"))
      .select(col("user_id"), col("component_id"), col("component_size"))
      .orderBy(col("user_id"))
  }

  /** Peer-group anomaly: score each user against their OWN co-access
    * component ("acts unlike their team"), not the global population —
    * the peer-baseline refinement of [[graft.operators.MLOps.qZscoreAnomaly]]
    * an insider-threat analyst reaches for next (a sysadmin's 2am logins
    * are normal among sysadmins, anomalous globally). Per component:
    * exact-DECIMAL sufficient statistics (Σ, Σ²) for three features
    * (total activities, unique resources, after-hours ratio ×10⁴ as an
    * integer), then per-user z = |x−μ|/σ (population σ, zero-variance and
    * singleton components contribute 0), peer_z = max over features,
    * outlier gate at 3σ. Stats attach via a component-keyed join (never
    * broadcast: |components| can approach |users|); all cross-row
    * accumulation is integer-exact, so r4 is boundary-safe cross-engine.
    */
  def qPeerAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val comp = qCoaccessComponents(spark, dir)
      .select(col("user_id"), col("component_id"))
    val x = qUserFeatures(spark, dir)
      .select(col("user_id"), col("total_activities"), col("unique_resources"),
        col("after_hours_ratio"))
      .withColumn("ahr4",
        round(col("after_hours_ratio") * 10000).cast("decimal(18,0)"))
      .join(comp, "user_id")
    def dd(name: String): Column = col(name).cast("decimal(18,0)")
    val feats = Seq("total_activities", "unique_resources", "ahr4")
    val aggs = count(lit(1)).as("n") +: feats.flatMap(f => Seq(
      sum(dd(f)).as(s"s_$f"), sum(dd(f) * dd(f)).as(s"ss_$f")))
    val st = x.groupBy(col("component_id")).agg(aggs.head, aggs.tail: _*)
    def d(c: Column): Column = c.cast("double")
    val zs = feats.map { f =>
      val m = d(col(s"s_$f")) / d(col("n"))
      val v = (d(col(s"ss_$f")) - d(col(s"s_$f")) * d(col(s"s_$f")) / d(col("n"))) / d(col("n"))
      when(v > 0, abs(d(col(f)) - m) / sqrt(v)).otherwise(lit(0.0))
    }
    x.join(st, Seq("component_id"))
      .select(col("user_id"), col("component_id"), col("n").as("peer_n"),
        r4(greatest(zs: _*)).as("peer_z"))
      .withColumn("is_peer_outlier", when(col("peer_z") > 3.0, 1L).otherwise(0L))
      .orderBy(col("user_id"))
  }

  /** [[qCoaccessPairs]] with an explicit hot-resource degree cap: a
    * resource touched by more than `maxDegree` users contributes
    * C(deg,2) pairs — one planet-hot key (a login portal every employee
    * hits) can dominate Σ deg² while carrying no co-access signal.
    * Dropping r with deg(r) > cap bounds the quadratic term at
    * cap²·|resources|/2; counts become a lower bound for pairs that
    * co-accessed a dropped resource (standard bipartite-projection
    * practice). The oracle-checked entry runs uncapped.
    */
  def coaccessPairs(spark: SparkSession, dir: String, maxDegree: Int): DataFrame =
    topPairs(coaccessPairFrame(spark, dir, maxDegree))

  /** The 100 strongest pairs, ties by (user_a, user_b). */
  private def topPairs(pairs: DataFrame): DataFrame =
    pairs.orderBy(col("shared_resources").desc, col("user_a"), col("user_b"))
      .limit(100)

  /** The (resource, user_id) edges of the co-access projection and each
    * resource's degree, its count of distinct users. The user is never
    * NULL: [[activityLog]] reads [[graft.Tables.cleanEvents]].
    */
  private def resourceEdges(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val edges = activityLog(spark, dir).filter(col("resource").isNotNull)
    val deg = edges.select(col("resource"), col("user_id")).distinct()
      .groupBy(col("resource")).agg(count(lit(1)).as("deg"))
    (edges, deg)
  }

  /** [[resourceEdges]] on the resources of degree ≤ `maxDegree` only.
    * The degree filter runs BEFORE any per-resource collect_set, or the
    * hot key still materializes its full degree-sized array in one
    * aggregation buffer — the exact blowup the cap exists to prevent.
    * One extra (cheap, two-column) counting aggregation buys that.
    * Uncapped, the edges pass through: the caller's collect_set dedupes
    * (user, resource) while grouping, so no distinct() pre-pass.
    */
  private def cappedEdges(spark: SparkSession, dir: String, maxDegree: Int): DataFrame = {
    val (edges, deg) = resourceEdges(spark, dir)
    if (maxDegree == Int.MaxValue) edges
    else edges.join(deg.filter(col("deg") <= maxDegree).select(col("resource")),
      Seq("resource"), "left_semi")
  }

  /** The full (unordered, unlimited) co-access pair frame — the edge list
    * of the user-user projected graph. Shared by [[coaccessPairs]] (top-k
    * presentation) and [[qKnnTriangles]] (graph construction input).
    */
  private[operators] def coaccessPairFrame(
      spark: SparkSession, dir: String, maxDegree: Int): DataFrame =
    // Pinned per (session, dir, cap): the pair fold is the expensive half
    // of both consumers (top-k pairs, kNN triangle census) — one copy
    // serves both in the same session.
    graft.Memo.cached(s"coaccessPairFrame:$maxDegree", spark, dir) {
      coaccessPairFrameUncached(spark, dir, maxDegree)
    }

  /** Candidate-pair GENERATOR volume of the co-access projection:
    * Σ C(deg(r), 2) over resources with 2 ≤ deg(r) ≤ maxDegree, where
    * deg = distinct non-null users — the number of pairs the fold in
    * [[coaccessPairFrameUncached]] must touch BEFORE map-side combining.
    * This is the denominator the ×10 slope defense needs: on the hotkey
    * fixture the volume grows ×factor², so an at-factor wall is an order
    * SUBLINEAR. Emitted by the scale probe into the slope artifact
    * (r14 verdict #4) so the sublinearity claim is machine-checkable per
    * run instead of a prose note that can go stale.
    */
  private[graft] def coaccessGeneratorVolume(
      spark: SparkSession, dir: String, maxDegree: Int): Long = {
    val deg = resourceEdges(spark, dir)._2
      .filter(col("deg") >= 2 && col("deg") <= maxDegree)
    deg.select(sum(col("deg") * (col("deg") - 1) / 2).cast("long").as("v"))
      .collect().headOption.map(r => if (r.isNullAt(0)) 0L else r.getLong(0))
      .getOrElse(0L)
  }

  private def coaccessPairFrameUncached(
      spark: SparkSession, dir: String, maxDegree: Int): DataFrame = {
    val s = spark
    import s.implicits._
    // Packed (a<<32 | b) pair keys need ids in [0, 2^31). Validate in the
    // scan stage — one codegen'd comparison per row — so an oversized id
    // fails the FIRST stage with an actionable message instead of a bare
    // require() deep inside the pair-fold shuffle. Id spaces beyond 2^31
    // are served by [[coaccessPairsWide]] (struct pair keys, no packing).
    // cleanEvents already dropped NULL ids, so only a real out-of-range
    // id reaches the raise_error branch.
    val guarded = cappedEdges(spark, dir, maxDegree).withColumn("user_id",
      when(col("user_id") >= 0 && col("user_id") < (1L << 31), col("user_id"))
        .otherwise(raise_error(concat(
          lit("qCoaccessPairs: user_id "), col("user_id").cast("string"),
          lit(" outside packable range [0, 2^31); use coaccessPairsWide")))
          .cast("long")))
    val perResource = guarded
      .groupBy(col("resource"))
      .agg(collect_set(col("user_id")).as("users"))
      .filter(size(col("users")) >= 2)
      .select(col("users"))
    // Pair generation + map-side combining in one tight partition-local
    // loop. A self-join materializes Σ deg(r)² rows (53M at sf0.1) just to
    // hash-aggregate them back down to |user pairs| (≤ C(|users|,2), 24×
    // smaller here); instead each partition folds its pairs straight into
    // a primitive packed-long → count map and emits only its DISTINCT
    // pairs. Fewer, fatter partitions maximize that local dedup (each
    // partition's emission is capped by |distinct pairs|, not Σ deg²)
    // while keeping the counting loop parallel; the map is BOUNDED — at
    // FlushAt entries it drains (lazily, mid-group) to the iterator and
    // Spark sums the partials — so map memory is FlushAt + one anchor
    // row, independent of how many pairs a resource generates.
    val pairParts = math.max(4, spark.sparkContext.defaultParallelism / 4)
    val partial = perResource.repartition(pairParts)
      .as[Array[Long]].mapPartitions(ThreatOps.foldPairs(_, PairFlushAt))
    // Explicit hash repartition by pair key: the fold already did map-side
    // combining, and the final sum over millions of partial pairs is
    // CPU-bound — size-based AQE coalescing would squeeze it onto a
    // couple of reduce tasks, so pin the aggregation width to the session
    // shuffle parallelism (the groupBy reuses this partitioning; no
    // second exchange).
    partial.toDF("pk", "c")
      .repartition(spark.sparkContext.defaultParallelism, col("pk"))
      .groupBy(col("pk")).agg(sum(col("c")).as("shared_resources"))
      .filter(col("shared_resources") >= 2)
      .select(shiftright(col("pk"), 32).as("user_a"),
        col("pk").bitwiseAND(lit(0xffffffffL)).as("user_b"),
        col("shared_resources"))
  }

  /** Event-type totals via [[SkewOps.saltedCountSum]]: the salted
    * two-stage aggregation surfaced as a gated query.
    * event_type has only 5 keys — each holds ~20% of ALL rows, exactly
    * the single-hot-key shape AQE's skew handling can't split for
    * aggregations (skew-join splitting doesn't apply to groupBy). The
    * salt fans each key across 16 reducers for the heavy shuffle; the
    * combine stage moves |keys|·salt rows. Result is exactly the plain
    * groupBy — which is what the DuckDB oracle runs.
    */
  def qSkewAgg(spark: SparkSession, dir: String): DataFrame =
    // decimal value: the salted two-stage sum REORDERS accumulation by
    // construction, so only an exact (2-dp decimal) accumulator makes the
    // result independent of the salt assignment — and hash-stable vs the
    // oracle's unsalted single-stage sum
    SkewOps.saltedCountSum(events(spark, dir), col("event_type"),
        col("value").cast("decimal(14,2)"))
      .select(col("key").as("event_type"), col("count").as("n"),
        round(col("sum"), 2).cast("double").as("sum_value"))
      .orderBy(col("event_type"))

  /** Struct-keyed co-access fallback for id spaces beyond 2^31 (packed
    * longs can't hold them). Pairs are exploded per resource and combined
    * by Spark's own partial hash aggregate — map-side combine still
    * happens, just through Row-shaped buffers instead of the primitive
    * [[LongCountMap]] (~2-3× the per-pair cost; unbounded id range).
    * Same result contract as [[coaccessPairs]].
    */
  def coaccessPairsWide(spark: SparkSession, dir: String,
      maxDegree: Int = Int.MaxValue): DataFrame = {
    val s = spark
    import s.implicits._
    val perResource = cappedEdges(spark, dir, maxDegree)
      .groupBy(col("resource"))
      .agg(collect_set(col("user_id")).as("users"))
      .filter(size(col("users")) >= 2)
      .select(sort_array(col("users")).as("users"))
    val pairs = perResource
      .as[Array[Long]]
      // Lazy pair generation: a strict for-yield would materialize all
      // C(deg,2) pairs of one resource as an in-memory collection before
      // Spark's partial aggregate consumes any — one hot resource at the
      // unbounded-degree default could OOM the executor. Iterators keep
      // the footprint at O(1) per emitted pair.
      .flatMap { users =>
        (0 until users.length - 1).iterator.flatMap(i =>
          (i + 1 until users.length).iterator.map(j => (users(i), users(j))))
      }
      .toDF("user_a", "user_b")
      .groupBy(col("user_a"), col("user_b"))
      .agg(count(lit(1)).as("shared_resources"))
      .filter(col("shared_resources") >= 2)
    topPairs(pairs)
  }

  /** Partition-local pair-count map bound for [[foldPairs]]. */
  private val PairFlushAt = 1 << 22

  /** The co-access fold kernel: per-resource sorted user arrays → packed
    * (a<<32 | b) pair keys combined in a [[LongCountMap]], emitting
    * (pair, partialCount) rows. Flush is checked per ANCHOR ROW (after
    * each inner j-loop) and drained chunks are emitted LAZILY through the
    * returned iterator — one hot resource generating C(deg,2) ≫ flushAt
    * pairs drains many times within its group instead of growing the map
    * (or buffering chunks) unboundedly. Map memory is bounded by
    * flushAt + deg entries; planet-hot degrees beyond that are what the
    * maxDegree cap is for.
    */
  private[graft] def foldPairs(groups: Iterator[Array[Long]],
      flushAt: Int): Iterator[(Long, Long)] = {
    val m = new LongCountMap(1 << 16)
    val flushed = groups.flatMap { users =>
      java.util.Arrays.sort(users)
      // Packed (a<<32 | b) pair key needs ids in [0, 2^31); beyond
      // that (planet-scale id spaces) key on a (a,b) struct instead.
      require(users(0) >= 0 && users(users.length - 1) < (1L << 31),
        "user_id out of packable range [0, 2^31)")
      val n = users.length
      (0 until n - 1).iterator.flatMap { i =>
        val a = users(i) << 32
        var j = i + 1
        while (j < n) { m.increment(a | users(j)); j += 1 }
        if (m.size >= flushAt) m.drain() else Iterator.empty
      }
    }
    flushed ++ m.drain()
  }

  /** Flagship: the full per-user ML feature matrix
    * (ref: neo4j_analysis.py:124-247) in ONE wide aggregation.
    *
    * The reference runs seven separate Cypher subqueries per user; here
    * conditional aggregation (`sum(when(...))`) fuses the counts into a
    * single shuffle on user_id, and the two entropy features are computed
    * by sub-aggregations that are already partitioned by user_id — AQE
    * recognizes the co-partitioning so the joins add no extra exchange of
    * the big side.
    */
  def qUserFeatures(spark: SparkSession, dir: String): DataFrame = {
    val log = activityLog(spark, dir)
    val base = log.groupBy(col("user_id")).agg(
      count(lit(1)).as("total_activities"),
      sum(isAfterHours).as("after_hours_activities"),
      sum(isWeekend).as("weekend_activities"),
      countDistinct(col("resource")).as("unique_resources"),
      countDistinct(col("event_type")).as("activity_types"))
    val actEnt = entropyOf(events(spark, dir), col("event_type"), "activity_entropy")
      .select("user_id", "activity_entropy")
    val tmpEnt = entropyOf(events(spark, dir), hourOfDay.cast("long"), "temporal_entropy")
      .select("user_id", "temporal_entropy")
    base
      .join(actEnt, "user_id")
      .join(tmpEnt, "user_id")
      .withColumn("after_hours_ratio",
        r4(col("after_hours_activities") / greatest(col("total_activities"), lit(1))))
      .withColumn("weekend_ratio",
        r4(col("weekend_activities") / greatest(col("total_activities"), lit(1))))
      .orderBy(col("user_id"))
  }

  /** Sketch rollup — the PRECOMPUTE-then-MERGE form of approximate
    * distinct counting: per-day HLL sketches (DataSketches
    * `hll_sketch_agg`, lgK=12 ⇒ ~2 KB each) are built once, then
    * `hll_union_agg` re-aggregates them to ANY coarser span without
    * touching raw data. At 100 TB this is the difference between a
    * nightly incremental sketch append and re-scanning the log for every
    * "distinct users last N days" ask; the union is associative, so
    * daily partials compose into weeks/months/arbitrary ranges. Emits
    * per-day estimates plus the all-days union ('ALL' row).
    */
  def qSketchRollup(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"),
        count(lit(1)).as("n_events"))
    val perDay = daily.select(
      date_format(col("d"), "yyyy-MM-dd").as("day"),
      hll_sketch_estimate(col("sk")).as("est_users"), col("n_events"))
    val overall = daily.agg(
      hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("est_users"),
      sum(col("n_events")).as("n_events"))
      .select(lit("ALL").as("day"), col("est_users"), col("n_events"))
    perDay.unionByName(overall).orderBy(col("day"))
  }

  /** Approximate SET ALGEBRA on sketches — the capability HLL lacks:
    * DataSketches Theta sketches support intersection and difference, so
    * "users who clicked AND purchased" (the exact [[RelationalOps
    * .qSetOps]] INTERSECT/EXCEPT) is answered from two fixed-size
    * sketches WITHOUT a distinct-shuffle of either population. At 100 TB
    * the two sketches are built in one scan each (map-side partial
    * union), and any cross-population question — including ones not
    * anticipated when the sketches were persisted — costs driver-side
    * set algebra on KBs. One-row output; spec bounds error vs exact.
    */
  def qSketchSetops(spark: SparkSession, dir: String): DataFrame = {
    def sketchOf(t: String) = events(spark, dir)
      .filter(col("event_type") === t)
      .agg(theta_sketch_agg(col("user_id")).as(s"sk_$t"))
    sketchOf("click").crossJoin(sketchOf("purchase"))
      .select(
        theta_sketch_estimate(col("sk_click")).as("est_click"),
        theta_sketch_estimate(col("sk_purchase")).as("est_purchase"),
        theta_sketch_estimate(theta_union(col("sk_click"), col("sk_purchase")))
          .as("est_union"),
        theta_sketch_estimate(theta_intersection(col("sk_click"), col("sk_purchase")))
          .as("est_both"),
        theta_sketch_estimate(theta_difference(col("sk_click"), col("sk_purchase")))
          .as("est_click_only"))
  }

  /** Behavioral sequence mining: the global next-event transition matrix
    * (Markov bigrams). lag() over each user's time-ordered stream pairs
    * every event with its predecessor — ONE window shuffle on user_id,
    * then a tiny (from, to) aggregation; prob normalizes per source type.
    * Sequence-pattern deviations (a user whose login→purchase chain
    * never appears in the baseline matrix) are a standard insider-threat
    * signal the reference's per-type counts can't see.
    */
  def qEventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val bigrams = events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val wTot = org.apache.spark.sql.expressions.Window.partitionBy(col("from_type"))
    bigrams
      .select(col("from_type"), col("to_type"), col("n"),
        r4(col("n") / sum(col("n")).over(wTot)).as("prob"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Unusual-access scoring via pointwise mutual information:
    * PMI(u, r) = log2(N·c(u,r) / (c(u)·c(r))). A strongly NEGATIVE PMI
    * marks a (user, resource) pairing that occurs despite both sides
    * predicting it shouldn't — the "first touch of a sensitive share"
    * signal, scored against the user's own volume and the resource's
    * popularity. Three aggregations over the same edge list; the two
    * marginals join back on their own keys (user join is co-partitioned
    * with the pair agg's user grouping; resource marginal is small →
    * broadcast at these SFs, shuffle-join at 100 TB). Bottom-100 by PMI.
    */
  def qRareAccessPmi(spark: SparkSession, dir: String): DataFrame = {
    val edges = activityLog(spark, dir)
      .filter(col("resource").isNotNull)
      .select(col("user_id"), col("resource"))
    // ONE scan: both marginals and the grand total derive from the pair
    // counts (Σ n_ur over either key), so the log is read and
    // JSON-parsed once; the follow-up aggregations move |pairs| rows,
    // not |rows|. At these SFs `pair` is recomputed per consumer (still
    // cheaper than three extra scans); at 100 TB the same three-reads
    // tradeoff favors this shape even more because the scan dominates.
    val pair = edges.groupBy(col("user_id"), col("resource"))
      .agg(count(lit(1)).as("n_ur"))
    val byUser = pair.groupBy(col("user_id")).agg(sum(col("n_ur")).as("n_u"))
    val byRes = pair.groupBy(col("resource")).agg(sum(col("n_ur")).as("n_r"))
    // the grand total rides along as a 1-row broadcast cross join (no
    // separate job, no driver scalar): all four subtrees share the SAME
    // pair Exchange via ReuseExchange, so the log is scanned once
    val totalDf = byUser.agg(sum(col("n_u")).cast("double").as("total"))
    pair
      .join(byUser, "user_id")
      .join(byRes, "resource")
      .crossJoin(broadcast(totalDf))
      .select(col("user_id"), col("resource"), col("n_ur"), col("n_u"), col("n_r"),
        r4(log2(col("n_ur") * col("total") / (col("n_u") * col("n_r"))))
          .as("pmi"))
      .orderBy(col("pmi").asc, col("user_id"), col("resource"))
      .limit(100)
  }

  /** Behavior-drift detection: each user-day's activity vs an
    * exponentially-decayed weighted average of the prior 7 days
    * (weight 0.5^(age-1) — gap-correct: weights follow CALENDAR distance,
    * so a 3-day absence decays the baseline the same as three quiet
    * days). The trailing window is a forward-interval self-join
    * (equi user + bounded date range — same shape as [[RelationalOps
    * .qIntervalJoin]], never nested-loop); drift = today / baseline.
    * This is the time-series escalation primitive the reference's static
    * per-user totals can't express: a slowly-ramping exfiltration shows
    * as sustained drift > 1.
    *
    * Engine-exactness: ewma7/drift are emitted UNROUNDED. Every weight
    * 0.5^k is an exact dyadic double and every term pn·0.5^k needs
    * ≤14 bits of mantissa, so the windowed sums are exact in ANY
    * accumulation order; the two divisions then round identically on
    * both engines ⇒ the raw doubles are bit-identical cross-engine.
    * Rounding to 4 decimals was the ONLY divergence the sf0.1 gate
    * found here: Spark's Round (shortest-decimal HALF_UP) and DuckDB's
    * round (scaled half-away) split values whose shortest repr lands
    * exactly on a .xxxx5 boundary — so rounding is what BROKE equality,
    * and omitting it is what guarantees it.
    */
  def qEwmaDrift(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
    // Rename every prior-side column: the self-join would otherwise carry
    // same-exprId attributes on both sides (daily is one plan subtree).
    val prior = daily.select(col("user_id").as("pu"), col("d").as("pd"),
      col("n").as("pn"))
    daily.as("a")
      .join(prior,
        col("a.user_id") === col("pu") &&
          col("pd") >= date_sub(col("a.d"), 7) && col("pd") < col("a.d"),
        "left")
      .groupBy(col("a.user_id").as("user_id"), col("a.d").as("d"),
        col("a.n").as("n"))
      .agg(
        sum(col("pn") * pow(lit(0.5), datediff(col("a.d"), col("pd")) - 1))
          .as("wsum"),
        sum(pow(lit(0.5), datediff(col("a.d"), col("pd")) - 1)).as("wnorm"))
      .select(col("user_id"), date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("n"), (col("wsum") / col("wnorm")).as("ewma7"),
        (col("n") / (col("wsum") / col("wnorm"))).as("drift"))
      .orderBy(col("user_id"), col("day"))
  }

  /** CUSUM changepoint score per user: standardized daily-activity
    * deviations accumulated in day order; the peak |cusum| marks the most
    * likely behavior-change point (Page 1954's cumulative-sum chart, the
    * drift detector that catches SLOW shifts EWMA's short memory forgets).
    *
    * Engine-exactness, the INTEGER way: because σ is constant per user,
    *   cusum_k = Σ_{i≤k}(n_i−mean)/σ = (c·S_k − k·s)/(c·σ)
    * with S_k the running integer day-count sum, so the argmax day is
    * decided ENTIRELY on the exact long `|c·S_k − k·s|` — no float
    * accumulation near the argmax at all. The sf0.1 gate caught the
    * float version: a user whose cusum RETURNED exactly to its peak
    * value (deviations netting zero) made the argmax hinge on which
    * engine's windowed float summation preserved the mathematical tie.
    * Longs can't disagree. peak_cusum is then ONE identically-shaped
    * float expression over integer inputs (num/(c·σ)), emitted
    * unrounded — bit-identical cross-engine. Overflow headroom: c·S is
    * (days per user)·(events per user); 10⁶ daily events for 10³ years
    * still fits a long with 2⁰⁰⁺ to spare.
    * One shuffle on user_id; windows and stats share the partitioning.
    */
  def qCusumDrift(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
    val stats = daily.groupBy(col("user_id").as("su"))
      .agg(sum(col("n")).as("s"), sum(col("n") * col("n")).as("ss"),
        count(lit(1)).as("c"))
    val byDay = Window.partitionBy(col("user_id")).orderBy(col("d"))
    val run = daily
      .withColumn("k", row_number().over(byDay))
      .withColumn("rs", sum(col("n")).over(byDay))
    val num = abs(col("c") * col("rs") - col("k") * col("s"))
    def dd(c: Column): Column = c.cast("double")
    val variance =
      dd(col("ss")) / dd(col("c")) -
        (dd(col("s")) / dd(col("c"))) * (dd(col("s")) / dd(col("c")))
    val peak = Window.partitionBy(col("user_id"))
      .orderBy(col("num").desc, col("d"))
    run.join(stats, col("user_id") === col("su"))
      .withColumn("num", num)
      .withColumn("rk", row_number().over(peak))
      .filter(col("rk") === 1)
      .select(col("user_id"),
        date_format(col("d"), "yyyy-MM-dd").as("changepoint_day"),
        when(variance > 0,
          dd(col("num")) / (dd(col("c")) * sqrt(variance)))
          .otherwise(lit(0.0)).as("peak_cusum"),
        col("c").as("n_days"))
      .orderBy(col("user_id"))
  }

  /** Seasonal-baseline anomaly cells: each (user, weekday, hour) activity
    * count vs the user's uniform 168-cell expectation, scored with a
    * Poisson z `(obs − exp)/√exp` — the hour-of-week seasonal profile
    * behind "this user is active at a time they never are". Top-50
    * hottest cells. One aggregation on (user, dow, hour) then a tiny
    * per-user total joined back — both shuffles on user-prefixed keys.
    */
  def qSeasonalBaseline(spark: SparkSession, dir: String): DataFrame = {
    val cells = events(spark, dir)
      .groupBy(col("user_id"), dayOfWeek.cast("long").as("day_of_week"),
        hourOfDay.cast("long").as("hour_of_day"))
      .agg(count(lit(1)).as("n"))
    val totals = cells.groupBy(col("user_id").as("tu"))
      .agg(sum(col("n")).as("total"))
    cells.join(totals, col("user_id") === col("tu"))
      .select(col("user_id"), col("day_of_week"), col("hour_of_day"), col("n"),
        r4(col("total") / 168.0).as("expected"),
        r4((col("n") - col("total") / 168.0) / sqrt(col("total") / 168.0)).as("z"))
      .orderBy(col("z").desc, col("user_id"), col("day_of_week"), col("hour_of_day"))
      .limit(50)
  }

  /** PageRank over the bipartite user↔resource access graph, 3 fixed
    * iterations, damping 0.85 — the graph-centrality upgrade of
    * [[qDegreeCentrality]] (a resource matters more when important users
    * touch it, recursively). Spark-first Pregel shape: the edge list is
    * the only big frame; each iteration is one join (edges ⋈ ranks on
    * src, co-partitioned after the first shuffle) + one aggregation on
    * dst. Degrees attach ONCE outside the loop. No vertex mutation, no
    * graph store — at 100 TB the edge list partitions on src and every
    * iteration reuses that exchange. Undirected (both edge directions
    * present), so no dangling-mass correction is needed.
    */
  def qPagerank(spark: SparkSession, dir: String): DataFrame = {
    // The loop-invariant graph structure (edges + degrees) is PINNED:
    // without it each of the 3 iterations re-derives the distinct edge
    // list from the raw log (17 parquet scans in the un-cached plan) —
    // the iterative-algorithm equivalent of GraphX materializing its
    // edge RDD. One cache keyed by (session, dir); Memo dedups across
    // queries and unpersists deterministically.
    val contribs = graft.Memo.cached("pagerankContribs", spark, dir) {
      val ur = activityLog(spark, dir)
        .filter(col("resource").isNotNull)
        .select(concat(lit("u"), col("user_id")).as("u"),
          concat(lit("r"), col("resource")).as("r"))
        .distinct()
      val edges = ur.select(col("u").as("src"), col("r").as("dst"))
        .unionAll(ur.select(col("r").as("src"), col("u").as("dst")))
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      edges.join(deg, "src") // degrees attach once
    }
    val deg = contribs.select(col("src"), col("d")).distinct()
    val n = deg.count() // one scalar to the driver: the node count
    var ranks = deg.select(col("src").as("node"), (lit(1.0) / n).as("rank"))
    for (_ <- 1 to 3)
      ranks = contribs
        .join(ranks, col("src") === col("node"))
        .groupBy(col("dst"))
        .agg((lit(0.15) / n + lit(0.85) * sum(col("rank") / col("d"))).as("rank"))
        .select(col("dst").as("node"), col("rank"))
    ranks
      .select(col("node"),
        when(col("node").startsWith("u"), "user").otherwise("resource").as("kind"),
        r4(col("rank") * 1000).as("rank_x1000"))
      .orderBy(col("node"))
  }

  /** Triangle census of the k-nearest-neighbor co-access graph: each user
    * keeps edges to their 3 strongest co-access partners (by shared
    * resources — the kNN sparsification that keeps the graph bounded even
    * where raw co-access is near-complete), edges are symmetrized, and
    * triangles counted by the ordered two-path join. Per-user triangle
    * participation = local clustering signal (insider cliques). The kNN
    * sparsifier feeds from the CAPPED co-access frame (the deg ≤
    * [[CoaccessMaxDegree]] frame behind [[qCoaccessCapped]], mirrored in
    * the oracle), so the input pair fold is bounded by cap²/2 per
    * resource — the ×10 probe measured the uncapped fold at slope 466,
    * the single worst number in the suite, and this is its production
    * fix. The kNN rank is a per-user window over ≤|users| rows; the
    * triangle join degree is capped by k on every vertex, so fan-out is
    * O(k²·|users|), never O(edges²).
    */
  def qKnnTriangles(spark: SparkSession, dir: String): DataFrame = {
    val und = knnEdges(spark, dir)
    val tri = und.as("e1")
      .join(und.as("e2"), col("e1.b") === col("e2.a"))
      .join(und.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("user_id"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("n_triangles").desc, col("user_id"))
  }

  /** Undirected 3-NN edge set of the capped co-access graph (each user's
    * 3 strongest partners by shared-resource count, deterministic
    * tiebreak, then symmetrized/deduped) — the bounded-degree
    * sparsification [[qKnnTriangles]] and [[qClusteringCoeff]] both
    * traverse. Memo.cached: it is self-joined three times by the
    * triangle join and twice more by the coefficient's degree count;
    * uncached, each consumer re-runs the per-user rank window over the
    * full directed pair frame.
    */
  private def knnEdges(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.cached("knnEdges", spark, dir) {
      val pairs = coaccessPairFrame(spark, dir, maxDegree = CoaccessMaxDegree)
      val directed = pairs.select(col("user_a").as("u"), col("user_b").as("v"), col("shared_resources"))
        .unionAll(pairs.select(col("user_b").as("u"), col("user_a").as("v"), col("shared_resources")))
      val byStrength = Window.partitionBy(col("u"))
        .orderBy(col("shared_resources").desc, col("v"))
      directed
        .withColumn("rk", row_number().over(byStrength))
        .filter(col("rk") <= 3)
        .select(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b")).distinct()
    }

  /** Local clustering coefficient over the 3-NN sparsified co-access
    * graph (Watts–Strogatz 1998 on the bounded graph): per user, the
    * fraction of their neighbor pairs that are themselves connected —
    * lcc = 2·T(u) / (deg(u)·(deg(u)−1)). On the RAW capped graph the
    * wedge count is Σ C(deg,2) ≈ 1.7e9 at sf0.1 (measured) — the exact
    * uncapped quadratic this suite just retired — so the coefficient is
    * DEFINED on the kNN sparsification, where per-vertex degree is
    * k-bounded and the whole computation is O(k²·|users|): the same
    * triangle join as [[qKnnTriangles]] plus one degree count on the
    * shared Memo'd edge frame. Emitted as exact integer BASIS POINTS
    * (2·T·10000 div deg·(deg−1)) — no float anywhere, so the hash
    * oracle has nothing to drift on. High lcc + high degree = the
    * mutually-embedded clique signal; hubs with star-shaped
    * neighborhoods score 0.
    */
  def qClusteringCoeff(spark: SparkSession, dir: String): DataFrame = {
    val und = knnEdges(spark, dir)
    val deg = und.select(col("a").as("user_id"))
      .unionAll(und.select(col("b").as("user_id")))
      .groupBy(col("user_id")).agg(count(lit(1)).as("degree"))
    val tri = und.as("e1")
      .join(und.as("e2"), col("e1.b") === col("e2.a"))
      .join(und.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      .select(explode(array(col("x"), col("y"), col("z"))).as("user_id"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_triangles"))
    deg.join(tri, Seq("user_id"), "left")
      .select(col("user_id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("lcc_bp",
        when(col("degree") >= 2,
          expr("n_triangles * 2 * 10000 div (degree * (degree - 1))"))
          .otherwise(lit(0L)))
      .orderBy(col("user_id"))
  }

  /** Jaccard-normalized co-access similarity: the [[qCoaccessPairs]] edge
    * list rescaled by each pair's resource-set union — raw shared counts
    * rank prolific users first, Jaccard ranks ACCOUNT-SHARING-like pairs
    * (two users whose resource worlds largely coincide) first, which is
    * the insider-collusion signal. Reuses the pinned pair frame; the
    * per-user distinct-resource counts attach with two joins of a
    * |users|-row frame; similarity divides exact longs → engine-stable
    * 4-dp doubles.
    */
  def qCoaccessJaccard(spark: SparkSession, dir: String): DataFrame = {
    val pairs = coaccessPairFrame(spark, dir, maxDegree = Int.MaxValue)
    // Per-user distinct-resource counts ride the SHARED Memo'd feature
    // matrix instead of a fresh scan+distinct per run (r17, §2.4 remove
    // shuffles outright): unique_resources IS countDistinct(resource)
    // per user over the same activityLog — countDistinct skips NULL
    // resources exactly as the old isNotNull filter did, and the inner
    // join on pair endpoints drops any null-user row, so n_res is
    // value-identical for every joinable user (oracle hash green at
    // sf0.01 + sf0.1). Saves one full event-log scan + JSON parse +
    // distinct exchange per execution; the feature matrix is |users|
    // rows, pinned once per session and shared with the ML detector
    // family.
    val cnt = MLOps.userFeatures(spark, dir).select(col("user_id"), col("unique_resources").as("n_res"))
    pairs
      .join(cnt.select(col("user_id").as("ca_u"), col("n_res").as("na")),
        col("user_a") === col("ca_u"))
      .join(cnt.select(col("user_id").as("cb_u"), col("n_res").as("nb")),
        col("user_b") === col("cb_u"))
      .select(col("user_a"), col("user_b"), col("shared_resources"),
        r4(col("shared_resources").cast("double") /
          (col("na") + col("nb") - col("shared_resources")).cast("double"))
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("user_a"), col("user_b"))
      .limit(50)
  }

  /** Per-user activity burstiness: Fano factor (variance/mean of daily
    * counts over ACTIVE days) and the Goh–Barabási burstiness index
    * (σ−μ)/(σ+μ) — separates steady drips from bursty dumps at the same
    * total volume (data-exfiltration cadence looks bursty; routine work
    * doesn't). One (user, day) rollup then one user rollup; variance
    * comes from the integer sufficient statistics (Σn, Σn², days), so
    * both engines compute the identical doubles — which is exactly why
    * the outputs are UNROUNDED: the raw doubles already hash-match,
    * while round-to-4 was the one step the engines disagree on (Spark
    * shortest-decimal HALF_UP vs DuckDB scaled half-away — 6 fano
    * values sat on the boundary at sf0.1).
    */
  def qBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
    val c = col("c").cast("double")
    val mean = col("s").cast("double") / c
    val variance = col("ss").cast("double") / c - mean * mean
    val sigma = sqrt(variance)
    daily.groupBy(col("user_id"))
      .agg(count(lit(1)).as("c"), sum(col("n")).as("s"),
        sum(col("n") * col("n")).as("ss"))
      .filter(col("c") >= 2)
      .select(col("user_id"), col("c").as("n_days"), mean.as("mean_daily"),
        (variance / mean).as("fano"),
        ((sigma - mean) / (sigma + mean)).as("burstiness"))
      .orderBy(col("fano").desc, col("user_id"))
  }

  /** Holt linear-trend forecast of daily activity per event type: level/
    * trend double smoothing over the day-ordered count series, then a
    * 7-day-ahead linear projection — the capacity-planning / anomaly-
    * baseline forecaster (tomorrow's expected volume, not yesterday's).
    * An inherently SEQUENTIAL recursion, so it runs where sequential is
    * free: the raw log collapses to the bounded (type, day) rollup
    * (|types|×|days| rows at ANY corpus scale), and each type's series
    * recurses inside ONE mapGroups task — state is two doubles, the big
    * data never sees the recursion. α=0.5, β=0.25 (exact binary
    * fractions); gap days count zero activity (the calendar is
    * densified inside the group, not joined). Rows-only: recursion
    * isn't ANSI-SQL; the spec replays it by hand and checks exact
    * equality.
    */
  def qHoltForecast(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), datediff(col("d"), lit("1970-01-01").cast("date"))
        .cast("long").as("epochDay"), col("n"))
      .as[(String, Long, Long)]
    daily.groupByKey(_._1)
      .flatMapGroups { (et: String, it: Iterator[(String, Long, Long)]) =>
        val obs = it.map { case (_, day, n) => day -> n }.toArray.sortBy(_._1)
        val byDay = obs.toMap
        val (d0, dN) = (obs.head._1, obs.last._1)
        val series = (d0 to dN).map(d => byDay.getOrElse(d, 0L).toDouble)
        if (series.length < 2) Iterator.empty
        else {
          var level = series(0)
          var trend = series(1) - series(0)
          for (y <- series.drop(1)) {
            val prev = level
            level = 0.5 * y + 0.5 * (level + trend)
            trend = 0.25 * (level - prev) + 0.75 * trend
          }
          (1 to 7).iterator.map(h =>
            (et, h.toLong, math.rint((level + h * trend) * 10000) / 10000))
        }
      }
      .toDF("event_type", "horizon_days", "forecast")
      .orderBy(col("event_type"), col("horizon_days"))
  }

  /** Additive Holt-Winters 7-day forecast with WEEKLY seasonality — the
    * seasonal extension of [[qHoltForecast]] for the signals
    * [[qAutocorr]]/[[qSeasonalBaseline]] show to be weekly-periodic
    * (a trend-only forecast of a weekly-cyclic log over- and under-
    * shoots alternate days; the seasonal term absorbs the cycle).
    * Same scale shape as Holt: the recursion is sequential in time, so
    * it runs per event type inside flatMapGroups over the BOUNDED
    * (type, day) rollup — state is level + trend + a 7-slot seasonal
    * array. Dyadic smoothing constants (α=1/2, β=1/4, γ=1/4) keep the
    * arithmetic exact-in-binary; classical init (level = season-1
    * mean, trend = (season-2 mean − season-1 mean)/7, seasonals =
    * season-1 deviations); types with < 2 full seasons emit nothing.
    * Sequential-by-construction → rows-only; the spec replays the
    * recursion by hand to exact equality.
    */
  def qHoltWinters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = 7
    val daily = events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), datediff(col("d"), lit("1970-01-01").cast("date"))
        .cast("long").as("epochDay"), col("n"))
      .as[(String, Long, Long)]
    daily.groupByKey(_._1)
      .flatMapGroups { (et: String, it: Iterator[(String, Long, Long)]) =>
        val obs = it.map { case (_, day, n) => day -> n }.toArray.sortBy(_._1)
        val byDay = obs.toMap
        val (d0, dN) = (obs.head._1, obs.last._1)
        val series = (d0 to dN).map(d => byDay.getOrElse(d, 0L).toDouble).toArray
        if (series.length < 2 * m) Iterator.empty
        else {
          val mean1 = series.slice(0, m).sum / m
          val mean2 = series.slice(m, 2 * m).sum / m
          var level = mean1
          var trend = (mean2 - mean1) / m
          val seasonal = Array.tabulate(m)(i => series(i) - mean1)
          for (t <- m until series.length) {
            val y = series(t)
            val sPrev = seasonal(t % m)
            val prevLevel = level
            level = 0.5 * (y - sPrev) + 0.5 * (level + trend)
            trend = 0.25 * (level - prevLevel) + 0.75 * trend
            seasonal(t % m) = 0.25 * (y - level) + 0.75 * sPrev
          }
          val n = series.length
          (1 to m).iterator.map { h =>
            val fc = level + h * trend + seasonal((n + h - 1) % m)
            (et, h.toLong, math.rint(fc * 10000) / 10000)
          }
        }
      }
      .toDF("event_type", "horizon_days", "forecast")
      .orderBy(col("event_type"), col("horizon_days"))
  }

  /** Daily-activity autocorrelation per event type at calendar lags 1–7
    * days — the periodicity detector behind weekly-rhythm baselining (a
    * strong lag-7 ACF says "this signal has a weekly cycle; compare
    * Mondays to Mondays", which is what [[qSeasonalBaseline]] assumes).
    * CALENDAR lag, not row lag: the series is joined to itself on
    * `d − lag` (gap days simply don't pair), with the 7 lags exploded on
    * the probe side so one co-partitioned (event_type-keyed) self-join
    * covers all of them. Pearson r comes from the six integer sufficient
    * statistics (n, Σx, Σy, Σxy, Σx², Σy²) — counts are exact longs, so
    * both engines compute the identical double at the end, no
    * order-dependent float accumulation anywhere.
    */
  def qAutocorr(spark: SparkSession, dir: String): DataFrame = {
    // The daily series is consumed twice (probe + base side of the lag
    // join). PINNED because it is bounded at ANY corpus scale —
    // |event types| × |days| rows regardless of event count — so the
    // cache is O(KB) while the re-derivation it avoids is a full
    // events scan + shuffle.
    val daily = graft.Memo.cached("autocorrDaily", spark, dir) {
      events(spark, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("c"))
    }
    val probe = daily
      .select(col("event_type"), col("d"), col("c"),
        explode(array((1 to 7).map(lit(_)): _*)).as("lag"))
      .withColumn("d_prev", expr("date_sub(d, lag)"))
    val base = daily.select(col("event_type").as("et2"), col("d").as("d2"),
      col("c").as("c_prev"))
    val stats = probe.join(base,
        col("event_type") === col("et2") && col("d_prev") === col("d2"))
      .groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sx"), sum(col("c_prev")).as("sy"),
        sum(col("c") * col("c_prev")).as("sxy"),
        sum(col("c") * col("c")).as("sxx"),
        sum(col("c_prev") * col("c_prev")).as("syy"))
    val nd = col("n").cast("double")
    val cov = nd * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")
    val vx = nd * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double")
    val vy = nd * col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double")
    stats
      .select(col("event_type"), col("lag").cast("long").as("lag"), col("n").as("n_pairs"),
        when(vx > 0 && vy > 0, round(cov / sqrt(vx * vy), 4)).as("acf"))
      .orderBy(col("event_type"), col("lag"))
  }

  /** Population Stability Index of the event-type mix: the calendar span
    * is cut at its midpoint, each type's traffic share is computed in the
    * baseline half and the current half, and the per-type PSI term
    * `(p_cur − p_base)·ln(p_cur/p_base)` quantifies how far the
    * distribution has drifted (the standard model-monitoring drift
    * gauge; PSI > 0.25 is the conventional "retrain" alarm). The date
    * bounds ride along as a one-row broadcast (no driver scalar); the
    * per-type counts are ONE map-side-combined aggregation over the
    * scan, and every share is a ratio of exact longs — both engines
    * compute identical doubles. Types present in only one half carry no
    * finite PSI term and are emitted with a null (documented, matches
    * the oracle).
    */
  def qPsi(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).select(col("event_type"), to_date(col("ts")).as("d"))
    val bounds = ev.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(expr("date_add(d0, CAST((datediff(d1, d0)) DIV 2 AS INT))").as("mid"))
    val byType = ev.crossJoin(broadcast(bounds))
      .groupBy(col("event_type"))
      .agg(sum(when(col("d") <= col("mid"), 1L).otherwise(0L)).as("n_base"),
        sum(when(col("d") > col("mid"), 1L).otherwise(0L)).as("n_cur"))
    val totals = byType.agg(sum(col("n_base")).cast("double").as("tb"),
      sum(col("n_cur")).cast("double").as("tc"))
    val pb = col("n_base") / col("tb")
    val pc = col("n_cur") / col("tc")
    byType.crossJoin(broadcast(totals))
      .select(col("event_type"), col("n_base"), col("n_cur"),
        r4(pb).as("p_base"), r4(pc).as("p_cur"),
        when(col("n_base") > 0 && col("n_cur") > 0,
          r4((pc - pb) * log(pc / pb))).as("psi_term"))
      .orderBy(col("event_type"))
  }

  /** Per-user Markov sequence surprisal: each user's event stream is
    * scored against the GLOBAL next-event transition matrix
    * ([[qEventTransitions]]'s probabilities, unrounded here) — mean
    * −log₂ p(from→to) in bits per transition. A user whose chains the
    * baseline matrix finds improbable (login→delete where everyone else
    * goes login→read) surfaces with high surprisal; this is the
    * sequence-level anomaly the reference's per-type activity counts
    * cannot see. One user-keyed window pairs the stream; per-(user,edge)
    * counts stay exact longs; the |types|²-row matrix broadcasts back,
    * so the surprisal fold moves |users|·|edge kinds| rows, never raw
    * events. Top-50 with full tiebreak.
    */
  def qMarkovSurprisal(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ue = events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("user_id"), col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("c"))
    val m = ue.groupBy(col("from_type"), col("to_type")).agg(sum(col("c")).as("n"))
    val mt = m.groupBy(col("from_type").as("ft")).agg(sum(col("n")).as("tot"))
    val probs = m.join(mt, col("from_type") === col("ft"))
      .select(col("from_type"), col("to_type"),
        (col("n").cast("double") / col("tot")).as("p"))
    ue.join(broadcast(probs), Seq("from_type", "to_type"))
      .groupBy(col("user_id"))
      .agg(sum(col("c")).as("n_transitions"),
        sum(-col("c") * log2(col("p"))).as("sbits"))
      .select(col("user_id"), col("n_transitions"),
        r4(col("sbits") / col("n_transitions")).as("avg_surprisal_bits"))
      .orderBy(col("avg_surprisal_bits").desc, col("user_id"))
      .limit(50)
  }

  /** HITS hubs-and-authorities on the user→resource access graph
    * (Kleinberg 1999): 3 mutually-recursive rounds where a user's hub
    * score sums the authority of resources they touch and a resource's
    * authority sums the hub scores of its users; both scores are
    * L1-normalized ONCE after the final round (the textbook per-step
    * rescale commutes through the positive linear updates — see the
    * END-ONLY NOTE in the body). Unlike [[qPagerank]]'s single
    * symmetric score, HITS separates "user who touches many important
    * shares" (hub — the reconnaissance profile) from "share touched by
    * many significant users" (authority — the crown-jewel resource).
    * Pregel shape: each round is one key-partitioned join + aggregation
    * per direction; the two final L1 norms ride as one-row broadcasts.
    * Emits every node like the PageRank query, scores ×1000.
    */
  def qHits(spark: SparkSession, dir: String): DataFrame = {
    // Edge-list materialization, MEASURED three ways (sf0.1 / x10
    // amplified, min of warm runs):
    //   .cache() on ur        : 50-140 s  — the six L1 broadcast
    //     subqueries serialize on InMemoryRelation materialization and
    //     lose the size estimates that keep the small side broadcast;
    //   re-derive per consumer: 1.6-2.3 s / 7.2-7.3 s — each of the 6
    //     joins re-pays the scan+distinct, and the gap WIDENS with data;
    //   parquet temp (shipped): 1.1-1.5 s / 2.6 s — write the distinct
    //     edge list ONCE per (session, dir), re-read as a fresh parquet
    //     leaf: keeps parquet size estimates for broadcast planning,
    //     no InMemoryRelation lock contention, one-time ~0.3-3 s write
    //     amortized across the 6 consumers. On a cluster the temp dir
    //     would be job-scratch storage; the pattern (materialize a
    //     multiply-consumed reduction to columnar scratch instead of
    //     executor cache) is the standard 100 TB move.
    val ur =
      graft.Memo("hitsEdges", spark, dir) {
        // A collision-free per-call scratch dir (createTempDirectory) —
        // a 32-bit path hash can collide across concurrent JVMs sharing
        // /tmp, letting one session overwrite the edge list another is
        // reading. deleteOnExit on the marker + shutdown-hook recursive
        // delete cleans the scratch up when the JVM ends.
        val p = java.nio.file.Files.createTempDirectory("graft-hits-")
        Runtime.getRuntime.addShutdownHook(new Thread(() => {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
            f.delete(); ()
          }
          rm(p.toFile)
        }))
        activityLog(spark, dir)
          .filter(col("resource").isNotNull)
          .select(col("user_id"), col("resource")).distinct()
          .write.mode("overwrite").parquet(p.toString)
        spark.read.parquet(p.toString)
      }
    def l1(df: DataFrame, score: String): DataFrame = {
      val tot = df.agg(sum(col(score)).as("_t"))
      df.crossJoin(broadcast(tot))
        .select(col(df.columns.head), (col(score) / col("_t")).as(score))
    }
    // END-ONLY normalization: HITS' per-half-step L1 rescale divides by a
    // positive scalar that commutes through the linear updates (all
    // scores positive), so normalizing hub/auth ONCE after the last
    // iteration yields identical values in exact arithmetic — and drops
    // six broadcast-subquery total-aggregations (measured 4.5s → ~2s at
    // sf0.1). Unnormalized magnitudes stay ≤ deg^(2k) ≪ double range for
    // any feasible degree; the oracle applies the same end-only rescale.
    var auth = ur.select(col("resource")).distinct().withColumn("a", lit(1.0))
    var hub: DataFrame = null
    for (_ <- 1 to 3) {
      hub = ur.join(auth, Seq("resource"))
        .groupBy(col("user_id")).agg(sum(col("a")).as("h"))
      auth = ur.join(hub, Seq("user_id"))
        .groupBy(col("resource")).agg(sum(col("h")).as("a"))
    }
    hub = l1(hub, "h")
    auth = l1(auth, "a")
    hub.select(concat(lit("u"), col("user_id").cast("string")).as("node"),
        lit("hub").as("kind"), r4(col("h") * 1000).as("score_x1000"))
      .unionByName(auth.select(concat(lit("r"), col("resource")).as("node"),
        lit("authority").as("kind"), r4(col("a") * 1000).as("score_x1000")))
      .orderBy(col("node"))
  }

  /** Classical additive decomposition of each event type's daily series:
    * trend = 7-row centered moving average (only where the full window
    * exists), seasonal = mean detrended value per weekday, residual =
    * observed − trend − seasonal. The residual is the de-seasonalized
    * anomaly signal ("is today's spike real, or just Monday?") that
    * [[qSeasonalBaseline]]'s uniform-rate z-score approximates.
    * Engine-exactness: the MA is Σ(7 longs)/7 and the seasonal mean is
    * computed from INTEGER sufficient statistics — Σn and Σ(window sums)
    * per (type, weekday) — so trend and seasonal are bit-identical
    * across engines; no order-dependent float accumulation exists
    * anywhere. The per-type window frame is calendar-bounded
    * (|types|·|days| rows at any corpus size — same argument as
    * [[qAutocorr]]'s pinned daily frame), so the partitioned sort never
    * sees data-sized input.
    */
  def qSeasonalDecompose(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
    val wMa = Window.partitionBy(col("event_type")).orderBy(col("d"))
      .rowsBetween(-3, 3)
    val t = daily
      .withColumn("win_rows", count(lit(1)).over(wMa))
      .withColumn("win_sum", sum(col("n")).over(wMa))
      .withColumn("trend",
        when(col("win_rows") === 7, col("win_sum").cast("double") / 7.0))
      .withColumn("dow", expr("weekday(d)").cast("long"))
    // Seasonal mean from integer sums: Σ(n − winSum/7) = Σn − (ΣwinSum)/7.
    val sMean = t.filter(col("trend").isNotNull)
      .groupBy(col("event_type").as("se"), col("dow").as("sd"))
      .agg(sum(col("n")).as("sn"), sum(col("win_sum")).as("sws"),
        count(lit(1)).as("cd"))
      .select(col("se"), col("sd"),
        ((col("sn").cast("double") - col("sws").cast("double") / 7.0)
          / col("cd")).as("seasonal_raw"))
    t.join(broadcast(sMean),
        col("event_type") === col("se") && col("dow") === col("sd"), "left")
      .select(col("event_type"), date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("n"), col("dow"), r4(col("trend")).as("trend"),
        r4(col("seasonal_raw")).as("seasonal"),
        r4(col("n") - col("trend") - col("seasonal_raw")).as("residual"))
      .orderBy(col("event_type"), col("day"))
  }

  /** χ² test of independence between event type and the after-hours flag:
    * is off-hours traffic a uniform slice of all activity, or do specific
    * event types (deletes, exports) concentrate after dark? Each type
    * contributes (observed − expected)² · (1/e_ah + 1/e_bh) — both cells
    * of its contingency row — where expected counts assume independence
    * (row total × column share). Everything derives from one
    * map-combined per-type aggregation plus a one-row totals broadcast;
    * all inputs are exact longs, so expected counts and χ² terms are
    * bit-identical across engines. The spec checks Σ terms against the
    * matrix recomputed by hand.
    */
  def qChi2(spark: SparkSession, dir: String): DataFrame = {
    val cell = events(spark, dir)
      .select(col("event_type"), isAfterHours.as("ah"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_total"), sum(col("ah")).as("n_after"))
    val tot = cell.agg(sum(col("n_total")).cast("double").as("t"),
      sum(col("n_after")).cast("double").as("a"))
    val eAh = col("n_total") * col("a") / col("t")
    val eBh = col("n_total") * (col("t") - col("a")) / col("t")
    val dev = col("n_after") - eAh
    cell.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n_total"), col("n_after"),
        r4(eAh).as("expected_after"),
        r4(dev * dev * (lit(1.0) / eAh + lit(1.0) / eBh)).as("chi2_term"))
      .orderBy(col("event_type"))
  }

  /** Blast radius: which users are within k≤3 co-access hops of the 10
    * most active accounts — the lateral-movement reach question an
    * analyst asks once an account is flagged ("if THIS credential is
    * burned, who shares its neighborhood?"). The reference's graph model
    * (neo4j_analysis.py:38-55 builds user→resource edges precisely for
    * reachability-style queries) answers this with a Cypher variable-
    * length match; here it is bounded BFS over the capped co-access
    * projection ([[coaccessPairFrame]] under [[CoaccessMaxDegree]]):
    * three frontier-join rounds, each one key-partitioned join + a
    * DISTINCT that collapses the frontier before the next expansion, so
    * per-round work is |frontier|·deg ≤ seeds·cap³ no matter the log
    * size. min(hop) resolves multi-path visits; hop 0 is the seed
    * itself. Deterministic end to end (top-10 seeds break ties on
    * user_id; TakeOrdered, never a global sort) → hash-oracled against
    * identically unrolled CTEs.
    */
  def qBlastRadius(spark: SparkSession, dir: String): DataFrame = {
    // Proper frontier BFS: each round expands ONLY the nodes first
    // discovered last round (anti-join against everything reached), so a
    // dense component costs deg·|new| per round instead of deg^h — on a
    // near-clique graph the hop-2/3 frontiers are empty and the rounds
    // are no-ops. localCheckpoint per round keeps the growing reached
    // set from re-executing its whole lineage inside each anti-join.
    // Because a node is expanded only the round it first appears, hops
    // are minimal by construction — no min-agg needed at the end. The
    // whole traversal is Memo'd like the components labels: the edge
    // materialization + 3 rounds is per-(session, dir) work, not
    // per-call work.
    val reached = graft.Memo("blastRadiusReached", spark, dir) {
      val edges = coaccessEdges(spark, dir)
      val seeds = events(spark, dir)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("user_id").asc).limit(10)
        .select(col("user_id").as("seed_user"))
      var frontier = seeds
        .select(col("seed_user"), col("seed_user").as("uid"), lit(0L).as("hop"))
        .localCheckpoint()
      var acc = frontier
      for (h <- 1 to 3) {
        frontier = frontier.join(edges, col("uid") === col("src"))
          .select(col("seed_user"), col("dst").as("uid")).distinct()
          .join(acc.select(col("seed_user"), col("uid")),
            Seq("seed_user", "uid"), "left_anti")
          .select(col("seed_user"), col("uid"), lit(h.toLong).as("hop"))
          .localCheckpoint()
        acc = acc.union(frontier).localCheckpoint()
      }
      acc
    }
    reached
      .select(col("seed_user"), col("uid").as("user_id"), col("hop"))
      .orderBy(col("seed_user"), col("hop"), col("user_id"))
  }

  /** Degree distribution of the co-access graph, log₂-binned — the
    * one-page graph health check (hub concentration, isolated-user
    * share) read before trusting any neighborhood-based detector, and
    * the empirical basis for [[CoaccessMaxDegree]]: the top bucket shows
    * exactly how much headroom the cap has. Buckets are EXACT integer
    * arithmetic — bucket = len(bin(degree))−1 ≡ floor(log₂ degree) with
    * no libm call to diverge across engines (bucket −1 = isolated users,
    * who appear in no capped pair). One |pairs|-row union + user-keyed
    * count, then a ≤12-row rollup.
    */
  def qDegreeDist(spark: SparkSession, dir: String): DataFrame = {
    val pairs = coaccessPairFrame(spark, dir, CoaccessMaxDegree)
    // explode, not union (r17): the union planned TWO full scans of the
    // cached pair frame (64 tasks, ~14 s CPU measured at sf0.1); one
    // explode emits the identical two uid rows per pair in a single
    // cache scan feeding the same map-side-combined count.
    val deg = pairs
      .select(explode(array(col("user_a"), col("user_b"))).as("uid"))
      .groupBy(col("uid")).agg(count(lit(1)).as("degree"))
    val users = events(spark, dir).select(col("user_id").as("uid")).distinct()
    users.join(deg, Seq("uid"), "left")
      .select(coalesce(col("degree"), lit(0L)).as("degree"))
      .select(col("degree"),
        when(col("degree") === 0L, lit(-1L))
          .otherwise((length(bin(col("degree"))) - 1).cast("long")).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_users"),
        min(col("degree")).as("min_degree"),
        max(col("degree")).as("max_degree"))
      .orderBy(col("bucket"))
  }

  /** Temporally-ordered co-access ("handoff"): pairs of users whose
    * FIRST touches of the same resource land within one hour, directed
    * by time — the sequential-onboarding signal (credential handed off,
    * staged exfil relay) that symmetric co-access can't see because it
    * ignores order. Reducing each (user, resource) to its first touch
    * bounds the per-resource pair term at deg²/2 with deg ≤
    * [[CoaccessMaxDegree]] (same Σ deg² bound as the capped co-access
    * projection — one first-touch row per user per resource, never raw
    * events against raw events); the resource-keyed self-join carries
    * the 1-h window as a post-join predicate inside each (already
    * bounded) resource group. Exact integer microsecond arithmetic;
    * equal first touches are excluded so the direction is well-defined.
    * Top-50 with full tiebreak.
    */
  /** The bipartite user→resource incidence grid with each edge's
    * first-touch time — pinned per (session, dir). One JSON parse +
    * user/resource-keyed aggregation over the log serves every bipartite
    * consumer ([[qRiskPropagation]]'s two hops, [[qHandoffPairs]]'
    * first-touch frame); the distinct-grid view is a projection.
    */
  private def userResourceGrid(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.cached("userResourceGrid", spark, dir) {
      activityLog(spark, dir)
        .filter(col("resource").isNotNull)
        .groupBy(col("user_id"), col("resource"))
        .agg(min(unix_micros(col("ts"))).as("first_us"))
    }

  /** Directed handoff events (one row per qualifying ordered first-touch
    * pair, pre-aggregation) — Memo.cached: the top-pairs rollup and the
    * per-user balance fold the same banded interval join.
    */
  private def handoffEvents(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.cached("handoffEvents", spark, dir) {
      val ft0 = userResourceGrid(spark, dir)
      val keep = ft0.groupBy(col("resource"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") <= CoaccessMaxDegree)
        .select(col("resource"))
      val ft = ft0.join(keep, Seq("resource"), "left_semi")
      // Banded interval join: a row's 1-h forward window spans at most two
      // hour buckets, so the FROM side is exploded to (bucket, bucket+1)
      // and joined on (resource, bucket) equality — candidates shrink from
      // deg² per resource to pairs whose first touches share adjacent
      // hours (measured 5.6 s → the banded plan at sf0.1), and the exact
      // window predicate filters inside each (already small) band group.
      val hourUs = 3600000000L
      val bucket = expr(s"first_us div ${hourUs}L") // integer div, no float
      val a = ft.select(col("resource"), col("user_id").as("user_from"),
          col("first_us").as("t_from"),
          explode(array(bucket, bucket + 1L)).as("band"))
      val b = ft.select(col("resource"), col("user_id").as("user_to"),
        col("first_us").as("t_to"), bucket.as("band"))
      a.join(b, Seq("resource", "band"))
        .filter(col("user_from") =!= col("user_to") &&
          col("t_to") > col("t_from") &&
          col("t_to") - col("t_from") <= hourUs)
        // no band double-count: a qualifying pair has bucket(t_to) ∈
        // {bucket(t_from), bucket(t_from)+1} — exactly ONE of the two
        // exploded band rows matches it
        .select(col("user_from"), col("user_to"))
    }

  def qHandoffPairs(spark: SparkSession, dir: String): DataFrame =
    handoffEvents(spark, dir)
      .groupBy(col("user_from"), col("user_to"))
      .agg(count(lit(1)).as("n_handoffs"))
      .orderBy(col("n_handoffs").desc, col("user_from"), col("user_to"))
      .limit(50)

  /** Per-user handoff BALANCE: handoffs initiated (another user's first
    * touch of a shared resource lands inside my 1-h forward window) vs
    * received, plus distinct downstream/upstream partners — the
    * direction-of-flow rollup [[qHandoffPairs]]' top-50 edge list can't
    * show. A staging account is a persistent SOURCE (high out, low in,
    * many distinct recipients); a collection account is a SINK. Rides
    * the same Memo'd banded interval join; one user-keyed agg per
    * direction + a full-outer merge of two ǀusersǀ-row frames;
    * all-integer output (net = out − in).
    */
  def qHandoffBalance(spark: SparkSession, dir: String): DataFrame = {
    val ev = handoffEvents(spark, dir)
    val outF = ev.groupBy(col("user_from").as("user_id"))
      .agg(count(lit(1)).as("n_out"),
        countDistinct(col("user_to")).as("n_recipients"))
    val inF = ev.groupBy(col("user_to").as("user_id"))
      .agg(count(lit(1)).as("n_in"),
        countDistinct(col("user_from")).as("n_senders"))
    outF.join(inF, Seq("user_id"), "full_outer")
      .na.fill(0L, Seq("n_out", "n_recipients", "n_in", "n_senders"))
      .withColumn("net", col("n_out") - col("n_in"))
      .select("user_id", "n_out", "n_in", "net", "n_recipients", "n_senders")
      .orderBy(col("user_id"))
  }

  /** Two-hop risk propagation across the bipartite user→resource graph:
    * per-user risk (after-hours event count — the reference's core
    * insider signal, neo4j_analysis.py:15-22) pushes forward onto
    * resources (resource risk = mean risk of its DISTINCT users, exact
    * basis points via integer div — no float sum ordering to diverge),
    * then pulls back to users (exposure = max risk over resources they
    * touch). Surfaces the "clean" account whose only sin is sharing a
    * crown-jewel resource with the night-shift crowd — invisible to
    * every per-user rollup. Both hops are key-partitioned joins on the
    * DISTINCT (user, resource) grid, never on raw events; top-50 via
    * TakeOrdered.
    */
  def qRiskPropagation(spark: SparkSession, dir: String): DataFrame = {
    val risk = events(spark, dir)
      .groupBy(col("user_id")).agg(sum(isAfterHours).as("r"))
    val grid = userResourceGrid(spark, dir).select("user_id", "resource")
    val rres = grid.join(risk, Seq("user_id"))
      .groupBy(col("resource"))
      .agg(sum(col("r")).as("s"), count(lit(1)).as("n"))
      // basis points in DECIMAL(38,0): DuckDB's sum(BIGINT) widens to
      // HUGEINT, so its `sum(r)*10000 // n` can't overflow — a Long-typed
      // `s * 10000` here COULD (Σrisk > ~9.2e14 per resource) and would
      // silently diverge from the oracle; the decimal widening keeps both
      // engines exact, and the integral quotient always fits a long.
      .select(col("resource"),
        expr("cast(cast(s as decimal(38,0)) * 10000 div n as long)")
          .as("resource_risk_bp"))
    grid.join(rres, Seq("resource"))
      .groupBy(col("user_id"))
      .agg(max(col("resource_risk_bp")).as("exposure_bp"),
        count(lit(1)).as("n_resources"))
      .orderBy(col("exposure_bp").desc, col("user_id").asc)
      .limit(50)
  }

  /** Degree assortativity of the capped co-access graph (Newman 2002):
    * Pearson correlation of the degrees at the two ends of every
    * (symmetrized) edge. The one-number graph-health gauge behind "do
    * heavy co-accessors cluster with each other?" — assortative (r>0)
    * rings of high-degree accounts are the insider-collusion shape,
    * disassortative (r<0) hubs touching leaves is the service-account
    * shape. All six sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²)
    * accumulate in exact DECIMAL over integer degrees (DuckDB widens to
    * HUGEINT — same trick as [[qRiskPropagation]]), so both engines
    * compute the identical closed-form ratio; one degree rollup + two
    * |users|-row joins onto the shared [[coaccessEdges]] frame. A
    * degree-regular graph has zero variance — emitted as r=0 on both
    * engines rather than a NaN/NULL divergence.
    */
  def qAssortativity(spark: SparkSession, dir: String): DataFrame = {
    // Every edge-level Pearson sum collapses onto the UNORDERED pair
    // frame directly (r17; the r16 shape still scanned the 2×-unioned
    // edge checkpoint 2-3 times at ~10 s CPU per scan and paid the m(u)
    // neighbor-sum aggregation + its exchange). With edges the symmetric
    // closure of the distinct pairs (a, b):
    //   n   = Σ_e 1              = 2·|pairs|
    //   sx  = Σ_e deg(src)       = Σ_pairs (deg(a) + deg(b))      (= sy)
    //   sxx = Σ_e deg(src)²      = Σ_pairs (deg(a)² + deg(b)²)    (= syy)
    //   sxy = Σ_e deg(src)·deg(dst) = 2·Σ_pairs deg(a)·deg(b)
    // so ONE aggregation pass over the Memo'd pair frame (joined with the
    // |users|-row degree frame — plain equi-joins, no broadcast hint: AQE
    // broadcasts at bench scale and falls back to a shuffle of the
    // 3-long-column pair rows at 100 TB, where an explicit broadcast of a
    // |users|-sized frame would OOM — r16 verdict #8) computes all six
    // sufficient statistics. deg(u) = #pairs containing u (the pair frame
    // is distinct by construction) via one explode + map-side-combined
    // count. Every product is cast to decimal(38,0) BEFORE multiplying —
    // exact integer identities, emitted values bit-identical to the
    // edge-frame shape (oracle unchanged).
    val pairs = coaccessPairFrame(spark, dir, CoaccessMaxDegree)
      .select(col("user_a"), col("user_b"))
    val deg = pairs
      .select(explode(array(col("user_a"), col("user_b"))).as("u"))
      .groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val dec = "decimal(38,0)"
    val da = col("da").cast(dec)
    val db = col("db").cast(dec)
    val s = pairs
      .join(deg.select(col("u").as("user_a"), col("deg").as("da")), Seq("user_a"))
      .join(deg.select(col("u").as("user_b"), col("deg").as("db")), Seq("user_b"))
      .agg(
        (count(lit(1)) * 2).cast(dec).as("n"),
        sum(da + db).as("sx"),
        sum(da + db).as("sy"),
        (sum(da * db) * 2).cast(dec).as("sxy"),
        sum(da * da + db * db).as("sxx"),
        sum(da * da + db * db).as("syy"))
    s.select(col("n").cast("long").as("n_edges"),
      when((col("n") * col("sxx") - col("sx") * col("sx")) === 0 ||
           (col("n") * col("syy") - col("sy") * col("sy")) === 0, lit(0.0))
        .otherwise(r4(
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
           sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double")))))
        .as("assortativity"))
  }
}

/** Primitive open-addressed long→long counter for partition-local pair
  * combining ([[ThreatOps.qCoaccessPairs]]). Boxed `HashMap[JLong,_]` pays
  * an allocation + two pointer hops per increment; this is two flat array
  * probes. Keys must be ≥ 1 (0 is the empty-slot sentinel — packed pair
  * keys always are, since the high user id is < the low and ids are ≥ 0,
  * so the low 32 bits are ≥ 1). Grows ×2 at 60% load; not thread-safe
  * (one instance per partition iterator).
  */
private[graft] final class LongCountMap(initialCapacity: Int) {
  private var cap = Integer.highestOneBit(math.max(initialCapacity, 16))
  if (cap < initialCapacity) cap <<= 1
  private var mask = cap - 1
  private var keys = new Array[Long](cap)
  private var vals = new Array[Long](cap)
  private var n = 0

  def size: Int = n

  @inline private def slot(k: Long, m: Int): Int = {
    val h = k * 0x9E3779B97F4A7C15L
    (((h >>> 32) ^ h).toInt) & m
  }

  def increment(k: Long): Unit = {
    var i = slot(k, mask)
    while (true) {
      val cur = keys(i)
      if (cur == k) { vals(i) += 1; return }
      if (cur == 0L) {
        keys(i) = k; vals(i) = 1L; n += 1
        if (n * 5 > cap * 3) grow()
        return
      }
      i = (i + 1) & mask
    }
  }

  private def grow(): Unit = {
    val ok = keys; val ov = vals
    cap <<= 1; mask = cap - 1
    keys = new Array[Long](cap); vals = new Array[Long](cap)
    var i = 0
    while (i < ok.length) {
      val k = ok(i)
      if (k != 0L) {
        var j = slot(k, mask)
        while (keys(j) != 0L) j = (j + 1) & mask
        keys(j) = k; vals(j) = ov(i)
      }
      i += 1
    }
  }

  /** Emit all (key, count) entries and reset to empty (capacity kept). */
  def drain(): Iterator[(Long, Long)] = {
    val out = new Array[(Long, Long)](n)
    var i = 0; var o = 0
    while (i < cap) {
      if (keys(i) != 0L) { out(o) = (keys(i), vals(i)); o += 1; keys(i) = 0L }
      i += 1
    }
    n = 0
    out.iterator
  }
}
