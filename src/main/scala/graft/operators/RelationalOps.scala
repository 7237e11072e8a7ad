package graft.operators

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational operators: scan → filter → aggregate → join → window.
  *
  * These are the bench headliners and prove general query capability. Each
  * is written so Catalyst produces the plan you'd want at 100 TB: filters
  * adjacent to scans (pushed into parquet), map-side partial aggregation
  * before the single hash shuffle, and explicit `broadcast()` on dimension
  * sides of joins so the fact table never shuffles for a small join.
  */
object RelationalOps {

  /** Shadow: every event-driven query in this object reads through
    * [[graft.Tables.cleanEvents]] (the preprocess null-drop policy) —
    * no phantom groups, no null window keys. [[qProfile]] reads
    * `Tables.events` raw BECAUSE its job is to see the nulls.
    */
  private def events(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.cleanEvents(spark, dir)

  /** Exact-decimal rollups of the 2-dp events `value` column. A double
    * sum over a large group is partitioning-order dependent (the ×10 gate
    * caught q14's identical shape drifting by a cent), and the grand-total
    * rows of ROLLUP/GROUPING SETS aggregate EVERY row into one group —
    * the worst case. `value` is 2-dp exact by construction, so the
    * decimal sum is bit-identical at any scale; doubles reappear only
    * after the final round. `valueAvg4` is the mean over the NON-NULL
    * count (avg semantics) rounded half-up to 4 dp in exact integers
    * ([[DedupOps.halfUp4]] of 10⁴·Σvalue = Σcents·100): rounding the
    * double quotient splits .xxxx5 ties between engines (307.03 / 8 =
    * 38.37875 rounded to 38.3788 by Spark, 38.3787 by DuckDB).
    */
  private[operators] def valueSum2: Column =
    round(sum(col("value").cast("decimal(14,2)")), 2).cast("double")
  private[graft] def valueAvg4: Column =
    DedupOps.halfUp4((sum(col("value").cast("decimal(14,2)")) * 10000).cast("long"),
      count(col("value")))

  /** TPC-H Q1-style pricing summary. One scan of lineitem with the date
    * predicate pushed to parquet, partial agg map-side, one shuffle on the
    * low-cardinality (flag, status) key. Money sums accumulate in exact
    * decimal ([[revDec]]): six groups × millions of rows each make a
    * double sum land on half-cent rounding boundaries depending on
    * partitioning (caught by the ×10 gate on q14's identical shape), so
    * every 2-dp money column sums decimally and casts to double only at
    * the edge. Quantity is integral — its double sum is exact as-is.
    */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-12-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        r2(sum(col("l_quantity"))).as("sum_qty"),
        round(sum(col("l_extendedprice").cast("decimal(12,2)")), 2)
          .cast("double").as("sum_base_price"),
        round(sum(revDec), 2).cast("double").as("sum_disc_price"),
        round(sum(revDec * (lit(1).cast("decimal(4,2)") +
          col("l_tax").cast("decimal(4,2)"))), 2).cast("double").as("sum_charge"),
        r4(avg(col("l_quantity"))).as("avg_qty"),
        r4(sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double") /
          count(lit(1))).as("avg_price"),
        r4(sum(col("l_discount").cast("decimal(4,2)")).cast("double") /
          count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** TPC-H Q3-style shipping-priority query. Only the FILTERED CUSTOMER
    * side is explicitly broadcast (one segment ≈ a fifth of a dimension
    * table); orders is fact-sized — its date predicate keeps most rows —
    * so lineitem⋈orders is a shuffle join on l_orderkey and AQE is free
    * to downgrade it to broadcast only when runtime stats fit. Top-10
    * with a deterministic (revenue DESC, orderkey ASC) tiebreak so the
    * result set hash-matches the oracle.
    */
  def q3Join(spark: SparkSession, dir: String): DataFrame = {
    val cust = customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = orders(spark, dir)
      .filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
    val li = lineitem(spark, dir)
      .select(col("l_orderkey"), revDec.as("rev"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("rev")), 2).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)

  }

  /** TPC-H Q5-style local-supplier volume: six-way join. The geography
    * chain region→nation is filtered FIRST and broadcast (a handful of
    * rows); supplier joins broadcast against it; the two big tables
    * (lineitem, orders) meet in a single shuffle join on l_orderkey with
    * the order-date predicate pushed to the orders scan. Customer joins
    * on (custkey, nationkey) — the nation filter has already shrunk the
    * supplier side, so AQE picks broadcast when it fits.
    */
  def q5Join(spark: SparkSession, dir: String): DataFrame = {
    val geo = nation(spark, dir)
      .join(broadcast(region(spark, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val supp = supplier(spark, dir)
      .join(broadcast(geo), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    val ord = orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"),
      revDec.as("rev"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(customer(spark, dir).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("rev")), 2).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q14-style promo revenue share per ship month: lineitem ⋈ part
    * on partkey (shuffle join — part is NOT broadcastable at real scale),
    * conditional aggregation for the promo share.
    */
  def q14Promo(spark: SparkSession, dir: String): DataFrame = {
    val li = lineitem(spark, dir).select(col("l_partkey"),
      date_trunc("month", col("l_shipdate")).as("ship_month"),
      revDec.as("rev"))
    val promoRev = sum(when(col("p_type") === "PROMO", col("rev")).otherwise(lit(0)))
    li.join(part(spark, dir).select(col("p_partkey"), col("p_type")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("ship_month"))
      .agg(
        round(promoRev, 2).cast("double").as("promo_rev"),
        round(sum(col("rev")), 2).cast("double").as("total_rev"),
        r4(lit(100.0) * promoRev.cast("double")
          / sum(col("rev")).cast("double")).as("promo_pct"))
      .orderBy(col("ship_month"))
  }

  /** Per-customer order ranking + running revenue via window functions.
    * Windows partition by o_custkey — a single shuffle; at scale the
    * partition key is high-cardinality so no skew hotspot.
    */
  def qWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .withColumn("order_rank", row_number().over(w).cast("long"))
      .withColumn("running_spend", r2(sum(col("o_totalprice")).over(w)))
      .filter(col("order_rank") <= 3)
      .orderBy(col("o_custkey"), col("order_rank"))
  }

  /** Gap-based sessionization of the event log: a >30-minute silence per
    * user starts a new session (classic lag + cumulative-sum-of-boundaries
    * pattern — one shuffle on user_id, everything else window-local).
    * Emits per-user session stats.
    */
  def qSessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val sess = events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_sess")).over(byUser))
    sess.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts")))).as("duration_s"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        max(col("n_events")).as("max_session_events"),
        max(col("duration_s")).as("max_session_duration_s"),
        r4(avg(col("n_events"))).as("avg_session_events"))
      .orderBy(col("user_id"))
  }

  /** As-of (backward) join: each event paired with the SAME user's most
    * recent purchase at-or-before it — the operator Spark lacks natively.
    *
    * Implemented with the union trick rather than a range join: tag
    * purchase rows side=0 and event rows side=1, union, then a running
    * `last(ignoreNulls)` over (user_id, ts, side) carries the latest
    * purchase timestamp forward onto every event row. ONE shuffle on
    * user_id, zero fan-out — a range-condition join would explode
    * candidate pairs and a per-row subquery would rescan; this is the
    * shape that survives 100 TB. side=0 sorts before side=1 at equal ts,
    * matching ASOF's inclusive (ts >= purchase_ts) semantics.
    */
  def qAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(0).as("side"),
        lit(null).cast("long").as("event_id"), col("ts").as("purchase_ts"))
    val lefts = ev.select(col("user_id"), col("ts"), lit(1).as("side"),
      col("event_id"), lit(null).cast("timestamp").as("purchase_ts"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    purchases.unionByName(lefts)
      .withColumn("last_purchase_ts", last(col("purchase_ts"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("user_id"), col("ts"), col("last_purchase_ts"),
        (unix_timestamp(col("ts")) - unix_timestamp(col("last_purchase_ts")))
          .as("secs_since_purchase"))
      .orderBy(col("event_id"))
  }

  /** Hierarchical totals via ROLLUP(user_id, event_type): per-(user,type),
    * per-user, and grand-total rows from ONE pass — partial aggregation
    * still applies, so the log shuffles once, not three times.
    */
  def qRollup(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .rollup(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"), valueSum2.as("sum_value"))
      .orderBy(col("user_id").asc_nulls_last, col("event_type").asc_nulls_last)

  /** Anti join: customers with no urgent order. A LEFT ANTI join shuffles
    * only the join keys of the probe side — never materializes a NOT IN
    * list on the driver. (Right side filtered pre-join: the predicate
    * prunes at the orders scan.)
    */
  def qAntiJoin(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir).select(col("c_custkey"), col("c_mktsegment"))
      .join(orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .orderBy(col("c_custkey"))

  /** Semi join: customers with at least one high-priority order —
    * existence check without duplicating customer rows per order.
    */
  def qSemiJoin(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir).select(col("c_custkey"), col("c_mktsegment"))
      .join(orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .orderBy(col("c_custkey"))

  /** Exact interpolated quartiles of event value per type (Spark
    * `percentile` ≡ DuckDB `quantile_cont`): 5 groups, map-side partial
    * aggregation. At extreme group cardinality the swap is
    * approx_percentile with a fixed accuracy — same call shape.
    */
  def qPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val pcts = percentile(col("value"), array(lit(0.25), lit(0.5), lit(0.75))).as("p")
    events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), r4(min(col("value"))).as("min_v"),
        valueAvg4.as("avg_v"), r4(max(col("value"))).as("max_v"), pcts)
      .select(col("event_type"), col("n"), col("min_v"), col("avg_v"), col("max_v"),
        r4(element_at(col("p"), 1)).as("p25"),
        r4(element_at(col("p"), 2)).as("p50"),
        r4(element_at(col("p"), 3)).as("p75"))
      .orderBy(col("event_type"))
  }

  /** Approximate quartiles per event_type — the 100 TB swap for
    * [[qPercentiles]]. Exact interpolated quantiles need a full sort per
    * group; `approx_percentile` (Greenwald-Khanna/KLL-style sketch) is a
    * fixed-size MERGEABLE summary, so partial aggregation stays map-side
    * and the shuffle carries one sketch per (partition, group) regardless
    * of row count. Accuracy 1/10000; spec bounds the error against the
    * exact ranks. rows-only: sketch internals are engine-specific.
    */
  def qPercentilesApprox(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        percentile_approx(col("value"),
          array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("p"))
      .select(col("event_type"), col("n"),
        r4(element_at(col("p"), 1)).as("p25"),
        r4(element_at(col("p"), 2)).as("p50"),
        r4(element_at(col("p"), 3)).as("p75"))
      .orderBy(col("event_type"))

  /** Forward-interval (range) join: for each purchase, the same user's
    * activity in the following 10 minutes — the "what happened right
    * after conversion" window, batch twin of the streaming interval join
    * (EventStream.purchaseLinkedErrors). The equi-key (user_id) makes
    * this a hash/sort-merge join with the time range as a post-join
    * predicate — never a nested-loop cross product.
    */
  def qIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    val follow = ev.select(col("user_id").as("u2"), col("ts"), col("event_type"))
    purchases.join(follow,
        col("user_id") === col("u2") &&
          col("ts") > col("purchase_ts") &&
          col("ts") <= col("purchase_ts") + expr("INTERVAL 10 MINUTES"),
        "left")
      .groupBy(col("purchase_id"), col("user_id"), col("purchase_ts"))
      .agg(count(col("ts")).as("events_10m"),
        count(when(col("event_type") === "error", 1)).as("errors_10m"))
      .orderBy(col("purchase_id"))
  }

  /** Day-over-day activity change per user: daily counts + lag diff —
    * the simplest time-series derivative, and the pattern behind every
    * "sudden behavior change" detector. One shuffle (user-keyed window
    * over pre-aggregated daily rows).
    */
  def qDailyChange(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
    daily
      .select(col("user_id"), date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("n"), (col("n") - lag(col("n"), 1).over(w)).as("delta"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Fixed-width value histogram per event_type (10 bins over [0, 100))
    * via width_bucket — the binning aggregation behind every
    * distribution dashboard; one pass, one shuffle on the tiny
    * (type, bin) key.
    */
  def qHistogram(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_type"),
        width_bucket(col("value"), lit(0.0), lit(100.0), lit(10L)).as("bin"))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"), col("bin"))

  /** Log compaction / latest-record snapshot: the newest event per
    * (user, resource) key — the keep-last-write pattern every CDC /
    * upsert-compaction job runs (and what a mutable NoSQL store does
    * implicitly on write). row_number over the key partition with a
    * deterministic (ts, event_id) tiebreak; one shuffle on the compound
    * key, no join. At scale this replaces a MERGE INTO against the
    * snapshot table.
    */
  def qLatestSnapshot(spark: SparkSession, dir: String): DataFrame = {
    // keep-last-write as ONE max_by aggregate instead of shuffle + sort +
    // row_number + filter (r16): the argmax under (ts DESC, event_id
    // DESC) is max_by over the lexicographic (ts, event_id) struct —
    // identical survivor row (the tiebreak is total: ties on both
    // columns carry identical payloads only when the row itself is
    // duplicated). Map-side partial max replaces the full-row sort —
    // at compaction scale the shuffle then carries one candidate row
    // per key per map task instead of every version of every key.
    events(spark, dir)
      .withColumn("resource", get_json_object(col("props"), "$.k"))
      .filter(col("resource").isNotNull)
      .groupBy(col("user_id"), col("resource"))
      .agg(max_by(
        struct(col("event_id"), col("ts"), col("event_type"), col("value")),
        struct(col("ts"), col("event_id"))).as("last"))
      .select(col("user_id"), col("resource"), col("last.event_id"),
        col("last.ts"), col("last.event_type"), r4(col("last.value")).as("value"))
      .orderBy(col("user_id"), col("resource"))
  }

  /** One-pass data profile of the event log: row count, per-column null
    * and distinct counts, numeric/timestamp ranges — the schema-sanity
    * scan an ingest pipeline runs before anything else. ONE aggregation
    * (Spark expands multi-countDistinct internally); no second pass over
    * the data. Wide typed output avoids cross-engine string rendering.
    */
  def qProfile(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.events(spark, dir).agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("user_id_nulls"),
      countDistinct(col("user_id")).as("user_id_distinct"),
      min(col("user_id")).as("user_id_min"),
      max(col("user_id")).as("user_id_max"),
      sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("event_type_nulls"),
      countDistinct(col("event_type")).as("event_type_distinct"),
      sum(when(col("value").isNull, 1L).otherwise(0L)).as("value_nulls"),
      countDistinct(col("value")).as("value_distinct"),
      r4(min(col("value"))).as("value_min"),
      r4(max(col("value"))).as("value_max"),
      min(col("ts")).as("ts_min"),
      max(col("ts")).as("ts_max"),
      sum(when(get_json_object(col("props"), "$.k").isNull, 1L).otherwise(0L))
        .as("resource_nulls"),
      countDistinct(get_json_object(col("props"), "$.k")).as("resource_distinct"))

  /** The event-type domain (stable in the synthetic log; a production
    * pipeline derives it from a dimension table or config).
    */
  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  /** Per-user activity matrix pivoted to one column per event type —
    * the wide form of qActivityPatterns. With the pivot values given
    * explicitly there is no discovery pass; conditional aggregation in
    * one shuffle.
    */
  /** Unordered pivot body shared by [[qPivot]] and [[qUnpivot]]:
    * the melt must build on the matrix BEFORE the presentation sort, or
    * the pivot's rangepartitioning Exchange + Sort run (and are thrown
    * away) below the Expand.
    */
  private def pivotWide(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .na.fill(0, EventTypes)

  def qPivot(spark: SparkSession, dir: String): DataFrame =
    pivotWide(spark, dir).orderBy(col("user_id"))

  /** Gap sessionization via the built-in `session_window` aggregate — the
    * declarative twin of [[qSessionize]]'s lag-gap formulation (and of the
    * streaming flatMapGroupsWithState path). Note the boundary: Spark's
    * session_window merges an event only while gap < 30 min STRICTLY, so
    * the oracle uses `diff >= 1800 → new session` (the lag-gap query uses
    * > 1800 — both are valid conventions; each is oracled to its own).
    */
  def qSessionWindow(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts")))).as("duration_s"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        max(col("n_events")).as("max_session_events"),
        max(col("duration_s")).as("max_session_duration_s"),
        r4(avg(col("n_events"))).as("avg_session_events"))
      .orderBy(col("user_id"))

  /** Tumbling 1-hour window counts per event_type — the batch twin of the
    * Structured Streaming path in [[graft.streaming.EventStream]].
    */
  def qWindowedCounts(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), valueSum2.as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** Sliding 1-hour windows every 30 minutes — each event lands in
    * width/slide = 2 windows (Spark's `window()` Expand does exactly
    * this duplication before the hash agg, so the shuffle carries
    * 2× rows but map-side partial aggregation still collapses them to
    * one row per (window, type) per partition). The batch twin of the
    * streaming sliding-window path (EventStream.afterHoursWindowed).
    */
  def qSlidingCounts(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), valueSum2.as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** CUBE(status, priority) totals over orders — all four grouping sets in
    * ONE pass (Catalyst expands the cube into a single Expand + hash agg;
    * map-side partial aggregation still applies, so the shuffle carries at
    * most 4× the distinct group keys, not 4× the rows). Subtotal rows are
    * labeled 'ALL' via grouping() so downstream consumers (and the hash
    * compare) never see NULL-as-subtotal ambiguity.
    */
  def qCube(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping(col("o_orderstatus")).as("g_s"),
        grouping(col("o_orderpriority")).as("g_p"),
        count(lit(1)).as("n"), r2(sum(col("o_totalprice"))).as("total_price"))
      .select(
        when(col("g_s") === 1, lit("ALL")).otherwise(col("o_orderstatus")).as("status"),
        when(col("g_p") === 1, lit("ALL")).otherwise(col("o_orderpriority")).as("priority"),
        col("n"), col("total_price"))
      .orderBy(col("status"), col("priority"))

  /** Set operators over user populations: INTERSECT (clicked AND
    * purchased) and EXCEPT (clicked, never purchased) in one tagged
    * result. Both compile to aggregate/join plans on the distinct user
    * sets — no driver-side membership lists.
    */
  def qSetOps(spark: SparkSession, dir: String): DataFrame = {
    def users(t: String) = events(spark, dir)
      .filter(col("event_type") === t).select(col("user_id")).distinct()
    val clicked = users("click")
    val purchased = users("purchase")
    clicked.intersect(purchased).withColumn("tag", lit("click_and_purchase"))
      .union(clicked.except(purchased).withColumn("tag", lit("click_no_purchase")))
      .select(col("tag"), col("user_id"))
      .orderBy(col("tag"), col("user_id"))
  }

  /** Argmin-by-group (TPC-H Q2's correlated min-subquery pattern): the
    * part(s) at the minimum retail price per brand. The correlated
    * subquery re-expresses as ONE window min over the brand partition —
    * a single shuffle on p_brand, no self-join (ties kept, deterministic
    * order).
    */
  def qMinByGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("p_brand"))
    part(spark, dir)
      .withColumn("brand_min", min(col("p_retailprice")).over(w))
      .filter(col("p_retailprice") === col("brand_min"))
      .select(col("p_brand"), col("p_partkey"), r2(col("p_retailprice")).as("price"))
      .orderBy(col("p_brand"), col("p_partkey"))
  }

  /** 7-day moving average of per-user daily activity — RANGE frame over
    * day offsets (not ROWS: a user with gap days must average over the
    * calendar window, not the last 7 present rows). Daily pre-aggregation
    * shrinks the window input to |user × day| before the single user-keyed
    * sort, the standard telemetry-rollup shape.
    */
  def qMovingAvg(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(datediff(col("day"), lit("1970-01-01").cast("date")))
      .rangeBetween(-6, 0)
    daily
      .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n"), r4(avg(col("n")).over(w)).as("ma7"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Grouped EXISTS (TPC-H Q4's shape): per order priority, how many
    * orders have at least one line shipped after the order date. The
    * EXISTS compiles to a LEFT SEMI join on o_orderkey — lineitem is
    * deduplicated by the semi join itself (no DISTINCT pass), and only
    * join keys + the date predicate columns shuffle.
    */
  def qExistsAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = lineitem(spark, dir).select(col("l_orderkey"), col("l_shipdate"))
    orders(spark, dir)
      .join(li, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** FULL OUTER join: per-user signup counts vs error counts, keeping
    * users present on EITHER side (the reconciliation join — "which
    * accounts appear in system A, B, or both"). Both inputs pre-aggregate
    * to one row per key before joining, so the join moves |users| rows,
    * and the tag column makes the three populations explicit.
    */
  def qFullOuter(spark: SparkSession, dir: String): DataFrame = {
    def perUser(t: String, as: String) = events(spark, dir)
      .filter(col("event_type") === t)
      .groupBy(col("user_id").as(s"${as}_uid"))
      .agg(count(lit(1)).as(as))
    val s = perUser("signup", "n_signups")
    val e = perUser("error", "n_errors")
    s.join(e, col("n_signups_uid") === col("n_errors_uid"), "full_outer")
      .select(
        coalesce(col("n_signups_uid"), col("n_errors_uid")).as("user_id"),
        coalesce(col("n_signups"), lit(0L)).as("n_signups"),
        coalesce(col("n_errors"), lit(0L)).as("n_errors"),
        when(col("n_signups_uid").isNull, lit("error_only"))
          .when(col("n_errors_uid").isNull, lit("signup_only"))
          .otherwise(lit("both")).as("tag"))
      .orderBy(col("user_id"))
  }

  /** Top-k per group (k=3): each user's three most-accessed resources,
    * via rank-over-partition with a deterministic (count DESC, resource
    * ASC) tiebreak. ONE shuffle on user_id after the (user, resource)
    * pre-aggregation — the "top pages per user / top talkers per host"
    * pattern; never a per-group sort of raw events, so group size only
    * enters through the distinct-resource count.
    */
  def qTopPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val byRes = events(spark, dir)
      .withColumn("resource", get_json_object(col("props"), "$.k"))
      .filter(col("resource").isNotNull)
      .groupBy(col("user_id"), col("resource"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("n").desc, col("resource").asc)
    byRes
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("user_id"), col("rk"), col("resource"), col("n"))
      .orderBy(col("user_id"), col("rk"))
  }

  /** Unpivot (melt): the wide per-user activity matrix back to long
    * (user_id, event_type, n) form — the inverse of [[qPivot]] and the
    * standard wide→long reshaping every feature store needs. Spark's
    * `unpivot` compiles to a single Expand (one output row per value
    * column per input row) — narrow, no shuffle beyond the pivot's own;
    * at 100 TB the Expand streams, nothing is materialized wide.
    */
  def qUnpivot(spark: SparkSession, dir: String): DataFrame =
    pivotWide(spark, dir)
      .unpivot(Array(col("user_id")), EventTypes.map(col).toArray,
        "event_type", "n")
      .orderBy(col("user_id"), col("event_type"))

  /** Explicit GROUPING SETS — the general form behind ROLLUP/CUBE
    * ([[qRollup]]/[[qCube]]): here the two one-dimension subtotals plus
    * the grand total, WITHOUT the (status, priority) cross cells a CUBE
    * would also compute. Catalyst expands all three sets in one
    * Expand + hash aggregate pass (3× the distinct keys shuffle, not 3×
    * the rows — partial aggregation still applies). Only expressible via
    * SQL in Spark's public API, which is itself part of the surface:
    * `spark.sql` over a registered view.
    */
  def qGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    orders(spark, dir).createOrReplaceTempView("orders_gsets")
    spark.sql(
      """SELECT
           CASE WHEN grouping(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END AS status,
           CASE WHEN grouping(o_orderpriority) = 1 THEN 'ALL' ELSE o_orderpriority END AS priority,
           count(*) AS n, round(sum(o_totalprice), 2) AS total_price
         FROM orders_gsets
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         ORDER BY status, priority""")
  }

  /** Decile statistics of event values per type via `ntile` — the
    * SQL-standard equal-frequency binning behind score calibration and
    * threshold picking. One window shuffle on event_type (the ORDER BY
    * carries an event_id tiebreak so tile boundaries are deterministic),
    * then a tiny (type × 10) aggregation. At scale the per-type sort is
    * the cost — exactly what approx_percentile replaces when ±ε is
    * acceptable (q_percentiles_approx); this is the exact path.
    */
  def qNtile(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").asc, col("event_id").asc)
    events(spark, dir)
      .select(col("event_type"), col("value"), col("event_id"))
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy(col("event_type"), col("decile"))
      .agg(count(lit(1)).as("n"), r4(min(col("value"))).as("min_v"),
        r4(max(col("value"))).as("max_v"), valueAvg4.as("avg_v"))
      .orderBy(col("event_type"), col("decile"))
  }

  /** Calendar gap-fill (time-series densification): expand each user's
    * active-day span to EVERY calendar day via an in-row `sequence` +
    * explode — the date spine is generated from the user's own (min, max)
    * aggregate, so no driver-side calendar table and no cross join — then
    * left-join the real daily counts back, zero-fill, and run the
    * cumulative total. Missing days are flagged (`gap`) — the
    * prerequisite for any honest moving average / drift stat (q_ewma,
    * q_cusum operate on active days; this is the densified twin).
    * Spine size is Σ per-user span — linear, partitioned by user.
    */
  def qGapFill(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
    val spine = daily.groupBy(col("user_id"))
      .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("d"))
    val byDay = Window.partitionBy(col("user_id")).orderBy(col("d"))
    spine.join(daily, Seq("user_id", "d"), "left")
      .select(col("user_id"), col("d"),
        coalesce(col("n"), lit(0L)).as("n"),
        when(col("n").isNull, 1L).otherwise(0L).as("gap"))
      .withColumn("running_total", sum(col("n")).over(byDay))
      .select(col("user_id"), date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("n"), col("gap"), col("running_total"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Multi-grain time rollup: hour / day / week / grand totals of the
    * event stream in ONE pass — GROUPING SETS over three date_trunc
    * expressions, so the scan and partial aggregation happen once and
    * the Expand emits one row per grain (4× the distinct buckets, not
    * 4× the rows). The OLAP "time cube" every dashboard needs without
    * re-scanning per grain; at 100 TB the single scan is the win.
    */
  def qTimeRollup(spark: SparkSession, dir: String): DataFrame = {
    events(spark, dir).createOrReplaceTempView("events_tr")
    spark.sql(
      """SELECT
           CASE WHEN grouping(h) = 0 THEN 'hour'
                WHEN grouping(d) = 0 THEN 'day'
                WHEN grouping(w) = 0 THEN 'week' ELSE 'all' END AS grain,
           coalesce(
             CASE WHEN grouping(h) = 0 THEN date_format(h, 'yyyy-MM-dd HH:00') END,
             CASE WHEN grouping(d) = 0 THEN date_format(d, 'yyyy-MM-dd') END,
             CASE WHEN grouping(w) = 0 THEN date_format(w, 'yyyy-MM-dd') END,
             'ALL') AS bucket,
           count(*) AS n,
           cast(round(sum(cast(value AS decimal(14,2))), 2) AS double) AS sum_value
         FROM (SELECT date_trunc('hour', ts) AS h, date_trunc('day', ts) AS d,
                      date_trunc('week', ts) AS w, value
               FROM events_tr)
         GROUP BY GROUPING SETS ((h), (d), (w), ())
         ORDER BY grain, bucket""")
  }

  /** The full rank-function family in one pass: rank, dense_rank,
    * percent_rank, cume_dist over the same per-type value ordering —
    * they share ONE window sort (Catalyst evaluates all four in a single
    * Window operator), so adding functions costs nothing beyond the
    * per-type shuffle the first one pays. Top-5 per type by value.
    */
  def qRankFns(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id").asc)
    events(spark, dir)
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("dense_rnk", dense_rank().over(w).cast("long"))
      .withColumn("pct_rank", r4(percent_rank().over(w)))
      .withColumn("cume", r4(cume_dist().over(w)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("event_type"), col("rn").cast("long").as("rn"), col("event_id"),
        r4(col("value")).as("value"), col("rnk"), col("dense_rnk"),
        col("pct_rank"), col("cume"))
      .orderBy(col("event_type"), col("rn"))
  }

  /** Inter-purchase gap analysis: per user, the gap to the NEXT purchase
    * via `lead` over the purchase sub-stream, rolled up to per-user
    * cadence stats — the repeat-behavior primitive behind churn and
    * frequency models. The purchase filter prunes the scan BEFORE the
    * window shuffle; one window + one aggregation, both keyed by user.
    */
  def qPurchaseGaps(spark: SparkSession, dir: String): DataFrame = {
    val byTs = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("gap_s",
        unix_timestamp(lead(col("ts"), 1).over(byTs)) - unix_timestamp(col("ts")))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
        count(col("gap_s")).as("n_gaps"),
        r4(avg(col("gap_s"))).as("avg_gap_s"),
        max(col("gap_s")).as("max_gap_s"),
        min(col("gap_s")).as("min_gap_s"))
      .orderBy(col("user_id"))
  }

  /** Declarative data-quality suite (Deequ-style): completeness,
    * uniqueness, range, span and referential-integrity checks evaluated
    * as a UNION of tiny aggregates — each check is one scan-shaped
    * aggregation (or an anti-join count for RI), so the whole suite
    * costs a handful of map-side-combined passes and emits one row per
    * check with the observed metric and a pass verdict. The gate a
    * 100 TB ingest runs BEFORE publishing a partition.
    */
  def qDqChecks(spark: SparkSession, dir: String): DataFrame = {
    // RAW events, like qProfile: the DQ gate's job is to MEASURE the
    // dirty rows (null rates, row counts) before anything drops them —
    // reading through cleanEvents would make its null-rate check
    // structurally zero. Its oracle is exempt from the policy rewrite.
    val e = graft.Tables.events(spark, dir)
    def check(name: String, metricDf: DataFrame, pass: Column => Column): DataFrame =
      metricDf.select(lit(name).as("check_name"), r4(col("metric")).as("metric"),
        pass(col("metric")).cast("long").as("passed"))
    val rowcount = check("events_rowcount",
      e.agg(count(lit(1)).cast("double").as("metric")), _ > 0)
    val nullRate = check("events_user_null_rate",
      e.agg((sum(when(col("user_id").isNull, 1).otherwise(0)).cast("double")
        / count(lit(1))).as("metric")), _ <= 0.01)
    val dupIds = check("events_event_id_dups",
      e.agg((count(lit(1)) - countDistinct(col("event_id"))).cast("double").as("metric")),
      _ === 0)
    val negValues = check("events_value_negative",
      e.agg(sum(when(col("value") < 0, 1).otherwise(0)).cast("double").as("metric")),
      _ === 0)
    val span = check("events_span_days",
      e.agg(datediff(max(to_date(col("ts"))), min(to_date(col("ts"))))
        .cast("double").as("metric")), _ >= 7)
    val liRi = check("lineitem_orderkey_ri",
      lineitem(spark, dir).select(col("l_orderkey")).distinct()
        .join(orders(spark, dir).select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).cast("double").as("metric")), _ === 0)
    val ordRi = check("orders_custkey_ri",
      orders(spark, dir).select(col("o_custkey")).distinct()
        .join(customer(spark, dir).select(col("c_custkey")),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).cast("double").as("metric")), _ === 0)
    Seq(rowcount, nullRate, dupIds, negValues, span, liRi, ordRi)
      .reduce(_ unionByName _)
      .orderBy(col("check_name"))
  }

  /** TPC-H Q7-style bilateral trade volume: revenue shipped between a
    * supplier nation and a customer nation, both directions, per ship
    * year. The nation table is broadcast onto BOTH supplier and customer
    * (a 25-row dim twice — two independent broadcast joins, no shuffle);
    * the only big-big meet is lineitem⋈orders on orderkey. The
    * disjunctive nation-pair predicate lands AFTER both nations are
    * attached — on the already-joined row, a cheap codegen filter, never
    * a join condition that would force a nested loop.
    */
  def q7Volume(spark: SparkSession, dir: String): DataFrame = {
    val n1 = nation(spark, dir).select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = nation(spark, dir).select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    val supp = supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .filter(col("supp_nation").isin("NATION_13", "NATION_19"))
      .select(col("s_suppkey"), col("supp_nation"))
    val cust = customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .filter(col("cust_nation").isin("NATION_13", "NATION_19"))
      .select(col("c_custkey"), col("cust_nation"))
    val ord = orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
    val li = lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("l_year"),
        revDec.as("volume"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter((col("supp_nation") === "NATION_13" && col("cust_nation") === "NATION_19") ||
        (col("supp_nation") === "NATION_19" && col("cust_nation") === "NATION_13"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(round(sum(col("volume")), 2).cast("double").as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H Q10-style returned-item report: top-20 customers by revenue
    * lost to returns in one quarter. The quarter predicate prunes the
    * orders scan; lineitem⋈orders is the one shuffle join (returnflag
    * filter pushed into the lineitem scan); customer and nation attach
    * to the small aggregated result — customer joins post-aggregation on
    * ≤|customers-in-quarter| rows, never against raw lineitem.
    */
  def q10Returns(spark: SparkSession, dir: String): DataFrame = {
    val ord = orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    // Exact-decimal revenue: price (2 dp) × (1 − discount) (2 dp) is an
    // exact 4-dp decimal, and this particular sum lands ON a half-cent
    // boundary at sf0.01 — double accumulation order would flip the 2-dp
    // rounding between engines. Decimal sum → decimal round → double is
    // bit-identical under any partitioning.
    val li = lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (col("l_extendedprice").cast("decimal(12,2)") *
          (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)"))).as("rev"))
    val perCust = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(round(sum(col("rev")), 2).cast("double").as("revenue"))
    perCust
      .join(customer(spark, dir)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(spark, dir).select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("revenue"),
        col("c_acctbal"), col("n_name"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  /** TPC-H Q13-style customer order-count distribution: how many
    * customers placed exactly k qualifying orders. LEFT OUTER join so
    * zero-order customers survive into the k=0 bucket; the non-URGENT
    * predicate lives in the JOIN CONDITION (filtering before the join
    * would also drop the customers it should merely zero). Two
    * aggregations: per-customer count (shuffle on custkey), then the
    * tiny distribution rollup (shuffle on k — dozens of keys).
    */
  def q13Distribution(spark: SparkSession, dir: String): DataFrame = {
    val ord = orders(spark, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select(col("o_orderkey"), col("o_custkey"))
    customer(spark, dir).select(col("c_custkey"))
      .join(ord, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q15-style top supplier: supplier(s) achieving the maximum
    * quarterly revenue. Per-supplier aggregation (one shuffle), then the
    * global max is a ONE-ROW aggregate broadcast back as a join filter —
    * never a global sort, never a window over the whole frame. Revenue is
    * rounded BEFORE the max-compare so the equality join is float-safe
    * cross-engine.
    */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(round(sum(revDec), 2).cast("double").as("total_revenue"))
    val mx = rev.agg(max(col("total_revenue")).as("max_rev"))
    rev.join(broadcast(mx), col("total_revenue") === col("max_rev"))
      .join(broadcast(supplier(spark, dir).select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q17-style small-quantity revenue: lines ordering less than 20%
    * of their part's average quantity, for one brand. The correlated
    * scalar subquery of the reference formulation is DECORRELATED into a
    * per-part aggregate joined back on partkey — one extra shuffle
    * instead of a per-row subquery; the brand filter broadcasts a tiny
    * partkey list into both lineitem scans. Quantities are integral
    * doubles so avg is exact and the `<` boundary is engine-stable.
    */
  def q17SmallQty(spark: SparkSession, dir: String): DataFrame = {
    val brandParts = part(spark, dir)
      .filter(col("p_brand") === "Brand#12").select(col("p_partkey"))
    val pavg = lineitem(spark, dir)
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey").as("pk"))
      .agg((avg(col("l_quantity")) * 0.2).as("qty_thresh"))
    lineitem(spark, dir)
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(pavg), col("l_partkey") === col("pk"))
      .filter(col("l_quantity") < col("qty_thresh"))
      .agg(r2(sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double")
        / 7.0).as("avg_yearly"))
  }

  /** TPC-H Q18-style large-volume orders: orders whose total quantity
    * exceeds 300, with their customer. The qualifying-orderkey set comes
    * from ONE aggregation over lineitem (map-side partial sums make the
    * shuffle carry per-order partials, not rows); it is tiny (high
    * threshold) and broadcasts into orders; customer attaches to the
    * filtered result. Lineitem is scanned once, never joined to itself.
    */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val bigOrders = lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 300)
    orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
      .join(broadcast(bigOrders), col("o_orderkey") === col("l_orderkey"))
      .join(customer(spark, dir).select(col("c_custkey"), col("c_name")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), r2(col("o_totalprice")).as("o_totalprice"),
        r2(col("total_qty")).as("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
  }

  /** TPC-H Q19-style disjunctive-predicate revenue: three (brand, size,
    * quantity) OR-blocks over lineitem⋈part. The partkey equi-join is
    * the join condition; the whole disjunction is a post-join codegen
    * filter — Catalyst additionally derives the brand-IN and size-range
    * implied predicates and pushes them into the part scan, so the
    * broadcast side is pre-shrunk. One scan, one broadcast join, one
    * scalar aggregate.
    */
  def q19Disjunct(spark: SparkSession, dir: String): DataFrame = {
    val p = part(spark, dir)
      .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#34") &&
        col("p_size").between(1, 35))
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity"), revDec.as("rev"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) && col("l_quantity").between(1, 15)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) && col("l_quantity").between(10, 25)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 35) && col("l_quantity").between(20, 35)))
      .agg(round(sum(col("rev")), 2).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q22-style dormant-account report: customers with
    * above-average balances who have placed NO order since a cutoff —
    * the lapsed-high-value-customer query. The global positive-balance
    * average is a one-row aggregate broadcast as a cross join (scalar
    * subquery decorrelation); "no recent order" is a LEFT ANTI join
    * against the date-pruned orders scan (only custkeys shuffle);
    * the final nation rollup is tiny.
    */
  def q22Dormant(spark: SparkSession, dir: String): DataFrame = {
    val cust = customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
    // the average is a FILTER THRESHOLD: it must be bit-identical across
    // engines and partitionings or membership itself flips — exact
    // decimal sum / count, divided in double (2-dp balances sum exactly)
    val avgBal = cust.filter(col("c_acctbal") > 0)
      .agg((sum(col("c_acctbal").cast("decimal(14,2)")).cast("double") /
        count(lit(1))).as("avg_bal"))
    val recent = orders(spark, dir)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    cust.join(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        round(sum(col("c_acctbal").cast("decimal(14,2)")), 2)
          .cast("double").as("totacctbal"))
      .orderBy(col("c_nationkey"))
  }

  /** Exact-decimal `extendedprice × (1 − discount)` term: price (2 dp) and
    * discount (2 dp) are exact decimals, so the 4-dp product — and any sum
    * of it — is bit-identical under every partitioning and engine. The
    * double path would land sums on half-cent rounding boundaries.
    */
  private[operators] def revDec: Column =
    col("l_extendedprice").cast("decimal(12,2)") *
      (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)"))

  /** TPC-H Q6-style forecast-revenue-change: one filtered scalar aggregate
    * over lineitem, no join at all. The whole point is pushdown: the date
    * range, discount band, and quantity cap all reach the parquet scan as
    * PushedFilters, so at 100 TB the scan skips row groups on footer
    * stats and the aggregate sees only qualifying pages. Discount values
    * are 2-dp-exact doubles, so the BETWEEN boundaries are engine-stable.
    */
  def q6Forecast(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice").cast("decimal(12,2)") *
          col("l_discount").cast("decimal(4,2)")), 2).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))

  /** TPC-H Q8-style national market share: the fraction of ASIA-region
    * promo-part revenue supplied by NATION_7, per order year. Every
    * dimension (region→nation→customer key set, promo part keys, supplier
    * nation names) broadcasts; the only shuffle join is lineitem⋈orders on
    * orderkey. The share is a conditional-sum ÷ total-sum over the SAME
    * aggregated row — one pass, no self-join of the aggregate. Sums are
    * exact decimals cast to double before the division so the 4-dp
    * rounding is engine-stable.
    */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val asiaNationKeys = nation(spark, dir)
      .join(broadcast(region(spark, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val asiaCust = customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(asiaNationKeys), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val ord = orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .join(broadcast(asiaCust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_year"))
    val promoParts = part(spark, dir).filter(col("p_type") === "PROMO").select(col("p_partkey"))
    val suppNation = supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(nation(spark, dir).select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), revDec.as("volume"))
      .join(broadcast(promoParts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_year"))
      .agg(round(
        sum(when(col("supp_nation") === "NATION_7", col("volume"))
          .otherwise(lit(0).cast("decimal(12,2)"))).cast("double") /
          sum(col("volume")).cast("double"), 4).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  /** TPC-H Q9-style product-type profit by nation and year. The synthetic
    * schema has no partsupp/ps_supplycost, so cost is the stand-in
    * `0.6 × p_retailprice × l_quantity` — the SHAPE is what matters: a
    * five-table star join where every dimension (part subset with its
    * price, supplier→nation) broadcasts and the single shuffle join is
    * lineitem⋈orders, followed by a tiny (nation × year) aggregate. All
    * profit arithmetic is exact decimal (2-dp prices, 2-dp discounts,
    * integral quantities), so the per-group sums hash identically.
    */
  def q9Profit(spark: SparkSession, dir: String): DataFrame = {
    val stdParts = part(spark, dir).filter(col("p_type") === "STANDARD")
      .select(col("p_partkey"), col("p_retailprice"))
    val suppNation = supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(nation(spark, dir).select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val amount = revDec -
      lit(0.6).cast("decimal(2,1)") * col("p_retailprice").cast("decimal(12,2)") *
        col("l_quantity").cast("decimal(4,0)")
    lineitem(spark, dir)
      .join(broadcast(stdParts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_orderkey"), col("n_name").as("nation"), amount.as("amount"))
      .join(orders(spark, dir)
          .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("nation"), col("o_year"))
      .agg(round(sum(col("amount")), 2).cast("double").as("profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** TPC-H Q11-style important-part concentration: parts whose
    * EUROPE-supplied revenue exceeds a fraction of the total (no partsupp
    * table, so lineitem revenue plays ps_supplycost×availqty). The scalar
    * threshold comes from re-aggregating the SMALL per-part frame — the
    * big input is scanned once; the one-row total broadcasts back as a
    * cross-join filter, the Q11 HAVING-scalar-subquery decorrelation.
    * Per-part sums are exact decimals; both the value and the threshold
    * are cast to double before the compare so the boundary is
    * engine-stable.
    */
  /** Q11's concentration multiplier: a part is "important" when its
    * value exceeds this multiple of the MEAN per-part value. Shared with
    * the oracle SQL so the two sides can never diverge. 1.5 keeps the
    * flagship-scale (sf0.001) distribution — max/mean 1.93 — selective
    * but non-empty at every scale. */
  val Q11ThresholdX = 1.5

  def q11Important(spark: SparkSession, dir: String): DataFrame = {
    val eurSupp = supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(nation(spark, dir).filter(col("n_regionkey") === 3)
        .select(col("n_nationkey"))), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val perPart = lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"), revDec.as("rev"))
      .join(broadcast(eurSupp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("rev")).as("val_dec"))
    // Threshold is data-derived (Q11ThresholdX × the MEAN per-part value)
    // rather than a fixed fraction of the TOTAL: the per-part mean is
    // invariant under data growth (TPC-H's own spec divides its fraction
    // by SF for exactly this reason), so the query keeps selecting the
    // concentrated parts — and returning rows — at any amplification
    // instead of going vacuously empty once the total outruns a fixed
    // fraction (the ×10 gate's 0-row hash match).
    val thresh = perPart
      .agg((sum(col("val_dec")).cast("double") / count(lit(1))
        * Q11ThresholdX).as("thresh"))
    perPart.join(broadcast(thresh))
      .filter(col("val_dec").cast("double") > col("thresh"))
      .select(col("l_partkey").as("p_partkey"),
        round(col("val_dec"), 2).cast("double").as("value"))
      .orderBy(col("value").desc, col("p_partkey"))
  }

  /** TPC-H Q12-style late-shipment priority split (no l_shipmode column;
    * l_returnflag plays the mode axis): for lines shipped >90 days after
    * their order date during 1996, how many belonged to high- vs
    * low-priority orders. The ship-year range prunes the lineitem scan;
    * the date-lag predicate needs both sides so it runs post-join; counts
    * are conditional sums in ONE aggregate — the classic
    * shuffle-join + pivot-free conditional-count shape.
    */
  def q12Priority(spark: SparkSession, dir: String): DataFrame = {
    val isHigh = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_returnflag"), col("l_shipdate"))
      .join(orders(spark, dir)
          .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(isHigh, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(isHigh, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_returnflag"))
  }

  /** TPC-H Q16-style supplier-relationship count: distinct suppliers per
    * (brand, type, size) bucket, excluding one brand, one type, and the
    * "complaint" suppliers (negative balance stands in for the comment
    * LIKE). The distinct (partkey, suppkey) projection reconstructs
    * partsupp from lineitem in one shuffle — but only AFTER the broadcast
    * part filter prunes it, so the dedup shuffle carries the qualifying
    * slice, not the full fact table. Exclusion is a broadcast LEFT ANTI
    * (never NOT IN's null traps); the final count-distinct groups on the
    * tiny (brand, type, size) space.
    */
  def q16SupplierCnt(spark: SparkSession, dir: String): DataFrame = {
    val parts = part(spark, dir)
      .filter(col("p_brand") =!= "Brand#3" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    val complaints = supplier(spark, dir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    lineitem(spark, dir).select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(complaints), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .select(col("p_brand"), col("p_type"), col("p_size"), col("l_suppkey"))
      .distinct()
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(count(lit(1)).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  /** TPC-H Q20-style excess-shipment suppliers (no partsupp/availqty:
    * "held excess stock" becomes "shipped >6% of a promo part's all-time
    * volume in 1996 alone"). Both aggregates come off ONE broadcast-pruned
    * lineitem slice, join partkey-to-partkey (co-partitioned shuffle), and
    * the qualifying supplier keys collapse to a distinct set that
    * semi-joins the supplier dimension — the nested-IN-subquery chain of
    * the reference formulation, decorrelated into aggregates + semi join.
    * Quantity sums are integral doubles (exact), so the 0.06 threshold
    * compare is engine-stable.
    */
  def q20Promotion(spark: SparkSession, dir: String): DataFrame = {
    val promoParts = part(spark, dir).filter(col("p_type") === "PROMO").select(col("p_partkey"))
    val li = lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"), col("l_shipdate"))
      .join(broadcast(promoParts), col("l_partkey") === col("p_partkey"))
    val shipped96 = li
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(col("l_quantity")).as("q96"))
    val total = li.groupBy(col("l_partkey").as("pk"))
      .agg(sum(col("l_quantity")).as("qall"))
    val qualSupp = shipped96.join(total, col("l_partkey") === col("pk"))
      .filter(col("q96") > col("qall") * 0.06)
      .select(col("l_suppkey")).distinct()
    supplier(spark, dir).select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
      .join(broadcast(nation(spark, dir).filter(col("n_regionkey") === 2)
        .select(col("n_nationkey"))), col("s_nationkey") === col("n_nationkey"))
      .join(qualSupp, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q21-style suppliers-who-kept-orders-waiting: for finished
    * orders with ≥2 suppliers, count per supplier the orders where it was
    * the ONLY supplier shipping late (>100 days after the order date —
    * the schema has no commit/receipt dates). The reference's
    * EXISTS/NOT-EXISTS self-join pair is re-expressed as ONE per-order
    * aggregate: distinct-supplier count, distinct-LATE-supplier count, and
    * (when exactly one) that supplier's key via max(when(late, supp)) —
    * the join and the aggregate share the orderkey partitioning, so
    * lineitem is scanned once and never self-joined. numwait counts
    * qualifying ORDERS (distinct, not raw late lines).
    */
  def q21Waiting(spark: SparkSession, dir: String): DataFrame = {
    val isLate = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 100 DAYS")
    // Two-level aggregate instead of the double countDistinct (r16): the
    // old shape planned an Expand that tripled every joined row through
    // the first exchange to serve two distinct-aggregates. Pre-reducing
    // to one row per (order, supplier) with an any-late flag makes both
    // "distinct" counts plain map-side-combinable counts — same values
    // by construction (a supplier with late AND on-time lines carries
    // any_late = 1 and is counted once, exactly as countDistinct over
    // the when-filtered key did), no Expand, strictly fewer shuffled
    // bytes.
    val perOrder = lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(orders(spark, dir).filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(isLate, 1L).otherwise(0L)).as("any_late"))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"),
        sum(col("any_late")).as("n_late"),
        max(when(col("any_late") === 1L, col("l_suppkey"))).as("late_supp"))
    perOrder.filter(col("n_supp") >= 2 && col("n_late") === 1)
      .groupBy(col("late_supp"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(supplier(spark, dir).select(col("s_suppkey"), col("s_name"))),
        col("late_supp") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(20)
  }

  /** Three-step ordered funnel (signup → click → purchase, each step at or
    * after the previous one's FIRST completion): per-step reached-user
    * counts and step-to-step conversion — the multi-stage CEP rollup that
    * generalizes [[graft.operators.ThreatOps]]'s two-step funnel. Each
    * step is a user-keyed min-aggregate of one event slice joined to the
    * previous step's frame: all joins and aggs share the user_id
    * partitioning, so the whole pattern match costs one shuffle per step
    * slice and the output is three rows. Conversion divides exact longs →
    * engine-stable 4-dp doubles.
    */
  def qFunnel3(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).select(col("user_id"), col("event_type"), col("ts"))
    def firstAtOrAfter(slice: DataFrame, prev: DataFrame): DataFrame =
      slice.join(prev, "user_id")
        .filter(col("ts") >= col("prev_ts"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("step_ts"))
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("step_ts"))
    val s2 = firstAtOrAfter(
      ev.filter(col("event_type") === "click"),
      s1.select(col("user_id"), col("step_ts").as("prev_ts")))
    val s3 = firstAtOrAfter(
      ev.filter(col("event_type") === "purchase"),
      s2.select(col("user_id"), col("step_ts").as("prev_ts")))
    val counts = Seq(("1_signup", s1), ("2_click", s2), ("3_purchase", s3))
      .map { case (label, df) => df.agg(count(lit(1)).as("users"))
        .select(lit(label).as("step"), col("users")) }
      .reduce(_.unionAll(_))
    val w = Window.orderBy(col("step"))
    // NULL (not 0/0) when the previous step is empty: Spark's Divide
    // yields NULL on zero denominators while IEEE engines yield NaN —
    // making the undefined case explicit keeps both sides identical
    val prev = coalesce(lag(col("users"), 1).over(w), col("users"))
    counts
      .withColumn("conv_from_prev",
        when(prev > 0, round(col("users").cast("double") / prev.cast("double"), 4)))
      .orderBy(col("step"))
  }

  /** Association rules over per-user event-type baskets: for every
    * ordered pair (a ⇒ b), support, confidence, and lift — market-basket
    * mining's first mile (what any recommender / cross-sell analysis
    * starts from). The basket grid is the distinct (user, type) frame;
    * pair counts come from its user-keyed self-join, whose per-user
    * fan-out is bounded by |event types|² regardless of corpus size —
    * the join and both aggregations share the user partitioning, and the
    * output is |types|² rows. All ratios divide exact longs.
    */
  def qAssocRules(spark: SparkSession, dir: String): DataFrame = {
    val baskets = events(spark, dir)
      .select(col("user_id"), col("event_type")).distinct()
    val nUsers = baskets.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n_users"))
    val supp = baskets.groupBy(col("event_type")).agg(count(lit(1)).as("s"))
    val pairCounts = baskets.select(col("user_id"), col("event_type").as("ante"))
      .join(baskets.select(col("user_id"), col("event_type").as("cons")), "user_id")
      .filter(col("ante") =!= col("cons"))
      .groupBy(col("ante"), col("cons")).agg(count(lit(1)).as("s_ab"))
    pairCounts
      .join(broadcast(supp.select(col("event_type").as("a_key"), col("s").as("s_a"))),
        col("ante") === col("a_key"))
      .join(broadcast(supp.select(col("event_type").as("b_key"), col("s").as("s_b"))),
        col("cons") === col("b_key"))
      .crossJoin(broadcast(nUsers))
      .select(col("ante"), col("cons"), col("s_ab"),
        round(col("s_ab").cast("double") / col("n_users").cast("double"), 4).as("support"),
        round(col("s_ab").cast("double") / col("s_a").cast("double"), 4).as("confidence"),
        round((col("s_ab").cast("double") / col("s_a").cast("double")) /
          (col("s_b").cast("double") / col("n_users").cast("double")), 4).as("lift"))
      .orderBy(col("lift").desc, col("ante"), col("cons"))
  }

  /** Time-weighted average value per (event type, day): each observation
    * is weighted by how long it "held" (seconds until the next same-type
    * event that day, via one lead window), the irregular-sampling
    * correction a plain avg gets wrong when observations cluster. The
    * window and the aggregation share the (type, day) partitioning —
    * one sort-shuffle total; the last observation of each day carries no
    * successor and is excluded from numerator AND denominator
    * consistently on both engines.
    */
  def qTwap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"), col("d"))
      .orderBy(col("ts"), col("event_id"))
    events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), to_date(col("ts")).as("d"),
        col("ts"), col("event_id"), col("value"))
      .withColumn("dt_us",
        unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts")))
      .filter(col("dt_us").isNotNull)
      .groupBy(col("event_type"), col("d"))
      // exact time weighting: value (2-dp decimal) × integer µs is an
      // exact decimal product, both sums are exact, and the µs scale
      // cancels in the ratio — no float accumulation anywhere
      .agg(r4(sum(col("value").cast("decimal(14,2)") * col("dt_us")).cast("double")
          / sum(col("dt_us")).cast("double")).as("twap"),
        count(lit(1)).as("n_intervals"))
      .select(col("event_type"), date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("twap"), col("n_intervals"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Daily OHLC (open/high/low/close) bars per event type — the
    * time-series candlestick rollup every metrics store provides. ONE
    * aggregation pass: open/close are min_by/max_by over a zero-padded
    * `(micros, event_id)` string key (total order with deterministic
    * tiebreak, identical lexicographic semantics in the oracle engine —
    * struct ordering isn't portable). PRECONDITIONS of that key: epoch
    * micros ≥ 0 (a '−' sign would reverse lexicographic order among
    * pre-1970 timestamps) and event_id < 10¹² (fits the fixed width) —
    * both hold for any log data; widen the padding before reusing the
    * pattern on other domains. High/low/count/mean ride the same
    * shuffle. Map-side partial aggregation applies to all six — at 100 TB
    * the shuffle carries one row per (type, day) per mapper.
    */
  def qOhlc(spark: SparkSession, dir: String): DataFrame = {
    val key = format_string("%020d-%012d", unix_micros(col("ts")), col("event_id"))
    events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), to_date(col("ts")).as("d"), col("value"), key.as("k"))
      .groupBy(col("event_type"), col("d"))
      .agg(min_by(col("value"), col("k")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("k")).as("close"),
        count(lit(1)).as("n_events"),
        valueAvg4.as("mean_value"))
      .select(col("event_type"), date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("open"), col("high"), col("low"), col("close"),
        col("n_events"), col("mean_value"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Skyline (Pareto frontier) of customers on (account balance, order
    * count) — "no other customer is at least as good on both axes and
    * strictly better on one", the multi-criteria shortlist a naive
    * formulation computes with an O(n²) NOT-EXISTS self-join. Distributed
    * two-phase shape instead: each partition sweeps its rows once in
    * (balance desc, count desc) order keeping a SUPERSET of its local
    * skyline (the union of local skylines provably contains the global
    * one — a dominator of any row lands in the same sort-derived sweep),
    * then the tiny candidate set refines itself with one broadcast
    * dominance anti-join. The big frame is scanned once and never
    * self-joined; candidates are O(frontier), not O(n). Balances are
    * 2-dp-exact doubles and counts are longs, so dominance comparisons
    * are engine-stable.
    */
  def qSkyline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val metrics = customer(spark, dir)
      .select(col("c_custkey"), col("c_acctbal"))
      .join(orders(spark, dir).select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_acctbal"))
      .agg(count(col("o_orderkey")).as("n_orders"))
    // phase 1: partition-local sweep. Sorting by (bal desc, cnt desc)
    // means any dominator of row r precedes r; keeping rows whose count
    // ties-or-beats the running max is a superset of the local skyline
    // (>= not >, so equal-point duplicates survive for the exact phase).
    // PINNED: the candidate frame feeds BOTH sides of the dominance
    // anti-join below — uncached, the full aggregation + sweep would run
    // twice; the pin is O(frontier) rows.
    val candidates = graft.Memo.cached("skylineCandidates", spark, dir) {
      metrics.as[(Long, Double, Long)]
        .mapPartitions { it =>
          val rows = it.toArray.sortBy { case (_, bal, cnt) => (-bal, -cnt) }
          var maxCnt = Long.MinValue
          rows.iterator.filter { case (_, _, cnt) =>
            if (cnt >= maxCnt) { maxCnt = math.max(maxCnt, cnt); true } else false
          }
        }
        .toDF("c_custkey", "c_acctbal", "n_orders")
    }
    // phase 2: exact dominance refine on the small candidate set
    val dominator = broadcast(candidates
      .select(col("c_acctbal").as("d_bal"), col("n_orders").as("d_cnt")))
    candidates.join(dominator,
        col("d_bal") >= col("c_acctbal") && col("d_cnt") >= col("n_orders") &&
          (col("d_bal") > col("c_acctbal") || col("d_cnt") > col("n_orders")),
        "left_anti")
      .orderBy(col("c_custkey"))
  }

  /** Last-touch conversion attribution: each purchase is credited to the
    * most recent PRIOR non-purchase event type in the user's stream (the
    * "channel" that closed the sale), then rolled up to per-channel
    * conversion counts and shares. One ignore-nulls `last()` window over
    * the user partition does the credit assignment — the window and
    * nothing else touches the raw log, and the rollup is |channels|
    * rows. Deterministic: full (ts, event_id) ordering, exact-long
    * share division.
    */
  def qAttribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val perChannel = events(spark, dir)
      .withColumn("channel",
        last(when(col("event_type") =!= "purchase", col("event_type")), ignoreNulls = true)
          .over(w))
      .filter(col("event_type") === "purchase" && col("channel").isNotNull)
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("conversions"))
    // denominator from the |channels|-row rollup itself — the windowed
    // log is scanned ONCE, no second branch, no one-row cross join
    val all = Window.partitionBy()
    perChannel
      .withColumn("total", sum(col("conversions")).over(all))
      .select(col("channel"), col("conversions"),
        round(col("conversions").cast("double") / col("total").cast("double"), 4)
          .as("share"))
      .orderBy(col("conversions").desc, col("channel"))
  }

  /** Cumulative-user growth curve: per day, how many users appeared for
    * the FIRST time and the running total — the "total registered users"
    * chart. First-seen day is one user-keyed min; the daily rollup is
    * |days| rows, so the running sum's single-partition window is over a
    * bounded frame (days, not users, and never the raw log).
    */
  def qCumulativeUsers(spark: SparkSession, dir: String): DataFrame = {
    val firstSeen = events(spark, dir)
      .groupBy(col("user_id")).agg(min(to_date(col("ts"))).as("d"))
    val w = Window.orderBy(col("d"))
    firstSeen.groupBy(col("d")).agg(count(lit(1)).as("new_users"))
      .withColumn("cum_users", sum(col("new_users")).over(w))
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("new_users"), col("cum_users"))
      .orderBy(col("day"))
  }

  /** Pareto concentration of activity: the smallest number of users that
    * covers 50% / 80% / 90% of all events — "do 20% of the users produce
    * 80% of the activity?". Per-user totals (one shuffle), ranked by a
    * deterministic (count desc, user) order; the coverage test
    * `cum·10000 ≥ threshold_bp·total` is pure integer arithmetic, so the
    * boundary user is engine-exact. Rank, running sum, AND both grand
    * totals (event sum via `cumTotalNames`, user count via `totalName`)
    * come from ONE two-phase exact-rank pass (RankOps: range-partition,
    * per-partition prefix sums, broadcast offsets) — no unpartitioned
    * window, and no separate whole-input aggregation job + crossJoin
    * just to learn the totals (that extra pass was the r6 2×-vs-r4
    * residual on this query).
    */
  def qParetoUsers(spark: SparkSession, dir: String): DataFrame = {
    val totals = events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val ranked = RankOps.withGlobalRank(totals, "rk",
        Seq(col("n").desc, col("user_id").asc), cumSums = Seq(("cum", col("n"))),
        totalName = Some("n_users"), cumTotalNames = Map("cum" -> "total"))
      .withColumn("rk", col("rk").cast("long"))
    val th = Seq(5000L, 8000L, 9000L)
    ranked
      .select(col("rk"), col("cum"), col("total"), col("n_users"),
        explode(array(th.map(lit(_)): _*)).as("threshold_bp"))
      .filter(col("cum") * 10000L >= col("threshold_bp") * col("total"))
      .groupBy(col("threshold_bp"))
      .agg(min(col("rk")).as("users_needed"), first(col("n_users")).as("n_users"))
      .select(col("threshold_bp"), col("users_needed"), col("n_users"),
        round(col("users_needed").cast("double") / col("n_users").cast("double"), 4)
          .as("user_fraction"))
      .orderBy(col("threshold_bp"))
  }

  /** DAU / trailing-7-day WAU / stickiness per day — the engagement
    * triple every product dashboard leads with. Rolling DISTINCT doesn't
    * decompose into a window aggregate, so the scalable shape is: the
    * distinct (user, day) grid exploded to the 7 target days each
    * activity supports, then ONE distinct-count per target day — fan-out
    * is a fixed ×7 of the (already tiny) grid, never of the raw log.
    * Days outside the observed range are clipped; stickiness divides two
    * exact longs.
    */
  def qDauWau(spark: SparkSession, dir: String): DataFrame = {
    val grid = events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val maxDay = grid.agg(max(col("d")).as("max_d"))
    val dau = grid.groupBy(col("d")).agg(count(lit(1)).as("dau"))
    val wau = grid
      .select(col("user_id"),
        explode(sequence(lit(0), lit(6))).as("off"), col("d"))
      .select(col("user_id"), expr("date_add(d, off)").as("td"))
      .crossJoin(broadcast(maxDay))
      .filter(col("td") <= col("max_d"))
      .select(col("user_id"), col("td")).distinct()
      .groupBy(col("td")).agg(count(lit(1)).as("wau"))
    dau.join(wau, col("d") === col("td"))
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau").cast("double"), 4)
          .as("stickiness"))
      .orderBy(col("day"))
  }

  /** Weekly cohort retention: users grouped by first-activity week, and
    * for each (cohort, weeks-since) cell the share still active — the
    * product-analytics triangle chart. Three aggregations, all keyed by
    * user or cohort: first-week per user (one shuffle), the distinct
    * (user, active-week) grid (pre-shrunk BEFORE the cohort join so the
    * join carries user-weeks, not raw events), and the final tiny
    * (cohort, offset) count-distinct. Offsets are exact integer day
    * differences ÷ 7 (both engines truncate weeks to Monday, so the
    * difference is always a multiple of 7). Retention divides two exact
    * longs → engine-stable 4-dp double.
    */
  def qWeeklyRetention(spark: SparkSession, dir: String): DataFrame = {
    // ONE events scan, NO self-join: the raw log collapses to the
    // distinct (user, week) grid; each user's cohort is a min-window over
    // the user partition of that same grid (one shuffle, no join back);
    // the grid is already distinct so the (cohort, offset) cells are a
    // plain count; and the cohort size is the cell's own offset-0 count,
    // attached with a window over the TINY cells frame rather than a
    // second pass over anything event-sized.
    val grid = events(spark, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).as("w"))
      .distinct()
    val byUser = Window.partitionBy(col("user_id"))
    val cells = grid
      .withColumn("cohort", min(col("w")).over(byUser))
      .withColumn("week_offset", (datediff(col("w"), col("cohort")) / 7).cast("long"))
      .groupBy(col("cohort"), col("week_offset"))
      .agg(count(lit(1)).as("active_users"))
    val byCohort = Window.partitionBy(col("cohort"))
    cells
      .withColumn("cohort_size",
        sum(when(col("week_offset") === 0, col("active_users"))).over(byCohort))
      .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"), col("active_users"), col("cohort_size"),
        round(col("active_users").cast("double") / col("cohort_size").cast("double"), 4)
          .as("retention"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** RFM segmentation: per purchasing user, recency (days since the
    * corpus's last purchase), frequency, and monetary value, each bucketed
    * into quintiles — the classic customer-value grid. One user-keyed
    * aggregation builds the metric frame; the global max-timestamp is a
    * one-row broadcast. Monetary sums as DECIMAL(12,2) — exact cents on
    * both engines, so a half-cent float boundary can never flip the
    * rounding and cascade into a different m_score/segment. Quintile
    * scores are exact NTILE(5) under a full deterministic order
    * (metric, then user_id), computed from three two-phase exact-rank
    * passes + the closed-form ntile bucket (RankOps.ntileFromRank) —
    * bit-identical to the window ntile, with no single-task sort at any
    * user count.
    */
  /** Per-user RFM metric frame, shared by [[qRfm]] and [[qRfmApprox]]
    * (and the spec that bounds their disagreement). Memo.cached: it is
    * |purchasing users| rows, consumed by three rank passes in the exact
    * path plus the approx path — pinning it scans the event log once.
    */
  private def rfmBase(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.cached("rfmBase", spark, dir) {
      val purch = events(spark, dir)
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
      val maxTs = purch.agg(max(col("ts")).as("corpus_max"))
      purch.groupBy(col("user_id"))
        .agg(max(col("ts")).as("last_ts"), count(lit(1)).as("frequency"),
          sum(col("value").cast("decimal(12,2)")).cast("double").as("monetary"))
        .join(broadcast(maxTs))
        .withColumn("recency_days",
          datediff(col("corpus_max"), col("last_ts")).cast("long"))
    }

  def qRfm(spark: SparkSession, dir: String): DataFrame = {
    val rfm = rfmBase(spark, dir)
    val cnt = rfm.agg(count(lit(1)).as("n_users"))
    // Three INDEPENDENT rank passes over the pinned base, joined back on
    // user_id — chaining them (rank m over rank f over rank r) would make
    // each repartitionByRange sampling re-execute every upstream rank
    // chain, tripling the work for zero semantic gain.
    val ranked = Seq(
      ("_rkr", col("recency_days")), ("_rkf", col("frequency")),
      ("_rkm", col("monetary"))).map { case (rk, metric) =>
        RankOps.withGlobalRank(rfm.select(col("user_id"), metric), rk,
          Seq(metric.asc, col("user_id").asc)).select(col("user_id"), col(rk))
      }.foldLeft(rfm) { (acc, r) => acc.join(r, "user_id") }
    ranked.crossJoin(broadcast(cnt))
      .withColumn("r_score", RankOps.ntileFromRank(col("_rkr"), col("n_users"), 5))
      .withColumn("f_score", RankOps.ntileFromRank(col("_rkf"), col("n_users"), 5))
      .withColumn("m_score", RankOps.ntileFromRank(col("_rkm"), col("n_users"), 5))
      .select(col("user_id"), col("recency_days"), col("frequency"), col("monetary"),
        col("r_score"), col("f_score"), col("m_score"),
        concat(col("r_score"), col("f_score"), col("m_score")).as("segment"))
      .orderBy(col("user_id"))
  }

  /** [[qRfm]] with approx_percentile quintile cutoffs instead of exact
    * NTILE ranks — the stated 100 TB swap, now implemented as a real
    * path rather than a comment. ONE aggregation computes all 12
    * cutoffs (4 per metric); scoring is then a broadcast-join + pure
    * per-row arithmetic: score = 1 + #cutoffs strictly below the
    * value. No ranking pass at all, so the only data-sized work is the
    * per-user metric aggregation itself. Bucket boundaries can
    * disagree with the exact quintiles by the sketch's rank error
    * (spec-bounded against [[qRfm]]); segment semantics are otherwise
    * identical. Approximate by construction → rows-only check.
    */
  def qRfmApprox(spark: SparkSession, dir: String): DataFrame = {
    val rfm = rfmBase(spark, dir)
    val qs = array(lit(0.2), lit(0.4), lit(0.6), lit(0.8))
    val cuts = rfm.agg(
      approx_percentile(col("recency_days"), qs, lit(10000)).as("cut_r"),
      approx_percentile(col("frequency"), qs, lit(10000)).as("cut_f"),
      approx_percentile(col("monetary"), qs, lit(10000)).as("cut_m"))
    def score(v: Column, cuts: Column): Column =
      (lit(1) + aggregate(cuts, lit(0),
        (acc, c) => acc + when(v > c, 1).otherwise(0))).cast("long")
    rfm.crossJoin(broadcast(cuts))
      .select(col("user_id"), col("recency_days"), col("frequency"), col("monetary"),
        score(col("recency_days"), col("cut_r")).as("r_score"),
        score(col("frequency"), col("cut_f")).as("f_score"),
        score(col("monetary"), col("cut_m")).as("m_score"))
      .withColumn("segment",
        concat(col("r_score"), col("f_score"), col("m_score")))
      .orderBy(col("user_id"))
  }

  /** SCD Type-2 history build: collapse each user's daily activity tier
    * (low = 1 event/day, med = 2-3, high = ≥4) into versioned validity
    * intervals — the slowly-changing-dimension pattern every warehouse
    * applies to attributes that drift (here: a behavioral tier feeding
    * access-review policy). Gaps-and-islands: a tier change opens a new
    * version (lag + conditional running count), each run aggregates to
    * [valid_from, valid_to) with valid_to = next version's start and
    * is_current on the open one. Runs span inactive days — a version
    * closes only when observed behavior CHANGES. Every window is
    * user-partitioned over the per-user DAILY rollup (≤ |users|·|days|
    * rows, aggregated before any window), so no unpartitioned sort and
    * no data-sized window frame at any log size.
    */
  def qScd2History(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
      .withColumn("tier", when(col("n") >= 4, "high")
        .when(col("n") >= 2, "med").otherwise("low"))
    val byDay = Window.partitionBy(col("user_id")).orderBy(col("d"))
    val runs = daily
      .withColumn("prev_tier", lag(col("tier"), 1).over(byDay))
      .withColumn("chg",
        when(col("prev_tier").isNull || col("prev_tier") =!= col("tier"), 1L)
          .otherwise(0L))
      .withColumn("run_id", sum(col("chg")).over(
        byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val hist = runs.groupBy(col("user_id"), col("run_id"), col("tier"))
      .agg(min(col("d")).as("valid_from"), max(col("d")).as("last_active"),
        count(lit(1)).as("n_days"), sum(col("n")).as("n_events"))
    val byStart = Window.partitionBy(col("user_id")).orderBy(col("valid_from"))
    hist.withColumn("valid_to", lead(col("valid_from"), 1).over(byStart))
      .withColumn("is_current", when(col("valid_to").isNull, 1L).otherwise(0L))
      .select(col("user_id"), col("tier"),
        date_format(col("valid_from"), "yyyy-MM-dd").as("valid_from"),
        date_format(col("valid_to"), "yyyy-MM-dd").as("valid_to"),
        date_format(col("last_active"), "yyyy-MM-dd").as("last_active"),
        col("n_days"), col("n_events"), col("is_current"))
      .orderBy(col("user_id"), col("valid_from"))
  }

  /** Benford first-digit conformance of order totals — the classic
    * fabricated-numbers screen (naturally-occurring amounts follow
    * P(d) = log₁₀(1 + 1/d); synthetic or tampered figures don't). The
    * digit is taken from the INTEGER part's decimal string, so both
    * engines bucket identically with no float log/pow at the bucketing
    * step; expected shares and the χ² term are pure arithmetic on exact
    * counts. One map-combined 9-group aggregation + a one-row total
    * broadcast — scan-bound at any scale.
    */
  def qBenford(spark: SparkSession, dir: String): DataFrame = {
    val counts = orders(spark, dir)
      .select(substring(floor(col("o_totalprice")).cast("long").cast("string"),
        1, 1).cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).cast("double").as("t"))
    val bp = log10(lit(1.0) + lit(1.0) / col("digit"))
    val e = col("t") * bp
    counts.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        r4(col("n") / col("t")).as("observed_p"),
        r4(bp).as("benford_p"),
        r4((col("n") - e) * (col("n") - e) / e).as("chi2_term"))
      .orderBy(col("digit"))
  }

  /** Gini coefficient of per-user activity concentration within each
    * event type — the inequality gauge behind "is this traffic a broad
    * habit or three power users?" (G = 2·Σ rank·x / (n·Σx) − (n+1)/n
    * over ascending per-user counts). The rank is ONE two-phase global
    * pass ([[RankOps.withGlobalRank]] on (type, count, user)) — never an
    * unpartitioned sort, and never a per-type window whose partition
    * would be |users|-sized at 100×; within-type ranks are recovered by
    * subtracting each type's first global rank (a |types|-row broadcast
    * join). All sums are exact longs, so the final double is
    * bit-identical across engines.
    */
  def qGini(spark: SparkSession, dir: String): DataFrame = {
    val x = events(spark, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("x"))
    val ranked = RankOps.withGlobalRank(x, "grk",
      Seq(col("event_type"), col("x"), col("user_id")))
    val off = ranked.groupBy(col("event_type").as("oe"))
      .agg(min(col("grk")).as("g0"))
    val g = ranked.join(broadcast(off), col("event_type") === col("oe"))
      .withColumn("rk", col("grk") - col("g0") + 1)
      .groupBy(col("event_type"))
      .agg(sum(col("rk") * col("x")).as("srx"), sum(col("x")).as("sx"),
        count(lit(1)).as("nu"))
    g.select(col("event_type"), col("nu").as("n_users"),
        col("sx").as("total_events"),
        r4(lit(2.0) * col("srx") / (col("nu") * col("sx"))
          - (col("nu") + lit(1.0)) / col("nu")).as("gini"))
      .orderBy(col("event_type"))
  }

  /** Referential-integrity audit over the star schema's FK chain:
    * for each child→parent edge, the non-null FK row count, how many of
    * those rows reference a missing parent, and the orphan rate — the
    * ingest-time DQ gate ([[qDqChecks]] covers value-level rules; this
    * covers the RELATIONAL ones a warehouse load must pass before any
    * join-based query can be trusted).
    *
    * Each edge is ONE left join + one map-combined aggregate projecting
    * only the two key columns; a null FK is "no reference", not an
    * orphan, so it counts toward neither numerator nor denominator.
    * Catalyst/AQE picks the join strategy per edge (nation/region
    * broadcast; orders/customer hash-join on the key) — nothing here
    * assumes a side fits in memory. Five one-row aggregates union into
    * the report.
    */
  def qRefIntegrity(spark: SparkSession, dir: String): DataFrame = {
    def audit(rel: String, child: DataFrame, fk: String,
        parent: DataFrame, pk: String): DataFrame =
      child.select(col(fk))
        .join(parent.select(col(pk)), col(fk) === col(pk), "left")
        .agg(count(col(fk)).as("fk_rows"),
          sum(when(col(fk).isNotNull && col(pk).isNull, 1L).otherwise(0L))
            .as("orphan_rows"))
        .select(lit(rel).as("relation"), col("fk_rows"), col("orphan_rows"),
          when(col("fk_rows") === 0, lit(0.0))
            .otherwise(r4(col("orphan_rows").cast("double")
              / col("fk_rows").cast("double"))).as("orphan_pct"))
    audit("customer.c_nationkey->nation", customer(spark, dir), "c_nationkey",
        nation(spark, dir), "n_nationkey")
      .unionAll(audit("lineitem.l_orderkey->orders", lineitem(spark, dir),
        "l_orderkey", orders(spark, dir), "o_orderkey"))
      .unionAll(audit("nation.n_regionkey->region", nation(spark, dir),
        "n_regionkey", region(spark, dir), "r_regionkey"))
      .unionAll(audit("orders.o_custkey->customer", orders(spark, dir),
        "o_custkey", customer(spark, dir), "c_custkey"))
      .unionAll(audit("supplier.s_nationkey->nation", supplier(spark, dir),
        "s_nationkey", nation(spark, dir), "n_nationkey"))
      .orderBy(col("relation"))
  }
}
