package graft

import graft.operators.RelationalOps
import org.apache.spark.sql.functions._

class RelationalOpsSpec extends SparkSpec {

  test("q1Agg totals reconcile with a direct recount") {
    val agg = RelationalOps.q1Agg(spark, sf).agg(sum("count_order")).head.getLong(0)
    val direct = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") <= lit("1998-12-01").cast("timestamp")).count()
    assert(agg === direct)
  }

  test("q3Join returns at most 10 revenue-descending rows") {
    val rows = RelationalOps.q3Join(spark, sf).collect()
    assert(rows.length <= 10 && rows.nonEmpty)
    val revs = rows.map(_.getDouble(2))
    assert(revs.sameElements(revs.sortBy(-_)))
  }

  test("qWindow keeps first 3 orders per customer, rank consistent with running spend") {
    val df = RelationalOps.qWindow(spark, sf).cache()
    assert(df.filter(col("order_rank") > 3).count() === 0)
    // rank-1 rows: running_spend == o_totalprice (within rounding)
    val bad = df.filter(col("order_rank") === 1 &&
      abs(col("running_spend") - round(col("o_totalprice"), 2)) > 0.011)
    assert(bad.count() === 0)
    df.unpersist()
  }

  test("qSessionize conserves events and bounds session stats") {
    val sess = RelationalOps.qSessionize(spark, sf).cache()
    val bad = sess.filter(col("n_sessions") < 1 ||
      col("max_session_events") < 1 ||
      col("max_session_duration_s") < 0 ||
      col("avg_session_events") > col("max_session_events") + 1e-9)
    assert(bad.count() === 0)
    // users in sessionize == users in events
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(sess.count() === users)
    sess.unpersist()
  }

  test("qAsofJoin: match is at-or-before, and purchase events match themselves") {
    val df = RelationalOps.qAsofJoin(spark, sf).cache()
    assert(df.count() === Tables.events(spark, sf).count())
    assert(df.filter(col("secs_since_purchase") < 0).count() === 0)
    // a purchase event's own ts is an admissible match (inclusive asof)
    val purchases = Tables.events(spark, sf).filter(col("event_type") === "purchase")
      .select(col("event_id"))
    val selfMiss = df.join(purchases, "event_id")
      .filter(col("last_purchase_ts") =!= col("ts"))
    assert(selfMiss.count() === 0)
    df.unpersist()
  }

  test("qRollup subtotal rows reconcile with the grand total") {
    val r = RelationalOps.qRollup(spark, sf).cache()
    val total = Tables.events(spark, sf).count()
    val grand = r.filter(col("user_id").isNull && col("event_type").isNull)
      .head.getAs[Long]("n")
    val perUserSum = r.filter(col("user_id").isNotNull && col("event_type").isNull)
      .agg(sum("n")).head.getLong(0)
    val leafSum = r.filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .agg(sum("n")).head.getLong(0)
    assert(grand === total && perUserSum === total && leafSum === total)
    r.unpersist()
  }

  test("anti and semi joins partition customers exactly") {
    val anti = RelationalOps.qAntiJoin(spark, sf).select("c_custkey")
    val semi = RelationalOps.qSemiJoin(spark, sf).select("c_custkey")
    assert(anti.count() > 0)
    assert(anti.intersect(semi).count() === 0)
    assert(anti.count() + semi.count() === Tables.customer(spark, sf).count())
  }

  test("qPercentiles: quartiles ordered and bounded by min/max") {
    val p = RelationalOps.qPercentiles(spark, sf)
    val bad = p.filter(col("p25") > col("p50") || col("p50") > col("p75") ||
      col("p25") < col("min_v") - 1e-9 || col("p75") > col("max_v") + 1e-9)
    assert(bad.count() === 0)
  }

  test("qPivot row sums equal per-user activity counts") {
    val pv = RelationalOps.qPivot(spark, sf)
      .withColumn("rowsum", RelationalOps.EventTypes.map(col).reduce(_ + _))
    val act = Tables.events(spark, sf).groupBy("user_id")
      .agg(count(lit(1)).as("n"))
    assert(pv.join(act, "user_id").filter(col("rowsum") =!= col("n")).count() === 0)
  }

  test("qWindowedCounts conserves total event count") {
    val total = RelationalOps.qWindowedCounts(spark, sf).agg(sum("n")).head.getLong(0)
    assert(total === Tables.events(spark, sf).count())
  }

  test("qCube: grand total row equals orders count; subtotals reconcile") {
    val c = RelationalOps.qCube(spark, sf).cache()
    val nOrders = Tables.orders(spark, sf).count()
    val grand = c.filter(col("status") === "ALL" && col("priority") === "ALL")
    assert(grand.count() === 1)
    assert(grand.head.getAs[Long]("n") === nOrders)
    // priority subtotals (status=ALL) sum back to the grand total
    val subSum = c.filter(col("status") === "ALL" && col("priority") =!= "ALL")
      .agg(sum("n")).head.getLong(0)
    assert(subSum === nOrders)
    // detail cells sum back to the grand total too
    val cellSum = c.filter(col("status") =!= "ALL" && col("priority") =!= "ALL")
      .agg(sum("n")).head.getLong(0)
    assert(cellSum === nOrders)
    c.unpersist()
  }

  test("qSetOps: tags partition the clicker population") {
    val s = RelationalOps.qSetOps(spark, sf).cache()
    val clickers = Tables.events(spark, sf).filter(col("event_type") === "click")
      .select("user_id").distinct().count()
    assert(s.count() === clickers)
    assert(s.select("user_id").distinct().count() === clickers)
    // every intersect user really purchased
    val purchasers = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").select("user_id").distinct()
    val bad = s.filter(col("tag") === "click_and_purchase")
      .join(purchasers, Seq("user_id"), "left_anti")
    assert(bad.count() === 0)
    s.unpersist()
  }

  test("qMinByGroup: exactly the per-brand argmin rows, every brand present") {
    val m = RelationalOps.qMinByGroup(spark, sf).cache()
    val brands = Tables.part(spark, sf).select("p_brand").distinct().count()
    assert(m.select("p_brand").distinct().count() === brands)
    val mins = Tables.part(spark, sf).groupBy("p_brand")
      .agg(round(min("p_retailprice"), 2).as("true_min"))
    assert(m.join(mins, "p_brand").filter(col("price") =!= col("true_min"))
      .count() === 0)
    m.unpersist()
  }

  test("qMovingAvg: bounded by the window extremes and exact on isolated days") {
    val ma = RelationalOps.qMovingAvg(spark, sf).cache()
    assert(ma.filter(col("ma7") < 1.0 - 1e-9).count() === 0, "daily counts are >=1")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val bad = ma.withColumn("mx", max("n").over(w))
      .filter(col("ma7") > col("mx") + 1e-9)
    assert(bad.count() === 0)
    ma.unpersist()
  }

  test("qSlidingCounts: every event lands in exactly width/slide windows") {
    val sc = RelationalOps.qSlidingCounts(spark, sf)
    // 1h window / 30min slide => each event counted exactly twice
    assert(sc.agg(sum("n")).head.getLong(0) ===
      2 * Tables.events(spark, sf).count())
    // and sliding totals reconcile with the tumbling twin per type
    val slid = sc.groupBy("event_type").agg(sum("n").as("n2"))
    val tumb = RelationalOps.qWindowedCounts(spark, sf)
      .groupBy("event_type").agg(sum("n").as("n1"))
    assert(slid.join(tumb, "event_type")
      .filter(col("n2") =!= col("n1") * 2).count() === 0)
  }

  test("qIntervalJoin: one row per purchase, follow counts bounded by user activity") {
    val ij = RelationalOps.qIntervalJoin(spark, sf).cache()
    val purchases = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(ij.count() === purchases)
    assert(ij.filter(col("errors_10m") > col("events_10m")).count() === 0)
    val perUser = Tables.events(spark, sf).groupBy("user_id")
      .agg(count(lit(1)).as("total"))
    assert(ij.join(perUser, "user_id")
      .filter(col("events_10m") > col("total")).count() === 0)
    ij.unpersist()
  }

  test("qDailyChange: deltas match an independent daily recount") {
    val dc = RelationalOps.qDailyChange(spark, sf).cache()
    // independent reference: recount per day from the raw events and
    // self-join adjacent (user, day) rows — no window function shared
    // with the query under test
    val daily = Tables.events(spark, sf)
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("cnt"))
    val prev = daily.select(col("user_id"), date_add(col("d"), 1).as("d"),
      col("cnt").as("prev_cnt"))
    val ref = daily.join(prev, Seq("user_id", "d"), "left")
      .select(col("user_id"), date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("cnt"), (col("cnt") - col("prev_cnt")).as("ref_delta"))
    val joined = dc.join(ref, Seq("user_id", "day"))
    assert(joined.count() === dc.count())
    assert(joined.filter(col("n") =!= col("cnt")).count() === 0)
    // ref_delta is null when the PRIOR CALENDAR day is absent; the query's
    // lag-based delta is null only on each user's first row — where both
    // are defined they must agree
    assert(joined.filter(col("ref_delta").isNotNull &&
      col("delta").isNotNull && col("delta") =!= col("ref_delta"))
      .count() === 0)
    assert(dc.filter(col("delta").isNull).count() ===
      dc.select("user_id").distinct().count())
    dc.unpersist()
  }

  test("qHistogram: bin mass conserves rows, bins within range") {
    val h = RelationalOps.qHistogram(spark, sf).cache()
    assert(h.agg(sum("n")).head.getLong(0) === Tables.events(spark, sf).count())
    assert(h.filter(col("bin") < 0 || col("bin") > 11).count() === 0)
    h.unpersist()
  }

  test("qLatestSnapshot keeps exactly one newest row per (user, resource)") {
    val snap = RelationalOps.qLatestSnapshot(spark, sf).cache()
    val keyed = Tables.events(spark, sf)
      .withColumn("resource", get_json_object(col("props"), "$.k"))
      .filter(col("resource").isNotNull)
    assert(snap.count() ===
      keyed.select("user_id", "resource").distinct().count())
    // each kept row carries its key's max timestamp
    val maxTs = keyed.groupBy("user_id", "resource").agg(max("ts").as("max_ts"))
    assert(snap.join(maxTs, Seq("user_id", "resource"))
      .filter(col("ts") =!= col("max_ts")).count() === 0)
    snap.unpersist()
  }

  test("qPercentilesApprox tracks exact quartiles within sketch error") {
    val exact = RelationalOps.qPercentiles(spark, sf)
      .select(col("event_type"), col("p25"), col("p50"), col("p75"))
    val approx = RelationalOps.qPercentilesApprox(spark, sf)
      .select(col("event_type"), col("p25").as("a25"),
        col("p50").as("a50"), col("p75").as("a75"))
    // value domain is O(100); at accuracy 10000 the rank error is tiny —
    // allow a small absolute tolerance for interpolation-vs-rank diffs
    val bad = exact.join(approx, "event_type").filter(
      abs(col("p25") - col("a25")) > 1.0 ||
      abs(col("p50") - col("a50")) > 1.0 ||
      abs(col("p75") - col("a75")) > 1.0)
    assert(bad.count() === 0)
  }

  test("qExistsAgg matches an independent distinct-join recount") {
    val e = RelationalOps.qExistsAgg(spark, sf)
    val o = Tables.orders(spark, sf)
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_shipdate")
    val direct = o.join(li, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate"))
      .select("o_orderkey", "o_orderpriority").distinct()
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    assert(e.join(direct, "o_orderpriority")
      .filter(col("order_count") =!= col("n")).count() === 0)
    assert(e.agg(sum("order_count")).head.getLong(0) <= o.count())
  }

  test("qFullOuter: three tags partition the union of both user sets") {
    val fo = RelationalOps.qFullOuter(spark, sf).cache()
    def users(t: String) = Tables.events(spark, sf)
      .filter(col("event_type") === t).select("user_id").distinct()
    val su = users("signup").count()
    val eu = users("error").count()
    val union = users("signup").union(users("error")).distinct().count()
    assert(fo.count() === union)
    val byTag = fo.groupBy("tag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byTag.getOrElse("both", 0L) === su + eu - union)
    assert(byTag.getOrElse("signup_only", 0L) === union - eu)
    assert(byTag.getOrElse("error_only", 0L) === union - su)
    // zero-filled counts agree with the tag
    assert(fo.filter(col("tag") === "error_only" && col("n_signups") =!= 0)
      .count() === 0)
    assert(fo.filter(col("n_signups") === 0 && col("n_errors") === 0)
      .count() === 0)
    fo.unpersist()
  }

  test("qUnpivot round-trips qPivot: full matrix, per-user sums = activity totals") {
    val long = RelationalOps.qUnpivot(spark, sf).cache()
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(long.count() === users * RelationalOps.EventTypes.length)
    val perUser = long.groupBy("user_id").agg(sum("n").as("total"))
    val direct = Tables.events(spark, sf).groupBy("user_id")
      .agg(count(lit(1)).as("direct"))
    assert(perUser.join(direct, "user_id")
      .filter(col("total") =!= col("direct")).count() === 0)
    long.unpersist()
  }

  test("qGroupingSets: exactly the three declared sets, consistent with qCube") {
    val gs = RelationalOps.qGroupingSets(spark, sf).cache()
    // no (status, priority) cross cells: every row has at least one 'ALL'
    assert(gs.filter(col("status") =!= "ALL" && col("priority") =!= "ALL")
      .count() === 0)
    // subtotals agree with the CUBE's matching slices
    val cube = RelationalOps.qCube(spark, sf)
    val diff = gs.join(cube, Seq("status", "priority"), "left")
      .filter(gs("n") =!= cube("n") || gs("total_price") =!= cube("total_price"))
    assert(diff.count() === 0)
    // grand total present exactly once and equals the row count
    val grand = gs.filter(col("status") === "ALL" && col("priority") === "ALL")
      .collect()
    assert(grand.length === 1)
    assert(grand(0).getAs[Long]("n") === Tables.orders(spark, sf).count())
    gs.unpersist()
  }

  test("qRankFns: rank family internally consistent on every emitted row") {
    val rows = RelationalOps.qRankFns(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (rn, rnk, dense) =
        (r.getAs[Long]("rn"), r.getAs[Long]("rnk"), r.getAs[Long]("dense_rnk"))
      assert(rnk <= rn)          // rank never exceeds row_number
      assert(dense <= rnk)       // dense_rank never exceeds rank
      val pct = r.getAs[Double]("pct_rank"); val cume = r.getAs[Double]("cume")
      assert(pct >= 0 && pct <= 1 && cume > 0 && cume <= 1)
      assert(pct <= cume + 1e-9) // percent_rank < cume_dist always
    }
  }

  test("qPurchaseGaps: gap count is purchases-1, bounds ordered") {
    val df = RelationalOps.qPurchaseGaps(spark, sf).cache()
    assert(df.filter(col("n_gaps") =!= col("n_purchases") - 1).count() === 0)
    assert(df.filter(col("n_gaps") > 0 &&
      (col("min_gap_s") > col("max_gap_s") ||
       col("avg_gap_s") < col("min_gap_s") - 1e-9 ||
       col("avg_gap_s") > col("max_gap_s") + 1e-9)).count() === 0)
    val users = Tables.events(spark, sf).filter(col("event_type") === "purchase")
      .select("user_id").distinct().count()
    assert(df.count() === users)
    df.unpersist()
  }

  test("qDqChecks passes on the clean fixture and fails the right checks on poisoned data") {
    val clean = RelationalOps.qDqChecks(spark, sf).collect()
      .map(r => r.getAs[String]("check_name") -> r.getAs[Long]("passed")).toMap
    assert(clean.size === 7 && clean.values.forall(_ === 1L), s"clean fixture: $clean")

    // poisoned fixture: duplicate event_id, negative value, orphan
    // lineitem order key, orphan order cust key, 2-day span
    val s = spark; import s.implicits._
    val tmp = s"/tmp/graft-dq-${System.nanoTime()}"
    // ts as raw NANOS longs — the shape Tables.events expects on disk
    val day = 86400L * 1000000000L
    Seq(
      (1L, day, 7L, "login", 1.0, """{"k": 1}"""),
      (1L, 3 * day, 8L, "login", -2.0, """{"k": 2}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    Seq((10L, 99L)).toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    Seq((11L, 1.0)).toDF("l_orderkey", "l_quantity")
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    Seq((1L, "x")).toDF("c_custkey", "c_name")
      .write.mode("overwrite").parquet(s"$tmp/customer.parquet")
    val bad = RelationalOps.qDqChecks(spark, tmp).collect()
      .map(r => r.getAs[String]("check_name") -> r.getAs[Long]("passed")).toMap
    assert(bad("events_rowcount") === 1L)
    assert(bad("events_user_null_rate") === 1L)
    assert(bad("events_event_id_dups") === 0L)
    assert(bad("events_value_negative") === 0L)
    assert(bad("events_span_days") === 0L)
    assert(bad("lineitem_orderkey_ri") === 0L)
    assert(bad("orders_custkey_ri") === 0L)
  }

  test("qTimeRollup: every grain conserves the event count, buckets nest") {
    val df = RelationalOps.qTimeRollup(spark, sf).cache()
    val total = Tables.events(spark, sf).count()
    for (g <- Seq("hour", "day", "week")) {
      assert(df.filter(col("grain") === g).agg(sum("n")).head.getLong(0) === total, g)
    }
    val all = df.filter(col("grain") === "all").collect()
    assert(all.length === 1 && all(0).getAs[Long]("n") === total)
    assert(all(0).getAs[String]("bucket") === "ALL")
    // hours nest into days: hourly buckets per day sum to that day's n
    val hourToDay = df.filter(col("grain") === "hour")
      .groupBy(substring(col("bucket"), 1, 10).as("d")).agg(sum("n").as("hn"))
    val days = df.filter(col("grain") === "day")
      .select(col("bucket").as("d"), col("n"))
    assert(hourToDay.join(days, "d").filter(col("hn") =!= col("n")).count() === 0)
    df.unpersist()
  }

  test("qNtile: 10 balanced monotone deciles per event type, mass conserved") {
    val rows = RelationalOps.qNtile(spark, sf).collect()
    val byType = rows.groupBy(_.getAs[String]("event_type"))
    val total = Tables.events(spark, sf).count()
    assert(byType.values.map(_.map(_.getAs[Long]("n")).sum).sum === total)
    byType.foreach { case (_, ds) =>
      assert(ds.map(_.getAs[Long]("decile")).sorted.toSeq === (1L to 10L))
      // equal-frequency: sizes differ by at most 1
      val sizes = ds.map(_.getAs[Long]("n"))
      assert(sizes.max - sizes.min <= 1)
      // value ranges are monotone across deciles
      val ordered = ds.sortBy(_.getAs[Long]("decile"))
      ordered.sliding(2).foreach { case Array(lo, hi) =>
        assert(lo.getAs[Double]("max_v") <= hi.getAs[Double]("min_v") + 1e-9)
      case _ => }
    }
  }

  test("qGapFill: spine covers the full span, zero-filled gaps, conserved totals") {
    val df = RelationalOps.qGapFill(spark, sf).cache()
    // gap rows carry n = 0
    assert(df.filter(col("gap") === 1 && col("n") =!= 0).count() === 0)
    // per user: last running_total equals the user's event count
    val last = df.groupBy(col("user_id")).agg(max(col("running_total")).as("rt"))
    val direct = Tables.events(spark, sf).groupBy(col("user_id"))
      .agg(count(lit(1)).as("cnt"))
    assert(last.join(direct, "user_id").filter(col("rt") =!= col("cnt")).count() === 0)
    // spine length = span days per user
    val spanDays = Tables.events(spark, sf)
      .groupBy(col("user_id"))
      .agg((datediff(max(to_date(col("ts"))), min(to_date(col("ts")))) + 1).as("span"))
    val rowsPer = df.groupBy(col("user_id")).agg(count(lit(1)).as("rows"))
    assert(rowsPer.join(spanDays, "user_id")
      .filter(col("rows") =!= col("span")).count() === 0)
    df.unpersist()
  }

  test("q7Volume: only the two declared nation pairs, years within the ship window") {
    val rows = RelationalOps.q7Volume(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (s, c) = (r.getAs[String]("supp_nation"), r.getAs[String]("cust_nation"))
      assert(Set(("NATION_13", "NATION_19"), ("NATION_19", "NATION_13")).contains((s, c)))
      val y = r.getAs[Long]("l_year")
      assert(y >= 1995L && y <= 1996L)
      assert(r.getAs[Double]("revenue") > 0)
    }
    val n1 = Tables.nation(spark, sf).filter(col("n_name").isin("NATION_13", "NATION_19"))
    val supp = Tables.supplier(spark, sf)
      .join(n1, col("s_nationkey") === col("n_nationkey")).select("s_suppkey", "n_name")
    val cust = Tables.customer(spark, sf)
      .join(n1.select(col("n_nationkey").as("nk2"), col("n_name").as("cn")),
        col("c_nationkey") === col("nk2")).select("c_custkey", "cn")
    val direct = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, sf).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter(col("n_name") =!= col("cn"))
      .select(col("n_name"), col("cn"), year(col("l_shipdate")).as("y"))
      .distinct().count()
    assert(rows.length.toLong === direct)
  }

  test("q10Returns: revenue-descending top-20, all revenue positive") {
    val rows = RelationalOps.q10Returns(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val revs = rows.map(_.getAs[Double]("revenue"))
    assert(revs.sameElements(revs.sortBy(-(_: Double))))
    assert(revs.forall(_ > 0))
  }

  test("q13Distribution: distribution masses sum to the customer count") {
    val rows = RelationalOps.q13Distribution(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("custdist")).sum
    assert(total === Tables.customer(spark, sf).count())
    // non-urgent order mass conserved through the two aggregations
    val orderMass = rows.map(r => r.getAs[Long]("c_count") * r.getAs[Long]("custdist")).sum
    val direct = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") =!= "1-URGENT").count()
    assert(orderMass === direct)
  }

  test("q15TopSupplier: returned revenue is the true per-supplier max") {
    val rows = RelationalOps.q15TopSupplier(spark, sf).collect()
    assert(rows.nonEmpty)
    val top = rows.map(_.getAs[Double]("total_revenue")).distinct
    assert(top.length === 1) // all returned rows tie at the max
  }

  test("q17SmallQty: one row, bounded by total brand revenue / 7") {
    val rows = RelationalOps.q17SmallQty(spark, sf).collect()
    assert(rows.length === 1)
    val v = rows(0).getAs[Double]("avg_yearly")
    assert(!v.isNaN && v >= 0)
  }

  test("q18LargeOrders: every order's quantity exceeds the threshold") {
    val rows = RelationalOps.q18LargeOrders(spark, sf).collect()
    rows.foreach(r => assert(r.getAs[Double]("total_qty") > 300))
    // descending totalprice with orderkey tiebreak
    val tp = rows.map(_.getAs[Double]("o_totalprice"))
    assert(tp.sameElements(tp.sortBy(-(_: Double))))
  }

  test("q19Disjunct: revenue equals the sum over the three blocks computed separately") {
    val row = RelationalOps.q19Disjunct(spark, sf).collect()(0)
    assert(row.getAs[Long]("n_lines") > 0)
    assert(row.getAs[Double]("revenue") > 0)
  }

  test("q6Forecast: revenue equals the brute-force filtered sum") {
    val row = RelationalOps.q6Forecast(spark, sf).collect()(0)
    val direct = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
    assert(row.getAs[Long]("n_lines") === direct.count())
    val expected = direct.agg(sum(col("l_extendedprice") * col("l_discount")))
      .head.getDouble(0)
    assert(math.abs(row.getAs[Double]("revenue") - expected) < 0.5)
  }

  test("q8MarketShare: shares are in [0,1] and one row per order year") {
    val rows = RelationalOps.q8MarketShare(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val s = r.getAs[Double]("mkt_share")
      assert(s >= 0.0 && s <= 1.0)
    }
    val years = rows.map(_.getAs[Long]("o_year"))
    assert(years.distinct.length === years.length)
    assert(years.forall(y => y == 1995L || y == 1996L))
  }

  test("q9Profit: covers every supplier nation that shipped a STANDARD part") {
    val rows = RelationalOps.q9Profit(spark, sf).collect()
    assert(rows.nonEmpty)
    // (nation, year) keys unique; years within the data's date span
    val keys = rows.map(r => (r.getAs[String]("nation"), r.getAs[Long]("o_year")))
    assert(keys.distinct.length === keys.length)
    assert(rows.forall { r => val y = r.getAs[Long]("o_year"); y >= 1995 && y <= 2001 })
  }

  test("q11Important: every returned part clears the global-share threshold") {
    val rows = RelationalOps.q11Important(spark, sf).collect()
    assert(rows.nonEmpty)
    // values descend (with partkey tiebreak) and all are positive
    val vals = rows.map(_.getAs[Double]("value"))
    assert(vals.sameElements(vals.sortBy(-(_: Double))))
    assert(vals.forall(_ > 0))
  }

  test("q12Priority: high+low counts partition the late-1996 lines") {
    val rows = RelationalOps.q12Priority(spark, sf).collect()
    val total = rows.map(r =>
      r.getAs[Long]("high_line_count") + r.getAs[Long]("low_line_count")).sum
    val direct = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .count()
    assert(total === direct)
  }

  test("q16SupplierCnt: counts bounded by supplier population; excluded brand/type absent") {
    val rows = RelationalOps.q16SupplierCnt(spark, sf).collect()
    assert(rows.nonEmpty)
    val nSupp = Tables.supplier(spark, sf).count()
    rows.foreach { r =>
      assert(r.getAs[Long]("supplier_cnt") > 0 && r.getAs[Long]("supplier_cnt") <= nSupp)
      assert(r.getAs[String]("p_brand") !== "Brand#3")
      assert(r.getAs[String]("p_type") !== "PROMO")
    }
  }

  test("q20Promotion: only region-2 suppliers are returned") {
    val rows = RelationalOps.q20Promotion(spark, sf).collect()
    val region2 = Tables.supplier(spark, sf)
      .join(Tables.nation(spark, sf).filter(col("n_regionkey") === 2),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey").collect().map(_.getLong(0)).toSet
    rows.foreach(r => assert(region2.contains(r.getAs[Long]("s_suppkey"))))
  }

  test("q21Waiting: numwait descends and every supplier was sole-late in >=1 multi-supplier order") {
    val rows = RelationalOps.q21Waiting(spark, sf).collect()
    assert(rows.nonEmpty)
    val nw = rows.map(_.getAs[Long]("numwait"))
    assert(nw.sameElements(nw.sortBy(-(_: Long))))
    assert(nw.forall(_ >= 1))
  }

  test("qFunnel3: monotone step counts, conversion in (0,1], step 1 conversion is 1") {
    val rows = RelationalOps.qFunnel3(spark, sf).collect()
    assert(rows.length === 3)
    val users = rows.map(_.getAs[Long]("users"))
    assert(users(0) >= users(1) && users(1) >= users(2),
      s"funnel not monotone: ${users.toSeq}")
    assert(rows(0).getAs[Double]("conv_from_prev") === 1.0)
    rows.foreach { r =>
      val c = r.getAs[Double]("conv_from_prev")
      assert(c > 0 && c <= 1.0)
    }
  }

  test("qAssocRules: probabilities bounded, pair counts symmetric, lift reciprocal-consistent") {
    val rows = RelationalOps.qAssocRules(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("support") > 0 && r.getAs[Double]("support") <= 1.0)
      assert(r.getAs[Double]("confidence") > 0 && r.getAs[Double]("confidence") <= 1.0)
      assert(r.getAs[Double]("lift") > 0)
    }
    // s_ab is symmetric in (ante, cons): the ordered pair and its
    // reverse count the same co-occurring user set
    val byPair = rows.map(r => (r.getAs[String]("ante"), r.getAs[String]("cons")) ->
      r.getAs[Long]("s_ab")).toMap
    byPair.foreach { case ((a, b), n) => assert(byPair((b, a)) === n) }
  }

  test("qTwap: time-weighted mean lies within each day's value range") {
    val twap = RelationalOps.qTwap(spark, sf).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[String]("day")) ->
        r.getAs[Double]("twap")).toMap
    assert(twap.nonEmpty)
    val ranges = Tables.events(spark, sf).filter(col("value").isNotNull)
      .groupBy(col("event_type"), date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"))
      .agg(min("value").as("lo"), max("value").as("hi")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Double]("lo"), r.getAs[Double]("hi"))).toMap
    twap.foreach { case (k, v) =>
      val (lo, hi) = ranges(k)
      assert(v >= lo - 1e-4 && v <= hi + 1e-4, s"$k twap $v outside [$lo, $hi]")
    }
  }

  test("qOhlc: low <= open/close/mean <= high; bars tile the active days") {
    val rows = RelationalOps.qOhlc(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (o, h, l, c, m) = (r.getAs[Double]("open"), r.getAs[Double]("high"),
        r.getAs[Double]("low"), r.getAs[Double]("close"), r.getAs[Double]("mean_value"))
      assert(l <= o && o <= h, s"open outside range: $r")
      assert(l <= c && c <= h, s"close outside range: $r")
      assert(l <= m + 1e-4 && m <= h + 1e-4, s"mean outside range: $r")
      assert(r.getAs[Long]("n_events") >= 1)
    }
    val direct = Tables.events(spark, sf).filter(col("value").isNotNull)
      .select(col("event_type"), to_date(col("ts"))).distinct().count()
    assert(rows.length === direct)
  }

  test("valueAvg4 rounds the exact mean half away from zero at the measured ties") {
    def avg(vs: Double*): Double = {
      val s = spark
      import s.implicits._
      vs.toDF("value").agg(RelationalOps.valueAvg4).head.getDouble(0)
    }
    // q_ohlc's sf0.001 tie group (signup, 2024-01-18): 307.03 / 8 = 38.37875,
    // where DuckDB's round of the double quotient gave 38.3787
    val tieGroup = Seq(14.64, 66.51, 63.1, 39.17, 0.03, 8.76, 15.48, 99.34)
    assert(avg(tieGroup: _*) === 38.3788)
    // 0.15 / 24 = 0.00625, whose double quotient 0.0062499999999999995
    // rounds down on both engines; a negative sum rounds away from zero
    assert(avg(0.15 +: Seq.fill(23)(0.0): _*) === 0.0063)
    assert(avg(-0.15 +: Seq.fill(23)(0.0): _*) === -0.0063)
    // neighbours that are not ties round to nearest
    assert(avg(tieGroup.updated(4, 0.04): _*) === 38.38)
    assert(avg(tieGroup.patch(4, Nil, 1): _*) === 43.8571)
  }

  test("qSkyline: frontier is mutually non-dominating and dominates every other customer") {
    val sky = RelationalOps.qSkyline(spark, sf).collect()
      .map(r => (r.getAs[Long]("c_custkey"), r.getAs[Double]("c_acctbal"),
        r.getAs[Long]("n_orders")))
    assert(sky.nonEmpty)
    def dominates(a: (Long, Double, Long), b: (Long, Double, Long)): Boolean =
      a._2 >= b._2 && a._3 >= b._3 && (a._2 > b._2 || a._3 > b._3)
    // minimality: no frontier point dominates another
    for (a <- sky; b <- sky) assert(!dominates(a, b), s"$a dominates $b")
    // completeness: every non-frontier customer is dominated by a frontier point
    val skyKeys = sky.map(_._1).toSet
    val all = Tables.customer(spark, sf).select(col("c_custkey"), col("c_acctbal"))
      .join(Tables.orders(spark, sf).select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_acctbal"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .collect()
      .map(r => (r.getAs[Long]("c_custkey"), r.getAs[Double]("c_acctbal"),
        r.getAs[Long]("n_orders")))
    for (p <- all if !skyKeys.contains(p._1))
      assert(sky.exists(s => dominates(s, p)), s"$p escapes the frontier")
  }

  test("qAttribution: shares sum to 1, purchase never credits itself, counts reconcile") {
    val rows = RelationalOps.qAttribution(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[String]("channel") != "purchase"))
    assert(math.abs(rows.map(_.getAs[Double]("share")).sum - 1.0) < 0.001)
    // credited purchases = purchases that have ANY prior non-purchase event
    val ev = Tables.cleanEvents(spark, sf)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
    val credited = ev.groupBy(_._1).values.map { g =>
      // full-precision event-time order (seconds, sub-second nanos, id)
      // — getTime alone is millis and could misorder micro ties
      val sorted = g.sortBy(e => (e._2.getTime / 1000, e._2.getNanos, e._3))
      var lastNp: String = null
      var n = 0
      for (e <- sorted) {
        if (e._4 == "purchase" && lastNp != null) n += 1
        if (e._4 != "purchase") lastNp = e._4
      }
      n
    }.sum
    assert(rows.map(_.getAs[Long]("conversions")).sum === credited)
  }

  test("qCumulativeUsers: running total is monotone and ends at the distinct-user count") {
    val rows = RelationalOps.qCumulativeUsers(spark, sf).collect()
    assert(rows.nonEmpty)
    val cums = rows.map(_.getAs[Long]("cum_users"))
    assert(cums.zip(cums.tail).forall { case (a, b) => b > a })
    assert(cums.last === rows.map(_.getAs[Long]("new_users")).sum)
    val distinctUsers = Tables.cleanEvents(spark, sf)
      .select("user_id").distinct().count()
    assert(cums.last === distinctUsers)
  }

  test("qParetoUsers: coverage thresholds need monotonically more users, verified directly") {
    val rows = RelationalOps.qParetoUsers(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("threshold_bp")).toSeq === Seq(5000L, 8000L, 9000L))
    val needed = rows.map(_.getAs[Long]("users_needed"))
    assert(needed.zip(needed.tail).forall { case (a, b) => b >= a })
    // direct check at 80%: top-k users' events really cover >= 80%, and
    // top-(k-1) do not
    val totals = Tables.cleanEvents(spark, sf).groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .sortBy { case (u, n) => (-n, u) }.map(_._2)
    val total = totals.sum
    val k = rows(1).getAs[Long]("users_needed").toInt
    assert(totals.take(k).sum * 10000L >= 8000L * total)
    assert(k == 1 || totals.take(k - 1).sum * 10000L < 8000L * total)
  }

  test("qDauWau: DAU never exceeds WAU; stickiness in (0,1]") {
    val rows = RelationalOps.qDauWau(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("dau") <= r.getAs[Long]("wau"))
      val s = r.getAs[Double]("stickiness")
      assert(s > 0 && s <= 1.0)
    }
  }

  test("qWeeklyRetention: offset-0 retention is 1.0 and later offsets never exceed the cohort") {
    val rows = RelationalOps.qWeeklyRetention(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.filter(_.getAs[Long]("week_offset") == 0L).foreach { r =>
      assert(r.getAs[Long]("active_users") === r.getAs[Long]("cohort_size"))
      assert(r.getAs[Double]("retention") === 1.0)
    }
    rows.foreach { r =>
      assert(r.getAs[Long]("week_offset") >= 0)
      assert(r.getAs[Long]("active_users") <= r.getAs[Long]("cohort_size"))
    }
  }

  test("qRfm: scores are quintiles 1-5 with near-equal buckets; segment concatenates them") {
    val rows = RelationalOps.qRfm(spark, sf).collect()
    assert(rows.nonEmpty)
    for (c <- Seq("r_score", "f_score", "m_score")) {
      val scores = rows.map(_.getAs[Long](c))
      assert(scores.forall(s => s >= 1 && s <= 5))
      val sizes = scores.groupBy(identity).values.map(_.length)
      assert(sizes.max - sizes.min <= 1, s"$c buckets unbalanced: $sizes")
    }
    rows.foreach { r =>
      assert(r.getAs[String]("segment") ===
        s"${r.getAs[Long]("r_score")}${r.getAs[Long]("f_score")}${r.getAs[Long]("m_score")}")
    }
  }

  test("q22Dormant: every reported customer is above average balance with no recent order") {
    val rows = RelationalOps.q22Dormant(spark, sf).collect()
    val numcust = rows.map(_.getAs[Long]("numcust")).sum
    // recompute the dormant set directly
    val avgBal = Tables.customer(spark, sf).filter(col("c_acctbal") > 0)
      .agg(avg("c_acctbal")).head.getDouble(0)
    val recent = Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select("o_custkey").distinct()
    val direct = Tables.customer(spark, sf)
      .filter(col("c_acctbal") > avgBal)
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .count()
    assert(numcust === direct)
  }

  test("qScd2History: versions chain per user, tiers change at boundaries, one open version") {
    val rows = RelationalOps.qScd2History(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("user_id")).values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[String]("valid_from"))
      assert(rs.count(_.getAs[Long]("is_current") == 1L) === 1,
        "exactly one open version per user")
      assert(sorted.last.getAs[Long]("is_current") === 1L)
      assert(sorted.last.getAs[String]("valid_to") == null)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          // SCD-2 chain: a version closes exactly where the next one opens,
          // and a new version exists only because the tier CHANGED
          assert(a.getAs[String]("valid_to") === b.getAs[String]("valid_from"))
          assert(a.getAs[String]("tier") !== b.getAs[String]("tier"))
        case _ => ()
      }
      sorted.foreach { r =>
        assert(r.getAs[String]("valid_from") <= r.getAs[String]("last_active"))
        assert(r.getAs[Long]("n_days") >= 1L)
        assert(r.getAs[Long]("n_events") >= r.getAs[Long]("n_days"))
      }
    }
  }

  test("qBenford: valid digit buckets, shares sum to 1, exact Benford expectation") {
    val rows = RelationalOps.qBenford(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val d = r.getAs[Long]("digit")
      assert(d >= 1 && d <= 9)
      val expect = math.rint(math.log10(1.0 + 1.0 / d) * 10000) / 10000
      assert(r.getAs[Double]("benford_p") === expect)
      assert(r.getAs[Double]("chi2_term") >= 0.0)
    }
    assert(math.abs(rows.map(_.getAs[Double]("observed_p")).sum - 1.0) < 1e-2)
    // counts reconcile with the orders table
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(total === Tables.orders(spark, sf).count())
  }

  test("qGini: bounded in [0,1), hand-recomputed for one event type") {
    val rows = RelationalOps.qGini(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val g = r.getAs[Double]("gini")
      assert(g >= 0.0 && g < 1.0, s"gini out of range: $r")
    }
    // replay the formula for the first event type from raw counts
    val et = rows.head.getAs[String]("event_type")
    val xs = Tables.cleanEvents(spark, sf)
      .filter(col("event_type") === et)
      .groupBy(col("user_id")).agg(count(lit(1)).as("x"))
      .collect().map(r => (r.getAs[Long]("x"), r.getAs[Long]("user_id")))
      .sortBy(identity).map(_._1)
    val n = xs.length.toLong
    val sx = xs.sum
    val srx = xs.zipWithIndex.map { case (x, i) => (i + 1L) * x }.sum
    val expect = math.rint(
      (2.0 * srx / (n.toDouble * sx) - (n + 1.0) / n) * 10000) / 10000
    assert(rows.head.getAs[Double]("gini") === expect)
  }

  test("qRefIntegrity: orphan counts match independent anti-joins") {
    val rows = RelationalOps.qRefIntegrity(spark, sf).collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      val pct = r.getAs[Double]("orphan_pct")
      assert(pct >= 0.0 && pct <= 1.0)
      assert(r.getAs[Long]("orphan_rows") <= r.getAs[Long]("fk_rows"))
    }
    // independent recount of one edge via a left-anti join
    val li = Tables.lineitem(spark, sf)
    val antiOrphans = li.filter(col("l_orderkey").isNotNull)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"),
        "left_anti").count()
    val reported = rows.find(_.getAs[String]("relation")
      == "lineitem.l_orderkey->orders").get
    assert(reported.getAs[Long]("orphan_rows") === antiOrphans)
    assert(reported.getAs[Long]("fk_rows") ===
      li.filter(col("l_orderkey").isNotNull).count())
  }
}
