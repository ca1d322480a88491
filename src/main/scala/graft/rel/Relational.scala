package graft.rel

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.TestdataAdapter.table
import graft.functions.Cols._

/** Relational operator workout over the TPC-H-ish star schema: every join
  * flavor, aggregation style, window, sort/limit, and upsert rewrite from
  * SURVEY.md §2 exercised on the driver's testdata tables, each with a
  * DuckDB oracle (see graft.Registry).
  *
  * Scale notes: dims (region, nation, supplier, customer at this ratio)
  * broadcast; fact-side scans push filters/projection into parquet.
  * Aggregate values use detSum/detAvg (decimal-exact, partition-order
  * independent) so results are identical on any cluster layout.
  */
object Relational {

  /** TPC-H Q1-style pricing summary: scan-filter-agg with partial maps.
    * Exercises A1/A2-style grouped aggregation + F-series arithmetic.
    */
  def q1Pricing(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        detSum(col("l_quantity")).as("sum_qty"),
        detSum(col("l_extendedprice")).as("sum_base_price"),
        detSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        detSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        detAvg(col("l_quantity")).as("avg_qty"),
        detAvg(col("l_extendedprice")).as("avg_price"),
        detAvg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** TPC-H Q3-style: selective dim filter → fact joins → top-N by revenue.
    * customer is broadcast (dim-sized); lineitem never shuffles for the
    * orders join under AQE broadcast planning.
    */
  def q3TopRevenue(s: SparkSession, dir: String): DataFrame = {
    val cust = table(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord = table(s, dir, "orders").filter(col("o_orderdate") < lit("1998-01-01"))
    val li = table(s, dir, "lineitem").filter(col("l_shipdate") > lit("1998-01-01"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(detSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-style: 5-way join through region→nation→customer→orders→
    * lineitem→supplier with the co-nation constraint, grouped revenue.
    */
  def q5RegionRevenue(s: SparkSession, dir: String): DataFrame = {
    val region = table(s, dir, "region").filter(col("r_name") === "ASIA")
    val nation = table(s, dir, "nation")
    val cust = table(s, dir, "customer")
    val ord = table(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1998-01-01"))
    val li = table(s, dir, "lineitem")
    val supp = table(s, dir, "supplier")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(detSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("n_name"))
  }

  /** TPC-H Q6-style forecasting-revenue filter: one table, three
    * pushed-down predicates, one decimal-exact sum. The plan to look
    * for: every filter in PushedFilters at the parquet scan, no shuffle
    * except the single-row aggregate.
    */
  def q6RevenueDelta(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1998-01-01") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(detSum(col("l_extendedprice") * col("l_discount")).as("revenue"))

  /** TPC-H Q12-style late-shipment accounting (the testdata has no
    * shipmode, so the bucket key is order priority): lineitems shipped
    * more than 90 days after their order date, counted per priority.
    * One co-partitioned join on the order key, one hash aggregate.
    */
  def lateShipmentPriority(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .join(table(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_late"))
      .orderBy("o_orderpriority")

  /** TPC-H Q14-style promo revenue share: broadcast the part dim, one
    * conditional decimal sum over lineitem, one scalar division at the
    * end (ratio of two exact decimal sums — deterministic).
    */
  def q14PromoShare(s: SparkSession, dir: String): DataFrame = {
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    table(s, dir, "lineitem")
      .join(broadcast(table(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .agg(
        detSum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0))).as("promo_revenue"),
        detSum(rev).as("total_revenue"))
      .withColumn("promo_share_pct",
        lit(100.0) * col("promo_revenue") / col("total_revenue"))
  }

  /** TPC-H Q18-style large-volume orders: HAVING over an aggregate, the
    * qualifying keys joined back for detail. The aggregate runs FIRST
    * and shrinks lineitem to qualifying order keys (874→204 at the
    * threshold), so the detail join moves only survivors; the customer
    * dim broadcasts; top-100 is TakeOrdered, never a global sort.
    */
  def q18LargeOrders(s: SparkSession, dir: String): DataFrame = {
    val big = table(s, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(detSum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 250.0)
    table(s, dir, "orders")
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(table(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q10-style returned-item report: customers ranked by revenue
    * they generated on returned lineitems in a quarter. Orders filter
    * first (time predicate pushed to the scan), lineitem keeps only
    * returnflag = 'R'; the customer dim broadcasts; top-20 never sorts
    * globally (TakeOrdered).
    */
  def q10ReturnedRevenue(s: SparkSession, dir: String): DataFrame = {
    val ord = table(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01") &&
        col("o_orderdate") < lit("1997-07-01"))
    table(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(table(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name", "c_mktsegment")
      .agg(detSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q15-style top supplier: per-supplier revenue for a quarter,
    * then the supplier(s) achieving the maximum — the scalar-MAX
    * correlated subquery shape. Here the MAX is a broadcast 1-row
    * aggregate joined back (no second scan of lineitem, no window over
    * the whole supplier set); the oracle keeps the subquery form.
    */
  def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = table(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
        col("l_shipdate") < lit("1997-04-01"))
      .groupBy("l_suppkey")
      .agg(detSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("total_revenue"))
    val top = rev.agg(max("total_revenue").as("max_revenue"))
    rev.crossJoin(broadcast(top))
      .filter(col("total_revenue") === col("max_revenue"))
      .join(broadcast(table(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** TPC-H Q2-style correlated MIN: for each small part, the EUROPE
    * supplier(s) offering the minimum observed unit cost, with lineitem
    * as the part↔supplier bridge (the testdata carries no partsupp). The
    * oracle keeps the correlated `= (SELECT MIN ... WHERE same part)`
    * subquery; here it decorrelates to a window MIN over the part key —
    * one shuffle on l_partkey, already clustered by the preceding
    * group-by, while supplier/nation/region stay broadcast dims. MIN of
    * a per-row double division is order-independent (no summation), so
    * the equality filter is bit-exact cross-engine.
    */
  def q2MinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    val region = table(s, dir, "region").filter(col("r_name") === "EUROPE")
    val nation = table(s, dir, "nation")
    val supp = table(s, dir, "supplier")
    val part = table(s, dir, "part").filter(col("p_size") <= 15)
    val offers = table(s, dir, "lineitem")
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"), col("s_name"), col("n_name"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
    val w = Window.partitionBy("l_partkey")
    offers
      .withColumn("min_cost", min(col("unit_cost")).over(w))
      .filter(col("unit_cost") === col("min_cost"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .select(col("p_partkey"), col("p_name"), col("l_suppkey").as("s_suppkey"),
        col("s_name"), col("n_name"), col("unit_cost"))
      .orderBy("p_partkey", "s_suppkey")
  }

  /** W2-style row_number window: each customer's highest-value order
    * (deterministic tie-break on o_orderkey, SURVEY §7.4 item 3).
    */
  def topOrderPerCustomer(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    table(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey")
  }

  /** Anti join (P2 family): customers with no orders. */
  def customersWithoutOrders(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "customer")
      .join(table(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  /** Semi join (P2 — the reference's isin RI filter): suppliers with sales. */
  def suppliersWithSales(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "supplier")
      .join(table(s, dir, "lineitem"), col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_suppkey", "s_name", "s_nationkey")
      .orderBy("s_suppkey")

  /** J1 on star-schema stand-ins: stop_times→lineitem (trip=orderkey,
    * stop=partkey), trips→orders (route=orderpriority); DISTINCT mapping.
    * Ref: initdb/init-postgis.sql:182-185.
    */
  def stopToRouteJ1(s: SparkSession, dir: String): DataFrame = {
    val stopTimes = table(s, dir, "lineitem")
      .select(col("l_orderkey").as("trip_id"), col("l_partkey").as("stop_id"))
    val trips = table(s, dir, "orders")
      .select(col("o_orderkey").as("trip_id"), col("o_orderpriority").as("route_id"))
    graft.views.Hourly.stopToRoute(stopTimes, trips)
      .orderBy("stop_id", "route_id")
  }

  /** J6-style geo chain: 3-way dim join + DISTINCT + ORDER BY + LIMIT 1000
    * (the LIMIT applies to the pre-grouping row set — reference quirk).
    * Ref: src/dag/export-routes-geo-job.py:36-53.
    */
  def geoChain(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "supplier")
      .join(broadcast(table(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(table(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .select("r_name", "n_name", "s_suppkey", "s_name")
      .distinct()
      .orderBy("r_name", "n_name", "s_suppkey")
      .limit(1000)

  /** W2 — DISTINCT ON emulation: latest event per user, deterministic
    * tie-break (ts DESC, event_id DESC). Ref: kpi_views.sql:136-148.
    */
  def latestEventPerUser(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.TestdataAdapter.table(s, dir, "events")
    val ts = timestampMicrosFromNanos(col("ts"))
    val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), ts.as("ts"),
        col("event_type"), col("value"))
      .orderBy("user_id")
  }

  /** S10 — latest-wins upsert as merge-by-rewrite: union "stored" and
    * "incoming" halves of the stream, keep the newest row per
    * (user_id, event_type) with a deterministic tie-break.
    * Ref: ingestor.py:100-103,128-133 (ON CONFLICT DO UPDATE).
    */
  def upsertLatestWins(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.TestdataAdapter.table(s, dir, "events")
    val stored = ev.filter(col("event_id") % 2 === 0)
    val incoming = ev.filter(col("event_id") % 2 === 1)
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts").desc, col("event_id").desc)
    stored.unionByName(incoming)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"),
        timestampMicrosFromNanos(col("ts")).as("ts"), col("value"))
      .orderBy("user_id", "event_type")
  }

  /** S9 — idempotent append (ON CONFLICT DO NOTHING): incoming rows whose
    * PK is not already stored, via left_anti. Ref: ingestor.py:71.
    */
  def upsertDoNothing(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.TestdataAdapter.table(s, dir, "events")
    val stored = ev.filter(col("event_id") < 5000)
    val incoming = ev.filter(col("event_id") < 7500)
    incoming.join(stored, Seq("event_id"), "left_anti")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy("event_id")
  }

  /** F8 — GTFS clock parse round-trip: build "HH:MM:SS" strings (hours may
    * exceed 23) from event values, parse back to seconds with
    * Cols.gtfsTimeToSeconds. Ref: src/dag/gtfs-static-job.py:182-186.
    */
  def gtfsTimeParse(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.TestdataAdapter.table(s, dir, "events")
    val secs = (floor(col("value") * 100).cast("long") % 108000L).cast("int")
    ev.select(col("event_id"), secs.as("seconds_in"),
      format_string("%02d:%02d:%02d",
        (secs / 3600).cast("int"), ((secs % 3600) / 60).cast("int"), (secs % 60).cast("int"))
        .as("gtfs_time"))
      .withColumn("seconds_parsed", gtfsTimeToSeconds(col("gtfs_time")))
      .orderBy("event_id")
  }

  /** A12/W3 — next-hour label via lead() per route over the hourly demand
    * series. Ref: src/ml/train_predict.py:149-150.
    */
  def labelLead(demandHourly: DataFrame): DataFrame = {
    val w = Window.partitionBy("route_id").orderBy("hour_ts")
    demandHourly
      .withColumn("label_next_hour", lead(col("passengers"), 1).over(w))
      .orderBy("route_id", "hour_ts")
  }

  /** Correlated-scalar-subquery shape (TPC-H Q17/Q2 flavor), decorrelated
    * the way Catalyst would: orders priced above their customer's average
    * — per-key deterministic average joined back to the fact rows.
    */
  def ordersAboveCustomerAvg(s: SparkSession, dir: String): DataFrame = {
    val orders = table(s, dir, "orders")
    val custAvg = orders.groupBy("o_custkey")
      .agg(detAvg(col("o_totalprice")).as("avg_price"))
    orders.join(custAvg, Seq("o_custkey"))
      .filter(col("o_totalprice") > col("avg_price"))
      .select("o_orderkey", "o_custkey", "o_totalprice", "avg_price")
      .orderBy("o_orderkey")
  }

  /** TPC-H Q4 shape: EXISTS with a cross-table inequality — orders in a
    * quarter having any late-shipping lineitem, counted by priority.
    * left_semi with a compound condition keeps lineitem un-aggregated.
    */
  def q4OrderPriority(s: SparkSession, dir: String): DataFrame = {
    val orders = table(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01") &&
        col("o_orderdate") < lit("1997-04-01"))
    val li = table(s, dir, "lineitem")
    orders.join(li,
      col("o_orderkey") === col("l_orderkey") && col("l_shipdate") > col("o_orderdate"),
      "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** Running total with an explicit frame (ROWS UNBOUNDED PRECEDING):
    * cumulative demand per route over hours. The window sum runs in the
    * exact decimal domain: engines disagree on window-aggregate addition
    * order (DuckDB uses a segment tree, Spark a running buffer), so a
    * double prefix sum is not reproducible — the decimal one is
    * associative and therefore identical anywhere.
    */
  def runningDemandTotal(demandHourly: DataFrame): DataFrame = {
    val w = Window.partitionBy("route_id").orderBy("hour_ts")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    demandHourly
      .withColumn("cum_passengers",
        sum(col("passengers").cast("decimal(28,6)")).over(w).cast("double"))
      .orderBy("route_id", "hour_ts")
  }

  /** GROUP BY ROLLUP over (priority, status) with subtotal keys coalesced
    * to 'ALL' so the output carries no nulls (sidesteps the Spark-vs-DuckDB
    * null-ordering mismatch entirely).
    */
  def priorityRollup(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .rollup("o_orderpriority", "o_orderstatus")
      .agg(count(lit(1)).as("n"), detSum(col("o_totalprice")).as("total_price"))
      .select(
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("n"), col("total_price"))
      .orderBy("priority", "status")

  /** CUBE over the same two dimensions — all four grouping sets
    * ((p,s), (p), (s), ()) in one pass (Spark expands grouping sets
    * map-side; one shuffle regardless of the set count).
    */
  def priorityCube(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .cube("o_orderpriority", "o_orderstatus")
      .agg(count(lit(1)).as("n"), detSum(col("o_totalprice")).as("total_price"))
      .select(
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("n"), col("total_price"))
      .orderBy("priority", "status")

  /** As-of join without a global sort: each probe row is matched to the
    * LATEST quote at-or-before its timestamp. Scalable shape: every quote
    * is exploded to the lookback+1 probe-hour buckets it can serve, the
    * join is a plain equality join on the bucket (shuffle on hour keys —
    * never a range join, never a single-partition ordering), and a
    * per-probe-key row_number keeps the newest surviving quote. DuckDB's
    * native ASOF JOIN is the oracle twin.
    *
    * The staleness bound is DERIVED from the data instead of asserted by
    * the caller: the lookback is the largest gap between consecutive
    * distinct quote hours, widened by the tail gap from the last quote to
    * the last probe (DuckDB's ASOF matches trailing probes to the final
    * quote at arbitrary staleness). With that bound every probe
    * at-or-after the first quote matches exactly its ASOF row, whatever
    * the feed's cadence — sparse synthetic feeds included; probes before
    * the first quote drop, as in an inner ASOF JOIN.
    *
    * LAZY, like every other builder in this module: the bound is a
    * broadcast one-row scalar cross-joined into the quote side and read
    * by `sequence(0, __lb)` inside the plan — constructing the frame
    * runs no jobs, and a reused/incremental caller re-derives the bound
    * from whatever data each execution actually sees, rather than a
    * value frozen at build time. Cost of adaptivity: one aggregate over
    * the DISTINCT quote/probe hours (bounded by calendar hours — ~9k
    * rows for a year of data regardless of corpus size; the global
    * window sort is over that hour set, not the data).
    */
  def asofJoinHourlyAuto(
      probes: DataFrame, probeTs: String, probeKey: String,
      quotes: DataFrame, quoteTs: String): DataFrame = {
    val qh = quotes.select(date_trunc("hour", col(quoteTs)).as("h")).distinct()
    val w = Window.orderBy("h")
    val maxGap = qh
      .withColumn("gap", (unix_timestamp(col("h")) -
        unix_timestamp(lag(col("h"), 1).over(w))) / 3600L)
      .agg(max(col("gap")).as("g"), max(unix_timestamp(col("h"))).as("last_q"))
    val maxProbe = probes
      .agg(max(unix_timestamp(date_trunc("hour", col(probeTs)))).as("last_p"))
    val bound = maxGap.crossJoin(maxProbe)
      .select(greatest(
        lit(1L),
        coalesce(col("g"), lit(0L)),
        coalesce(ceil((col("last_p") - col("last_q")) / 3600.0), lit(0L)))
        .cast("int").as("__lb"))
    val served = quotes.crossJoin(broadcast(bound)).withColumn("__bucket",
      explode(expr(
        s"transform(sequence(0, __lb), " +
          s"i -> date_trunc('HOUR', $quoteTs) + make_interval(0, 0, 0, 0, i, 0, 0))")))
      .drop("__lb")
    val wProbe = Window.partitionBy(probeKey).orderBy(col(quoteTs).desc)
    probes
      .withColumn("__bucket", date_trunc("hour", col(probeTs)))
      .join(served, Seq("__bucket"))
      .filter(col(quoteTs) <= col(probeTs))
      .withColumn("__rn", row_number().over(wProbe))
      .filter(col("__rn") === 1)
      .drop("__bucket", "__rn")
  }

  /** Interval-overlap (range) join without an inequality join: each
    * interval is exploded to the hour buckets it spans, each point
    * buckets to its own hour, and the match is a plain equality join on
    * the bucket refined by the exact [start, end) predicate. A point's
    * bucket is unique, so every surviving (point, interval) match
    * surfaces exactly once — no dedup pass. Spark plans a raw
    * `ts >= start AND ts < end` join as a broadcast-nested-loop (all
    * pairs scanned — quadratic at scale); this shape instead shuffles on
    * hour keys like any aggregation, and the explode factor is bounded
    * by interval length over the hour grain, so short-interval workloads
    * (promo windows, maintenance windows, sessions) stay linear.
    * Contract: start <= end per interval. DuckDB's native inequality
    * join is the oracle twin.
    */
  def rangeJoinHourly(points: DataFrame, pointTs: String,
                      intervals: DataFrame, startTs: String, endTs: String): DataFrame = {
    val exploded = intervals.withColumn("__bucket",
      explode(expr(s"sequence(date_trunc('HOUR', $startTs), " +
        s"date_trunc('HOUR', $endTs), interval 1 hour)")))
    points
      .withColumn("__bucket", date_trunc("hour", col(pointTs)))
      .join(exploded, Seq("__bucket"))
      .filter(col(pointTs) >= col(startTs) && col(pointTs) < col(endTs))
      .drop("__bucket")
  }

  /** Snapshot diff — the change-detection pass of any versioned-table /
    * incremental-export flow (what changed between yesterday's corpus
    * snapshot and today's): one full-outer join on the key classifies
    * every row as added / removed / changed (any compared column differs,
    * null-safely) and drops the unchanged majority. One shuffle on the
    * key; at 100 TB both sides are bucketed on the key (Scale
    * .writeBucketed) and the join is exchange-free.
    */
  def tableDiff(oldDf: DataFrame, newDf: DataFrame, key: String,
                compareCols: Seq[String]): DataFrame = {
    val o = oldDf.select((key +: compareCols).map(col): _*).as("o")
    val n = newDf.select((key +: compareCols).map(col): _*).as("n")
    val changed = compareCols
      .map(c => !(col(s"o.$c") <=> col(s"n.$c")))
      .reduceLeft(_ || _)
    o.join(n, col(s"o.$key") === col(s"n.$key"), "full_outer")
      .withColumn("change_type",
        when(col(s"n.$key").isNull, "removed")
          .when(col(s"o.$key").isNull, "added")
          .when(changed, "changed"))
      .filter(col("change_type").isNotNull)
      .select(
        coalesce(col(s"o.$key"), col(s"n.$key")).as(key),
        col("change_type"))
      .orderBy(key)
  }

  /** Monthly revenue trend with month-over-month delta: one month-keyed
    * aggregation (map-side combinable), then a LAG over the months frame
    * — which is time-bounded (one row per month regardless of data
    * volume), so the unpartitioned window is bounded by construction.
    */
  def monthlyRevenueTrend(s: SparkSession, dir: String): DataFrame = {
    val monthly = table(s, dir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n_orders"), detSum(col("o_totalprice")).as("revenue"))
    val w = Window.orderBy("month")
    monthly
      .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
      .withColumn("mom_delta", col("revenue") - col("prev_revenue"))
      .select(col("month").cast("timestamp_ntz").as("month"),
        col("n_orders"), col("revenue"), col("prev_revenue"), col("mom_delta"))
      .orderBy("month")
  }

  val monthlyRevenueTrendSql: String = {
    val rev = "CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)"
    s"""WITH m AS (
       |  SELECT date_trunc('month', o_orderdate) AS month,
       |    CAST(COUNT(*) AS BIGINT) AS n_orders, $rev AS revenue
       |  FROM orders GROUP BY 1)
       |SELECT CAST(month AS TIMESTAMP) AS month, n_orders, revenue,
       |  LAG(revenue, 1) OVER (ORDER BY month) AS prev_revenue,
       |  revenue - LAG(revenue, 1) OVER (ORDER BY month) AS mom_delta
       |FROM m ORDER BY month""".stripMargin
  }

  /** RFM customer scoring — recency/frequency/monetary segmentation, the
    * classic CRM analytics operator: per-customer aggregates, then each
    * dimension bucketed into thirds by EXACT percentile thresholds.
    * Thresholds come from one broadcast 1-row aggregate (sort-based
    * `percentile` — reproducible cross-engine, unlike NTILE's
    * row-number arithmetic which would need a global numbering); the
    * bucketing itself is a narrow comparison, so nothing here needs a
    * single-partition window over the customer table.
    */
  def rfmScores(s: SparkSession, dir: String): DataFrame = {
    val perCust = table(s, dir, "orders")
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(
        datediff(max(col("o_orderdate")).cast("date"), lit("1970-01-01").cast("date"))
          .as("last_order_day"),
        count(lit(1)).as("frequency"),
        detSum(col("o_totalprice")).as("monetary"))
    val thresholds = perCust.agg(
      expr("percentile(frequency, 0.33)").as("f33"),
      expr("percentile(frequency, 0.66)").as("f66"),
      expr("percentile(monetary, 0.33)").as("m33"),
      expr("percentile(monetary, 0.66)").as("m66"),
      expr("percentile(last_order_day, 0.33)").as("r33"),
      expr("percentile(last_order_day, 0.66)").as("r66"))
    def score(c: Column, lo: Column, hi: Column): Column =
      when(c <= lo, 1).when(c <= hi, 2).otherwise(3)
    perCust.crossJoin(broadcast(thresholds))
      .select(
        col("c_custkey"), col("last_order_day"), col("frequency"), col("monetary"),
        score(col("last_order_day"), col("r33"), col("r66")).as("r_score"),
        score(col("frequency"), col("f33"), col("f66")).as("f_score"),
        score(col("monetary"), col("m33"), col("m66")).as("m_score"))
      .orderBy("c_custkey")
  }

  val rfmScoresSql: String = {
    val mon = "CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)"
    s"""WITH pc AS (
       |  SELECT o_custkey AS c_custkey,
       |    CAST(CAST(MAX(o_orderdate) AS DATE) - DATE '1970-01-01' AS INTEGER) AS last_order_day,
       |    CAST(COUNT(*) AS BIGINT) AS frequency, $mon AS monetary
       |  FROM orders GROUP BY 1),
       |th AS (SELECT
       |  quantile_cont(frequency, 0.33) AS f33, quantile_cont(frequency, 0.66) AS f66,
       |  quantile_cont(monetary, 0.33) AS m33, quantile_cont(monetary, 0.66) AS m66,
       |  quantile_cont(last_order_day, 0.33) AS r33, quantile_cont(last_order_day, 0.66) AS r66
       |FROM pc)
       |SELECT c_custkey, last_order_day, frequency, monetary,
       |  CASE WHEN last_order_day <= r33 THEN 1 WHEN last_order_day <= r66 THEN 2 ELSE 3 END AS r_score,
       |  CASE WHEN frequency <= f33 THEN 1 WHEN frequency <= f66 THEN 2 ELSE 3 END AS f_score,
       |  CASE WHEN monetary <= m33 THEN 1 WHEN monetary <= m66 THEN 2 ELSE 3 END AS m_score
       |FROM pc, th ORDER BY c_custkey""".stripMargin
  }

  /** Slowly-changing-dimension type 2 — dimension history with validity
    * intervals, maintained incrementally: apply a new full snapshot to
    * the history table, closing rows whose values changed (or whose key
    * left the snapshot) at `asOf`, opening new versions for changed and
    * brand-new keys, and passing unchanged/already-closed rows through
    * untouched. The merge is ONE full-outer join keyed on the dimension
    * key between the open slice and the snapshot — the same
    * co-partitioned shuffle an upsert pays, independent of history
    * depth (closed rows never join).
    */
  def scd2Apply(
      history: DataFrame, snapshot: DataFrame, key: String,
      valueCols: Seq[String], asOf: Column): DataFrame = {
    val open = history.filter(col("valid_to").isNull)
    val closed = history.filter(col("valid_to").isNotNull)
    val o = open.as("o")
    val n = snapshot.select((key +: valueCols).map(col): _*).as("n")
    val differs = valueCols
      .map(c => !(col(s"o.$c") <=> col(s"n.$c")))
      .reduceLeft(_ || _)
    val j = o.join(n, col(s"o.$key") === col(s"n.$key"), "full_outer")
    // open rows that survive unchanged
    val unchanged = j.filter(col(s"o.$key").isNotNull && col(s"n.$key").isNotNull && !differs)
      .select((Seq(col(s"o.$key").as(key)) ++ valueCols.map(c => col(s"o.$c").as(c)) :+
        col("o.valid_from").as("valid_from") :+ col("o.valid_to").as("valid_to")): _*)
    // open rows closed at asOf: value drift or key retired from the snapshot
    val toClose = j.filter(col(s"o.$key").isNotNull && (col(s"n.$key").isNull || differs))
      .select((Seq(col(s"o.$key").as(key)) ++ valueCols.map(c => col(s"o.$c").as(c)) :+
        col("o.valid_from").as("valid_from") :+ asOf.as("valid_to")): _*)
    // fresh open versions: changed values or brand-new keys
    val opened = j.filter(col(s"n.$key").isNotNull && (col(s"o.$key").isNull || differs))
      .select((Seq(col(s"n.$key").as(key)) ++ valueCols.map(c => col(s"n.$c").as(c)) :+
        asOf.as("valid_from") :+ lit(null).cast("timestamp_ntz").as("valid_to")): _*)
    closed.unionByName(unchanged).unionByName(toClose).unionByName(opened)
      .orderBy(col(key), col("valid_from"))
  }

  /** Registered SCD2 run over `customer`: initial load valid from
    * 2024-01-01, then a 2024-02-01 snapshot where custkey %% 7 = 0 got a
    * doubled balance (changed), %% 97 = 0 disappeared (retired), and
    * mirrored keys (custkey + 10^7 for %% 89 = 0) joined (new).
    */
  def scd2Customers(s: SparkSession, dir: String): DataFrame = {
    val c = table(s, dir, "customer").select("c_custkey", "c_acctbal")
    val history = c
      .withColumn("valid_from", lit("2024-01-01 00:00:00").cast("timestamp_ntz"))
      .withColumn("valid_to", lit(null).cast("timestamp_ntz"))
    val snapshot = c
      .filter(col("c_custkey") % 97 =!= 0)
      .withColumn("c_acctbal",
        when(col("c_custkey") % 7 === 0, col("c_acctbal") * 2).otherwise(col("c_acctbal")))
      .unionByName(c.filter(col("c_custkey") % 89 === 0)
        .select((col("c_custkey") + 10000000).as("c_custkey"), col("c_acctbal")))
    scd2Apply(history, snapshot, "c_custkey", Seq("c_acctbal"),
      lit("2024-02-01 00:00:00").cast("timestamp_ntz"))
  }

  val scd2CustomersSql: String =
    """WITH h AS (
      |  SELECT c_custkey, c_acctbal,
      |    TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
      |    CAST(NULL AS TIMESTAMP) AS valid_to
      |  FROM customer),
      |snap AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 7 = 0 THEN c_acctbal * 2 ELSE c_acctbal END AS c_acctbal
      |  FROM customer WHERE c_custkey % 97 <> 0
      |  UNION ALL
      |  SELECT c_custkey + 10000000, c_acctbal FROM customer WHERE c_custkey % 89 = 0),
      |j AS (
      |  SELECT h.c_custkey AS ok, snap.c_custkey AS nk,
      |    h.c_acctbal AS ov, snap.c_acctbal AS nv, h.valid_from
      |  FROM h FULL OUTER JOIN snap ON h.c_custkey = snap.c_custkey)
      |SELECT ok AS c_custkey, ov AS c_acctbal, valid_from, CAST(NULL AS TIMESTAMP) AS valid_to
      |FROM j WHERE ok IS NOT NULL AND nk IS NOT NULL AND ov IS NOT DISTINCT FROM nv
      |UNION ALL
      |SELECT ok, ov, valid_from, TIMESTAMP '2024-02-01 00:00:00'
      |FROM j WHERE ok IS NOT NULL AND (nk IS NULL OR ov IS DISTINCT FROM nv)
      |UNION ALL
      |SELECT nk, nv, TIMESTAMP '2024-02-01 00:00:00', CAST(NULL AS TIMESTAMP)
      |FROM j WHERE nk IS NOT NULL AND (ok IS NULL OR ov IS DISTINCT FROM nv)
      |ORDER BY c_custkey, valid_from""".stripMargin

  /** Point-in-time lookup against an SCD2 history: each (key, ts) probe
    * gets the dimension version whose validity interval contains ts —
    * "the account balance as it was when the event happened", the query
    * an SCD2 table exists to answer. Equality join on the dimension key
    * (co-partitioned shuffle; the per-key version list is short by
    * construction) + a narrow interval filter — no range join, no sort.
    */
  def scd2Lookup(history: DataFrame, probes: DataFrame, key: String,
      tsCol: String): DataFrame =
    probes.join(history, key)
      .filter(col(tsCol) >= col("valid_from") &&
        (col("valid_to").isNull || col(tsCol) < col("valid_to")))

  /** Registered PIT lookup: every key in [[scd2Customers]]'s history
    * probed at mid-January (only the initial versions exist) and
    * mid-February 2024 (post-snapshot state — retired keys drop, new
    * keys appear).
    */
  def scd2PitLookup(s: SparkSession, dir: String): DataFrame = {
    // persisted: both the probe-key distinct and the lookup join consume
    // the history — without the cache the full-outer merge runs twice
    val history = scd2Customers(s, dir).persist()
    val probes = history.select("c_custkey").distinct()
      .withColumn("probe_ts", explode(array(
        lit("2024-01-15 00:00:00").cast("timestamp_ntz"),
        lit("2024-02-15 00:00:00").cast("timestamp_ntz"))))
    scd2Lookup(history, probes, "c_custkey", "probe_ts")
      .select("c_custkey", "probe_ts", "c_acctbal")
      .orderBy("c_custkey", "probe_ts")
  }

  val scd2PitLookupSql: String =
    s"""WITH hist AS (${scd2CustomersSql.replace("ORDER BY c_custkey, valid_from", "")}),
       |probes AS (
       |  SELECT c_custkey, unnest([TIMESTAMP '2024-01-15 00:00:00',
       |                            TIMESTAMP '2024-02-15 00:00:00']) AS probe_ts
       |  FROM (SELECT DISTINCT c_custkey FROM hist))
       |SELECT p.c_custkey, p.probe_ts, h.c_acctbal
       |FROM probes p JOIN hist h ON h.c_custkey = p.c_custkey
       |WHERE p.probe_ts >= h.valid_from
       |  AND (h.valid_to IS NULL OR p.probe_ts < h.valid_to)
       |ORDER BY p.c_custkey, p.probe_ts""".stripMargin

  /** Diff the event table against a deterministically perturbed copy:
    * drop event_id % 97 = 0 (removals), shift ids by +10000 for
    * event_id % 89 = 0 (additions), double value where event_id % 7 = 0
    * (changes).
    */
  def eventsDiff(s: SparkSession, dir: String): DataFrame = {
    val ev = table(s, dir, "events").select("event_id", "event_type", "value")
    val newVersion = ev
      .filter(col("event_id") % 97 =!= 0)
      .withColumn("value",
        when(col("event_id") % 7 === 0, col("value") * 2).otherwise(col("value")))
      .unionByName(ev.filter(col("event_id") % 89 === 0)
        .withColumn("event_id", col("event_id") + 10000000))
    tableDiff(ev, newVersion, "event_id", Seq("event_type", "value"))
  }

  /** event ts (long nanos or timestamp) → TIMESTAMP_NTZ (µs), schema-adaptive. */
  private def timestampMicrosFromNanos(c: org.apache.spark.sql.Column) =
    ntzFromNanos(c)

  // --------------------------------------------------- TPC-H depth (r6)

  /** TPC-H Q7 shape: bidirectional nation-pair trade volume by ship
    * year. Both nation dims are pre-filtered to the pair (so the
    * broadcast semi-filters prune at the scans); only the final pair
    * predicate — which spans both sides — evaluates post-join. The lone
    * fact-fact shuffle is lineitem⋈orders; everything else broadcasts.
    */
  def q7NationVolume(
      s: SparkSession, dir: String,
      nationA: String = "NATION_1", nationB: String = "NATION_2"): DataFrame = {
    val pair = Seq(nationA, nationB)
    val ns = table(s, dir, "nation").filter(col("n_name").isInCollection(pair))
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val nc = table(s, dir, "nation").filter(col("n_name").isInCollection(pair))
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    table(s, dir, "lineitem")
      .filter(col("l_shipdate").between(lit("1996-01-01"), lit("1997-12-31")))
      .join(table(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(table(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(table(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(ns), col("s_nationkey") === col("s_nk"))
      .join(broadcast(nc), col("c_nationkey") === col("c_nk"))
      .filter(
        (col("supp_nation") === nationA && col("cust_nation") === nationB) ||
          (col("supp_nation") === nationB && col("cust_nation") === nationA))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(detSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q8 shape: one nation's market share inside one region's
    * customers for one part type, by order year — the conditional-share
    * pattern of [[q14PromoShare]] over a 6-way star join (every dim
    * broadcast; the part filter prunes lineitem before the orders join).
    */
  def q8MarketShare(
      s: SparkSession, dir: String, suppNation: String = "NATION_3",
      regionName: String = "ASIA", partType: String = "ECONOMY"): DataFrame = {
    val part = table(s, dir, "part").filter(col("p_type") === partType)
    val region = table(s, dir, "region").filter(col("r_name") === regionName)
    val natC = table(s, dir, "nation")
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("c_nk"))
    val natS = table(s, dir, "nation")
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    table(s, dir, "lineitem")
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(table(s, dir, "orders")
        .filter(col("o_orderdate").between(lit("1996-01-01"), lit("1997-12-31"))),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(table(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(natC), col("c_nationkey") === col("c_nk"))
      .join(broadcast(table(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(natS), col("s_nationkey") === col("s_nk"))
      .withColumn("volume", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg((detSum(when(col("supp_nation") === suppNation, col("volume"))
        .otherwise(lit(0.0))) / detSum(col("volume"))).as("mkt_share"))
      .orderBy("o_year")
  }

  /** TPC-H Q13 shape: order-count distribution per customer through a
    * LEFT join with the predicate INSIDE the join (zero-order customers
    * survive into the c_count=0 bucket — a WHERE would delete them).
    */
  def q13CustomerDistribution(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "customer")
      .join(table(s, dir, "orders").filter(col("o_orderpriority") =!= "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** TPC-H Q17 shape: lines far below their part's average quantity —
    * the correlated scalar AVG decorrelated to ONE per-part aggregate
    * joined back. The brand filter applies BEFORE the aggregate (the
    * correlated subquery only ever targets the filtered parts), so the
    * per-part average runs over the brand's lines, not the whole fact.
    */
  def q17SmallQuantityRevenue(
      s: SparkSession, dir: String,
      brand: String = "Brand#1", maxSize: Int = 10): DataFrame = {
    val part = table(s, dir, "part")
      .filter(col("p_brand") === brand && col("p_size") < maxSize)
    val branded = table(s, dir, "lineitem")
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
    val avgQ = branded.groupBy(col("l_partkey").as("avg_pk"))
      .agg(detAvg(col("l_quantity")).as("avg_qty"))
    branded
      .join(broadcast(avgQ), col("l_partkey") === col("avg_pk"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg((detSum(col("l_extendedprice")) / 7.0).as("avg_yearly"))
  }

  /** TPC-H Q19 shape: disjunctive brand/size/quantity predicate blocks —
    * one broadcast part join; the OR-of-ANDs evaluates as a single
    * codegen'd filter post-join (each disjunct alone could push, their
    * union cannot).
    */
  def q19DiscountedRevenue(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .join(broadcast(table(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30)))
      .agg(detSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))

  /** TPC-H Q21 shape (lateness adapted to this schema's only date pair:
    * shipped more than 60 days after the order date): suppliers in one
    * nation who were the SOLE late supplier on a multi-supplier
    * finished order. The classic EXISTS / NOT-EXISTS pair decorrelates
    * to one per-order profile — distinct suppliers, distinct LATE
    * suppliers — and a late line counts iff (n_supp > 1) ∧ (late set
    * == {its supplier}); the DuckDB twin keeps the correlated form,
    * proving the rewrite.
    */
  def q21WaitingSupplier(
      s: SparkSession, dir: String,
      nationName: String = "NATION_5", topK: Int = 20): DataFrame = {
    val li = table(s, dir, "lineitem")
      .join(table(s, dir, "orders").filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("late",
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .select("l_orderkey", "l_suppkey", "late")
    val profile = li.groupBy("l_orderkey")
      .agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(when(col("late"), col("l_suppkey"))).as("n_late_supp"))
    val supp = table(s, dir, "supplier")
      .join(broadcast(table(s, dir, "nation").filter(col("n_name") === nationName)),
        col("s_nationkey") === col("n_nationkey"))
    li.filter(col("late"))
      .join(profile, Seq("l_orderkey"))
      .filter(col("n_supp") > 1 && col("n_late_supp") === 1)
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(topK)
  }

  /** TPC-H Q22 shape (the schema has no phone column, so the "country
    * code" is the customer nation key; and this dense synthetic data
    * gives EVERY customer some order, so "dormant" means no order since
    * 2000 — an all-time anti-join would be vacuously empty): positive-
    * balance cohort average as a broadcast scalar, richer-than-average
    * customers with no recent orders (anti-join), grouped per code.
    */
  def q22GlobalSales(
      s: SparkSession, dir: String,
      keys: Seq[Int] = Seq(1, 3, 5, 7, 9)): DataFrame = {
    val cust = table(s, dir, "customer")
      .filter(col("c_nationkey").isInCollection(keys))
    val avgBal = cust.filter(col("c_acctbal") > 0.0)
      .agg(detAvg(col("c_acctbal")).as("avg_bal"))
    val recent = table(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("2000-01-01"))
    cust.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").as("cntrycode"))
      .agg(count(lit(1)).as("numcust"), detSum(col("c_acctbal")).as("totacctbal"))
      .orderBy("cntrycode")
  }

  // --------------------------------------------------- TPC-H depth (r7)
  // The schema has no partsupp table and no l_shipmode/l_commitdate
  // columns, so the four queries that need them take deterministic
  // stand-ins, documented per query: supply cost ≔ 0.6 × p_retailprice,
  // the part-supplier relation ≔ DISTINCT (l_partkey, l_suppkey) off
  // lineitem, ship mode ≔ an l_linenumber residue decode, and lateness
  // ≔ shipped > 45 days after the order date. Every query keeps its
  // TPC-H plan shape: dims broadcast, correlated subqueries
  // decorrelated, the single fact-fact shuffle on the join key.

  /** TPC-H Q9 shape: per-nation, per-order-year profit on one part
    * color, profit = revenue − supply cost (stand-in: 0.6 ×
    * p_retailprice × quantity — keeps the two-term sum-of-products the
    * real query aggregates). Part dim filtered + broadcast before the
    * fact joins; lineitem⋈orders is the lone shuffle join.
    */
  def q9ProductProfit(s: SparkSession, dir: String, color: String = "red"): DataFrame =
    table(s, dir, "lineitem")
      .join(broadcast(table(s, dir, "part")
        .filter(col("p_name").contains(color))
        .select("p_partkey", "p_retailprice")),
        col("l_partkey") === col("p_partkey"))
      .join(table(s, dir, "orders").select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(table(s, dir, "supplier").select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(table(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .withColumn("amount",
        col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
          lit(0.6) * col("p_retailprice") * col("l_quantity"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(detSum(col("amount")).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)

  /** TPC-H Q11 shape: parts whose "stock value" (Σ supply-cost stand-in
    * × shipped quantity over one nation's suppliers) exceeds an
    * above-average fraction of the total — the correlated HAVING scalar
    * decorrelated to a 1-row aggregate broadcast against the per-part
    * frame. The threshold derives from the SAME base lines via one
    * decimal-exact sum (not a re-sum of per-part doubles), so the
    * comparison is bit-equal to the oracle's scalar subquery.
    */
  def q11ImportantParts(
      s: SparkSession, dir: String,
      nationName: String = "NATION_4", fraction: Double = 0.0005): DataFrame = {
    val supp = table(s, dir, "supplier")
      .join(broadcast(table(s, dir, "nation").filter(col("n_name") === nationName)),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val lines = table(s, dir, "lineitem")
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(table(s, dir, "part").select("p_partkey", "p_retailprice")),
        col("l_partkey") === col("p_partkey"))
      .withColumn("value", lit(0.6) * col("p_retailprice") * col("l_quantity"))
    val threshold = lines.agg((detSum(col("value")) * fraction).as("threshold"))
    lines.groupBy("p_partkey")
      .agg(detSum(col("value")).as("part_value"))
      .crossJoin(broadcast(threshold))
      .filter(col("part_value") > col("threshold"))
      .select("p_partkey", "part_value")
      .orderBy(col("part_value").desc, col("p_partkey"))
  }

  /** TPC-H Q12 shape: high- vs low-priority order counts per ship mode
    * over late lines of one ship year — the CASE-sum conditional
    * aggregation, with mode decoded from l_linenumber % 3 and lateness
    * from the schema's only date pair.
    */
  def q12ShipmodePriority(s: SparkSession, dir: String): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    table(s, dir, "lineitem")
      .filter(col("l_shipdate").between(lit("1997-01-01"), lit("1997-12-31")))
      .join(table(s, dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 45 DAYS"))
      .withColumn("l_shipmode",
        when(col("l_linenumber") % 3 === 0, "MAIL")
          .when(col("l_linenumber") % 3 === 1, "SHIP")
          .otherwise("AIR"))
      .filter(col("l_shipmode").isin("MAIL", "SHIP"))
      .groupBy("l_shipmode")
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
      .orderBy("l_shipmode")
  }

  /** TPC-H Q16 shape: distinct-supplier counts per (brand, type, size)
    * bucket of a constrained part slice, with "complaint" suppliers
    * (negative balance stand-in) removed by a broadcast anti-join — the
    * NOT IN subquery's join form. The part-supplier relation is the
    * distinct (l_partkey, l_suppkey) projection of lineitem.
    */
  def q16PartSupplierCounts(
      s: SparkSession, dir: String,
      excludeBrand: String = "Brand#5", excludeType: String = "ECONOMY",
      sizes: Seq[Int] = Seq(1, 4, 9, 14, 19, 23, 36, 45)): DataFrame = {
    val part = table(s, dir, "part")
      .filter(col("p_brand") =!= excludeBrand && col("p_type") =!= excludeType &&
        col("p_size").isInCollection(sizes))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    table(s, dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(table(s, dir, "supplier").filter(col("s_acctbal") < 0)
        .select("s_suppkey")),
        col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  /** TPC-H Q20 shape: suppliers from one nation holding "excess stock"
    * of some color-named part — shipped quantity above half the
    * per-part cross-supplier average (the availqty stand-in). The
    * nested IN + correlated scalar decorrelates to one per-(part,
    * supplier) aggregate and a per-part window average; quantities are
    * integer-valued, so the window mean is order-independent and the
    * threshold compare is engine-exact.
    */
  def q20PromoSuppliers(
      s: SparkSession, dir: String,
      color: String = "blue", nationName: String = "NATION_7"): DataFrame = {
    val shipped = table(s, dir, "lineitem")
      .filter(col("l_shipdate").between(lit("1997-01-01"), lit("1997-12-31")))
      .join(broadcast(table(s, dir, "part")
        .filter(col("p_name").startsWith(color)).select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(detSum(col("l_quantity")).as("qty"))
    val qualified = shipped
      .withColumn("part_avg", avg(col("qty")).over(Window.partitionBy("l_partkey")))
      .filter(col("qty") > lit(0.5) * col("part_avg"))
      .select("l_suppkey").distinct()
    table(s, dir, "supplier")
      .join(broadcast(table(s, dir, "nation").filter(col("n_name") === nationName)),
        col("s_nationkey") === col("n_nationkey"))
      // qualified is supplier-bounded (one row per qualifying supplier),
      // so the semi probe broadcasts — the dim side never shuffles
      .join(broadcast(qualified), col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_name", "s_acctbal")
      .orderBy("s_name")
  }
}
