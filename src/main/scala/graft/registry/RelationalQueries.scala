package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational/analytic coverage: TPC-H analogs, window/sessionize/
  * sketch/scale operators, GTFS scalar-function rows.
  */
private[graft] trait RelationalQueries extends RegistryBase {
  import Pipelines._
  import graft.rel.{Analytics, Relational, Sessionize, Sketches}
  import graft.export.Export

  val relational: Seq[Q] = Seq(
    Q("q1_pricing", Relational.q1Pricing,
      Some(
        s"""SELECT l_returnflag, l_linestatus,
           |  ${dsum("l_quantity")} AS sum_qty,
           |  ${dsum("l_extendedprice")} AS sum_base_price,
           |  ${dsum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
           |  ${dsum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
           |  ${davg("l_quantity")} AS avg_qty,
           |  ${davg("l_extendedprice")} AS avg_price,
           |  ${davg("l_discount")} AS avg_disc,
           |  COUNT(*) AS count_order
           |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("q3_top_revenue", Relational.q3TopRevenue,
      Some(
        s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
           |  ${dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |WHERE c_mktsegment = 'BUILDING'
           |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
           |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
           |GROUP BY 1, 2, 3 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),

    Q("q5_region_revenue", Relational.q5RegionRevenue,
      Some(
        s"""SELECT n_name, ${dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           |JOIN nation ON s_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |WHERE r_name = 'ASIA'
           |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
           |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("top_order_per_customer", Relational.topOrderPerCustomer,
      Some(
        """SELECT o_custkey, o_orderkey, o_totalprice FROM (
          |  SELECT o_custkey, o_orderkey, o_totalprice,
          |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
          |  FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin)),

    Q("customers_without_orders", Relational.customersWithoutOrders,
      Some(
        """SELECT c_custkey, c_name, c_mktsegment FROM customer
          |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
          |ORDER BY c_custkey""".stripMargin)),

    Q("suppliers_with_sales", Relational.suppliersWithSales,
      Some(
        """SELECT s_suppkey, s_name, s_nationkey FROM supplier
          |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
          |ORDER BY s_suppkey""".stripMargin)),

    Q("stop_to_route_j1", Relational.stopToRouteJ1,
      Some(
        """SELECT DISTINCT l_partkey AS stop_id, o_orderpriority AS route_id
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |ORDER BY stop_id, route_id""".stripMargin)),

    Q("geo_chain", Relational.geoChain,
      Some(
        """SELECT DISTINCT r_name, n_name, s_suppkey, s_name
          |FROM supplier
          |JOIN nation ON s_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |ORDER BY r_name, n_name, s_suppkey LIMIT 1000""".stripMargin)),

    Q("latest_event_per_user", Relational.latestEventPerUser,
      Some(
        """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM (
          |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    Q("upsert_latest_wins", Relational.upsertLatestWins,
      Some(
        """SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM (
          |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
          |  FROM events) WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin)),

    Q("upsert_do_nothing", Relational.upsertDoNothing,
      Some(
        """SELECT event_id, user_id, event_type, value FROM events
          |WHERE event_id >= 5000 AND event_id < 7500 ORDER BY event_id""".stripMargin)),

    Q("orders_above_customer_avg", Relational.ordersAboveCustomerAvg,
      Some(
        s"""WITH ca AS (SELECT o_custkey, ${davg("o_totalprice")} AS avg_price
           |            FROM orders GROUP BY 1)
           |SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, ca.avg_price
           |FROM orders o JOIN ca USING (o_custkey)
           |WHERE o.o_totalprice > ca.avg_price
           |ORDER BY o.o_orderkey""".stripMargin)),

    Q("q4_order_priority", Relational.q4OrderPriority,
      Some(
        """SELECT o_orderpriority, COUNT(*) AS order_count FROM orders o
          |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          |  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
          |  AND EXISTS (SELECT 1 FROM lineitem
          |              WHERE l_orderkey = o.o_orderkey AND l_shipdate > o.o_orderdate)
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Q18-style: HAVING over an aggregate, qualifying keys joined back
    Q("q18_large_orders", Relational.q18LargeOrders,
      Some(
        s"""SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
           |FROM orders
           |JOIN (
           |  SELECT l_orderkey, ${dsum("l_quantity")} AS total_qty
           |  FROM lineitem GROUP BY 1
           |  HAVING ${dsum("l_quantity")} > 250.0) b ON o_orderkey = b.l_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)),

    // Q10-style: returned-item revenue per customer, bounded top-20
    Q("q10_returned_revenue", Relational.q10ReturnedRevenue,
      Some(
        s"""SELECT c_custkey, c_name, c_mktsegment,
           |  ${dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |WHERE l_returnflag = 'R'
           |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
           |  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
           |GROUP BY 1, 2, 3
           |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),

    // Q15-style top supplier — the oracle keeps the scalar-MAX subquery;
    // the Spark side broadcasts the 1-row max back onto the revenue frame
    Q("q15_top_supplier", Relational.q15TopSupplier,
      Some(
        s"""WITH rev AS (
           |  SELECT l_suppkey,
           |    ${dsum("l_extendedprice * (1.0 - l_discount)")} AS total_revenue
           |  FROM lineitem
           |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
           |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
           |  GROUP BY 1)
           |SELECT s_suppkey, s_name, total_revenue
           |FROM rev JOIN supplier ON l_suppkey = s_suppkey
           |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
           |ORDER BY s_suppkey""".stripMargin)),

    // Q6-style: pushed-down predicates + one decimal-exact scalar agg
    Q("q6_revenue_delta", Relational.q6RevenueDelta,
      Some(
        s"""SELECT ${dsum("l_extendedprice * l_discount")} AS revenue
           |FROM lineitem
           |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
           |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin)),

    // Q12-style late shipments per priority (no shipmode in testdata)
    Q("late_shipment_priority", Relational.lateShipmentPriority,
      Some(
        """SELECT o_orderpriority, COUNT(*) AS n_late
          |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          |WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Q14-style promo revenue share (ratio of two exact decimal sums)
    Q("q14_promo_share", Relational.q14PromoShare,
      Some(
        s"""SELECT
           |  ${dsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")} AS promo_revenue,
           |  ${dsum("l_extendedprice * (1.0 - l_discount)")} AS total_revenue,
           |  100.0 * ${dsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")}
           |    / ${dsum("l_extendedprice * (1.0 - l_discount)")} AS promo_share_pct
           |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin)),

    // Q2-style correlated MIN kept correlated in the oracle; the Spark
    // side decorrelates it to a window MIN over the part key
    Q("q2_min_cost_supplier", Relational.q2MinCostSupplier,
      Some(
        """WITH offers AS (
          |  SELECT l_partkey, l_suppkey, s_name, n_name,
          |    MIN(l_extendedprice / l_quantity) AS unit_cost
          |  FROM lineitem
          |  JOIN supplier ON l_suppkey = s_suppkey
          |  JOIN nation ON s_nationkey = n_nationkey
          |  JOIN region ON n_regionkey = r_regionkey
          |  WHERE r_name = 'EUROPE'
          |  GROUP BY 1, 2, 3, 4)
          |SELECT p_partkey, p_name, l_suppkey AS s_suppkey, s_name, n_name, unit_cost
          |FROM offers o JOIN part p ON o.l_partkey = p.p_partkey
          |WHERE p.p_size <= 15
          |  AND o.unit_cost = (SELECT MIN(o2.unit_cost) FROM offers o2
          |                     WHERE o2.l_partkey = o.l_partkey)
          |ORDER BY p_partkey, s_suppkey""".stripMargin)),

    // Q7-style bidirectional nation-pair trade volume by ship year
    Q("q7_nation_volume", Relational.q7NationVolume(_, _),
      Some(
        s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           |  CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year,
           |  ${dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN supplier ON l_suppkey = s_suppkey
           |JOIN nation n1 ON s_nationkey = n1.n_nationkey
           |JOIN nation n2 ON c_nationkey = n2.n_nationkey
           |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
           |  AND TIMESTAMP '1997-12-31 00:00:00'
           |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
           |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // Q8-style market share of one nation's suppliers inside one
    // region's customers for one part type, by order year
    Q("q8_market_share", Relational.q8MarketShare(_, _),
      Some(
        s"""SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
           |  ${dsum("CASE WHEN n1.n_name = 'NATION_3' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")}
           |    / ${dsum("l_extendedprice * (1.0 - l_discount)")} AS mkt_share
           |FROM lineitem
           |JOIN part ON l_partkey = p_partkey
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN nation n2 ON c_nationkey = n2.n_nationkey
           |JOIN region ON n2.n_regionkey = r_regionkey
           |JOIN supplier ON l_suppkey = s_suppkey
           |JOIN nation n1 ON s_nationkey = n1.n_nationkey
           |WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
           |  AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
           |  AND TIMESTAMP '1997-12-31 00:00:00'
           |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Q13-style customer order-count distribution (predicate inside the
    // LEFT join so zero-order customers land in the c_count=0 bucket)
    Q("q13_customer_distribution", Relational.q13CustomerDistribution,
      Some(
        """WITH co AS (
          |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
          |  FROM customer LEFT JOIN orders
          |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          |  GROUP BY 1)
          |SELECT c_count, COUNT(*) AS custdist
          |FROM co GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // Q17-style small-quantity revenue — the oracle keeps the correlated
    // per-part AVG subquery; the Spark side decorrelates to one
    // aggregate joined back
    Q("q17_small_quantity_revenue", Relational.q17SmallQuantityRevenue(_, _),
      Some(
        s"""WITH branded AS (
           |  SELECT l_partkey, l_quantity, l_extendedprice
           |  FROM lineitem JOIN part ON l_partkey = p_partkey
           |  WHERE p_brand = 'Brand#1' AND p_size < 10)
           |SELECT ${dsum("l_extendedprice")} / 7.0 AS avg_yearly
           |FROM branded b
           |WHERE l_quantity < 0.2 * (
           |  SELECT ${davg("l_quantity")} FROM branded b2
           |  WHERE b2.l_partkey = b.l_partkey)""".stripMargin)),

    // Q19-style disjunctive predicate blocks over the part join
    Q("q19_discounted_revenue", Relational.q19DiscountedRevenue,
      Some(
        s"""SELECT ${dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
           |FROM lineitem JOIN part ON l_partkey = p_partkey
           |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
           |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
           |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    // Q21-style sole-late-supplier count — the oracle keeps the
    // EXISTS / NOT-EXISTS pair, proving the per-order-profile rewrite
    Q("q21_waiting_supplier", Relational.q21WaitingSupplier(_, _),
      Some(
        """WITH l AS (
          |  SELECT l_orderkey, l_suppkey,
          |    (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS late
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |  WHERE o_orderstatus = 'F')
          |SELECT s_name, COUNT(*) AS numwait
          |FROM l l1
          |JOIN supplier ON l1.l_suppkey = s_suppkey
          |JOIN nation ON s_nationkey = n_nationkey
          |WHERE n_name = 'NATION_5' AND l1.late
          |  AND EXISTS (SELECT 1 FROM l l2
          |              WHERE l2.l_orderkey = l1.l_orderkey
          |                AND l2.l_suppkey <> l1.l_suppkey)
          |  AND NOT EXISTS (SELECT 1 FROM l l3
          |                  WHERE l3.l_orderkey = l1.l_orderkey
          |                    AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
          |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin)),

    // Q22-style dormant rich customers — the oracle keeps the scalar
    // cohort-average subquery and NOT EXISTS; Spark broadcasts the
    // 1-row average and anti-joins orders
    Q("q22_global_sales", Relational.q22GlobalSales(_, _),
      Some(
        s"""SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
           |  ${dsum("c_acctbal")} AS totacctbal
           |FROM customer c
           |WHERE c_nationkey IN (1, 3, 5, 7, 9)
           |  AND c_acctbal > (
           |    SELECT ${davg("c_acctbal")} FROM customer
           |    WHERE c_acctbal > 0.0 AND c_nationkey IN (1, 3, 5, 7, 9))
           |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey
           |                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
           |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Q9-style profit by supplier nation and order year (supply cost
    // stand-in 0.6×retail — no partsupp in this schema)
    Q("q9_product_profit", Relational.q9ProductProfit(_, _),
      Some(
        s"""SELECT n_name AS nation,
           |  CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
           |  ${dsum("l_extendedprice * (1.0 - l_discount) - 0.6 * p_retailprice * l_quantity")} AS sum_profit
           |FROM lineitem
           |JOIN part ON l_partkey = p_partkey
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN supplier ON l_suppkey = s_suppkey
           |JOIN nation ON s_nationkey = n_nationkey
           |WHERE p_name LIKE '%red%'
           |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin)),

    // Q11-style important-parts: the oracle keeps the correlated HAVING
    // scalar the Spark side decorrelates to a broadcast 1-row aggregate
    Q("q11_important_parts", Relational.q11ImportantParts(_, _),
      Some(
        s"""WITH lines AS (
           |  SELECT p_partkey, 0.6 * p_retailprice * l_quantity AS value
           |  FROM lineitem
           |  JOIN supplier ON l_suppkey = s_suppkey
           |  JOIN nation ON s_nationkey = n_nationkey
           |  JOIN part ON l_partkey = p_partkey
           |  WHERE n_name = 'NATION_4')
           |SELECT p_partkey, ${dsum("value")} AS part_value
           |FROM lines
           |GROUP BY 1
           |HAVING ${dsum("value")} > (SELECT ${dsum("value")} * 0.0005 FROM lines)
           |ORDER BY part_value DESC, p_partkey""".stripMargin)),

    // Q12-style ship-mode priority counts (mode = linenumber residue
    // decode; late = shipped >45 days after order date)
    Q("q12_shipmode_priority", Relational.q12ShipmodePriority(_, _),
      Some(
        """WITH l AS (
          |  SELECT CASE l_linenumber % 3 WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP'
          |         ELSE 'AIR' END AS l_shipmode, o_orderpriority
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |  WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01 00:00:00'
          |    AND TIMESTAMP '1997-12-31 00:00:00'
          |    AND l_shipdate > o_orderdate + INTERVAL 45 DAY)
          |SELECT l_shipmode,
          |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
          |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
          |FROM l WHERE l_shipmode IN ('MAIL', 'SHIP')
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Q16-style supplier counts per part bucket: the oracle keeps the
    // NOT IN subquery the Spark side turns into a broadcast anti-join
    Q("q16_part_supplier_counts", Relational.q16PartSupplierCounts(_, _),
      Some(
        """SELECT p_brand, p_type, p_size,
          |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
          |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
          |JOIN part ON l_partkey = p_partkey
          |WHERE p_brand <> 'Brand#5' AND p_type <> 'ECONOMY'
          |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
          |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
          |GROUP BY 1, 2, 3
          |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),

    // Q20-style excess-stock suppliers: the oracle keeps the nested IN
    // + per-part window threshold the Spark side computes once
    Q("q20_promo_suppliers", Relational.q20PromoSuppliers(_, _),
      Some(
        s"""WITH shipped AS (
           |  SELECT l_partkey, l_suppkey, ${dsum("l_quantity")} AS qty
           |  FROM lineitem JOIN part ON l_partkey = p_partkey
           |  WHERE p_name LIKE 'blue%'
           |    AND l_shipdate BETWEEN TIMESTAMP '1997-01-01 00:00:00'
           |    AND TIMESTAMP '1997-12-31 00:00:00'
           |  GROUP BY 1, 2),
           |t AS (SELECT *, AVG(qty) OVER (PARTITION BY l_partkey) AS part_avg FROM shipped)
           |SELECT s_name, s_acctbal
           |FROM supplier JOIN nation ON s_nationkey = n_nationkey
           |WHERE n_name = 'NATION_7'
           |  AND s_suppkey IN (SELECT l_suppkey FROM t WHERE qty > 0.5 * part_avg)
           |ORDER BY s_name""".stripMargin)),

    // z-score outlier hours per route — moments from associative decimal
    // sums (squares in decimal, rounded to scale 6 so the sum stays
    // double-representable), so even the boolean flag hash-matches
    Q("delay_anomalies",
      (s, dir) => Analytics.delayAnomalies(TestdataAdapter.tripUpdates(s, dir)),
      Some(Analytics.delayAnomaliesSql())),

    Q("running_demand_total",
      (s, dir) => Relational.runningDemandTotal(demandHourly(s, dir))
        .withColumn("hour_ts", col("hour_ts").cast("timestamp_ntz")),
      Some(
        s"""WITH s2r AS ($S2R), f AS ($FLOW), d AS ($DEMAND_BODY)
           |SELECT route_id, hour_ts, passengers,
           |  CAST(SUM(CAST(passengers AS DECIMAL(28,6))) OVER (PARTITION BY route_id ORDER BY hour_ts
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_passengers
           |FROM d ORDER BY route_id, hour_ts""".stripMargin)),

    Q("priority_rollup", Relational.priorityRollup,
      Some(
        s"""SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
           |  COALESCE(o_orderstatus, 'ALL') AS status,
           |  COUNT(*) AS n, ${dsum("o_totalprice")} AS total_price
           |FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
           |ORDER BY 1, 2""".stripMargin)),

    // monthly revenue trend + MoM delta (window over the time-bounded
    // months frame — bounded by construction, not by data volume)
    Q("monthly_revenue_trend", Relational.monthlyRevenueTrend,
      Some(Relational.monthlyRevenueTrendSql)),
    // RFM segmentation via exact-percentile thresholds (broadcast 1-row
    // agg + narrow comparisons — no global numbering of customers)
    Q("rfm_scores", Relational.rfmScores,
      Some(Relational.rfmScoresSql)),
    Q("priority_cube", Relational.priorityCube,
      Some(
        s"""SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
           |  COALESCE(o_orderstatus, 'ALL') AS status,
           |  COUNT(*) AS n, ${dsum("o_totalprice")} AS total_price
           |FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
           |ORDER BY 1, 2""".stripMargin)),

    // Exact (sort-based) percentiles — both engines sort and linearly
    // interpolate, so the values are reproducible; the approx sketch
    // (approx_percentile/t-digest) is the 100 TB path but is
    // engine-specific by construction.
    Q("value_percentiles",
      (s, dir) => TestdataAdapter.table(s, dir, "events")
        .groupBy("event_type")
        .agg(
          expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.9)").as("p90"),
          expr("percentile(value, 0.99)").as("p99"))
        .orderBy("event_type"),
      Some(
        """SELECT event_type,
          |  quantile_cont(value, 0.5) AS p50,
          |  quantile_cont(value, 0.9) AS p90,
          |  quantile_cont(value, 0.99) AS p99
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Winsorization (percentile clipping) — the outlier-clamp DQ pass:
    // per-group exact p05/p95 bounds (groups-sized frame → broadcast)
    // joined back and applied as LEAST/GREATEST
    Q("value_winsorized",
      (s, dir) => {
        val ev = TestdataAdapter.table(s, dir, "events")
        val bounds = ev.groupBy("event_type").agg(
          expr("percentile(value, 0.05)").as("lo"),
          expr("percentile(value, 0.95)").as("hi"))
        ev.join(broadcast(bounds), "event_type")
          .select(col("event_id"), col("event_type"), col("value"),
            least(greatest(col("value"), col("lo")), col("hi")).as("value_winsorized"))
          .orderBy("event_id")
      },
      Some(
        """WITH b AS (SELECT event_type,
          |  quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
          |  FROM events GROUP BY 1)
          |SELECT event_id, event_type, value,
          |  LEAST(GREATEST(value, lo), hi) AS value_winsorized
          |FROM events JOIN b USING (event_type) ORDER BY event_id""".stripMargin)),

    // Explicit INTERSECT (§2.7 set ops): sources publishing in both of
    // the two largest languages
    Q("sources_bilingual",
      (s, dir) => {
        val dd = TestdataAdapter.table(s, dir, "documents")
        dd.filter(col("lang") === "en").select("source").distinct()
          .intersect(dd.filter(col("lang") === "de").select("source").distinct())
          .orderBy("source")
      },
      Some(
        """SELECT DISTINCT source FROM documents WHERE lang = 'en'
          |INTERSECT
          |SELECT DISTINCT source FROM documents WHERE lang = 'de'
          |ORDER BY source""".stripMargin)),

    // Equi-width histogram with data-driven bounds (broadcast min/max)
    Q("value_histogram",
      (s, dir) => Sketches.valueHistogram(TestdataAdapter.table(s, dir, "events")),
      Some(Sketches.valueHistogramSql())),

    // Column-profile / data-quality summary: one aggregation pass,
    // unpivoted to a row per column
    Q("events_profile",
      (s, dir) => Sketches.profileEvents(TestdataAdapter.table(s, dir, "events")),
      Some(Sketches.profileEventsSql)),

    // Builtin-sketch (HLL++/t-digest) VALUES are engine-specific, so the
    // sketches registered here are engine-owned (`cardinality_hll`,
    // `heavy_hitters_cms`) and their exact audit legs ride along.
    // the exact cardinality+median leg of the sketch audit, hash-checked
    Q("sketch_stats_exact",
      (s, dir) => Sketches.sketchStatsExact(TestdataAdapter.table(s, dir, "events")),
      Some(Sketches.sketchStatsExactSql)),
    // the exact top-k frequency leg, hash-checked
    Q("heavy_hitters_exact",
      (s, dir) => Sketches.heavyHittersExact(TestdataAdapter.table(s, dir, "events")),
      Some(Sketches.heavyHittersExactSql())),
    // ENGINE-OWNED md5-hashed Count-Min Sketch: the d×w counter grid and
    // the min-over-rows estimates are reproduced verbatim in DuckDB, so
    // the SKETCH itself (not just the exact audit leg) is oracle-exact —
    // the verifiable twin of the builtin-CMS `heavy_hitters`
    Q("heavy_hitters_cms",
      (s, dir) => Sketches.cmsHeavyHitters(TestdataAdapter.table(s, dir, "events")),
      Some(Sketches.cmsHeavyHittersSql())),
    // ENGINE-OWNED md5-hashed HyperLogLog: 256-register max-aggregate,
    // exact-decimal register sum, round-pinned ln/estimate — the estimate is
    // oracle-exact, the verifiable twin of builtin-HLL `sketch_stats`
    Q("cardinality_hll",
      (s, dir) => Sketches.hllCardinality(TestdataAdapter.table(s, dir, "events")),
      Some(Sketches.hllCardinalitySql())),
    // Declarative data-quality gate: a rule set compiled into ONE
    // aggregation pass (Deequ-style), unpivoted to a per-rule report
    Q("dq_report",
      (s, dir) => graft.rel.Quality.eventsReport(TestdataAdapter.table(s, dir, "events")),
      Some(graft.rel.Quality.eventsReportSql)),

    // SCD type 2: validity-interval dimension history maintained by one
    // full-outer merge of the open slice against a new snapshot
    Q("scd2_customers", Relational.scd2Customers,
      Some(Relational.scd2CustomersSql)),
    // point-in-time lookup against the SCD2 history ("balance as of T")
    Q("scd2_pit_lookup", Relational.scd2PitLookup,
      Some(Relational.scd2PitLookupSql)),

    // Snapshot diff: full-outer change classification between a table
    // and a deterministically perturbed next version
    Q("events_diff", Relational.eventsDiff,
      Some(
        """WITH o AS (SELECT event_id, event_type, value FROM events),
          |n AS (
          |  SELECT event_id, event_type,
          |    CASE WHEN event_id % 7 = 0 THEN value * 2 ELSE value END AS value
          |  FROM events WHERE event_id % 97 <> 0
          |  UNION ALL
          |  SELECT event_id + 10000000, event_type, value
          |  FROM events WHERE event_id % 89 = 0),
          |j AS (SELECT o.event_id AS ok, n.event_id AS nk,
          |        o.event_type AS ot, n.event_type AS nt,
          |        o.value AS ov, n.value AS nv
          |      FROM o FULL OUTER JOIN n ON o.event_id = n.event_id),
          |c AS (SELECT COALESCE(ok, nk) AS event_id,
          |        CASE WHEN nk IS NULL THEN 'removed'
          |             WHEN ok IS NULL THEN 'added'
          |             WHEN ot IS DISTINCT FROM nt
          |               OR ov IS DISTINCT FROM nv THEN 'changed' END AS change_type
          |      FROM j)
          |SELECT event_id, change_type FROM c
          |WHERE change_type IS NOT NULL ORDER BY event_id""".stripMargin)),

    // Dense hourly gap-fill with forward-filled averages (time-series
    // completion for the ML feature grid)
    Q("hourly_gap_fill",
      (s, dir) => Analytics.hourlyGapFill(TestdataAdapter.userEvents(s, dir)),
      Some(Analytics.hourlyGapFillSql)),
    // PSI drift report: per-type value distribution shift between the
    // first and second half of the observed range (10 reference-range
    // bins, smoothed, 1e9-quantized terms → order-free sums)
    Q("drift_psi",
      (s, dir) => Analytics.driftPsi(TestdataAdapter.userEvents(s, dir)),
      Some(Analytics.driftPsiSql)),
    // Incremental view maintenance: history + latest-hour increment
    // partially aggregated separately, merged via associative decimal
    // partials; oracle recomputes from scratch — equality proves the
    // incremental path exact
    Q("incremental_hourly_merge",
      (s, dir) => rel.Incremental.incrementalHourlyMerge(TestdataAdapter.userEvents(s, dir)),
      Some(rel.Incremental.incrementalHourlyMergeSql)),
    // Ordered 3-step funnel conversion over user activity
    Q("funnel_signup_purchase",
      (s, dir) => Analytics.funnel(TestdataAdapter.userEvents(s, dir)),
      Some(Analytics.funnelSql)),
    // Weekly cohort retention matrix
    Q("cohort_retention",
      (s, dir) => Analytics.cohortRetention(TestdataAdapter.userEvents(s, dir)),
      Some(Analytics.cohortRetentionSql)),

    // Top-k per group via the custom bounded-heap physical operator
    // (plans.TopKPerGroup: LogicalPlan+Strategy+SparkPlan, no sort) —
    // oracle is the window+filter form it replaces
    Q("topk_events_per_user",
      (s, dir) => {
        graft.GraftExtensions.register(s)
        graft.plans.TopKPerGroup.topK(
          TestdataAdapter.table(s, dir, "events")
            .select("user_id", "event_id", "event_type", "value"),
          groupCols = Seq("user_id"),
          orderCols = Seq("value" -> true, "event_id" -> false),
          k = 3)
          .orderBy(col("user_id"), col("value").desc, col("event_id"))
      },
      Some(
        """SELECT user_id, event_id, event_type, value FROM (
          |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
          |    ORDER BY value DESC, event_id) AS rn
          |  FROM events) WHERE rn <= 3
          |ORDER BY user_id, value DESC, event_id""".stripMargin)),

    // Dense global numbering without a single-partition window (range
    // repartition + zipWithIndex) — oracle is the window form it avoids
    Q("global_index",
      (s, dir) => graft.rel.Scale.globalIndex(
        TestdataAdapter.table(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        "doc_id").orderBy("doc_id"),
      Some(
        """SELECT doc_id, lang, n_chars,
          |  ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS global_idx
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // Gap-based sessionization: one shuffle (user_id), running-sum
    // session ids, grouped session stats — see rel.Sessionize scaladoc.
    // per-user behavioral profile over the session frame (bounce rate,
    // mean session length) — the report sessionization feeds
    Q("session_stats",
      (s, dir) => Sessionize.sessionStats(TestdataAdapter.table(s, dir, "events")),
      Some(Sessionize.sessionStatsSql)),
    Q("sessionize_events",
      (s, dir) => Sessionize.sessions(TestdataAdapter.table(s, dir, "events")),
      Some(Sessionize.sessionsSql)),
    // SCD2 (Kimball type-2) state history: validity intervals of each
    // user's event_type, one user_id shuffle for the whole build
    Q("scd2_history",
      (s, dir) => Sessionize.scd2History(TestdataAdapter.table(s, dir, "events")),
      Some(Sessionize.scd2HistorySql)),

    Q("gtfs_time_parse", Relational.gtfsTimeParse,
      Some(
        """SELECT event_id,
          |  CAST(CAST(floor(value * 100) AS BIGINT) % 108000 AS INTEGER) AS seconds_in,
          |  printf('%02d:%02d:%02d',
          |    CAST(CAST(floor(value * 100) AS BIGINT) % 108000 AS BIGINT) // 3600,
          |    (CAST(CAST(floor(value * 100) AS BIGINT) % 108000 AS BIGINT) % 3600) // 60,
          |    CAST(CAST(floor(value * 100) AS BIGINT) % 108000 AS BIGINT) % 60) AS gtfs_time,
          |  CAST(CAST(floor(value * 100) AS BIGINT) % 108000 AS INTEGER) AS seconds_parsed
          |FROM events ORDER BY event_id""".stripMargin)),
  )

}
