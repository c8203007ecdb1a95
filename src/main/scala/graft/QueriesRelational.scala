package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational suite over the TPC-H-ish corpus: joins (broadcast/shuffle/
  * semi/anti), window functions, set operations, rollup, distinct
  * aggregation, top-k. The reference itself has none of these (SURVEY §2.6 —
  * its stage boundaries pass whole files), but they are the operations its
  * proposed fact-table load (README.md:165-178) needs at scale, and the
  * driver's t2 oracle gate runs here.
  *
  * Cross-engine determinism rules (same as QueriesKpi): money aggregates go
  * through exact DECIMAL sums (2-dp data casts exactly; scaled sums stay
  * below 2^53 so decimal→double casts are exact in both engines); averages
  * divide an exact sum in double; quantities are integral doubles so plain
  * sums are order-independent; no final rounding anywhere.
  */
object QueriesRelational {

  /** Exact money sum: `CAST(sum(CAST(c AS DECIMAL(18,2))) AS DOUBLE)`. */
  private def decSum(c: String): org.apache.spark.sql.Column =
    expr(s"CAST(sum(CAST($c AS DECIMAL(18,2))) AS DOUBLE)")

  // -------------------------------------------------------------------
  // q10 — pricing summary (TPC-H Q1 shape): scan→filter→hash agg, the
  // lineitem counterpart of the KPI spine. One shuffle; all aggregates
  // streaming partials (no percentile here).
  // -------------------------------------------------------------------
  def pricingSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .filter(to_date(col("l_shipdate")) <= lit("1998-09-02"))
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        decSum("l_extendedprice").as("sum_base_price"),
        // the exact decimal sum is TRUNCATED TO CENTS before the double
        // cast: at scale 6 the sf1 sum's unscaled value exceeds 2^53, so
        // DuckDB's two-step decimal→double (int→double, then divide)
        // rounds differently from Spark's correctly-rounded conversion —
        // the one-ulp cross-engine mismatch the sf1 gate caught (and
        // half-rounding on a scale-down cast differs between engines
        // too). FLOOR(sum·100) is pure integer arithmetic both engines
        // replay exactly AT ANY SCALE: Spark evaluates FLOOR on the
        // decimal (DecimalType result) and DuckDB's FLOOR(DECIMAL) is
        // DECIMAL(38,0) (probed r13: floor(sum*100) past 2^53 cents
        // returns the exact integer '9007199254740994', typeof
        // DECIMAL(38,0) — no double lowering, the ADVICE r12 concern),
        // so both engines cast the SAME integer with one correctly-
        // rounded int→double conversion and divide by the same 100.0 —
        // identical doubles even when the cent count itself exceeds
        // 2^53 (KernelSpec "q10 cents arithmetic stays decimal-exact
        // past 2^53"). Cost: the published column is the cent-truncated
        // sum, ≤ $0.01 below the full-precision decimal→double value —
        // the price of a hash-exact cross-engine gate on a double column.
        expr("CAST(FLOOR(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) * 100) AS DOUBLE) / 100.0")
          .as("sum_disc_price"),
        expr("CAST(FLOOR(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))) * 100) AS DOUBLE) / 100.0")
          .as("sum_charge"),
        (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (decSum("l_extendedprice") / count(lit(1))).as("avg_price"),
        (expr("CAST(sum(CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE)") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |       sum(l_quantity) AS sum_qty,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |       CAST(FLOOR(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) * 100) AS DOUBLE) / 100.0 AS sum_disc_price,
      |       CAST(FLOOR(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))) * 100) AS DOUBLE) / 100.0 AS sum_charge,
      |       sum(l_quantity) / count(*) AS avg_qty,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
      |       CAST(sum(CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) / count(*) AS avg_disc,
      |       count(*) AS count_order
      |FROM lineitem
      |WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // -------------------------------------------------------------------
  // q11 — selective filter + global agg (TPC-H Q6 shape). The predicates
  // must reach the parquet scan as PushedFilters (shipdate min/max prune
  // via row-group stats).
  // -------------------------------------------------------------------
  def filterRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    li.filter(
        to_date(col("l_shipdate")).between("1996-01-01", "1996-12-31") &&
        col("l_discount").between(0.03, 0.07) &&
        col("l_quantity") < 24)
      .agg(
        expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE)").as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  val filterRevenueSql: String =
    """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue,
      |       count(*) AS n_rows
      |FROM lineitem
      |WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
      |  AND l_discount BETWEEN CAST(0.03 AS DOUBLE) AND CAST(0.07 AS DOUBLE)
      |  AND l_quantity < 24""".stripMargin

  // -------------------------------------------------------------------
  // q12 — multi-way join revenue rollup (TPC-H Q5 shape): dims broadcast,
  // fact tables shuffle-join on their keys; AQE picks the physical join
  // for customer/orders at runtime.
  // -------------------------------------------------------------------
  def joinRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    val r = Tables.region(spark, sfDir)
    // pre-aggregate the fact table on the join key BEFORE the joins:
    // orders.o_orderkey is unique, so after the join each row IS one
    // distinct order and n_orders = count(1) — no countDistinct, whose
    // expand-based plan doubles every row through the aggregation
    // shuffle (the exact thing to avoid with a 100 TB fact table). The
    // revenue sum is decimal-exact, so re-associating it across the
    // pre-agg is value-identical.
    val liByOrder = li.groupBy(col("l_orderkey"))
      .agg(expr(
        "sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))")
        .as("order_revenue"))
    liByOrder.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum(col("order_revenue")).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("r_name"), col("n_name"))
  }

  val joinRevenueSql: String =
    """SELECT r_name, n_name,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
      |       count(DISTINCT o_orderkey) AS n_orders
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  // -------------------------------------------------------------------
  // q13 — semi join (EXISTS): orders having any heavy lineitem.
  // -------------------------------------------------------------------
  def semiJoinPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir).filter(col("l_quantity") > 45)
    o.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  val semiJoinPrioritySql: String =
    """SELECT o_orderpriority, count(*) AS n_orders
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // -------------------------------------------------------------------
  // q14 — anti join (NOT EXISTS): customers with no 1999 orders, per
  // nation (unfiltered orders would make the result empty: every customer
  // has at least one order in the corpus).
  // -------------------------------------------------------------------
  def antiJoinCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir).filter(year(col("o_orderdate")) === 1999)
    val n = Tables.nation(spark, sfDir)
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("customers_without_orders"),
        expr("CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)").as("sum_acctbal"))
      .orderBy(col("n_name"))
  }

  val antiJoinCustomersSql: String =
    """SELECT n_name, count(*) AS customers_without_orders,
      |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND year(o_orderdate) = 1999)
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  // -------------------------------------------------------------------
  // q15 — top-k (order+limit with deterministic tiebreak).
  // -------------------------------------------------------------------
  def topCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    o.join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(
        expr("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)").as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(10)
  }

  val topCustomersSql: String =
    """SELECT c_custkey, c_name,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |       count(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_custkey, c_name
      |ORDER BY revenue DESC, c_custkey LIMIT 10""".stripMargin

  // -------------------------------------------------------------------
  // q16 — ranking window: top-3 orders per customer.
  // -------------------------------------------------------------------
  def windowTopOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
      .orderBy(col("o_custkey"), col("rn"))
  }

  val windowTopOrdersSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  // -------------------------------------------------------------------
  // q17 — running-total window per supplier (integral quantities, so the
  // running sum is order-independent exact).
  // -------------------------------------------------------------------
  def windowRunningQty(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    // l_quantity joins the ORDER BY: the fixture generator samples with
    // replacement, so (l_orderkey, l_linenumber) is NOT unique — two
    // full-key-tied rows with different quantities make the interior
    // running sum order-dependent (caught by the sf1 gate: one such tie
    // exists at sf0.1 and the 10x replica multiplied it). With quantity
    // in the order, tied rows either differ (deterministic order) or
    // are interchangeable (equal prefix sums either way).
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    li.select(
        col("l_suppkey"), to_date(col("l_shipdate")).as("shipdate"),
        col("l_orderkey"), col("l_linenumber"),
        sum(col("l_quantity")).over(w).as("running_qty"))
      // NO sampling barrier here (r19, measured): unlike q36–q39, the
      // window's input exchange is already materialized, so the bounds
      // pass re-runs only the running sum — cheaper than the keyless
      // repartition's own local sort of every output row (CPU 6.6 →
      // 12.0 s with the barrier; reverted)
      .orderBy(col("l_suppkey"), col("shipdate"), col("l_orderkey"),
        col("l_linenumber"), col("running_qty"))
  }

  val windowRunningQtySql: String =
    """SELECT l_suppkey, CAST(l_shipdate AS DATE) AS shipdate, l_orderkey, l_linenumber,
      |       sum(l_quantity) OVER (PARTITION BY l_suppkey
      |                             ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
      |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
      |FROM lineitem
      |ORDER BY l_suppkey, shipdate, l_orderkey, l_linenumber, running_qty""".stripMargin

  // -------------------------------------------------------------------
  // q18 — exact distinct aggregation (expands to a two-phase agg plan).
  // -------------------------------------------------------------------
  def distinctCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    o.groupBy(col("o_orderpriority"))
      .agg(
        countDistinct(col("o_custkey")).as("n_cust"),
        count(lit(1)).as("n_orders"),
        expr("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)").as("sum_total"))
      .orderBy(col("o_orderpriority"))
  }

  val distinctCustomersSql: String =
    """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust,
      |       count(*) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // -------------------------------------------------------------------
  // q19 — set operations: customers active in 1997 and 1998 but not 1999.
  // -------------------------------------------------------------------
  def setOpsActiveCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    def keys(y: Int) = o.filter(year(col("o_orderdate")) === y).select(col("o_custkey"))
    keys(1997).intersect(keys(1998)).except(keys(1999)).orderBy(col("o_custkey"))
  }

  val setOpsActiveCustomersSql: String =
    """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1999
      |ORDER BY o_custkey""".stripMargin

  // -------------------------------------------------------------------
  // q20 — rollup (grouping sets): subtotals + grand total. All three
  // aggregates are re-aggregatable (sums/counts), so the rollup runs on a
  // pre-aggregated base of |flag×status| rows instead of Expand-ing every
  // fact row ×3 through the partial aggregate: at 100 TB the Expand would
  // triple the rows entering aggregation; the base-first form scans once,
  // shuffles ~6 rows per partition, and the rollup itself is free.
  // (Decimal sums re-associate exactly, so the result is bit-identical.)
  // -------------------------------------------------------------------
  def rollupQuantities(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val base = li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("b_qty"),
        count(lit(1)).as("b_rows"),
        expr("sum(CAST(l_extendedprice AS DECIMAL(18,2)))").as("b_price"))
    base.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("b_qty")).as("sum_qty"),
        sum(col("b_rows")).as("n_rows"),
        sum(col("b_price")).cast("double").as("sum_price"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n_rows"), col("sum_price"))
      .orderBy(col("returnflag"), col("linestatus"))
  }

  val rollupQuantitiesSql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |       coalesce(l_linestatus, 'ALL') AS linestatus,
      |       sum(l_quantity) AS sum_qty, count(*) AS n_rows,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  // -------------------------------------------------------------------
  // q22 — as-of join: each order joined to the customer's most recent
  // STRICTLY-earlier daily spend (an operator Spark lacks; DuckDB's
  // native ASOF JOIN is the oracle).
  // -------------------------------------------------------------------
  def asOfPrevSpend(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    // Day-grain asof (r19, guide §1.2/§2.3): a generic as-of join (union
    // of both sides + last-non-null window) needs TWO orders scans (left
    // rows + the daily aggregate) and runs its window over
    // |orders|+|days| rows. But this asof's right side
    // is an aggregate OF the left side's own day grain, so the strict
    // "latest day before mine" is just lag(1) over the day-grain rows:
    // one scan, one (custkey, day) aggregate that also gathers the day's
    // order keys, a window over DAY rows (not order rows), explode back.
    // Orders with a NULL date form one day-group per customer that sorts
    // first (nulls-first asc): its own lag is null (no previous row) and
    // the first real day's lag(d) is null — the when() below nulls the
    // total in exactly those cases, matching strict-asof's "no prior
    // day" contract for both. Values are identical because day_total is
    // the same DECIMAL-exact sum and lag(1) at day grain IS the strict
    // asof match (every daily row has >= 1 order by construction).
    val daily = o.groupBy(col("o_custkey").as("custkey"),
        to_date(col("o_orderdate")).as("d"))
      .agg(
        expr("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)").as("day_total"),
        collect_list(col("o_orderkey")).as("okeys"))
    val w = Window.partitionBy(col("custkey")).orderBy(col("d"))
    daily
      .select(col("okeys"),
        lag(col("d"), 1).over(w).as("prev_date"),
        lag(col("day_total"), 1).over(w).as("pdt"))
      .select(explode(col("okeys")).as("o_orderkey"), col("prev_date"),
        when(col("prev_date").isNotNull, col("pdt")).as("prev_day_total"))
      .orderBy(col("o_orderkey"))
  }

  val asOfPrevSpendSql: String =
    """WITH daily AS (
      |  SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS d,
      |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS day_total
      |  FROM orders GROUP BY 1, 2)
      |SELECT o.o_orderkey, d.d AS prev_date, d.day_total AS prev_day_total
      |FROM orders o ASOF LEFT JOIN daily d
      |  ON o.o_custkey = d.custkey AND d.d < CAST(o.o_orderdate AS DATE)
      |ORDER BY o.o_orderkey""".stripMargin

  // -------------------------------------------------------------------
  // q23 — RANGE-frame window: per user, events in the trailing 5 minutes
  // (exclusive of the current second) — temporal self-counting without a
  // self-join; one shuffle+sort on the user key.
  // -------------------------------------------------------------------
  def rangeFrameActivity(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), unix_timestamp(col("ts")).as("t"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"))
      .rangeBetween(-300, -1)
    ev.select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_recent"))
      .orderBy(col("event_id"))
  }

  val rangeFrameActivitySql: String =
    """SELECT event_id, user_id,
      |       count(*) OVER (PARTITION BY user_id
      |                      ORDER BY (epoch_us(CAST(ts AS TIMESTAMP)) // 1000000)
      |                      RANGE BETWEEN 300 PRECEDING AND 1 PRECEDING) AS n_recent
      |FROM events ORDER BY event_id""".stripMargin

  // -------------------------------------------------------------------
  // q24 — binned range join (operators/RangeJoin): order pairs of the
  // same customer within 30 days, as a bucketed equi-join instead of the
  // BroadcastNestedLoopJoin a raw range predicate would plan.
  // -------------------------------------------------------------------
  def rangeJoinOrderPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val points = o.select(col("o_custkey").as("custkey"),
      col("o_orderkey").as("next_order"), unix_timestamp(col("o_orderdate")).as("t"))
    val intervals = o.select(col("o_custkey").as("custkey"),
        col("o_orderkey").as("first_order"),
        unix_timestamp(col("o_orderdate")).as("t_start"))
      .withColumn("t_end", col("t_start") + lit(30L * 86400))
    graft.operators.RangeJoin.pointsInIntervals(
        points, intervals, Seq("custkey"), "t", "t_start", "t_end",
        binSeconds = 30L * 86400, strictStart = true)
      .select(col("first_order"), col("next_order"))
      .orderBy(col("first_order"), col("next_order"))
  }

  val rangeJoinOrderPairsSql: String =
    """SELECT a.o_orderkey AS first_order, b.o_orderkey AS next_order
      |FROM orders a JOIN orders b
      |  ON a.o_custkey = b.o_custkey
      | AND b.o_orderdate > a.o_orderdate
      | AND b.o_orderdate <= a.o_orderdate + INTERVAL 30 DAY
      |ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------------------------
  // q25 — pivot: order counts per year × priority (wide layout). The
  // pivot values are declared explicitly, so the plan is a single pass
  // (no extra distinct-values job).
  // -------------------------------------------------------------------
  private val priorities = Seq(
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def pivotOrderPriorities(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    o.groupBy(year(col("o_orderdate")).as("order_year"))
      .pivot("o_orderpriority", priorities)
      .agg(count(lit(1)))
      .na.fill(0L, priorities)
      .select(col("order_year") +:
        priorities.map(p => col(s"`$p`").as(p.replaceAll("[^A-Za-z0-9]+", "_"))): _*)
      .orderBy(col("order_year"))
  }

  val pivotOrderPrioritiesSql: String = {
    val cols = priorities.map { p =>
      val alias = p.replaceAll("[^A-Za-z0-9]+", "_")
      s"""count(*) FILTER (WHERE o_orderpriority = '$p') AS "$alias""""
    }.mkString(",\n       ")
    s"""SELECT year(o_orderdate) AS order_year,
      |       $cols
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // -------------------------------------------------------------------
  // q21 — range-bucket conditional counts on orders (P7 at fact scale).
  // -------------------------------------------------------------------
  def priceBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    o.groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_orders"),
        count_if(col("o_totalprice") < 50000).as("bucket_low"),
        count_if(col("o_totalprice") >= 50000 && col("o_totalprice") < 150000).as("bucket_mid"),
        count_if(col("o_totalprice") >= 150000).as("bucket_high"))
      .orderBy(col("o_orderstatus"))
  }

  val priceBucketsSql: String =
    """SELECT o_orderstatus, count(*) AS n_orders,
      |       count(*) FILTER (WHERE o_totalprice < 50000) AS bucket_low,
      |       count(*) FILTER (WHERE o_totalprice >= 50000 AND o_totalprice < 150000) AS bucket_mid,
      |       count(*) FILTER (WHERE o_totalprice >= 150000) AS bucket_high
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // -------------------------------------------------------------------
  // q26 — explicit GROUPING SETS (beyond q20's rollup): the two
  // single-dimension marginals in one pass over the fact table. The
  // grouping() flags are part of the OUTPUT (and the sort key): a
  // coalesce-to-'ALL' sentinel alone could not distinguish a genuine
  // NULL group value from a marginal row on null-bearing data.
  // -------------------------------------------------------------------
  def groupingSetsQuantities(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    li.groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        // grouping() is an aggregate-context function: it must be computed
        // here, not in a select after the aggregation
        grouping(col("l_returnflag")).cast("int").as("g_flag"),
        grouping(col("l_linestatus")).cast("int").as("g_status"),
        sum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_rows"))
      .select(
        col("g_flag"), col("g_status"),
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n_rows"))
      .orderBy(col("g_flag"), col("g_status"), col("returnflag"), col("linestatus"))
  }

  val groupingSetsQuantitiesSql: String =
    """SELECT CAST(grouping(l_returnflag) AS INT) AS g_flag,
      |       CAST(grouping(l_linestatus) AS INT) AS g_status,
      |       coalesce(l_returnflag, 'ALL') AS returnflag,
      |       coalesce(l_linestatus, 'ALL') AS linestatus,
      |       sum(l_quantity) AS sum_qty, count(*) AS n_rows
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
      |ORDER BY g_flag, g_status, returnflag, linestatus""".stripMargin

  // -------------------------------------------------------------------
  // q75 — FULL OUTER join (the one join type the suite lacked):
  // reconcile each customer's order activity across two eras. Customers
  // active in only one era surface with zeros on the other side — the
  // reconciliation semantics an inner/left join would silently drop.
  // Both sides aggregate BEFORE the join (1500 rows/side, not 15000), so
  // the full-outer shuffle carries pre-aggregated rows; at scale this is
  // the standard "aggregate then reconcile" shape and the join keys are
  // co-partitioned by the groupBy shuffles that feed them (Exchange
  // reuse — no third shuffle).
  // -------------------------------------------------------------------
  def fullOuterReconcile(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    def era(pred: org.apache.spark.sql.Column, tag: String): DataFrame =
      o.filter(pred).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as(s"n_$tag"), decSum("o_totalprice").as(s"spend_$tag"))
    val early = era(col("o_orderdate") < lit("1998-01-01"), "early")
    val late  = era(col("o_orderdate") >= lit("1998-01-01"), "late")
    early.join(late, Seq("o_custkey"), "full_outer")
      .select(
        col("o_custkey"),
        coalesce(col("n_early"), lit(0L)).as("n_early"),
        coalesce(col("spend_early"), lit(0.0)).as("spend_early"),
        coalesce(col("n_late"), lit(0L)).as("n_late"),
        coalesce(col("spend_late"), lit(0.0)).as("spend_late"))
      .withColumn("delta_orders", col("n_late") - col("n_early"))
      .orderBy(col("o_custkey"))
  }

  val fullOuterReconcileSql: String =
    """WITH early AS (
      |  SELECT o_custkey, count(*) AS n_early,
      |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend_early
      |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
      |  GROUP BY o_custkey),
      |late AS (
      |  SELECT o_custkey, count(*) AS n_late,
      |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend_late
      |  FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
      |  GROUP BY o_custkey)
      |SELECT coalesce(e.o_custkey, l.o_custkey) AS o_custkey,
      |       coalesce(n_early, 0) AS n_early,
      |       coalesce(spend_early, 0.0) AS spend_early,
      |       coalesce(n_late, 0) AS n_late,
      |       coalesce(spend_late, 0.0) AS spend_late,
      |       coalesce(n_late, 0) - coalesce(n_early, 0) AS delta_orders
      |FROM early e FULL OUTER JOIN late l USING (o_custkey)
      |ORDER BY o_custkey""".stripMargin

  // -------------------------------------------------------------------
  // q104 — RFM customer scoring: recency (days since last order vs the
  // corpus max date), frequency (orders), monetary (exact DECIMAL spend
  // sum). Quartile assignment follows q83's broadcast-cutpoint shape —
  // one stats aggregate produces the three quartile arrays, a broadcast
  // classify counts cutpoints below each metric — so there is NO global
  // ranking window anywhere (the single-task sort trap of ntile-based
  // RFM at scale). Cutpoint-boundary robustness: a metric can only flip
  // quartile across engines if it falls strictly between the engines'
  // interpolated cutpoints, but the nearest data values ARE the
  // interpolation endpoints, which classify identically on both sides.
  // -------------------------------------------------------------------
  def rfmQuartiles(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"),
        expr("CAST(o_totalprice AS DECIMAL(18,2))").as("p"))
    // ONE orders pass: the per-customer aggregate is cached (it feeds
    // both the cutpoint aggregate and the final classify), and the
    // as-of date is the max of the per-customer maxes — no extra scan
    val per0 = o.groupBy(col("o_custkey"))
      .agg(max(col("d")).as("last_d"), count(lit(1)).as("frequency"),
        sum(col("p")).as("msum"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val asof = per0.agg(max(col("last_d")).as("asof"))
    val per = per0
      .crossJoin(broadcast(asof))
      .select(col("o_custkey"),
        datediff(col("asof"), col("last_d")).cast("long").as("recency_days"),
        col("frequency"), col("msum").cast("double").as("monetary"))
    val qs = array(lit(0.25), lit(0.5), lit(0.75))
    val cuts = per.agg(
      percentile(col("recency_days"), qs).as("rc"),
      percentile(col("frequency"), qs).as("fc"),
      percentile(col("monetary"), qs).as("mc"))
    def quart(metric: Column, cutsCol: Column): Column =
      (lit(1) + aggregate(cutsCol, lit(0), (acc, c) =>
        acc + when(metric.cast("double") > c, 1).otherwise(0))).cast("int")
    per.crossJoin(broadcast(cuts))
      .select(col("o_custkey"), col("recency_days"), col("frequency"),
        col("monetary"),
        quart(col("recency_days"), col("rc")).as("r_q"),
        quart(col("frequency"), col("fc")).as("f_q"),
        quart(col("monetary"), col("mc")).as("m_q"))
      .withColumn("rfm", col("r_q") * 100 + col("f_q") * 10 + col("m_q"))
      .orderBy(col("o_custkey"))
  }

  val rfmQuartilesSql: String =
    s"""WITH o AS (
      |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
      |         CAST(o_totalprice AS DECIMAL(18,2)) AS p
      |  FROM orders),
      |a AS (SELECT max(d) AS asof FROM o),
      |per AS (
      |  SELECT o_custkey,
      |         CAST(a.asof - max(d) AS BIGINT) AS recency_days,
      |         count(*) AS frequency,
      |         CAST(sum(p) AS DOUBLE) AS monetary
      |  FROM o CROSS JOIN a GROUP BY o_custkey, a.asof),
      |c1 AS (SELECT ${OracleSql.sortedListSql("recency_days")} AS rlv,
      |              ${OracleSql.sortedListSql("frequency")} AS flv,
      |              ${OracleSql.sortedListSql("monetary")} AS mlv
      |       FROM per),
      |c AS (SELECT ${OracleSql.percentileListSql("rlv",
                Seq("0.25", "0.5", "0.75"))} AS rc,
      |             ${OracleSql.percentileListSql("flv",
                Seq("0.25", "0.5", "0.75"))} AS fc,
      |             ${OracleSql.percentileListSql("mlv",
                Seq("0.25", "0.5", "0.75"))} AS mc
      |      FROM c1),
      |b AS (
      |  SELECT per.*,
      |         CAST(1 + len(list_filter(rc,
      |           x -> CAST(recency_days AS DOUBLE) > x)) AS INT) AS r_q,
      |         CAST(1 + len(list_filter(fc,
      |           x -> CAST(frequency AS DOUBLE) > x)) AS INT) AS f_q,
      |         CAST(1 + len(list_filter(mc, x -> monetary > x)) AS INT) AS m_q
      |  FROM per CROSS JOIN c)
      |SELECT o_custkey, recency_days, frequency, monetary, r_q, f_q, m_q,
      |       r_q * 100 + f_q * 10 + m_q AS rfm
      |FROM b ORDER BY o_custkey""".stripMargin

  // -------------------------------------------------------------------
  // q115 — order inter-arrival histogram: days between a customer's
  // consecutive orders (lag over order date, customer-keyed window),
  // bucketed into exact weeks. The purchase-cadence signal behind
  // churn/survival models — all integer date arithmetic.
  // -------------------------------------------------------------------
  def interArrival(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("d"), col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("d"))
      .select(col("o_custkey"),
        datediff(col("d"), lag(col("d"), 1).over(w)).as("gap_days"))
      .filter(col("gap_days").isNotNull)
      .select(expr("gap_days div 7").as("gap_weeks"))
      .groupBy(col("gap_weeks")).agg(count(lit(1)).as("n_gaps"))
      .orderBy(col("gap_weeks"))
  }

  // -------------------------------------------------------------------
  // q117 — data-quality constraint suite (operators/Constraints): pk
  // uniqueness, referential integrity, ranges, completeness, and the
  // documents' own metadata consistency — one violation count per
  // check, exact integers, alert on `passed`.
  // -------------------------------------------------------------------
  def qualityConstraints(spark: SparkSession, sfDir: String): DataFrame = {
    import operators.Constraints
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val d = Tables.documents(spark, sfDir)
    val e = Tables.events(spark, sfDir)
    Constraints.report(Seq(
      Constraints.uniqueness(o, "orders_pk_unique", "o_orderkey"),
      Constraints.uniqueness(c, "customer_pk_unique", "c_custkey"),
      Constraints.referential(li, "l_orderkey", o, "o_orderkey",
        "lineitem_fk_orders"),
      Constraints.referential(o, "o_custkey", c, "c_custkey",
        "orders_fk_customer"),
      Constraints.violations(li, Seq(
        "lineitem_qty_in_range" ->
          (col("l_quantity") < 1.0 || col("l_quantity") > 50.0))),
      Constraints.violations(e, Seq(
        "events_value_nonnull" -> col("value").isNull)),
      Constraints.violations(d, Seq(
        "documents_nchars_consistent" -> (col("n_chars") =!= length(col("text"))),
        "documents_lang_allowlist" ->
          !col("lang").isin("en", "es", "fr", "de", "zh")))))
  }

  val qualityConstraintsSql: String =
    """WITH checks AS (
      |  SELECT 'orders_pk_unique' AS check_name,
      |         CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS violations
      |  FROM orders
      |  UNION ALL
      |  SELECT 'customer_pk_unique',
      |         CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT) FROM customer
      |  UNION ALL
      |  SELECT 'lineitem_fk_orders',
      |         CAST((SELECT count(*) FROM lineitem l
      |               WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                                 WHERE o.o_orderkey = l.l_orderkey))
      |              AS BIGINT)
      |  UNION ALL
      |  SELECT 'orders_fk_customer',
      |         CAST((SELECT count(*) FROM orders o
      |               WHERE NOT EXISTS (SELECT 1 FROM customer c
      |                                 WHERE c.c_custkey = o.o_custkey))
      |              AS BIGINT)
      |  UNION ALL
      |  SELECT 'lineitem_qty_in_range',
      |         CAST(count(*) FILTER (WHERE l_quantity < 1.0 OR l_quantity > 50.0)
      |              AS BIGINT) FROM lineitem
      |  UNION ALL
      |  SELECT 'events_value_nonnull',
      |         CAST(count(*) FILTER (WHERE value IS NULL) AS BIGINT) FROM events
      |  UNION ALL
      |  SELECT 'documents_nchars_consistent',
      |         CAST(count(*) FILTER (WHERE n_chars <> length(text)) AS BIGINT)
      |  FROM documents
      |  UNION ALL
      |  SELECT 'documents_lang_allowlist',
      |         CAST(count(*) FILTER (WHERE lang NOT IN ('en','es','fr','de','zh'))
      |              AS BIGINT) FROM documents)
      |SELECT check_name, violations, violations = 0 AS passed
      |FROM checks ORDER BY check_name""".stripMargin

  val interArrivalSql: String =
    """WITH o AS (
      |  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS d
      |  FROM orders),
      |g AS (
      |  SELECT CAST(d - lag(d, 1) OVER (PARTITION BY o_custkey
      |                                  ORDER BY d, o_orderkey) AS BIGINT)
      |           AS gap_days
      |  FROM o)
      |SELECT gap_days // 7 AS gap_weeks, count(*) AS n_gaps
      |FROM g WHERE gap_days IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // q126 — rolling 7-day DISTINCT customers per order date: the sliding-
  // window distinct count, the one window shape a RANGE frame cannot
  // express (q23's trailing frame counts rows; COUNT(DISTINCT) OVER
  // RANGE is unsupported in both engines). Scale path: each (day, cust)
  // pair is EXPANDED to the ≤7 report days it covers (a fixed ×7 map,
  // no range join against the full fact table), then two-level
  // aggregated per day — shuffle keys are (day, cust) then day, never a
  // per-day rescan. The oracle states the same result as a days×pairs
  // range join, which is fine at oracle scale and makes the intent
  // obvious.
  // -------------------------------------------------------------------
  def rollingActiveCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val dc = Tables.orders(spark, sfDir)
      .select(to_date(col("o_orderdate")).as("day"),
        col("o_custkey").as("cust")).distinct()
    val days = dc.select(col("day").as("d")).distinct()
    // interval sweep instead of ×7 expansion + countDistinct: each
    // customer's order days chain into MERGED coverage intervals
    // [first, last+6] (a new interval starts when the gap to the
    // previous order day exceeds the 6-day reach, so intervals of one
    // customer never overlap), every interval contributes +1 at its
    // start and −1 past its end, and active_7d(d) is the running sum
    // of those deltas at d. The heavy exchanges carry the distinct
    // (day, cust) pairs once and then ≤ one delta pair per order day
    // — no 7× row expansion, no Expand for a distinct-count (the
    // merged intervals make each customer count exactly once per
    // covered day by construction).
    val wc = Window.partitionBy(col("cust")).orderBy(col("day"))
    val intervals = dc
      .withColumn("gap", datediff(col("day"), lag(col("day"), 1).over(wc)))
      .withColumn("ivl",
        sum(when(col("gap").isNull || col("gap") > 6, 1L).otherwise(0L))
          .over(wc))
      .groupBy(col("cust"), col("ivl"))
      .agg(min(col("day")).as("s"), date_add(max(col("day")), 7).as("e1"))
    val deltas = intervals.select(
        explode(array(
          struct(col("s").as("d"), lit(1L).as("delta")),
          struct(col("e1").as("d"), lit(-1L).as("delta")))).as("x"))
      .select(col("x.d").as("d"), col("x.delta").as("delta"))
      .groupBy(col("d")).agg(sum(col("delta")).as("delta"))
    // running sum over the (tiny) sorted boundary∪report day axis,
    // then keep the real report days. Membership in `days` rides the
    // full join itself as a flag (a full-join row whose left side
    // matched has the marker; one whose `d` came only from `deltas`
    // doesn't) — the previous re-join against broadcast(days) rebuilt
    // the days subtree a third time (scan orders + distinct + a
    // broadcast build) only to re-ask what the full join already knew.
    val wd = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    days.withColumn("is_day", lit(true))
      .join(deltas, Seq("d"), "full")
      .withColumn("active_7d", sum(coalesce(col("delta"), lit(0L))).over(wd))
      .filter(col("is_day"))
      .select(col("d"), col("active_7d"))
      .orderBy(col("d"))
  }

  val rollingActiveCustomersSql: String =
    """WITH dc AS (
      |  SELECT DISTINCT CAST(o_orderdate AS DATE) AS day, o_custkey AS cust
      |  FROM orders),
      |days AS (SELECT DISTINCT day AS d FROM dc)
      |SELECT d, CAST(count(DISTINCT cust) AS BIGINT) AS active_7d
      |FROM days JOIN dc ON dc.day BETWEEN d - 6 AND d
      |GROUP BY d ORDER BY d""".stripMargin
}
