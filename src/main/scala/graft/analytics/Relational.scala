package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Num, Op, Tables}

/** Relational analytics over the TPC-H-ish star schema — the warehouse-side
  * capability surface of the reference (SURVEY.md §2.5 A1–A5, §2.6 J1–J5,
  * §2.7 W1/O1/O2/L1, §2.8 D1–D4), re-expressed as declarative DataFrame
  * plans so Catalyst handles pushdown, partial aggregation and join
  * strategy selection.
  *
  * Scale notes (100 TB design stance):
  *  - every groupBy here is a hash aggregate with map-side partial agg;
  *  - dimension tables (region/nation) are explicitly broadcast, so the
  *    fact-side scan never shuffles for them;
  *  - filters and column selections sit directly on the parquet scan
  *    (PushedFilters/ReadSchema verified via .explain in the test suite);
  *  - top-k uses orderBy+limit which Spark executes as
  *    TakeOrderedAndProject (no global sort materialization).
  */
object Relational {

  /** A1-analog: per-entity KPI rollup (reference: per-session KPIs,
    * enhanced_kpi_consumer.py:558-612).
    */
  def sessionKpis(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        Num.r(sum(col("value")), 2).as("total_value"),
        Num.savg(sum(col("value")), count(col("value")), 2, 4).as("avg_value"),
        min(col("ts")).as("started_at"),
        max(col("ts")).as("ended_at"),
        countDistinct(col("event_type")).as("n_event_types"))

  val sessionKpisSql: String =
    """SELECT user_id,
      |       count(*) AS n_events,
      |       floor((sum(value)) * 100.0 + 0.5) / 100.0 AS total_value,
      |       floor((floor((sum(value)) * 100.0 + 0.5) / 100.0 / (count(value))) * 10000.0 + 0.5) / 10000.0 AS avg_value,
      |       min(ts) AS started_at,
      |       max(ts) AS ended_at,
      |       count(DISTINCT event_type) AS n_event_types
      |FROM events GROUP BY user_id""".stripMargin

  /** Q1-style pricing summary (scan + pushed filter + wide hash agg). */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-01"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Num.r(sum(col("l_quantity")), 2).as("sum_qty"),
        Num.r(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        Num.ssum(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4, 2).as("sum_disc_price"),
        Num.savg(sum(col("l_quantity")), count(col("l_quantity")), 2, 4).as("avg_qty"),
        Num.savg(sum(col("l_discount")), count(col("l_discount")), 2, 4).as("avg_disc"),
        count(lit(1)).as("count_order"))

  val pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |       floor((sum(l_quantity)) * 100.0 + 0.5) / 100.0 AS sum_qty,
      |       floor((sum(l_extendedprice)) * 100.0 + 0.5) / 100.0 AS sum_base_price,
      |       floor((floor((sum(l_extendedprice * (1 - l_discount))) * 10000.0 + 0.5) / 10000.0) * 100.0 + 0.5) / 100.0 AS sum_disc_price,
      |       floor((floor((sum(l_quantity)) * 100.0 + 0.5) / 100.0 / (count(l_quantity))) * 10000.0 + 0.5) / 10000.0 AS avg_qty,
      |       floor((floor((sum(l_discount)) * 100.0 + 0.5) / 100.0 / (count(l_discount))) * 10000.0 + 0.5) / 10000.0 AS avg_disc,
      |       count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** O2-analog: top-k retrieval by score (DESC-index intent,
    * enhanced_schema.sql:177). Spark executes as TakeOrderedAndProject.
    */
  def topCustomers(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      .limit(10)

  val topCustomersSql: String =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 10""".stripMargin

  /** Simple categorical rollup (A10-analog batch accounting). */
  def orderPriority(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        Num.r(sum(col("o_totalprice")), 2).as("total_price"))

  val orderPrioritySql: String =
    """SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
      |       floor((sum(o_totalprice)) * 100.0 + 0.5) / 100.0 AS total_price
      |FROM orders GROUP BY o_orderpriority, o_orderstatus""".stripMargin

  /** A2-analog: daily lead metrics generalized to all days
    * (enhanced_kpi_consumer.py:538-556).
    */
  def dailyOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("order_date"))
      .agg(count(lit(1)).as("n_orders"),
        Num.savg(sum(col("o_totalprice")), count(col("o_totalprice")), 2, 2).as("avg_price"))

  val dailyOrdersSql: String =
    """SELECT CAST(o_orderdate AS DATE) AS order_date, count(*) AS n_orders,
      |       floor((floor((sum(o_totalprice)) * 100.0 + 0.5) / 100.0 / (count(o_totalprice))) * 100.0 + 0.5) / 100.0 AS avg_price
      |FROM orders GROUP BY 1""".stripMargin

  /** A3-analog: daily performance summary — two daily aggregates LEFT
    * JOINed on the derived date key (enhanced_schema.sql:234-251, J2).
    */
  def dailySummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .groupBy(to_date(col("l_shipdate")).as("d"))
      .agg(count(lit(1)).as("n_lineitems"),
        Num.r(sum(col("l_quantity")), 2).as("sum_qty"),
        Num.ssum(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4, 2).as("revenue"))
    val ord = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(count(lit(1)).as("n_orders"),
        Num.savg(sum(col("o_totalprice")), count(col("o_totalprice")), 2, 2).as("avg_order_price"))
    li.join(ord, Seq("d"), "left")
  }

  val dailySummarySql: String =
    """WITH li AS (
      |  SELECT CAST(l_shipdate AS DATE) AS d, count(*) AS n_lineitems,
      |         floor((sum(l_quantity)) * 100.0 + 0.5) / 100.0 AS sum_qty,
      |         floor((floor((sum(l_extendedprice * (1 - l_discount))) * 10000.0 + 0.5) / 10000.0) * 100.0 + 0.5) / 100.0 AS revenue
      |  FROM lineitem GROUP BY 1),
      |ord AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n_orders,
      |         floor((floor((sum(o_totalprice)) * 100.0 + 0.5) / 100.0 / (count(o_totalprice))) * 100.0 + 0.5) / 100.0 AS avg_order_price
      |  FROM orders GROUP BY 1)
      |SELECT li.d, li.n_lineitems, li.sum_qty, li.revenue,
      |       ord.n_orders, ord.avg_order_price
      |FROM li LEFT JOIN ord ON li.d = ord.d""".stripMargin

  /** J5-analog multi-way equi-join chain with broadcast dimensions:
    * region ⋈ nation ⋈ customer ⋈ orders ⋈ lineitem, revenue per nation.
    * nation/region are broadcast (tiny); customer⋈orders⋈lineitem shuffle
    * on their keys with AQE free to re-plan.
    */
  def revenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val n = broadcast(Tables.nation(spark, dir))
    val r = broadcast(Tables.region(spark, dir))
    // customer is small relative to the fact side at every SF — broadcast
    // keeps the orders scan shuffle-free; only lineitem⋈orders shuffles
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(Num.ssum(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4, 2).as("revenue"),
        count(lit(1)).as("n_lineitems"))
  }

  val revenueByNationSql: String =
    """SELECT r_name, n_name,
      |       floor((floor((sum(l_extendedprice * (1 - l_discount))) * 10000.0 + 0.5) / 10000.0) * 100.0 + 0.5) / 100.0 AS revenue,
      |       count(*) AS n_lineitems
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name""".stripMargin

  /** Q3-style shipping priority: filtered 3-way join + agg + top-k. */
  def shippingPriority(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < lit("1998-01-01"))
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > lit("1996-01-01"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(Num.ssum(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4, 2).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey").asc)
      .limit(10)

  val shippingPrioritySql: String =
    """SELECT o_orderkey, o_orderdate,
      |       floor((floor((sum(l_extendedprice * (1 - l_discount))) * 10000.0 + 0.5) / 10000.0) * 100.0 + 0.5) / 100.0 AS revenue
      |FROM customer
      |JOIN orders   ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate  > TIMESTAMP '1996-01-01 00:00:00'
      |GROUP BY o_orderkey, o_orderdate
      |ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin

  /** Share-of-total via window over a grouped aggregate (SC15-style
    * cross-source combination shape).
    */
  def mktsegShare(spark: SparkSession, dir: String): DataFrame = {
    val seg = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(Num.r(sum(col("o_totalprice")), 2).as("seg_rev"), count(lit(1)).as("n_orders"))
    // seg_rev is grid-snapped in the aggregate, so the share division is
    // bit-identical across engines
    seg.withColumn("rev_share",
        Num.r(col("seg_rev") / sum(col("seg_rev")).over(Window.partitionBy()), 6))
  }

  val mktsegShareSql: String =
    """WITH seg AS (
      |  SELECT c_mktsegment, floor((sum(o_totalprice)) * 100.0 + 0.5) / 100.0 AS seg_rev, count(*) AS n_orders
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY c_mktsegment)
      |SELECT c_mktsegment, seg_rev, n_orders,
      |       floor((seg_rev / sum(seg_rev) OVER ()) * 1000000.0 + 0.5) / 1000000.0 AS rev_share
      |FROM seg""".stripMargin

  /** Left-semi join (EXISTS intent, J6 keyed-merge family). */
  def customersWithOpenOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).filter(col("o_orderstatus") === "O"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))

  val customersWithOpenOrdersSql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')""".stripMargin

  /** Left-anti join (NOT EXISTS). */
  def customersWithoutOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))

  val customersWithoutOrdersSql: String =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin

  /** D1-analog upsert: last-write-wins keyed dedup
    * (enhanced_kpi_consumer.py:395-434 ON CONFLICT DO UPDATE) as an
    * argmax aggregate — max of a struct ordered (o_orderdate,
    * o_orderkey). Partial aggregation keeps one candidate per key per
    * map task, so the reduce side sees O(keys), not every version of
    * every key.
    */
  def latestOrderPerCustomer(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(max(struct(col("o_orderdate"), col("o_orderkey"), col("o_totalprice"))).as("b"))
      .select(col("o_custkey"), col("b.o_orderkey").as("o_orderkey"),
        col("b.o_orderdate").as("o_orderdate"), col("b.o_totalprice").as("o_totalprice"))

  val latestOrderPerCustomerSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
      |  SELECT *, row_number() OVER (PARTITION BY o_custkey
      |            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM orders) WHERE rn = 1""".stripMargin

  /** A1 relational analog at order grain: per-order line rollup joined
    * back to the order header (J1 shape).
    */
  def orderRollup(spark: SparkSession, dir: String): DataFrame = {
    val lines = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_lines"),
        Num.r(sum(col("l_quantity")), 2).as("sum_qty"),
        Num.ssum(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4, 2).as("revenue"),
        Num.savg(sum(col("l_discount")), count(col("l_discount")), 2, 4).as("avg_discount"),
        min(col("l_shipdate")).as("first_ship"),
        max(col("l_shipdate")).as("last_ship"))
    Tables.orders(spark, dir)
      .join(lines, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("o_orderkey"), col("o_totalprice"), col("n_lines"),
        col("sum_qty"), col("revenue"), col("avg_discount"),
        col("first_ship"), col("last_ship"))
  }

  val orderRollupSql: String =
    """SELECT o_orderkey, o_totalprice, n_lines, sum_qty, revenue,
      |       avg_discount, first_ship, last_ship
      |FROM orders LEFT JOIN (
      |  SELECT l_orderkey, count(*) AS n_lines,
      |         floor((sum(l_quantity)) * 100.0 + 0.5) / 100.0 AS sum_qty,
      |         floor((floor((sum(l_extendedprice * (1 - l_discount))) * 10000.0 + 0.5) / 10000.0) * 100.0 + 0.5) / 100.0 AS revenue,
      |         floor((floor((sum(l_discount)) * 100.0 + 0.5) / 100.0 / (count(l_discount))) * 10000.0 + 0.5) / 10000.0 AS avg_discount,
      |         min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship
      |  FROM lineitem GROUP BY l_orderkey) li ON o_orderkey = l_orderkey""".stripMargin

  /** Hierarchical rollup (G-SETS tier — absent in the reference, free in
    * Spark/DuckDB): revenue at (region, nation), (region), and grand
    * total grains in one pass.
    */
  def rollupRevenue(spark: SparkSession, dir: String): DataFrame = {
    val n = broadcast(Tables.nation(spark, dir))
    val r = broadcast(Tables.region(spark, dir))
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      // grand-total grain spans every order: exact decimal sum (Num.dsum
      // scaladoc — double accumulation noise reached the 0.01 grid
      // boundary at sf1)
      .agg(Num.dsum(col("o_totalprice"), 2).as("revenue"),
        count(lit(1)).as("n_orders"))
  }

  val rollupRevenueSql: String =
    s"""SELECT r_name, n_name,
       |  ${Num.dsumSql("o_totalprice", 2)} AS revenue, count(*) AS n_orders
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY ROLLUP(r_name, n_name)""".stripMargin

  /** Tolerance of the published HLL contract: |approx − exact| must stay
    * within 3σ of the requested rsd (0.02 → 6%), with an absolute floor
    * of 5 for tiny groups where a one-off register collision dominates
    * the relative bound. 3σ is the sketch's own confidence statement —
    * a miss means the sketch is broken, not unlucky, at any data scale.
    */
  val HllRsd = 0.02
  val HllRelBound = 0.06
  val HllAbsBound = 5.0

  /** Approximate-distinct tier (A3/A7 at 100 TB): HLL++ sketches. The
    * raw estimate is engine-seeded (Spark's internal hashing), so it can
    * never hash-match a DuckDB value — instead the PUBLISHED row carries
    * the exact count plus `within_rsd`, the sketch's error CONTRACT
    * evaluated in-engine (|approx − exact| ≤ max(3σ·exact, 5)). DuckDB
    * computes the same exact count and asserts the contract as a TRUE
    * literal: the row hash-matches iff Spark's sketch actually honored
    * its bound — the contract itself became the oracle-checked value
    * (VERDICT r11 Next #2). The exact countDistinct column is the
    * verification harness; the production 100 TB path publishes the
    * sketch alone (the exact tier is the thing being replaced).
    */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), HllRsd).as("approx"),
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n_events"))
      .select(col("event_type"), col("n_events"), col("exact_users"),
        (abs(col("approx") - col("exact_users")).cast("double") <=
          greatest(lit(HllRelBound) * col("exact_users").cast("double"),
            lit(HllAbsBound))).as("within_rsd"))

  val approxDistinctSql: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
      |       TRUE AS within_rsd
      |FROM events GROUP BY event_type""".stripMargin

  // ---- RFM segmentation ----

  /** RFM score cut points — literal thresholds picked to split this
    * data's per-customer distribution into thirds at every gate scale
    * (the distribution is SF-invariant in TPC-H-style generators: more
    * customers, same per-customer shape). Quantile-derived cuts would
    * need a global sort; fixed literals are the honest scale answer and
    * what production RFM dashboards pin anyway.
    */
  val RfmRecencyHot = 90L
  val RfmRecencyWarm = 250L
  val RfmFreqHigh = 11L
  val RfmFreqMid = 9L
  val RfmMonHigh = 2800000.0
  val RfmMonMid = 2100000.0

  /** RFM customer segmentation — the classic CRM/product-analytics
    * operator: per customer recency (days since last order, relative to
    * the corpus max order date so the query is dataset-anchored and
    * reproducible), frequency (order count), monetary (total spend,
    * grid-snapped), each scored 1–3 by the literal cuts, then mapped to
    * the standard segment names and aggregated. One customer-keyed hash
    * aggregate + a broadcast max-date row; no window, no global sort.
    */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val mx = broadcast(o.agg(max(col("o_orderdate")).as("mxd")))
    val cust = o.groupBy(col("o_custkey")).agg(
      max(col("o_orderdate")).as("last"),
      count(lit(1)).as("freq"),
      Num.r(sum(col("o_totalprice")), 2).as("mon"))
      .crossJoin(mx)
      .select(col("o_custkey"),
        datediff(col("mxd"), col("last")).cast("long").as("rec"),
        col("freq"), col("mon"))
    val scored = cust.select(col("o_custkey"), col("rec"), col("freq"), col("mon"),
      when(col("rec") <= RfmRecencyHot, 3)
        .when(col("rec") <= RfmRecencyWarm, 2).otherwise(1).as("r_score"),
      when(col("freq") >= RfmFreqHigh, 3)
        .when(col("freq") >= RfmFreqMid, 2).otherwise(1).as("f_score"),
      when(col("mon") >= RfmMonHigh, 3)
        .when(col("mon") >= RfmMonMid, 2).otherwise(1).as("m_score"))
    scored
      .withColumn("segment",
        when(col("r_score") === 3 && col("f_score") === 3, "champion")
          .when(col("r_score") >= 2 && col("f_score") >= 2, "loyal")
          .when(col("r_score") === 3 && col("f_score") === 1, "new")
          .when(col("r_score") === 1 && col("f_score") >= 2, "at_risk")
          .otherwise("hibernating"))
      .groupBy(col("segment")).agg(
        count(lit(1)).as("n_customers"),
        Num.r(sum(col("rec")).cast("double") / count(lit(1)), 4).as("avg_recency_days"),
        Num.r(sum(col("freq")).cast("double") / count(lit(1)), 4).as("avg_frequency"),
        Num.savg(sum(col("mon")), count(lit(1)), 2, 2).as("avg_monetary"),
        min(col("o_custkey")).as("min_custkey"))
  }

  val rfmSegmentsSql: String =
    s"""WITH mx AS (SELECT max(o_orderdate) AS mxd FROM orders),
       |cust AS (
       |  SELECT o_custkey,
       |         CAST(date_diff('day', max(o_orderdate), mxd) AS BIGINT) AS rec,
       |         CAST(count(*) AS BIGINT) AS freq,
       |         ${Num.rSql("sum(o_totalprice)", 2)} AS mon
       |  FROM orders CROSS JOIN mx GROUP BY o_custkey, mxd),
       |scored AS (
       |  SELECT o_custkey, rec, freq, mon,
       |         CASE WHEN rec <= $RfmRecencyHot THEN 3
       |              WHEN rec <= $RfmRecencyWarm THEN 2 ELSE 1 END AS r_score,
       |         CASE WHEN freq >= $RfmFreqHigh THEN 3
       |              WHEN freq >= $RfmFreqMid THEN 2 ELSE 1 END AS f_score,
       |         CASE WHEN mon >= $RfmMonHigh THEN 3
       |              WHEN mon >= $RfmMonMid THEN 2 ELSE 1 END AS m_score
       |  FROM cust),
       |seg AS (
       |  SELECT *,
       |         CASE WHEN r_score = 3 AND f_score = 3 THEN 'champion'
       |              WHEN r_score >= 2 AND f_score >= 2 THEN 'loyal'
       |              WHEN r_score = 3 AND f_score = 1 THEN 'new'
       |              WHEN r_score = 1 AND f_score >= 2 THEN 'at_risk'
       |              ELSE 'hibernating' END AS segment
       |  FROM scored)
       |SELECT segment,
       |       CAST(count(*) AS BIGINT) AS n_customers,
       |       ${Num.rSql("CAST(sum(rec) AS DOUBLE) / count(*)", 4)} AS avg_recency_days,
       |       ${Num.rSql("CAST(sum(freq) AS DOUBLE) / count(*)", 4)} AS avg_frequency,
       |       ${Num.savgSql("sum(mon)", "count(*)", 2, 2)} AS avg_monetary,
       |       min(o_custkey) AS min_custkey
       |FROM seg GROUP BY 1""".stripMargin

  // ---- Pareto / ABC revenue classification ----

  /** Revenue band width for the cumulative-share decomposition (the
    * per-part revenue distribution is SF-invariant in TPC-H-style data,
    * so the occupied-band count stays bounded at any corpus size).
    */
  val ParetoBand = 100000.0
  val ParetoA = 0.8
  val ParetoB = 0.95

  /** Pareto/ABC classification of parts by revenue: cumulative revenue
    * share in descending-revenue order, classed A (top 80% of revenue),
    * B (next 15%), C (tail) — the inventory-analytics staple. The
    * classic formulation is ONE global window over every part sorted by
    * revenue; this plan uses the q_global_index range-bucket
    * decomposition instead: parts bucket by revenue band, band totals
    * form a bounded relation whose DESC prefix sums broadcast back as
    * offsets, and the within-band window sorts one band per task —
    * band order is revenue order (the band is a function of revenue),
    * so offset + within-band prefix IS the global prefix. Cumulative
    * sums re-snap to the revenue grid before the share divide, so the
    * different accumulation order of the two engines cannot drift
    * across a rounding boundary.
    */
  def revenuePareto(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(Num.ssum(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4, 2)
        .as("revenue"))
      .withColumn("band", floor(col("revenue") / lit(ParetoBand)).cast("long"))
    val tot = broadcast(rev.agg(Num.r(sum(col("revenue")), 2).as("total")))
    val bands = rev.groupBy(col("band")).agg(Num.r(sum(col("revenue")), 2).as("brev"))
    val offs = bands
      .withColumn("off", coalesce(sum(col("brev")).over(
        Window.orderBy(col("band").desc).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0.0)))
      .drop("brev")
    val w = Window.partitionBy(col("band"))
      .orderBy(col("revenue").desc, col("l_partkey").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    rev.join(broadcast(offs), "band")
      .withColumn("cum", Num.r(col("off") + sum(col("revenue")).over(w), 2))
      .crossJoin(tot)
      .select(col("l_partkey"), col("revenue"),
        Num.r(col("cum") / col("total"), 6).as("cum_share"))
      .withColumn("abc_class",
        when(col("cum_share") <= ParetoA, "A")
          .when(col("cum_share") <= ParetoB, "B").otherwise("C"))
  }

  val revenueParetoSql: String =
    s"""WITH rev AS (
       |  SELECT l_partkey,
       |         ${Num.ssumSql("sum(l_extendedprice * (1 - l_discount))", 4, 2)} AS revenue
       |  FROM lineitem GROUP BY 1),
       |tot AS (SELECT ${Num.rSql("sum(revenue)", 2)} AS total FROM rev),
       |c AS (
       |  SELECT l_partkey, revenue,
       |         ${Num.rSql(
        "sum(revenue) OVER (ORDER BY revenue DESC, l_partkey ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)",
        2)} AS cum
       |  FROM rev)
       |SELECT l_partkey, revenue,
       |       ${Num.rSql("cum / total", 6)} AS cum_share,
       |       CASE WHEN ${Num.rSql("cum / total", 6)} <= $ParetoA THEN 'A'
       |            WHEN ${Num.rSql("cum / total", 6)} <= $ParetoB THEN 'B'
       |            ELSE 'C' END AS abc_class
       |FROM c CROSS JOIN tot""".stripMargin

  // ---- market-basket affinity ----

  /** Minimum co-occurrence count for a pair to surface, and the basket
    * size guard (identical in both engines; TPC-H-style baskets are ≤7
    * lines, the cap only matters against adversarial data where one
    * giant basket would otherwise expand quadratically in one task —
    * the same hot-group guard as the LSH bucket cap).
    */
  val BasketMinSupport = 3L
  val BasketMaxSize = 100

  /** Market-basket affinity (association pairs): for parts co-purchased
    * in the same order, the support count and the lift
    * n_pair·n_orders/(n_p1·n_p2) — lift > 1 means the parts attract.
    * Scale shape: (order, part) collapses to distinct first, baskets
    * group per order (bounded by the basket cap) and expand their own
    * pairs locally — the pair stream is Σ C(basket, 2), never a
    * corpus-wide self-join — then one hash aggregate on the pair key
    * and a keyed join against the per-part counts. Oracle: the
    * self-join formulation (same rows, quadratic plan DuckDB can afford
    * at gate scale).
    */
  def basketPairs(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    // ONE fact scan + one shuffle: the basket relation (order → sorted
    // part array) is the common ancestor of all three aggregates, so
    // n_orders and the per-part counts derive from the checkpointed
    // baskets (narrow longs, |distinct (order, part)| entries) instead of
    // re-scanning + re-shuffling lineitem once per consumer — at fact
    // scale three distinct passes over the big table was the whole cost.
    // EAGER (the Archive.compactDay contract): building this DataFrame
    // runs the basket job. The cap filter applies only to the pair
    // expansion, as in the oracle — margins count every order.
    val baskets = li.groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_partkey"))).as("ps"))
      .localCheckpoint()
    val nOrders = broadcast(baskets.agg(count(lit(1)).as("n_orders")))
    val partCnt = baskets.select(explode(col("ps")).as("l_partkey"))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
    val pairs = baskets
      .filter(size(col("ps")) <= BasketMaxSize)
      .select(explode(graft.scale.Dedup.pairsOf(col("ps"))).as("p"))
      .select(col("p.d1").as("p1"), col("p.d2").as("p2"))
    pairs.groupBy(col("p1"), col("p2"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= BasketMinSupport)
      .join(partCnt.select(col("l_partkey").as("p1"), col("n").as("n_p1")), "p1")
      .join(partCnt.select(col("l_partkey").as("p2"), col("n").as("n_p2")), "p2")
      .crossJoin(nOrders)
      .select(col("p1"), col("p2"), col("n_pair"), col("n_p1"), col("n_p2"),
        Num.r(col("n_pair").cast("double") * col("n_orders") /
          (col("n_p1") * col("n_p2")), 6).as("lift"))
  }

  val basketPairsSql: String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |ok AS (SELECT l_orderkey FROM li GROUP BY 1 HAVING count(*) <= $BasketMaxSize),
       |lo AS (SELECT li.* FROM li JOIN ok USING (l_orderkey)),
       |no AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM li),
       |pc AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM li GROUP BY 1),
       |pr AS (
       |  SELECT a.l_partkey AS p1, b.l_partkey AS p2
       |  FROM lo a JOIN lo b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |g AS (
       |  SELECT p1, p2, CAST(count(*) AS BIGINT) AS n_pair
       |  FROM pr GROUP BY 1, 2 HAVING count(*) >= $BasketMinSupport)
       |SELECT g.p1, g.p2, g.n_pair, a.n AS n_p1, b.n AS n_p2,
       |       ${Num.rSql("CAST(g.n_pair AS DOUBLE) * n_orders / (a.n * b.n)", 6)} AS lift
       |FROM g JOIN pc a ON g.p1 = a.l_partkey
       |JOIN pc b ON g.p2 = b.l_partkey
       |CROSS JOIN no""".stripMargin

  /** Chi-square test of independence: market segment × order priority —
    * the statistical QA check that two categorical dimensions are
    * unrelated (a skewed cell here usually means an ingestion bug, not a
    * business insight). One fact join + one contingency aggregate; row
    * and column margins are windows over the bounded cell relation
    * (|segments|·|priorities| rows), never the fact table. Expected
    * counts and contributions are exact-integer products divided as
    * doubles (identical order both engines), snapped via Num before
    * compare.
    */
  def chisqSegment(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"), col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n"))
    val wr = Window.partitionBy(col("segment"))
    val wc = Window.partitionBy(col("priority"))
    val wt = Window.partitionBy()
    cells
      .withColumn("rt", sum(col("n")).over(wr))
      .withColumn("ct", sum(col("n")).over(wc))
      .withColumn("tot", sum(col("n")).over(wt))
      .withColumn("expected", Num.r(col("rt") * col("ct") / col("tot"), 4))
      .withColumn("contrib", Num.r(
        (col("n") - col("rt") * col("ct") / col("tot")) *
          (col("n") - col("rt") * col("ct") / col("tot")) /
          (col("rt") * col("ct") / col("tot")), 6))
      .select("segment", "priority", "n", "expected", "contrib")
  }

  val chisqSegmentSql: String =
    s"""WITH cells AS (
       |  SELECT c_mktsegment AS segment, o_orderpriority AS priority,
       |         CAST(count(*) AS BIGINT) AS n
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  GROUP BY 1, 2),
       |m AS (
       |  SELECT *, CAST(sum(n) OVER (PARTITION BY segment) AS BIGINT) AS rt,
       |         CAST(sum(n) OVER (PARTITION BY priority) AS BIGINT) AS ct,
       |         CAST(sum(n) OVER () AS BIGINT) AS tot
       |  FROM cells)
       |SELECT segment, priority, n,
       |       ${Num.rSql("rt * ct / tot", 4)} AS expected,
       |       ${Num.rSql("(n - rt * ct / tot) * (n - rt * ct / tot) / (rt * ct / tot)", 6)} AS contrib
       |FROM m""".stripMargin

  /** Strictly-ORDERED funnel: users who viewed, then clicked AFTER that
    * first view, then purchased AFTER that first qualifying click —
    * unlike [[Events.funnel]]'s per-stage distinct counts, each stage
    * here must happen after the previous stage's first qualifying event.
    * Each stage is a min-aggregate chained through an equi-join on
    * user_id (no per-user event sequencing, no window over history); the
    * count roll-up is a single-row conditional aggregate.
    */
  def orderedFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def stage(tpe: String) = ev.filter(col("event_type") === tpe)
      .select(col("user_id"), col("ts"))
    val v = stage("view").groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val c = stage("click").join(v, "user_id")
      .filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val p = stage("purchase").join(c, "user_id")
      .filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .agg(count(lit(1)).as("n_view"),
        count(col("t2")).as("n_view_click"),
        count(col("t3")).as("n_view_click_purchase"))
      .withColumn("rate_click", Num.r(col("n_view_click").cast("double") / col("n_view"), 4))
      .withColumn("rate_purchase",
        Num.r(col("n_view_click_purchase").cast("double") / col("n_view_click"), 4))
  }

  val orderedFunnelSql: String =
    s"""WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
       |           WHERE event_type = 'view' GROUP BY 1),
       |c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN v ON e.user_id = v.user_id
       |      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
       |p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN c ON e.user_id = c.user_id
       |      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)
       |SELECT CAST(count(*) AS BIGINT) AS n_view,
       |       CAST(count(c.t2) AS BIGINT) AS n_view_click,
       |       CAST(count(p.t3) AS BIGINT) AS n_view_click_purchase,
       |       ${Num.rSql("CAST(count(c.t2) AS DOUBLE) / count(*)", 4)} AS rate_click,
       |       ${Num.rSql("CAST(count(p.t3) AS DOUBLE) / count(c.t2)", 4)} AS rate_purchase
       |FROM v LEFT JOIN c ON v.user_id = c.user_id
       |       LEFT JOIN p ON v.user_id = p.user_id""".stripMargin

  /** Per-part best supplier by shipped net revenue — the grouped-argmax
    * shape on a 200k-group key (a window rank here would sort the fact
    * table; the max-struct aggregate is two partial-aggregating
    * shuffles). Revenue snaps to the price grid BEFORE the argmax and
    * ties break to the smaller suppkey (CLAUDE.md round-before-rank).
    */
  def partBestSupplier(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(Num.ssum(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4, 2)
        .as("rev"))
      .groupBy(col("l_partkey"))
      .agg(max(struct(col("rev"), (-col("l_suppkey")).as("ns"))).as("b"))
      .select(col("l_partkey"), (-col("b.ns")).as("l_suppkey"), col("b.rev").as("best_rev"))

  val partBestSupplierSql: String =
    s"""WITH ps AS (
       |  SELECT l_partkey, l_suppkey,
       |         ${Num.ssumSql("sum(l_extendedprice * (1.0 - l_discount))", 4, 2)} AS rev
       |  FROM lineitem GROUP BY 1, 2)
       |SELECT l_partkey, l_suppkey, rev AS best_rev FROM (
       |  SELECT *, row_number() OVER (PARTITION BY l_partkey
       |            ORDER BY rev DESC, l_suppkey ASC) AS rn FROM ps)
       |WHERE rn = 1""".stripMargin

  /** Quantile ladder as exact rationals — same k = ceil(p·n) integer
    * construction as CorpusQueries.QuantileSpecs. */
  private val LatencyQuantiles = Seq(("p50", 1L, 2L), ("p90", 9L, 10L), ("p99", 99L, 100L))

  /** EXACT ship-latency quantiles (p50/p90/p99 of days from order to
    * ship) per order priority — the small-domain variant of the exact
    * quantile ladder: latency days take a few hundred distinct values,
    * so the VALUE HISTOGRAM per (priority, latency) is itself the
    * bounded relation, the cumulative window runs over it (never the
    * fact rows), and the quantile is the first value whose cumulative
    * count reaches the rank — no inner ranking pass at all, one fact
    * shuffle end to end.
    */
  def latencyQuantiles(spark: SparkSession, dir: String): DataFrame =
    graft.scale.ValueQuantiles.quantiles(
      Tables.lineitem(spark, dir)
        .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority")), col("l_orderkey") === col("o_orderkey")),
      Seq("o_orderpriority"),
      datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))).cast("long"),
      LatencyQuantiles, "latency_days")
      .select(col("o_orderpriority"), col("p"), col("n_rows").as("n_items"),
        col("latency_days"))

  val latencyQuantilesSql: String =
    """WITH t AS (
      |  SELECT o_orderpriority,
      |         CAST(datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS BIGINT) AS lat,
      |         row_number() OVER (PARTITION BY o_orderpriority
      |           ORDER BY datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))) AS r,
      |         count(*) OVER (PARTITION BY o_orderpriority) AS cnt
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |q AS (SELECT * FROM (VALUES ('p50', 1, 2), ('p90', 9, 10), ('p99', 99, 100)) AS q(p, nu, de))
      |SELECT t.o_orderpriority, q.p, CAST(t.cnt AS BIGINT) AS n_items,
      |       t.lat AS latency_days
      |FROM t, q WHERE t.r = (q.nu * t.cnt + q.de - 1) // q.de""".stripMargin

  /** CUBE aggregate over segment × priority: all four grouping sets
    * (cell, row margin, column margin, grand total) in one pass —
    * Spark's Expand feeds a single hash aggregate, so the cube costs one
    * fact shuffle regardless of how many grouping sets it covers.
    * Subtotal labels are `ALL` (no NULL-marker ambiguity between
    * engines).
    */
  def cubeOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .cube(col("c_mktsegment"), col("o_orderpriority"))
      // margins + grand total span every order: exact decimal sum
      // (Num.dsum scaladoc — the r9 sf1 boundary flip)
      .agg(count(lit(1)).as("n_orders"),
        Num.dsum(col("o_totalprice"), 2).as("revenue"))
      .select(coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("revenue"))

  val cubeOrdersSql: String =
    s"""SELECT coalesce(c_mktsegment, 'ALL') AS segment,
       |       coalesce(o_orderpriority, 'ALL') AS priority,
       |       CAST(count(*) AS BIGINT) AS n_orders,
       |       ${Num.dsumSql("o_totalprice", 2)} AS revenue
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY CUBE (c_mktsegment, o_orderpriority)""".stripMargin

  /** Week-over-week revenue growth per nation. The weekly grid is one
    * fact aggregate; the lag window then runs over the bounded
    * (nation, week) relation — dimension-sized, never the fact table.
    * Weeks are integer µs-epoch week indexes (the cohort-retention
    * discipline: no calendar semantics can diverge between engines).
    */
  def wowGrowth(spark: SparkSession, dir: String): DataFrame = {
    val weekly = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
        // o_orderdate reads as TIMESTAMP_NTZ from the regenerated testdata;
        // the UTC-session cast is instant-preserving (the Tables.events rule)
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 604800000000").as("week"))
      .agg(Num.ssum(sum(col("o_totalprice")), 2, 2).as("revenue"))
    weekly
      .withColumn("prev", lag(col("revenue"), 1).over(
        Window.partitionBy(col("n_name")).orderBy(col("week"))))
      .withColumn("wow_growth", Num.r((col("revenue") - col("prev")) / col("prev"), 6))
      .drop("prev")
  }

  val wowGrowthSql: String =
    s"""WITH w AS (
       |  SELECT n_name, epoch_us(o_orderdate) // 604800000000 AS week,
       |         ${Num.ssumSql("sum(o_totalprice)", 2, 2)} AS revenue
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY 1, 2)
       |SELECT n_name, week, revenue,
       |       ${Num.rSql("(revenue - lag(revenue) OVER (PARTITION BY n_name ORDER BY week)) / lag(revenue) OVER (PARTITION BY n_name ORDER BY week)", 6)} AS wow_growth
       |FROM w""".stripMargin

  /** Grouped Pearson correlation (quantity↔discount, discount↔tax per
    * return flag) via the five-moment closed form — the statistical
    * profile columns a table-profiler adds. The moment sums stay exact
    * or grid-snapped: Σq and Σq² are integer-valued doubles (exact in
    * any order), the discount/tax moments snap far above their fp
    * accumulation noise, and sqrt is IEEE-correctly-rounded — so the
    * final ratio is bit-identical across engines. One scan, one
    * 3-group aggregate, no window.
    */
  def lineitemCorr(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity")).as("sq"),
        sum(col("l_quantity") * col("l_quantity")).as("sqq"),
        Num.r(sum(col("l_discount")), 6).as("sd"),
        Num.r(sum(col("l_discount") * col("l_discount")), 8).as("sdd"),
        Num.r(sum(col("l_tax")), 6).as("st"),
        Num.r(sum(col("l_tax") * col("l_tax")), 8).as("stt"),
        Num.r(sum(col("l_quantity") * col("l_discount")), 6).as("sqd"),
        Num.r(sum(col("l_discount") * col("l_tax")), 8).as("sdt"))
    m.select(col("l_returnflag"), col("n"),
      Num.r((col("n") * col("sqd") - col("sq") * col("sd")) /
        (sqrt(col("n") * col("sqq") - col("sq") * col("sq")) *
          sqrt(col("n") * col("sdd") - col("sd") * col("sd"))), 6).as("corr_qty_disc"),
      Num.r((col("n") * col("sdt") - col("sd") * col("st")) /
        (sqrt(col("n") * col("sdd") - col("sd") * col("sd")) *
          sqrt(col("n") * col("stt") - col("st") * col("st"))), 6).as("corr_disc_tax"))
  }

  val lineitemCorrSql: String =
    s"""WITH m AS (
       |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       |         sum(l_quantity) AS sq, sum(l_quantity * l_quantity) AS sqq,
       |         ${Num.rSql("sum(l_discount)", 6)} AS sd,
       |         ${Num.rSql("sum(l_discount * l_discount)", 8)} AS sdd,
       |         ${Num.rSql("sum(l_tax)", 6)} AS st,
       |         ${Num.rSql("sum(l_tax * l_tax)", 8)} AS stt,
       |         ${Num.rSql("sum(l_quantity * l_discount)", 6)} AS sqd,
       |         ${Num.rSql("sum(l_discount * l_tax)", 8)} AS sdt
       |  FROM lineitem GROUP BY 1)
       |SELECT l_returnflag, n,
       |       ${Num.rSql("(n * sqd - sq * sd) / (sqrt(n * sqq - sq * sq) * sqrt(n * sdd - sd * sd))", 6)} AS corr_qty_disc,
       |       ${Num.rSql("(n * sdt - sd * st) / (sqrt(n * sdd - sd * sd) * sqrt(n * stt - st * st))", 6)} AS corr_disc_tax
       |FROM m""".stripMargin

  /** Revenue band width for the Gini rank decomposition (same role as
    * ParetoBand: band order IS revenue order). */
  val GiniBand = 50000.0

  /** Gini coefficient of customer-revenue concentration per nation —
    * G = 2·Σ(i·yᵢ)/(n·Σy) − (n+1)/n over ascending-revenue ranks. The
    * global ascending rank comes from the q_revenue_pareto band
    * decomposition (per-(nation, band) counts → broadcast rank offsets →
    * within-band windows), so no task sorts a nation's full customer
    * list. Σ(i·y) snaps to the hundreds grid — far above its fp
    * accumulation noise at any SF, far below the 1e-10 relative scale
    * the 6-decimal Gini needs.
    */
  def revenueGini(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("c_custkey"))
      .agg(Num.ssum(sum(col("o_totalprice")), 2, 2).as("rev"))
      .withColumn("band", floor(col("rev") / lit(GiniBand)).cast("long"))
    val offs = rev.groupBy(col("n_name"), col("band")).agg(count(lit(1)).as("bn"))
      .withColumn("off", coalesce(sum(col("bn")).over(
        Window.partitionBy(col("n_name")).orderBy(col("band"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("bn")
    val w = Window.partitionBy(col("n_name"), col("band"))
      .orderBy(col("rev").asc, col("c_custkey").asc)
    rev.join(broadcast(offs), Seq("n_name", "band"))
      .withColumn("i", col("off") + row_number().over(w))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        Num.r(sum(col("rev")), 2).as("sy"),
        Num.r(sum(col("i") * col("rev")), -2).as("siy"))
      .select(col("n_name"), col("n_customers"),
        Num.r(lit(2.0) * col("siy") / (col("n_customers") * col("sy")) -
          (col("n_customers") + lit(1L)) / col("n_customers"), 6).as("gini"))
  }

  val revenueGiniSql: String =
    s"""WITH rev AS (
       |  SELECT n_name, c_custkey,
       |         ${Num.ssumSql("sum(o_totalprice)", 2, 2)} AS rev
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT n_name, rev,
       |         CAST(row_number() OVER (PARTITION BY n_name
       |           ORDER BY rev ASC, c_custkey ASC) AS BIGINT) AS i
       |  FROM rev),
       |m AS (
       |  SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers,
       |         ${Num.rSql("sum(rev)", 2)} AS sy,
       |         ${Num.rSql("sum(i * rev)", -2)} AS siy
       |  FROM r GROUP BY 1)
       |SELECT n_name, n_customers,
       |       ${Num.rSql("2.0 * siy / (n_customers * sy) - (n_customers + 1) / n_customers", 6)} AS gini
       |FROM m""".stripMargin

  /** Classical multiplicative seasonal decomposition of daily revenue:
    * y = trend (centered 7-day moving average) × day-of-week factor ×
    * residual. The day grid is one fact aggregate; every window after it
    * runs over that bounded dimension-sized relation (one row per
    * calendar day), never the fact table. Day-of-week indexes align as
    * Spark dayofweek−1 == DuckDB dayofweek (0=Sunday); every stage
    * re-snaps before the next divide so engine accumulation order can't
    * drift a boundary.
    */
  def seasonalDecompose(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(Num.ssum(sum(col("o_totalprice")), 2, 2).as("y"))
    val wt = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val trended = daily
      .withColumn("trend",
        when(count(lit(1)).over(wt) === 7, Num.r(Num.r(sum(col("y")).over(wt), 2) / 7, 4)))
      .withColumn("dow", (dayofweek(col("day")) - 1).cast("long"))
      .withColumn("ratio", Num.r(col("y") / col("trend"), 6))
    val factors = trended.filter(col("ratio").isNotNull)
      .groupBy(col("dow"))
      .agg(Num.r(Num.r(sum(col("ratio")), 6) / count(lit(1)), 6).as("dow_factor"))
    trended.join(broadcast(factors), Seq("dow"), "left")
      .select(col("day"), col("y"), col("trend"), col("dow"), col("dow_factor"),
        Num.r(col("y") / (col("trend") * col("dow_factor")), 6).as("residual"))
  }

  val seasonalDecomposeSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |         ${Num.ssumSql("sum(o_totalprice)", 2, 2)} AS y
       |  FROM orders GROUP BY 1),
       |t AS (
       |  SELECT day, y,
       |         CASE WHEN count(*) OVER w = 7
       |              THEN ${Num.rSql(Num.rSql("sum(y) OVER w", 2) + " / 7", 4)} END AS trend,
       |         CAST(dayofweek(day) AS BIGINT) AS dow
       |  FROM daily
       |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
       |r AS (SELECT *, ${Num.rSql("y / trend", 6)} AS ratio FROM t),
       |f AS (
       |  SELECT dow, ${Num.rSql(Num.rSql("sum(ratio)", 6) + " / count(*)", 6)} AS dow_factor
       |  FROM r WHERE ratio IS NOT NULL GROUP BY 1)
       |SELECT r.day, r.y, r.trend, r.dow, f.dow_factor,
       |       ${Num.rSql("r.y / (r.trend * f.dow_factor)", 6)} AS residual
       |FROM r LEFT JOIN f ON r.dow = f.dow""".stripMargin

  /** Calendar gap filling with LOCF (last observation carried forward) —
    * the time-series regularization every downstream window/forecast
    * assumes: days with no orders appear with revenue 0 and the carried
    * last observed value. The dense calendar comes from ONE `sequence`
    * span row (min..max day, broadcast-exploded) left-joined to the
    * bounded daily aggregate; the LOCF window runs over that
    * dimension-sized grid only. No fact-table window anywhere.
    */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_orders"), Num.ssum(sum(col("o_totalprice")), 2, 2).as("rev"))
    val grid = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
    val w = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)
    grid.join(daily, Seq("day"), "left")
      .withColumn("is_gap", col("rev").isNull)
      .withColumn("n_orders", coalesce(col("n_orders"), lit(0L)))
      .withColumn("revenue", coalesce(col("rev"), lit(0.0)))
      .withColumn("revenue_locf", last(col("rev"), ignoreNulls = true).over(w))
      .select("day", "is_gap", "n_orders", "revenue", "revenue_locf")
  }

  val gapFillSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |         CAST(count(*) AS BIGINT) AS n_orders,
       |         ${Num.ssumSql("sum(o_totalprice)", 2, 2)} AS rev
       |  FROM orders GROUP BY 1),
       |grid AS (
       |  SELECT unnest(generate_series(min(day), max(day), INTERVAL 1 DAY))::DATE AS day
       |  FROM daily)
       |SELECT g.day, d.rev IS NULL AS is_gap,
       |       coalesce(d.n_orders, 0) AS n_orders,
       |       coalesce(d.rev, 0.0) AS revenue,
       |       last_value(d.rev IGNORE NULLS) OVER (ORDER BY g.day
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS revenue_locf
       |FROM grid g LEFT JOIN daily d ON g.day = d.day""".stripMargin

  /** Price-volume decomposition windows (calendar years in the data's
    * range). */
  val PvmY1 = "1998"
  val PvmY2 = "1999"

  /** Price–volume–mix variance decomposition: ΔRevenue between two
    * years per market segment split into volume effect (Δn·p₁), price
    * effect (n₁·Δp) and the joint term (Δn·Δp) — the FP&A bridge table.
    * One scan with conditional year aggregates per segment (no
    * self-join of two year snapshots — the q_snapshot_diff discipline);
    * average prices divide grid-snapped sums by exact counts so both
    * engines decompose identical doubles, and the three effects sum to
    * ΔRev by construction.
    */
  def priceVolumeMix(spark: SparkSession, dir: String): DataFrame = {
    def yr(y: String) = year(col("o_orderdate")) === y.toInt
    val agg = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .filter(yr(PvmY1) || yr(PvmY2))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(
        count(when(yr(PvmY1), 1)).as("n1"),
        count(when(yr(PvmY2), 1)).as("n2"),
        Num.ssum(sum(when(yr(PvmY1), col("o_totalprice")).otherwise(0.0)), 2, 2).as("r1"),
        Num.ssum(sum(when(yr(PvmY2), col("o_totalprice")).otherwise(0.0)), 2, 2).as("r2"))
    val p1 = Num.r(col("r1") / col("n1"), 6)
    val p2 = Num.r(col("r2") / col("n2"), 6)
    agg.select(col("segment"), col("n1"), col("n2"), col("r1"), col("r2"),
      Num.r(col("r2") - col("r1"), 2).as("delta_rev"),
      Num.r((col("n2") - col("n1")) * p1, 2).as("volume_effect"),
      Num.r(col("n1") * (p2 - p1), 2).as("price_effect"),
      Num.r((col("n2") - col("n1")) * (p2 - p1), 2).as("mix_effect"))
  }

  val priceVolumeMixSql: String = {
    val p1 = Num.rSql("r1 / n1", 6)
    val p2 = Num.rSql("r2 / n2", 6)
    s"""WITH a AS (
       |  SELECT c_mktsegment AS segment,
       |         CAST(count(CASE WHEN year(o_orderdate) = $PvmY1 THEN 1 END) AS BIGINT) AS n1,
       |         CAST(count(CASE WHEN year(o_orderdate) = $PvmY2 THEN 1 END) AS BIGINT) AS n2,
       |         ${Num.ssumSql(s"sum(CASE WHEN year(o_orderdate) = $PvmY1 THEN o_totalprice ELSE 0.0 END)", 2, 2)} AS r1,
       |         ${Num.ssumSql(s"sum(CASE WHEN year(o_orderdate) = $PvmY2 THEN o_totalprice ELSE 0.0 END)", 2, 2)} AS r2
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  WHERE year(o_orderdate) IN ($PvmY1, $PvmY2)
       |  GROUP BY 1)
       |SELECT segment, n1, n2, r1, r2,
       |       ${Num.rSql("r2 - r1", 2)} AS delta_rev,
       |       ${Num.rSql(s"(n2 - n1) * $p1", 2)} AS volume_effect,
       |       ${Num.rSql(s"n1 * ($p2 - $p1)", 2)} AS price_effect,
       |       ${Num.rSql(s"(n2 - n1) * ($p2 - $p1)", 2)} AS mix_effect
       |FROM a""".stripMargin
  }

  /** Mann–Kendall trend test + Theil–Sen slope of weekly revenue per
    * nation — the robust (rank/median-based) siblings of the OLS trend
    * (q_revenue_trend): MK's S statistic is a PURE INTEGER (pairwise
    * sign sum — immune to fp entirely), its z uses the closed-form
    * variance and IEEE sqrt; the Theil–Sen slope is the lower median of
    * pairwise slopes under a total (slope, week₁, week₂) order. The
    * pairwise relation is a self-join of the BOUNDED weekly grid
    * (|weeks|² per nation ≈ 60k rows — a function of the calendar, not
    * the fact table), and the fact table is aggregated once before it.
    */
  def mkTrend(spark: SparkSession, dir: String): DataFrame = {
    val weekly = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 604800000000").as("week"))
      .agg(Num.ssum(sum(col("o_totalprice")), 2, 2).as("y"))
      // reused by both pairwise sides and the week-count margin — without
      // materialization the 3-table fact join re-derives 5× (15 scans);
      // the weekly grid is dimension-sized, so pin it once
      .localCheckpoint()
    val a = weekly.select(col("n_name"), col("week").as("w1"), col("y").as("y1"))
    val b = weekly.select(col("n_name"), col("week").as("w2"), col("y").as("y2"))
    val pairs = a.join(b, Seq("n_name")).filter(col("w2") > col("w1"))
      .select(col("n_name"), col("w1"), col("w2"),
        when(col("y2") > col("y1"), 1L).when(col("y2") < col("y1"), -1L)
          .otherwise(0L).as("sgn"),
        ((col("y2") - col("y1")) / (col("w2") - col("w1"))).as("slope"))
    // ONE pass over the pairwise relation (VERDICT r12 #4): the sign sum
    // is an unordered window over the SAME n_name partitioning the
    // median rank already shuffles/sorts by, so the median-row filter
    // carries S along — the self-join is never referenced twice and
    // nothing is re-materialized. S is an integer sum (order-free), so
    // the value is identical to the old groupBy aggregate.
    val wPart = Window.partitionBy(col("n_name"))
    val med = pairs
      .withColumn("rk", row_number().over(
        wPart.orderBy(col("slope"), col("w1"), col("w2"))))
      .withColumn("np", count(lit(1)).over(wPart))
      .withColumn("s", sum(col("sgn")).over(wPart))
      .filter(col("rk") === expr("(np + 1) div 2"))
      .select(col("n_name"), Num.r(col("slope"), 6).as("ts_slope"), col("s"))
    med
      .join(weekly.groupBy(col("n_name")).agg(count(lit(1)).as("n_weeks")), "n_name")
      .withColumn("vs",
        (col("n_weeks") * (col("n_weeks") - 1) * (lit(2L) * col("n_weeks") + 5)) / lit(18.0))
      .withColumn("z", Num.r(
        when(col("s") > 0, (col("s") - lit(1L)) / sqrt(col("vs")))
          .when(col("s") < 0, (col("s") + lit(1L)) / sqrt(col("vs")))
          .otherwise(lit(0.0)), 6))
      .select(col("n_name"), col("n_weeks"), col("s"), col("z"), col("ts_slope"))
  }

  val mkTrendSql: String =
    s"""WITH w AS (
       |  SELECT n_name, epoch_us(o_orderdate) // 604800000000 AS week,
       |         ${Num.ssumSql("sum(o_totalprice)", 2, 2)} AS y
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY 1, 2),
       |p AS (
       |  SELECT a.n_name, a.week AS w1, b.week AS w2,
       |         CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn,
       |         (b.y - a.y) / (b.week - a.week) AS slope
       |  FROM w a JOIN w b ON a.n_name = b.n_name AND b.week > a.week),
       |med AS (
       |  SELECT n_name, ${Num.rSql("slope", 6)} AS ts_slope FROM (
       |    SELECT *, row_number() OVER (PARTITION BY n_name
       |             ORDER BY slope, w1, w2) AS rk,
       |           count(*) OVER (PARTITION BY n_name) AS np
       |    FROM p) WHERE rk = (np + 1) // 2),
       |st AS (
       |  SELECT p.n_name, CAST(sum(p.sgn) AS BIGINT) AS s
       |  FROM p GROUP BY 1),
       |nw AS (SELECT n_name, CAST(count(*) AS BIGINT) AS n_weeks FROM w GROUP BY 1),
       |zz AS (
       |  SELECT st.n_name, nw.n_weeks, st.s,
       |         CAST(nw.n_weeks * (nw.n_weeks - 1) * (2 * nw.n_weeks + 5) AS DOUBLE)
       |           / CAST(18 AS DOUBLE) AS vs
       |  FROM st JOIN nw ON st.n_name = nw.n_name)
       |SELECT zz.n_name, zz.n_weeks, zz.s,
       |       ${Num.rSql("CASE WHEN s > 0 THEN (s - 1) / sqrt(vs) WHEN s < 0 THEN (s + 1) / sqrt(vs) ELSE 0.0 END", 6)} AS z,
       |       med.ts_slope
       |FROM zz JOIN med ON zz.n_name = med.n_name""".stripMargin

  /** Herfindahl–Hirschman supplier-concentration index per part type —
    * the market-concentration / supply-risk dial (HHI = Σ share², 1/n
    * for even split, 1.0 for a monopoly supplier). One fact join, one
    * (type, supplier) aggregate; the type margin is a window over that
    * bounded relation; shares snap before squaring so both engines sum
    * identical squares.
    */
  def supplierHhi(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir).select(col("p_partkey"), col("p_type")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"), col("l_suppkey"))
      .agg(Num.ssum(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4, 2)
        .as("rev"))
    rev
      .withColumn("tot", Num.r(sum(col("rev")).over(Window.partitionBy(col("p_type"))), 2))
      .withColumn("sh", Num.r(col("rev") / col("tot"), 6))
      .groupBy(col("p_type"))
      .agg(count(lit(1)).as("n_suppliers"),
        Num.r(sum(col("sh") * col("sh")), 6).as("hhi"))
  }

  val supplierHhiSql: String =
    s"""WITH rev AS (
       |  SELECT p_type, l_suppkey,
       |         ${Num.ssumSql("sum(l_extendedprice * (1.0 - l_discount))", 4, 2)} AS rev
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  GROUP BY 1, 2),
       |sh AS (
       |  SELECT p_type,
       |         ${Num.rSql(s"rev / (${Num.rSql("sum(rev) OVER (PARTITION BY p_type)", 2)})", 6)} AS sh
       |  FROM rev)
       |SELECT p_type, CAST(count(*) AS BIGINT) AS n_suppliers,
       |       ${Num.rSql("sum(sh * sh)", 6)} AS hhi
       |FROM sh GROUP BY 1""".stripMargin

  /** XYZ class cuts on the coefficient of variation (identical literals
    * both engines). */
  val XyzX = 0.5
  val XyzY = 1.0

  /** XYZ demand-variability classification per part: the inventory
    * planner's companion to ABC (q_revenue_pareto) — X (stable demand,
    * CV ≤ 0.5), Y (variable, ≤ 1.0), Z (erratic). Weekly demand sums are
    * integer-valued doubles (exact in any order); CV = √(E[w²]−E[w]²)/E[w]
    * runs on snapped moments and IEEE sqrt. Weeks with zero demand count
    * as zero via the calendar span, not a dense grid join: CV uses
    * moments over the FULL span length (sum over missing weeks is 0),
    * so the dense grid never materializes per part.
    */
  def xyzClass(spark: SparkSession, dir: String): DataFrame = {
    val weekly = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"),
        expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 604800000000").as("week"))
      .agg(sum(col("l_quantity")).as("w"))
    val span = broadcast(weekly.agg(
      (max(col("week")) - min(col("week")) + 1).cast("double").as("n_weeks")))
    weekly.groupBy(col("l_partkey"))
      .agg(sum(col("w")).as("sw"), sum(col("w") * col("w")).as("sww"))
      .crossJoin(span)
      .withColumn("mean", Num.r(col("sw") / col("n_weeks"), 9))
      .withColumn("cv", Num.r(
        sqrt(greatest(Num.r(col("sww") / col("n_weeks") - col("mean") * col("mean"), 9),
          lit(0.0))) / col("mean"), 6))
      .select(col("l_partkey"), col("cv"),
        when(col("cv") <= XyzX, "X").when(col("cv") <= XyzY, "Y").otherwise("Z")
          .as("xyz_class"))
  }

  val xyzClassSql: String = {
    val mean = Num.rSql("sw / n_weeks", 9)
    s"""WITH wk AS (
       |  SELECT l_partkey, epoch_us(l_shipdate) // 604800000000 AS week,
       |         sum(l_quantity) AS w
       |  FROM lineitem GROUP BY 1, 2),
       |sp AS (SELECT CAST(max(week) - min(week) + 1 AS DOUBLE) AS n_weeks FROM wk),
       |m AS (
       |  SELECT l_partkey, sum(w) AS sw, sum(w * w) AS sww FROM wk GROUP BY 1),
       |c AS (
       |  SELECT l_partkey,
       |         ${Num.rSql(s"sqrt(greatest(${Num.rSql(s"sww / n_weeks - ($mean) * ($mean)", 9)}, 0.0)) / ($mean)", 6)} AS cv
       |  FROM m CROSS JOIN sp)
       |SELECT l_partkey, cv,
       |       CASE WHEN cv <= $XyzX THEN 'X' WHEN cv <= $XyzY THEN 'Y' ELSE 'Z' END AS xyz_class
       |FROM c""".stripMargin
  }

  /** SCD2 pane width (µs): 180 days — panes exist only to bound the
    * per-task sort, any width is correct (SlidingAggSpec property).
    */
  private val Scd2PaneMicros = 180L * 86400L * 1000000L

  /** SCD Type-2 interval collapse: turn each customer's order-priority
    * change stream into validity intervals (value, valid_from,
    * valid_to, is_current) — the slowly-changing-dimension build every
    * warehouse runs to make dimension history joinable as-of. Consecutive
    * equal values collapse into one interval; an interval closes when the
    * next CHANGE opens (not the next row).
    *
    * DATE-GRAIN SEMANTICS (deliberate, r9): the validity grain is the
    * DATE, so a key that changes value more than once on one date keeps
    * only the LAST value for that date (by o_orderkey, the arrival
    * order) — last-write-wins per (key, date), exactly like a nightly
    * dimension load. Without this collapse, same-date change pairs emit
    * zero-length intervals with tied valid_from, and "the interval set
    * tiles the timeline" stops being a total order (the r8 SCD2 spec
    * flake: custkey 123 at sf0.001 has two priority changes on
    * 1995-02-16). After the collapse, valid_from is strictly increasing
    * per key by construction.
    *
    * Scale shape: a grouped argmax collapses to one row per (key, date)
    * — no window — then two pane-decomposed per-key sequential passes
    * ([[graft.scale.SlidingAgg.prevValue]] for change detection,
    * [[graft.scale.SlidingAgg.nextTime]] for the interval close over the
    * much smaller change stream). No task ever sorts one key's full
    * history, per the per-key sequential rule.
    */
  def scd2Priority(spark: SparkSession, dir: String): DataFrame =
    scd2Of(Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        col("o_orderpriority")))

  /** Core of [[scd2Priority]] over any (o_custkey, o_orderdate,
    * o_orderkey, o_orderpriority)-shaped change stream — split out so the
    * same-date fixture test can exercise the date-grain collapse on a
    * constructed frame, not a testdata accident.
    */
  def scd2Of(orders: DataFrame): DataFrame = {
    val daily = orders
      .withColumn("ts", col("o_orderdate").cast("timestamp"))
      .groupBy(col("o_custkey"), col("ts"))
      .agg(max(struct(col("o_orderkey"), col("o_orderpriority"))).as("m"))
      .select(col("o_custkey"), col("ts"),
        col("m.o_orderkey").as("o_orderkey"),
        col("m.o_orderpriority").as("o_orderpriority"))
    val withPrev = graft.scale.SlidingAgg.prevValue(
      daily, Seq("o_custkey"), col("ts"), col("o_orderkey"),
      col("o_orderpriority"), Scd2PaneMicros, "pv")
    val changes = withPrev
      .filter(col("pv").isNull || col("pv") =!= col("o_orderpriority"))
      .select(col("o_custkey"), col("ts"), col("o_orderkey"),
        col("o_orderpriority"))
    graft.scale.SlidingAgg.nextTime(
      changes, Seq("o_custkey"), col("ts"), col("o_orderkey"),
      Scd2PaneMicros, "vt")
      .select(col("o_custkey").as("custkey"),
        col("o_orderpriority").as("priority"),
        to_date(col("ts")).as("valid_from"),
        to_date(timestamp_micros(col("vt"))).as("valid_to"),
        col("vt").isNull.as("is_current"))
  }

  val scd2PrioritySql: String =
    """WITH dg AS (
      |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
      |         arg_max(o_orderpriority, o_orderkey) AS o_orderpriority
      |  FROM orders GROUP BY 1, 2),
      |s AS (
      |  SELECT o_custkey, d, o_orderpriority,
      |         lag(o_orderpriority) OVER (PARTITION BY o_custkey
      |           ORDER BY d) AS pv
      |  FROM dg),
      |c AS (SELECT o_custkey, d, o_orderpriority FROM s
      |      WHERE pv IS NULL OR pv <> o_orderpriority),
      |iv AS (SELECT *, lead(d) OVER (PARTITION BY o_custkey
      |         ORDER BY d) AS vt FROM c)
      |SELECT o_custkey AS custkey, o_orderpriority AS priority,
      |       d AS valid_from, vt AS valid_to, vt IS NULL AS is_current
      |FROM iv""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("q_scd2_priority", scd2Priority, scd2PrioritySql),
    Op("q_supplier_hhi", supplierHhi, supplierHhiSql),
    Op("q_xyz_class", xyzClass, xyzClassSql),
    Op("q_mk_trend", mkTrend, mkTrendSql),
    Op("q_price_volume_mix", priceVolumeMix, priceVolumeMixSql),
    Op("q_gap_fill", gapFill, gapFillSql),
    Op("q_revenue_gini", revenueGini, revenueGiniSql),
    Op("q_seasonal_decompose", seasonalDecompose, seasonalDecomposeSql),
    Op("q_latency_quantiles", latencyQuantiles, latencyQuantilesSql),
    Op("q_cube_orders", cubeOrders, cubeOrdersSql),
    Op("q_wow_growth", wowGrowth, wowGrowthSql),
    Op("q_lineitem_corr", lineitemCorr, lineitemCorrSql),
    Op("q_chisq_segment", chisqSegment, chisqSegmentSql),
    Op("q_ordered_funnel", orderedFunnel, orderedFunnelSql),
    Op("q_part_best_supplier", partBestSupplier, partBestSupplierSql),
    Op("q_rfm_segments", rfmSegments, rfmSegmentsSql),
    Op("q_revenue_pareto", revenuePareto, revenueParetoSql),
    Op("q_basket_pairs", basketPairs, basketPairsSql),
    Op("q_rollup_revenue", rollupRevenue, rollupRevenueSql),
    Op("q_approx_distinct", approxDistinct, approxDistinctSql),
    Op("q_session_kpis", sessionKpis, sessionKpisSql),
    Op("q1_pricing_summary", pricingSummary, pricingSummarySql),
    Op("q_top_customers", topCustomers, topCustomersSql),
    Op("q_order_priority", orderPriority, orderPrioritySql),
    Op("q_daily_orders", dailyOrders, dailyOrdersSql),
    Op("q_daily_summary", dailySummary, dailySummarySql),
    Op("q_revenue_by_nation", revenueByNation, revenueByNationSql),
    Op("q3_shipping_priority", shippingPriority, shippingPrioritySql),
    Op("q_mktseg_share", mktsegShare, mktsegShareSql),
    Op("q_customers_with_open_orders", customersWithOpenOrders, customersWithOpenOrdersSql),
    Op("q_customers_without_orders", customersWithoutOrders, customersWithoutOrdersSql),
    Op("q_latest_order_per_customer", latestOrderPerCustomer, latestOrderPerCustomerSql),
    Op("q_order_rollup", orderRollup, orderRollupSql))
}
