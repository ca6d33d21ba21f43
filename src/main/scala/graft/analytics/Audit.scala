package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Num, Op, Tables}

/** Warehouse audit tier: referential-integrity rule tables and
  * incremental-state (CDC) snapshot diffs.
  *
  * The reference pipeline trusts its upstream (Marketo / frontend
  * producers) and validates per-record only (required fields, whitelist —
  * P1/P2 in SURVEY §2). A warehouse operating at 100 TB also needs
  * *cross-table* audits — orphaned facts, childless dimensions,
  * impossible orderings — and a cheap way to answer "what changed since
  * the last materialization?". Both operators here are built around the
  * minimum number of scans/shuffles that can answer those questions.
  */
object Audit {

  /** Referential-integrity + constraint audit: one row per rule with the
    * checked population and the violation count.
    *
    * Scale shape: SIX rules ride TWO joins —
    *
    *   - one full-outer lineitem⋈orders join answers orphan lineitems
    *     (no order), childless orders (no lineitem), ship-before-order,
    *     AND carries the lineitem-local constraint scans (non-positive
    *     quantity, discount out of [0,1]) in the same aggregate, so the
    *     fact table is scanned exactly once;
    *   - one left orders⋈customer join answers dangling customer keys
    *     and the order population count.
    *
    * The rule table itself is a 2-row cross of two single-row aggregates
    * unpivoted with `stack` — no collect, no extra shuffle.
    */
  def integrityAudit(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity"), col("l_discount"), col("l_shipdate"))
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderdate"))
    val lo = l.join(o, l("l_orderkey") === o("o_orderkey"), "full_outer").agg(
      count(col("l_orderkey")).as("n_lineitem"),
      count(when(col("o_orderkey").isNull, 1)).as("orphan_lineitem"),
      count(when(col("l_orderkey").isNull, 1)).as("childless_order"),
      count(when(col("l_quantity") <= 0.0, 1)).as("nonpositive_quantity"),
      count(when(col("l_discount") < 0.0 || col("l_discount") > 1.0, 1)).as("discount_range"),
      count(when(col("l_shipdate") < col("o_orderdate"), 1)).as("ship_before_order"))
    val oc = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.customer(spark, dir).select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left")
      .agg(
        count(lit(1)).as("n_orders"),
        count(when(col("c_custkey").isNull, 1)).as("order_missing_customer"))
    lo.crossJoin(oc).selectExpr(
      """stack(6,
        |  'orphan_lineitem',        n_lineitem, orphan_lineitem,
        |  'childless_order',        n_orders,   childless_order,
        |  'order_missing_customer', n_orders,   order_missing_customer,
        |  'nonpositive_quantity',   n_lineitem, nonpositive_quantity,
        |  'discount_range',         n_lineitem, discount_range,
        |  'ship_before_order',      n_lineitem, ship_before_order
        |) AS (rule, n_checked, n_violations)""".stripMargin)
  }

  val integrityAuditSql: String =
    """WITH lo AS (
      |  SELECT count(l.l_orderkey) AS n_lineitem,
      |         count(CASE WHEN o.o_orderkey IS NULL THEN 1 END) AS orphan_lineitem,
      |         count(CASE WHEN l.l_orderkey IS NULL THEN 1 END) AS childless_order,
      |         count(CASE WHEN l.l_quantity <= 0.0 THEN 1 END) AS nonpositive_quantity,
      |         count(CASE WHEN l.l_discount < 0.0 OR l.l_discount > 1.0 THEN 1 END) AS discount_range,
      |         count(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 END) AS ship_before_order
      |  FROM lineitem l FULL OUTER JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |oc AS (
      |  SELECT count(*) AS n_orders,
      |         count(CASE WHEN c.c_custkey IS NULL THEN 1 END) AS order_missing_customer
      |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey)
      |SELECT u.rule,
      |       CAST(CASE WHEN u.pop = 'l' THEN lo.n_lineitem ELSE oc.n_orders END AS BIGINT) AS n_checked,
      |       CAST(CASE u.rule
      |              WHEN 'orphan_lineitem' THEN lo.orphan_lineitem
      |              WHEN 'childless_order' THEN lo.childless_order
      |              WHEN 'order_missing_customer' THEN oc.order_missing_customer
      |              WHEN 'nonpositive_quantity' THEN lo.nonpositive_quantity
      |              WHEN 'discount_range' THEN lo.discount_range
      |              ELSE lo.ship_before_order END AS BIGINT) AS n_violations
      |FROM lo, oc, (VALUES ('orphan_lineitem', 'l'), ('childless_order', 'o'),
      |              ('order_missing_customer', 'o'), ('nonpositive_quantity', 'l'),
      |              ('discount_range', 'l'), ('ship_before_order', 'l')) AS u(rule, pop)""".stripMargin

  /** Snapshot cutoffs for the CDC diff: the materialized state "as of T1"
    * vs "as of T2" (orders strictly before the cutoff). */
  val SnapT1 = "1999-01-01"
  val SnapT2 = "2000-01-01"

  /** CDC snapshot diff: which per-customer states (order count + lifetime
    * revenue) changed between the T1 and T2 materializations, and how.
    *
    * The naive form computes both snapshots and full-outer joins them —
    * two scans and three shuffles. Because both snapshots are conditional
    * views of ONE fact table, this plan computes them as conditional
    * aggregates of the same groupBy: ONE scan, ONE shuffle, and the diff
    * is a filter. Orders only append (T1 < T2 cuts of the same table), so
    * a changed state is exactly `n_new > n_old`: `insert` when the key had
    * no T1 state, `update` otherwise; deletes cannot occur.
    */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val t1 = lit(SnapT1).cast("timestamp")
    val t2 = lit(SnapT2).cast("timestamp")
    Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(
        count(when(col("o_orderdate") < t1, 1)).as("n_orders_old"),
        count(when(col("o_orderdate") < t2, 1)).as("n_orders_new"),
        Num.ssum(sum(when(col("o_orderdate") < t1, col("o_totalprice")).otherwise(0.0)), 2, 2)
          .as("revenue_old"),
        Num.ssum(sum(when(col("o_orderdate") < t2, col("o_totalprice")).otherwise(0.0)), 2, 2)
          .as("revenue_new"))
      .filter(col("n_orders_new") > col("n_orders_old"))
      .withColumn("change_type",
        when(col("n_orders_old") === 0, lit("insert")).otherwise(lit("update")))
      .select("o_custkey", "change_type", "n_orders_old", "n_orders_new",
        "revenue_old", "revenue_new")
  }

  val snapshotDiffSql: String =
    s"""WITH s AS (
       |  SELECT o_custkey,
       |         count(CASE WHEN o_orderdate < TIMESTAMP '$SnapT1 00:00:00' THEN 1 END) AS n_orders_old,
       |         count(CASE WHEN o_orderdate < TIMESTAMP '$SnapT2 00:00:00' THEN 1 END) AS n_orders_new,
       |         ${Num.ssumSql(s"sum(CASE WHEN o_orderdate < TIMESTAMP '$SnapT1 00:00:00' THEN o_totalprice ELSE 0.0 END)", 2, 2)} AS revenue_old,
       |         ${Num.ssumSql(s"sum(CASE WHEN o_orderdate < TIMESTAMP '$SnapT2 00:00:00' THEN o_totalprice ELSE 0.0 END)", 2, 2)} AS revenue_new
       |  FROM orders GROUP BY 1)
       |SELECT o_custkey,
       |       CASE WHEN n_orders_old = 0 THEN 'insert' ELSE 'update' END AS change_type,
       |       CAST(n_orders_old AS BIGINT) AS n_orders_old,
       |       CAST(n_orders_new AS BIGINT) AS n_orders_new,
       |       revenue_old, revenue_new
       |FROM s WHERE n_orders_new > n_orders_old""".stripMargin

  /** Benford first-digit expectations log10(1 + 1/d), Scala-computed,
    * SNAPPED to a 1e-12 grid, and embedded as literals in BOTH engines
    * (the DCG discipline: neither engine evaluates a log at query time).
    * The snap matters: Java's Double.toString of the raw log10(4/3)
    * yields a 17-digit string DuckDB parses one ulp away (observed
    * 1.39e-17 drift on digit 3); a 12-decimal grid value renders as a
    * short unambiguous literal every parser rounds to the same double.
    */
  val BenfordExpected: Seq[(Int, Double)] =
    (1 to 9).map(d => d -> math.rint(math.log10(1.0 + 1.0 / d) * 1e12) / 1e12)

  /** Benford's-law first-digit audit of order amounts — the classic
    * fabricated-data / unit-mixing detector. The first significant digit
    * is derived WITHOUT floating log10 or double formatting: snap to
    * exact integer cents (leading digit is invariant under ×100), then
    * take the first character of the integer's decimal string — integer
    * rendering is deterministic in any engine. One scan, a 9-row margin
    * window; χ² contributions against the embedded expectations.
    */
  def benford(spark: SparkSession, dir: String): DataFrame = {
    val expected = BenfordExpected.tail.foldLeft(
      when(col("digit") === "1", lit(BenfordExpected.head._2))) {
      case (acc, (d, p)) => acc.when(col("digit") === d.toString, lit(p))
    }
    Tables.orders(spark, dir)
      .select(substring(expr("CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS STRING)"),
        1, 1).as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .withColumn("tot", sum(col("n")).over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("expected_share", expected)
      .select(col("digit"), col("n"),
        Num.r(col("n").cast("double") / col("tot"), 6).as("observed_share"),
        col("expected_share"),
        Num.r((col("n") - col("expected_share") * col("tot")) *
          (col("n") - col("expected_share") * col("tot")) /
          (col("expected_share") * col("tot")), 4).as("chi2_contrib"))
  }

  val benfordSql: String = {
    val cases = BenfordExpected.map { case (d, p) => s"WHEN '$d' THEN $p" }.mkString(" ")
    s"""WITH d AS (
       |  SELECT substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR), 1, 1) AS digit
       |  FROM orders),
       |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
       |m AS (SELECT *, CAST(sum(n) OVER () AS BIGINT) AS tot,
       |             CAST(CASE digit $cases END AS DOUBLE) AS expected_share FROM c)
       |SELECT digit, n,
       |       ${Num.rSql("CAST(n AS DOUBLE) / tot", 6)} AS observed_share,
       |       expected_share,
       |       ${Num.rSql("(n - expected_share * tot) * (n - expected_share * tot) / (expected_share * tot)", 4)} AS chi2_contrib
       |FROM m""".stripMargin
  }

  /** Entity-resolution fuzzy matching: a deterministically-corrupted CRM
    * copy of the customer table (every 3rd name gets one digit replaced —
    * the q_pii_redact fixture discipline, since the synthetic names carry
    * no organic typos) is matched back against the master by BLOCKING +
    * edit-distance verification. The blocking key is the name's last five
    * characters (untouched by the corruption site), so candidate pairs
    * are per-block equi-join groups — never a name×name cross join — and
    * the verifier is integer Levenshtein ≤ 1, identical in both engines.
    * The report is the match accounting a dedup/ER run publishes.
    */
  def fuzzyMatch(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(spark, dir).select(col("c_custkey"), col("c_name"))
    val crm = base.select(
      (col("c_custkey") + 1000000L).as("crm_id"),
      when(col("c_custkey") % 3 === 0,
        concat(substring(col("c_name"), 1, 11), lit("X"), substring(col("c_name"), 13, 6)))
        .otherwise(col("c_name")).as("crm_name"))
    val l = crm.withColumn("blk", substring(col("crm_name"), -5, 5))
    val r = base.withColumn("blk", substring(col("c_name"), -5, 5))
    l.join(r, "blk")
      .withColumn("dist", levenshtein(col("crm_name"), col("c_name")))
      .agg(
        count(lit(1)).as("n_candidates"),
        count(when(col("dist") === 0, 1)).as("n_exact"),
        count(when(col("dist") === 1, 1)).as("n_fuzzy"),
        count(when(col("dist") > 1, 1)).as("n_rejected"))
  }

  val fuzzyMatchSql: String =
    """WITH crm AS (
      |  SELECT c_custkey + 1000000 AS crm_id,
      |         CASE WHEN c_custkey % 3 = 0
      |              THEN substr(c_name, 1, 11) || 'X' || substr(c_name, 13, 6)
      |              ELSE c_name END AS crm_name
      |  FROM customer),
      |l AS (SELECT *, substr(crm_name, length(crm_name) - 4, 5) AS blk FROM crm),
      |r AS (SELECT c_custkey, c_name, substr(c_name, length(c_name) - 4, 5) AS blk
      |      FROM customer)
      |SELECT CAST(count(*) AS BIGINT) AS n_candidates,
      |       CAST(count(CASE WHEN levenshtein(l.crm_name, r.c_name) = 0 THEN 1 END) AS BIGINT) AS n_exact,
      |       CAST(count(CASE WHEN levenshtein(l.crm_name, r.c_name) = 1 THEN 1 END) AS BIGINT) AS n_fuzzy,
      |       CAST(count(CASE WHEN levenshtein(l.crm_name, r.c_name) > 1 THEN 1 END) AS BIGINT) AS n_rejected
      |FROM l JOIN r ON l.blk = r.blk""".stripMargin

  // ---------------------------------------------------------------------
  // Join-key skew profiler.
  // ---------------------------------------------------------------------

  /** Key-skew profile of the warehouse's join/shuffle keys — the audit a
    * planner (or an engineer sizing `spark.sql.shuffle.partitions`,
    * picking a salting factor, or deciding AQE skew-join thresholds)
    * reads BEFORE a 100 TB join: rows, distinct keys, the heaviest key's
    * share of all rows, and the max/mean frequency ratio (1.0 = uniform;
    * a hot key that would pin one reducer shows as a large ratio).
    *
    * Scale shape per profiled key: one hash aggregate to the key-bounded
    * frequency relation, then one scalar aggregate over it — the same
    * two shuffles at any volume; the per-key relation never sorts and the
    * heaviest key resolves by max(), not a window. All counts exact
    * integers; the two ratios divide exact integers once and snap at
    * 1e-6.
    */
  def skewProfile(spark: SparkSession, dir: String): DataFrame = {
    def prof(rel: String, df: DataFrame, key: String): DataFrame =
      df.groupBy(col(key)).agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_keys"),
          max(col("c")).as("max_freq"))
        .select(lit(rel).as("rel"), col("n_rows"), col("n_keys"), col("max_freq"),
          Num.r(col("max_freq").cast("double") /
            (col("n_rows").cast("double") / col("n_keys")), 6).as("skew_ratio"),
          Num.r(col("max_freq").cast("double") / col("n_rows"), 6).as("top1_share"))
    prof("events.user_id", Tables.events(spark, dir), "user_id")
      .unionByName(prof("orders.o_custkey", Tables.orders(spark, dir), "o_custkey"))
      .unionByName(prof("lineitem.l_partkey", Tables.lineitem(spark, dir), "l_partkey"))
      .unionByName(prof("documents.source", Tables.documents(spark, dir), "source"))
  }

  val skewProfileSql: String = {
    def prof(rel: String, table: String, key: String): String =
      s"""SELECT '$rel' AS rel, n_rows, n_keys, max_freq,
         |       ${Num.rSql("CAST(max_freq AS DOUBLE) / (CAST(n_rows AS DOUBLE) / n_keys)", 6)} AS skew_ratio,
         |       ${Num.rSql("CAST(max_freq AS DOUBLE) / n_rows", 6)} AS top1_share
         |FROM (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
         |             CAST(count(*) AS BIGINT) AS n_keys,
         |             CAST(max(c) AS BIGINT) AS max_freq
         |      FROM (SELECT $key, count(*) AS c FROM $table GROUP BY 1))""".stripMargin
    Seq(
      prof("events.user_id", "events", "user_id"),
      prof("orders.o_custkey", "orders", "o_custkey"),
      prof("lineitem.l_partkey", "lineitem", "l_partkey"),
      prof("documents.source", "documents", "source")).mkString("\nUNION ALL\n")
  }

  val ops: Seq[Op] = Seq(
    Op("q_integrity_audit", integrityAudit, integrityAuditSql),
    Op("q_snapshot_diff", snapshotDiff, snapshotDiffSql),
    Op("q_benford", benford, benfordSql),
    Op("q_fuzzy_match", fuzzyMatch, fuzzyMatchSql),
    Op("q_skew_profile", skewProfile, skewProfileSql))
}
