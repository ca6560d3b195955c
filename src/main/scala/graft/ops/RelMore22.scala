package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-4 continuation batch W: the DISTRIBUTE/CLUSTER BY physical-
  * layout SQL surface, the one-pass KPI panel, and the two
  * product-analytics rates every growth dashboard carries (churn,
  * DAU/MAU stickiness).
  */
object RelMore22 extends KeyModule {

  /** sql-cluster-by — DISTRIBUTE BY + SORT BY (and their fusion
    * CLUSTER BY): the Hive-compat surface that controls PHYSICAL
    * layout from SQL — the shuffle lands in the plan as
    * RepartitionByExpression (verified in the spec), which is how a
    * SQL user pre-partitions a hot join/write key without DataFrame
    * access. Output is wrapped in a deterministic ORDER BY — the
    * layout hint changes the plan, never the relation. */
  val sqlClusterBy: Q = (s, d) => {
    orders(s, d).createOrReplaceTempView("orders")
    s.sql(
      """SELECT o_orderstatus, o_orderkey, o_custkey
        |FROM (SELECT o_orderstatus, o_orderkey, o_custkey
        |      FROM orders
        |      WHERE o_custkey % 20 = 0
        |      DISTRIBUTE BY o_orderstatus SORT BY o_orderstatus, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin)
  }

  val sqlClusterBySql: String =
    """SELECT o_orderstatus, o_orderkey, o_custkey
      |FROM orders
      |WHERE o_custkey % 20 = 0
      |ORDER BY o_orderkey""".stripMargin

  /** agg-kpi-panel — the dashboard header strip in ONE pass per fact
    * table: order count, active customers, AOV, items-per-order,
    * revenue-per-customer — every ratio floor-quantized from exact
    * integer sums, the two fact scans joined on a literal key (both
    * sides are single rows; the join is free). The point is the
    * SHAPE: one scan per fact, every KPI derived from the same sums —
    * dashboards that fire one query per tile scan the lake per
    * tile. */
  val aggKpiPanel: Q = (s, d) => {
    val o = orders(s, d).agg(
      count(lit(1)).as("n_orders"),
      countDistinct(col("o_custkey")).as("n_customers"),
      sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("rev_cents"))
    val l = lineitem(s, d).agg(count(lit(1)).as("n_items"))
    o.crossJoin(l).select(
      col("n_orders"), col("n_customers"), col("rev_cents"), col("n_items"),
      floor(col("rev_cents") / col("n_orders")).cast(LongType).as("aov_cents"),
      floor(col("n_items") * lit(1000000L) / col("n_orders")).cast(LongType).as("items_per_order_micro"),
      floor(col("rev_cents") / col("n_customers")).cast(LongType).as("rev_per_cust_cents"))
  }

  val aggKpiPanelSql: String =
    """WITH o AS (
      |  SELECT count(*) AS n_orders,
      |         count(DISTINCT o_custkey) AS n_customers,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev_cents
      |  FROM orders),
      |l AS (SELECT count(*) AS n_items FROM lineitem)
      |SELECT n_orders, n_customers, rev_cents, n_items,
      |       CAST(floor(rev_cents / n_orders) AS BIGINT) AS aov_cents,
      |       CAST(floor(n_items * 1000000 / n_orders) AS BIGINT) AS items_per_order_micro,
      |       CAST(floor(rev_cents / n_customers) AS BIGINT) AS rev_per_cust_cents
      |FROM o, l""".stripMargin

  /** agg-churn — monthly churn: customers active in month m−1 but
    * absent in m, over the distinct (customer, month) activity grid —
    * a self-join on (customer, next month) with the anti side counted
    * via a left join's nulls. Months compared as first-of-month DATEs
    * (add_months arithmetic — string months can't do +1 across
    * December). Churn ppm floor-quantized against the prior month's
    * active base. */
  val aggChurn: Q = (s, d) => {
    val act = orders(s, d)
      .select(col("o_custkey"), trunc(col("o_orderdate"), "month").as("m"))
      .distinct()
    // a row of `act` at month m churned if (custkey, m+1) ∉ act —
    // expressed by left-joining act against itself shifted BACK one
    // month and counting the nulls
    val churn = act.as("a")
      .join(act.select(col("o_custkey"), add_months(col("m"), -1).as("m"))
        .withColumn("again", lit(1)).as("b"),
        Seq("o_custkey", "m"), "left_outer")
      .groupBy("m")
      .agg(count(lit(1)).as("n_active"),
        count(when(col("again").isNull, 1)).as("n_churned"))
      .withColumn("churn_ppm",
        floor(col("n_churned") * lit(1000000L) / col("n_active")).cast(LongType))
    churn.select(date_format(col("m"), "yyyy-MM").as("month"),
      col("n_active"), col("n_churned"), col("churn_ppm"))
      .orderBy("month")
  }

  val aggChurnSql: String =
    """WITH act AS (
      |  SELECT DISTINCT o_custkey, date_trunc('month', o_orderdate) AS m
      |  FROM orders)
      |SELECT strftime(a.m, '%Y-%m') AS month,
      |       count(*) AS n_active,
      |       count(CASE WHEN b.o_custkey IS NULL THEN 1 END) AS n_churned,
      |       CAST(floor(count(CASE WHEN b.o_custkey IS NULL THEN 1 END) * 1000000 / count(*)) AS BIGINT) AS churn_ppm
      |FROM act a
      |LEFT JOIN act b ON b.o_custkey = a.o_custkey
      |               AND b.m = a.m + INTERVAL 1 MONTH
      |GROUP BY a.m
      |ORDER BY month""".stripMargin

  /** agg-stickiness — DAU/MAU per month: mean daily actives over
    * monthly actives, the engagement ratio product teams steer by.
    * Exact: Σ(daily distinct) · 10⁶ / (n_days · MAU) — both distinct
    * counts are per-bucket exact aggregates; no averaging in floats.
    * Day and month buckets shuffle once each on small keys. */
  val aggStickiness: Q = (s, d) => {
    val dau = events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .groupBy(date_format(col("day"), "yyyy-MM").as("month"), col("day"))
      .agg(count(lit(1)).as("dau"))
      .groupBy("month")
      .agg(sum("dau").as("sum_dau"), count(lit(1)).as("n_days"))
    val mau = events(s, d)
      .select(date_format(col("ts"), "yyyy-MM").as("month"), col("user_id"))
      .distinct()
      .groupBy("month")
      .agg(count(lit(1)).as("mau"))
    dau.join(mau, Seq("month"))
      .select(col("month"), col("sum_dau"), col("n_days"), col("mau"),
        floor(col("sum_dau") * lit(1000000L) / (col("n_days") * col("mau")))
          .cast(LongType).as("stickiness_ppm"))
      .orderBy("month")
  }

  val aggStickinessSql: String =
    """WITH dau AS (
      |  SELECT strftime(day, '%Y-%m') AS month, day, count(*) AS dau
      |  FROM (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
      |  GROUP BY 1, 2),
      |dm AS (
      |  SELECT month, CAST(sum(dau) AS BIGINT) AS sum_dau, count(*) AS n_days
      |  FROM dau GROUP BY month),
      |mau AS (
      |  SELECT month, count(*) AS mau FROM (
      |    SELECT DISTINCT strftime(ts, '%Y-%m') AS month, user_id FROM events)
      |  GROUP BY month)
      |SELECT dm.month, dm.sum_dau, dm.n_days, mau.mau,
      |       CAST(floor(dm.sum_dau * 1000000 / (dm.n_days * mau.mau)) AS BIGINT) AS stickiness_ppm
      |FROM dm JOIN mau ON mau.month = dm.month
      |ORDER BY dm.month""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("sql-cluster-by", sqlClusterBy, sqlClusterBySql),
    Key("agg-kpi-panel", aggKpiPanel, aggKpiPanelSql),
    Key("agg-churn", aggChurn, aggChurnSql),
    Key("agg-stickiness", aggStickiness, aggStickinessSql))
}
