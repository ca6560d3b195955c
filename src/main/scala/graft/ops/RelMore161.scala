package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch BJ: Lundberg ruin curve, extremal index,
  * consolidation opportunity, individuals/moving-range chart. */
object RelMore161 extends KeyModule {

  /** agg-lundberg-ruin — the Cramér-Lundberg ruin-probability curve
    * under exponential claim severity, calibrated on the data's own
    * claim stream (claims = daily revenue, μ from the exact mean):
    * with safety loading θ = 10%, ψ(u) = e^{−θu/((1+θ)μ)}/(1+θ) in
    * closed form, evaluated at reserves u = 1..10 mean-days. The
    * actuarial complement to agg-cvar-es (static tail) and
    * agg-compound-poisson (aggregate distribution): ruin theory
    * prices the DYNAMICS — how much buffer survives a bad RUN, not a
    * bad day. One exact moment pass; the curve is pure literal
    * arithmetic per grid point; the exponential-severity assumption
    * is the stated model (its fit is exactly what agg-weibull-fit /
    * agg-gpd-pot interrogate). */
  val aggLundbergRuin: Q = (s, d) => {
    val mu = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
        .as("v"))
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"), sum("v").as("sv"))
      .select(col("n").cast(LongType).as("n_days"),
        (col("sv").cast(DoubleType) / col("n").cast(DoubleType)).as("mu"))
    mu.select(col("n_days"), col("mu"),
        explode(expr("sequence(1, 10)")).as("reserve_mean_days"))
      .select(col("reserve_mean_days"),
        round(col("mu") / 100, 2).as("mean_daily_usd"),
        // ψ(u) = exp(−θu/((1+θ)μ))/(1+θ), θ=0.1, u = k·μ ⇒ exponent
        // −0.1k/1.1 — μ cancels, the curve depends only on k and θ
        round(exp(lit(-0.1) * col("reserve_mean_days") / lit(1.1)) / lit(1.1), 6)
          .as("ruin_probability"))
      .withColumn("acceptable_1pct", col("ruin_probability") < lit(0.01))
      .orderBy("reserve_mean_days")
  }

  val aggLundbergRuinSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS v
      |  FROM orders GROUP BY 1),
      |mu AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_days,
      |         CAST(sum(v) AS DOUBLE) / count(*) AS mu
      |  FROM daily)
      |SELECT k AS reserve_mean_days,
      |       round(mu / 100, 2) AS mean_daily_usd,
      |       round(exp(-0.1 * k / 1.1) / 1.1, 6) AS ruin_probability,
      |       round(exp(-0.1 * k / 1.1) / 1.1, 6) < 0.01 AS acceptable_1pct
      |FROM mu CROSS JOIN (SELECT unnest(range(1, 11)) AS k) g
      |ORDER BY reserve_mean_days""".stripMargin

  /** agg-extremal-index — the extremal index of daily revenue by the
    * runs declustering estimator: exceedances over the exact p95
    * order statistic, grouped into clusters separated by > 3 quiet
    * days; θ̂ = clusters/exceedances. θ = 1 means extremes arrive
    * independently (the assumption agg-gpd-pot and the return-level
    * ops SILENTLY make); θ ≪ 1 means they come in storms, and every
    * independent-exceedance return period is optimistic by the
    * factor 1/θ — this op measures the correction. Threshold by
    * exact rank; clustering is gaps-and-islands on integer day
    * indices; all counts exact. */
  val aggExtremalIndex: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
        .as("v"))
      .withColumn("ed", datediff(col("dt"), lit("1970-01-01")))
      .withColumn("rn", row_number().over(Window.orderBy(col("v").desc, col("dt"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .sharedCache()
    val exceed = daily.filter(expr("rn <= (n - pmod(n, 20)) / 20"))
      .select(col("ed"))
      .withColumn("prev", lag("ed", 1).over(Window.orderBy("ed")))
      .withColumn("newc", when(col("prev").isNull ||
        col("ed") - col("prev") > 3, 1L).otherwise(0L))
    exceed.agg(count(lit(1)).as("n_exceedances"), sum("newc").as("n_clusters"))
      .select(col("n_exceedances"), col("n_clusters"),
        ratioFloor(col("n_clusters").cast(DoubleType), col("n_exceedances"), 6)
          .as("extremal_index"))
      .withColumn("return_period_inflation",
        round(lit(1.0) / col("extremal_index"), 4))
      .withColumn("extremes_cluster", col("extremal_index") < lit(0.9))
  }

  val aggExtremalIndexSql: String =
    """WITH daily AS MATERIALIZED (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS v,
      |         datediff('day', DATE '1970-01-01', CAST(date_trunc('day', o_orderdate)
      |           AS DATE)) AS ed
      |  FROM orders GROUP BY 1),
      |ranked AS (
      |  SELECT ed, row_number() OVER (ORDER BY v DESC, dt) AS rn,
      |         count(*) OVER () AS n
      |  FROM daily),
      |exceed AS (
      |  SELECT ed, lag(ed) OVER (ORDER BY ed) AS prev
      |  FROM ranked WHERE rn <= (n - n % 20) // 20),
      |marks AS (
      |  SELECT CASE WHEN prev IS NULL OR ed - prev > 3 THEN 1 ELSE 0 END AS newc
      |  FROM exceed)
      |SELECT CAST(count(*) AS BIGINT) AS n_exceedances,
      |       CAST(sum(newc) AS BIGINT) AS n_clusters,
      |       floor(CAST(sum(newc) AS DOUBLE) * 1e6 / count(*)) / 1e6 AS extremal_index,
      |       round(1.0 / (floor(CAST(sum(newc) AS DOUBLE) * 1e6 / count(*)) / 1e6), 4)
      |         AS return_period_inflation,
      |       floor(CAST(sum(newc) AS DOUBLE) * 1e6 / count(*)) / 1e6 < 0.9
      |         AS extremes_cluster
      |FROM marks""".stripMargin

  /** agg-consolidation-opportunity — shipment-consolidation sizing:
    * customers placing MULTIPLE orders in the same ISO-agnostic week
    * (epoch-day div 7) could have merged them; the op counts the
    * mergeable orders, the share of all orders they represent, and
    * the modeled pick-and-pack savings at a $25 fixed cost per
    * avoided shipment. The logistics twin of agg-eoq-wilson (EOQ
    * sizes the BUY batch, consolidation sizes the SHIP batch), and a
    * number that is pure exact counting — orders per (customer,
    * week) minus weeks — with one integer multiplication for the
    * dollar figure. */
  val aggConsolidationOpportunity: Q = (s, d) => {
    val cw = orders(s, d)
      .groupBy(col("o_custkey"),
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-05') div 7 " +
          "AS BIGINT)").as("wk"))
      .agg(count(lit(1)).as("k"))
    cw.agg(sum("k").as("n_orders"),
        count(lit(1)).as("n_customer_weeks"),
        sum(col("k") - 1).as("mergeable"),
        sum(when(col("k") >= 2, 1L).otherwise(0L)).as("multi_weeks"))
      .select(col("n_orders"), col("n_customer_weeks"), col("multi_weeks"),
        col("mergeable").as("avoidable_shipments"),
        ratioFloor(col("mergeable").cast(DoubleType), col("n_orders"), 6)
          .as("avoidable_share"),
        (col("mergeable") * 25).as("modeled_savings_usd"))
  }

  val aggConsolidationOpportunitySql: String =
    """WITH cw AS (
      |  SELECT o_custkey,
      |         datediff('day', DATE '1970-01-05', CAST(o_orderdate AS DATE)) // 7 AS wk,
      |         CAST(count(*) AS BIGINT) AS k
      |  FROM orders GROUP BY 1, 2)
      |SELECT CAST(sum(k) AS BIGINT) AS n_orders,
      |       CAST(count(*) AS BIGINT) AS n_customer_weeks,
      |       CAST(sum(CASE WHEN k >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS multi_weeks,
      |       CAST(sum(k - 1) AS BIGINT) AS avoidable_shipments,
      |       floor(CAST(sum(k - 1) AS DOUBLE) * 1e6 / sum(k)) / 1e6 AS avoidable_share,
      |       CAST(sum(k - 1) * 25 AS BIGINT) AS modeled_savings_usd
      |FROM cw""".stripMargin

  /** dq-imr-chart — the individuals & moving-range control chart on
    * daily revenue: center line = exact mean, control limits
    * ±2.66·M̄R (the n=1 SPC standard — agg-xbar-r-chart needs
    * subgroups, but a daily KPI has exactly one observation per
    * period, which is why I-MR is the chart ops teams actually run),
    * with the violation count and the worst 5 excursions. Moving
    * ranges are exact integer |Δ|; M̄R and the limits are single
    * closed forms from exact sums; violations are decided on the
    * integer inequality |xᵢ·n − Σx|·M̄R_den > 2.66·... evaluated in
    * one deterministic double expression per row (identical both
    * engines). */
  val dqImrChart: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
        .as("v"))
      .withColumn("mr", abs(col("v") - lag("v", 1).over(Window.orderBy("dt"))))
      .sharedCache()
    val stats = daily.agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
      sum("v").as("sv"), sum("mr").as("smr"),
      count(col("mr")).cast(DecimalType(38, 0)).as("nmr"))
    val flagged = daily.crossJoin(broadcast(stats))
      .withColumn("dev", abs(col("v").cast(DoubleType) -
        col("sv").cast(DoubleType) / col("n").cast(DoubleType)))
      .withColumn("limit", lit(2.66) * col("smr").cast(DoubleType) /
        col("nmr").cast(DoubleType))
      .sharedCache()
    val viol = flagged.filter(col("dev") > col("limit"))
      .agg(count(lit(1)).as("n_violations"))
    flagged.filter(col("dev") > col("limit"))
      .orderBy((col("dev") - col("limit")).desc, col("dt"))
      .limit(5)
      .crossJoin(broadcast(viol))
      .select(col("dt").as("day"),
        round(col("v").cast(DoubleType) / 100, 2).as("revenue_usd"),
        round(col("dev") / 100, 2).as("deviation_usd"),
        round(col("limit") / 100, 2).as("control_limit_usd"),
        col("n_violations"))
      .orderBy(col("deviation_usd").desc, col("day"))
  }

  val dqImrChartSql: String =
    """WITH daily AS MATERIALIZED (
      |  SELECT dt, v, abs(v - lag(v) OVER (ORDER BY dt)) AS mr
      |  FROM (
      |    SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |                AS HUGEINT) AS v
      |    FROM orders GROUP BY 1) t),
      |stats AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(v) AS HUGEINT) AS sv,
      |         CAST(sum(mr) AS HUGEINT) AS smr,
      |         CAST(count(mr) AS HUGEINT) AS nmr
      |  FROM daily),
      |flagged AS MATERIALIZED (
      |  SELECT dt, v,
      |         abs(CAST(v AS DOUBLE) - CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) AS dev,
      |         2.66 * CAST(smr AS DOUBLE) / CAST(nmr AS DOUBLE) AS lim
      |  FROM daily CROSS JOIN stats),
      |viol AS (SELECT CAST(count(*) AS BIGINT) AS n_violations
      |         FROM flagged WHERE dev > lim)
      |SELECT dt AS day, round(CAST(v AS DOUBLE) / 100, 2) AS revenue_usd,
      |       round(dev / 100, 2) AS deviation_usd,
      |       round(lim / 100, 2) AS control_limit_usd,
      |       n_violations
      |FROM (SELECT * FROM flagged WHERE dev > lim
      |      ORDER BY dev - lim DESC, dt LIMIT 5) top
      |CROSS JOIN viol
      |ORDER BY deviation_usd DESC, day""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-lundberg-ruin", aggLundbergRuin, aggLundbergRuinSql),
    Key("agg-extremal-index", aggExtremalIndex, aggExtremalIndexSql),
    Key("agg-consolidation-opportunity", aggConsolidationOpportunity, aggConsolidationOpportunitySql),
    Key("dq-imr-chart", dqImrChart, dqImrChartSql))
}
