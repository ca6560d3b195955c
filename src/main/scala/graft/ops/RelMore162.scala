package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch BK: Roll effective spread, Kyle lambda, Cornish-Fisher
  * VaR, Omega ratio — the market-microstructure/risk quartet on the
  * daily revenue series. */
object RelMore162 extends KeyModule {

  /** Daily revenue in exact integer cents with the day's order count —
    * the shared base series for this batch. One shuffle on the date
    * key; at 100 TB the same groupBy is the canonical partial-agg
    * pattern (map-side combine collapses each input split to ≤|days|
    * rows before the exchange). */
  private def dailyCents(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
        .as("v"),
        count(lit(1)).as("cnt"))

  private val dailyCentsSql: String =
    """SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |            AS HUGEINT) AS v,
      |       CAST(count(*) AS BIGINT) AS cnt
      |FROM orders GROUP BY 1""".stripMargin

  /** agg-roll-spread — Roll's (1984) implied effective spread from the
    * serial covariance of consecutive changes: bid-ask bounce makes
    * successive transaction-price changes negatively autocorrelated,
    * and spread = 2·√(−cov(Δvₜ, Δvₜ₋₁)) recovers the bounce magnitude
    * without observing quotes. Applied to daily revenue the same
    * estimator reads out mean-reverting day-to-day noise vs drift: a
    * defined spread (negative autocovariance) says tomorrow corrects
    * today. Δ and all cross-products are exact integers summed in
    * DECIMAL(38,0) (Δ² can exceed 2⁵³); only the final covariance →
    * √ step runs in double, identically in both engines. */
  val aggRollSpread: Q = (s, d) => {
    val dv = dailyCents(s, d)
      .withColumn("dv", col("v") - lag("v", 1).over(Window.orderBy("dt")))
      .withColumn("dvp", lag("dv", 1).over(Window.orderBy("dt")))
      .filter(col("dv").isNotNull && col("dvp").isNotNull)
    dv.agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum("dv").as("sx"), sum("dvp").as("sy"),
        sum(col("dv") * col("dvp")).as("sxy"))
      .select(col("n").cast(LongType).as("n_pairs"),
        ((col("sxy").cast(DoubleType) - col("sx").cast(DoubleType) *
          col("sy").cast(DoubleType) / col("n").cast(DoubleType)) /
          col("n").cast(DoubleType)).as("autocov"))
      .select(col("n_pairs"),
        round(col("autocov") / 1e4, 4).as("autocov_usd2"),
        (col("autocov") < 0).as("spread_defined"),
        round(when(col("autocov") < 0,
          lit(2.0) * sqrt(-col("autocov")) / 100).otherwise(lit(0.0)), 2)
          .as("roll_spread_usd"))
  }

  val aggRollSpreadSql: String =
    s"""WITH daily AS ($dailyCentsSql),
      |diffs AS (
      |  SELECT dv, lag(dv) OVER (ORDER BY dt) AS dvp
      |  FROM (SELECT dt, v - lag(v) OVER (ORDER BY dt) AS dv FROM daily) t
      |  WHERE dv IS NOT NULL),
      |mom AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |         CAST(sum(dv) AS HUGEINT) AS sx, CAST(sum(dvp) AS HUGEINT) AS sy,
      |         CAST(sum(dv * dvp) AS HUGEINT) AS sxy
      |  FROM diffs WHERE dvp IS NOT NULL),
      |cov AS (
      |  SELECT CAST(n AS BIGINT) AS n_pairs,
      |         (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
      |            / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS autocov
      |  FROM mom)
      |SELECT n_pairs, round(autocov / 1e4, 4) AS autocov_usd2,
      |       autocov < 0 AS spread_defined,
      |       round(CASE WHEN autocov < 0 THEN 2.0 * sqrt(-autocov) / 100
      |                  ELSE 0.0 END, 2) AS roll_spread_usd
      |FROM cov""".stripMargin

  /** agg-kyle-lambda — Kyle's (1985) price-impact coefficient, proxied
    * on the daily series: λ = cov(|Δv|, volume)/var(volume), the OLS
    * slope of absolute revenue change on order count. λ prices
    * illiquidity (how much one extra unit of flow moves the level) —
    * the regression twin of win-amihud-illiq's ratio estimator, and
    * the stated proxy (daily |Δrevenue| for |Δprice|, order count for
    * signed flow) is documented rather than hidden. All sums exact in
    * DECIMAL(38,0); slope/intercept/r² are closed-form doubles. */
  val aggKyleLambda: Q = (s, d) => {
    val base = dailyCents(s, d)
      .withColumn("adv", abs(col("v") - lag("v", 1).over(Window.orderBy("dt"))))
      .filter(col("adv").isNotNull)
    base.agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum(col("cnt").cast(DecimalType(38, 0))).as("sx"),
        sum("adv").as("sy"),
        sum(col("cnt") * col("cnt")).cast(DecimalType(38, 0)).as("sxx"),
        sum(col("adv") * col("cnt")).as("sxy"),
        sum(col("adv") * col("adv")).as("syy"))
      .select(col("n").cast(LongType).as("n_days"),
        col("n").cast(DoubleType).as("nd"),
        col("sx").cast(DoubleType).as("sx"), col("sy").cast(DoubleType).as("sy"),
        col("sxx").cast(DoubleType).as("sxx"), col("sxy").cast(DoubleType).as("sxy"),
        col("syy").cast(DoubleType).as("syy"))
      .withColumn("lambda_cents", (col("nd") * col("sxy") - col("sx") * col("sy")) /
        (col("nd") * col("sxx") - col("sx") * col("sx")))
      .select(col("n_days"),
        round(col("lambda_cents") / 100, 4).as("kyle_lambda_usd_per_order"),
        round((col("sy") - col("lambda_cents") * col("sx")) / col("nd") / 100, 2)
          .as("intercept_usd"),
        round((col("nd") * col("sxy") - col("sx") * col("sy")) *
          (col("nd") * col("sxy") - col("sx") * col("sy")) /
          ((col("nd") * col("sxx") - col("sx") * col("sx")) *
           (col("nd") * col("syy") - col("sy") * col("sy"))), 4).as("r2"),
        (col("lambda_cents") > 0).as("impact_positive"))
  }

  val aggKyleLambdaSql: String =
    s"""WITH daily AS ($dailyCentsSql),
      |base AS (
      |  SELECT abs(v - lag(v) OVER (ORDER BY dt)) AS adv, cnt
      |  FROM daily QUALIFY adv IS NOT NULL),
      |mom AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |         CAST(sum(CAST(cnt AS HUGEINT)) AS HUGEINT) AS sx,
      |         CAST(sum(adv) AS HUGEINT) AS sy,
      |         CAST(sum(CAST(cnt AS HUGEINT) * cnt) AS HUGEINT) AS sxx,
      |         CAST(sum(adv * cnt) AS HUGEINT) AS sxy,
      |         CAST(sum(adv * adv) AS HUGEINT) AS syy
      |  FROM base),
      |f AS (
      |  SELECT CAST(n AS BIGINT) AS n_days, CAST(n AS DOUBLE) AS nd,
      |         CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
      |         CAST(sxx AS DOUBLE) AS sxx, CAST(sxy AS DOUBLE) AS sxy,
      |         CAST(syy AS DOUBLE) AS syy,
      |         (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
      |           (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS lambda_cents
      |  FROM mom)
      |SELECT n_days,
      |       round(lambda_cents / 100, 4) AS kyle_lambda_usd_per_order,
      |       round((sy - lambda_cents * sx) / nd / 100, 2) AS intercept_usd,
      |       round((nd * sxy - sx * sy) * (nd * sxy - sx * sy) /
      |             ((nd * sxx - sx * sx) * (nd * syy - sy * sy)), 4) AS r2,
      |       lambda_cents > 0 AS impact_positive
      |FROM f""".stripMargin

  /** agg-cornish-fisher-var — the Cornish-Fisher expansion of the 5%
    * quantile of daily revenue: z_cf = z + (z²−1)S/6 + (z³−3z)K/24 −
    * (2z³−5z)S²/36 at z = −1.6449, with S/K the exact-moment skew and
    * excess kurtosis. CF-VaR is the standard "normal VaR is wrong in
    * the tails" correction — it bends the Gaussian quantile by the
    * observed asymmetry and fat tails without fitting a distribution
    * — and the op reports it against BOTH the naive normal quantile
    * and the exact empirical 5th-percentile order statistic, so the
    * expansion's error is itself visible. Central moments from exact
    * raw power sums in DECIMAL(38,0) (v⁴ ≈ 10⁴⁰·days needs the wide
    * scale... raw cents⁴ overflows even decimal(38) at ~1e9 cents, so
    * moments are computed on v/100 = whole dollars, stated); one
    * deterministic double expression per output. */
  val aggCornishFisherVar: Q = (s, d) => {
    // dollars, truncated identically in both engines: v div 100
    val base = dailyCents(s, d)
      .select((col("v") - pmod(col("v"), lit(100))).divide(lit(100))
        .cast(DecimalType(38, 0)).as("u"))
    val mom = base.agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
      sum("u").as("s1"), sum(col("u") * col("u")).as("s2"),
      sum(col("u") * col("u") * col("u")).as("s3"),
      sum(col("u") * col("u") * col("u") * col("u")).as("s4"))
    val emp = dailyCents(s, d)
      .withColumn("rn", row_number().over(Window.orderBy(col("v"), col("dt"))))
      .withColumn("nn", count(lit(1)).over(Window.partitionBy()))
      // ceil(0.05 n) lower order statistic, exact
      .filter(col("rn") === expr("CAST(ceil(0.05 * nn) AS BIGINT)"))
      .select(round(col("v").cast(DoubleType) / 100, 2).as("empirical_q05_usd"))
    mom.crossJoin(broadcast(emp))
      .select(col("n").cast(LongType).as("n_days"),
        col("n").cast(DoubleType).as("nd"),
        col("s1").cast(DoubleType).as("s1"), col("s2").cast(DoubleType).as("s2"),
        col("s3").cast(DoubleType).as("s3"), col("s4").cast(DoubleType).as("s4"),
        col("empirical_q05_usd"))
      .withColumn("m", col("s1") / col("nd"))
      .withColumn("v2", col("s2") / col("nd") - col("m") * col("m"))
      .withColumn("sd", sqrt(col("v2")))
      .withColumn("m3", (col("s3") - lit(3.0) * col("m") * col("s2") +
        lit(2.0) * col("nd") * col("m") * col("m") * col("m")) / col("nd"))
      .withColumn("m4", (col("s4") - lit(4.0) * col("m") * col("s3") +
        lit(6.0) * col("m") * col("m") * col("s2") -
        lit(3.0) * col("nd") * col("m") * col("m") * col("m") * col("m")) / col("nd"))
      .withColumn("skew", col("m3") / (col("sd") * col("sd") * col("sd")))
      .withColumn("exkurt", col("m4") / (col("v2") * col("v2")) - lit(3.0))
      .withColumn("zcf", lit(-1.6449) +
        (lit(-1.6449) * lit(-1.6449) - lit(1.0)) * col("skew") / lit(6.0) +
        (lit(-1.6449) * lit(-1.6449) * lit(-1.6449) - lit(3.0) * lit(-1.6449)) *
          col("exkurt") / lit(24.0) -
        (lit(2.0) * lit(-1.6449) * lit(-1.6449) * lit(-1.6449) -
          lit(5.0) * lit(-1.6449)) * col("skew") * col("skew") / lit(36.0))
      .select(col("n_days"),
        round(col("skew"), 4).as("skew"),
        round(col("exkurt"), 4).as("excess_kurtosis"),
        round(col("m") + lit(-1.6449) * col("sd"), 2).as("normal_q05_usd"),
        round(col("m") + col("zcf") * col("sd"), 2).as("cf_q05_usd"),
        round((col("zcf") - lit(-1.6449)) * col("sd"), 2).as("cf_adjustment_usd"),
        col("empirical_q05_usd"))
  }

  val aggCornishFisherVarSql: String =
    s"""WITH daily AS MATERIALIZED ($dailyCentsSql),
      |base AS (SELECT CAST((v - v % 100) // 100 AS HUGEINT) AS u FROM daily),
      |mom AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(u) AS HUGEINT) AS s1,
      |         CAST(sum(u * u) AS HUGEINT) AS s2,
      |         CAST(sum(u * u * u) AS HUGEINT) AS s3,
      |         CAST(sum(u * u * u * u) AS HUGEINT) AS s4
      |  FROM base),
      |emp AS (
      |  SELECT round(CAST(v AS DOUBLE) / 100, 2) AS empirical_q05_usd
      |  FROM (SELECT v, row_number() OVER (ORDER BY v, dt) AS rn,
      |               count(*) OVER () AS nn
      |        FROM daily) t
      |  WHERE rn = CAST(ceil(0.05 * nn) AS BIGINT)),
      |f AS (
      |  SELECT CAST(n AS BIGINT) AS n_days, CAST(n AS DOUBLE) AS nd,
      |         CAST(s1 AS DOUBLE) AS s1, CAST(s2 AS DOUBLE) AS s2,
      |         CAST(s3 AS DOUBLE) AS s3, CAST(s4 AS DOUBLE) AS s4,
      |         empirical_q05_usd
      |  FROM mom CROSS JOIN emp),
      |g AS (
      |  SELECT *, s1 / nd AS m, s2 / nd - (s1 / nd) * (s1 / nd) AS v2,
      |         sqrt(s2 / nd - (s1 / nd) * (s1 / nd)) AS sd
      |  FROM f),
      |h AS (
      |  SELECT *,
      |         (s3 - 3.0 * m * s2 + 2.0 * nd * m * m * m) / nd AS m3,
      |         (s4 - 4.0 * m * s3 + 6.0 * m * m * s2 - 3.0 * nd * m * m * m * m)
      |           / nd AS m4
      |  FROM g),
      |i AS (
      |  SELECT *, m3 / (sd * sd * sd) AS skew, m4 / (v2 * v2) - 3.0 AS exkurt
      |  FROM h),
      |j AS (
      |  SELECT *, -1.6449 + ((-1.6449) * (-1.6449) - 1.0) * skew / 6.0 +
      |         ((-1.6449) * (-1.6449) * (-1.6449) - 3.0 * (-1.6449)) * exkurt / 24.0 -
      |         (2.0 * (-1.6449) * (-1.6449) * (-1.6449) - 5.0 * (-1.6449)) *
      |           skew * skew / 36.0 AS zcf
      |  FROM i)
      |SELECT n_days, round(skew, 4) AS skew, round(exkurt, 4) AS excess_kurtosis,
      |       round(m + (-1.6449) * sd, 2) AS normal_q05_usd,
      |       round(m + zcf * sd, 2) AS cf_q05_usd,
      |       round((zcf - (-1.6449)) * sd, 2) AS cf_adjustment_usd,
      |       empirical_q05_usd
      |FROM j""".stripMargin

  /** agg-omega-ratio — the Omega ratio of daily revenue at thresholds
    * 0.9·mean, mean, 1.1·mean: Ω(τ) = Σ(v−τ)⁺ / Σ(τ−v)⁺, the
    * probability-weighted gain/loss ratio that uses the WHOLE
    * distribution (Sharpe uses two moments, Sortino one tail; Omega
    * is the full-distribution refinement — Ω(mean) > 1 iff gains
    * outweigh shortfalls at that bar). Exactness: v−τ is rational
    * (τ = k·Σv/(10n)), so the op compares 10·n·v against k·Σv in
    * integers — the positive parts are exact HUGEINT/decimal sums and
    * the single division per row is the output step. */
  val aggOmegaRatio: Q = (s, d) => {
    val daily = dailyCents(s, d).sharedCache()
    val tot = daily.agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
      sum("v").as("sv"))
    daily.crossJoin(broadcast(tot))
      .select(explode(expr("sequence(9, 11)")).as("k"), col("v"), col("n"), col("sv"))
      // gain⁺/loss⁺ in exact integers: sign(10·n·v − k·Σv)
      .withColumn("g", greatest(col("v") * col("n") * 10 - col("sv") * col("k"),
        lit(0).cast(DecimalType(38, 0))))
      .withColumn("l", greatest(col("sv") * col("k") - col("v") * col("n") * 10,
        lit(0).cast(DecimalType(38, 0))))
      .groupBy((col("k").cast(DoubleType) / 10).as("threshold_factor"))
      .agg(sum("g").as("sg"), sum("l").as("sl"),
        sum(when(col("g") > 0, 1L).otherwise(0L)).as("days_above"))
      .select(col("threshold_factor"), col("days_above"),
        round(col("sg").cast(DoubleType) / col("sl").cast(DoubleType), 4)
          .as("omega"))
      .orderBy("threshold_factor")
  }

  val aggOmegaRatioSql: String =
    s"""WITH daily AS MATERIALIZED ($dailyCentsSql),
      |tot AS (SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(v) AS HUGEINT) AS sv
      |        FROM daily),
      |ex AS (
      |  SELECT k, greatest(CAST(v AS HUGEINT) * n * 10 - sv * k, 0) AS g,
      |         greatest(sv * k - CAST(v AS HUGEINT) * n * 10, 0) AS l
      |  FROM daily CROSS JOIN tot
      |  CROSS JOIN (SELECT unnest(range(9, 12)) AS k) grid)
      |SELECT CAST(k AS DOUBLE) / 10 AS threshold_factor,
      |       CAST(sum(CASE WHEN g > 0 THEN 1 ELSE 0 END) AS BIGINT) AS days_above,
      |       round(CAST(sum(g) AS DOUBLE) / CAST(sum(l) AS DOUBLE), 4) AS omega
      |FROM ex GROUP BY k
      |ORDER BY threshold_factor""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-roll-spread", aggRollSpread, aggRollSpreadSql),
    Key("agg-kyle-lambda", aggKyleLambda, aggKyleLambdaSql),
    Key("agg-cornish-fisher-var", aggCornishFisherVar, aggCornishFisherVarSql),
    Key("agg-omega-ratio", aggOmegaRatio, aggOmegaRatioSql))
}
