package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch AK: KPSS stationarity test, Wilson EOQ, Pratt
  * importance decomposition, Sortino downside ratio. */
object RelMore136 extends KeyModule {

  /** dq-kpss-stationarity — the KPSS test on daily revenue, the
    * REVERSED-null partner of dq-dickey-fuller: DF's null is a unit
    * root (failure to reject ⇏ stationary), KPSS's null IS
    * stationarity, so running both classifies the series into
    * stationary / unit-root / inconclusive — the two-test protocol
    * any forecasting pipeline should gate on. η = n⁻²ΣS_t²/σ̂²_lr
    * with Bartlett long-run variance at the standard l =
    * ⌊4(n/100)^¼⌋. Everything is exact integer arithmetic via the
    * clearing-denominator trick: centered values enter as
    * xc_t = n·x_t − Σx (integers), partial sums via one prefix
    * window, lag-j autocovariance products via an exploded bounded
    * lag join (l ≤ 9 rows per day, daily-grain series — the full
    * scan is only the upstream daily aggregate), and Bartlett
    * weights clear through (l+1). One double division at output
    * against the 5% critical value 0.463. */
  val dqKpssStationarity: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
        .as("x"))
      .withColumn("idx", row_number().over(Window.orderBy("dt")))
      .sharedCache()
    val tot = daily.agg(count(lit(1)).as("n"), sum("x").as("tx"),
        floor(lit(4.0) * pow(count(lit(1)).cast(DoubleType) / lit(100.0), lit(0.25)))
          .cast(IntegerType).as("l"))
    val cent = daily.crossJoin(broadcast(tot))
      .select(col("idx"), col("n"), col("l"),
        (col("n") * col("x") - col("tx")).as("xc"))
      .sharedCache()
    // ΣA_t² where A_t = n·S_t (prefix sums of centered values)
    val sums = cent
      .withColumn("a", sum("xc").over(Window.orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .agg(sum(expr("a * a")).as("sa2"))
    // lag-j cross products: γ_j·n³ = Σ xc_t·xc_{t−j}, j = 0..l
    val lagged = cent.select(col("idx"), col("xc"), col("l"),
        explode(expr("sequence(0, l)")).as("j"))
      .select(col("idx"), col("xc"), col("j"), (col("idx") - col("j")).as("pidx"))
    val gam = lagged.join(cent.select(col("idx").as("pidx"), col("xc").as("xcp")),
        Seq("pidx"))
      .groupBy("j").agg(sum(expr("xc * xcp")).as("g"))
    // σ̂²·n³·(l+1) = (l+1)γ₀n³ + 2Σ_{j=1..l}(l+1−j)γ_jn³ — exact
    val lrv = gam.crossJoin(broadcast(tot.select("l")))
      .select(when(col("j") === 0, (col("l") + 1) * col("g"))
        .otherwise(lit(2) * (col("l") + 1 - col("j")) * col("g")).as("t"))
      .agg(sum("t").as("s2num"))
    sums.crossJoin(broadcast(lrv)).crossJoin(broadcast(tot))
      .select(col("n").as("n_days"), col("l").as("bartlett_lag"),
        // η = ΣA_t²·(l+1) / (n·σ̂²n³(l+1))
        round(col("sa2").cast(DoubleType) * (col("l") + 1) /
          (col("n").cast(DoubleType) * col("s2num").cast(DoubleType)), 6).as("kpss_eta"))
      .withColumn("level_stationary", col("kpss_eta") < lit(0.463))
  }

  val dqKpssStationaritySql: String =
    """WITH daily AS MATERIALIZED (
      |  SELECT CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS x,
      |         row_number() OVER (ORDER BY CAST(date_trunc('day', o_orderdate) AS DATE))
      |           AS idx
      |  FROM orders GROUP BY CAST(date_trunc('day', o_orderdate) AS DATE)),
      |tot AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(x) AS HUGEINT) AS tx,
      |         CAST(floor(4.0 * pow(count(*) / 100.0, 0.25)) AS INTEGER) AS l
      |  FROM daily),
      |cent AS MATERIALIZED (
      |  SELECT idx, n, l, n * x - tx AS xc FROM daily CROSS JOIN tot),
      |sums AS (
      |  SELECT CAST(sum(a * a) AS HUGEINT) AS sa2 FROM (
      |    SELECT sum(xc) OVER (ORDER BY idx
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a
      |    FROM cent) t),
      |gam AS (
      |  SELECT j, CAST(sum(c.xc * p.xc) AS HUGEINT) AS g
      |  FROM (SELECT idx, xc, unnest(range(0, l + 1)) AS j FROM cent) c
      |  JOIN cent p ON p.idx = c.idx - c.j
      |  GROUP BY j),
      |lrv AS (
      |  SELECT CAST(sum(CASE WHEN j = 0 THEN (l + 1) * g
      |                       ELSE 2 * (l + 1 - j) * g END) AS HUGEINT) AS s2num
      |  FROM gam CROSS JOIN (SELECT l FROM tot) lt)
      |SELECT CAST(n AS BIGINT) AS n_days, l AS bartlett_lag,
      |       round(CAST(sa2 AS DOUBLE) * (l + 1) /
      |             (CAST(n AS DOUBLE) * CAST(s2num AS DOUBLE)), 6) AS kpss_eta,
      |       round(CAST(sa2 AS DOUBLE) * (l + 1) /
      |             (CAST(n AS DOUBLE) * CAST(s2num AS DOUBLE)), 6) < 0.463
      |         AS level_stationary
      |FROM sums CROSS JOIN lrv CROSS JOIN tot""".stripMargin

  /** agg-eoq-wilson — Wilson economic order quantity per brand:
    * EOQ = √(2DS/H) with annual demand D from the data's own span,
    * fixed ordering cost S = $100, and holding cost H = 20% of the
    * brand's realized average unit price. EOQ is the missing middle
    * of the inventory suite — agg-newsvendor-fractile sizes ONE
    * period's buy, agg-risk-pooling sizes WHERE to hold, EOQ sizes
    * the reorder BATCH, and its √D scaling is the quantitative form
    * of the square-root law the pooling op measures. The entire
    * radicand clears to one exact integer ratio (2S·D/H =
    * 100000·Q²ᵗᵒᵗ/(years·E_cents) after substituting H =
    * E_cents/(5·Qtot)); one sqrt per brand at output. Single
    * aggregate over lineitem⋈part (broadcast dim). */
  val aggEoqWilson: Q = (s, d) => {
    val yrs = lineitem(s, d)
      .agg(count_distinct(year(col("l_shipdate"))).as("n_years"))
    val g = lineitem(s, d)
      .join(part(s, d).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(sum(expr("CAST(l_quantity AS DECIMAL(38,0))")).as("qt"),
        sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
          .as("ec"))
    g.crossJoin(broadcast(yrs))
      .select(col("brand"),
        ratioFloor(col("qt").cast(DoubleType), col("n_years"), 1).as("annual_demand"),
        // EOQ² = 100000·qt²/(years·ec)
        round(sqrt(lit(100000.0) * col("qt").cast(DoubleType) * col("qt").cast(DoubleType) /
          (col("n_years").cast(DoubleType) * col("ec").cast(DoubleType))), 2).as("eoq_units"))
      .select(col("brand"), col("annual_demand"), col("eoq_units"),
        round(col("annual_demand") / col("eoq_units"), 2).as("orders_per_year"),
        round(lit(365.0) * col("eoq_units") / col("annual_demand"), 1).as("cycle_days"))
      .orderBy("brand")
  }

  val aggEoqWilsonSql: String =
    """WITH yrs AS (
      |  SELECT CAST(count(DISTINCT year(l_shipdate)) AS BIGINT) AS n_years FROM lineitem),
      |g AS (
      |  SELECT p_brand AS brand,
      |         CAST(sum(CAST(l_quantity AS HUGEINT)) AS HUGEINT) AS qt,
      |         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS ec
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1),
      |m AS (
      |  SELECT brand,
      |         floor(CAST(qt AS DOUBLE) * 1e1 / n_years) / 1e1 AS annual_demand,
      |         round(sqrt(100000.0 * CAST(qt AS DOUBLE) * CAST(qt AS DOUBLE) /
      |               (CAST(n_years AS DOUBLE) * CAST(ec AS DOUBLE))), 2) AS eoq_units
      |  FROM g CROSS JOIN yrs)
      |SELECT brand, annual_demand, eoq_units,
      |       round(annual_demand / eoq_units, 2) AS orders_per_year,
      |       round(365.0 * eoq_units / annual_demand, 1) AS cycle_days
      |FROM m ORDER BY brand""".stripMargin

  /** agg-pratt-importance — Pratt's axiomatic variance decomposition
    * of the two-regressor revenue model (extendedprice on quantity,
    * discount): share_i = β̂ᵢ·r_yᵢ/R², the unique importance measure
    * that sums EXACTLY to 1 and stays well-defined under correlated
    * regressors — the answer to "which driver owns the R²" that raw
    * standardized betas double-count when dq-vif-collinearity reports
    * inflation. Closed form from the 2×2 correlation system (β₁ =
    * (r_y1−r_y2·r₁₂)/(1−r₁₂²)); all correlations from ONE exact
    * integer moment pass over lossless quantizations (quantity,
    * cents, basis points); the 2-row output explodes from the single
    * scalar row. A negative share is a genuine suppression diagnosis,
    * not an error — reported, not clamped. */
  val aggPrattImportance: Q = (s, d) => {
    val m = lineitem(s, d)
      .select(expr("CAST(l_quantity AS DECIMAL(38,0))").as("x"),
        expr("CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS DECIMAL(38,0))").as("z"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))").as("y"))
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum("x").as("sx"), sum("z").as("sz"), sum("y").as("sy"),
        sum(expr("x * x")).as("sxx"), sum(expr("z * z")).as("szz"),
        sum(expr("y * y")).as("syy"), sum(expr("x * z")).as("sxz"),
        sum(expr("x * y")).as("sxy"), sum(expr("z * y")).as("szy"))
      .select(
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType) *
            (col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType))).as("ry1"),
        ((col("n") * col("szy") - col("sz") * col("sy")).cast(DoubleType) /
          sqrt((col("n") * col("szz") - col("sz") * col("sz")).cast(DoubleType) *
            (col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType))).as("ry2"),
        ((col("n") * col("sxz") - col("sx") * col("sz")).cast(DoubleType) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType) *
            (col("n") * col("szz") - col("sz") * col("sz")).cast(DoubleType))).as("r12"))
      .withColumn("b1", (col("ry1") - col("ry2") * col("r12")) /
        (lit(1.0) - col("r12") * col("r12")))
      .withColumn("b2", (col("ry2") - col("ry1") * col("r12")) /
        (lit(1.0) - col("r12") * col("r12")))
      .withColumn("r2", col("b1") * col("ry1") + col("b2") * col("ry2"))
    m.select(explode(array(
        struct(lit("l_quantity").as("regressor"),
          round(col("b1"), 6).as("beta_std"),
          round(col("ry1"), 6).as("corr_y"),
          round(col("b1") * col("ry1") / col("r2"), 6).as("pratt_share")),
        struct(lit("l_discount").as("regressor"),
          round(col("b2"), 6).as("beta_std"),
          round(col("ry2"), 6).as("corr_y"),
          round(col("b2") * col("ry2") / col("r2"), 6).as("pratt_share")))).as("r"))
      .select(col("r.regressor"), col("r.beta_std"), col("r.corr_y"), col("r.pratt_share"))
      .orderBy("regressor")
  }

  val aggPrattImportanceSql: String =
    """WITH m AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |         CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(z) AS HUGEINT) AS sz,
      |         CAST(sum(y) AS HUGEINT) AS sy,
      |         CAST(sum(x * x) AS HUGEINT) AS sxx, CAST(sum(z * z) AS HUGEINT) AS szz,
      |         CAST(sum(y * y) AS HUGEINT) AS syy, CAST(sum(x * z) AS HUGEINT) AS sxz,
      |         CAST(sum(x * y) AS HUGEINT) AS sxy, CAST(sum(z * y) AS HUGEINT) AS szy
      |  FROM (
      |    SELECT CAST(l_quantity AS HUGEINT) AS x,
      |           CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS HUGEINT) AS z,
      |           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT) AS y
      |    FROM lineitem) t),
      |r AS (
      |  SELECT CAST(n * sxy - sx * sy AS DOUBLE) /
      |           sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
      |           AS ry1,
      |         CAST(n * szy - sz * sy AS DOUBLE) /
      |           sqrt(CAST(n * szz - sz * sz AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
      |           AS ry2,
      |         CAST(n * sxz - sx * sz AS DOUBLE) /
      |           sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * szz - sz * sz AS DOUBLE))
      |           AS r12
      |  FROM m),
      |bb AS (
      |  SELECT ry1, ry2, r12,
      |         (ry1 - ry2 * r12) / (1.0 - r12 * r12) AS b1,
      |         (ry2 - ry1 * r12) / (1.0 - r12 * r12) AS b2
      |  FROM r),
      |fin AS (
      |  SELECT ry1, ry2, b1, b2, b1 * ry1 + b2 * ry2 AS r2 FROM bb)
      |SELECT regressor, beta_std, corr_y, pratt_share FROM (
      |  SELECT 'l_quantity' AS regressor, round(b1, 6) AS beta_std,
      |         round(ry1, 6) AS corr_y, round(b1 * ry1 / r2, 6) AS pratt_share FROM fin
      |  UNION ALL
      |  SELECT 'l_discount', round(b2, 6), round(ry2, 6), round(b2 * ry2 / r2, 6) FROM fin) u
      |ORDER BY regressor""".stripMargin

  /** agg-sortino-ratio — monthly Sortino ratio of daily revenue
    * log-returns: mean return over DOWNSIDE deviation
    * √(Σmin(r,0)²/n). The realized-vol family (agg-realized-vol,
    * win-riskmetrics-vol, agg-parkinson-vol) prices symmetric
    * dispersion; Sortino prices only the losses — two months with
    * identical σ but opposite skew get very different Sortinos, which
    * is the right lens for revenue (upside "risk" is not risk).
    * Daily log-returns are nano-floored integers (so the monthly
    * folds are exact); min(r,0) is applied to the QUANTIZED value
    * (cross-engine identical); months need ≥ 15 days. Two shuffles
    * over an additive pre-aggregate. */
  val aggSortinoRatio: Q = (s, d) => {
    val daily = orders(s, d)
      .select(trunc(col("o_orderdate"), "month").as("mth"),
        to_date(col("o_orderdate")).as("dt"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))").as("c"))
      .groupBy("mth", "dt").agg(sum("c").as("v"))
    val wm = Window.partitionBy("mth").orderBy("dt")
    val rets = daily
      .withColumn("prev", lag("v", 1).over(wm))
      .filter(col("prev").isNotNull)
      .select(col("mth"),
        floor(log(col("v").cast(DoubleType) / col("prev").cast(DoubleType)) * lit(1e9))
          .cast(LongType).as("rq"))
      .select(col("mth"), col("rq"), least(col("rq"), lit(0L)).as("dq"))
    rets.groupBy("mth")
      .agg(count(lit(1)).as("n_days"), sum("rq").as("sr"),
        sum(expr("CAST(dq AS DECIMAL(38,0)) * dq")).as("sdd"))
      .filter(col("n_days") >= 15)
      .select(col("mth").as("month"), col("n_days"),
        round(col("sr").cast(DoubleType) / col("n_days") / lit(1e9), 6).as("mean_return"),
        round(sqrt(col("sdd").cast(DoubleType) / col("n_days")) / lit(1e9), 6)
          .as("downside_dev"),
        round((col("sr").cast(DoubleType) / col("n_days")) /
          sqrt(col("sdd").cast(DoubleType) / col("n_days")), 4).as("sortino"))
      .orderBy("month")
  }

  val aggSortinoRatioSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mth,
      |         CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS v
      |  FROM orders GROUP BY 1, 2),
      |rets AS (
      |  SELECT mth,
      |         CAST(floor(ln(CAST(v AS DOUBLE) /
      |           (lag(v) OVER (PARTITION BY mth ORDER BY dt))) * 1e9) AS BIGINT) AS rq
      |  FROM daily
      |  QUALIFY lag(v) OVER (PARTITION BY mth ORDER BY dt) IS NOT NULL),
      |agg AS (
      |  SELECT mth, CAST(count(*) AS BIGINT) AS n_days,
      |         CAST(sum(rq) AS BIGINT) AS sr,
      |         CAST(sum(CAST(least(rq, 0) AS HUGEINT) * least(rq, 0)) AS HUGEINT) AS sdd
      |  FROM rets GROUP BY 1 HAVING count(*) >= 15)
      |SELECT mth AS month, n_days,
      |       round(CAST(sr AS DOUBLE) / n_days / 1e9, 6) AS mean_return,
      |       round(sqrt(CAST(sdd AS DOUBLE) / n_days) / 1e9, 6) AS downside_dev,
      |       round((CAST(sr AS DOUBLE) / n_days) /
      |             sqrt(CAST(sdd AS DOUBLE) / n_days), 4) AS sortino
      |FROM agg ORDER BY month""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("dq-kpss-stationarity", dqKpssStationarity, dqKpssStationaritySql),
    Key("agg-eoq-wilson", aggEoqWilson, aggEoqWilsonSql),
    Key("agg-pratt-importance", aggPrattImportance, aggPrattImportanceSql),
    Key("agg-sortino-ratio", aggSortinoRatio, aggSortinoRatioSql))
}
