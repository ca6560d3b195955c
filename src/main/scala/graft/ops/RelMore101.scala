package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-11 batch B: Cp/Cpk process capability, Weibull plotting-position
  * fit, per-brand price elasticity, Wilder RSI. */
object RelMore101 extends KeyModule {

  /** agg-cpk-capability — Cp/Cpk process-capability indices of shipped
    * quantity per part brand against the declared spec window [5, 45]
    * (stated literals — spec limits are a CONTRACT, not a property of
    * the data; deriving them from the sample is the classic SPC
    * mistake). Cp = spec width / 6σ says what the process COULD hold
    * if centered; Cpk = nearest-limit margin / 3σ says what it
    * actually holds — agg-xbar-r-chart monitors stability, this is
    * the acceptance number. σ is the sample std from the exact
    * nΣx²−S² integer form (quantities are integers), so both engines
    * take identical terminal divisions. One partkey-join shuffle +
    * one ≤#brands rollup. */
  val aggCpkCapability: Q = (s, d) => {
    val (lsl, usl) = (5.0, 45.0)
    val q = lineitem(s, d)
      .select(col("l_partkey"), col("l_quantity").cast(LongType).as("v"))
      .join(broadcast(part(s, d).select(col("p_partkey").as("l_partkey"), col("p_brand"))),
        Seq("l_partkey"))
    q.groupBy("p_brand")
      .agg(count(lit(1)).as("n"), sum("v").as("sx"), sum(col("v") * col("v")).as("sxx"))
      .filter(col("n") > 1)
      .select(col("p_brand"), col("n"),
        (col("sx").cast(DoubleType) / col("n")).as("mu"),
        sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType) /
          (col("n").cast(DoubleType) * (col("n") - 1))).as("sigma"))
      .select(col("p_brand"), col("n"), round(col("mu"), 4).as("mean_qty"),
        round(col("sigma"), 4).as("sigma"),
        round(lit(usl - lsl) / (lit(6.0) * col("sigma")), 4).as("cp"),
        round(least(lit(usl) - col("mu"), col("mu") - lit(lsl)) /
          (lit(3.0) * col("sigma")), 4).as("cpk"))
      .orderBy("p_brand")
  }

  val aggCpkCapabilitySql: String =
    """WITH q AS (
      |  SELECT p_brand, CAST(l_quantity AS BIGINT) AS v
      |  FROM lineitem JOIN part ON p_partkey = l_partkey),
      |m AS (
      |  SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(v) AS BIGINT) AS sx, CAST(sum(v * v) AS BIGINT) AS sxx
      |  FROM q GROUP BY 1 HAVING count(*) > 1),
      |st AS (
      |  SELECT p_brand, n, CAST(sx AS DOUBLE) / n AS mu,
      |         sqrt(CAST(n * sxx - sx * sx AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1))) AS sigma
      |  FROM m)
      |SELECT p_brand, n, round(mu, 4) AS mean_qty, round(sigma, 4) AS sigma,
      |       round((45.0 - 5.0) / (6.0 * sigma), 4) AS cp,
      |       round(least(45.0 - mu, mu - 5.0) / (3.0 * sigma), 4) AS cpk
      |FROM st ORDER BY p_brand""".stripMargin

  /** agg-weibull-fit — Weibull shape/scale of customer inter-order
    * times by median-rank-style plotting-position regression:
    * ln(−ln(1−F)) is linear in ln(t) exactly when the gaps are
    * Weibull, so the OLS slope IS the shape k (k<1 = churn risk
    * concentrates early, k>1 = wear-in) and exp(−b/k) the scale.
    * Gaps are integer DAYS, so the whole fit lives on the value
    * domain (≤ a few thousand distinct gap rows at any data size):
    * F_t = cum/(n+1) mean-rank plotting positions from one tiny
    * cumulative window, count-weighted OLS with every cross-row term
    * floor-quantized at 1e-6 (order-independent fold). */
  val aggWeibullFit: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")
    val gaps = orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), to_date(col("o_orderdate")).as("od"))
      .withColumn("gap", datediff(col("od"), lag("od", 1).over(w)))
      .filter(col("gap") > 0)
      .groupBy("gap").agg(count(lit(1)).as("c"))
    val wv = Window.orderBy("gap")
    val pts = gaps
      .withColumn("cum", sum("c").over(wv))
      .crossJoin(broadcast(gaps.agg(sum("c").as("n"))))
      .select(col("c"), col("n"),
        log(col("gap").cast(DoubleType)).as("x"),
        log(-log(lit(1.0) - col("cum").cast(DoubleType) / (col("n") + 1))).as("y"))
    val sums = pts.select(col("n"),
      floor(col("c") * col("x") * lit(1e6)).cast(LongType).as("swx"),
      floor(col("c") * col("y") * lit(1e6)).cast(LongType).as("swy"),
      floor(col("c") * col("x") * col("x") * lit(1e6)).cast(LongType).as("swxx"),
      floor(col("c") * col("x") * col("y") * lit(1e6)).cast(LongType).as("swxy"),
      floor(col("c") * col("y") * col("y") * lit(1e6)).cast(LongType).as("swyy"))
      .groupBy("n")
      .agg((sum("swx").cast(DoubleType) / 1e6).as("sx"),
        (sum("swy").cast(DoubleType) / 1e6).as("sy"),
        (sum("swxx").cast(DoubleType) / 1e6).as("sxx"),
        (sum("swxy").cast(DoubleType) / 1e6).as("sxy"),
        (sum("swyy").cast(DoubleType) / 1e6).as("syy"))
    sums.select(col("n").as("n_gaps"),
      ((col("sxy") - col("sx") * col("sy") / col("n")) /
        (col("sxx") - col("sx") * col("sx") / col("n"))).as("k"),
      col("sx"), col("sy"), col("sxx"), col("sxy"), col("syy"))
      .select(col("n_gaps"), round(col("k"), 4).as("shape_k"),
        round(exp(-(col("sy") / col("n_gaps") - col("k") * col("sx") / col("n_gaps")) /
          col("k")), 4).as("scale_days"),
        round(col("k") * col("k") *
          (col("sxx") - col("sx") * col("sx") / col("n_gaps")) /
          (col("syy") - col("sy") * col("sy") / col("n_gaps")), 4).as("r2"))
  }

  val aggWeibullFitSql: String =
    """WITH gaps AS (
      |  SELECT gap, count(*) AS c FROM (
      |    SELECT date_diff('day',
      |             lag(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
      |             CAST(o_orderdate AS DATE)) AS gap
      |    FROM orders) t
      |  WHERE gap > 0 GROUP BY gap),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM gaps),
      |pts AS (
      |  SELECT c, n, ln(CAST(gap AS DOUBLE)) AS x,
      |         ln(-ln(1.0 - CAST(sum(c) OVER (ORDER BY gap) AS DOUBLE) / (n + 1))) AS y
      |  FROM gaps CROSS JOIN tot),
      |sums AS (
      |  SELECT n,
      |         CAST(sum(CAST(floor(c * x * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS sx,
      |         CAST(sum(CAST(floor(c * y * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS sy,
      |         CAST(sum(CAST(floor(c * x * x * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS sxx,
      |         CAST(sum(CAST(floor(c * x * y * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS sxy,
      |         CAST(sum(CAST(floor(c * y * y * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS syy
      |  FROM pts GROUP BY n),
      |fit AS (
      |  SELECT n AS n_gaps,
      |         (sxy - sx * sy / n) / (sxx - sx * sx / n) AS k,
      |         sx, sy, sxx, sxy, syy
      |  FROM sums)
      |SELECT n_gaps, round(k, 4) AS shape_k,
      |       round(exp(-(sy / n_gaps - k * sx / n_gaps) / k), 4) AS scale_days,
      |       round(k * k * (sxx - sx * sx / n_gaps) / (syy - sy * sy / n_gaps), 4) AS r2
      |FROM fit""".stripMargin

  /** agg-price-elasticity — cross-sectional log-log demand regression
    * per brand: slope of ln(total units sold per part) on
    * ln(retail price) IS the price elasticity under the constant-
    * elasticity model (the number a pricing engine actually consumes;
    * agg-ols-normal-eq is the generic machinery, this is the econ op
    * on top). Per-part demand totals are exact integers; per-brand
    * OLS folds ≤#parts rows with every cross-row product
    * floor-quantized at 1e-6. Shuffles: partkey agg + broadcast dim
    * join + brand rollup — nothing global. */
  val aggPriceElasticity: Q = (s, d) => {
    val demand = lineitem(s, d)
      .groupBy("l_partkey").agg(sum(col("l_quantity").cast(LongType)).as("units"))
      .join(broadcast(part(s, d).select(col("p_partkey").as("l_partkey"),
        col("p_brand"), col("p_retailprice"))), Seq("l_partkey"))
      .select(col("p_brand"),
        log(col("p_retailprice")).as("x"), log(col("units").cast(DoubleType)).as("y"))
    demand.select(col("p_brand"),
      floor(col("x") * lit(1e6)).cast(LongType).as("qx"),
      floor(col("y") * lit(1e6)).cast(LongType).as("qy"),
      floor(col("x") * col("x") * lit(1e6)).cast(LongType).as("qxx"),
      floor(col("x") * col("y") * lit(1e6)).cast(LongType).as("qxy"),
      floor(col("y") * col("y") * lit(1e6)).cast(LongType).as("qyy"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"),
        (sum("qx").cast(DoubleType) / 1e6).as("sx"),
        (sum("qy").cast(DoubleType) / 1e6).as("sy"),
        (sum("qxx").cast(DoubleType) / 1e6).as("sxx"),
        (sum("qxy").cast(DoubleType) / 1e6).as("sxy"),
        (sum("qyy").cast(DoubleType) / 1e6).as("syy"))
      .filter(col("n") > 2)
      .select(col("p_brand"), col("n").as("n_parts"),
        round((col("sxy") - col("sx") * col("sy") / col("n")) /
          (col("sxx") - col("sx") * col("sx") / col("n")), 4).as("elasticity"),
        round(pow(col("sxy") - col("sx") * col("sy") / col("n"), 2) /
          ((col("sxx") - col("sx") * col("sx") / col("n")) *
            (col("syy") - col("sy") * col("sy") / col("n"))), 4).as("r2"))
      .orderBy("p_brand")
  }

  val aggPriceElasticitySql: String =
    """WITH demand AS (
      |  SELECT p_brand, ln(p_retailprice) AS x,
      |         ln(CAST(CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS DOUBLE)) AS y
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  GROUP BY l_partkey, p_brand, p_retailprice),
      |sums AS (
      |  SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CAST(floor(x * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS sx,
      |         CAST(sum(CAST(floor(y * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS sy,
      |         CAST(sum(CAST(floor(x * x * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS sxx,
      |         CAST(sum(CAST(floor(x * y * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS sxy,
      |         CAST(sum(CAST(floor(y * y * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS syy
      |  FROM demand GROUP BY 1 HAVING count(*) > 2)
      |SELECT p_brand, n AS n_parts,
      |       round((sxy - sx * sy / n) / (sxx - sx * sx / n), 4) AS elasticity,
      |       round(pow(sxy - sx * sy / n, 2) /
      |             ((sxx - sx * sx / n) * (syy - sy * sy / n)), 4) AS r2
      |FROM sums ORDER BY p_brand""".stripMargin

  private val RsiLags = 12
  // integer Wilder weights (13/14)^k scaled by 14^(RsiLags-1): exact longs,
  // shared verbatim by the Spark plan and the oracle text
  private val rsiW: Seq[Long] =
    (0 until RsiLags).map(k => (0 until k).map(_ => 13L).product *
      (0 until (RsiLags - 1 - k)).map(_ => 14L).product)

  /** win-rsi — Wilder's relative-strength index of daily revenue over
    * a BOUNDED 12-lag trailing frame: the textbook recursion
    * avg_t = (13·avg_{t−1} + x_t)/14 unrolls to (13/14)^k weights,
    * truncated at 12 lags (weight decayed to <0.41×) — same
    * bounded-state contract as win-ewma, O(12) per row instead of a
    * sequential scan. Weights are EXACT integers 13^k·14^(11−k)
    * (≤1.8e12, double-exact) and gains/losses exact cents; the
    * weighted sum is a FIXED-ORDER expression fold (not a row
    * aggregation), so both engines run the identical IEEE multiply/
    * add sequence and agree bit-for-bit until the one terminal
    * division. RSI = 100·G/(G+L); flat 12-lag stretches report null
    * rather than a fake 50. Series is calendar-bounded. */
  val winRsi: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val wd = Window.orderBy("dt")
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("cents"))
    val diffed = daily
      .withColumn("diff", col("cents") - lag("cents", 1).over(wd))
      .withColumn("gain", greatest(col("diff"), lit(0L)).cast(DoubleType))
      .withColumn("loss", greatest(-col("diff"), lit(0L)).cast(DoubleType))
    val g = rsiW.zipWithIndex.map { case (wt, k) =>
      lag(col("gain"), k, null).over(wd) * lit(wt) }.reduce(_ + _)
    val l = rsiW.zipWithIndex.map { case (wt, k) =>
      lag(col("loss"), k, null).over(wd) * lit(wt) }.reduce(_ + _)
    diffed
      .withColumn("gw", g).withColumn("lw", l)
      .filter(col("gw").isNotNull && col("lw").isNotNull)
      .select(col("dt"),
        when(col("gw") + col("lw") > 0,
          round(lit(100.0) * col("gw") / (col("gw") + col("lw")), 4)).as("rsi"))
      .orderBy("dt")
  }

  val winRsiSql: String = {
    val gTerms = rsiW.zipWithIndex.map { case (wt, k) =>
      s"lag(gain, $k) OVER w * $wt" }.mkString(" + ")
    val lTerms = rsiW.zipWithIndex.map { case (wt, k) =>
      s"lag(loss, $k) OVER w * $wt" }.mkString(" + ")
    s"""WITH daily AS (
       |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
       |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
       |  FROM orders GROUP BY 1),
       |diffed AS (
       |  SELECT dt,
       |         CAST(greatest(cents - lag(cents) OVER (ORDER BY dt), 0) AS DOUBLE) AS gain,
       |         CAST(greatest(lag(cents) OVER (ORDER BY dt) - cents, 0) AS DOUBLE) AS loss
       |  FROM daily),
       |weighted AS (
       |  SELECT dt, $gTerms AS gw, $lTerms AS lw
       |  FROM diffed WINDOW w AS (ORDER BY dt))
       |SELECT dt,
       |       CASE WHEN gw + lw > 0
       |            THEN round(100.0 * gw / (gw + lw), 4)
       |       END AS rsi
       |FROM weighted
       |WHERE gw IS NOT NULL AND lw IS NOT NULL
       |ORDER BY dt""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    Key("agg-cpk-capability", aggCpkCapability, aggCpkCapabilitySql),
    Key("agg-weibull-fit", aggWeibullFit, aggWeibullFitSql),
    Key("agg-price-elasticity", aggPriceElasticity, aggPriceElasticitySql),
    Key("win-rsi", winRsi, winRsiSql))
}
