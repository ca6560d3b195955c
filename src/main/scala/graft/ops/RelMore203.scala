package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-8 batch AL: cross-sectional momentum factor, winner's-curse
  * correction, tangency portfolio, Calmar ratio. */
object RelMore203 extends KeyModule {

  private val centsExpr =
    "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"

  /** agg-momentum-factor — the cross-sectional momentum anomaly test:
    * form winner/loser baskets of 20 suppliers each by 1996 H2/H1
    * revenue growth (both baskets via orderBy+limit bounded heaps —
    * never an entity-wide rank), then measure each basket's realized
    * 1997 growth. A positive spread is momentum; a negative one is
    * reversal. Per-supplier panels are one scan; basket math is
    * 40 rows. */
  val aggMomentumFactor: Q = (s, d) => {
    val sup = lineitem(s, d)
      .filter(year(col("l_shipdate")).isin(1996, 1997))
      .groupBy(col("l_suppkey").as("sk"),
        year(col("l_shipdate")).as("y"),
        (month(col("l_shipdate")) <= 6).as("h1"))
      .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 " +
        "AS BIGINT)")).as("rev"))
    val wide = sup.groupBy("sk").agg(
      sum(when(col("y") === 1996 && col("h1"), col("rev"))).as("f1"),
      sum(when(col("y") === 1996 && !col("h1"), col("rev"))).as("f2"),
      sum(when(col("y") === 1996, col("rev"))).as("r96"),
      sum(when(col("y") === 1997, col("rev"))).as("r97"))
      .filter(col("f1").isNotNull && col("f2").isNotNull &&
        col("r97").isNotNull && col("f1") > 0L)
      .select(col("sk"),
        (col("f2").cast(DoubleType) / col("f1").cast(DoubleType)).as("mom"),
        (col("r97").cast(DoubleType) / col("r96").cast(DoubleType) - 1.0)
          .as("fwd"))
      .sharedCache()
    val winners = wide.orderBy(col("mom").desc, col("sk")).limit(20)
      .select(lit("winners").as("basket"), col("fwd"))
    val losers = wide.orderBy(col("mom").asc, col("sk")).limit(20)
      .select(lit("losers").as("basket"), col("fwd"))
    val baskets = winners.unionAll(losers).groupBy("basket")
      .agg(avg("fwd").as("g"))
    baskets.groupBy().agg(
      round(max(when(col("basket") === "winners", col("g"))), 4)
        .as("winners_fwd_growth"),
      round(max(when(col("basket") === "losers", col("g"))), 4)
        .as("losers_fwd_growth"),
      round(max(when(col("basket") === "winners", col("g"))) -
        max(when(col("basket") === "losers", col("g"))), 4)
        .as("momentum_spread"))
      .withColumn("momentum_present", col("momentum_spread") > 0.0)
  }

  val aggMomentumFactorSql: String =
    """WITH sup AS (
      |  SELECT l_suppkey AS sk, year(CAST(l_shipdate AS DATE)) AS y,
      |         month(CAST(l_shipdate AS DATE)) <= 6 AS h1,
      |         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |              AS BIGINT)) AS BIGINT) AS rev
      |  FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) IN (1996, 1997)
      |  GROUP BY 1, 2, 3),
      |wide AS MATERIALIZED (
      |  SELECT sk, CAST(f2 AS DOUBLE) / CAST(f1 AS DOUBLE) AS mom,
      |         CAST(r97 AS DOUBLE) / CAST(r96 AS DOUBLE) - 1.0 AS fwd
      |  FROM (
      |    SELECT sk,
      |           sum(CASE WHEN y = 1996 AND h1 THEN rev END) AS f1,
      |           sum(CASE WHEN y = 1996 AND NOT h1 THEN rev END) AS f2,
      |           sum(CASE WHEN y = 1996 THEN rev END) AS r96,
      |           sum(CASE WHEN y = 1997 THEN rev END) AS r97
      |    FROM sup GROUP BY 1) t
      |  WHERE f1 IS NOT NULL AND f2 IS NOT NULL AND r97 IS NOT NULL
      |    AND f1 > 0),
      |baskets AS (
      |  SELECT 'winners' AS basket, avg(fwd) AS g
      |  FROM (SELECT fwd FROM wide ORDER BY mom DESC, sk LIMIT 20) w
      |  UNION ALL
      |  SELECT 'losers' AS basket, avg(fwd) AS g
      |  FROM (SELECT fwd FROM wide ORDER BY mom ASC, sk LIMIT 20) l)
      |SELECT round(max(CASE WHEN basket = 'winners' THEN g END), 4)
      |         AS winners_fwd_growth,
      |       round(max(CASE WHEN basket = 'losers' THEN g END), 4)
      |         AS losers_fwd_growth,
      |       round(max(CASE WHEN basket = 'winners' THEN g END) -
      |             max(CASE WHEN basket = 'losers' THEN g END), 4)
      |         AS momentum_spread,
      |       max(CASE WHEN basket = 'winners' THEN g END) -
      |         max(CASE WHEN basket = 'losers' THEN g END) > 0.0
      |         AS momentum_present
      |FROM baskets""".stripMargin

  /** agg-winners-curse-correction — the best-looking arm overstates
    * its true effect: picking the max of K noisy estimates inflates it
    * by ≈ σ·E[max of K standard normals] (1.1630 for K=5). The five
    * priority classes act as arms (mean order value), the winner's
    * observed edge over the grand mean is reported next to the
    * selection-bias correction and the corrected edge — the number a
    * launch decision should use (the selection-time cousin of
    * dq-regression-to-mean). Exact moment sums; closed forms. */
  val aggWinnersCurseCorrection: Q = (s, d) => {
    val arms = orders(s, d)
      .groupBy(col("o_orderpriority").as("arm"))
      .agg(count(lit(1)).as("n"),
        sum(expr(s"CAST($centsExpr AS DECIMAL(38,0))")).as("sv"),
        sum(expr(s"CAST($centsExpr AS DECIMAL(38,0)) * $centsExpr")).as("svv"))
      .select(col("arm"), col("n").cast(DoubleType).as("nd"),
        col("sv").cast(DoubleType).as("sv"),
        col("svv").cast(DoubleType).as("svv"))
      .select(col("arm"), col("nd"),
        (col("sv") / col("nd")).as("m"),
        sqrt(((col("svv") - col("sv") * col("sv") / col("nd")) /
          (col("nd") - 1.0)) / col("nd")).as("se"))
      .sharedCache()
    val grand = arms.agg((sum(col("m") * col("nd")) / sum("nd")).as("gm"),
      avg("se").as("avgse"))
    val best = arms.orderBy(col("m").desc, col("arm")).limit(1)
      .select(col("arm").as("winner"), col("m").as("wm"), col("se").as("wse"))
    best.crossJoin(broadcast(grand))
      .select(col("winner"),
        round((col("wm") - col("gm")) / 100, 4).as("observed_edge_usd"),
        round(col("wse") * lit(1.1630) / 100, 4).as("curse_correction_usd"),
        round(((col("wm") - col("gm")) - col("wse") * lit(1.1630)) / 100, 4)
          .as("corrected_edge_usd"),
        (((col("wm") - col("gm")) - col("wse") * lit(1.1630)) > 0.0)
          .as("edge_survives_correction"))
  }

  val aggWinnersCurseCorrectionSql: String =
    s"""WITH arms AS MATERIALIZED (
       |  SELECT arm, nd, sv / nd AS m,
       |         sqrt(((svv - sv * sv / nd) / (nd - 1.0)) / nd) AS se
       |  FROM (
       |    SELECT o_orderpriority AS arm, CAST(count(*) AS DOUBLE) AS nd,
       |           CAST(sum(CAST($centsExpr AS HUGEINT)) AS DOUBLE) AS sv,
       |           CAST(sum(CAST($centsExpr AS HUGEINT) * $centsExpr) AS DOUBLE)
       |             AS svv
       |    FROM orders GROUP BY 1) t),
       |grand AS (
       |  SELECT sum(m * nd) / sum(nd) AS gm, avg(se) AS avgse FROM arms),
       |best AS (
       |  SELECT arm AS winner, m AS wm, se AS wse
       |  FROM arms ORDER BY m DESC, arm LIMIT 1)
       |SELECT winner,
       |       round((wm - gm) / 100, 4) AS observed_edge_usd,
       |       round(wse * 1.1630 / 100, 4) AS curse_correction_usd,
       |       round(((wm - gm) - wse * 1.1630) / 100, 4) AS corrected_edge_usd,
       |       ((wm - gm) - wse * 1.1630) > 0.0 AS edge_survives_correction
       |FROM best CROSS JOIN grand""".stripMargin

  /** agg-tangency-portfolio — the max-Sharpe two-asset allocation
    * between the two largest nations' monthly revenue-return streams:
    * w₁ ∝ σ₂²μ₁ − σ₁₂μ₂ (the closed-form tangency weights with zero
    * risk-free), with the resulting portfolio Sharpe against each
    * leg's own — the diversification number (agg-min-variance-pair is
    * the risk-only sibling; tangency trades risk against mean).
    * Returns quantized, moments exact, bounded month frames. */
  val aggTangencyPortfolio: Q = (s, d) => {
    val nm = orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .filter(col("c_nationkey").isin(0, 1))
      .groupBy(col("c_nationkey").as("nk"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("mi"))
      .agg(sum(expr(centsExpr)).as("rev"))
    val rets = nm
      .withColumn("prev", lag("rev", 1).over(
        Window.partitionBy("nk").orderBy("mi")))
      .filter(col("prev").isNotNull)
      .select(col("nk"), col("mi"),
        floor(log(col("rev").cast(DoubleType) /
          col("prev").cast(DoubleType)) * 1e9).cast(LongType).as("r"))
    val paired = rets.filter(col("nk") === 0)
      .select(col("mi"), col("r").as("r1"))
      .join(rets.filter(col("nk") === 1)
        .select(col("mi"), col("r").as("r2")), Seq("mi"))
    val m = paired.agg(count(lit(1)).as("n"),
      sum("r1").as("s1"), sum("r2").as("s2"),
      sum(expr("CAST(r1 AS DECIMAL(38,0)) * r1")).as("s11"),
      sum(expr("CAST(r2 AS DECIMAL(38,0)) * r2")).as("s22"),
      sum(expr("CAST(r1 AS DECIMAL(38,0)) * r2")).as("s12"))
      .select(col("n").cast(DoubleType).as("n"),
        col("s1").cast(DoubleType).as("s1"), col("s2").cast(DoubleType).as("s2"),
        col("s11").cast(DoubleType).as("s11"),
        col("s22").cast(DoubleType).as("s22"),
        col("s12").cast(DoubleType).as("s12"))
      .select(
        (col("s1") / col("n") / 1e9).as("mu1"),
        (col("s2") / col("n") / 1e9).as("mu2"),
        (((col("s11") - col("s1") * col("s1") / col("n")) /
          (col("n") - 1.0)) / 1e18).as("v1"),
        (((col("s22") - col("s2") * col("s2") / col("n")) /
          (col("n") - 1.0)) / 1e18).as("v2"),
        (((col("s12") - col("s1") * col("s2") / col("n")) /
          (col("n") - 1.0)) / 1e18).as("c12"))
    m.select(
      round((col("v2") * col("mu1") - col("c12") * col("mu2")) /
        ((col("v2") * col("mu1") - col("c12") * col("mu2")) +
          (col("v1") * col("mu2") - col("c12") * col("mu1"))), 4)
        .as("w_nation0"),
      round(col("mu1") / sqrt(col("v1")), 4).as("sharpe_nation0"),
      round(col("mu2") / sqrt(col("v2")), 4).as("sharpe_nation1"),
      round(((col("v2") * col("mu1") - col("c12") * col("mu2")) * col("mu1") +
        (col("v1") * col("mu2") - col("c12") * col("mu1")) * col("mu2")) /
        sqrt(
          (col("v2") * col("mu1") - col("c12") * col("mu2")) *
            (col("v2") * col("mu1") - col("c12") * col("mu2")) * col("v1") +
            (col("v1") * col("mu2") - col("c12") * col("mu1")) *
              (col("v1") * col("mu2") - col("c12") * col("mu1")) * col("v2") +
            lit(2.0) * (col("v2") * col("mu1") - col("c12") * col("mu2")) *
              (col("v1") * col("mu2") - col("c12") * col("mu1")) * col("c12")),
        4).as("sharpe_tangency"))
  }

  val aggTangencyPortfolioSql: String =
    s"""WITH nm AS (
       |  SELECT c_nationkey AS nk,
       |         year(CAST(o_orderdate AS DATE)) * 12 +
       |           month(CAST(o_orderdate AS DATE)) AS mi,
       |         CAST(sum($centsExpr) AS BIGINT) AS rev
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  WHERE c_nationkey IN (0, 1)
       |  GROUP BY 1, 2),
       |rets AS (
       |  SELECT nk, mi,
       |         CAST(floor(ln(CAST(rev AS DOUBLE) / CAST(prev AS DOUBLE)) * 1e9)
       |              AS BIGINT) AS r
       |  FROM (SELECT nk, mi, rev,
       |               lag(rev) OVER (PARTITION BY nk ORDER BY mi) AS prev
       |        FROM nm) q
       |  WHERE prev IS NOT NULL),
       |paired AS (
       |  SELECT a.r AS r1, b.r AS r2
       |  FROM (SELECT mi, r FROM rets WHERE nk = 0) a
       |  JOIN (SELECT mi, r FROM rets WHERE nk = 1) b USING (mi)),
       |m AS (
       |  SELECT s1 / n / 1e9 AS mu1, s2 / n / 1e9 AS mu2,
       |         ((s11 - s1 * s1 / n) / (n - 1.0)) / 1e18 AS v1,
       |         ((s22 - s2 * s2 / n) / (n - 1.0)) / 1e18 AS v2,
       |         ((s12 - s1 * s2 / n) / (n - 1.0)) / 1e18 AS c12
       |  FROM (
       |    SELECT CAST(count(*) AS DOUBLE) AS n,
       |           CAST(sum(r1) AS DOUBLE) AS s1, CAST(sum(r2) AS DOUBLE) AS s2,
       |           CAST(sum(CAST(r1 AS HUGEINT) * r1) AS DOUBLE) AS s11,
       |           CAST(sum(CAST(r2 AS HUGEINT) * r2) AS DOUBLE) AS s22,
       |           CAST(sum(CAST(r1 AS HUGEINT) * r2) AS DOUBLE) AS s12
       |    FROM paired) t)
       |SELECT round((v2 * mu1 - c12 * mu2) /
       |             ((v2 * mu1 - c12 * mu2) + (v1 * mu2 - c12 * mu1)), 4)
       |         AS w_nation0,
       |       round(mu1 / sqrt(v1), 4) AS sharpe_nation0,
       |       round(mu2 / sqrt(v2), 4) AS sharpe_nation1,
       |       round(((v2 * mu1 - c12 * mu2) * mu1 +
       |              (v1 * mu2 - c12 * mu1) * mu2) /
       |             sqrt((v2 * mu1 - c12 * mu2) * (v2 * mu1 - c12 * mu2) * v1 +
       |                  (v1 * mu2 - c12 * mu1) * (v1 * mu2 - c12 * mu1) * v2 +
       |                  2.0 * (v2 * mu1 - c12 * mu2) *
       |                  (v1 * mu2 - c12 * mu1) * c12), 4)
       |         AS sharpe_tangency
       |FROM m""".stripMargin

  /** agg-calmar-ratio — annualized growth over maximum drawdown on
    * the cumulative monthly revenue index: the drawdown-aware
    * risk/return ratio (win-drawdown computes the path; this op takes
    * it to the decision number, next to the Sharpe-family cousins).
    * Running peak and max drawdown run on the bounded month frame;
    * growth is the endpoint CAGR. */
  val aggCalmarRatio: Q = (s, d) => {
    val w = Window.orderBy("mi")
    val wRun = w.rowsBetween(Window.unboundedPreceding, 0)
    val mon = orders(s, d)
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .as("mi"))
      .agg(expr(s"sum($centsExpr) DIV 100").as("rev"))
      .withColumn("peak", max("rev").over(wRun))
      .withColumn("dd", (col("peak") - col("rev")).cast(DoubleType) /
        col("peak").cast(DoubleType))
    // min_by/max_by on the month index - first()/last() in an agg are
    // partition-order-dependent and would break determinism
    val ends = mon.agg(count(lit(1)).as("nm"),
      max("dd").as("maxdd"),
      expr("min_by(rev, mi)").as("rev0"),
      expr("max_by(rev, mi)").as("revN"))
    ends.select(col("nm").cast(LongType).as("n_months"),
      round(col("maxdd"), 4).as("max_drawdown"),
      round(pow(col("revN").cast(DoubleType) / col("rev0").cast(DoubleType),
        lit(12.0) / (col("nm") - 1).cast(DoubleType)) - 1.0, 4)
        .as("cagr"),
      round((pow(col("revN").cast(DoubleType) / col("rev0").cast(DoubleType),
        lit(12.0) / (col("nm") - 1).cast(DoubleType)) - 1.0) /
        col("maxdd"), 4).as("calmar_ratio"))
  }

  val aggCalmarRatioSql: String =
    s"""WITH mon AS (
       |  SELECT mi, rev,
       |         max(rev) OVER (ORDER BY mi
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
       |  FROM (
       |    SELECT year(CAST(o_orderdate AS DATE)) * 12 +
       |             month(CAST(o_orderdate AS DATE)) AS mi,
       |           CAST(sum($centsExpr) // 100 AS BIGINT) AS rev
       |    FROM orders GROUP BY 1) q),
       |dd AS (
       |  SELECT mi, rev,
       |         CAST(peak - rev AS DOUBLE) / CAST(peak AS DOUBLE) AS dd
       |  FROM mon),
       |ends AS (
       |  SELECT CAST(count(*) AS BIGINT) AS nm, max(dd) AS maxdd,
       |         arg_min(rev, mi) AS rev0, arg_max(rev, mi) AS revN
       |  FROM dd)
       |SELECT nm AS n_months, round(maxdd, 4) AS max_drawdown,
       |       round(pow(CAST(revN AS DOUBLE) / CAST(rev0 AS DOUBLE),
       |             12.0 / CAST(nm - 1 AS DOUBLE)) - 1.0, 4) AS cagr,
       |       round((pow(CAST(revN AS DOUBLE) / CAST(rev0 AS DOUBLE),
       |             12.0 / CAST(nm - 1 AS DOUBLE)) - 1.0) / maxdd, 4)
       |         AS calmar_ratio
       |FROM ends""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-momentum-factor", aggMomentumFactor, aggMomentumFactorSql),
    Key("agg-winners-curse-correction", aggWinnersCurseCorrection, aggWinnersCurseCorrectionSql),
    Key("agg-tangency-portfolio", aggTangencyPortfolio, aggTangencyPortfolioSql),
    Key("agg-calmar-ratio", aggCalmarRatio, aggCalmarRatioSql))
}
