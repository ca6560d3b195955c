package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-8 batch AK: indirect standardization (SMR), actuarial life
  * table, k-anonymity/l-diversity audit, Kitagawa rate-vs-mix
  * decomposition. */
object RelMore202 extends KeyModule {

  private val centsExpr =
    "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"

  /** agg-indirect-standardization — the SMR: is a nation's urgent-
    * order rate high AFTER accounting for its seasonal mix? Expected
    * counts apply the GLOBAL per-month urgent rates to the nation's
    * own monthly volumes (indirect standardization — the epidemiology
    * standard when stratum rates are too noisy per unit); SMR = O/E
    * with Byar's approximate 95% interval, flagged when it excludes
    * 1. One (nation, month-of-year) aggregate; 300 bounded cells. */
  val aggIndirectStandardization: Q = (s, d) => {
    val cells = orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"), month(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L))
          .as("u"))
      .sharedCache()
    val ref = cells.groupBy("m").agg(
      (sum("u").cast(DoubleType) / sum("n").cast(DoubleType)).as("rate"))
    val pernat = cells.join(ref, Seq("m"))
      .groupBy("nk")
      .agg(sum("u").as("obs"),
        sum(col("n").cast(DoubleType) * col("rate")).as("expct"))
      .select(col("nk"), col("obs"), col("expct"),
        (col("obs").cast(DoubleType) / col("expct")).as("smr"),
        col("obs").cast(DoubleType).as("od"))
      .withColumn("lo", col("od") *
        pow(lit(1.0) - lit(1.0) / (lit(9.0) * col("od")) -
          lit(1.96) / (lit(3.0) * sqrt(col("od"))), 3.0) / col("expct"))
      .withColumn("hi", (col("od") + 1.0) *
        pow(lit(1.0) - lit(1.0) / (lit(9.0) * (col("od") + 1.0)) +
          lit(1.96) / (lit(3.0) * sqrt(col("od") + 1.0)), 3.0) / col("expct"))
    pernat.select(col("nk").cast(LongType).as("nationkey"),
      col("obs").as("observed"),
      round(col("expct"), 2).as("expected"),
      round(col("smr"), 4).as("smr"),
      round(col("lo"), 4).as("ci_lo"),
      round(col("hi"), 4).as("ci_hi"),
      (col("lo") > 1.0 || col("hi") < 1.0).as("significant"))
      .orderBy("nationkey")
  }

  val aggIndirectStandardizationSql: String =
    """WITH cells AS MATERIALIZED (
      |  SELECT c_nationkey AS nk, month(CAST(o_orderdate AS DATE)) AS m,
      |         CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
      |                  THEN 1 ELSE 0 END) AS BIGINT) AS u
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |ref AS (
      |  SELECT m, CAST(sum(u) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS rate
      |  FROM cells GROUP BY 1),
      |pernat AS (
      |  SELECT nk, obs, expct,
      |         CAST(obs AS DOUBLE) / expct AS smr,
      |         CAST(obs AS DOUBLE) AS od
      |  FROM (
      |    SELECT nk, CAST(sum(u) AS BIGINT) AS obs,
      |           sum(CAST(n AS DOUBLE) * rate) AS expct
      |    FROM cells JOIN ref USING (m) GROUP BY 1) t),
      |ci AS (
      |  SELECT *,
      |         od * pow(1.0 - 1.0 / (9.0 * od) - 1.96 / (3.0 * sqrt(od)), 3.0)
      |           / expct AS lo,
      |         (od + 1.0) * pow(1.0 - 1.0 / (9.0 * (od + 1.0)) +
      |           1.96 / (3.0 * sqrt(od + 1.0)), 3.0) / expct AS hi
      |  FROM pernat)
      |SELECT CAST(nk AS BIGINT) AS nationkey, obs AS observed,
      |       round(expct, 2) AS expected, round(smr, 4) AS smr,
      |       round(lo, 4) AS ci_lo, round(hi, 4) AS ci_hi,
      |       lo > 1.0 OR hi < 1.0 AS significant
      |FROM ci ORDER BY nationkey""".stripMargin

  /** agg-life-table — the actuarial table for customer churn: per
    * tenure-month x, the at-risk count, deaths (churned that month —
    * the agg-nelson-aalen 90-day convention), hazard qₓ, survivors lₓ
    * (radix 10⁶, prefix product via quantized log-sums — the KM
    * discipline), and the remaining expectancy eₓ = Σ_{y≥x} l_y / lₓ
    * that neither KM nor NA reports (truncated at the 24-month
    * horizon — the "temporary expectancy" e_{x:24}). Bounded tenure
    * frames end to end; the fact work is one customer-grain
    * aggregate. Reported at tenure months 0, 6, 12, 18, 24. */
  val aggLifeTable: Q = (s, d) => {
    val percust = orders(s, d)
      .groupBy(col("o_custkey").as("ck"))
      .agg(min(year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .as("e0"),
        max(year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .as("elast"))
    val hor = percust.agg(max("elast").as("hm"))
    val lives = percust.crossJoin(broadcast(hor))
      .select((col("elast") - col("e0")).as("dt"),
        (col("hm") - col("e0")).as("ct"),
        (col("elast") < col("hm") - 3).as("died"))
    val deaths = lives.filter(col("died")).groupBy(col("dt").as("x"))
      .agg(count(lit(1)).as("dx"))
    val ends = lives
      .select(when(col("died"), col("dt")).otherwise(col("ct")).as("ex0"))
      .groupBy(col("ex0")).agg(count(lit(1)).as("ne"))
    val grid = lives.sparkSession.range(25).toDF("x")
    val risk = grid.crossJoin(ends).filter(col("ex0") >= col("x"))
      .groupBy("x").agg(sum("ne").as("rx"))
    val table = risk.join(deaths, Seq("x"), "left")
      .select(col("x"), col("rx"), coalesce(col("dx"), lit(0L)).as("dx"))
      .withColumn("lnq", floor(log(greatest(lit(1e-12), lit(1.0) -
        col("dx").cast(DoubleType) / col("rx").cast(DoubleType))) * 1e9)
        .cast(LongType))
      .withColumn("cuml", coalesce(sum("lnq").over(
        Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("lx", exp(col("cuml").cast(DoubleType) / 1e9) * 1e6)
      .sharedCache()
    val wSuf = Window.orderBy(col("x").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val withEx = table.withColumn("sfx", sum("lx").over(wSuf))
      .filter(col("x").isin(0, 6, 12, 18, 24))
      .select(col("x").cast(IntegerType).as("tenure_month"),
        col("rx").as("at_risk"), col("dx").as("deaths"),
        round(col("dx").cast(DoubleType) / col("rx").cast(DoubleType), 6)
          .as("qx"),
        round(col("lx"), 1).as("lx_per_million"),
        round(col("sfx") / col("lx"), 2).as("ex_months"))
    withEx.orderBy("tenure_month")
  }

  val aggLifeTableSql: String =
    """WITH percust AS (
      |  SELECT o_custkey AS ck,
      |         min(year(CAST(o_orderdate AS DATE)) * 12 +
      |             month(CAST(o_orderdate AS DATE))) AS e0,
      |         max(year(CAST(o_orderdate AS DATE)) * 12 +
      |             month(CAST(o_orderdate AS DATE))) AS elast
      |  FROM orders GROUP BY 1),
      |hor AS (SELECT max(elast) AS hm FROM percust),
      |lives AS (
      |  SELECT elast - e0 AS dt, hm - e0 AS ct, elast < hm - 3 AS died
      |  FROM percust CROSS JOIN hor),
      |deaths AS (
      |  SELECT dt AS x, CAST(count(*) AS BIGINT) AS dx
      |  FROM lives WHERE died GROUP BY 1),
      |ends AS (
      |  SELECT CASE WHEN died THEN dt ELSE ct END AS ex0,
      |         CAST(count(*) AS BIGINT) AS ne
      |  FROM lives GROUP BY 1),
      |grid AS (SELECT unnest(generate_series(0, 24)) AS x),
      |risk AS (
      |  SELECT x, CAST(sum(ne) AS BIGINT) AS rx
      |  FROM grid CROSS JOIN ends WHERE ex0 >= x GROUP BY 1),
      |tbl AS (
      |  SELECT x, rx, dx,
      |         exp(CAST(coalesce(sum(lnq) OVER (ORDER BY x
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           AS DOUBLE) / 1e9) * 1e6 AS lx,
      |         CAST(dx AS DOUBLE) / CAST(rx AS DOUBLE) AS qx
      |  FROM (
      |    SELECT x, rx, dx,
      |           CAST(floor(ln(greatest(1e-12,
      |                1.0 - CAST(dx AS DOUBLE) / CAST(rx AS DOUBLE)))
      |                * 1e9) AS BIGINT) AS lnq
      |    FROM (
      |      SELECT risk.x, rx, coalesce(dx, 0) AS dx
      |      FROM risk LEFT JOIN deaths ON risk.x = deaths.x) a) b),
      |withex AS (
      |  SELECT x, rx, dx, qx, lx,
      |         sum(lx) OVER (ORDER BY x DESC
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sfx
      |  FROM tbl)
      |SELECT CAST(x AS INTEGER) AS tenure_month, rx AS at_risk,
      |       dx AS deaths, round(qx, 6) AS qx,
      |       round(lx, 1) AS lx_per_million,
      |       round(sfx / lx, 2) AS ex_months
      |FROM withex WHERE x IN (0, 6, 12, 18, 24)
      |ORDER BY tenure_month""".stripMargin

  /** dq-k-anonymity — re-identification risk before sharing the order
    * table: quasi-identifier = (nation, priority, order year); for
    * k ∈ {2, 5, 10} the share of rows living in groups smaller than k
    * (the rows a k-anonymous release must suppress or generalize),
    * plus the smallest group and the l-diversity failure share
    * (groups whose sensitive attribute — market segment — shows a
    * single value, re-identifiable by homogeneity even at high k).
    * One QI aggregate; everything else is bounded. */
  val dqKAnonymity: Q = (s, d) => {
    val qi = orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"), col("o_orderpriority").as("pri"),
        year(col("o_orderdate")).as("y"))
      .agg(count(lit(1)).as("gsz"),
        countDistinct(col("c_mktsegment")).as("lsens"))
      .sharedCache()
    qi.agg(sum("gsz").as("n_rows"),
      count(lit(1)).as("n_groups"),
      min("gsz").as("min_group"),
      round(sum(when(col("gsz") < 2, col("gsz")).otherwise(0L))
        .cast(DoubleType) / sum("gsz").cast(DoubleType), 6).as("below_k2"),
      round(sum(when(col("gsz") < 5, col("gsz")).otherwise(0L))
        .cast(DoubleType) / sum("gsz").cast(DoubleType), 6).as("below_k5"),
      round(sum(when(col("gsz") < 10, col("gsz")).otherwise(0L))
        .cast(DoubleType) / sum("gsz").cast(DoubleType), 6).as("below_k10"),
      round(sum(when(col("lsens") < 2, 1L).otherwise(0L)).cast(DoubleType) /
        count(lit(1)).cast(DoubleType), 6).as("l_diversity_fail_share"))
  }

  val dqKAnonymitySql: String =
    """WITH qi AS (
      |  SELECT c_nationkey AS nk, o_orderpriority AS pri,
      |         year(CAST(o_orderdate AS DATE)) AS y,
      |         CAST(count(*) AS BIGINT) AS gsz,
      |         CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS lsens
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2, 3)
      |SELECT CAST(sum(gsz) AS BIGINT) AS n_rows,
      |       CAST(count(*) AS BIGINT) AS n_groups,
      |       min(gsz) AS min_group,
      |       round(CAST(sum(CASE WHEN gsz < 2 THEN gsz ELSE 0 END) AS DOUBLE) /
      |             CAST(sum(gsz) AS DOUBLE), 6) AS below_k2,
      |       round(CAST(sum(CASE WHEN gsz < 5 THEN gsz ELSE 0 END) AS DOUBLE) /
      |             CAST(sum(gsz) AS DOUBLE), 6) AS below_k5,
      |       round(CAST(sum(CASE WHEN gsz < 10 THEN gsz ELSE 0 END) AS DOUBLE) /
      |             CAST(sum(gsz) AS DOUBLE), 6) AS below_k10,
      |       round(CAST(sum(CASE WHEN lsens < 2 THEN 1 ELSE 0 END) AS DOUBLE) /
      |             count(*), 6) AS l_diversity_fail_share
      |FROM qi""".stripMargin

  /** agg-kitagawa-decomposition — why did the mean order value move
    * 1996→1997? Kitagawa's exact two-part split: the RATE effect
    * (within-priority-class mean shifts, weighted by averaged class
    * shares) plus the COMPOSITION effect (class-share shifts, weighted
    * by averaged class means) — the standardization ancestor of
    * agg-oaxaca-blinder, no regression required, closing exactly by
    * construction (the closure ships in the output). Bounded 10-cell
    * panel off one scan. */
  val aggKitagawaDecomposition: Q = (s, d) => {
    val cells = orders(s, d)
      .filter(year(col("o_orderdate")).isin(1996, 1997))
      .groupBy(col("o_orderpriority").as("pri"), year(col("o_orderdate"))
        .as("y"))
      .agg(count(lit(1)).as("n"), expr(s"sum($centsExpr)").as("sv"))
    val wide = cells.groupBy("pri").agg(
      sum(when(col("y") === 1996, col("n"))).as("n0"),
      sum(when(col("y") === 1997, col("n"))).as("n1"),
      sum(when(col("y") === 1996, col("sv"))).as("s0"),
      sum(when(col("y") === 1997, col("sv"))).as("s1"))
    val tot = wide.agg(sum("n0").as("t0"), sum("n1").as("t1"))
    val terms = wide.crossJoin(broadcast(tot))
      .select(
        (col("n0").cast(DoubleType) / col("t0").cast(DoubleType)).as("w0"),
        (col("n1").cast(DoubleType) / col("t1").cast(DoubleType)).as("w1"),
        (col("s0").cast(DoubleType) / col("n0").cast(DoubleType)).as("m0"),
        (col("s1").cast(DoubleType) / col("n1").cast(DoubleType)).as("m1"))
    terms.agg(
      round((sum(col("w1") * col("m1")) - sum(col("w0") * col("m0"))) / 100,
        4).as("delta_mean_usd"),
      round(sum((col("w0") + col("w1")) / 2.0 * (col("m1") - col("m0"))) /
        100, 4).as("rate_effect_usd"),
      round(sum((col("m0") + col("m1")) / 2.0 * (col("w1") - col("w0"))) /
        100, 4).as("composition_effect_usd"))
      .withColumn("closure_gap_usd",
        round(col("delta_mean_usd") - col("rate_effect_usd") -
          col("composition_effect_usd"), 4))
  }

  val aggKitagawaDecompositionSql: String =
    s"""WITH cells AS (
       |  SELECT o_orderpriority AS pri, year(CAST(o_orderdate AS DATE)) AS y,
       |         CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum($centsExpr) AS BIGINT) AS sv
       |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) IN (1996, 1997)
       |  GROUP BY 1, 2),
       |wide AS (
       |  SELECT pri,
       |         sum(CASE WHEN y = 1996 THEN n END) AS n0,
       |         sum(CASE WHEN y = 1997 THEN n END) AS n1,
       |         sum(CASE WHEN y = 1996 THEN sv END) AS s0,
       |         sum(CASE WHEN y = 1997 THEN sv END) AS s1
       |  FROM cells GROUP BY 1),
       |tot AS (SELECT sum(n0) AS t0, sum(n1) AS t1 FROM wide),
       |terms AS (
       |  SELECT CAST(n0 AS DOUBLE) / CAST(t0 AS DOUBLE) AS w0,
       |         CAST(n1 AS DOUBLE) / CAST(t1 AS DOUBLE) AS w1,
       |         CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS m0,
       |         CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1
       |  FROM wide CROSS JOIN tot),
       |eff AS (
       |  SELECT round((sum(w1 * m1) - sum(w0 * m0)) / 100, 4) AS delta_mean_usd,
       |         round(sum((w0 + w1) / 2.0 * (m1 - m0)) / 100, 4)
       |           AS rate_effect_usd,
       |         round(sum((m0 + m1) / 2.0 * (w1 - w0)) / 100, 4)
       |           AS composition_effect_usd
       |  FROM terms)
       |SELECT *, round(delta_mean_usd - rate_effect_usd -
       |          composition_effect_usd, 4) AS closure_gap_usd
       |FROM eff""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-indirect-standardization", aggIndirectStandardization, aggIndirectStandardizationSql),
    Key("agg-life-table", aggLifeTable, aggLifeTableSql),
    Key("dq-k-anonymity", dqKAnonymity, dqKAnonymitySql),
    Key("agg-kitagawa-decomposition", aggKitagawaDecomposition, aggKitagawaDecompositionSql))
}
