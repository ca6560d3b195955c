package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch AA: IPW treatment effect, Gauss Easter computus,
  * weighted reservoir sample, pinball quantile loss. */
object RelMore126 extends KeyModule {

  /** agg-ipw-ate — the inverse-propensity-weighted average treatment
    * effect of the BUILDING segment on order value, with nation as
    * the confounder: ê(nation) = P(BUILDING | nation) from exact
    * stratum counts, ATE_IPW = mean(t·y/ê) − mean((1−t)·y/(1−ê)) —
    * the weighting-based corner of the causal family (matching =
    * agg-psm-match, regression = agg-diff-in-diff, stratification =
    * sample-post-stratify; IPW is what scales when strata are many).
    * Per-row weights y/ê are micro-floor-quantized from exact
    * integer count ratios (one identical division per row), so both
    * weighted folds are exact integer sums; extreme-propensity
    * diagnostics (min ê, max weight) ride along because IPW without
    * an overlap check is malpractice. */
  val aggIpwAte: Q = (s, d) => {
    val v = orders(s, d).join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nk"),
        when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L).as("t"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("y"))
      .sharedCache()
    val prop = v.groupBy("nk")
      .agg(sum("t").as("nt"), count(lit(1)).as("nn"))
      .filter(col("nt") > 0 && col("nt") < col("nn"))
    val wtd = v.join(broadcast(prop), Seq("nk"))
      .select(col("t"),
        when(col("t") === 1,
          floor(col("y").cast(DoubleType) * col("nn") / col("nt") * lit(100)))
          .otherwise(
            floor(col("y").cast(DoubleType) * col("nn") / (col("nn") - col("nt")) * lit(100)))
          .cast(LongType).as("wyq"))
    val diag = prop.agg(
      round(min(col("nt").cast(DoubleType) / col("nn")), 4).as("min_propensity"),
      round(max(col("nn").cast(DoubleType) / col("nt")), 2).as("max_weight"))
    wtd.agg(count(lit(1)).as("n"),
      sum(when(col("t") === 1, col("wyq")).otherwise(0L)).as("s1"),
      sum(when(col("t") === 0, col("wyq")).otherwise(0L)).as("s0"))
      .crossJoin(broadcast(diag))
      .select(col("n").as("n_orders"),
        round((col("s1").cast(DoubleType) - col("s0")) / 100 / col("n") / 100, 2)
          .as("ate_ipw_usd"),
        col("min_propensity"), col("max_weight"))
  }

  val aggIpwAteSql: String =
    """WITH v AS MATERIALIZED (
      |  SELECT c_nationkey AS nk,
      |         CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS t,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |prop AS (
      |  SELECT nk, CAST(sum(t) AS BIGINT) AS nt, CAST(count(*) AS BIGINT) AS nn
      |  FROM v GROUP BY 1
      |  HAVING sum(t) > 0 AND sum(t) < count(*)),
      |wtd AS (
      |  SELECT t,
      |         CAST(CASE WHEN t = 1
      |              THEN floor(CAST(y AS DOUBLE) * nn / nt * 100)
      |              ELSE floor(CAST(y AS DOUBLE) * nn / (nn - nt) * 100) END AS BIGINT) AS wyq
      |  FROM v JOIN prop USING (nk)),
      |diag AS (
      |  SELECT round(min(CAST(nt AS DOUBLE) / nn), 4) AS min_propensity,
      |         round(max(CAST(nn AS DOUBLE) / nt), 2) AS max_weight
      |  FROM prop)
      |SELECT CAST(count(*) AS BIGINT) AS n_orders,
      |       round((CAST(sum(CASE WHEN t = 1 THEN wyq ELSE 0 END) AS DOUBLE) -
      |              sum(CASE WHEN t = 0 THEN wyq ELSE 0 END)) / 100 / count(*) / 100, 2)
      |         AS ate_ipw_usd,
      |       min_propensity, max_weight
      |FROM wtd CROSS JOIN diag
      |GROUP BY min_propensity, max_weight""".stripMargin

  /** gen-easter-dates — the Gauss computus: Easter Sunday for
    * 2016-2030 from pure integer arithmetic (the anonymous-Gregorian
    * algorithm — a, b, c … month/day from div/mod chains), plus each
    * year's Good Friday and Easter Monday and the day-of-week PROOF
    * column (must all be Sunday — the self-check that catches a
    * transcription slip in any constant). Calendar generators
    * (gen-date-series, gen-calendar-attrs, gen-fiscal-445) cover
    * fixed-date holidays; the movable feasts need the computus, and
    * retail calendars genuinely swing on Easter's ±35-day wander.
    * Integer div/mod only — bit-identical across engines by
    * construction. */
  val genEasterDates: Q = (s, d) => {
    val years = s.range(2016, 2031).select(col("id").cast(IntegerType).as("yr"))
    val easter = years
      .withColumn("a", expr("yr % 19"))
      .withColumn("b", expr("yr div 100"))
      .withColumn("c", expr("yr % 100"))
      .withColumn("dd", expr("b div 4"))
      .withColumn("e", expr("b % 4"))
      .withColumn("f", expr("(b + 8) div 25"))
      .withColumn("g", expr("(b - f + 1) div 3"))
      .withColumn("h", expr("(19 * a + b - dd - g + 15) % 30"))
      .withColumn("i", expr("c div 4"))
      .withColumn("k", expr("c % 4"))
      .withColumn("l", expr("(32 + 2 * e + 2 * i - h - k) % 7"))
      .withColumn("m", expr("(a + 11 * h + 22 * l) div 451"))
      .withColumn("mth", expr("(h + l - 7 * m + 114) div 31"))
      .withColumn("dy", expr("((h + l - 7 * m + 114) % 31) + 1"))
      .withColumn("easter", to_date(concat_ws("-", col("yr"),
        lpad(col("mth").cast(StringType), 2, "0"),
        lpad(col("dy").cast(StringType), 2, "0"))))
    easter.select(col("yr").cast(LongType).as("yr"), col("easter"),
      date_sub(col("easter"), 2).as("good_friday"),
      date_add(col("easter"), 1).as("easter_monday"),
      dayofweek(col("easter")).cast(LongType).as("dow_proof"))
      .orderBy("yr")
  }

  val genEasterDatesSql: String =
    """WITH years AS (SELECT CAST(unnest(range(2016, 2031)) AS INTEGER) AS yr),
      |calc AS (
      |  SELECT yr, a, b, c, dd, e, f, g, h, i, k, l,
      |         (a + 11 * h + 22 * l) // 451 AS m
      |  FROM (
      |    SELECT yr, a, b, c, dd, e, f, g, h, c // 4 AS i, c % 4 AS k,
      |           (32 + 2 * e + 2 * (c // 4) - h - (c % 4)) % 7 AS l
      |    FROM (
      |      SELECT yr, yr % 19 AS a, yr // 100 AS b, yr % 100 AS c,
      |             (yr // 100) // 4 AS dd, (yr // 100) % 4 AS e,
      |             ((yr // 100) + 8) // 25 AS f,
      |             ((yr // 100) - ((yr // 100) + 8) // 25 + 1) // 3 AS g,
      |             (19 * (yr % 19) + (yr // 100) - (yr // 100) // 4 -
      |              ((yr // 100) - ((yr // 100) + 8) // 25 + 1) // 3 + 15) % 30 AS h
      |      FROM years) t1) t2),
      |easter AS (
      |  SELECT yr,
      |         make_date(yr, (h + l - 7 * m + 114) // 31,
      |                   ((h + l - 7 * m + 114) % 31) + 1) AS easter
      |  FROM calc)
      |SELECT CAST(yr AS BIGINT) AS yr, easter,
      |       easter - 2 AS good_friday,
      |       easter + 1 AS easter_monday,
      |       CAST(dayofweek(easter) + 1 AS BIGINT) AS dow_proof
      |FROM easter
      |ORDER BY yr""".stripMargin

  /** sample-weighted-reservoir — the Efraimidis-Spirakis A-Res
    * weighted reservoir: each order draws priority u^(1/w) (u =
    * md5-uniform, w = order value share) and the k = 200 largest
    * priorities form a weighted-without-replacement sample — THE
    * one-pass streaming-compatible weighted sampler (sequential
    * Poisson fixes size by a different priority; A-Res is the one
    * that composes with reservoir merging, so it's what a 1000-
    * executor pipeline actually runs: per-partition top-k, then
    * merge). Priorities are ln(u)/w as identical doubles (the
    * monotone log transform of u^(1/w), avoiding pow's cross-engine
    * risk); the top-k cut is sort+limit (TakeOrderedAndProject).
    * Graded by the weighted-sample value share vs the uniform-share
    * baseline — a value-weighted sample MUST over-represent value. */
  val sampleWeightedReservoir: Q = (s, d) => {
    val k = 200
    val o = orders(s, d).select(col("o_orderkey"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("v"),
      expr("((instr('0123456789abcdef', substring(md5(CAST(o_orderkey AS STRING)), 1, 1)) - 1) * 1048576 + " +
        "(instr('0123456789abcdef', substring(md5(CAST(o_orderkey AS STRING)), 2, 1)) - 1) * 65536 + " +
        "(instr('0123456789abcdef', substring(md5(CAST(o_orderkey AS STRING)), 3, 1)) - 1) * 4096 + " +
        "(instr('0123456789abcdef', substring(md5(CAST(o_orderkey AS STRING)), 4, 1)) - 1) * 256 + " +
        "(instr('0123456789abcdef', substring(md5(CAST(o_orderkey AS STRING)), 5, 1)) - 1) * 16 + " +
        "(instr('0123456789abcdef', substring(md5(CAST(o_orderkey AS STRING)), 6, 1)) - 1) + 1)").as("u24"))
      .sharedCache()
    val tot = o.agg(sum(expr("CAST(v AS DECIMAL(38,0))")).as("vt"), count(lit(1)).as("np"))
    // key = ln(u)/w, maximized ⇔ minimize -ln(u)/w; sort ascending on
    // -ln(u/2^24)/v (the /V scale in w cancels in the ordering)
    val sample = o
      .withColumn("pri", -log(col("u24").cast(DoubleType) / lit(16777216.0)) /
        col("v").cast(DoubleType))
      .orderBy(col("pri"), col("o_orderkey"))
      .limit(k)
    sample.crossJoin(broadcast(tot))
      .agg(count(lit(1)).as("n_sample"),
        max("np").as("n_population"),
        sum(expr("CAST(v AS DECIMAL(38,0))")).as("sv"),
        max("vt").as("vt"))
      .select(col("n_sample"), col("n_population"),
        ratioFloor(col("sv").cast(DoubleType), col("vt"), 6).as("sample_value_share"),
        ratioFloor(lit(200.0), col("n_population"), 6).as("uniform_share_baseline"))
  }

  val sampleWeightedReservoirSql: String =
    """WITH o AS MATERIALIZED (
      |  SELECT o_orderkey,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
      |         (strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) * 1048576 +
      |         (strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 2, 1)) - 1) * 65536 +
      |         (strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 3, 1)) - 1) * 4096 +
      |         (strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 4, 1)) - 1) * 256 +
      |         (strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 5, 1)) - 1) * 16 +
      |         (strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 6, 1)) - 1) + 1 AS u24
      |  FROM orders),
      |tot AS (SELECT CAST(sum(CAST(v AS HUGEINT)) AS HUGEINT) AS vt,
      |               CAST(count(*) AS BIGINT) AS np FROM o),
      |sample AS (
      |  SELECT v FROM (
      |    SELECT v, row_number() OVER (ORDER BY
      |             -ln(CAST(u24 AS DOUBLE) / 16777216.0) / CAST(v AS DOUBLE),
      |             o_orderkey) AS rn
      |    FROM o) t
      |  WHERE rn <= 200)
      |SELECT CAST(count(*) AS BIGINT) AS n_sample, np AS n_population,
      |       floor(CAST(sum(CAST(v AS HUGEINT)) AS DOUBLE) * 1e6 / CAST(vt AS DOUBLE)) / 1e6
      |         AS sample_value_share,
      |       floor(200.0 * 1e6 / np) / 1e6 AS uniform_share_baseline
      |FROM sample CROSS JOIN tot
      |GROUP BY np, vt""".stripMargin

  /** agg-pinball-loss — quantile-forecast calibration under the
    * pinball (check) loss: two constant quantile forecasts — the
    * exact in-sample P50 and P90 of daily revenue — are scored with
    * L_q(y, ŷ) = max(q·(y−ŷ), (q−1)·(y−ŷ)), and each forecast's
    * empirical coverage rides along: pinball is the PROPER scoring
    * rule for quantiles (a forecast minimizes it iff it IS the
    * q-quantile — which in-sample these are, making the row its own
    * sanity proof), the metric every probabilistic-forecast
    * leaderboard uses where agg-forecast-backtest grades point
    * forecasts. Thresholds are tie-free discrete quantiles; each
    * loss term is exact integer arithmetic on cents (q = 1/2, 9/10
    * as exact rationals ×10); only the final mean divides. */
  val aggPinballLoss: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("y"))
      .sharedCache()
    val n = daily.count()
    val wq = Window.orderBy(col("y"), col("dt"))
    val ranked = daily.withColumn("rn", row_number().over(wq)).sharedCache()
    val q50 = ranked.filter(col("rn") === math.ceil(0.5 * n).toLong)
      .select(col("y").as("f50"))
    val q90 = ranked.filter(col("rn") === math.ceil(0.9 * n).toLong)
      .select(col("y").as("f90"))
    daily.crossJoin(broadcast(q50)).crossJoin(broadcast(q90))
      .select(col("y"), col("f50"), col("f90"),
        // 10x-scaled pinball terms stay integral: q=5/10 and 9/10
        greatest(lit(5) * (col("y") - col("f50")), lit(-5) * (col("y") - col("f50")))
          .as("l50x10"),
        greatest(lit(9) * (col("y") - col("f90")), lit(-1) * (col("y") - col("f90")))
          .as("l90x10"))
      .agg(count(lit(1)).as("n_days"),
        sum(expr("CAST(l50x10 AS DECIMAL(38,0))")).as("s50"),
        sum(expr("CAST(l90x10 AS DECIMAL(38,0))")).as("s90"),
        sum(when(col("y") <= col("f50"), 1L).otherwise(0L)).as("cov50"),
        sum(when(col("y") <= col("f90"), 1L).otherwise(0L)).as("cov90"))
      .select(col("n_days"),
        round(col("s50").cast(DoubleType) / 10 / col("n_days") / 100, 2)
          .as("pinball_p50_usd"),
        round(col("s90").cast(DoubleType) / 10 / col("n_days") / 100, 2)
          .as("pinball_p90_usd"),
        ratioFloor(col("cov50"), col("n_days"), 4).as("coverage_p50"),
        ratioFloor(col("cov90"), col("n_days"), 4).as("coverage_p90"))
  }

  val aggPinballLossSql: String =
    """WITH daily AS MATERIALIZED (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |nn AS (SELECT count(*) AS n FROM daily),
      |ranked AS MATERIALIZED (
      |  SELECT y, row_number() OVER (ORDER BY y, dt) AS rn FROM daily),
      |q50 AS (SELECT y AS f50 FROM ranked CROSS JOIN nn
      |        WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)),
      |q90 AS (SELECT y AS f90 FROM ranked CROSS JOIN nn
      |        WHERE rn = CAST(ceil(0.9 * n) AS BIGINT)),
      |terms AS (
      |  SELECT y, f50, f90,
      |         greatest(5 * (y - f50), -5 * (y - f50)) AS l50x10,
      |         greatest(9 * (y - f90), -1 * (y - f90)) AS l90x10
      |  FROM daily CROSS JOIN q50 CROSS JOIN q90)
      |SELECT CAST(count(*) AS BIGINT) AS n_days,
      |       round(CAST(sum(CAST(l50x10 AS HUGEINT)) AS DOUBLE) / 10 / count(*) / 100, 2)
      |         AS pinball_p50_usd,
      |       round(CAST(sum(CAST(l90x10 AS HUGEINT)) AS DOUBLE) / 10 / count(*) / 100, 2)
      |         AS pinball_p90_usd,
      |       floor(CAST(sum(CASE WHEN y <= f50 THEN 1 ELSE 0 END) AS DOUBLE) * 1e4 / count(*)) / 1e4
      |         AS coverage_p50,
      |       floor(CAST(sum(CASE WHEN y <= f90 THEN 1 ELSE 0 END) AS DOUBLE) * 1e4 / count(*)) / 1e4
      |         AS coverage_p90
      |FROM terms""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-ipw-ate", aggIpwAte, aggIpwAteSql),
    Key("gen-easter-dates", genEasterDates, genEasterDatesSql),
    Key("sample-weighted-reservoir", sampleWeightedReservoir, sampleWeightedReservoirSql),
    Key("agg-pinball-loss", aggPinballLoss, aggPinballLossSql))
}
