package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-10 batch N: realized volatility, X̄-R control chart, open-
  * balance sweepline, row-level-security policy audit. */
object RelMore96 extends KeyModule {

  /** agg-realized-vol — monthly realized volatility of daily revenue:
    * daily log returns ln(y_t/y_{t-1}) floor-quantized to 1e-9 (one
    * lag window over the calendar-bounded daily frame), then the
    * sample std per month from exact integer moments — A = (nΣr² −
    * (Σr)²)/(n(n−1)) with Σr, Σr² exact in Decimal(38) — and one
    * sqrt at the output, with the √252 annualization constant
    * evaluated identically in both engines. The risk number every
    * revenue forecast should quote next to its mean. */
  val aggRealizedVol: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(floor(col("o_totalprice") * 100).cast(DecimalType(38, 0)))
        .cast(LongType).as("y"))
    val w = Window.orderBy("dt")
    val rets = daily.withColumn("yp", lag("y", 1).over(w))
      .filter(col("yp").isNotNull)
      .select(col("dt"),
        floor(log(col("y").cast(DoubleType) / col("yp")) * 1e9)
          .cast(LongType).as("rq"))
    rets.groupBy(year(col("dt")).as("yr"), month(col("dt")).as("mo"))
      .agg(count(lit(1)).as("n"),
        sum(col("rq").cast(DecimalType(38, 0))).as("sr"),
        sum(col("rq").cast(DecimalType(38, 0)) * col("rq")).as("sr2"))
      .filter(col("n") >= 5)
      .select(col("yr"), col("mo"), col("n"),
        round(sqrt((col("n") * col("sr2") - col("sr") * col("sr")).cast(DoubleType) /
          (col("n") * (col("n") - 1))) / 1e9, 6).as("daily_vol"),
        round(sqrt((col("n") * col("sr2") - col("sr") * col("sr")).cast(DoubleType) /
          (col("n") * (col("n") - 1))) / 1e9 * sqrt(lit(252.0)), 6).as("annualized_vol"))
      .orderBy("yr", "mo")
  }

  val aggRealizedVolSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(sum(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS HUGEINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |rets AS (
      |  SELECT dt, CAST(floor(ln(CAST(y AS DOUBLE) / lag(y) OVER (ORDER BY dt)) * 1e9) AS BIGINT) AS rq
      |  FROM daily),
      |m AS (
      |  SELECT year(dt) AS yr, month(dt) AS mo, count(*) AS n,
      |         sum(CAST(rq AS HUGEINT)) AS sr,
      |         sum(CAST(rq AS HUGEINT) * rq) AS sr2
      |  FROM rets WHERE rq IS NOT NULL
      |  GROUP BY 1, 2 HAVING count(*) >= 5)
      |SELECT yr, mo, n,
      |       round(sqrt(CAST(n * sr2 - sr * sr AS DOUBLE) / (n * (n - 1))) / 1e9, 6) AS daily_vol,
      |       round(sqrt(CAST(n * sr2 - sr * sr AS DOUBLE) / (n * (n - 1))) / 1e9 * sqrt(252.0), 6) AS annualized_vol
      |FROM m
      |ORDER BY yr, mo""".stripMargin

  /** agg-xbar-r-chart — the Shewhart X̄-R control chart on weekly
    * subgroups of daily revenue: subgroup means and ranges, grand
    * mean and mean range, and the classic A₂R̄ control limits (A₂ =
    * 0.419 for n=7). Only COMPLETE weeks qualify (n=7 guard — a
    * partial week's range is biased). All subgroup statistics are
    * exact integers; the limits take one multiply each from exact
    * sums, identically in both engines. Flags count the weeks out of
    * control — the process-stability gate that belongs in front of
    * every anomaly detector (an "anomaly" in an unstable process is
    * just Tuesday). Completes the monitoring family: CUSUM (drift),
    * SPRT (sequential), level-shift (steps), X̄-R (subgroup control). */
  val aggXbarRChart: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(floor(col("o_totalprice") * 100).cast(DecimalType(38, 0)))
        .cast(LongType).as("y"))
    val weeks = daily.groupBy(date_trunc("week", col("dt")).as("wk"))
      .agg(count(lit(1)).as("n"), sum(col("y").cast(DecimalType(38, 0)))
        .cast(LongType).as("wsum"),
        (max("y") - min("y")).as("r"))
      .filter(col("n") === 7)
      .sharedCache()
    val grand = weeks.agg(count(lit(1)).as("k"),
      sum(col("wsum").cast(DecimalType(38, 0))).cast(LongType).as("gsum"),
      sum("r").cast(LongType).as("rsum"))
      .select(col("k"),
        (col("gsum").cast(DoubleType) / (col("k") * 7)).as("xbarbar"),
        (col("rsum").cast(DoubleType) / col("k")).as("rbar"))
    val a2 = lit(0.419)
    weeks.crossJoin(broadcast(grand))
      .select(col("wk"), (col("wsum").cast(DoubleType) / 7).as("wmean"),
        col("xbarbar"), col("rbar"))
      .agg(count(lit(1)).as("k_weeks"),
        round(max("xbarbar") / 100, 2).as("grand_mean"),
        round(max("rbar") / 100, 2).as("mean_range"),
        round((max("xbarbar") + a2 * max("rbar")) / 100, 2).as("ucl"),
        round((max("xbarbar") - a2 * max("rbar")) / 100, 2).as("lcl"),
        sum(when(col("wmean") > col("xbarbar") + a2 * col("rbar"), 1L)
          .otherwise(0L)).as("n_above_ucl"),
        sum(when(col("wmean") < col("xbarbar") - a2 * col("rbar"), 1L)
          .otherwise(0L)).as("n_below_lcl"))
  }

  val aggXbarRChartSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(sum(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS HUGEINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |weeks AS (
      |  SELECT date_trunc('week', dt) AS wk, count(*) AS n,
      |         CAST(sum(CAST(y AS HUGEINT)) AS BIGINT) AS wsum,
      |         max(y) - min(y) AS r
      |  FROM daily GROUP BY 1 HAVING count(*) = 7),
      |grand AS (
      |  SELECT count(*) AS k,
      |         CAST(sum(CAST(wsum AS HUGEINT)) AS DOUBLE) / (count(*) * 7) AS xbarbar,
      |         CAST(sum(CAST(r AS HUGEINT)) AS DOUBLE) / count(*) AS rbar
      |  FROM weeks)
      |SELECT count(*) AS k_weeks,
      |       round(max(xbarbar) / 100, 2) AS grand_mean,
      |       round(max(rbar) / 100, 2) AS mean_range,
      |       round((max(xbarbar) + 0.419 * max(rbar)) / 100, 2) AS ucl,
      |       round((max(xbarbar) - 0.419 * max(rbar)) / 100, 2) AS lcl,
      |       CAST(sum(CASE WHEN CAST(wsum AS DOUBLE) / 7 > xbarbar + 0.419 * rbar THEN 1 ELSE 0 END) AS BIGINT) AS n_above_ucl,
      |       CAST(sum(CASE WHEN CAST(wsum AS DOUBLE) / 7 < xbarbar - 0.419 * rbar THEN 1 ELSE 0 END) AS BIGINT) AS n_below_lcl
      |FROM weeks CROSS JOIN grand""".stripMargin

  /** win-open-balance — the value-weighted sweepline: outstanding
    * (ordered-but-unshipped) order value per day, from ±cents events
    * at order date / first-ship date, densified over the calendar and
    * cumulated once. Where win-sweepline-concurrency counts open
    * INTERVALS, this carries their VALUE — the working-capital curve
    * finance asks for. All exact cents; the only window is the
    * running sum over the calendar-bounded dense day frame. Monthly
    * average and peak balance. */
  val winOpenBalance: Q = (s, d) => {
    val spans = orders(s, d)
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("odate"),
        floor(col("o_totalprice") * 100).cast(LongType).as("cents"))
      .join(lineitem(s, d).groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(min(to_date(col("l_shipdate"))).as("ship")), "o_orderkey")
    val deltas = spans.select(col("odate").as("dt"), col("cents").as("delta"))
      .unionByName(spans.select(col("ship").as("dt"), (-col("cents")).as("delta")))
    val bounds = deltas.agg(min("dt").as("d0"), max("dt").as("d1"))
    val dense = bounds.select(explode(expr(
      "sequence(d0, d1, interval 1 day)")).as("dt"))
      .select(col("dt"), lit(0L).as("delta"))
    val daily = deltas.unionByName(dense)
      .groupBy("dt").agg(sum("delta").as("net"))
    // balance = running sum over the dense DATE axis — grows with the
    // observation window, so PrefixScan (two-pass distributed cumsum)
    // replaces the unpartitioned window's single-task global sort (r11)
    val bal = graft.functions.PrefixScan
      .withRankCumSum(daily, Seq(col("dt")), Some("net"),
        rankName = "rn_", cumName = "balance").df
    bal.groupBy(year(col("dt")).as("yr"), month(col("dt")).as("mo"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("balance").cast(DecimalType(38, 0))).as("balsum"),
        max("balance").as("peak"))
      .select(col("yr"), col("mo"), col("n_days"),
        ratioFloor(col("balsum"), col("n_days") * 100, 2).as("avg_open_balance"),
        (col("peak").cast(DoubleType) / 100).as("peak_open_balance"))
      .orderBy("yr", "mo")
  }

  val winOpenBalanceSql: String =
    s"""WITH spans AS (
       |  SELECT o.o_orderkey, CAST(date_trunc('day', o_orderdate) AS DATE) AS odate,
       |         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents, m.ship
       |  FROM orders o
       |  JOIN (SELECT l_orderkey, CAST(min(date_trunc('day', l_shipdate)) AS DATE) AS ship
       |        FROM lineitem GROUP BY 1) m ON m.l_orderkey = o.o_orderkey),
       |deltas AS (
       |  SELECT odate AS dt, cents AS delta FROM spans
       |  UNION ALL SELECT ship, -cents FROM spans),
       |bounds AS (SELECT min(dt) AS d0, max(dt) AS d1 FROM deltas),
       |dense AS (
       |  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS dt,
       |         CAST(0 AS BIGINT) AS delta
       |  FROM bounds),
       |daily AS (
       |  SELECT dt, CAST(sum(delta) AS BIGINT) AS net
       |  FROM (SELECT * FROM deltas UNION ALL SELECT * FROM dense)
       |  GROUP BY dt),
       |bal AS (
       |  SELECT dt, sum(net) OVER (ORDER BY dt ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS balance
       |  FROM daily)
       |SELECT year(dt) AS yr, month(dt) AS mo, count(*) AS n_days,
       |       ${ratioFloorSql("sum(CAST(balance AS HUGEINT))", "(count(*) * 100)", 2)} AS avg_open_balance,
       |       CAST(max(balance) AS DOUBLE) / 100 AS peak_open_balance
       |FROM bal
       |GROUP BY 1, 2
       |ORDER BY yr, mo""".stripMargin

  /** sink-rls-policy-audit — row-level security as data: a policy
    * table (role → visible priority classes) joined against the fact
    * table yields per-role visible-row and revenue accounting — the
    * audit every RLS rollout needs BEFORE enabling enforcement ("how
    * much does each role actually see?"). The policy is a broadcast
    * VALUES relation; visibility is one semi-join-shaped aggregate.
    * Complements sink-column-mask (column-level) with the row-level
    * half of the access-control story. */
  val sinkRlsPolicyAudit: Q = (s, d) => {
    import s.implicits._
    val policy = Seq(
      ("analyst", "1-URGENT"), ("analyst", "2-HIGH"),
      ("ops", "3-MEDIUM"), ("ops", "4-NOT SPECIFIED"), ("ops", "5-LOW"),
      ("admin", "1-URGENT"), ("admin", "2-HIGH"), ("admin", "3-MEDIUM"),
      ("admin", "4-NOT SPECIFIED"), ("admin", "5-LOW"))
      .toDF("role", "prio")
    val tot = orders(s, d).agg(count(lit(1)).as("n_total"),
      sum(floor(col("o_totalprice") * 100).cast(DecimalType(38, 0)))
        .cast(LongType).as("cents_total"))
    orders(s, d).select(col("o_orderpriority").as("prio"),
      floor(col("o_totalprice") * 100).cast(LongType).as("cents"))
      .join(broadcast(policy), "prio")
      .groupBy("role")
      .agg(count(lit(1)).as("n_visible"),
        sum(col("cents").cast(DecimalType(38, 0))).cast(LongType).as("cents_vis"))
      .crossJoin(broadcast(tot))
      .select(col("role"), col("n_visible"),
        (col("cents_vis").cast(DoubleType) / 100).as("revenue_visible"),
        ratioFloor(col("n_visible"), col("n_total"), 6).as("row_share"),
        ratioFloor(col("cents_vis"), col("cents_total"), 6).as("revenue_share"))
      .orderBy("role")
  }

  val sinkRlsPolicyAuditSql: String =
    s"""WITH policy(role, prio) AS (
       |  VALUES ('analyst', '1-URGENT'), ('analyst', '2-HIGH'),
       |         ('ops', '3-MEDIUM'), ('ops', '4-NOT SPECIFIED'), ('ops', '5-LOW'),
       |         ('admin', '1-URGENT'), ('admin', '2-HIGH'), ('admin', '3-MEDIUM'),
       |         ('admin', '4-NOT SPECIFIED'), ('admin', '5-LOW')),
       |tot AS (
       |  SELECT count(*) AS n_total,
       |         CAST(sum(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS HUGEINT)) AS BIGINT) AS cents_total
       |  FROM orders),
       |vis AS (
       |  SELECT role, count(*) AS n_visible,
       |         CAST(sum(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS HUGEINT)) AS BIGINT) AS cents_vis
       |  FROM orders JOIN policy ON policy.prio = o_orderpriority
       |  GROUP BY role)
       |SELECT role, n_visible,
       |       CAST(cents_vis AS DOUBLE) / 100 AS revenue_visible,
       |       ${ratioFloorSql("n_visible", "n_total", 6)} AS row_share,
       |       ${ratioFloorSql("cents_vis", "cents_total", 6)} AS revenue_share
       |FROM vis CROSS JOIN tot
       |ORDER BY role""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-realized-vol", aggRealizedVol, aggRealizedVolSql),
    Key("agg-xbar-r-chart", aggXbarRChart, aggXbarRChartSql),
    Key("win-open-balance", winOpenBalance, winOpenBalanceSql),
    Key("sink-rls-policy-audit", sinkRlsPolicyAudit, sinkRlsPolicyAuditSql))
}
