package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch S: RiskMetrics EWMA volatility, chain-ladder
  * development factors, compound-Poisson forecast band, keyset
  * pagination. */
object RelMore118 extends KeyModule {

  /** win-riskmetrics-vol — the RiskMetrics EWMA volatility
    * (λ = 0.94) of daily log revenue returns: σ²ₜ = (1−λ)Σλ^(t−i)r²ᵢ,
    * the industry-standard volatility clock that reacts to shocks
    * and forgets them geometrically — win-realized-vol's rolling
    * window weights all days equally and DROPS a shock abruptly at
    * the window edge; EWMA decays it smoothly. The recursion unrolls
    * closed-form (the Croston discipline): each weighted squared
    * return is ONE deterministic double (exp/ln on exact integer
    * returns), pico-floor-quantized per row, and the final fold is an
    * exact integer sum — partition-order-proof. Returns are
    * nano-quantized log ratios of exact cent sums. The LAST day's σ
    * plus the annualized figure are emitted with the weight-sum
    * (1−λ^n) so truncation is visible, not hidden. */
  val winRiskmetricsVol: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("y"))
    val wd = Window.orderBy("dt")
    val rets = daily
      .withColumn("yl", lag("y", 1).over(wd))
      .filter(col("yl").isNotNull)
      .withColumn("i", row_number().over(wd))
      .select(col("i"),
        floor((log(col("y").cast(DoubleType)) - log(col("yl").cast(DoubleType))) * lit(1e9))
          .cast(LongType).as("rq"))
      .sharedCache()
    val m = rets.agg(max("i").as("m"))
    val terms = rets.crossJoin(broadcast(m))
      .select(
        floor((col("rq").cast(DoubleType) / 1e9) * (col("rq").cast(DoubleType) / 1e9) *
          expr("exp((m - i) * ln(0.94))") * lit(1e12)).cast(LongType).as("wr2"))
    terms.crossJoin(broadcast(m))
      .agg(max("m").as("n_rets"), sum("wr2").as("swq"))
      .select(col("n_rets").cast(LongType).as("n_returns"),
        round(sqrt(col("swq").cast(DoubleType) / 1e12 * (1 - 0.94)), 6).as("ewma_vol_daily"),
        round(sqrt(col("swq").cast(DoubleType) / 1e12 * (1 - 0.94)) * sqrt(lit(252.0)), 6)
          .as("ewma_vol_annualized"),
        round(lit(1.0) - exp(col("n_rets").cast(DoubleType) * math.log(0.94)), 6)
          .as("weight_coverage"))
  }

  val winRiskmetricsVolSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |rets AS (
      |  SELECT row_number() OVER (ORDER BY dt) AS i,
      |         CAST(floor((ln(CAST(y AS DOUBLE)) - ln(CAST(yl AS DOUBLE))) * 1e9) AS BIGINT) AS rq
      |  FROM (SELECT dt, y, lag(y) OVER (ORDER BY dt) AS yl FROM daily) t
      |  WHERE yl IS NOT NULL),
      |m AS (SELECT max(i) AS m FROM rets),
      |terms AS (
      |  SELECT CAST(floor((CAST(rq AS DOUBLE) / 1e9) * (CAST(rq AS DOUBLE) / 1e9) *
      |           exp((m - i) * ln(0.94)) * 1e12) AS BIGINT) AS wr2
      |  FROM rets CROSS JOIN m)
      |SELECT CAST(m AS BIGINT) AS n_returns,
      |       round(sqrt(CAST(sum(wr2) AS DOUBLE) / 1e12 * (1 - 0.94)), 6) AS ewma_vol_daily,
      |       round(sqrt(CAST(sum(wr2) AS DOUBLE) / 1e12 * (1 - 0.94)) * sqrt(252.0), 6)
      |         AS ewma_vol_annualized,
      |       round(1.0 - exp(CAST(m AS DOUBLE) * ln(0.94)), 6) AS weight_coverage
      |FROM terms CROSS JOIN m
      |GROUP BY m""".stripMargin

  /** agg-chain-ladder — the chain-ladder development triangle on
    * order-to-ship lags: rows = order quarters (origin periods),
    * columns = development lag buckets (0-30/31-60/61-90/90+ days
    * from order date to line shipdate), cumulative counts across the
    * triangle, and the volume-weighted development factors
    * f_j = ΣᵢC_{i,j+1}/ΣᵢC_{i,j} — THE actuarial/fulfilment
    * completeness estimator: given what has shipped by lag 30, how
    * much more will ultimately ship. Factors use only origin periods
    * with COMPLETE experience at both lags (the triangle's staircase
    * rule, applied identically via the max-orderdate horizon).
    * Everything is exact integer counts and ratioFloor ratios; the
    * data-sized work is one (origin, lag-bucket) rollup of the
    * order⋈lineitem join. */
  val aggChainLadder: Q = (s, d) => {
    val horizon = lineitem(s, d).agg(max(to_date(col("l_shipdate"))).as("hz"))
    val lagged = lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select((year(col("o_orderdate")) * 10 + quarter(col("o_orderdate"))).as("origin"),
        to_date(col("o_orderdate")).as("odt"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))).as("lagd"))
      .withColumn("j", when(col("lagd") <= 30, 0).when(col("lagd") <= 60, 1)
        .when(col("lagd") <= 90, 2).otherwise(3))
    val cells = lagged.groupBy("origin")
      .agg(max("odt").as("maxodt"),
        sum(when(col("j") <= 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("j") <= 1, 1L).otherwise(0L)).as("c1"),
        sum(when(col("j") <= 2, 1L).otherwise(0L)).as("c2"),
        count(lit(1)).as("c3"))
      .crossJoin(broadcast(horizon))
      .sharedCache()
    val f01 = cells.filter(datediff(col("hz"), col("maxodt")) >= 60)
      .agg(sum("c0").as("d0"), sum("c1").as("n1"))
    val f12 = cells.filter(datediff(col("hz"), col("maxodt")) >= 90)
      .agg(sum("c1").as("d1"), sum("c2").as("n2"))
    val f23 = cells.filter(datediff(col("hz"), col("maxodt")) >= 121)
      .agg(sum("c2").as("d2"), sum("c3").as("n3"))
    cells.agg(count(lit(1)).as("n_origins"), sum("c3").as("n_lines"))
      .crossJoin(broadcast(f01)).crossJoin(broadcast(f12)).crossJoin(broadcast(f23))
      .select(col("n_origins"), col("n_lines"),
        ratioFloor(col("n1"), col("d0"), 6).as("f_0_30_to_60"),
        ratioFloor(col("n2"), col("d1"), 6).as("f_60_to_90"),
        ratioFloor(col("n3"), col("d2"), 6).as("f_90_to_ult"))
  }

  val aggChainLadderSql: String =
    """WITH horizon AS (
      |  SELECT max(CAST(date_trunc('day', l_shipdate) AS DATE)) AS hz FROM lineitem),
      |lagged AS (
      |  SELECT year(o_orderdate) * 10 + quarter(o_orderdate) AS origin,
      |         CAST(date_trunc('day', o_orderdate) AS DATE) AS odt,
      |         CAST(date_trunc('day', l_shipdate) AS DATE) -
      |           CAST(date_trunc('day', o_orderdate) AS DATE) AS lagd
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |cells AS MATERIALIZED (
      |  SELECT origin, max(odt) AS maxodt,
      |         CAST(sum(CASE WHEN lagd <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
      |         CAST(sum(CASE WHEN lagd <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |         CAST(sum(CASE WHEN lagd <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
      |         CAST(count(*) AS BIGINT) AS c3
      |  FROM lagged GROUP BY 1),
      |f01 AS (SELECT CAST(sum(c0) AS BIGINT) AS d0, CAST(sum(c1) AS BIGINT) AS n1
      |        FROM cells CROSS JOIN horizon WHERE hz - maxodt >= 60),
      |f12 AS (SELECT CAST(sum(c1) AS BIGINT) AS d1, CAST(sum(c2) AS BIGINT) AS n2
      |        FROM cells CROSS JOIN horizon WHERE hz - maxodt >= 90),
      |f23 AS (SELECT CAST(sum(c2) AS BIGINT) AS d2, CAST(sum(c3) AS BIGINT) AS n3
      |        FROM cells CROSS JOIN horizon WHERE hz - maxodt >= 121)
      |SELECT CAST(count(*) AS BIGINT) AS n_origins, CAST(sum(c3) AS BIGINT) AS n_lines,
      |       floor(CAST(max(n1) AS DOUBLE) * 1e6 / max(d0)) / 1e6 AS f_0_30_to_60,
      |       floor(CAST(max(n2) AS DOUBLE) * 1e6 / max(d1)) / 1e6 AS f_60_to_90,
      |       floor(CAST(max(n3) AS DOUBLE) * 1e6 / max(d2)) / 1e6 AS f_90_to_ult
      |FROM cells CROSS JOIN f01 CROSS JOIN f12 CROSS JOIN f23""".stripMargin

  /** agg-compound-poisson — frequency-severity decomposition of
    * monthly revenue as a compound Poisson: order arrivals at rate
    * λ/month, i.i.d. severities with moments (m₁, m₂) ⇒ E[S] = λm₁,
    * Var[S] = λm₂ — the actuarial identity that converts TWO simple
    * aggregates into a monthly revenue forecast band WITHOUT fitting
    * a time-series model. The op grades its own band: the share of
    * actual months inside E[S]±2σ is emitted (≈0.95 if the compound-
    * Poisson assumptions hold; a materially lower number is evidence
    * of clustering/seasonality — which agg-dispersion-index and the
    * seasonality ops then localize). λ, m₁, m₂ come from exact
    * integer sums; the coverage test compares exact monthly cent
    * totals against the band through identical double bounds. */
  val aggCompoundPoisson: Q = (s, d) => {
    val perOrder = orders(s, d)
      .select(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("v"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).as("ym"))
      .sharedCache()
    val sev = perOrder.agg(count(lit(1)).as("n"),
      sum(expr("CAST(v AS DECIMAL(38,0))")).as("sv"),
      sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("svv"))
    val monthly = perOrder.groupBy("ym").agg(sum("v").as("sm"), count(lit(1)).as("cm"))
    val nm = monthly.agg(count(lit(1)).as("n_months"))
    val fit = sev.crossJoin(broadcast(nm))
      .select(col("n"), col("n_months"),
        (col("n").cast(DoubleType) / col("n_months")).as("lambda"),
        (col("sv").cast(DoubleType) / col("n")).as("m1"),
        (col("svv").cast(DoubleType) / col("n")).as("m2"))
      .withColumn("es", col("lambda") * col("m1"))
      .withColumn("sd", sqrt(col("lambda") * col("m2")))
    monthly.crossJoin(broadcast(fit))
      .agg(max("n_months").as("n_months"),
        max(round(col("es") / 100, 2)).as("expected_monthly_usd"),
        max(round(col("sd") / 100, 2)).as("sd_monthly_usd"),
        sum(when(col("sm").cast(DoubleType) >= col("es") - lit(2.0) * col("sd") &&
          col("sm").cast(DoubleType) <= col("es") + lit(2.0) * col("sd"), 1L).otherwise(0L))
          .as("months_in_band"))
      .select(col("n_months"), col("expected_monthly_usd"), col("sd_monthly_usd"),
        col("months_in_band"))
  }

  val aggCompoundPoissonSql: String =
    """WITH per_order AS MATERIALIZED (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
      |         year(o_orderdate) * 100 + month(o_orderdate) AS ym
      |  FROM orders),
      |sev AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CAST(v AS HUGEINT)) AS HUGEINT) AS sv,
      |         CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS svv
      |  FROM per_order),
      |monthly AS (
      |  SELECT ym, CAST(sum(v) AS BIGINT) AS sm FROM per_order GROUP BY 1),
      |nm AS (SELECT CAST(count(*) AS BIGINT) AS n_months FROM monthly),
      |fit AS (
      |  SELECT n_months,
      |         (CAST(n AS DOUBLE) / n_months) * (CAST(sv AS DOUBLE) / n) AS es,
      |         sqrt((CAST(n AS DOUBLE) / n_months) * (CAST(svv AS DOUBLE) / n)) AS sd
      |  FROM sev CROSS JOIN nm)
      |SELECT max(n_months) AS n_months,
      |       max(round(es / 100, 2)) AS expected_monthly_usd,
      |       max(round(sd / 100, 2)) AS sd_monthly_usd,
      |       CAST(sum(CASE WHEN CAST(sm AS DOUBLE) >= es - 2 * sd
      |                      AND CAST(sm AS DOUBLE) <= es + 2 * sd
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS months_in_band
      |FROM monthly CROSS JOIN fit""".stripMargin

  /** sql-keyset-pagination — keyset (seek-method) pagination proven
    * equivalent to OFFSET pagination on a stable total order: page 3
    * of the order book (page size 50, ordered by (o_orderdate,
    * o_orderkey)) fetched BOTH ways — OFFSET 100 LIMIT 50, and the
    * keyset predicate (dt, key) > (last_dt, last_key) LIMIT 50 — and
    * emitted with a per-row match flag. OFFSET is O(offset) work and
    * skips/duplicates rows under concurrent inserts; keyset is O(page)
    * with a (dt, key) index/zone-map seek and is append-stable —
    * THE pagination pattern for APIs over big tables, and exactly the
    * kind of predicate a sorted layout (layout-zonemap-skipping)
    * turns into a near-point scan. The equivalence flag is graded
    * row-by-row; any divergence (e.g. a non-total order) breaks the
    * compare. */
  val sqlKeysetPagination: Q = (s, d) => {
    val o = orders(s, d).select(col("o_orderkey"), to_date(col("o_orderdate")).as("dt"))
      .sharedCache()
    // Both the OFFSET page and the seek anchor come from orderBy+limit
    // (TakeOrderedAndProject: bounded per-partition heap + driver merge)
    // — NEVER a row_number over the whole table, which is the exact
    // O(table) anti-pattern keyset pagination exists to avoid. The page
    // positions are then stamped by PrefixScan over the ≤150 already-
    // limited rows (r13: was a row_number window — bounded, but the
    // rank stamp costs the same and keeps the census allowlist honest).
    o.count() // single-stage fill: the page jobs below share the scan
    val top150 = graft.functions.PrefixScan.withRankCumSum(
      o.orderBy(col("dt"), col("o_orderkey")).limit(150),
      Seq(col("dt"), col("o_orderkey")), None, rankName = "rn")
      .df.sharedCache()
    top150.count()
    val offsetPage = top150.filter(col("rn") > 100 && col("rn") <= 150)
      .select(col("rn"), col("o_orderkey").as("k_offset"), col("dt").as("dt_offset"))
    val last = top150.filter(col("rn") === 100)
      .select(col("dt").as("ldt"), col("o_orderkey").as("lk"))
    val keysetPage = graft.functions.PrefixScan.withRankCumSum(
      o.crossJoin(broadcast(last))
        .filter(col("dt") > col("ldt") ||
          (col("dt") === col("ldt") && col("o_orderkey") > col("lk")))
        .orderBy(col("dt"), col("o_orderkey")).limit(50),
      Seq(col("dt"), col("o_orderkey")), None, rankName = "rn0")
      .df.withColumn("rn", col("rn0") + 100)
      .select(col("rn"), col("o_orderkey").as("k_keyset"))
    offsetPage.join(keysetPage, Seq("rn"))
      .select(col("rn").cast(LongType).as("page_row"), col("dt_offset").as("dt"),
        col("k_offset").as("orderkey"),
        (col("k_offset") === col("k_keyset")).as("keyset_matches_offset"))
      .orderBy("page_row")
  }

  val sqlKeysetPaginationSql: String =
    """WITH numbered AS MATERIALIZED (
      |  SELECT o_orderkey, CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         row_number() OVER (ORDER BY CAST(date_trunc('day', o_orderdate) AS DATE),
      |                            o_orderkey) AS rn
      |  FROM orders),
      |offset_page AS (
      |  SELECT rn, o_orderkey AS k_offset, dt AS dt_offset
      |  FROM numbered WHERE rn > 100 AND rn <= 150),
      |last AS (SELECT dt AS ldt, o_orderkey AS lk FROM numbered WHERE rn = 100),
      |keyset_page AS (
      |  SELECT row_number() OVER (ORDER BY dt, o_orderkey) + 100 AS rn,
      |         o_orderkey AS k_keyset
      |  FROM (
      |    SELECT dt, o_orderkey FROM numbered CROSS JOIN last
      |    WHERE dt > ldt OR (dt = ldt AND o_orderkey > lk)
      |    ORDER BY dt, o_orderkey LIMIT 50) t)
      |SELECT CAST(rn AS BIGINT) AS page_row, dt_offset AS dt, k_offset AS orderkey,
      |       k_offset = k_keyset AS keyset_matches_offset
      |FROM offset_page JOIN keyset_page USING (rn)
      |ORDER BY page_row""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("win-riskmetrics-vol", winRiskmetricsVol, winRiskmetricsVolSql),
    Key("agg-chain-ladder", aggChainLadder, aggChainLadderSql),
    Key("agg-compound-poisson", aggCompoundPoisson, aggCompoundPoissonSql),
    Key("sql-keyset-pagination", sqlKeysetPagination, sqlKeysetPaginationSql))
}
