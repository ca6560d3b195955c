package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch AP: segment migration matrix, brand growth rates,
  * expected-shortfall backtest, quadratic-weighted kappa. */
object RelMore141 extends KeyModule {

  /** agg-segment-migration — the FM-segment migration matrix between
    * the two halves of the order history: customers scored into 9
    * segments (frequency tertile × monetary tertile, ntile over a
    * fully tiebroken order) in each half, then the from→to flow
    * counts with row shares. agg-rfm-segmentation is a snapshot;
    * retention economics live in the FLOW (a "3-3 → 1-1" row is
    * churn-in-progress that no snapshot shows). Halves split at the
    * data's own midpoint date (exact epoch-day integer midpoint);
    * tertiles are deterministic (count/cents exact, custkey
    * tiebreak); the matrix join is customer-keyed. Two aggregates +
    * two 3-way ntile windows + one join. */
  val aggSegmentMigration: Q = (s, d) => {
    val o = orders(s, d).select(col("o_custkey").as("ck"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).as("ed"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))").as("c"))
      .sharedCache()
    val mid = o.agg(((min("ed") + max("ed")) -
      pmod(min("ed") + max("ed"), lit(2))).divide(lit(2)).cast(IntegerType).as("mid"))
    // r15: the two ntile(3) windows ran over the PER-CUSTOMER frame
    // with no partition clause — a corpus-sized single-task sort (the
    // agg-uplift-deciles case, r13). Ported to PrefixScan rank +
    // ntileFromRank: exact SQL-standard bucket split, bit-identical to
    // ntile at any partition count; the oracle stays window SQL.
    def half(first: Boolean) = {
      val side = o.crossJoin(broadcast(mid))
        .filter(if (first) col("ed") < col("mid") else col("ed") >= col("mid"))
        .groupBy("ck").agg(count(lit(1)).as("f"), sum("c").as("m"))
        .sharedCache()
      // the two tertile axes are INDEPENDENT rankings of the same cached
      // frame — scan each from the cache and equi-join on ck, rather
      // than chaining the m-scan onto the f-stamped lineage (which made
      // the final action replay the whole f-scan inside the m-scan)
      val byF = graft.functions.PrefixScan.withRankCumSum(
        side, Seq(col("f"), col("ck")), None, rankName = "rf")
      val ft = byF.df.select(col("ck"),
        graft.functions.PrefixScan.ntileFromRank(3, byF.n, col("rf")).as("ft"))
      val byM = graft.functions.PrefixScan.withRankCumSum(
        side, Seq(col("m"), col("ck")), None, rankName = "rm")
      val mt = byM.df.select(col("ck"),
        graft.functions.PrefixScan.ntileFromRank(3, byM.n, col("rm")).as("mt"))
      ft.join(mt, Seq("ck"))
        .select(col("ck"), ((col("ft") - 1) * 3 + col("mt")).as("seg"))
    }
    val from = half(first = true).select(col("ck"), col("seg").as("seg_from"))
    val to = half(first = false).select(col("ck"), col("seg").as("seg_to"))
    val flows = from.join(to, Seq("ck"))
      .groupBy("seg_from", "seg_to").agg(count(lit(1)).as("n_customers"))
    val rowTot = flows.groupBy("seg_from").agg(sum("n_customers").as("row_n"))
    flows.join(broadcast(rowTot), Seq("seg_from"))
      .select(col("seg_from"), col("seg_to"), col("n_customers"),
        ratioFloor(col("n_customers").cast(DoubleType), col("row_n"), 6).as("row_share"))
      .orderBy("seg_from", "seg_to")
  }

  val aggSegmentMigrationSql: String =
    """WITH o AS MATERIALIZED (
      |  SELECT o_custkey AS ck,
      |         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS ed,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT) AS c
      |  FROM orders),
      |mid AS (
      |  SELECT ((min(ed) + max(ed)) - ((min(ed) + max(ed)) % 2)) // 2 AS mid FROM o),
      |h1 AS (
      |  SELECT ck, (ntile(3) OVER (ORDER BY f, ck) - 1) * 3 +
      |             ntile(3) OVER (ORDER BY m, ck) AS seg
      |  FROM (SELECT ck, CAST(count(*) AS BIGINT) AS f, CAST(sum(c) AS HUGEINT) AS m
      |        FROM o CROSS JOIN mid WHERE ed < mid GROUP BY ck) t),
      |h2 AS (
      |  SELECT ck, (ntile(3) OVER (ORDER BY f, ck) - 1) * 3 +
      |             ntile(3) OVER (ORDER BY m, ck) AS seg
      |  FROM (SELECT ck, CAST(count(*) AS BIGINT) AS f, CAST(sum(c) AS HUGEINT) AS m
      |        FROM o CROSS JOIN mid WHERE ed >= mid GROUP BY ck) t),
      |flows AS (
      |  SELECT h1.seg AS seg_from, h2.seg AS seg_to,
      |         CAST(count(*) AS BIGINT) AS n_customers
      |  FROM h1 JOIN h2 USING (ck) GROUP BY 1, 2),
      |row_tot AS (
      |  SELECT seg_from, CAST(sum(n_customers) AS BIGINT) AS row_n
      |  FROM flows GROUP BY 1)
      |SELECT seg_from, seg_to, n_customers,
      |       floor(CAST(n_customers AS DOUBLE) * 1e6 / row_n) / 1e6 AS row_share
      |FROM flows JOIN row_tot USING (seg_from)
      |ORDER BY seg_from, seg_to""".stripMargin

  /** agg-brand-growth-rate — per-brand compound growth: the OLS slope
    * of ln(monthly revenue) on a month index, annualized to
    * (e^{12β}−1). The log-linear slope is THE scale-free growth
    * number (a brand at 10× the base grows "8%/yr" on the same
    * footing as a small one), and ranking brands by it is the mart
    * behind every "fastest growing" dashboard — agg-yoy-growth
    * compares two points; this fits ALL months and so is robust to a
    * lucky year. Month index is an exact integer (12·Δyear + Δmonth
    * from the corpus's own min month); ln(revenue) is nano-floored
    * per month so the per-brand moment folds are exact; one slope
    * per brand from the closed form. Brands need ≥ 24 months. */
  val aggBrandGrowthRate: Q = (s, d) => {
    val monthly = lineitem(s, d)
      .join(part(s, d).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"),
        (year(col("l_shipdate")) * 12 + month(col("l_shipdate"))).as("mi"))
      .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
        .as("rev"))
    val base = monthly.agg(min("mi").as("m0"))
    val pts = monthly.crossJoin(broadcast(base))
      .select(col("brand"), (col("mi") - col("m0")).as("x"),
        floor(log(col("rev").cast(DoubleType)) * lit(1e9)).cast(LongType).as("yq"))
    pts.groupBy("brand")
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(yq AS DECIMAL(38,0))")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * yq")).as("sxy"))
      .filter(col("n") >= 24)
      .select(col("brand"), col("n").cast(LongType).as("n_months"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType) / lit(1e9))
          .as("slope"))
      .select(col("brand"), col("n_months"),
        round(col("slope"), 8).as("monthly_log_growth"),
        round((exp(col("slope") * 12) - 1) * 100, 4).as("annualized_pct"))
      .orderBy(col("annualized_pct").desc, col("brand"))
  }

  val aggBrandGrowthRateSql: String =
    """WITH monthly AS (
      |  SELECT p_brand AS brand,
      |         year(l_shipdate) * 12 + month(l_shipdate) AS mi,
      |         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS rev
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1, 2),
      |base AS (SELECT min(mi) AS m0 FROM monthly),
      |pts AS (
      |  SELECT brand, mi - m0 AS x,
      |         CAST(floor(ln(CAST(rev AS DOUBLE)) * 1e9) AS BIGINT) AS yq
      |  FROM monthly CROSS JOIN base),
      |fits AS (
      |  SELECT brand, CAST(count(*) AS BIGINT) AS n_months,
      |         CAST(count(*) * sum(CAST(x AS HUGEINT) * yq) -
      |              CAST(sum(x) AS HUGEINT) * sum(yq) AS DOUBLE) /
      |         CAST(count(*) * sum(CAST(x AS HUGEINT) * x) -
      |              CAST(sum(x) AS HUGEINT) * sum(x) AS DOUBLE) / 1e9 AS slope
      |  FROM pts GROUP BY brand HAVING count(*) >= 24)
      |SELECT brand, n_months,
      |       round(slope, 8) AS monthly_log_growth,
      |       round((exp(slope * 12) - 1) * 100, 4) AS annualized_pct
      |FROM fits
      |ORDER BY annualized_pct DESC, brand""".stripMargin

  /** agg-es-backtest-z2 — Acerbi-Székely Z₂ backtest of a NORMAL
    * expected-shortfall model against realized daily revenue returns:
    * the model forecasts VaR₉₅ = μ−1.645σ and ES₉₅ = μ−2.0627σ from
    * in-sample moments; Z₂ = Σ rₜ·1[rₜ<VaR]/(T·α·ES) + 1 should be
    * ≈ 0 if returns were really normal, and goes NEGATIVE when the
    * tail is fatter than forecast — the standard regulatory
    * complement to dq-kupiec-var-backtest, which counts breaches but
    * never weighs their SEVERITY (two models with identical breach
    * counts can differ hugely in tail loss; Z₂ separates them). Returns
    * are nano-floored integers; breach indicators are integer
    * compares against the quantized model VaR; one moment pass + one
    * breach pass. */
  val aggEsBacktestZ2: Q = (s, d) => {
    val rets = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
        .as("v"))
      .withColumn("prev", lag("v", 1).over(Window.orderBy("dt")))
      .filter(col("prev").isNotNull)
      .select(floor(log(col("v").cast(DoubleType) / col("prev").cast(DoubleType)) *
        lit(1e9)).cast(LongType).as("rq"))
      .sharedCache()
    val mom = rets.agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum(expr("CAST(rq AS DECIMAL(38,0))")).as("sr"),
        sum(expr("CAST(rq AS DECIMAL(38,0)) * rq")).as("srr"))
      .select(col("n"),
        (col("sr").cast(DoubleType) / col("n").cast(DoubleType)).as("mu"),
        (sqrt((col("n") * col("srr") - col("sr") * col("sr")).cast(DoubleType)) /
          col("n").cast(DoubleType)).as("sig"))
      .select(col("n"), col("mu"), col("sig"),
        floor(col("mu") - lit(1.645) * col("sig")).cast(LongType).as("varq"),
        (col("mu") - lit(2.0627) * col("sig")).as("esq"))
    val breach = rets.crossJoin(broadcast(mom))
      .filter(col("rq") < col("varq"))
      .agg(count(lit(1)).as("n_breaches"), sum("rq").as("sbr"))
    mom.crossJoin(broadcast(breach))
      .select(col("n").cast(LongType).as("n_days"), col("n_breaches"),
        round(col("varq").cast(DoubleType) / lit(1e9), 6).as("var95_model"),
        round(col("esq") / lit(1e9), 6).as("es95_model"),
        round(coalesce(col("sbr"), lit(0L)).cast(DoubleType) /
          (col("n").cast(DoubleType) * lit(0.05) * col("esq")) + lit(1.0), 4).as("z2"),
        ratioFloor(col("n_breaches").cast(DoubleType), col("n"), 6).as("breach_rate"))
      .withColumn("tail_fatter_than_normal", col("z2") < lit(-0.7))
  }

  val aggEsBacktestZ2Sql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS v
      |  FROM orders GROUP BY 1),
      |rets AS MATERIALIZED (
      |  SELECT CAST(floor(ln(CAST(v AS DOUBLE) /
      |           (lag(v) OVER (ORDER BY dt))) * 1e9) AS BIGINT) AS rq
      |  FROM daily
      |  QUALIFY lag(v) OVER (ORDER BY dt) IS NOT NULL),
      |mom AS (
      |  SELECT n, mu, sig,
      |         CAST(floor(mu - 1.645 * sig) AS BIGINT) AS varq,
      |         mu - 2.0627 * sig AS esq
      |  FROM (
      |    SELECT CAST(count(*) AS HUGEINT) AS n,
      |           CAST(sum(rq) AS DOUBLE) / count(*) AS mu,
      |           sqrt(CAST(count(*) * sum(CAST(rq AS HUGEINT) * rq) -
      |                     CAST(sum(rq) AS HUGEINT) * sum(rq) AS DOUBLE)) / count(*) AS sig
      |    FROM rets) t),
      |breach AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_breaches, CAST(sum(rq) AS BIGINT) AS sbr
      |  FROM rets CROSS JOIN mom WHERE rq < varq)
      |SELECT CAST(n AS BIGINT) AS n_days, n_breaches,
      |       round(CAST(varq AS DOUBLE) / 1e9, 6) AS var95_model,
      |       round(esq / 1e9, 6) AS es95_model,
      |       round(CAST(coalesce(sbr, 0) AS DOUBLE) /
      |             (CAST(n AS DOUBLE) * 0.05 * esq) + 1.0, 4) AS z2,
      |       floor(CAST(n_breaches AS DOUBLE) * 1e6 / n) / 1e6 AS breach_rate,
      |       round(CAST(coalesce(sbr, 0) AS DOUBLE) /
      |             (CAST(n AS DOUBLE) * 0.05 * esq) + 1.0, 4) < -0.7
      |         AS tail_fatter_than_normal
      |FROM mom CROSS JOIN breach""".stripMargin

  /** agg-weighted-kappa — quadratic-weighted Cohen's kappa between
    * the two halves' nation revenue terciles: κ_w = 1 −
    * Σwᵢⱼ·Oᵢⱼ/Σwᵢⱼ·Eᵢⱼ with wᵢⱼ = (i−j)². dq-cohens-kappa treats
    * every disagreement alike; on ORDINAL ratings a 1↔3 flip is
    * worse than 1↔2, and quadratic weighting is the standard fix
    * (it also makes κ_w an ICC analog). Raters = the two half-period
    * tercile assignments (exact cents, ntile with nation tiebreak);
    * the 3×3 observed and expected matrices are exact integer
    * counts/products (E cleared by n); one final double ratio. */
  val aggWeightedKappa: Q = (s, d) => {
    val o = orders(s, d)
      .join(customer(s, d).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nk"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).as("ed"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))").as("c"))
      .sharedCache()
    val mid = o.agg(((min("ed") + max("ed")) -
      pmod(min("ed") + max("ed"), lit(2))).divide(lit(2)).cast(IntegerType).as("mid"))
    def tercile(first: Boolean) =
      o.crossJoin(broadcast(mid))
        .filter(if (first) col("ed") < col("mid") else col("ed") >= col("mid"))
        .groupBy("nk").agg(sum("c").as("rev"))
        .withColumn("t", ntile(3).over(Window.orderBy(col("rev"), col("nk"))))
        .select(col("nk"), col("t"))
    val pairs = tercile(first = true).select(col("nk"), col("t").as("i"))
      .join(tercile(first = false).select(col("nk"), col("t").as("j")), Seq("nk"))
      .sharedCache()
    val obs = pairs.agg(count(lit(1)).as("n"),
      sum(expr("(i - j) * (i - j)")).as("wo"))
    val margI = pairs.groupBy("i").agg(count(lit(1)).as("ni"))
    val margJ = pairs.groupBy("j").agg(count(lit(1)).as("nj"))
    val we = margI.crossJoin(margJ)
      .agg(sum(expr("(i - j) * (i - j) * ni * nj")).as("weN"))
    obs.crossJoin(broadcast(we))
      .select(col("n").as("n_nations"), col("wo").as("weighted_disagreement"),
        // κ_w = 1 − (ΣwO)·n / ΣwE·... E_ij = ni·nj/n ⇒ ΣwE = weN/n
        round(lit(1.0) - col("wo").cast(DoubleType) * col("n").cast(DoubleType) /
          col("weN").cast(DoubleType), 6).as("weighted_kappa"))
  }

  val aggWeightedKappaSql: String =
    """WITH o AS MATERIALIZED (
      |  SELECT c_nationkey AS nk,
      |         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS ed,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT) AS c
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |mid AS (
      |  SELECT ((min(ed) + max(ed)) - ((min(ed) + max(ed)) % 2)) // 2 AS mid FROM o),
      |t1 AS (
      |  SELECT nk, ntile(3) OVER (ORDER BY rev, nk) AS i
      |  FROM (SELECT nk, CAST(sum(c) AS HUGEINT) AS rev
      |        FROM o CROSS JOIN mid WHERE ed < mid GROUP BY nk) t),
      |t2 AS (
      |  SELECT nk, ntile(3) OVER (ORDER BY rev, nk) AS j
      |  FROM (SELECT nk, CAST(sum(c) AS HUGEINT) AS rev
      |        FROM o CROSS JOIN mid WHERE ed >= mid GROUP BY nk) t),
      |pairs AS MATERIALIZED (SELECT nk, i, j FROM t1 JOIN t2 USING (nk)),
      |obs AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum((i - j) * (i - j)) AS BIGINT) AS wo
      |  FROM pairs),
      |we AS (
      |  SELECT CAST(sum((i - j) * (i - j) * ni * nj) AS HUGEINT) AS weN FROM
      |    (SELECT i, CAST(count(*) AS BIGINT) AS ni FROM pairs GROUP BY 1) a
      |  CROSS JOIN
      |    (SELECT j, CAST(count(*) AS BIGINT) AS nj FROM pairs GROUP BY 1) b)
      |SELECT n AS n_nations, wo AS weighted_disagreement,
      |       round(1.0 - CAST(wo AS DOUBLE) * CAST(n AS DOUBLE) /
      |             CAST(weN AS DOUBLE), 6) AS weighted_kappa
      |FROM obs CROSS JOIN we""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-segment-migration", aggSegmentMigration, aggSegmentMigrationSql),
    Key("agg-brand-growth-rate", aggBrandGrowthRate, aggBrandGrowthRateSql),
    Key("agg-es-backtest-z2", aggEsBacktestZ2, aggEsBacktestZ2Sql),
    Key("agg-weighted-kappa", aggWeightedKappa, aggWeightedKappaSql))
}
