package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-8 batch AI: histogram binning advisor, Cox-Stuart trend sign
  * test, distribution-distance panel, exact 1-D Wasserstein. */
object RelMore200 extends KeyModule {

  /** dq-binning-advisor — how many histogram bins? The three classic
    * rules computed from exact moments of l_quantity: Sturges
    * k = ⌈log₂n⌉+1 (small-sample default), Scott h = 3.49σn^(−1/3)
    * (normal-optimal), Freedman-Diaconis h = 2·IQR·n^(−1/3) (robust).
    * IQR comes from the exact cumulative value-domain histogram
    * (type-1 quantiles — no fact-scale sort); the op emits each
    * rule's bin count so a dashboard can stop hardcoding 10. */
  val dqBinningAdvisor: Q = (s, d) => {
    val hist = lineitem(s, d)
      .groupBy(col("l_quantity").cast(LongType).as("v"))
      .agg(count(lit(1)).as("c"))
      .sharedCache()
    val m = hist.agg(sum("c").as("n"),
      sum(col("v") * col("c")).as("sv"),
      sum(col("v") * col("v") * col("c")).as("svv"),
      (max("v") - min("v")).as("range"))
      .select(col("n"), col("range").cast(DoubleType).as("range"),
        col("n").cast(DoubleType).as("nd"),
        col("sv").cast(DoubleType).as("sv"),
        col("svv").cast(DoubleType).as("svv"))
      .select(col("n"), col("range"), col("nd"),
        sqrt((col("svv") - col("sv") * col("sv") / col("nd")) /
          (col("nd") - 1.0)).as("sigma"))
    val wCum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist.withColumn("cum", sum("c").over(wCum))
    val q1 = cum.crossJoin(broadcast(m.select(col("n"))))
      .filter(col("cum") * 4 >= col("n"))
      .orderBy("v").limit(1).select(col("v").as("q25"))
    val q3 = cum.crossJoin(broadcast(m.select(col("n").as("n2"))))
      .filter(col("cum") * 4 >= col("n2") * 3)
      .orderBy("v").limit(1).select(col("v").as("q75"))
    m.crossJoin(broadcast(q1)).crossJoin(broadcast(q3))
      .select(col("n").as("n_rows"),
        round(col("sigma"), 4).as("sigma"),
        (col("q75") - col("q25")).as("iqr"),
        (ceil(log(2.0, col("nd")) + 1.0)).cast(LongType)
          .as("sturges_bins"),
        ceil(col("range") /
          (lit(3.49) * col("sigma") * pow(col("nd"), -1.0 / 3.0)))
          .cast(LongType).as("scott_bins"),
        ceil(col("range") /
          (lit(2.0) * (col("q75") - col("q25")).cast(DoubleType) *
            pow(col("nd"), -1.0 / 3.0))).cast(LongType).as("fd_bins"))
  }

  val dqBinningAdvisorSql: String =
    """WITH hist AS MATERIALIZED (
      |  SELECT CAST(l_quantity AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1),
      |m AS (
      |  SELECT n, range_, nd,
      |         sqrt((svv - sv * sv / nd) / (nd - 1.0)) AS sigma
      |  FROM (
      |    SELECT CAST(sum(c) AS BIGINT) AS n,
      |           CAST(max(v) - min(v) AS DOUBLE) AS range_,
      |           CAST(sum(c) AS DOUBLE) AS nd,
      |           CAST(sum(v * c) AS DOUBLE) AS sv,
      |           CAST(sum(v * v * c) AS DOUBLE) AS svv
      |    FROM hist) t),
      |cum AS (
      |  SELECT v, sum(c) OVER (ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM hist),
      |q1 AS (
      |  SELECT v AS q25 FROM cum CROSS JOIN m
      |  WHERE cum * 4 >= n ORDER BY v LIMIT 1),
      |q3 AS (
      |  SELECT v AS q75 FROM cum CROSS JOIN m
      |  WHERE cum * 4 >= n * 3 ORDER BY v LIMIT 1)
      |SELECT n AS n_rows, round(sigma, 4) AS sigma,
      |       q75 - q25 AS iqr,
      |       CAST(ceil(log2(nd) + 1.0) AS BIGINT) AS sturges_bins,
      |       CAST(ceil(range_ / (3.49 * sigma * pow(nd, -1.0 / 3.0)))
      |            AS BIGINT) AS scott_bins,
      |       CAST(ceil(range_ / (2.0 * CAST(q75 - q25 AS DOUBLE) *
      |            pow(nd, -1.0 / 3.0))) AS BIGINT) AS fd_bins
      |FROM m CROSS JOIN q1 CROSS JOIN q3""".stripMargin

  /** agg-cox-stuart-trend — the distribution-free trend test: pair
    * month t with month t + n/2, count revenue rises vs falls, and
    * test the sign count against Binomial(m, ½) with the normal
    * approximation — no linearity assumed (the nonparametric sibling
    * of agg-dickey-fuller's unit-root machinery). Bounded month
    * frame, exact pairing by index join. */
  val aggCoxStuartTrend: Q = (s, d) => {
    val mon = orders(s, d)
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .as("mi"))
      .agg(expr("sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 " +
        "AS BIGINT)) DIV 100").as("rev"))
      .sharedCache()
    val idx = mon.crossJoin(broadcast(mon.agg(min("mi").as("m0"),
      count(lit(1)).as("nm"))))
      .select((col("mi") - col("m0")).as("t"), col("rev"),
        expr("nm DIV 2").as("half"))
    val pairs = idx.select(col("t"), col("rev").as("r1"), col("half"))
      .join(idx.select((col("t") - col("half")).as("t"),
        col("rev").as("r2")), Seq("t"))
      .filter(col("r1") =!= col("r2"))
    pairs.agg(count(lit(1)).as("m_pairs"),
      sum(when(col("r2") > col("r1"), 1L).otherwise(0L)).as("rises"))
      .select(col("m_pairs"), col("rises"),
        round((col("rises").cast(DoubleType) -
          col("m_pairs").cast(DoubleType) / 2.0) /
          sqrt(col("m_pairs").cast(DoubleType) / 4.0), 4).as("z_stat"),
        (abs((col("rises").cast(DoubleType) -
          col("m_pairs").cast(DoubleType) / 2.0) /
          sqrt(col("m_pairs").cast(DoubleType) / 4.0)) > 1.96)
          .as("trend_detected"))
  }

  val aggCoxStuartTrendSql: String =
    """WITH mon AS MATERIALIZED (
      |  SELECT year(CAST(o_orderdate AS DATE)) * 12 +
      |           month(CAST(o_orderdate AS DATE)) AS mi,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |              AS BIGINT)) // 100 AS BIGINT) AS rev
      |  FROM orders GROUP BY 1),
      |meta AS (SELECT min(mi) AS m0, CAST(count(*) AS BIGINT) AS nm FROM mon),
      |idx AS (
      |  SELECT mi - m0 AS t, rev, nm // 2 AS half
      |  FROM mon CROSS JOIN meta),
      |pairs AS (
      |  SELECT a.t, a.rev AS r1, b.rev AS r2
      |  FROM idx a JOIN idx b ON b.t - a.half = a.t
      |  WHERE a.rev <> b.rev)
      |SELECT CAST(count(*) AS BIGINT) AS m_pairs,
      |       CAST(sum(CASE WHEN r2 > r1 THEN 1 ELSE 0 END) AS BIGINT) AS rises,
      |       round((CAST(sum(CASE WHEN r2 > r1 THEN 1 ELSE 0 END) AS DOUBLE) -
      |              count(*) / 2.0) / sqrt(count(*) / 4.0), 4) AS z_stat,
      |       abs((CAST(sum(CASE WHEN r2 > r1 THEN 1 ELSE 0 END) AS DOUBLE) -
      |            count(*) / 2.0) / sqrt(count(*) / 4.0)) > 1.96
      |         AS trend_detected
      |FROM pairs""".stripMargin

  /** dq-distribution-distance-panel — the f-divergence toolbox on the
    * 1996-vs-1997 quantity histograms: total variation (the fraction
    * of mass that must move), Hellinger (the metric that tempers
    * zeros), and the Bhattacharyya distance (the exponent of overlap)
    * — side by side, because each saturates differently and drift
    * monitors should not pick one blindly (dq-psi-drift and
    * dq-js-divergence are the siblings). Exact integer histograms;
    * the panel math runs on the ≤|domain| frame. */
  val dqDistributionDistancePanel: Q = (s, d) => {
    val hist = lineitem(s, d)
      .filter(year(col("l_shipdate")).isin(1996, 1997))
      .groupBy(col("l_quantity").cast(LongType).as("v"),
        year(col("l_shipdate")).as("y"))
      .agg(count(lit(1)).as("c"))
    val wide = hist.groupBy("v").agg(
      sum(when(col("y") === 1996, col("c")).otherwise(0L)).as("cp"),
      sum(when(col("y") === 1997, col("c")).otherwise(0L)).as("cq"))
    val tot = wide.agg(sum("cp").as("np"), sum("cq").as("nq"))
    val terms = wide.crossJoin(broadcast(tot))
      .select((col("cp").cast(DoubleType) / col("np").cast(DoubleType))
        .as("p"),
        (col("cq").cast(DoubleType) / col("nq").cast(DoubleType)).as("q"))
    terms.agg(count(lit(1)).as("domain_size"),
      round(sum(abs(col("p") - col("q"))) / 2.0, 6).as("total_variation"),
      round(sqrt(greatest(lit(0.0),
        lit(1.0) - sum(sqrt(col("p") * col("q"))))), 6).as("hellinger"),
      round(-log(sum(sqrt(col("p") * col("q")))), 6).as("bhattacharyya"))
  }

  val dqDistributionDistancePanelSql: String =
    """WITH hist AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS v,
      |         year(CAST(l_shipdate AS DATE)) AS y,
      |         CAST(count(*) AS BIGINT) AS c
      |  FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) IN (1996, 1997)
      |  GROUP BY 1, 2),
      |wide AS (
      |  SELECT v,
      |         CAST(sum(CASE WHEN y = 1996 THEN c ELSE 0 END) AS BIGINT) AS cp,
      |         CAST(sum(CASE WHEN y = 1997 THEN c ELSE 0 END) AS BIGINT) AS cq
      |  FROM hist GROUP BY 1),
      |tot AS (SELECT CAST(sum(cp) AS BIGINT) AS np,
      |               CAST(sum(cq) AS BIGINT) AS nq FROM wide),
      |terms AS (
      |  SELECT CAST(cp AS DOUBLE) / CAST(np AS DOUBLE) AS p,
      |         CAST(cq AS DOUBLE) / CAST(nq AS DOUBLE) AS q
      |  FROM wide CROSS JOIN tot)
      |SELECT CAST(count(*) AS BIGINT) AS domain_size,
      |       round(sum(abs(p - q)) / 2.0, 6) AS total_variation,
      |       round(sqrt(greatest(0.0, 1.0 - sum(sqrt(p * q)))), 6)
      |         AS hellinger,
      |       round(-ln(sum(sqrt(p * q))), 6) AS bhattacharyya
      |FROM terms""".stripMargin

  /** agg-wasserstein-1d — the earth mover's distance, EXACTLY: on an
    * integer value domain W₁ = Σ_v |F_P(v) − F_Q(v)|, and with
    * integer cumulative counts the summand is |cumP·nQ − cumQ·nP| /
    * (nP·nQ) — exact integer arithmetic until one final division.
    * Unlike the density panel above, W₁ sees HOW FAR mass moved, not
    * just how much; the pair (TV, W₁) distinguishes a small shift of
    * everything from a large shift of a little. */
  val aggWasserstein1d: Q = (s, d) => {
    val hist = lineitem(s, d)
      .filter(year(col("l_shipdate")).isin(1996, 1997))
      .groupBy(col("l_quantity").cast(LongType).as("v"),
        year(col("l_shipdate")).as("y"))
      .agg(count(lit(1)).as("c"))
    val wide = hist.groupBy("v").agg(
      sum(when(col("y") === 1996, col("c")).otherwise(0L)).as("cp"),
      sum(when(col("y") === 1997, col("c")).otherwise(0L)).as("cq"))
      .sharedCache()
    wide.count() // single-stage fill: tot broadcast + triangle read it
    // r13: both ECDFs via ONE triangle self-join over the 50-value
    // quantity domain (b.v <= a.v, ~1.3k pairs) instead of two
    // unpartitioned cum windows — same values, census-clean, O(k^2)
    // bounded by the declared value domain
    val cum = wide.as("a").join(wide.as("b"), col("b.v") <= col("a.v"))
      .groupBy(col("a.v").as("v"))
      .agg(sum(col("b.cp")).as("fp"), sum(col("b.cq")).as("fq"))
    val tot = wide.agg(sum("cp").as("np"), sum("cq").as("nq"))
    cum.crossJoin(broadcast(tot))
      .agg(count(lit(1)).as("domain_size"),
        sum(abs(col("fp") * col("nq") - col("fq") * col("np"))).as("num"),
        max(col("np") * col("nq")).as("den"))
      .select(col("domain_size"),
        round(col("num").cast(DoubleType) / col("den").cast(DoubleType), 6)
          .as("wasserstein_1"))
  }

  val aggWasserstein1dSql: String =
    """WITH hist AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS v,
      |         year(CAST(l_shipdate AS DATE)) AS y,
      |         CAST(count(*) AS BIGINT) AS c
      |  FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) IN (1996, 1997)
      |  GROUP BY 1, 2),
      |wide AS (
      |  SELECT v,
      |         CAST(sum(CASE WHEN y = 1996 THEN c ELSE 0 END) AS BIGINT) AS cp,
      |         CAST(sum(CASE WHEN y = 1997 THEN c ELSE 0 END) AS BIGINT) AS cq
      |  FROM hist GROUP BY 1),
      |cum AS (
      |  SELECT v,
      |         sum(cp) OVER (ORDER BY v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
      |         sum(cq) OVER (ORDER BY v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fq
      |  FROM wide),
      |tot AS (SELECT CAST(sum(cp) AS BIGINT) AS np,
      |               CAST(sum(cq) AS BIGINT) AS nq FROM wide)
      |SELECT CAST(count(*) AS BIGINT) AS domain_size,
      |       round(CAST(sum(abs(fp * nq - fq * np)) AS DOUBLE) /
      |             CAST(max(np * nq) AS DOUBLE), 6) AS wasserstein_1
      |FROM cum CROSS JOIN tot""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("dq-binning-advisor", dqBinningAdvisor, dqBinningAdvisorSql),
    Key("agg-cox-stuart-trend", aggCoxStuartTrend, aggCoxStuartTrendSql),
    Key("dq-distribution-distance-panel", dqDistributionDistancePanel, dqDistributionDistancePanelSql),
    Key("agg-wasserstein-1d", aggWasserstein1d, aggWasserstein1dSql))
}
