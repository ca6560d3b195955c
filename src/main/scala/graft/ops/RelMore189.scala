package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-8 batch Y: the meta-analysis family — DerSimonian-Laird
  * random effects, Fisher/Stouffer p-value combination, Cohen's d
  * effect-size panel, Egger small-study bias regression. The 25
  * nations play the role of 25 independent "studies" estimating mean
  * order value; every op shares ONE exact per-nation moment scan. */
object RelMore189 extends KeyModule {

  /** Per-nation study stats: n, mean (micro-USD exact), variance —
    * the one fact-scale scan the whole family reads. */
  private def studies(s: SparkSession, d: String): DataFrame =
    orders(s, d).join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nk"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("v"))
      .groupBy("nk")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(v AS DECIMAL(38,0))")).as("sv"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("svv"))
      .select(col("nk"), col("n"),
        col("n").cast(DoubleType).as("nd"),
        col("sv").cast(DoubleType).as("svd"),
        col("svv").cast(DoubleType).as("svvd"))
      .select(col("nk"), col("n"), col("nd"), col("svd"), col("svvd"),
        (col("svd") / col("nd")).as("mean"),
        ((col("svvd") - col("svd") * col("svd") / col("nd")) /
          (col("nd") - 1.0)).as("vr"))

  private val studiesSql: String =
    """SELECT nk, n, nd, svd, svvd, svd / nd AS mean,
      |       (svvd - svd * svd / nd) / (nd - 1.0) AS vr
      |FROM (
      |  SELECT c_nationkey AS nk, CAST(count(*) AS BIGINT) AS n,
      |         CAST(count(*) AS DOUBLE) AS nd,
      |         CAST(sum(CAST(v AS HUGEINT)) AS DOUBLE) AS svd,
      |         CAST(sum(CAST(v AS HUGEINT) * v) AS DOUBLE) AS svvd
      |  FROM (SELECT c_nationkey,
      |               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |        FROM orders JOIN customer ON o_custkey = c_custkey) t
      |  GROUP BY 1) m""".stripMargin

  /** agg-meta-dersimonian-laird — fixed- vs random-effects pooling of
    * the 25 study means: FE weights 1/se², Cochran's Q, the DL moment
    * estimate τ² = max(0, (Q−df)/C), I² heterogeneity, and the RE
    * pooled mean whose CI WIDENS to honor between-study variance —
    * the number a fleet-wide "average order value" dashboard should
    * print instead of the naive pooled mean. Per-study weights and
    * weighted sums are quantized to integers before summing (ordered-
    * fold); all closed forms, no iteration. */
  val aggMetaDersimonianLaird: Q = (s, d) => {
    val st = studies(s, d)
      .select(col("nk"), col("mean"), (col("vr") / col("nd")).as("se2"))
      .select(col("nk"),
        floor(col("mean")).cast(LongType).as("mq"),
        floor(lit(1e18) / col("se2")).cast(LongType).as("wq"))
    val fe = st.agg(count(lit(1)).as("k"),
      sum("wq").as("sw"),
      sum(expr("CAST(wq AS DECIMAL(38,0)) * wq")).as("sww"),
      sum(expr("CAST(wq AS DECIMAL(38,0)) * mq")).as("swm"),
      sum(expr("CAST(wq AS DECIMAL(38,0)) * mq * mq")).as("swmm"))
      .select(col("k"), col("sw").cast(DoubleType).as("sw"),
        col("sww").cast(DoubleType).as("sww"),
        col("swm").cast(DoubleType).as("swm"),
        col("swmm").cast(DoubleType).as("swmm"))
      .select(col("k"),
        (col("swm") / col("sw")).as("feMean"),
        (col("swmm") - col("swm") * col("swm") / col("sw")).as("qnum"),
        col("sw"), col("sww"))
      .select(col("k"), col("feMean"),
        (col("qnum") / 1e18).as("q"),
        ((col("sw") - col("sww") / col("sw")) / 1e18).as("cc"),
        col("sw"))
    val withTau = fe.select(col("k"), col("feMean"), col("q"), col("sw"),
      greatest(lit(0.0), (col("q") - (col("k") - 1).cast(DoubleType)) /
        col("cc")).as("tau2"))
    val re = studies(s, d)
      .select(col("mean"), (col("vr") / col("nd")).as("se2"))
      .crossJoin(broadcast(withTau))
      .select(col("k"), col("feMean"), col("q"), col("sw"), col("tau2"),
        floor(lit(1e18) / (col("se2") + col("tau2"))).cast(LongType).as("wr"),
        floor(col("mean")).cast(LongType).as("mq"))
      .groupBy("k", "feMean", "q", "sw", "tau2")
      .agg(sum("wr").as("swr"),
        sum(expr("CAST(wr AS DECIMAL(38,0)) * mq")).cast(DoubleType).as("swrm"))
    re.select(col("k").cast(LongType).as("k_studies"),
      round(col("feMean") / 100, 2).as("fe_mean_usd"),
      round(col("q"), 4).as("q_stat"),
      (col("k") - 1).cast(LongType).as("df"),
      round(col("tau2") / 10000, 2).as("tau2_usd2"),
      round(greatest(lit(0.0),
        (col("q") - (col("k") - 1).cast(DoubleType)) / col("q")), 4).as("i2"),
      round(col("swrm") / col("swr").cast(DoubleType) / 100, 2)
        .as("re_mean_usd"),
      round(sqrt(col("sw") / col("swr").cast(DoubleType)), 4)
        .as("ci_widening"))
  }

  val aggMetaDersimonianLairdSql: String =
    s"""WITH studies AS MATERIALIZED ($studiesSql),
       |st AS (
       |  SELECT nk, CAST(floor(mean) AS BIGINT) AS mq,
       |         CAST(floor(1e18 / (vr / nd)) AS BIGINT) AS wq
       |  FROM studies),
       |fe AS (
       |  SELECT k, feMean, qnum / 1e18 AS q,
       |         (sw - sww / sw) / 1e18 AS cc, sw
       |  FROM (
       |    SELECT k, swm / sw AS feMean,
       |           swmm - swm * swm / sw AS qnum, sw, sww
       |    FROM (
       |      SELECT CAST(count(*) AS BIGINT) AS k,
       |             CAST(sum(wq) AS DOUBLE) AS sw,
       |             CAST(sum(CAST(wq AS HUGEINT) * wq) AS DOUBLE) AS sww,
       |             CAST(sum(CAST(wq AS HUGEINT) * mq) AS DOUBLE) AS swm,
       |             CAST(sum(CAST(wq AS HUGEINT) * mq * mq) AS DOUBLE) AS swmm
       |      FROM st) a) b),
       |tau AS (
       |  SELECT k, feMean, q, sw,
       |         greatest(0.0, (q - CAST(k - 1 AS DOUBLE)) / cc) AS tau2
       |  FROM fe),
       |re AS (
       |  SELECT k, feMean, q, sw, tau2,
       |         CAST(sum(wr) AS BIGINT) AS swr,
       |         CAST(sum(CAST(wr AS HUGEINT) * mq) AS DOUBLE) AS swrm
       |  FROM (
       |    SELECT tau.*,
       |           CAST(floor(1e18 / (vr / nd + tau2)) AS BIGINT) AS wr,
       |           CAST(floor(mean) AS BIGINT) AS mq
       |    FROM studies CROSS JOIN tau) t
       |  GROUP BY 1, 2, 3, 4, 5)
       |SELECT CAST(k AS BIGINT) AS k_studies,
       |       round(feMean / 100, 2) AS fe_mean_usd,
       |       round(q, 4) AS q_stat,
       |       CAST(k - 1 AS BIGINT) AS df,
       |       round(tau2 / 10000, 2) AS tau2_usd2,
       |       round(greatest(0.0, (q - CAST(k - 1 AS DOUBLE)) / q), 4) AS i2,
       |       round(swrm / CAST(swr AS DOUBLE) / 100, 2) AS re_mean_usd,
       |       round(sqrt(sw / CAST(swr AS DOUBLE)), 4)
       |         AS ci_widening
       |FROM re""".stripMargin

  /** Shared A&S 7.1.26 erfc (the dq-fdr-bh discipline): identical
    * literal arithmetic both engines, error is common-mode. */
  private def erfcSql(x: String): String =
    s"(1.0 / (1.0 + 0.3275911 * $x)) * (0.254829592 + (1.0 / (1.0 + 0.3275911 * $x)) * " +
      s"(-0.284496736 + (1.0 / (1.0 + 0.3275911 * $x)) * (1.421413741 + " +
      s"(1.0 / (1.0 + 0.3275911 * $x)) * (-1.453152027 + (1.0 / (1.0 + 0.3275911 * $x)) * " +
      s"1.061405429)))) * exp(-($x) * ($x))"

  /** Welch z of each nation against its complement, from one grand +
    * per-nation moment pass (complement by subtraction). */
  private def welchZ(s: SparkSession, d: String): DataFrame = {
    val st = studies(s, d)
    val g = st.agg(sum("nd").as("ng"), sum("svd").as("sg"),
      sum("svvd").as("ssg"))
    st.crossJoin(broadcast(g))
      .select(col("nk"),
        col("nd").as("n1"), col("mean").as("m1"), col("vr").as("v1"),
        (col("ng") - col("nd")).as("n2"),
        ((col("sg") - col("svd")) / (col("ng") - col("nd"))).as("m2"),
        (col("ssg") - col("svvd")).as("ss2"))
      .select(col("nk"), col("n1"), col("m1"), col("v1"), col("n2"), col("m2"),
        ((col("ss2") - col("m2") * col("m2") * col("n2")) /
          (col("n2") - 1.0)).as("v2"))
      .select(col("nk"),
        ((col("m1") - col("m2")) /
          sqrt(col("v1") / col("n1") + col("v2") / col("n2"))).as("zs"))
  }

  private val welchZSql: String =
    s"""SELECT nk,
       |       (m1 - m2) / sqrt(v1 / n1 + v2 / n2) AS zs
       |FROM (
       |  SELECT nk, n1, m1, v1, n2, m2,
       |         (ss2 - m2 * m2 * n2) / (n2 - 1.0) AS v2
       |  FROM (
       |    SELECT nk, nd AS n1, mean AS m1, vr AS v1,
       |           ng - nd AS n2,
       |           (sg - svd) / (ng - nd) AS m2,
       |           ssg - svvd AS ss2
       |    FROM studies CROSS JOIN grand) a) b""".stripMargin

  private val grandSql: String =
    """SELECT sum(nd) AS ng, sum(svd) AS sg, sum(svvd) AS ssg
      |FROM studies""".stripMargin

  /** agg-fishers-method — global "is ANY nation off?" by combining the
    * 25 per-nation Welch p-values two ways: Fisher's −2Σln p ~ χ²(2k)
    * and Stouffer's Σz/√k — the two classic meta-tests that disagree
    * exactly when evidence is concentrated (Fisher) vs diffuse
    * (Stouffer). Per-study ln p and z are quantized to 1e9 integers
    * before the bounded-frame sums (ordered-fold), p from the shared
    * A&S erfc. χ²(50) 5% critical value 67.505. */
  val aggFishersMethod: Q = (s, d) => {
    val z = welchZ(s, d)
      .withColumn("p", expr(erfcSql("abs(zs) / sqrt(2.0)")))
      .select(floor(log(col("p")) * 1e9).cast(LongType).as("lpq"),
        floor(col("zs") * 1e9).cast(LongType).as("zq"))
    z.agg(count(lit(1)).as("k"), sum("lpq").as("slp"), sum("zq").as("sz"))
      .select(col("k").cast(LongType).as("k_studies"),
        round(lit(-2.0) * col("slp").cast(DoubleType) / 1e9, 4)
          .as("fisher_chi2"),
        (col("k") * 2).cast(LongType).as("fisher_df"),
        (lit(-2.0) * col("slp").cast(DoubleType) / 1e9 > 67.505)
          .as("fisher_reject"),
        round(col("sz").cast(DoubleType) / 1e9 /
          sqrt(col("k").cast(DoubleType)), 4).as("stouffer_z"),
        (abs(col("sz").cast(DoubleType) / 1e9 /
          sqrt(col("k").cast(DoubleType))) > 1.96).as("stouffer_reject"))
  }

  val aggFishersMethodSql: String = {
    val erfc = erfcSql("abs(zs) / sqrt(2.0)")
    s"""WITH studies AS MATERIALIZED ($studiesSql),
       |grand AS ($grandSql),
       |wz AS ($welchZSql),
       |z AS (
       |  SELECT CAST(floor(ln($erfc) * 1e9) AS BIGINT) AS lpq,
       |         CAST(floor(zs * 1e9) AS BIGINT) AS zq
       |  FROM wz)
       |SELECT CAST(count(*) AS BIGINT) AS k_studies,
       |       round(-2.0 * CAST(sum(lpq) AS DOUBLE) / 1e9, 4) AS fisher_chi2,
       |       CAST(count(*) * 2 AS BIGINT) AS fisher_df,
       |       -2.0 * CAST(sum(lpq) AS DOUBLE) / 1e9 > 67.505 AS fisher_reject,
       |       round(CAST(sum(zq) AS DOUBLE) / 1e9 /
       |             sqrt(CAST(count(*) AS DOUBLE)), 4) AS stouffer_z,
       |       abs(CAST(sum(zq) AS DOUBLE) / 1e9 /
       |           sqrt(CAST(count(*) AS DOUBLE))) > 1.96 AS stouffer_reject
       |FROM z""".stripMargin
  }

  /** agg-cohens-d-panel — standardized effect sizes nation-vs-rest:
    * Cohen's d on the pooled SD, the small-sample Hedges-g correction,
    * and the conventional magnitude bucket — the panel that belongs
    * NEXT TO a p-value table (dq-fdr-bh tells you what's significant;
    * this tells you what's LARGE — at fact-scale n everything is
    * significant and only d carries information). Complement moments
    * by subtraction; one scan. */
  val aggCohensDPanel: Q = (s, d) => {
    val st = studies(s, d)
    val g = st.agg(sum("nd").as("ng"), sum("svd").as("sg"),
      sum("svvd").as("ssg"))
    val panel = st.crossJoin(broadcast(g))
      .select(col("nk"), col("n"), col("nd"), col("mean"), col("vr"),
        (col("ng") - col("nd")).as("n2"),
        ((col("sg") - col("svd")) / (col("ng") - col("nd"))).as("m2"),
        (col("ssg") - col("svvd")).as("ss2"))
      .select(col("nk"), col("n"), col("nd"), col("mean"), col("vr"),
        col("n2"), col("m2"),
        ((col("ss2") - col("m2") * col("m2") * col("n2")) /
          (col("n2") - 1.0)).as("v2"))
      .select(col("nk"), col("n"),
        ((col("mean") - col("m2")) /
          sqrt(((col("nd") - 1.0) * col("vr") + (col("n2") - 1.0) * col("v2")) /
            (col("nd") + col("n2") - 2.0))).as("dd"),
        (col("nd") + col("n2")).as("ntot"))
    panel.select(col("nk").cast(LongType).as("nationkey"),
      col("n").as("n_orders"),
      round(col("dd"), 4).as("cohens_d"),
      round(col("dd") * (lit(1.0) - lit(3.0) /
        (lit(4.0) * col("ntot") - 9.0)), 4).as("hedges_g"),
      when(abs(col("dd")) < 0.2, "negligible")
        .when(abs(col("dd")) < 0.5, "small")
        .when(abs(col("dd")) < 0.8, "medium")
        .otherwise("large").as("magnitude"))
      .orderBy("nationkey")
  }

  val aggCohensDPanelSql: String =
    s"""WITH studies AS MATERIALIZED ($studiesSql),
       |grand AS ($grandSql),
       |panel AS (
       |  SELECT nk, n,
       |         (mean - m2) /
       |         sqrt(((nd - 1.0) * vr + (n2 - 1.0) * v2) / (nd + n2 - 2.0))
       |           AS dd,
       |         nd + n2 AS ntot
       |  FROM (
       |    SELECT nk, n, nd, mean, vr, n2, m2,
       |           (ss2 - m2 * m2 * n2) / (n2 - 1.0) AS v2
       |    FROM (
       |      SELECT nk, n, nd, mean, vr, ng - nd AS n2,
       |             (sg - svd) / (ng - nd) AS m2,
       |             ssg - svvd AS ss2
       |      FROM studies CROSS JOIN grand) a) b)
       |SELECT CAST(nk AS BIGINT) AS nationkey, n AS n_orders,
       |       round(dd, 4) AS cohens_d,
       |       round(dd * (1.0 - 3.0 / (4.0 * ntot - 9.0)), 4) AS hedges_g,
       |       CASE WHEN abs(dd) < 0.2 THEN 'negligible'
       |            WHEN abs(dd) < 0.5 THEN 'small'
       |            WHEN abs(dd) < 0.8 THEN 'medium'
       |            ELSE 'large' END AS magnitude
       |FROM panel ORDER BY nationkey""".stripMargin

  /** agg-egger-regression — small-study bias check: regress each
    * study's standardized effect (effect/se) on its precision (1/se);
    * a nonzero INTERCEPT means small studies show systematically
    * different effects — funnel-plot asymmetry as a number (the
    * regression twin of dq-funnel-plot-limits). Inputs quantized to
    * 1e6 integers before the bounded OLS sums; closed-form slope,
    * intercept, and the intercept t-test against t(k−2)≈2.07. */
  val aggEggerRegression: Q = (s, d) => {
    val st = studies(s, d)
    val g = st.agg((sum(col("mean") * col("nd")) / sum("nd")).as("gm"))
    val pts = st.crossJoin(broadcast(g))
      .select(
        floor((col("mean") - col("gm")) / sqrt(col("vr") / col("nd")) * 1e6)
          .cast(LongType).as("yq"),
        floor(lit(1e12) / sqrt(col("vr") / col("nd"))).cast(LongType).as("xq"))
    val m = pts.agg(count(lit(1)).as("k"),
      sum("xq").as("sx"), sum("yq").as("sy"),
      sum(expr("CAST(xq AS DECIMAL(38,0)) * xq")).as("sxx"),
      sum(expr("CAST(xq AS DECIMAL(38,0)) * yq")).as("sxy"),
      sum(expr("CAST(yq AS DECIMAL(38,0)) * yq")).as("syy"))
      .select(col("k").cast(DoubleType).as("kd"),
        col("sx").cast(DoubleType).as("sx"), col("sy").cast(DoubleType).as("sy"),
        col("sxx").cast(DoubleType).as("sxx"),
        col("sxy").cast(DoubleType).as("sxy"),
        col("syy").cast(DoubleType).as("syy"))
      // back to TRUE units: x carries 1e12, y carries 1e6
      .select(col("kd"),
        (col("sx") / col("kd") / 1e12).as("xbar"),
        (col("sy") / col("kd") / 1e6).as("ybar"),
        ((col("sxx") - col("sx") * col("sx") / col("kd")) / 1e24).as("sxxc"),
        ((col("syy") - col("sy") * col("sy") / col("kd")) / 1e12).as("syyc"),
        ((col("sxy") - col("sx") * col("sy") / col("kd")) / 1e18).as("sxyc"))
      .select(col("kd"), col("xbar"), col("sxxc"), col("syyc"),
        (col("sxyc") / col("sxxc")).as("slope"), col("ybar"))
      .select(col("kd"), col("slope"), col("sxxc"), col("xbar"),
        (col("ybar") - col("slope") * col("xbar")).as("icept"),
        ((col("syyc") - col("slope") * col("slope") * col("sxxc")) /
          (col("kd") - 2.0)).as("mse"))
    m.select(col("kd").cast(LongType).as("k_studies"),
      round(col("slope") * 1e6, 4).as("egger_slope_x1e6"),
      round(col("icept"), 4).as("egger_intercept"),
      round(col("icept") /
        sqrt(col("mse") * (lit(1.0) / col("kd") +
          col("xbar") * col("xbar") / col("sxxc"))), 4).as("intercept_t"),
      (abs(col("icept") /
        sqrt(col("mse") * (lit(1.0) / col("kd") +
          col("xbar") * col("xbar") / col("sxxc")))) > 2.07)
        .as("bias_suspected"))
  }

  val aggEggerRegressionSql: String =
    s"""WITH studies AS MATERIALIZED ($studiesSql),
       |g AS (SELECT sum(mean * nd) / sum(nd) AS gm FROM studies),
       |pts AS (
       |  SELECT CAST(floor((mean - gm) / sqrt(vr / nd) * 1e6) AS BIGINT) AS yq,
       |         CAST(floor(1e12 / sqrt(vr / nd)) AS BIGINT) AS xq
       |  FROM studies CROSS JOIN g),
       |m AS (
       |  SELECT kd, slope, sxxc, xbar,
       |         ybar - slope * xbar AS icept,
       |         (syyc - slope * slope * sxxc) / (kd - 2.0) AS mse
       |  FROM (
       |    SELECT kd, xbar, sxxc, syyc, sxyc / sxxc AS slope, ybar
       |    FROM (
       |      SELECT kd, sx / kd / 1e12 AS xbar, sy / kd / 1e6 AS ybar,
       |             (sxx - sx * sx / kd) / 1e24 AS sxxc,
       |             (syy - sy * sy / kd) / 1e12 AS syyc,
       |             (sxy - sx * sy / kd) / 1e18 AS sxyc
       |      FROM (
       |        SELECT CAST(count(*) AS DOUBLE) AS kd,
       |               CAST(sum(xq) AS DOUBLE) AS sx, CAST(sum(yq) AS DOUBLE) AS sy,
       |               CAST(sum(CAST(xq AS HUGEINT) * xq) AS DOUBLE) AS sxx,
       |               CAST(sum(CAST(xq AS HUGEINT) * yq) AS DOUBLE) AS sxy,
       |               CAST(sum(CAST(yq AS HUGEINT) * yq) AS DOUBLE) AS syy
       |        FROM pts) a) b) c)
       |SELECT CAST(kd AS BIGINT) AS k_studies,
       |       round(slope * 1e6, 4) AS egger_slope_x1e6,
       |       round(icept, 4) AS egger_intercept,
       |       round(icept / sqrt(mse * (1.0 / kd + xbar * xbar / sxxc)), 4)
       |         AS intercept_t,
       |       abs(icept / sqrt(mse * (1.0 / kd + xbar * xbar / sxxc))) > 2.07
       |         AS bias_suspected
       |FROM m""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-meta-dersimonian-laird", aggMetaDersimonianLaird, aggMetaDersimonianLairdSql),
    Key("agg-fishers-method", aggFishersMethod, aggFishersMethodSql),
    Key("agg-cohens-d-panel", aggCohensDPanel, aggCohensDPanelSql),
    Key("agg-egger-regression", aggEggerRegression, aggEggerRegressionSql))
}
