package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch BD: price waterfall, Bayesian A/B posterior,
  * shrunken-centroid dimensions, Acklam normal quantiles. */
object RelMore155 extends KeyModule {

  /** agg-price-waterfall — the pocket-price waterfall: gross list
    * revenue → discount leakage → invoiced → tax → billed, each
    * stage an exact integer-cent total with its share of gross. The
    * classic pricing exhibit (the "waterfall" in every pricing
    * engagement) — scattered single-ratio ops (agg-sum-total,
    * discount aggregates) can't show WHERE the margin leaks, which
    * is the entire point of staging it. Leakage terms are exact
    * integer products (cents × basis points, denominators cleared —
    * never a rate rounded first); stages explode from one scalar
    * row. One map-side-combined pass. */
  val aggPriceWaterfall: Q = (s, d) => {
    val m = lineitem(s, d)
      .select(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))")
        .as("ec"),
        expr("CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS DECIMAL(38,0))").as("db"),
        expr("CAST(CAST(l_tax AS DECIMAL(18,4)) * 10000 AS DECIMAL(38,0))").as("tb"))
      .agg(sum("ec").as("gross"),
        sum(expr("ec * db")).as("disc_num"),
        sum(expr("ec * (10000 - db) * tb")).as("tax_num"))
      // discount leak = Σec·db/1e4 ; tax on invoiced = Σec·(1−d)·t/1e8
      .select(col("gross"),
        expr("CAST((disc_num - pmod(disc_num, 10000)) / 10000 AS DECIMAL(38,0))")
          .as("leak"),
        expr("CAST((tax_num - pmod(tax_num, 100000000)) / 100000000 AS DECIMAL(38,0))")
          .as("tax"))
      .select(col("gross"), col("leak"), (col("gross") - col("leak")).as("invoiced"),
        col("tax"))
      .withColumn("billed", col("invoiced") + col("tax"))
    m.select(explode(array(
        struct(lit(1).as("stage_no"), lit("gross_list").as("stage"), col("gross").as("a")),
        struct(lit(2).as("stage_no"), lit("discount_leakage").as("stage"),
          (-col("leak")).as("a")),
        struct(lit(3).as("stage_no"), lit("invoiced").as("stage"), col("invoiced").as("a")),
        struct(lit(4).as("stage_no"), lit("tax_collected").as("stage"), col("tax").as("a")),
        struct(lit(5).as("stage_no"), lit("total_billed").as("stage"),
          col("billed").as("a")))).as("r"), col("gross"))
      .select(col("r.stage_no"), col("r.stage"),
        round(col("r.a").cast(DoubleType) / 100, 2).as("amount_usd"),
        ratioFloor(col("r.a").cast(DoubleType) * lit(1e0), col("gross"), 6)
          .as("share_of_gross"))
      .orderBy("stage_no")
  }

  val aggPriceWaterfallSql: String =
    """WITH m AS (
      |  SELECT gross, leak, gross - leak AS invoiced, tax,
      |         gross - leak + tax AS billed
      |  FROM (
      |    SELECT CAST(sum(ec) AS HUGEINT) AS gross,
      |           CAST(sum(ec * db) AS HUGEINT) // 10000 AS leak,
      |           CAST(sum(ec * (10000 - db) * tb) AS HUGEINT) // 100000000 AS tax
      |    FROM (
      |      SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT) AS ec,
      |             CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS HUGEINT) AS db,
      |             CAST(CAST(l_tax AS DECIMAL(18,4)) * 10000 AS HUGEINT) AS tb
      |      FROM lineitem) t) s)
      |SELECT stage_no, stage,
      |       round(CAST(a AS DOUBLE) / 100, 2) AS amount_usd,
      |       floor(CAST(a AS DOUBLE) * 1e6 / CAST(gross AS DOUBLE)) / 1e6
      |         AS share_of_gross
      |FROM (
      |  SELECT 1 AS stage_no, 'gross_list' AS stage, gross AS a, gross FROM m
      |  UNION ALL SELECT 2, 'discount_leakage', -leak, gross FROM m
      |  UNION ALL SELECT 3, 'invoiced', invoiced, gross FROM m
      |  UNION ALL SELECT 4, 'tax_collected', tax, gross FROM m
      |  UNION ALL SELECT 5, 'total_billed', billed, gross FROM m) u
      |ORDER BY stage_no""".stripMargin

  /** agg-bayes-ab-posterior — Bayesian A/B readout for the URGENT
    * conversion rate between odd- and even-keyed orders: Beta(1,1)
    * priors, closed-form posteriors, and P(A>B) by the normal
    * approximation to the posterior difference (A&S-7.1.26 erfc —
    * the shared common-mode approximation). agg-abtest-gate answers
    * the frequentist "reject?"; the Bayesian posterior answers the
    * question stakeholders actually ask — "what's the probability A
    * is better?" — and its 0.95 decisiveness line needs no n-
    * dependent critical value. Counts exact; posterior moments are
    * closed forms; one scan. */
  val aggBayesAbPosterior: Q = (s, d) => {
    def erfc(x: String): String =
      s"(1.0 / (1.0 + 0.3275911 * $x)) * (0.254829592 + (1.0 / (1.0 + 0.3275911 * $x)) * " +
        s"(-0.284496736 + (1.0 / (1.0 + 0.3275911 * $x)) * (1.421413741 + " +
        s"(1.0 / (1.0 + 0.3275911 * $x)) * (-1.453152027 + (1.0 / (1.0 + 0.3275911 * $x)) * " +
        s"1.061405429)))) * exp(-($x) * ($x))"
    val cells = orders(s, d)
      .select((pmod(col("o_orderkey"), lit(2)) === 1).as("va"),
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L).as("conv"))
      .groupBy("va").agg(count(lit(1)).as("n"), sum("conv").as("s"))
    val a = cells.filter(col("va")).select(col("n").as("na"), col("s").as("sa"))
    val b = cells.filter(!col("va")).select(col("n").as("nb"), col("s").as("sb"))
    a.crossJoin(broadcast(b))
      .select(col("na"), col("sa"), col("nb"), col("sb"),
        ((col("sa") + 1).cast(DoubleType) / (col("na") + 2).cast(DoubleType)).as("ma"),
        ((col("sb") + 1).cast(DoubleType) / (col("nb") + 2).cast(DoubleType)).as("mb"))
      .withColumn("va_", (col("ma") * (lit(1.0) - col("ma")) / (col("na") + 3)))
      .withColumn("vb_", (col("mb") * (lit(1.0) - col("mb")) / (col("nb") + 3)))
      .withColumn("zq", (col("ma") - col("mb")) / sqrt(col("va_") + col("vb_")))
      .select(col("na").as("n_a"), col("sa").as("conv_a"),
        col("nb").as("n_b"), col("sb").as("conv_b"),
        round(col("ma"), 6).as("posterior_mean_a"),
        round(col("mb"), 6).as("posterior_mean_b"),
        // P(A>B) = 1 − Φ(−z) = erfc(−z/√2)/2 expressed via |z|
        round(when(col("zq") >= 0,
            lit(1.0) - expr(erfc("zq / 1.4142135623730951")) / 2)
          .otherwise(expr(erfc("-zq / 1.4142135623730951")) / 2), 6)
          .as("prob_a_beats_b"))
      .withColumn("decisive",
        col("prob_a_beats_b") > 0.95 || col("prob_a_beats_b") < 0.05)
  }

  val aggBayesAbPosteriorSql: String = {
    def erfc(x: String): String =
      s"(1.0 / (1.0 + 0.3275911 * $x)) * (0.254829592 + (1.0 / (1.0 + 0.3275911 * $x)) * " +
        s"(-0.284496736 + (1.0 / (1.0 + 0.3275911 * $x)) * (1.421413741 + " +
        s"(1.0 / (1.0 + 0.3275911 * $x)) * (-1.453152027 + (1.0 / (1.0 + 0.3275911 * $x)) * " +
        s"1.061405429)))) * exp(-($x) * ($x))"
    s"""WITH cells AS (
       |  SELECT o_orderkey % 2 = 1 AS va, CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
       |              AS BIGINT) AS s
       |  FROM orders GROUP BY 1),
       |j AS (
       |  SELECT a.n AS na, a.s AS sa, b.n AS nb, b.s AS sb,
       |         CAST(a.s + 1 AS DOUBLE) / (a.n + 2) AS ma,
       |         CAST(b.s + 1 AS DOUBLE) / (b.n + 2) AS mb
       |  FROM (SELECT * FROM cells WHERE va) a
       |  CROSS JOIN (SELECT * FROM cells WHERE NOT va) b),
       |z AS (
       |  SELECT na, sa, nb, sb, ma, mb,
       |         (ma - mb) / sqrt(ma * (1.0 - ma) / (na + 3) +
       |                          mb * (1.0 - mb) / (nb + 3)) AS zq
       |  FROM j)
       |SELECT na AS n_a, sa AS conv_a, nb AS n_b, sb AS conv_b,
       |       round(ma, 6) AS posterior_mean_a,
       |       round(mb, 6) AS posterior_mean_b,
       |       round(CASE WHEN zq >= 0 THEN
       |               1.0 - ${erfc("zq / 1.4142135623730951")} / 2
       |             ELSE ${erfc("-zq / 1.4142135623730951")} / 2 END, 6)
       |         AS prob_a_beats_b,
       |       round(CASE WHEN zq >= 0 THEN
       |               1.0 - ${erfc("zq / 1.4142135623730951")} / 2
       |             ELSE ${erfc("-zq / 1.4142135623730951")} / 2 END, 6) > 0.95 OR
       |       round(CASE WHEN zq >= 0 THEN
       |               1.0 - ${erfc("zq / 1.4142135623730951")} / 2
       |             ELSE ${erfc("-zq / 1.4142135623730951")} / 2 END, 6) < 0.05
       |         AS decisive
       |FROM z""".stripMargin
  }

  /** emb-shrunken-centroid-dims — nearest-shrunken-centroid feature
    * selection (Tibshirani's PAM): per class and dimension, the
    * standardized centroid offset dₖⱼ = (x̄ₖⱼ−x̄ⱼ)/(sⱼ·mₖ), soft-
    * thresholded at Δ = 2; a class's surviving dimensions are the
    * ones that actually CARRY its identity. emb-axis-split-gain
    * finds the single best global axis; NSC gives the PER-CLASS
    * sparse signature — the dimension budget a routing index or a
    * class-conditional PQ would allocate. All centroid and pooled-
    * variance moments are exact integers over micro-quantized
    * components; the 640 d-scores are closed-form doubles; output
    * per class: surviving count, strongest dim and its score. */
  val embShrunkenCentroidDims: Q = (s, d) => {
    val comps = embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("label"), col("dim"),
        floor(col("x").cast(DoubleType) * lit(1e6)).cast(LongType).as("xq"))
      .sharedCache()
    val perKD = comps.groupBy("label", "dim")
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("nk"),
        sum(expr("CAST(xq AS DECIMAL(38,0))")).as("t"),
        sum(expr("CAST(xq AS DECIMAL(38,0)) * xq")).as("u"))
      .sharedCache()
    // pooled within-class variance per dim: Σₖ(nₖΣx²−(Σx)²)/nₖ over (n−K)
    val perD = perKD
      .select(col("dim"), col("nk"), col("t"), col("u"),
        expr("CAST(((nk * u - t * t) * 1000000 - pmod((nk * u - t * t) * 1000000, nk)) " +
          "/ nk AS DECIMAL(38,0))").as("wq"))
      .groupBy("dim")
      .agg(sum("nk").as("n"), count(lit(1)).as("kk"), sum("t").as("tt"),
        sum("wq").as("sw"))
      .select(col("dim"), col("n"), col("kk"), col("tt"),
        (sqrt(col("sw").cast(DoubleType) / lit(1e6) /
          (col("n") - col("kk")).cast(DoubleType)) / col("n").cast(DoubleType))
          .as("sd_scaled"))
    val scores = perKD.join(broadcast(perD), Seq("dim"))
      .select(col("label"), col("dim"),
        // d = (x̄ₖ−x̄)/(s·mₖ), mₖ = √(1/nₖ−1/n); all means ×n cleared
        (abs(col("t").cast(DoubleType) / col("nk").cast(DoubleType) -
          col("tt").cast(DoubleType) / col("n").cast(DoubleType)) /
          (col("sd_scaled") * col("n").cast(DoubleType) *
            sqrt(lit(1.0) / col("nk").cast(DoubleType) -
              lit(1.0) / col("n").cast(DoubleType)))).as("dscore"))
      .withColumn("dq", floor(col("dscore") * lit(1e6)).cast(LongType))
    val surviving = scores.filter(col("dq") > 2000000)
    val top = scores
      .withColumn("rk", row_number().over(Window.partitionBy("label")
        .orderBy(col("dq").desc, col("dim"))))
      .filter(col("rk") === 1)
      .select(col("label"), col("dim").as("top_dim"),
        round(col("dq").cast(DoubleType) / 1e6, 4).as("top_score"))
    surviving.groupBy("label").agg(count(lit(1)).as("n_surviving_dims"))
      .join(top, Seq("label"), "right")
      .select(col("label"), coalesce(col("n_surviving_dims"), lit(0L))
        .as("n_surviving_dims"), col("top_dim"), col("top_score"))
      .orderBy("label")
  }

  val embShrunkenCentroidDimsSql: String =
    """WITH comps AS MATERIALIZED (
      |  SELECT label, dim, CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT) AS xq
      |  FROM (
      |    SELECT label, unnest(embedding) AS x,
      |           generate_subscripts(embedding, 1) - 1 AS dim
      |    FROM embeddings) t),
      |per_kd AS MATERIALIZED (
      |  SELECT label, dim, CAST(count(*) AS HUGEINT) AS nk,
      |         CAST(sum(xq) AS HUGEINT) AS t,
      |         CAST(sum(CAST(xq AS HUGEINT) * xq) AS HUGEINT) AS u
      |  FROM comps GROUP BY 1, 2),
      |per_d AS (
      |  SELECT dim, CAST(sum(nk) AS HUGEINT) AS n, CAST(count(*) AS HUGEINT) AS kk,
      |         CAST(sum(t) AS HUGEINT) AS tt,
      |         sqrt(CAST(sum(((nk * u - t * t) * 1000000) // nk) AS DOUBLE) / 1e6 /
      |              CAST(sum(nk) - count(*) AS DOUBLE)) / CAST(sum(nk) AS DOUBLE)
      |           AS sd_scaled
      |  FROM per_kd GROUP BY dim),
      |scores AS (
      |  SELECT label, per_kd.dim,
      |         CAST(floor(abs(CAST(t AS DOUBLE) / CAST(nk AS DOUBLE) -
      |                        CAST(tt AS DOUBLE) / CAST(n AS DOUBLE)) /
      |                    (sd_scaled * CAST(n AS DOUBLE) *
      |                     sqrt(1.0 / CAST(nk AS DOUBLE) - 1.0 / CAST(n AS DOUBLE))) * 1e6)
      |              AS BIGINT) AS dq
      |  FROM per_kd JOIN per_d ON per_kd.dim = per_d.dim),
      |surv AS (
      |  SELECT label, CAST(count(*) AS BIGINT) AS n_surviving_dims
      |  FROM scores WHERE dq > 2000000 GROUP BY 1),
      |top AS (
      |  SELECT label, dim AS top_dim, round(CAST(dq AS DOUBLE) / 1e6, 4) AS top_score
      |  FROM (
      |    SELECT label, dim, dq,
      |           row_number() OVER (PARTITION BY label ORDER BY dq DESC, dim) AS rk
      |    FROM scores) t
      |  WHERE rk = 1)
      |SELECT top.label, coalesce(n_surviving_dims, 0) AS n_surviving_dims,
      |       top_dim, top_score
      |FROM top LEFT JOIN surv ON top.label = surv.label
      |ORDER BY top.label""".stripMargin

  /** func-normal-quantile-suite — Acklam's rational approximation of
    * Φ⁻¹ exercised at the working percentiles (0.9/0.95/0.975/0.99/
    * 0.999) against hard-coded reference values: identical literal
    * arithmetic in both engines (the erfc discipline, applied to the
    * INVERSE problem both engines also lack natively). The ops that
    * hard-code 1.645/1.96/2.3263 (ES backtest, Welch gates, CIs)
    * implicitly assume these digits; the suite makes the assumption
    * executable and bounds the approximation error (<1.2e-6 in the
    * central region — asserted as a column, not a comment). */
  val funcNormalQuantileSuite: Q = (s, d) => {
    def central(p: String): String = {
      val q = s"($p - 5.0e-1)"
      val r = s"($q * $q)"
      s"($q * (((((-3.969683028665376e1 * $r + 2.209460984245205e2) * $r - " +
        s"2.759285104469687e2) * $r + 1.383577518672690e2) * $r - 3.066479806614716e1) * $r + " +
        s"2.506628277459239e0) / (((((-5.447609879822406e1 * $r + 1.615858368580409e2) * $r - " +
        s"1.556989798598866e2) * $r + 6.680131188771972e1) * $r - 1.328068155288572e1) * $r + 1.0e0))"
    }
    def tail(p: String): String = {
      val q = s"sqrt(-2.0e0 * ln(1.0e0 - $p))"
      s"(-((((((-7.784894002430293e-3 * $q - 3.223964580411365e-1) * $q - " +
        s"2.400758277161838e0) * $q - 2.549732539343734e0) * $q + 4.374664141464968e0) * $q + " +
        s"2.938163982698783e0) / ((((7.784695709041462e-3 * $q + 3.224671290700398e-1) * $q + " +
        s"2.445134137142996e0) * $q + 3.754408661907416e0) * $q + 1.0e0)))"
    }
    val probes = Seq(
      ("9.0e-1", central("9.0e-1"), "1.2815515655446004e0"),
      ("9.5e-1", central("9.5e-1"), "1.6448536269514722e0"),
      ("9.75e-1", tail("9.75e-1"), "1.959963984540054e0"),
      ("9.9e-1", tail("9.9e-1"), "2.3263478740408408e0"),
      ("9.99e-1", tail("9.99e-1"), "3.090232306167813e0"))
    val rows = probes.map { case (p, e, ref) =>
      s"SELECT CAST($p AS DOUBLE) AS p, $e AS z, CAST($ref AS DOUBLE) AS z_reference"
    }.mkString(" UNION ALL ")
    s.sql(s"""SELECT p, round(z, 6) AS z_acklam, round(z_reference, 6) AS z_reference,
      |round(abs(z - z_reference), 8) AS abs_err,
      |abs(z - z_reference) < 1.5e-4 AS within_tolerance
      |FROM ($rows) ORDER BY p""".stripMargin)
  }

  val funcNormalQuantileSuiteSql: String = {
    def central(p: String): String = {
      val q = s"($p - 5.0e-1)"
      val r = s"($q * $q)"
      s"($q * (((((-3.969683028665376e1 * $r + 2.209460984245205e2) * $r - " +
        s"2.759285104469687e2) * $r + 1.383577518672690e2) * $r - 3.066479806614716e1) * $r + " +
        s"2.506628277459239e0) / (((((-5.447609879822406e1 * $r + 1.615858368580409e2) * $r - " +
        s"1.556989798598866e2) * $r + 6.680131188771972e1) * $r - 1.328068155288572e1) * $r + 1.0e0))"
    }
    def tail(p: String): String = {
      val q = s"sqrt(-2.0e0 * ln(1.0e0 - $p))"
      s"(-((((((-7.784894002430293e-3 * $q - 3.223964580411365e-1) * $q - " +
        s"2.400758277161838e0) * $q - 2.549732539343734e0) * $q + 4.374664141464968e0) * $q + " +
        s"2.938163982698783e0) / ((((7.784695709041462e-3 * $q + 3.224671290700398e-1) * $q + " +
        s"2.445134137142996e0) * $q + 3.754408661907416e0) * $q + 1.0e0)))"
    }
    val probes = Seq(
      ("9.0e-1", central("9.0e-1"), "1.2815515655446004e0"),
      ("9.5e-1", central("9.5e-1"), "1.6448536269514722e0"),
      ("9.75e-1", tail("9.75e-1"), "1.959963984540054e0"),
      ("9.9e-1", tail("9.9e-1"), "2.3263478740408408e0"),
      ("9.99e-1", tail("9.99e-1"), "3.090232306167813e0"))
    val rows = probes.map { case (p, e, ref) =>
      s"SELECT CAST($p AS DOUBLE) AS p, $e AS z, CAST($ref AS DOUBLE) AS z_reference"
    }.mkString(" UNION ALL ")
    s"""SELECT p, round(z, 6) AS z_acklam, round(z_reference, 6) AS z_reference,
       |round(abs(z - z_reference), 8) AS abs_err,
       |abs(z - z_reference) < 1.5e-4 AS within_tolerance
       |FROM ($rows) ORDER BY p""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    Key("agg-price-waterfall", aggPriceWaterfall, aggPriceWaterfallSql),
    Key("agg-bayes-ab-posterior", aggBayesAbPosterior, aggBayesAbPosteriorSql),
    Key("emb-shrunken-centroid-dims", embShrunkenCentroidDims, embShrunkenCentroidDimsSql),
    Key("func-normal-quantile-suite", funcNormalQuantileSuite, funcNormalQuantileSuiteSql))
}
