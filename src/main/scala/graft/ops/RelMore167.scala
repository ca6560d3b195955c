package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-8 batch C: inventory science (safety stock under joint
  * demand+lead-time uncertainty, fill-rate/expected-shortage ladder)
  * and marketing science (shifted-beta-geometric churn fit,
  * mixture-SPRT always-valid A/B inference). */
object RelMore167 extends KeyModule {

  /** Shared erfc literal (Abramowitz & Stegun 7.1.26, |ε|<1.5e-7) —
    * identical elementary double arithmetic in both engines, so the
    * approximation error is common-mode (same device as RelMore108). */
  private def erfcSql(x: String): String =
    s"(1.0 / (1.0 + 0.3275911 * $x)) * (0.254829592 + (1.0 / (1.0 + 0.3275911 * $x)) * " +
      s"(-0.284496736 + (1.0 / (1.0 + 0.3275911 * $x)) * (1.421413741 + " +
      s"(1.0 / (1.0 + 0.3275911 * $x)) * (-1.453152027 + (1.0 / (1.0 + 0.3275911 * $x)) * " +
      s"1.061405429)))) * exp(-($x) * ($x))"

  /** agg-safety-stock — per-brand safety stock under JOINT demand and
    * lead-time uncertainty: σ²_DL = L̄·σ²_D + D̄²·σ²_L (the standard
    * compound formula — either variance alone understates the buffer;
    * the D̄²σ²_L term is what a demand-only model misses). Demand =
    * daily shipped quantity per brand; lead time = order→ship lag per
    * line. Both moment pairs are exact integer sums (population
    * variance (n·Σx² − (Σx)²)/n², declared); safety stock at z = 1.645
    * (95% cycle service) and the reorder point D̄·L̄ + SS are the two
    * terminal doubles. 25 brand rows — the per-brand daily rollup is
    * the only fact-scale pass. The fixture's shipdates are not
    * order-anchored, so negative order→ship lags exist; those rows
    * are excluded as schedule-data errors (declared filter, applied
    * identically to both the demand and the lead-time sample). */
  val aggSafetyStock: Q = (s, d) => {
    val li = lineitem(s, d)
      .join(orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(part(s, d).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        expr("CAST(l_quantity AS BIGINT)").as("q"),
        to_date(col("l_shipdate")).as("sd"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))).cast(LongType)
          .as("lag"))
      .filter(col("lag") >= 0)
      .sharedCache()
    val dstats = li.groupBy("brand", "sd").agg(sum("q").as("dq"))
      .groupBy("brand")
      .agg(count(lit(1)).as("nd"), sum("dq").as("sd1"),
        sum(col("dq").cast(DecimalType(38, 0)) * col("dq")).as("sd2"))
    val lstats = li.groupBy("brand")
      .agg(count(lit(1)).as("nl"), sum("lag").as("sl1"),
        sum(col("lag").cast(DecimalType(38, 0)) * col("lag")).as("sl2"))
    dstats.join(lstats, Seq("brand"))
      .select(col("brand"),
        (col("sd1").cast(DoubleType) / col("nd")).as("dbar"),
        ((col("nd") * col("sd2") - col("sd1") * col("sd1")).cast(DoubleType) /
          (col("nd").cast(DoubleType) * col("nd"))).as("vard"),
        (col("sl1").cast(DoubleType) / col("nl")).as("lbar"),
        ((col("nl") * col("sl2") - col("sl1") * col("sl1")).cast(DoubleType) /
          (col("nl").cast(DoubleType) * col("nl"))).as("varl"))
      .select(col("brand"),
        round(col("dbar"), 3).as("mean_daily_qty"),
        round(col("lbar"), 3).as("mean_lead_days"),
        round(lit(1.645) * sqrt(col("lbar") * col("vard") +
          col("dbar") * col("dbar") * col("varl")), 2).as("safety_stock"),
        round(col("dbar") * col("lbar") + lit(1.645) *
          sqrt(col("lbar") * col("vard") + col("dbar") * col("dbar") * col("varl")), 2)
          .as("reorder_point"))
      .orderBy("brand")
  }

  val aggSafetyStockSql: String =
    """WITH li AS (
      |  SELECT p_brand AS brand, CAST(l_quantity AS BIGINT) AS q,
      |         CAST(l_shipdate AS DATE) AS sd,
      |         datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS lag
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN part ON l_partkey = p_partkey
      |  WHERE datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) >= 0),
      |dstats AS (
      |  SELECT brand, CAST(count(*) AS BIGINT) AS nd,
      |         CAST(sum(dq) AS BIGINT) AS sd1,
      |         CAST(sum(CAST(dq AS HUGEINT) * dq) AS HUGEINT) AS sd2
      |  FROM (SELECT brand, sd, CAST(sum(q) AS BIGINT) AS dq
      |        FROM li GROUP BY 1, 2) t
      |  GROUP BY brand),
      |lstats AS (
      |  SELECT brand, CAST(count(*) AS BIGINT) AS nl,
      |         CAST(sum(lag) AS BIGINT) AS sl1,
      |         CAST(sum(CAST(lag AS HUGEINT) * lag) AS HUGEINT) AS sl2
      |  FROM li GROUP BY brand),
      |f AS (
      |  SELECT d.brand,
      |         CAST(sd1 AS DOUBLE) / nd AS dbar,
      |         CAST(nd * sd2 - sd1 * sd1 AS DOUBLE) / (CAST(nd AS DOUBLE) * nd) AS vard,
      |         CAST(sl1 AS DOUBLE) / nl AS lbar,
      |         CAST(nl * sl2 - sl1 * sl1 AS DOUBLE) / (CAST(nl AS DOUBLE) * nl) AS varl
      |  FROM dstats d JOIN lstats l ON d.brand = l.brand)
      |SELECT brand, round(dbar, 3) AS mean_daily_qty, round(lbar, 3) AS mean_lead_days,
      |       round(1.645 * sqrt(lbar * vard + dbar * dbar * varl), 2) AS safety_stock,
      |       round(dbar * lbar + 1.645 * sqrt(lbar * vard + dbar * dbar * varl), 2)
      |         AS reorder_point
      |FROM f
      |ORDER BY brand""".stripMargin

  /** agg-fill-rate-esc — the service-level ladder: for z ∈ {1.00,
    * 1.28, 1.645, 2.33} (cycle service 84/90/95/99%), the expected
    * shortage per replenishment cycle ESC = σ_wk·[φ(z) − z·(1−Φ(z))]
    * (the standard normal LOSS function G(z)) and the resulting FILL
    * RATE 1 − ESC/Q̄ with Q̄ = mean weekly demand. The ladder makes
    * the distinction every stockroom conflates visible: cycle service
    * (P(no stockout)) and fill rate (fraction of units served) differ
    * MATERIALLY at the same z. Weekly demand moments are exact integer
    * sums; Φ comes from the shared A&S erfc literal, φ is one exp —
    * identical doubles in both engines. */
  val aggFillRateEsc: Q = (s, d) => {
    val wk = lineitem(s, d)
      .groupBy(expr("CAST(datediff(CAST(l_shipdate AS DATE), DATE '1970-01-05') " +
        "div 7 AS BIGINT)").as("wk"))
      .agg(sum(expr("CAST(l_quantity AS BIGINT)")).as("wq"))
    val m = wk.agg(count(lit(1)).as("nw"), sum("wq").as("s1"),
      sum(col("wq").cast(DecimalType(38, 0)) * col("wq")).as("s2"))
    val zs = s.sql("SELECT explode(array(1.00D, 1.28D, 1.645D, 2.33D)) AS z")
    zs.crossJoin(broadcast(m))
      .select(col("z"),
        (col("s1").cast(DoubleType) / col("nw")).as("qbar"),
        sqrt((col("nw").cast(DoubleType) * col("s2").cast(DoubleType) -
          col("s1").cast(DoubleType) * col("s1").cast(DoubleType)) /
          (col("nw").cast(DoubleType) * col("nw").cast(DoubleType))).as("sigw"))
      .withColumn("phi_z", expr("exp(-z * z / 2) / sqrt(2 * pi())"))
      .withColumn("tail", expr(erfcSql("z / sqrt(2.0)")) / 2)
      .withColumn("esc", col("sigw") * (col("phi_z") - col("z") * col("tail")))
      .select(col("z"),
        round(lit(1.0) - col("tail"), 4).as("cycle_service"),
        round(col("qbar"), 2).as("mean_weekly_demand"),
        round(col("esc"), 3).as("expected_shortage"),
        round(lit(1.0) - col("esc") / col("qbar"), 6).as("fill_rate"))
      .orderBy("z")
  }

  val aggFillRateEscSql: String = {
    val tail = erfcSql("z / sqrt(2.0)")
    s"""WITH wk AS (
      |  SELECT datediff('day', DATE '1970-01-05', CAST(l_shipdate AS DATE)) // 7 AS wk,
      |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wq
      |  FROM lineitem GROUP BY 1),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS nw, CAST(sum(wq) AS BIGINT) AS s1,
      |         CAST(sum(CAST(wq AS HUGEINT) * wq) AS HUGEINT) AS s2
      |  FROM wk),
      |zs AS (SELECT unnest([1.00, 1.28, 1.645, 2.33]) AS z),
      |f AS (
      |  SELECT z, CAST(s1 AS DOUBLE) / nw AS qbar,
      |         sqrt((CAST(nw AS DOUBLE) * CAST(s2 AS DOUBLE) -
      |               CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) /
      |              (CAST(nw AS DOUBLE) * CAST(nw AS DOUBLE))) AS sigw,
      |         exp(-z * z / 2) / sqrt(2 * pi()) AS phi_z,
      |         ($tail) / 2 AS tail
      |  FROM zs CROSS JOIN m)
      |SELECT z, round(1.0 - tail, 4) AS cycle_service,
      |       round(qbar, 2) AS mean_weekly_demand,
      |       round(sigw * (phi_z - z * tail), 3) AS expected_shortage,
      |       round(1.0 - sigw * (phi_z - z * tail) / qbar, 6) AS fill_rate
      |FROM f
      |ORDER BY z""".stripMargin
  }

  /** agg-sbg-churn — Fader-Hardie shifted-beta-geometric fit of the
    * first-cohort retention curve: each customer churns per-month with
    * an individual probability drawn Beta(α, β); survival S(t) =
    * Π_{k≤t}(β+k−1)/(α+β+k−1). The sBG's heterogeneity is the whole
    * point — a single geometric rate CANNOT produce the flattening
    * every real retention curve shows, and extrapolating the naive
    * exponential understates long-run retention. Fit: 20×20 grid over
    * (α, β) ∈ {0.25…5.0}², each candidate's 12-month curve via a
    * per-candidate cumulative log-product (window PARTITIONED by
    * candidate — 400 partitions × 12 rows), SSE against the observed
    * curve, argmin with (α, β) tiebreak. Observed retention: cohort =
    * customers whose FIRST order lands in the corpus' first month;
    * r(t) = share active in month t after. Everything through SSE is
    * deterministic double arithmetic on exact counts. */
  val aggSbgChurn: Q = (s, d) => {
    val om = orders(s, d).select(col("o_custkey"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("ym"))
      .sharedCache()
    val ym0 = om.agg(min("ym").as("ym0"))
    val cohort = om.crossJoin(broadcast(ym0))
      .groupBy("o_custkey").agg(min("ym").as("fm"), max("ym0").as("ym0"))
      .filter(col("fm") === col("ym0"))
      .select(col("o_custkey"))
      .sharedCache()
    val csize = cohort.agg(count(lit(1)).as("c0"))
    val active = om.join(cohort, Seq("o_custkey"))
      .crossJoin(broadcast(ym0))
      .select(col("o_custkey"), (col("ym") - col("ym0")).as("t"))
      .filter(col("t").between(1, 12))
      .distinct()
      .groupBy("t").agg(count(lit(1)).as("nact"))
    // observed retention r(t), t = 1..12 (gaps impossible at fixture
    // scale, but the left join keeps the curve total regardless)
    val tAxis = s.sql("SELECT explode(sequence(1, 12)) AS t")
    val obs = tAxis.join(active, Seq("t"), "left")
      .crossJoin(broadcast(csize))
      .select(col("t"), (coalesce(col("nact"), lit(0L)).cast(DoubleType) /
        col("c0").cast(DoubleType)).as("r_obs"))
    // 4.0D: a bare 4.0 literal parses as DECIMAL in Spark SQL and
    // would carry a scale-6 decimal into the output schema
    val grid = s.sql(
      "SELECT a.i / 4.0D AS alpha, b.j / 4.0D AS beta " +
        "FROM (SELECT explode(sequence(1, 20)) AS i) a " +
        "CROSS JOIN (SELECT explode(sequence(1, 20)) AS j) b")
    val curve = grid.crossJoin(tAxis)
      .withColumn("lterm", log((col("beta") + col("t") - 1) /
        (col("alpha") + col("beta") + col("t") - 1)))
      .withColumn("s_t", exp(sum("lterm").over(
        Window.partitionBy("alpha", "beta").orderBy("t")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))))
    curve.join(broadcast(obs), Seq("t"))
      .groupBy("alpha", "beta")
      .agg(sum((col("s_t") - col("r_obs")) * (col("s_t") - col("r_obs"))).as("sse"),
        max(when(col("t") === 12, col("s_t"))).as("s12"),
        max(when(col("t") === 12, col("r_obs"))).as("r12"))
      .orderBy(col("sse"), col("alpha"), col("beta"))
      .limit(1)
      .crossJoin(broadcast(csize))
      .select(col("c0").as("cohort_size"), col("alpha"), col("beta"),
        round(col("sse"), 8).as("sse"),
        round(col("s12"), 4).as("predicted_s12"),
        round(col("r12"), 4).as("observed_r12"))
  }

  val aggSbgChurnSql: String =
    """WITH om AS (
      |  SELECT o_custkey, year(o_orderdate) * 12 + month(o_orderdate) AS ym
      |  FROM orders),
      |ym0 AS (SELECT min(ym) AS ym0 FROM om),
      |cohort AS (
      |  SELECT o_custkey FROM om CROSS JOIN ym0
      |  GROUP BY o_custkey, ym0 HAVING min(ym) = ym0),
      |csize AS (SELECT CAST(count(*) AS BIGINT) AS c0 FROM cohort),
      |active AS (
      |  SELECT ym - ym0 AS t, CAST(count(DISTINCT om.o_custkey) AS BIGINT) AS nact
      |  FROM om JOIN cohort USING (o_custkey) CROSS JOIN ym0
      |  WHERE ym - ym0 BETWEEN 1 AND 12
      |  GROUP BY 1),
      |obs AS (
      |  SELECT t, CAST(COALESCE(nact, 0) AS DOUBLE) / c0 AS r_obs
      |  FROM (SELECT unnest(generate_series(1, 12)) AS t) ts
      |  LEFT JOIN active USING (t) CROSS JOIN csize),
      |grid AS (
      |  SELECT a.i / 4.0 AS alpha, b.j / 4.0 AS beta
      |  FROM (SELECT unnest(generate_series(1, 20)) AS i) a
      |  CROSS JOIN (SELECT unnest(generate_series(1, 20)) AS j) b),
      |curve AS (
      |  SELECT alpha, beta, t,
      |         exp(sum(ln((beta + t - 1) / (alpha + beta + t - 1)))
      |             OVER (PARTITION BY alpha, beta ORDER BY t
      |                   ROWS UNBOUNDED PRECEDING)) AS s_t
      |  FROM grid CROSS JOIN (SELECT unnest(generate_series(1, 12)) AS t) ts),
      |fit AS (
      |  SELECT alpha, beta,
      |         sum((s_t - r_obs) * (s_t - r_obs)) AS sse,
      |         max(CASE WHEN t = 12 THEN s_t END) AS s12,
      |         max(CASE WHEN t = 12 THEN r_obs END) AS r12
      |  FROM curve JOIN obs USING (t)
      |  GROUP BY alpha, beta
      |  ORDER BY sse, alpha, beta
      |  LIMIT 1)
      |SELECT c0 AS cohort_size, alpha, beta, round(sse, 8) AS sse,
      |       round(s12, 4) AS predicted_s12, round(r12, 4) AS observed_r12
      |FROM fit CROSS JOIN csize""".stripMargin

  /** agg-msprt — the mixture SPRT (always-valid inference): the A/B
    * test you may peek at EVERY order without inflating false
    * positives. Split = orderkey parity (a true 50/50 null — the op
    * is its own negative control), metric = order value in dollars,
    * H₀: Δ = 0 with the mixing prior N(0, τ²), τ = $1000 declared.
    * Λ = sqrt(σ²/(σ²+ñτ²))·exp(ñ²τ²Δ̄²/(2σ²(σ²+ñτ²))) with ñ the
    * harmonic two-sample size; the always-valid p is min(1, 1/Λ).
    * Fixed-horizon z would cross 1.96 on ~5% of peeks by luck; Λ is a
    * supermartingale under H₀, so P(ever reject) ≤ α — that is the
    * property this op certifies. Moments exact (cents in
    * DECIMAL(38,0)); Λ and p are terminal doubles. */
  val aggMsprt: Q = (s, d) => {
    val src = orders(s, d).select(
      (col("o_orderkey") % 2 === 0).as("grp"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("c"))
    val m = src.agg(
      sum(when(col("grp"), 1L).otherwise(0L)).as("na"),
      sum(when(!col("grp"), 1L).otherwise(0L)).as("nb"),
      sum(when(col("grp"), col("c")).otherwise(0L)).as("sa"),
      sum(when(!col("grp"), col("c")).otherwise(0L)).as("sb"),
      sum(col("c").cast(DecimalType(38, 0)) * col("c")).as("s2"),
      sum(col("c")).as("s1"), count(lit(1)).as("n"))
    m.select(
        col("na").cast(DoubleType).as("dna"), col("nb").cast(DoubleType).as("dnb"),
        (col("sa").cast(DoubleType) / 100).as("suma"),
        (col("sb").cast(DoubleType) / 100).as("sumb"),
        ((col("n").cast(DoubleType) * col("s2").cast(DoubleType) -
          col("s1").cast(DoubleType) * col("s1").cast(DoubleType)) /
          (col("n").cast(DoubleType) * col("n").cast(DoubleType)) / 10000).as("varp"),
        col("na").cast(LongType).as("n_a"), col("nb").cast(LongType).as("n_b"))
      .withColumn("delta", col("suma") / col("dna") - col("sumb") / col("dnb"))
      .withColumn("ntil", lit(1.0) / (lit(1.0) / col("dna") + lit(1.0) / col("dnb")))
      .withColumn("tau2", lit(1000.0 * 1000.0))
      .withColumn("lam",
        sqrt(col("varp") / (col("varp") + col("ntil") * col("tau2"))) *
          exp(col("ntil") * col("ntil") * col("tau2") * col("delta") * col("delta") /
            (lit(2.0) * col("varp") * (col("varp") + col("ntil") * col("tau2")))))
      .select(col("n_a"), col("n_b"),
        round(col("delta"), 2).as("mean_diff_dollars"),
        round(col("lam"), 6).as("lambda_mixture"),
        round(least(lit(1.0), lit(1.0) / col("lam")), 6).as("always_valid_p"),
        (lit(1.0) / col("lam") < 0.05).as("reject_null"))
  }

  val aggMsprtSql: String =
    """WITH src AS (
      |  SELECT o_orderkey % 2 = 0 AS grp,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM orders),
      |m AS (
      |  SELECT CAST(sum(CASE WHEN grp THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |         CAST(sum(CASE WHEN NOT grp THEN 1 ELSE 0 END) AS BIGINT) AS nb,
      |         CAST(sum(CASE WHEN grp THEN c ELSE 0 END) AS BIGINT) AS sa,
      |         CAST(sum(CASE WHEN NOT grp THEN c ELSE 0 END) AS BIGINT) AS sb,
      |         CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2,
      |         CAST(sum(c) AS BIGINT) AS s1, CAST(count(*) AS BIGINT) AS n
      |  FROM src),
      |f AS (
      |  SELECT na AS n_a, nb AS n_b,
      |         CAST(sa AS DOUBLE) / 100 / na - CAST(sb AS DOUBLE) / 100 / nb AS delta,
      |         (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) -
      |          CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) /
      |         (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 10000 AS varp,
      |         1.0 / (1.0 / na + 1.0 / nb) AS ntil,
      |         1000.0 * 1000.0 AS tau2
      |  FROM m),
      |g AS (
      |  SELECT n_a, n_b, delta,
      |         sqrt(varp / (varp + ntil * tau2)) *
      |         exp(ntil * ntil * tau2 * delta * delta /
      |             (2.0 * varp * (varp + ntil * tau2))) AS lam
      |  FROM f)
      |SELECT n_a, n_b, round(delta, 2) AS mean_diff_dollars,
      |       round(lam, 6) AS lambda_mixture,
      |       round(least(1.0, 1.0 / lam), 6) AS always_valid_p,
      |       1.0 / lam < 0.05 AS reject_null
      |FROM g""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-safety-stock", aggSafetyStock, aggSafetyStockSql),
    Key("agg-fill-rate-esc", aggFillRateEsc, aggFillRateEscSql),
    Key("agg-sbg-churn", aggSbgChurn, aggSbgChurnSql),
    Key("agg-msprt", aggMsprt, aggMsprtSql))
}
