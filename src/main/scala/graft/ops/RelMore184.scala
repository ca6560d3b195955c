package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-8 batch T: synthetic-control counterfactual, recurrent-event
  * mean cumulative function, Engle's ARCH-LM volatility-clustering
  * test, price-ending fingerprint. */
object RelMore184 extends KeyModule {

  /** agg-synthetic-control — the counterfactual method for ONE treated
    * unit: nation 0's 1997 revenue is compared against a synthetic
    * twin built from donor nations weighted by 1996 pre-period fit,
    * w_d = ⌊10¹⁵/(10⁶ + Σ_m (rev₀ₘ−rev_dₘ)²)⌋ — inverse squared
    * pre-distance, quantized to integers so the weighted counter-
    * factual is exact integer arithmetic end to end (the convex-hull
    * QP of Abadie et al. needs a solver; inverse-distance weighting is
    * the standard closed-form surrogate and keeps the oracle exact).
    * Complements agg-diff-in-diff (which needs parallel trends; SC
    * builds the trend). Fact work: one (nation, month) aggregate;
    * everything after lives on a ≤25×24 frame. */
  val aggSyntheticControl: Q = (s, d) => {
    val mon = orders(s, d)
      .filter(year(col("o_orderdate")).isin(1996, 1997))
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"),
        year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) " +
        "DIV 100")).as("rev"))
      .sharedCache()
    val pre = mon.filter(col("y") === 1996)
    val t0 = pre.filter(col("nk") === 0).select(col("m"), col("rev").as("r0"))
    val dist = pre.filter(col("nk") =!= 0).join(t0, Seq("m"))
      .groupBy("nk")
      .agg(sum((col("rev") - col("r0")) * (col("rev") - col("r0"))).as("d2"))
      .select(col("nk"), col("d2"),
        expr("CAST(1000000000000000 DIV (1000000 + d2) AS BIGINT)").as("w"))
      .sharedCache()
    val wTot = dist.agg(sum("w").as("wt"),
      count(lit(1)).as("n_donors"),
      max(struct(col("w"), (-col("nk")).as("negnk"))).getField("negnk")
        .as("negtop"))
    val post = mon.filter(col("y") === 1997).groupBy("nk")
      .agg(sum("rev").as("postrev"))
    val cfPost = post.filter(col("nk") =!= 0).join(dist, Seq("nk"))
      .crossJoin(broadcast(wTot))
      .agg(max("wt").as("wt2"),
        sum(col("w") * col("postrev")).as("num"))
      .select(expr("num DIV wt2").as("cf_post"))
    val cfPre = pre.filter(col("nk") =!= 0).join(dist, Seq("nk"))
      .crossJoin(broadcast(wTot.select(col("wt"))))
      .groupBy("m")
      .agg(expr("sum(w * rev) DIV max(wt)").as("cf"))
    val rmse = t0.join(cfPre, Seq("m"))
      .agg(round(sqrt(sum((col("r0") - col("cf")) * (col("r0") - col("cf")))
        .cast(DoubleType) / 12.0), 2).as("pre_rmse_usd"))
    val treatedPost = post.filter(col("nk") === 0)
      .select(col("postrev").as("treated_post_usd"))
    treatedPost.crossJoin(cfPost).crossJoin(rmse)
      .crossJoin(broadcast(wTot.select(col("n_donors"), (-col("negtop"))
        .cast(LongType).as("top_donor"))))
      .select(col("n_donors"), col("top_donor"), col("pre_rmse_usd"),
        col("treated_post_usd"), col("cf_post").as("synthetic_post_usd"),
        (col("treated_post_usd") - col("cf_post")).as("effect_usd"),
        round((col("treated_post_usd") - col("cf_post")).cast(DoubleType) * 100 /
          col("cf_post").cast(DoubleType), 4).as("effect_pct"))
  }

  val aggSyntheticControlSql: String =
    """WITH mon AS (
      |  SELECT c_nationkey AS nk, year(CAST(o_orderdate AS DATE)) AS y,
      |         month(CAST(o_orderdate AS DATE)) AS m,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |              // 100) AS BIGINT) AS rev
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE year(CAST(o_orderdate AS DATE)) IN (1996, 1997)
      |  GROUP BY 1, 2, 3),
      |pre AS (SELECT * FROM mon WHERE y = 1996),
      |t0 AS (SELECT m, rev AS r0 FROM pre WHERE nk = 0),
      |dist AS (
      |  SELECT nk, d2, CAST(1000000000000000 // (1000000 + d2) AS BIGINT) AS w
      |  FROM (
      |    SELECT nk, CAST(sum((rev - r0) * (rev - r0)) AS BIGINT) AS d2
      |    FROM pre JOIN t0 USING (m) WHERE nk <> 0 GROUP BY 1) t),
      |wtot AS (
      |  SELECT CAST(sum(w) AS BIGINT) AS wt, CAST(count(*) AS BIGINT) AS n_donors,
      |         CAST(min(CASE WHEN w = (SELECT max(w) FROM dist) THEN nk END)
      |              AS BIGINT) AS top_donor
      |  FROM dist),
      |post AS (
      |  SELECT nk, CAST(sum(rev) AS BIGINT) AS postrev
      |  FROM mon WHERE y = 1997 GROUP BY 1),
      |cfpost AS (
      |  SELECT CAST(sum(CAST(w AS HUGEINT) * postrev) // max(wt) AS BIGINT)
      |           AS cf_post -- HUGEINT guard; values positive so // == DIV
      |  FROM post JOIN dist USING (nk) CROSS JOIN wtot WHERE nk <> 0),
      |cfpre AS (
      |  SELECT m, CAST(sum(CAST(w AS HUGEINT) * rev) // max(wt) AS BIGINT) AS cf
      |  FROM pre JOIN dist USING (nk) CROSS JOIN wtot WHERE nk <> 0
      |  GROUP BY m),
      |rmse AS (
      |  SELECT round(sqrt(CAST(sum((r0 - cf) * (r0 - cf)) AS DOUBLE) / 12.0), 2)
      |           AS pre_rmse_usd
      |  FROM t0 JOIN cfpre USING (m))
      |SELECT n_donors, top_donor, pre_rmse_usd,
      |       postrev AS treated_post_usd, cf_post AS synthetic_post_usd,
      |       postrev - cf_post AS effect_usd,
      |       round(CAST(postrev - cf_post AS DOUBLE) * 100 /
      |             CAST(cf_post AS DOUBLE), 4) AS effect_pct
      |FROM post CROSS JOIN cfpost CROSS JOIN rmse CROSS JOIN wtot
      |WHERE post.nk = 0""".stripMargin

  /** agg-mcf-recurrent — the mean cumulative function for RECURRENT
    * events (repeat orders), the reliability-engineering counterpart
    * of agg-nelson-aalen's single-event hazard: at tenure month t the
    * MCF accumulates d_t/r_t where d_t counts ALL orders placed t
    * months after the customer's first order and r_t counts customers
    * still under observation (administratively censored at the corpus
    * horizon). Increments are the exact integer d·(10⁹ div r); the
    * cumulative pass runs on the bounded TENURE frame (≤ corpus span
    * in months), never on rows. Reported for the first 24 tenure
    * months — the repeat-purchase accrual curve CRM teams read slope
    * off. */
  val aggMcfRecurrent: Q = (s, d) => {
    val om = orders(s, d).select(col("o_custkey").as("ck"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("mi"))
      .sharedCache()
    val entry = om.groupBy("ck").agg(min("mi").as("e0"))
    val horizon = om.agg(max("mi").as("hm"))
    val tenured = om.join(entry, Seq("ck"))
      .select((col("mi") - col("e0")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("d"))
    val risk = entry.crossJoin(broadcast(horizon))
      .select((col("hm") - col("e0")).as("cens"))
      .groupBy("cens").agg(count(lit(1)).as("nc"))
    // r_t for EVERY tenure value (a suffix-sum keyed only on observed
    // censor times would drop tenure months with no exactly-matching
    // censor time) — bounded |tenure|x|censor| frame, never row-scale
    val wCum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    tenured.crossJoin(risk)
      .filter(col("cens") >= col("t"))
      .groupBy("t", "d").agg(sum("nc").as("r"))
      .withColumn("inc", expr("d * (1000000000 DIV r)"))
      .withColumn("mcf_nano", sum("inc").over(wCum))
      .filter(col("t") <= 24)
      .select(col("t").cast(IntegerType).as("tenure_month"),
        col("d").as("n_orders"), col("r").as("n_at_risk"),
        round(col("mcf_nano").cast(DoubleType) / 1e9, 6).as("mcf"))
      .orderBy("tenure_month")
  }

  val aggMcfRecurrentSql: String =
    """WITH om AS (
      |  SELECT o_custkey AS ck,
      |         year(CAST(o_orderdate AS DATE)) * 12 +
      |           month(CAST(o_orderdate AS DATE)) AS mi
      |  FROM orders),
      |entry AS (SELECT ck, min(mi) AS e0 FROM om GROUP BY 1),
      |horizon AS (SELECT max(mi) AS hm FROM om),
      |tenured AS (
      |  SELECT mi - e0 AS t, CAST(count(*) AS BIGINT) AS d
      |  FROM om JOIN entry USING (ck) GROUP BY 1),
      |risk AS (
      |  SELECT hm - e0 AS cens, CAST(count(*) AS BIGINT) AS nc
      |  FROM entry CROSS JOIN horizon GROUP BY 1),
      |mcf AS (
      |  SELECT t, d, r, d * (1000000000 // r) AS inc
      |  FROM (
      |    SELECT t, d, CAST(sum(nc) AS BIGINT) AS r
      |    FROM tenured CROSS JOIN risk WHERE cens >= t
      |    GROUP BY t, d) j)
      |SELECT CAST(t AS INTEGER) AS tenure_month, d AS n_orders,
      |       CAST(r AS BIGINT) AS n_at_risk,
      |       round(CAST(sum(inc) OVER (ORDER BY t
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1e9,
      |         6) AS mcf
      |FROM mcf QUALIFY t <= 24
      |ORDER BY t""".stripMargin

  /** agg-arch-lm-test — Engle's ARCH-LM test for volatility
    * clustering in monthly revenue log-returns: regress e²_t on
    * e²_{t−1} (one lag), LM = n·R² ~ χ²(1); rejection says variance
    * is predictable from its own past — the precondition for any
    * GARCH-style model. Returns are the quantized ⌊ln(rev_t/rev_{t−1})
    * ·10⁹⌋ integers (ordered-fold discipline), residual moments are
    * exact DECIMAL(38) sums off the bounded month frame, and the
    * closed-form R² uses identical double expressions both sides. The
    * fact scan is one month-grain aggregate. */
  val aggArchLmTest: Q = (s, d) => {
    val wM = Window.orderBy("mi")
    val mon = orders(s, d)
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .as("mi"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .as("rev"))
      .withColumn("prev", lag("rev", 1).over(wM))
      .filter(col("prev").isNotNull)
      .select(col("mi"), floor(log(col("rev").cast(DoubleType) /
        col("prev").cast(DoubleType)) * 1e9).cast(LongType).as("rq"))
    // shifted-positive integer division: Spark DIV truncates toward
    // zero while DuckDB // floors — they agree only on non-negatives
    val mu = mon.agg(count(lit(1)).as("n"), sum("rq").as("srq"))
      .select(col("n"),
        (expr("(srq + n * 1000000000000) DIV n") - 1000000000000L).as("mq"))
    val e2 = mon.crossJoin(broadcast(mu))
      .select(col("mi"),
        (expr("abs(rq - mq) DIV 1000") * expr("abs(rq - mq) DIV 1000")).as("e2"))
    val wE = Window.orderBy("mi")
    val lagged = e2.withColumn("x", lag("e2", 1).over(wE))
      .filter(col("x").isNotNull)
    val m = lagged.agg(
      count(lit(1)).as("n"),
      sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
      sum(expr("CAST(e2 AS DECIMAL(38,0))")).as("sy"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
      sum(expr("CAST(e2 AS DECIMAL(38,0)) * e2")).as("syy"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * e2")).as("sxy"))
      .select(col("n").cast(DoubleType).as("nd"),
        col("sx").cast(DoubleType).as("sx"), col("sy").cast(DoubleType).as("sy"),
        col("sxx").cast(DoubleType).as("sxx"),
        col("syy").cast(DoubleType).as("syy"),
        col("sxy").cast(DoubleType).as("sxy"))
    m.select(col("nd").cast(LongType).as("n_obs"),
      round((col("nd") * col("sxy") - col("sx") * col("sy")) /
        (sqrt(col("nd") * col("sxx") - col("sx") * col("sx")) *
          sqrt(col("nd") * col("syy") - col("sy") * col("sy"))), 6).as("rho_e2"),
      round(col("nd") *
        ((col("nd") * col("sxy") - col("sx") * col("sy")) *
          (col("nd") * col("sxy") - col("sx") * col("sy"))) /
        ((col("nd") * col("sxx") - col("sx") * col("sx")) *
          (col("nd") * col("syy") - col("sy") * col("sy"))), 4).as("lm_stat"),
      (col("nd") *
        ((col("nd") * col("sxy") - col("sx") * col("sy")) *
          (col("nd") * col("sxy") - col("sx") * col("sy"))) /
        ((col("nd") * col("sxx") - col("sx") * col("sx")) *
          (col("nd") * col("syy") - col("sy") * col("sy"))) > 3.841)
        .as("arch_effect_rejected"))
  }

  val aggArchLmTestSql: String =
    """WITH mon AS (
      |  SELECT mi, CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |         AS BIGINT)) AS BIGINT) AS rev
      |  FROM (SELECT year(CAST(o_orderdate AS DATE)) * 12 +
      |               month(CAST(o_orderdate AS DATE)) AS mi, o_totalprice
      |        FROM orders) t GROUP BY 1),
      |ret AS (
      |  SELECT CAST(floor(ln(CAST(rev AS DOUBLE) / CAST(prev AS DOUBLE)) * 1e9)
      |              AS BIGINT) AS rq, mi
      |  FROM (SELECT mi, rev, lag(rev) OVER (ORDER BY mi) AS prev FROM mon) q
      |  WHERE prev IS NOT NULL),
      |mu AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST((sum(rq) + count(*) * 1000000000000) // count(*)
      |              - 1000000000000 AS BIGINT) AS mq
      |  FROM ret),
      |e2 AS (
      |  SELECT mi, (abs(rq - mq) // 1000) * (abs(rq - mq) // 1000) AS e2
      |  FROM ret CROSS JOIN mu),
      |lagged AS (
      |  SELECT e2, x FROM (
      |    SELECT e2, lag(e2) OVER (ORDER BY mi) AS x FROM e2) q
      |  WHERE x IS NOT NULL),
      |m AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS nd,
      |         CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
      |         CAST(sum(CAST(e2 AS HUGEINT)) AS DOUBLE) AS sy,
      |         CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
      |         CAST(sum(CAST(e2 AS HUGEINT) * e2) AS DOUBLE) AS syy,
      |         CAST(sum(CAST(x AS HUGEINT) * e2) AS DOUBLE) AS sxy
      |  FROM lagged)
      |SELECT CAST(nd AS BIGINT) AS n_obs,
      |       round((nd * sxy - sx * sy) /
      |             (sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy)), 6)
      |         AS rho_e2,
      |       round(nd * ((nd * sxy - sx * sy) * (nd * sxy - sx * sy)) /
      |             ((nd * sxx - sx * sx) * (nd * syy - sy * sy)), 4) AS lm_stat,
      |       nd * ((nd * sxy - sx * sy) * (nd * sxy - sx * sy)) /
      |           ((nd * sxx - sx * sx) * (nd * syy - sy * sy)) > 3.841
      |         AS arch_effect_rejected
      |FROM m""".stripMargin

  /** dq-price-ending-fingerprint — the cents-ending distribution as a
    * data-provenance fingerprint: human-priced catalogs pile up on
    * .99/.95/.00, generated or converted data is uniform — a χ²(99)
    * against uniform over the 100 endings separates the two, and the
    * modal ending is the tell. One map-side histogram (≤100 groups),
    * exact integer counts; the only doubles are the final χ² and
    * shares. */
  val dqPriceEndingFingerprint: Q = (s, d) => {
    val ends = orders(s, d)
      .select(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) % 100")
        .as("ending"))
      .groupBy("ending").agg(count(lit(1)).as("c"))
    val tot = ends.agg(sum("c").as("n"), count(lit(1)).as("n_endings"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val mode = ends.orderBy(col("c").desc, col("ending"))
      .limit(1)
      .select(col("ending").as("mode_ending"), col("c").as("mode_count"))
    ends.crossJoin(broadcast(tot))
      .agg(max("n").as("n_orders"), max("n_endings").as("n_endings_seen"),
        round(sum(((col("c") * 100L - col("n")) * (col("c") * 100L - col("n")))
          .cast(DoubleType) / (col("n").cast(DoubleType) * 100.0)) +
          (lit(100L) - max("n_endings")).cast(DoubleType) *
            max("n").cast(DoubleType) / 100.0, 4)
          .as("chi2"))
      .crossJoin(broadcast(mode))
      .select(col("n_orders"), col("n_endings_seen"), col("chi2"),
        (col("chi2") > 123.23).as("uniform_rejected"),
        col("mode_ending"),
        round(col("mode_count").cast(DoubleType) /
          col("n_orders").cast(DoubleType), 4).as("mode_share"))
  }

  val dqPriceEndingFingerprintSql: String =
    """WITH ends AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) % 100
      |           AS ending,
      |         CAST(count(*) AS BIGINT) AS c
      |  FROM orders GROUP BY 1),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
      |               CAST(count(*) AS BIGINT) AS n_endings FROM ends),
      |mode AS (
      |  SELECT ending AS mode_ending, c AS mode_count
      |  FROM ends ORDER BY c DESC, ending LIMIT 1),
      |chi AS (
      |  SELECT max(n) AS n_orders, max(n_endings) AS n_endings_seen,
      |         round(sum(CAST((c * 100 - n) * (c * 100 - n) AS DOUBLE) /
      |               (CAST(n AS DOUBLE) * 100.0)) +
      |               CAST(100 - max(n_endings) AS DOUBLE) *
      |                 CAST(max(n) AS DOUBLE) / 100.0, 4) AS chi2
      |  FROM ends CROSS JOIN tot)
      |SELECT n_orders, n_endings_seen, chi2, chi2 > 123.23 AS uniform_rejected,
      |       mode_ending, round(CAST(mode_count AS DOUBLE) /
      |         CAST(n_orders AS DOUBLE), 4) AS mode_share
      |FROM chi CROSS JOIN mode""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-synthetic-control", aggSyntheticControl, aggSyntheticControlSql),
    Key("agg-mcf-recurrent", aggMcfRecurrent, aggMcfRecurrentSql),
    Key("agg-arch-lm-test", aggArchLmTest, aggArchLmTestSql),
    Key("dq-price-ending-fingerprint", dqPriceEndingFingerprint, dqPriceEndingFingerprintSql))
}
