package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch AS: Cramér-von Mises two-sample test, L-moments,
  * two-way IPF raking, coupon-collector coverage audit. */
object RelMore144 extends KeyModule {

  /** dq-cramer-von-mises — the two-sample Cramér-von Mises test
    * between URGENT and LOW order values via the rank formula
    * T = U/(nm(n+m)) − (4nm−1)/(6(n+m)), U = nΣ(rᵢ−i)² + mΣ(sⱼ−j)².
    * dq-ks-drift reacts to the single worst ECDF gap; CvM integrates
    * the SQUARED gap over the whole distribution, so it catches a
    * broad mild shift that KS's one supremum point underweights —
    * the better default for distribution-drift gates. Ranks come
    * from one fully tiebroken sort (cents, then group, then order
    * key — stated; tie-broken ranks leave T deterministic in both
    * engines); U is an exact integer; one double division at the
    * end against the 5% critical value 0.461. */
  val dqCramerVonMises: Q = (s, d) => {
    val v = orders(s, d)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0).as("g"),
        col("o_orderkey").as("ok"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("c"))
    // One PrefixScan two-pass yields BOTH ranks the formula needs:
    // r = global rank under (c, g, ok); cum = running count of group-1
    // rows in that order, so within-group index i = cum for g=1 rows
    // and r − cum for g=0 rows (the (c,g,ok) order restricted to one
    // group IS its (c, ok) order). No single-partition WindowExec —
    // the old form sorted all filtered orders twice in one task each.
    val sc = graft.functions.PrefixScan.withRankCumSum(
      v.withColumn("gl", col("g").cast(LongType)),
      Seq(col("c"), col("g"), col("ok")), Some("gl"), rankName = "r", cumName = "cum")
    val ranked = sc.df
      .withColumn("i", when(col("g") === 1, col("cum")).otherwise(col("r") - col("cum")))
      .select(col("g"), ((col("r") - col("i")) * (col("r") - col("i"))).as("d2"))
    val agg = ranked.groupBy("g")
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("cnt"),
        sum(expr("CAST(d2 AS DECIMAL(38,0))")).as("sd2"))
    val a = agg.filter(col("g") === 1).select(col("cnt").as("n"), col("sd2").as("ux"))
    val b = agg.filter(col("g") === 0).select(col("cnt").as("m"), col("sd2").as("uy"))
    a.crossJoin(broadcast(b))
      .select(col("n").cast(LongType).as("n_urgent"), col("m").cast(LongType).as("n_low"),
        round((col("n") * col("ux") + col("m") * col("uy")).cast(DoubleType) /
          (col("n") * col("m") * (col("n") + col("m"))).cast(DoubleType) -
          (lit(4) * col("n") * col("m") - 1).cast(DoubleType) /
          (lit(6) * (col("n") + col("m"))).cast(DoubleType), 6).as("cvm_t"))
      .withColumn("distributions_differ", col("cvm_t") > lit(0.461))
  }

  val dqCramerVonMisesSql: String =
    """WITH v AS (
      |  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g,
      |         o_orderkey AS ok,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
      |ranked AS (
      |  SELECT g, CAST((r - i) * (r - i) AS HUGEINT) AS d2 FROM (
      |    SELECT g,
      |           row_number() OVER (ORDER BY c, g, ok) AS r,
      |           row_number() OVER (PARTITION BY g ORDER BY c, ok) AS i
      |    FROM v) t),
      |agg AS (
      |  SELECT g, CAST(count(*) AS HUGEINT) AS cnt, CAST(sum(d2) AS HUGEINT) AS sd2
      |  FROM ranked GROUP BY 1),
      |j AS (
      |  SELECT a.cnt AS n, a.sd2 AS ux, b.cnt AS m, b.sd2 AS uy
      |  FROM (SELECT * FROM agg WHERE g = 1) a
      |  CROSS JOIN (SELECT * FROM agg WHERE g = 0) b)
      |SELECT CAST(n AS BIGINT) AS n_urgent, CAST(m AS BIGINT) AS n_low,
      |       round(CAST(n * ux + m * uy AS DOUBLE) /
      |             CAST(n * m * (n + m) AS DOUBLE) -
      |             CAST(4 * n * m - 1 AS DOUBLE) / CAST(6 * (n + m) AS DOUBLE), 6)
      |         AS cvm_t,
      |       round(CAST(n * ux + m * uy AS DOUBLE) /
      |             CAST(n * m * (n + m) AS DOUBLE) -
      |             CAST(4 * n * m - 1 AS DOUBLE) / CAST(6 * (n + m) AS DOUBLE), 6) > 0.461
      |         AS distributions_differ
      |FROM j""".stripMargin

  /** agg-lmoments — the first four sample L-moments of order value
    * via probability-weighted moments: bᵣ folds x₍ᵢ₎·(i−1)⋯(i−r)
    * over the sorted sample, then λ₁=b₀, λ₂=2b₁−b₀, λ₃=6b₂−6b₁+b₀,
    * λ₄=20b₃−30b₂+12b₁−b₀. L-CV/L-skew/L-kurtosis are the robust
    * replacements for the classical moment ratios (agg-moments-suite):
    * linear in the data, so a single 100× outlier moves them by
    * O(1/n) instead of wrecking the cube — which is why hydrology
    * fits extreme-value models on the (t₃,t₄) diagram rather than
    * on skew/kurtosis. Every PWM numerator is an exact DECIMAL fold
    * of integer products (rank polynomials × cents); the sorted
    * ranks come from the PrefixScan two-pass (range exchange +
    * per-partition offsets), never a single-partition window sort. */
  val aggLmoments: Q = (s, d) => {
    val xs = graft.functions.PrefixScan.withRankCumSum(
      orders(s, d).select(col("o_orderkey").as("ok"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))").as("x")),
      Seq(col("x"), col("ok")), None, rankName = "i").df
    val pwm = xs.agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
      sum("x").as("b0n"),
      sum(expr("x * (i - 1)")).as("b1n"),
      sum(expr("x * (i - 1) * (i - 2)")).as("b2n"),
      sum(expr("x * (i - 1) * (i - 2) * (i - 3)")).as("b3n"))
    val bs = pwm.select(col("n").cast(LongType).as("n_orders"),
      (col("b0n").cast(DoubleType) / col("n").cast(DoubleType)).as("b0"),
      (col("b1n").cast(DoubleType) /
        (col("n") * (col("n") - 1)).cast(DoubleType)).as("b1"),
      (col("b2n").cast(DoubleType) /
        (col("n") * (col("n") - 1) * (col("n") - 2)).cast(DoubleType)).as("b2"),
      (col("b3n").cast(DoubleType) /
        (col("n") * (col("n") - 1) * (col("n") - 2) * (col("n") - 3)).cast(DoubleType))
        .as("b3"))
    bs.select(col("n_orders"),
        round(col("b0") / 100, 2).as("l1_mean_usd"),
        round((lit(2) * col("b1") - col("b0")) /
          col("b0"), 6).as("l_cv"),
        round((lit(6) * col("b2") - lit(6) * col("b1") + col("b0")) /
          (lit(2) * col("b1") - col("b0")), 6).as("l_skew"),
        round((lit(20) * col("b3") - lit(30) * col("b2") + lit(12) * col("b1") - col("b0")) /
          (lit(2) * col("b1") - col("b0")), 6).as("l_kurtosis"))
  }

  val aggLmomentsSql: String =
    """WITH xs AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT) AS x,
      |         CAST(row_number() OVER (
      |           ORDER BY CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT),
      |                    o_orderkey) AS HUGEINT) AS i
      |  FROM orders),
      |pwm AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |         CAST(sum(x) AS HUGEINT) AS b0n,
      |         CAST(sum(x * (i - 1)) AS HUGEINT) AS b1n,
      |         CAST(sum(x * (i - 1) * (i - 2)) AS HUGEINT) AS b2n,
      |         CAST(sum(x * (i - 1) * (i - 2) * (i - 3)) AS HUGEINT) AS b3n
      |  FROM xs),
      |bs AS (
      |  SELECT CAST(n AS BIGINT) AS n_orders,
      |         CAST(b0n AS DOUBLE) / CAST(n AS DOUBLE) AS b0,
      |         CAST(b1n AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE) AS b1,
      |         CAST(b2n AS DOUBLE) / CAST(n * (n - 1) * (n - 2) AS DOUBLE) AS b2,
      |         CAST(b3n AS DOUBLE) / CAST(n * (n - 1) * (n - 2) * (n - 3) AS DOUBLE) AS b3
      |  FROM pwm)
      |SELECT n_orders,
      |       round(b0 / 100, 2) AS l1_mean_usd,
      |       round((2 * b1 - b0) / b0, 6) AS l_cv,
      |       round((6 * b2 - 6 * b1 + b0) / (2 * b1 - b0), 6) AS l_skew,
      |       round((20 * b3 - 30 * b2 + 12 * b1 - b0) / (2 * b1 - b0), 6) AS l_kurtosis
      |FROM bs""".stripMargin

  /** sample-raking-ipf — two sweeps of iterative proportional fitting
    * on the priority × year cell counts, raked to REVENUE margins:
    * cell weights start at the raw counts, the row sweep scales each
    * row to its priority's revenue share, the column sweep re-scales
    * to year revenue shares — after which the row margins are
    * slightly off again, and the reported row-margin error IS the
    * measured one-more-iteration residual (IPF's convergence,
    * exhibited not asserted). This is the two-way generalization of
    * sample-post-stratify, the standard survey-calibration move when
    * the joint target table is unknown but both margins are. Weights
    * are micro-floored integers after each sweep (cross-engine
    * exact); margins and targets are exact integer ratios. */
  val sampleRakingIpf: Q = (s, d) => {
    val base = orders(s, d)
      .groupBy(col("o_orderpriority").as("prio"), year(col("o_orderdate")).as("yr"))
      .agg(count(lit(1)).as("n_cell"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
        .as("rev"))
      .sharedCache()
    val tot = base.agg(sum("n_cell").cast(DecimalType(38, 0)).as("nt"),
      sum("rev").as("rt"))
    val rowT = base.groupBy("prio").agg(sum("rev").as("rev_p"))
    val colT = base.groupBy("yr").agg(sum("rev").as("rev_y"))
    // sweep 1 (rows): w1 = n_cell · (target_row/actual_row) where both
    // are shares of the same totals ⇒ w1 = n_cell·rev_p·nt/(rt·n_p)
    val rowN = base.groupBy("prio").agg(sum("n_cell").cast(DecimalType(38, 0)).as("n_p"))
    val w1 = base.join(broadcast(rowT), Seq("prio")).join(broadcast(rowN), Seq("prio"))
      .crossJoin(broadcast(tot))
      .select(col("prio"), col("yr"), col("n_cell"), col("nt"), col("rt"),
        floor(col("n_cell").cast(DoubleType) * col("rev_p").cast(DoubleType) *
          col("nt").cast(DoubleType) /
          (col("rt").cast(DoubleType) * col("n_p").cast(DoubleType)) * lit(1e6))
          .cast(LongType).as("w1q"))
    // sweep 2 (columns): rescale each year to its revenue-share target
    val colW1 = w1.groupBy("yr").agg(sum("w1q").as("w1y"))
    val w2 = w1.join(broadcast(colW1), Seq("yr")).join(broadcast(colT), Seq("yr"))
      .select(col("prio"), col("yr"), col("n_cell"),
        floor(col("w1q").cast(DoubleType) *
          (col("rev_y").cast(DoubleType) * col("nt").cast(DoubleType) /
            col("rt").cast(DoubleType)) /
          (col("w1y").cast(DoubleType) / lit(1e6)) ).cast(LongType).as("w2q"))
      .sharedCache()
    // report: final weight + the row-margin residual after the column sweep
    val rowW2 = w2.groupBy("prio").agg(sum("w2q").as("w2p"))
    val target = rowT.join(broadcast(rowN), Seq("prio")).crossJoin(broadcast(tot))
      .select(col("prio"),
        (col("rev_p").cast(DoubleType) * col("nt").cast(DoubleType) /
          col("rt").cast(DoubleType)).as("target_p"))
    w2.join(broadcast(rowW2), Seq("prio")).join(broadcast(target), Seq("prio"))
      .select(col("prio"), col("yr"), col("n_cell"),
        round(col("w2q").cast(DoubleType) / lit(1e6), 3).as("raked_weight"),
        round((col("w2p").cast(DoubleType) / lit(1e6) - col("target_p")) /
          col("target_p"), 6).as("row_margin_rel_error"))
      .orderBy("prio", "yr")
  }

  val sampleRakingIpfSql: String =
    """WITH base AS MATERIALIZED (
      |  SELECT o_orderpriority AS prio, year(o_orderdate) AS yr,
      |         CAST(count(*) AS BIGINT) AS n_cell,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS rev
      |  FROM orders GROUP BY 1, 2),
      |tot AS (SELECT CAST(sum(n_cell) AS HUGEINT) AS nt, CAST(sum(rev) AS HUGEINT) AS rt
      |        FROM base),
      |row_t AS (SELECT prio, CAST(sum(rev) AS HUGEINT) AS rev_p,
      |                 CAST(sum(n_cell) AS HUGEINT) AS n_p
      |          FROM base GROUP BY 1),
      |col_t AS (SELECT yr, CAST(sum(rev) AS HUGEINT) AS rev_y FROM base GROUP BY 1),
      |w1 AS (
      |  SELECT prio, yr, n_cell, nt, rt,
      |         CAST(floor(CAST(n_cell AS DOUBLE) * CAST(rev_p AS DOUBLE) *
      |                    CAST(nt AS DOUBLE) /
      |                    (CAST(rt AS DOUBLE) * CAST(n_p AS DOUBLE)) * 1e6) AS BIGINT)
      |           AS w1q
      |  FROM base JOIN row_t USING (prio) CROSS JOIN tot),
      |col_w1 AS (SELECT yr, CAST(sum(w1q) AS HUGEINT) AS w1y FROM w1 GROUP BY 1),
      |w2 AS MATERIALIZED (
      |  SELECT prio, yr, n_cell,
      |         CAST(floor(CAST(w1q AS DOUBLE) *
      |                    (CAST(rev_y AS DOUBLE) * CAST(nt AS DOUBLE) /
      |                     CAST(rt AS DOUBLE)) /
      |                    (CAST(w1y AS DOUBLE) / 1e6)) AS BIGINT) AS w2q
      |  FROM w1 JOIN col_w1 USING (yr) JOIN col_t USING (yr)),
      |row_w2 AS (SELECT prio, CAST(sum(w2q) AS HUGEINT) AS w2p FROM w2 GROUP BY 1),
      |target AS (
      |  SELECT prio, CAST(rev_p AS DOUBLE) * CAST(nt AS DOUBLE) / CAST(rt AS DOUBLE)
      |           AS target_p
      |  FROM row_t CROSS JOIN tot)
      |SELECT prio, yr, n_cell,
      |       round(CAST(w2q AS DOUBLE) / 1e6, 3) AS raked_weight,
      |       round((CAST(w2p AS DOUBLE) / 1e6 - target_p) / target_p, 6)
      |         AS row_margin_rel_error
      |FROM w2 JOIN row_w2 USING (prio) JOIN target USING (prio)
      |ORDER BY prio, yr""".stripMargin

  /** agg-coupon-collector — brand-coverage audit against the coupon-
    * collector expectation: per basket size k, the observed mean
    * number of DISTINCT brands vs the uniform-draw prediction
    * 25·(1−(24/25)^k). A gap above the curve means brand assignment
    * repels duplicates (or the assortment is engineered); below
    * means brand clumping — the generative-model sanity check behind
    * every basket op (agg-basket-affinity, agg-apriori-triples),
    * MEASURING the independence those ops' lift baselines assume.
    * Observed means are exact integer ratios; the expectation is a
    * closed-form double; one lineitem⋈part aggregate and a per-order
    * rollup. */
  val aggCouponCollector: Q = (s, d) => {
    val per = lineitem(s, d)
      .join(part(s, d).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("k"), count_distinct(col("p_brand")).as("db"))
    per.groupBy("k")
      .agg(count(lit(1)).as("n_orders"), sum("db").as("sdb"))
      .filter(col("n_orders") >= 30)
      .select(col("k").as("basket_size"), col("n_orders"),
        ratioFloor(col("sdb").cast(DoubleType), col("n_orders"), 4)
          .as("observed_mean_distinct"),
        round(lit(25.0) * (lit(1.0) - pow(lit(24.0 / 25.0), col("k"))), 4)
          .as("expected_uniform"))
      .withColumn("gap", round(col("observed_mean_distinct") -
        col("expected_uniform"), 4))
      .orderBy("basket_size")
  }

  val aggCouponCollectorSql: String =
    """WITH per AS (
      |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS k,
      |         CAST(count(DISTINCT p_brand) AS BIGINT) AS db
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1),
      |g AS (
      |  SELECT k AS basket_size, CAST(count(*) AS BIGINT) AS n_orders,
      |         CAST(sum(db) AS BIGINT) AS sdb
      |  FROM per GROUP BY 1 HAVING count(*) >= 30)
      |SELECT basket_size, n_orders,
      |       floor(CAST(sdb AS DOUBLE) * 1e4 / n_orders) / 1e4
      |         AS observed_mean_distinct,
      |       round(25.0 * (1.0 - pow(24.0 / 25.0, basket_size)), 4)
      |         AS expected_uniform,
      |       round(floor(CAST(sdb AS DOUBLE) * 1e4 / n_orders) / 1e4 -
      |             round(25.0 * (1.0 - pow(24.0 / 25.0, basket_size)), 4), 4) AS gap
      |FROM g ORDER BY basket_size""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("dq-cramer-von-mises", dqCramerVonMises, dqCramerVonMisesSql),
    Key("agg-lmoments", aggLmoments, aggLmomentsSql),
    Key("sample-raking-ipf", sampleRakingIpf, sampleRakingIpfSql),
    Key("agg-coupon-collector", aggCouponCollector, aggCouponCollectorSql))
}
