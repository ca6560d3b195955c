package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._
import graft.functions.Midranks

/** Round-8 batch J: joint location-scale and multivariate two-sample
  * tests (Cucconi, Hotelling T²) and the variance-homogeneity pair
  * every ANOVA should run first (Brown-Forsythe Levene, Bartlett). */
object RelMore174 extends KeyModule {

  /** agg-cucconi — the Cucconi joint location-SCALE rank test between
    * returned ('R') and accepted ('A') line prices: U standardizes the
    * squared ranks of sample 2, V the squared CONTRARY ranks, and
    * C = (U² + V² − 2ρUV)/(2(1−ρ²)) rejects when either location or
    * dispersion shifted — the one-statistic alternative to running
    * Wilcoxon AND Ansari-Bradley (and it predates, and typically
    * beats, the better-known Lepage combination). Squared-rank sums
    * are exact via doubled midranks (4ΣR² = Σc₂·mr2², DECIMAL(38));
    * asymptotic p = e^(−C), reject at C ≥ 3 (p ≈ 0.0498). */
  val aggCucconi: Q = (s, d) => {
    val src = lineitem(s, d)
      .filter(col("l_returnflag").isin("A", "R"))
      .select(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("v"),
        col("l_returnflag").as("rf"))
    val mr = Midranks.doubled(src, "v",
      Seq(("c1", col("rf") === "A"), ("c2", col("rf") === "R"))).sharedCache()
    val a = mr.agg(
      sum("c1").as("n1"), sum("c2").as("n2"),
      // 4·ΣR² and 4·Σ(N+1−R)² over sample 2, exact
      sum(col("c2").cast(DecimalType(38, 0)) * col("mr2") * col("mr2")).as("sr2x4"))
    val a2 = mr.crossJoin(broadcast(
        mr.agg((sum("c1") + sum("c2")).as("nn"))))
      .agg(max("nn").as("nn"),
        sum(col("c2").cast(DecimalType(38, 0)) *
          (lit(2) * (col("nn") + 1) - col("mr2")) *
          (lit(2) * (col("nn") + 1) - col("mr2"))).as("sc2x4"))
    a.crossJoin(broadcast(a2))
      .select(col("n1").cast(DoubleType).as("dn1"), col("n2").cast(DoubleType).as("dn2"),
        col("nn").cast(DoubleType).as("dn"),
        (col("sr2x4").cast(DoubleType) / 4).as("sr2"),
        (col("sc2x4").cast(DoubleType) / 4).as("sc2"),
        col("n1").cast(LongType).as("n_a"), col("n2").cast(LongType).as("n_r"))
      .withColumn("den", sqrt(col("dn1") * col("dn2") * (col("dn") + 1) *
        (col("dn") * 2 + 1) * (col("dn") * 8 + 11) / 5))
      .withColumn("uu", (lit(6.0) * col("sr2") -
        col("dn2") * (col("dn") + 1) * (col("dn") * 2 + 1)) / col("den"))
      .withColumn("vv", (lit(6.0) * col("sc2") -
        col("dn2") * (col("dn") + 1) * (col("dn") * 2 + 1)) / col("den"))
      .withColumn("rho", lit(2.0) * (col("dn") * col("dn") - 4) /
        ((col("dn") * 2 + 3) * (col("dn") * 8 + 11)) - 1)
      .withColumn("cstat", (col("uu") * col("uu") + col("vv") * col("vv") -
        lit(2.0) * col("rho") * col("uu") * col("vv")) /
        (lit(2.0) * (lit(1.0) - col("rho") * col("rho"))))
      .select(col("n_a"), col("n_r"),
        round(col("uu"), 4).as("u_stat"), round(col("vv"), 4).as("v_stat"),
        round(col("cstat"), 4).as("cucconi_c"),
        round(exp(-col("cstat")), 6).as("p_asymptotic"),
        (col("cstat") >= 3.0).as("location_or_scale_shift"))
  }

  val aggCucconiSql: String =
    """WITH src AS (
      |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
      |         l_returnflag AS rf
      |  FROM lineitem WHERE l_returnflag IN ('A', 'R')),
      |hist AS (
      |  SELECT v, CAST(count(*) AS BIGINT) AS cnt,
      |         CAST(sum(CASE WHEN rf = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |         CAST(sum(CASE WHEN rf = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c2
      |  FROM src GROUP BY v),
      |mr AS (
      |  SELECT c1, c2, 2 * sum(cnt) OVER (ORDER BY v) - cnt + 1 AS mr2
      |  FROM hist),
      |t AS (
      |  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
      |         CAST(sum(c1) + sum(c2) AS BIGINT) AS nn,
      |         CAST(sum(CAST(c2 AS HUGEINT) * mr2 * mr2) AS HUGEINT) AS sr2x4
      |  FROM mr),
      |t2 AS (
      |  SELECT CAST(sum(CAST(c2 AS HUGEINT) *
      |               (2 * (nn + 1) - mr2) * (2 * (nn + 1) - mr2)) AS HUGEINT) AS sc2x4
      |  FROM mr CROSS JOIN t),
      |f AS (
      |  SELECT n1 AS n_a, n2 AS n_r,
      |         CAST(n1 AS DOUBLE) AS dn1, CAST(n2 AS DOUBLE) AS dn2,
      |         CAST(nn AS DOUBLE) AS dn,
      |         CAST(sr2x4 AS DOUBLE) / 4 AS sr2, CAST(sc2x4 AS DOUBLE) / 4 AS sc2
      |  FROM t CROSS JOIN t2),
      |g AS (
      |  SELECT n_a, n_r, dn2, dn,
      |         (6.0 * sr2 - dn2 * (dn + 1) * (dn * 2 + 1)) /
      |           sqrt(dn1 * dn2 * (dn + 1) * (dn * 2 + 1) * (dn * 8 + 11) / 5) AS uu,
      |         (6.0 * sc2 - dn2 * (dn + 1) * (dn * 2 + 1)) /
      |           sqrt(dn1 * dn2 * (dn + 1) * (dn * 2 + 1) * (dn * 8 + 11) / 5) AS vv,
      |         2.0 * (dn * dn - 4) / ((dn * 2 + 3) * (dn * 8 + 11)) - 1 AS rho
      |  FROM f),
      |h AS (
      |  SELECT n_a, n_r, uu, vv,
      |         (uu * uu + vv * vv - 2.0 * rho * uu * vv) /
      |         (2.0 * (1.0 - rho * rho)) AS cstat
      |  FROM g)
      |SELECT n_a, n_r, round(uu, 4) AS u_stat, round(vv, 4) AS v_stat,
      |       round(cstat, 4) AS cucconi_c,
      |       round(exp(-cstat), 6) AS p_asymptotic,
      |       cstat >= 3.0 AS location_or_scale_shift
      |FROM h""".stripMargin

  /** agg-hotelling-t2 — the two-sample Hotelling T² on the BIVARIATE
    * (quantity, price) mean between returned and accepted lines: the
    * multivariate t-test whose point is the CORRELATION-adjusted
    * distance — two univariate t-tests can both be null while the
    * joint mean shifted along the minor axis of the covariance
    * ellipse (or vice versa). Pooled 2×2 covariance from exact
    * DECIMAL(38) moment sums, closed-form inverse, F conversion
    * F = T²·(N−3)/(2(N−2)) vs the 3.00 large-sample 5% critical. */
  val aggHotellingT2: Q = (s, d) => {
    val src = lineitem(s, d)
      .filter(col("l_returnflag").isin("A", "R"))
      .select((col("l_returnflag") === "R").as("grp"),
        expr("CAST(l_quantity AS BIGINT)").as("x"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) div 100").as("y"))
    def side(pred: org.apache.spark.sql.Column, t: String) = Seq(
      sum(when(pred, 1L).otherwise(0L)).as(s"n$t"),
      sum(when(pred, col("x")).otherwise(0L)).as(s"sx$t"),
      sum(when(pred, col("y")).otherwise(0L)).as(s"sy$t"),
      sum(when(pred, col("x").cast(DecimalType(38, 0)) * col("x")).otherwise(lit(0).cast(DecimalType(38, 0)))).as(s"sxx$t"),
      sum(when(pred, col("y").cast(DecimalType(38, 0)) * col("y")).otherwise(lit(0).cast(DecimalType(38, 0)))).as(s"syy$t"),
      sum(when(pred, col("x").cast(DecimalType(38, 0)) * col("y")).otherwise(lit(0).cast(DecimalType(38, 0)))).as(s"sxy$t"))
    val cols = side(col("grp"), "1") ++ side(!col("grp"), "2")
    val a = src.agg(cols.head, cols.tail: _*)
    def dbl(c: String) = col(c).cast(DoubleType)
    val (n1, n2) = (dbl("n1"), dbl("n2"))
    val nn = n1 + n2
    // group means and pooled central second moments
    val dx = dbl("sx1") / n1 - dbl("sx2") / n2
    val dy = dbl("sy1") / n1 - dbl("sy2") / n2
    val cxx = (dbl("sxx1") - dbl("sx1") * dbl("sx1") / n1 +
      dbl("sxx2") - dbl("sx2") * dbl("sx2") / n2) / (nn - 2)
    val cyy = (dbl("syy1") - dbl("sy1") * dbl("sy1") / n1 +
      dbl("syy2") - dbl("sy2") * dbl("sy2") / n2) / (nn - 2)
    val cxy = (dbl("sxy1") - dbl("sx1") * dbl("sy1") / n1 +
      dbl("sxy2") - dbl("sx2") * dbl("sy2") / n2) / (nn - 2)
    val det = cxx * cyy - cxy * cxy
    val t2 = (n1 * n2 / nn) *
      (dx * (cyy * dx - cxy * dy) + dy * (cxx * dy - cxy * dx)) / det
    val f = t2 * (nn - 3) / (lit(2.0) * (nn - 2))
    a.select(col("n1").cast(LongType).as("n_returned"),
      col("n2").cast(LongType).as("n_accepted"),
      round(dx, 4).as("mean_diff_qty"), round(dy, 2).as("mean_diff_dollars"),
      round(t2, 4).as("t2_stat"), round(f, 4).as("f_stat"),
      (f >= 3.0).as("joint_mean_shift"))
  }

  val aggHotellingT2Sql: String = {
    def side(pred: String, t: String) =
      s"""CAST(sum(CASE WHEN $pred THEN 1 ELSE 0 END) AS BIGINT) AS n$t,
         |         CAST(sum(CASE WHEN $pred THEN x ELSE 0 END) AS BIGINT) AS sx$t,
         |         CAST(sum(CASE WHEN $pred THEN y ELSE 0 END) AS BIGINT) AS sy$t,
         |         CAST(sum(CASE WHEN $pred THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS HUGEINT) AS sxx$t,
         |         CAST(sum(CASE WHEN $pred THEN CAST(y AS HUGEINT) * y ELSE 0 END) AS HUGEINT) AS syy$t,
         |         CAST(sum(CASE WHEN $pred THEN CAST(x AS HUGEINT) * y ELSE 0 END) AS HUGEINT) AS sxy$t""".stripMargin
    s"""WITH src AS (
       |  SELECT l_returnflag = 'R' AS grp,
       |         CAST(l_quantity AS BIGINT) AS x,
       |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100 AS y
       |  FROM lineitem WHERE l_returnflag IN ('A', 'R')),
       |a AS (
       |  SELECT ${side("grp", "1")},
       |         ${side("NOT grp", "2")}
       |  FROM src),
       |f AS (
       |  SELECT n1, n2,
       |         CAST(n1 AS DOUBLE) AS dn1, CAST(n2 AS DOUBLE) AS dn2,
       |         CAST(n1 + n2 AS DOUBLE) AS dn,
       |         CAST(sx1 AS DOUBLE) / n1 - CAST(sx2 AS DOUBLE) / n2 AS dx,
       |         CAST(sy1 AS DOUBLE) / n1 - CAST(sy2 AS DOUBLE) / n2 AS dy,
       |         (CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx1 / n1 +
       |          CAST(sxx2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * sx2 / n2) / (n1 + n2 - 2) AS cxx,
       |         (CAST(syy1 AS DOUBLE) - CAST(sy1 AS DOUBLE) * sy1 / n1 +
       |          CAST(syy2 AS DOUBLE) - CAST(sy2 AS DOUBLE) * sy2 / n2) / (n1 + n2 - 2) AS cyy,
       |         (CAST(sxy1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sy1 / n1 +
       |          CAST(sxy2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * sy2 / n2) / (n1 + n2 - 2) AS cxy
       |  FROM a),
       |g AS (
       |  SELECT n1, n2, dx, dy,
       |         (dn1 * dn2 / dn) *
       |         (dx * (cyy * dx - cxy * dy) + dy * (cxx * dy - cxy * dx)) /
       |         (cxx * cyy - cxy * cxy) AS t2, dn
       |  FROM f)
       |SELECT n1 AS n_returned, n2 AS n_accepted,
       |       round(dx, 4) AS mean_diff_qty, round(dy, 2) AS mean_diff_dollars,
       |       round(t2, 4) AS t2_stat,
       |       round(t2 * (dn - 3) / (2.0 * (dn - 2)), 4) AS f_stat,
       |       t2 * (dn - 3) / (2.0 * (dn - 2)) >= 3.0 AS joint_mean_shift
       |FROM g""".stripMargin
  }

  /** agg-levene-test — Brown-Forsythe Levene: one-way ANOVA F on the
    * absolute deviations from each GROUP MEDIAN (the median anchoring
    * is what makes it robust — classic Levene-on-means inherits the
    * outliers it is testing for). Homogeneity of variance is the
    * assumption agg-welch-ttest exists to avoid and every pooled-SE
    * test silently makes; this is the gate that says which to use.
    * Group medians are exact per-class histogram order statistics
    * (one Midranks pass); |x − med| is an exact integer, so both
    * ANOVA sums are exact until the terminal F. */
  val aggLeveneTest: Q = (s, d) => {
    val flags = Seq("A", "N", "R")
    // r14 opt: repartition after the single-row-group read (guide §2.5)
    // so the Midranks pass and both deviation passes run parallel
    // instead of inside the one scan task; conf-derived, scale-adaptive
    val src = lineitem(s, d)
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
      .select(
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("v"),
        col("l_returnflag").as("g")).sharedCache()
    val mr = Midranks.doubled(src, "v",
      flags.map(f => (s"c$f", col("g") === f))).sharedCache()
    val tots = mr.agg(
      sum("cA").as("totA"), sum("cN").as("totN"), sum("cR").as("totR"))
    val meds = mr.crossJoin(broadcast(tots))
      .agg(flags.map { f =>
        min(when(expr(s"(c${f}_mr2 + c$f - 1) div 2") >=
          expr(s"(tot$f + 1) div 2"), col("v"))).as(s"med$f")
      }.head, flags.map { f =>
        min(when(expr(s"(c${f}_mr2 + c$f - 1) div 2") >=
          expr(s"(tot$f + 1) div 2"), col("v"))).as(s"med$f")
      }.tail: _*)
    val z = src.crossJoin(broadcast(meds))
      .select(col("g"),
        abs(col("v") - when(col("g") === "A", col("medA"))
          .when(col("g") === "N", col("medN")).otherwise(col("medR"))).as("z"))
    val perG = z.groupBy("g")
      .agg(count(lit(1)).as("ng"), sum("z").as("sz"),
        sum(col("z").cast(DecimalType(38, 0)) * col("z")).as("szz"))
    val f = perG.agg(
        sum("ng").as("n"), count(lit(1)).as("k"),
        sum("sz").as("szt"),
        sum(col("szz").cast(DoubleType) -
          col("sz").cast(DoubleType) * col("sz") / col("ng")).as("ssw"),
        sum(col("sz").cast(DoubleType) * col("sz") / col("ng")).as("ssgm"))
      .withColumn("ssb", col("ssgm") -
        col("szt").cast(DoubleType) * col("szt") / col("n"))
      .withColumn("fstat", (col("ssb") / (col("k") - 1)) /
        (col("ssw") / (col("n") - col("k"))))
    f.select(col("n").cast(LongType).as("n_total"),
      col("k").cast(IntegerType).as("k_groups"),
      round(col("fstat"), 4).as("levene_f"),
      (col("fstat") >= 3.0).as("variances_differ"))
  }

  val aggLeveneTestSql: String =
    """WITH src AS (
      |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
      |         l_returnflag AS g
      |  FROM lineitem),
      |meds AS (
      |  SELECT g, CAST(quantile_disc(v, 0.5) AS BIGINT) AS med
      |  FROM src GROUP BY g),
      |z AS (
      |  SELECT src.g, abs(v - med) AS z
      |  FROM src JOIN meds ON src.g = meds.g),
      |perg AS (
      |  SELECT g, CAST(count(*) AS BIGINT) AS ng, CAST(sum(z) AS BIGINT) AS sz,
      |         CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS szz
      |  FROM z GROUP BY g),
      |f AS (
      |  SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
      |         CAST(sum(sz) AS BIGINT) AS szt,
      |         sum(CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * sz / ng) AS ssw,
      |         sum(CAST(sz AS DOUBLE) * sz / ng) AS ssgm
      |  FROM perg),
      |g AS (
      |  SELECT n, k,
      |         ((ssgm - CAST(szt AS DOUBLE) * szt / n) / (k - 1)) /
      |         (ssw / (n - k)) AS fstat
      |  FROM f)
      |SELECT n AS n_total, CAST(k AS INT) AS k_groups,
      |       round(fstat, 4) AS levene_f, fstat >= 3.0 AS variances_differ
      |FROM g""".stripMargin

  /** agg-bartlett-test — Bartlett's χ² for variance homogeneity
    * across the three return flags: the HIGH-POWER companion to
    * Levene (Bartlett is exact under normality but fragile to heavy
    * tails; running both and comparing verdicts is the standard
    * practice this pair of ops enables). Per-group sample variances
    * from exact moment sums; the correction factor C and the χ²(2)
    * statistic are terminal doubles; 5% critical 5.991. */
  val aggBartlettTest: Q = (s, d) => {
    val src = lineitem(s, d).select(
      expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) div 100").as("v"),
      col("l_returnflag").as("g"))
    val perG = src.groupBy("g")
      .agg(count(lit(1)).as("ng"), sum("v").as("sv"),
        sum(col("v").cast(DecimalType(38, 0)) * col("v")).as("svv"))
      .withColumn("s2", (col("svv").cast(DoubleType) -
        col("sv").cast(DoubleType) * col("sv") / col("ng")) / (col("ng") - 1))
    val a = perG.agg(
        sum("ng").as("n"), count(lit(1)).as("k"),
        sum((col("ng") - 1) * col("s2")).as("pooledNum"),
        sum((col("ng") - 1).cast(DoubleType) * log(col("s2"))).as("sumLog"),
        sum(lit(1.0) / (col("ng") - 1)).as("sumInv"))
      .withColumn("sp2", col("pooledNum") / (col("n") - col("k")))
      .withColumn("bnum", (col("n") - col("k")).cast(DoubleType) * log(col("sp2")) -
        col("sumLog"))
      .withColumn("cfac", lit(1.0) + (col("sumInv") -
        lit(1.0) / (col("n") - col("k"))) / (lit(3.0) * (col("k") - 1)))
      .withColumn("chi2", col("bnum") / col("cfac"))
    a.select(col("n").cast(LongType).as("n_total"),
      col("k").cast(IntegerType).as("k_groups"),
      round(col("sp2"), 2).as("pooled_variance"),
      round(col("chi2"), 4).as("bartlett_chi2"),
      (col("chi2") >= 5.991).as("variances_differ"))
  }

  val aggBartlettTestSql: String =
    """WITH src AS (
      |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100 AS v,
      |         l_returnflag AS g
      |  FROM lineitem),
      |perg AS (
      |  SELECT g, CAST(count(*) AS BIGINT) AS ng,
      |         (CAST(sum(CAST(v AS HUGEINT) * v) AS DOUBLE) -
      |          CAST(sum(v) AS DOUBLE) * sum(v) / count(*)) / (count(*) - 1) AS s2
      |  FROM src GROUP BY g),
      |a AS (
      |  SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
      |         sum((ng - 1) * s2) AS pooled_num,
      |         sum(CAST(ng - 1 AS DOUBLE) * ln(s2)) AS sum_log,
      |         sum(1.0 / (ng - 1)) AS sum_inv
      |  FROM perg),
      |b AS (
      |  SELECT n, k, pooled_num / (n - k) AS sp2,
      |         (CAST(n - k AS DOUBLE) * ln(pooled_num / (n - k)) - sum_log) /
      |         (1.0 + (sum_inv - 1.0 / (n - k)) / (3.0 * (k - 1))) AS chi2
      |  FROM a)
      |SELECT n AS n_total, CAST(k AS INT) AS k_groups,
      |       round(sp2, 2) AS pooled_variance,
      |       round(chi2, 4) AS bartlett_chi2,
      |       chi2 >= 5.991 AS variances_differ
      |FROM b""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-cucconi", aggCucconi, aggCucconiSql),
    Key("agg-hotelling-t2", aggHotellingT2, aggHotellingT2Sql),
    Key("agg-levene-test", aggLeveneTest, aggLeveneTestSql),
    Key("agg-bartlett-test", aggBartlettTest, aggBartlettTestSql))
}
