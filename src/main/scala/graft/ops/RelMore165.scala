package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._
import graft.functions.Midranks

/** Round-8 batch A: rank-test family completion on the shared
  * value-domain midrank machinery — Brunner-Munzel (the t-test of
  * rank tests), Jonckheere-Terpstra ordered-alternative trend,
  * Kuiper two-sample drift (tail-sensitive KS variant), and Mood's
  * median test. All four collapse the fact table to a per-distinct-
  * value histogram first (graft.functions.Midranks — map-side
  * combinable, output bounded by the value domain) and never rank a
  * row. */
object RelMore165 extends KeyModule {

  /** agg-brunner-munzel — the Brunner-Munzel generalized Wilcoxon
    * test on lineitem quantity between return outcomes 'A' (accepted
    * return) and 'R' (returned): unlike Mann-Whitney it does NOT
    * assume equal variances/shapes under H0 (the Behrens-Fisher
    * situation for ranks), which is why modern guidance prefers it
    * whenever the two groups could differ in spread. Reports the
    * relative effect p̂ = P(X<Y) + ½P(X=Y), the studentized W
    * statistic and its Welch-Satterthwaite df. The rank-variance
    * terms Σ(R_i − R_i^(k) − R̄_k + (n_k+1)/2)² are computed EXACTLY
    * from the 50-value quantity histogram: doubled midranks from
    * [[Midranks.doubled]], each inner term scaled by 2n_k into an
    * integer, squared in DECIMAL(38,0) (≈8·10²¹ at sf0.1 — the same
    * exact-moment envelope the repo's OLS family documents; at
    * 10¹²-row scale this term wants a pre-centered two-pass instead),
    * and only the closed-form W/df/p̂ are doubles. */
  val aggBrunnerMunzel: Q = (s, d) => {
    val src = lineitem(s, d)
      .filter(col("l_returnflag").isin("A", "R"))
      .select(expr("CAST(l_quantity AS BIGINT)").as("v"), col("l_returnflag").as("rf"))
    val mr = Midranks.doubled(src, "v",
      Seq(("cx", col("rf") === "A"), ("cy", col("rf") === "R"))).sharedCache()
    val tot = mr.agg(
      sum("cx").as("n1"), sum("cy").as("n2"),
      sum(col("cx").cast(DecimalType(38, 0)) * col("mr2")).as("t1"),
      sum(col("cy").cast(DecimalType(38, 0)) * col("mr2")).as("t2"))
    val sq = mr.crossJoin(broadcast(tot))
      .select(col("cx"), col("cy"), col("n1"), col("n2"), col("t1"), col("t2"),
        (col("n1").cast(DecimalType(38, 0)) * (col("mr2") - col("cx_mr2")) -
          col("t1") + col("n1").cast(DecimalType(38, 0)) * (col("n1") + 1)).as("ix"),
        (col("n2").cast(DecimalType(38, 0)) * (col("mr2") - col("cy_mr2")) -
          col("t2") + col("n2").cast(DecimalType(38, 0)) * (col("n2") + 1)).as("iy"))
      .agg(max("n1").as("n1"), max("n2").as("n2"), max("t1").as("t1"), max("t2").as("t2"),
        sum(col("cx").cast(DecimalType(38, 0)) * col("ix") * col("ix")).as("s1q"),
        sum(col("cy").cast(DecimalType(38, 0)) * col("iy") * col("iy")).as("s2q"))
    sq.select(
        col("n1").cast(DoubleType).as("dn1"), col("n2").cast(DoubleType).as("dn2"),
        col("t1").cast(DoubleType).as("dt1"), col("t2").cast(DoubleType).as("dt2"),
        col("s1q").cast(DoubleType).as("ds1"), col("s2q").cast(DoubleType).as("ds2"),
        col("n1").cast(LongType).as("n_x"), col("n2").cast(LongType).as("n_y"))
      // S_k² = s_kq / (4 n_k² (n_k − 1)); R̄_k = t_k / (2 n_k)
      .withColumn("s1v", col("ds1") / (lit(4.0) * col("dn1") * col("dn1") * (col("dn1") - 1)))
      .withColumn("s2v", col("ds2") / (lit(4.0) * col("dn2") * col("dn2") * (col("dn2") - 1)))
      .withColumn("rb1", col("dt1") / (lit(2.0) * col("dn1")))
      .withColumn("rb2", col("dt2") / (lit(2.0) * col("dn2")))
      .withColumn("pool", col("dn1") * col("s1v") + col("dn2") * col("s2v"))
      .select(col("n_x"), col("n_y"),
        round((col("rb2") - (col("dn2") + 1) / 2) / col("dn1"), 6).as("p_hat"),
        round(col("dn1") * col("dn2") * (col("rb2") - col("rb1")) /
          ((col("dn1") + col("dn2")) * sqrt(col("pool"))), 4).as("bm_statistic"),
        round(col("pool") * col("pool") /
          (col("dn1") * col("s1v") * col("dn1") * col("s1v") / (col("dn1") - 1) +
            col("dn2") * col("s2v") * col("dn2") * col("s2v") / (col("dn2") - 1)), 2)
          .as("df_welch"),
        (abs(col("dn1") * col("dn2") * (col("rb2") - col("rb1")) /
          ((col("dn1") + col("dn2")) * sqrt(col("pool")))) >= 1.96).as("significant"))
  }

  val aggBrunnerMunzelSql: String =
    """WITH src AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS v, l_returnflag AS rf
      |  FROM lineitem WHERE l_returnflag IN ('A', 'R')),
      |hist AS (
      |  SELECT v, CAST(count(*) AS BIGINT) AS cnt,
      |         CAST(sum(CASE WHEN rf = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS cx,
      |         CAST(sum(CASE WHEN rf = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS cy
      |  FROM src GROUP BY v),
      |mr AS (
      |  SELECT v, cnt, cx, cy,
      |         2 * sum(cnt) OVER (ORDER BY v) - cnt + 1 AS mr2,
      |         2 * sum(cx) OVER (ORDER BY v) - cx + 1 AS cx_mr2,
      |         2 * sum(cy) OVER (ORDER BY v) - cy + 1 AS cy_mr2
      |  FROM hist),
      |tot AS (
      |  SELECT CAST(sum(cx) AS HUGEINT) AS n1, CAST(sum(cy) AS HUGEINT) AS n2,
      |         CAST(sum(CAST(cx AS HUGEINT) * mr2) AS HUGEINT) AS t1,
      |         CAST(sum(CAST(cy AS HUGEINT) * mr2) AS HUGEINT) AS t2
      |  FROM mr),
      |sq AS (
      |  SELECT max(n1) AS n1, max(n2) AS n2, max(t1) AS t1, max(t2) AS t2,
      |         CAST(sum(CAST(cx AS HUGEINT) *
      |               (n1 * (mr2 - cx_mr2) - t1 + n1 * (n1 + 1)) *
      |               (n1 * (mr2 - cx_mr2) - t1 + n1 * (n1 + 1))) AS HUGEINT) AS s1q,
      |         CAST(sum(CAST(cy AS HUGEINT) *
      |               (n2 * (mr2 - cy_mr2) - t2 + n2 * (n2 + 1)) *
      |               (n2 * (mr2 - cy_mr2) - t2 + n2 * (n2 + 1))) AS HUGEINT) AS s2q
      |  FROM mr CROSS JOIN tot),
      |f AS (
      |  SELECT CAST(n1 AS BIGINT) AS n_x, CAST(n2 AS BIGINT) AS n_y,
      |         CAST(n1 AS DOUBLE) AS dn1, CAST(n2 AS DOUBLE) AS dn2,
      |         CAST(t1 AS DOUBLE) AS dt1, CAST(t2 AS DOUBLE) AS dt2,
      |         CAST(s1q AS DOUBLE) / (4 * CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE) *
      |           (CAST(n1 AS DOUBLE) - 1)) AS s1v,
      |         CAST(s2q AS DOUBLE) / (4 * CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE) *
      |           (CAST(n2 AS DOUBLE) - 1)) AS s2v
      |  FROM sq)
      |SELECT n_x, n_y,
      |       round((dt2 / (2 * dn2) - (dn2 + 1) / 2) / dn1, 6) AS p_hat,
      |       round(dn1 * dn2 * (dt2 / (2 * dn2) - dt1 / (2 * dn1)) /
      |             ((dn1 + dn2) * sqrt(dn1 * s1v + dn2 * s2v)), 4) AS bm_statistic,
      |       round((dn1 * s1v + dn2 * s2v) * (dn1 * s1v + dn2 * s2v) /
      |             (dn1 * s1v * dn1 * s1v / (dn1 - 1) +
      |              dn2 * s2v * dn2 * s2v / (dn2 - 1)), 2) AS df_welch,
      |       abs(dn1 * dn2 * (dt2 / (2 * dn2) - dt1 / (2 * dn1)) /
      |           ((dn1 + dn2) * sqrt(dn1 * s1v + dn2 * s2v))) >= 1.96 AS significant
      |FROM f""".stripMargin

  /** agg-jonckheere-terpstra — the ordered-alternative trend test on
    * order value across the five priority classes (1-URGENT … 5-LOW,
    * a PRIORI ordered): JT = Σ_{g<h} U_gh, the sum of pairwise
    * Mann-Whitney counts in the declared direction. Against
    * Kruskal-Wallis (any difference) this targets the monotone
    * alternative "value shifts with priority" and has far more power
    * for it — the standard pick for dose-response style questions.
    * The doubled pair count has the closed histogram form
    * 2·U_gh = Σ_v cnt_h(v)·(g_mr2(v) − 1) (g_mr2 = doubled
    * within-class-g midrank), so ALL ten pair statistics come from
    * one Midranks pass over the price histogram — no cross join of
    * samples anywhere. z uses the no-tie null variance
    * [N²(2N+3) − Σn_g²(2n_g+3)]/72 (price cents are near-unique;
    * stated). */
  val aggJonckheereTerpstra: Q = (s, d) => {
    val src = orders(s, d).select(
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("v"),
      substring(col("o_orderpriority"), 1, 1).cast(IntegerType).as("g"))
    val classes = (1 to 5).map(i => (s"c$i", col("g") === i))
    val mr = Midranks.doubled(src, "v", classes)
    // 2·U_gh summed over ordered pairs g<h: Σ_v Σ_h cnt_h·Σ_{g<h}(g_mr2 − 1)
    val jt2term = (2 to 5).map { h =>
      val lower = (1 until h).map(g => col(s"c${g}_mr2") - 1)
        .reduce[org.apache.spark.sql.Column](_ + _)
      col(s"c$h").cast(DecimalType(38, 0)) * lower
    }.reduce(_ + _)
    val aggCols = Seq(sum("cnt").as("n")) ++
      (1 to 5).map(i => sum(col(s"c$i")).as(s"n$i"))
    val agg = mr.agg(sum(jt2term).as("jt2"), aggCols: _*)
    val selCols = Seq(
      col("n").cast(LongType).as("n_total"),
      col("jt2").cast(DoubleType).as("djt2"),
      col("n").cast(DoubleType).as("dn")) ++
      (1 to 5).map(i => col(s"n$i").cast(DoubleType).as(s"dn$i"))
    agg.select(selCols: _*)
      .withColumn("sum_n2",
        (1 to 5).map(i => col(s"dn$i") * col(s"dn$i")).reduce(_ + _))
      .withColumn("sum_var",
        (1 to 5).map(i => col(s"dn$i") * col(s"dn$i") * (col(s"dn$i") * 2 + 3))
          .reduce(_ + _))
      .withColumn("e_u", (col("dn") * col("dn") - col("sum_n2")) / 4)
      .withColumn("var_u",
        (col("dn") * col("dn") * (col("dn") * 2 + 3) - col("sum_var")) / 72)
      .select(col("n_total"),
        round(col("djt2") / 2, 1).as("jt_u"),
        round(col("e_u"), 1).as("e_u"),
        round((col("djt2") / 2 - col("e_u")) / sqrt(col("var_u")), 4).as("z_stat"),
        (abs((col("djt2") / 2 - col("e_u")) / sqrt(col("var_u"))) >= 1.96)
          .as("monotone_trend"))
  }

  val aggJonckheereTerpstraSql: String = {
    val classCols = (1 to 5).map(i =>
      s"CAST(sum(CASE WHEN g = $i THEN 1 ELSE 0 END) AS BIGINT) AS c$i").mkString(",\n      |         ")
    val mrCols = (1 to 5).map(i =>
      s"2 * sum(c$i) OVER (ORDER BY v) - c$i + 1 AS c${i}_mr2").mkString(",\n      |         ")
    val jtTerms = (2 to 5).map { h =>
      val lower = (1 until h).map(g => s"(c${g}_mr2 - 1)").mkString(" + ")
      s"CAST(c$h AS HUGEINT) * ($lower)"
    }.mkString(" + ")
    val nSums = (1 to 5).map(i => s"CAST(sum(c$i) AS DOUBLE) AS dn$i").mkString(",\n      |         ")
    val sumN2 = (1 to 5).map(i => s"dn$i * dn$i").mkString(" + ")
    val sumVar = (1 to 5).map(i => s"dn$i * dn$i * (2 * dn$i + 3)").mkString(" + ")
    s"""WITH src AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
      |         CAST(substring(o_orderpriority, 1, 1) AS INT) AS g
      |  FROM orders),
      |hist AS (
      |  SELECT v, CAST(count(*) AS BIGINT) AS cnt,
      |         $classCols
      |  FROM src GROUP BY v),
      |mr AS (
      |  SELECT v, cnt, c1, c2, c3, c4, c5,
      |         $mrCols
      |  FROM hist),
      |agg AS (
      |  SELECT CAST(sum($jtTerms) AS HUGEINT) AS jt2,
      |         CAST(sum(cnt) AS BIGINT) AS n,
      |         $nSums
      |  FROM mr),
      |f AS (
      |  SELECT n AS n_total, CAST(jt2 AS DOUBLE) AS djt2, CAST(n AS DOUBLE) AS dn,
      |         ($sumN2) AS sum_n2, ($sumVar) AS sum_var
      |  FROM agg)
      |SELECT n_total, round(djt2 / 2, 1) AS jt_u,
      |       round((dn * dn - sum_n2) / 4, 1) AS e_u,
      |       round((djt2 / 2 - (dn * dn - sum_n2) / 4) /
      |             sqrt((dn * dn * (2 * dn + 3) - sum_var) / 72), 4) AS z_stat,
      |       abs((djt2 / 2 - (dn * dn - sum_n2) / 4) /
      |           sqrt((dn * dn * (2 * dn + 3) - sum_var) / 72)) >= 1.96
      |         AS monotone_trend
      |FROM f""".stripMargin
  }

  /** dq-kuiper-drift — the Kuiper two-sample statistic V = D⁺ + D⁻
    * between the 1995 and 1996 order-value distributions: unlike the
    * plain KS D = max|ΔF| (dq-ks-drift), V weighs BOTH one-sided
    * excursions, giving equal sensitivity at the distribution tails
    * (and invariance under cyclic shifts — the reason it's the
    * standard for periodic/seasonal drift). CDF differences are kept
    * as exact integer cross-products cum_a·n_b − cum_b·n_a over the
    * value histogram (one division at the end), and each one-sided
    * max is clamped at 0 (the sup over the real line includes the
    * flat tails). Decision vs the asymptotic 5% critical value
    * 1.747·sqrt((n_a+n_b)/(n_a·n_b)). */
  val dqKuiperDrift: Q = (s, d) => {
    val src = orders(s, d)
      .filter(year(col("o_orderdate")).isin(1995, 1996))
      .select(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("v"),
        year(col("o_orderdate")).as("yr"))
    val mr = Midranks.doubled(src, "v",
      Seq(("ca", col("yr") === 1995), ("cb", col("yr") === 1996))).sharedCache()
    // cum_k(v) = (k_mr2 + k − 1) / 2, exact integers; the cross-product
    // differences need the two totals first, so one tiny totals agg
    val tot = mr.agg(sum("ca").as("na"), sum("cb").as("nb"))
    val diffs = mr.crossJoin(broadcast(tot))
      .select(col("na"), col("nb"),
        (expr("(ca_mr2 + ca - 1) div 2") * col("nb") -
          expr("(cb_mr2 + cb - 1) div 2") * col("na")).as("num"))
      .agg(max("na").as("na"), max("nb").as("nb"),
        greatest(max("num"), lit(0L)).as("dplus_num"),
        greatest(max(-col("num")), lit(0L)).as("dminus_num"))
    diffs.select(
        col("na").cast(LongType).as("n_a"), col("nb").cast(LongType).as("n_b"),
        (col("dplus_num").cast(DoubleType) /
          (col("na").cast(DoubleType) * col("nb").cast(DoubleType))).as("dp"),
        (col("dminus_num").cast(DoubleType) /
          (col("na").cast(DoubleType) * col("nb").cast(DoubleType))).as("dm"),
        (lit(1.747) * sqrt((col("na") + col("nb")).cast(DoubleType) /
          (col("na").cast(DoubleType) * col("nb").cast(DoubleType)))).as("vc"))
      .select(col("n_a"), col("n_b"),
        round(col("dp"), 6).as("d_plus"), round(col("dm"), 6).as("d_minus"),
        round(col("dp") + col("dm"), 6).as("kuiper_v"),
        round(col("vc"), 6).as("v_crit"),
        (col("dp") + col("dm") >= col("vc")).as("drift"))
  }

  val dqKuiperDriftSql: String =
    """WITH src AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
      |         year(o_orderdate) AS yr
      |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)),
      |hist AS (
      |  SELECT v,
      |         CAST(sum(CASE WHEN yr = 1995 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |         CAST(sum(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |  FROM src GROUP BY v),
      |cum AS (
      |  SELECT sum(ca) OVER (ORDER BY v) AS cuma,
      |         sum(cb) OVER (ORDER BY v) AS cumb
      |  FROM hist),
      |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
      |        FROM hist),
      |diffs AS (
      |  SELECT max(na) AS na, max(nb) AS nb,
      |         greatest(max(cuma * nb - cumb * na), 0) AS dplus_num,
      |         greatest(max(cumb * na - cuma * nb), 0) AS dminus_num
      |  FROM cum CROSS JOIN tot)
      |SELECT na AS n_a, nb AS n_b,
      |       round(CAST(dplus_num AS DOUBLE) / (CAST(na AS DOUBLE) * nb), 6) AS d_plus,
      |       round(CAST(dminus_num AS DOUBLE) / (CAST(na AS DOUBLE) * nb), 6) AS d_minus,
      |       round(CAST(dplus_num AS DOUBLE) / (CAST(na AS DOUBLE) * nb) +
      |             CAST(dminus_num AS DOUBLE) / (CAST(na AS DOUBLE) * nb), 6) AS kuiper_v,
      |       round(1.747 * sqrt(CAST(na + nb AS DOUBLE) / (CAST(na AS DOUBLE) * nb)), 6)
      |         AS v_crit,
      |       CAST(dplus_num AS DOUBLE) / (CAST(na AS DOUBLE) * nb) +
      |       CAST(dminus_num AS DOUBLE) / (CAST(na AS DOUBLE) * nb) >=
      |       1.747 * sqrt(CAST(na + nb AS DOUBLE) / (CAST(na AS DOUBLE) * nb)) AS drift
      |FROM diffs""".stripMargin

  /** agg-mood-median-test — Mood's median test of extended price
    * across the three return flags: dichotomize every row at the
    * GRAND lower median (rank ⌈N/2⌉, exact from the histogram
    * cumulative — the ≤/> convention stated) and χ²-test the 2×3
    * contingency of group × side. The coarsest of the k-sample
    * location tests — it throws away within-side ordering — but
    * thereby robust to ANY outlier configuration, and the classic
    * pre-test before investing in Kruskal-Wallis. Counts exact; the
    * χ² sum is one closed-form double; df = 2, 5% critical 5.991. */
  val aggMoodMedianTest: Q = (s, d) => {
    val src = lineitem(s, d).select(
      expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("v"),
      col("l_returnflag").as("g"))
    val flags = Seq("A", "N", "R")
    val mr = Midranks.doubled(src, "v",
      flags.map(f => (s"c$f", col("g") === f))).sharedCache()
    val tot = mr.agg(sum("cnt").as("n"))
    val med = mr.crossJoin(broadcast(tot))
      .select(col("v"), expr("(mr2 + cnt - 1) div 2").as("cum"), col("n"))
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .agg(min("v").as("med"))
    // column names chosen to avoid Spark's CASE-INSENSITIVE resolver:
    // a grand-total column named "nn" would silently REPLACE the
    // flag-N total "nN" in withColumn (observed: chi2 blew up 5
    // orders of magnitude with every input count still printing
    // correctly) — hence tot$f / grand / belowtot
    val countCols = (flags.map(f =>
        sum(when(col("v") <= col("med"), col(s"c$f")).otherwise(0L)).as(s"b$f")) ++
      flags.map(f => sum(col(s"c$f")).as(s"tot$f"))) :+
      max("med").as("median_cents")
    val counts = mr.crossJoin(broadcast(med))
      .agg(countCols.head, countCols.tail: _*)
    val withTot = counts
      .withColumn("belowtot", flags.map(f => col(s"b$f")).reduce(_ + _))
      .withColumn("grand", flags.map(f => col(s"tot$f")).reduce(_ + _))
    val chi2 = flags.map { f =>
      val eb = col(s"tot$f").cast(DoubleType) * col("belowtot").cast(DoubleType) /
        col("grand").cast(DoubleType)
      val ea = col(s"tot$f").cast(DoubleType) *
        (col("grand") - col("belowtot")).cast(DoubleType) / col("grand").cast(DoubleType)
      val ob = col(s"b$f").cast(DoubleType)
      val oa = (col(s"tot$f") - col(s"b$f")).cast(DoubleType)
      (ob - eb) * (ob - eb) / eb + (oa - ea) * (oa - ea) / ea
    }.reduce(_ + _)
    withTot.select(
      col("grand").cast(LongType).as("n_total"), col("median_cents"),
      col("bA").cast(LongType).as("below_a"), col("bN").cast(LongType).as("below_n"),
      col("bR").cast(LongType).as("below_r"),
      round(chi2, 4).as("chi2_stat"),
      (chi2 >= 5.991).as("location_differs"))
  }

  val aggMoodMedianTestSql: String =
    """WITH src AS (
      |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
      |         l_returnflag AS g
      |  FROM lineitem),
      |hist AS (
      |  SELECT v, CAST(count(*) AS BIGINT) AS cnt,
      |         CAST(sum(CASE WHEN g = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |         CAST(sum(CASE WHEN g = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS cn,
      |         CAST(sum(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS cr
      |  FROM src GROUP BY v),
      |cum AS (SELECT v, ca, cn, cr, sum(cnt) OVER (ORDER BY v) AS c
      |        FROM hist),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM hist),
      |med AS (SELECT min(v) AS med FROM cum CROSS JOIN tot
      |        WHERE c >= (n + 1) // 2),
      |counts AS (
      |  SELECT CAST(sum(CASE WHEN v <= med THEN ca ELSE 0 END) AS BIGINT) AS ba,
      |         CAST(sum(CASE WHEN v <= med THEN cn ELSE 0 END) AS BIGINT) AS bn,
      |         CAST(sum(CASE WHEN v <= med THEN cr ELSE 0 END) AS BIGINT) AS br,
      |         CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cn) AS BIGINT) AS nc,
      |         CAST(sum(cr) AS BIGINT) AS nr, max(med) AS median_cents
      |  FROM hist CROSS JOIN med),
      |f AS (
      |  SELECT *, ba + bn + br AS tb, na + nc + nr AS nn FROM counts),
      |chi AS (
      |  SELECT nn, median_cents, ba, bn, br,
      |         (CAST(ba AS DOUBLE) - CAST(na AS DOUBLE) * tb / nn) *
      |         (CAST(ba AS DOUBLE) - CAST(na AS DOUBLE) * tb / nn) /
      |         (CAST(na AS DOUBLE) * tb / nn) +
      |         (CAST(na - ba AS DOUBLE) - CAST(na AS DOUBLE) * (nn - tb) / nn) *
      |         (CAST(na - ba AS DOUBLE) - CAST(na AS DOUBLE) * (nn - tb) / nn) /
      |         (CAST(na AS DOUBLE) * (nn - tb) / nn) +
      |         (CAST(bn AS DOUBLE) - CAST(nc AS DOUBLE) * tb / nn) *
      |         (CAST(bn AS DOUBLE) - CAST(nc AS DOUBLE) * tb / nn) /
      |         (CAST(nc AS DOUBLE) * tb / nn) +
      |         (CAST(nc - bn AS DOUBLE) - CAST(nc AS DOUBLE) * (nn - tb) / nn) *
      |         (CAST(nc - bn AS DOUBLE) - CAST(nc AS DOUBLE) * (nn - tb) / nn) /
      |         (CAST(nc AS DOUBLE) * (nn - tb) / nn) +
      |         (CAST(br AS DOUBLE) - CAST(nr AS DOUBLE) * tb / nn) *
      |         (CAST(br AS DOUBLE) - CAST(nr AS DOUBLE) * tb / nn) /
      |         (CAST(nr AS DOUBLE) * tb / nn) +
      |         (CAST(nr - br AS DOUBLE) - CAST(nr AS DOUBLE) * (nn - tb) / nn) *
      |         (CAST(nr - br AS DOUBLE) - CAST(nr AS DOUBLE) * (nn - tb) / nn) /
      |         (CAST(nr AS DOUBLE) * (nn - tb) / nn) AS chi2
      |  FROM f)
      |SELECT nn AS n_total, median_cents, ba AS below_a, bn AS below_n, br AS below_r,
      |       round(chi2, 4) AS chi2_stat, chi2 >= 5.991 AS location_differs
      |FROM chi""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-brunner-munzel", aggBrunnerMunzel, aggBrunnerMunzelSql),
    Key("agg-jonckheere-terpstra", aggJonckheereTerpstra, aggJonckheereTerpstraSql),
    Key("dq-kuiper-drift", dqKuiperDrift, dqKuiperDriftSql),
    Key("agg-mood-median-test", aggMoodMedianTest, aggMoodMedianTestSql))
}
