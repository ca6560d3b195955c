package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-8 batch P: Fisher LDA gate (exact linear decision), sharp
  * regression discontinuity, caliper matching on a banded-bucket join,
  * and exact integer DTW via the min-plus row recurrence. */
object RelMore180 extends KeyModule {

  /** agg-fisher-lda — Fisher's linear discriminant as a Gaussian
    * naive-Bayes gate with POOLED per-feature variance and equal
    * priors: "can (price, order-month) predict an urgent order?".
    * The pooled-variance choice is what makes the decision LINEAR and
    * therefore exact: score = Σ_f (m1f-m0f)(x_f - (m1f+m0f)/2)/v_f,
    * all elementary IEEE ops on doubles derived from exact DECIMAL(38)
    * moment sums — no ln/exp anywhere, so both engines produce
    * bit-identical scores and the confusion counts hash-match. Train
    * and apply are each ONE map-side-combinable scan; the 2×(2-feature)
    * parameter row is broadcast. At 100 TB nothing changes: moments
    * are partial-aggregable and the apply pass is embarrassingly
    * parallel. */
  val aggFisherLda: Q = (s, d) => {
    val feat = orders(s, d).select(
      when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
        .otherwise(0L).as("y"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("x1"),
      month(col("o_orderdate")).cast(LongType).as("x2"))
      .sharedCache()
    val st = feat.groupBy("y").agg(
      count(lit(1)).as("n"),
      sum(expr("CAST(x1 AS DECIMAL(38,0))")).as("s1"),
      sum(expr("CAST(x1 AS DECIMAL(38,0)) * x1")).as("ss1"),
      sum(expr("CAST(x2 AS DECIMAL(38,0))")).as("s2"),
      sum(expr("CAST(x2 AS DECIMAL(38,0)) * x2")).as("ss2"))
    // All post-scan arithmetic in IEEE doubles with the SAME expression
    // text as the oracle: Spark's exact decimal division and DuckDB's
    // float `/` would otherwise round the pooled SS differently.
    val dd = st.select(col("y"),
      col("n").cast(DoubleType).as("nd"),
      col("s1").cast(DoubleType).as("s1d"),
      col("ss1").cast(DoubleType).as("ss1d"),
      col("s2").cast(DoubleType).as("s2d"),
      col("ss2").cast(DoubleType).as("ss2d"))
    val params = dd.groupBy().agg(
      sum("nd").as("nt"),
      sum(when(col("y") === 1, col("nd"))).as("n1"),
      sum(when(col("y") === 1, col("s1d"))).as("s11"),
      sum(when(col("y") === 0, col("s1d"))).as("s10"),
      sum(when(col("y") === 1, col("s2d"))).as("s21"),
      sum(when(col("y") === 0, col("s2d"))).as("s20"),
      sum(col("ss1d") - col("s1d") * col("s1d") / col("nd")).as("w1ss"),
      sum(col("ss2d") - col("s2d") * col("s2d") / col("nd")).as("w2ss"))
      .select(
        col("nt"), col("n1"), (col("nt") - col("n1")).as("n0"),
        (col("s11") / col("n1")).as("m11"),
        (col("s10") / (col("nt") - col("n1"))).as("m10"),
        (col("s21") / col("n1")).as("m21"),
        (col("s20") / (col("nt") - col("n1"))).as("m20"),
        (col("w1ss") / (col("nt") - 2.0)).as("v1"),
        (col("w2ss") / (col("nt") - 2.0)).as("v2"))
    feat.crossJoin(broadcast(params))
      .withColumn("sc",
        (col("m11") - col("m10")) * (col("x1").cast(DoubleType) -
          (col("m11") + col("m10")) / 2.0) / col("v1") +
        (col("m21") - col("m20")) * (col("x2").cast(DoubleType) -
          (col("m21") + col("m20")) / 2.0) / col("v2"))
      .withColumn("pred", when(col("sc") > 0.0, 1L).otherwise(0L))
      .groupBy().agg(
        count(lit(1)).as("n_orders"),
        sum(when(col("y") === 1 && col("pred") === 1, 1L).otherwise(0L)).as("tp"),
        sum(when(col("y") === 0 && col("pred") === 1, 1L).otherwise(0L)).as("fp"),
        sum(when(col("y") === 0 && col("pred") === 0, 1L).otherwise(0L)).as("tn"),
        sum(when(col("y") === 1 && col("pred") === 0, 1L).otherwise(0L)).as("fn"),
        round((sum(when(col("y") === col("pred"), 1L).otherwise(0L)) /
          count(lit(1)).cast(DoubleType)), 4).as("accuracy"),
        round(max((col("m11") - col("m10")) / col("v1")) * 1e6, 6).as("w_price_x1e6"),
        round(max((col("m21") - col("m20")) / col("v2")), 6).as("w_month"))
      .select(col("n_orders"), col("tp").cast(LongType).as("tp"),
        col("fp").cast(LongType).as("fp"), col("tn").cast(LongType).as("tn"),
        col("fn").cast(LongType).as("fn"), col("accuracy"),
        col("w_price_x1e6"), col("w_month"))
  }

  val aggFisherLdaSql: String =
    """WITH feat AS (
      |  SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |              THEN 1 ELSE 0 END AS y,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x1,
      |         CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS x2
      |  FROM orders),
      |st AS (
      |  SELECT y, CAST(count(*) AS BIGINT) AS n,
      |         sum(CAST(x1 AS HUGEINT)) AS s1, sum(CAST(x1 AS HUGEINT) * x1) AS ss1,
      |         sum(CAST(x2 AS HUGEINT)) AS s2, sum(CAST(x2 AS HUGEINT) * x2) AS ss2
      |  FROM feat GROUP BY 1),
      |dd AS (
      |  SELECT y, CAST(n AS DOUBLE) AS nd, CAST(s1 AS DOUBLE) AS s1d,
      |         CAST(ss1 AS DOUBLE) AS ss1d, CAST(s2 AS DOUBLE) AS s2d,
      |         CAST(ss2 AS DOUBLE) AS ss2d
      |  FROM st),
      |params AS (
      |  SELECT nt, n1, nt - n1 AS n0,
      |         s11 / n1 AS m11, s10 / (nt - n1) AS m10,
      |         s21 / n1 AS m21, s20 / (nt - n1) AS m20,
      |         w1ss / (nt - 2.0) AS v1, w2ss / (nt - 2.0) AS v2
      |  FROM (
      |    SELECT sum(nd) AS nt, sum(CASE WHEN y = 1 THEN nd END) AS n1,
      |           sum(CASE WHEN y = 1 THEN s1d END) AS s11,
      |           sum(CASE WHEN y = 0 THEN s1d END) AS s10,
      |           sum(CASE WHEN y = 1 THEN s2d END) AS s21,
      |           sum(CASE WHEN y = 0 THEN s2d END) AS s20,
      |           sum(ss1d - s1d * s1d / nd) AS w1ss,
      |           sum(ss2d - s2d * s2d / nd) AS w2ss
      |    FROM dd) t),
      |scored AS (
      |  SELECT y,
      |         (m11 - m10) * (CAST(x1 AS DOUBLE) - (m11 + m10) / 2.0) / v1 +
      |         (m21 - m20) * (CAST(x2 AS DOUBLE) - (m21 + m20) / 2.0) / v2 AS sc,
      |         m11, m10, m21, m20, v1, v2
      |  FROM feat CROSS JOIN params)
      |SELECT CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(sum(CASE WHEN y = 1 AND sc > 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      |       CAST(sum(CASE WHEN y = 0 AND sc > 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      |       CAST(sum(CASE WHEN y = 0 AND sc <= 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
      |       CAST(sum(CASE WHEN y = 1 AND sc <= 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
      |       round(sum(CASE WHEN y = CASE WHEN sc > 0.0 THEN 1 ELSE 0 END
      |                      THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 4)
      |         AS accuracy,
      |       round(max((m11 - m10) / v1) * 1e6, 6) AS w_price_x1e6,
      |       round(max((m21 - m20) / v2), 6) AS w_month
      |FROM scored""".stripMargin

  /** agg-regression-discontinuity — sharp RD at the account-balance
    * cutoff 0 ("does crossing into positive balance jump total
    * spend?"): local LINEAR fit on each side of the cutoff inside a
    * ±$1000 bandwidth (rectangular kernel), jump = right-intercept −
    * left-intercept evaluated AT the cutoff — the standard sharp-RD
    * estimand. Outcome is each customer's lifetime spend (LEFT join,
    * zero for never-ordered). Each side's OLS is the closed form on
    * exact DECIMAL(38) sums; one customer-grain aggregate of orders +
    * one bounded reduce, no window anywhere. */
  val aggRegressionDiscontinuity: Q = (s, d) => {
    val spend = orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .as("sp"))
    val base = customer(s, d)
      .select(col("c_custkey"),
        expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)").as("xb"))
      .filter(col("xb") >= -100000L && col("xb") <= 100000L)
      .join(spend, col("c_custkey") === col("o_custkey"), "left")
      .select(col("xb"),
        coalesce(col("sp"), lit(0L)).as("yv"),
        (col("xb") >= 0L).as("rt"))
    val sides = base.groupBy("rt").agg(
      count(lit(1)).as("n"),
      sum(expr("CAST(xb AS DECIMAL(38,0))")).as("sx"),
      sum(expr("CAST(yv AS DECIMAL(38,0))")).as("sy"),
      sum(expr("CAST(xb AS DECIMAL(38,0)) * xb")).as("sxx"),
      sum(expr("CAST(xb AS DECIMAL(38,0)) * yv")).as("sxy"))
      .select(col("rt"), col("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType))
          .as("slope"),
        col("sy").cast(DoubleType).as("syd"), col("sx").cast(DoubleType).as("sxd"))
      .select(col("rt"), col("n"),
        col("slope"),
        ((col("syd") - col("slope") * col("sxd")) / col("n").cast(DoubleType))
          .as("icept"))
    sides.groupBy().agg(
      sum(when(col("rt"), col("n"))).cast(LongType).as("n_right"),
      sum(when(!col("rt"), col("n"))).cast(LongType).as("n_left"),
      round(max(when(col("rt"), col("slope"))) * 100, 6).as("slope_right_per_usd"),
      round(max(when(!col("rt"), col("slope"))) * 100, 6).as("slope_left_per_usd"),
      round(max(when(col("rt"), col("icept"))) / 100, 2).as("icept_right_usd"),
      round(max(when(!col("rt"), col("icept"))) / 100, 2).as("icept_left_usd"),
      round((max(when(col("rt"), col("icept"))) -
        max(when(!col("rt"), col("icept")))) / 100, 2).as("rd_jump_usd"))
  }

  val aggRegressionDiscontinuitySql: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |         sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS sp
      |  FROM orders GROUP BY 1),
      |base AS (
      |  SELECT CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS xb,
      |         CAST(coalesce(sp, 0) AS BIGINT) AS yv,
      |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) >= 0 AS rt
      |  FROM customer LEFT JOIN spend ON c_custkey = o_custkey
      |  WHERE CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
      |        BETWEEN -100000 AND 100000),
      |sides AS (
      |  SELECT rt, n, slope, (syd - slope * sxd) / CAST(n AS DOUBLE) AS icept
      |  FROM (
      |    SELECT rt, n,
      |           CAST(n * sxy - sx * sy AS DOUBLE) /
      |           CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
      |           CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd
      |    FROM (
      |      SELECT rt, CAST(count(*) AS BIGINT) AS n,
      |             sum(CAST(xb AS HUGEINT)) AS sx, sum(CAST(yv AS HUGEINT)) AS sy,
      |             sum(CAST(xb AS HUGEINT) * xb) AS sxx,
      |             sum(CAST(xb AS HUGEINT) * yv) AS sxy
      |      FROM base GROUP BY 1) m) t)
      |SELECT CAST(sum(CASE WHEN rt THEN n END) AS BIGINT) AS n_right,
      |       CAST(sum(CASE WHEN NOT rt THEN n END) AS BIGINT) AS n_left,
      |       round(max(CASE WHEN rt THEN slope END) * 100, 6) AS slope_right_per_usd,
      |       round(max(CASE WHEN NOT rt THEN slope END) * 100, 6) AS slope_left_per_usd,
      |       round(max(CASE WHEN rt THEN icept END) / 100, 2) AS icept_right_usd,
      |       round(max(CASE WHEN NOT rt THEN icept END) / 100, 2) AS icept_left_usd,
      |       round((max(CASE WHEN rt THEN icept END) -
      |              max(CASE WHEN NOT rt THEN icept END)) / 100, 2) AS rd_jump_usd
      |FROM sides""".stripMargin

  /** sample-caliper-matching — observational matching: every treated
    * unit (BUILDING-segment customer) gets its NEAREST control by
    * account balance, admissible only within a ±$10 caliper, matched
    * WITH replacement (greedy without-replacement is sequential and
    * order-dependent — not a distributed-pipeline op). The scale
    * design is the banded-bucket join: controls are exploded to their
    * own and both adjacent $10 buckets, candidates come from a
    * key-equi join on the bucket (never treated × control), and the
    * per-treated argmin is a window partitioned by the treated key.
    * Balance shift: negative balances are offset before bucketing so
    * both engines' integer division agrees (Spark DIV truncates toward
    * zero, DuckDB // floors). ATT outcome = lifetime order count. */
  val sampleCaliperMatching: Q = (s, d) => {
    val cnt = orders(s, d).groupBy(col("o_custkey")).agg(count(lit(1)).as("oc"))
    val base = customer(s, d)
      .join(cnt, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey").as("ck"),
        (expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)") +
          lit(1000000L)).as("sc"),
        coalesce(col("oc"), lit(0L)).as("oc"),
        (col("c_mktsegment") === "BUILDING").as("treat"))
      .sharedCache()
    val treated = base.filter(col("treat"))
      .select(col("ck").as("tk"), col("sc").as("ts"), col("oc").as("toc"),
        expr("sc DIV 1000").as("bk"))
    val controls = base.filter(!col("treat"))
      .select(col("ck").as("cki"), col("sc").as("cs"), col("oc").as("coc"),
        explode(array(expr("sc DIV 1000 - 1"), expr("sc DIV 1000"),
          expr("sc DIV 1000 + 1"))).as("bk"))
    val cand = treated.join(controls, Seq("bk"))
      .filter(abs(col("ts") - col("cs")) <= 1000L)
      .withColumn("rk", row_number().over(
        Window.partitionBy("tk")
          .orderBy(abs(col("ts") - col("cs")), col("cki"))))
      .filter(col("rk") === 1)
    val nT = base.filter(col("treat")).agg(count(lit(1)).as("n_treated"))
    cand.groupBy().agg(
      count(lit(1)).as("n_matched"),
      countDistinct(col("cki")).as("n_distinct_controls"),
      round(avg(abs(col("ts") - col("cs")).cast(DoubleType)) / 100, 4)
        .as("mean_abs_gap_usd"),
      round(avg((col("toc") - col("coc")).cast(DoubleType)), 4).as("att_orders"))
      .crossJoin(broadcast(nT))
      .select(col("n_treated"), col("n_matched"),
        round(col("n_matched").cast(DoubleType) /
          col("n_treated").cast(DoubleType), 4).as("match_rate"),
        col("n_distinct_controls"), col("mean_abs_gap_usd"), col("att_orders"))
  }

  val sampleCaliperMatchingSql: String =
    """WITH cnt AS (
      |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS oc FROM orders GROUP BY 1),
      |base AS (
      |  SELECT c_custkey AS ck,
      |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) + 1000000 AS sc,
      |         CAST(coalesce(oc, 0) AS BIGINT) AS oc,
      |         c_mktsegment = 'BUILDING' AS treat
      |  FROM customer LEFT JOIN cnt ON c_custkey = o_custkey),
      |treated AS (
      |  SELECT ck AS tk, sc AS ts, oc AS toc, sc // 1000 AS bk
      |  FROM base WHERE treat),
      |controls AS (
      |  SELECT ck AS cki, sc AS cs, oc AS coc, sc // 1000 + off AS bk
      |  FROM base CROSS JOIN (SELECT unnest([-1, 0, 1]) AS off) o
      |  WHERE NOT treat),
      |cand AS (
      |  SELECT tk, ts, toc, cki, cs, coc,
      |         row_number() OVER (PARTITION BY tk
      |           ORDER BY abs(ts - cs), cki) AS rk
      |  FROM treated JOIN controls USING (bk)
      |  WHERE abs(ts - cs) <= 1000),
      |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_treated FROM base WHERE treat)
      |SELECT n_treated, CAST(count(*) AS BIGINT) AS n_matched,
      |       round(CAST(count(*) AS DOUBLE) / CAST(n_treated AS DOUBLE), 4)
      |         AS match_rate,
      |       CAST(count(DISTINCT cki) AS BIGINT) AS n_distinct_controls,
      |       round(avg(CAST(abs(ts - cs) AS DOUBLE)) / 100, 4) AS mean_abs_gap_usd,
      |       round(avg(CAST(toc - coc AS DOUBLE)), 4) AS att_orders
      |FROM cand CROSS JOIN nt
      |WHERE rk = 1
      |GROUP BY n_treated""".stripMargin

  /** agg-dtw-monthly — dynamic time warping between the 1996 and 1997
    * monthly revenue curves, EXACT in integer cents with L1 step cost.
    * DTW's textbook DP is sequential; the distributable form used here
    * is the min-plus ROW recurrence: entering row i at column k costs
    * E(i,k) = min(D(i-1,k), D(i-1,k-1)), so
    * D(i,j) = S(i,j) + min_{k<=j} (E(i,k) - S(i,k-1)) with S the
    * row-prefix cost — each of the 12 row steps is one lag + one
    * prefix-sum + one prefix-min over a 12-row frame (unrolled as 12
    * chained CTEs in the oracle, a 12-step plan fold here; bounded by
    * the month grain, never by table size). The data-sized work is the
    * single month-grain revenue aggregate. Reports the warping cost
    * against the lockstep (no-warp) L1 distance. */
  val aggDtwMonthly: Q = (s, d) => {
    val mon = orders(s, d)
      .filter(year(col("o_orderdate")).isin(1996, 1997))
      .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .cast(LongType).as("rev"))
    val a = mon.filter(col("y") === 1996).select(col("m").as("i"), col("rev").as("av"))
    val b = mon.filter(col("y") === 1997).select(col("m").as("j"), col("rev").as("bv"))
    val cost = a.crossJoin(b)
      .select(col("i"), col("j"), abs(col("av") - col("bv")).as("c"))
      .sharedCache()
    val w = Window.orderBy("j")
    val wRun = w.rowsBetween(Window.unboundedPreceding, 0)
    var cur: DataFrame = cost.filter(col("i") === 1)
      .withColumn("d", sum("c").over(wRun)).select("j", "d")
    for (ii <- 2 to 12) {
      val e = cur.select(col("j"),
        least(col("d"), coalesce(lag("d", 1).over(w), col("d"))).as("e"))
      cur = cost.filter(col("i") === ii).select(col("j"), col("c"))
        .join(e, Seq("j"))
        .withColumn("sp", sum("c").over(wRun))
        .withColumn("t", col("e") - coalesce(lag("sp", 1).over(w), lit(0L)))
        .select(col("j"), (col("sp") + min("t").over(wRun)).as("d"))
    }
    val dtw = cur.filter(col("j") === 12).select(col("d").as("dtw_cents"))
    val lock = a.join(b, col("i") === col("j"))
      .agg(sum(abs(col("av") - col("bv"))).as("lockstep_cents"))
    dtw.crossJoin(lock)
      .select(col("dtw_cents"), col("lockstep_cents"),
        round(col("dtw_cents").cast(DoubleType) /
          col("lockstep_cents").cast(DoubleType), 4).as("warp_ratio"))
  }

  val aggDtwMonthlySql: String = {
    val steps = (2 to 12).map { ii =>
      s"""r$ii AS (
         |  SELECT j, sp + min(t) OVER (ORDER BY j
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS d
         |  FROM (
         |    SELECT j, sp, e - coalesce(lag(sp) OVER (ORDER BY j), 0) AS t
         |    FROM (
         |      SELECT c.j, sum(c.c) OVER (ORDER BY c.j
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sp, e.e
         |      FROM (SELECT j, c FROM cost WHERE i = $ii) c
         |      JOIN (SELECT j, least(d, coalesce(lag(d) OVER (ORDER BY j), d)) AS e
         |            FROM r${ii - 1}) e USING (j)) q1) q2)""".stripMargin
    }.mkString(",\n")
    s"""WITH mon AS (
       |  SELECT year(CAST(o_orderdate AS DATE)) AS y,
       |         month(CAST(o_orderdate AS DATE)) AS m,
       |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
       |              AS BIGINT) AS rev
       |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) IN (1996, 1997)
       |  GROUP BY 1, 2),
       |a AS (SELECT m AS i, rev AS av FROM mon WHERE y = 1996),
       |b AS (SELECT m AS j, rev AS bv FROM mon WHERE y = 1997),
       |cost AS (SELECT i, j, abs(av - bv) AS c FROM a CROSS JOIN b),
       |r1 AS (
       |  SELECT j, sum(c) OVER (ORDER BY j
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS d
       |  FROM cost WHERE i = 1),
       |$steps
       |SELECT CAST(r12.d AS BIGINT) AS dtw_cents, l.lockstep_cents,
       |       round(CAST(r12.d AS DOUBLE) / CAST(l.lockstep_cents AS DOUBLE), 4)
       |         AS warp_ratio
       |FROM r12 CROSS JOIN (
       |  SELECT CAST(sum(abs(av - bv)) AS BIGINT) AS lockstep_cents
       |  FROM a JOIN b ON i = j) l
       |WHERE r12.j = 12""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    Key("agg-fisher-lda", aggFisherLda, aggFisherLdaSql),
    Key("agg-regression-discontinuity", aggRegressionDiscontinuity, aggRegressionDiscontinuitySql),
    Key("sample-caliper-matching", sampleCaliperMatching, sampleCaliperMatchingSql),
    Key("agg-dtw-monthly", aggDtwMonthly, aggDtwMonthlySql))
}
