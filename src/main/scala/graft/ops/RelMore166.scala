package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-8 batch B: structural-break econometrics (Chow known-break
  * F, Quandt-Andrews sup-F over all trimmed candidates) plus
  * autocorrelation-robust inference (Newey-West HAC) and Crow-AMSAA
  * reliability growth. All run on day/month-keyed aggregates of the
  * fact tables — the 100 TB cost is the daily rollup; everything
  * after is bounded by the calendar. */
object RelMore166 extends KeyModule {

  /** Daily revenue series: day index t (days since 1992-01-01, the
    * corpus epoch) and revenue in whole dollars (cents div 100 —
    * keeps every downstream square-sum inside int64/DECIMAL(38)
    * envelopes; floor division, identical in both engines). */
  private def daily(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy(datediff(to_date(col("o_orderdate")), lit("1992-01-01")).as("t"))
      .agg(expr("CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) " +
        "div 100 AS BIGINT)").as("y"))

  private val dailySql: String =
    """SELECT datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS t,
      |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) // 100
      |            AS BIGINT) AS y
      |FROM orders GROUP BY 1""".stripMargin

  /** SSR of y = a + b·t from the five raw sums, as a double — the
    * closed form SSR = Syy − Sy²/n − b²·(Stt − St²/n) with
    * b = (n·Sty − St·Sy)/(n·Stt − St²). Inputs are EXACT integer
    * sums; this is the one terminal float. */
  private def ssr(n: org.apache.spark.sql.Column, st: org.apache.spark.sql.Column,
                  sy: org.apache.spark.sql.Column, stt: org.apache.spark.sql.Column,
                  sty: org.apache.spark.sql.Column, syy: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val dn = n.cast(DoubleType); val dst = st.cast(DoubleType)
    val dsy = sy.cast(DoubleType); val dstt = stt.cast(DoubleType)
    val dsty = sty.cast(DoubleType); val dsyy = syy.cast(DoubleType)
    val b = (dn * dsty - dst * dsy) / (dn * dstt - dst * dst)
    dsyy - dsy * dsy / dn - b * b * (dstt - dst * dst / dn)
  }

  private def ssrSql(n: String, st: String, sy: String, stt: String,
                     sty: String, syy: String): String = {
    val b = s"(CAST($n AS DOUBLE) * $sty - CAST($st AS DOUBLE) * $sy) / " +
      s"(CAST($n AS DOUBLE) * $stt - CAST($st AS DOUBLE) * $st)"
    s"(CAST($syy AS DOUBLE) - CAST($sy AS DOUBLE) * $sy / $n - " +
      s"($b) * ($b) * (CAST($stt AS DOUBLE) - CAST($st AS DOUBLE) * $st / $n))"
  }

  /** agg-chow-break — the Chow test for a DECLARED structural break
    * in the daily-revenue-vs-time OLS at 1998-07-01 (day 2373 of the
    * 1992 epoch — mid-corpus for the 1995-2001 order span): F = [(SSR_pooled − SSR₁ −
    * SSR₂)/k] / [(SSR₁+SSR₂)/(n−2k)], k = 2 parameters. One
    * conditional aggregate computes both segments' five exact sums in
    * a single pass over the ~2,500-row daily series (DECIMAL(38) for
    * the squares); the three SSRs and F are terminal doubles.
    * 5% critical for F(2, large) = 3.00 declared. The companion
    * agg-quandt-andrews drops the "declared" and searches every
    * trimmed candidate. */
  val aggChowBreak: Q = (s, d) => {
    val breakT = 2373L
    val dl = daily(s, d)
    def seg(pred: org.apache.spark.sql.Column, tag: String) = Seq(
      sum(when(pred, 1L).otherwise(0L)).as(s"n$tag"),
      sum(when(pred, col("t").cast(LongType)).otherwise(0L)).as(s"st$tag"),
      sum(when(pred, col("y")).otherwise(0L)).as(s"sy$tag"),
      sum(when(pred, col("t").cast(DecimalType(38, 0)) * col("t")).otherwise(lit(0).cast(DecimalType(38, 0)))).as(s"stt$tag"),
      sum(when(pred, col("t").cast(DecimalType(38, 0)) * col("y")).otherwise(lit(0).cast(DecimalType(38, 0)))).as(s"sty$tag"),
      sum(when(pred, col("y").cast(DecimalType(38, 0)) * col("y")).otherwise(lit(0).cast(DecimalType(38, 0)))).as(s"syy$tag"))
    val aggCols = seg(col("t") < breakT, "1") ++ seg(col("t") >= breakT, "2")
    val a = dl.agg(aggCols.head, aggCols.tail: _*)
      .withColumn("n", col("n1") + col("n2"))
      .withColumn("st", col("st1") + col("st2"))
      .withColumn("sy", col("sy1") + col("sy2"))
      .withColumn("stt", col("stt1") + col("stt2"))
      .withColumn("sty", col("sty1") + col("sty2"))
      .withColumn("syy", col("syy1") + col("syy2"))
    val ssrP = ssr(col("n"), col("st"), col("sy"), col("stt"), col("sty"), col("syy"))
    val ssr1 = ssr(col("n1"), col("st1"), col("sy1"), col("stt1"), col("sty1"), col("syy1"))
    val ssr2 = ssr(col("n2"), col("st2"), col("sy2"), col("stt2"), col("sty2"), col("syy2"))
    val f = ((ssrP - ssr1 - ssr2) / 2) /
      ((ssr1 + ssr2) / (col("n").cast(DoubleType) - 4))
    a.select(col("n").cast(LongType).as("n_days"),
      col("n1").cast(LongType).as("n_pre"), col("n2").cast(LongType).as("n_post"),
      round(f, 4).as("chow_f"),
      (f >= 3.0).as("structural_break"))
  }

  val aggChowBreakSql: String = {
    def segSql(pred: String, tag: String) =
      s"""CAST(sum(CASE WHEN $pred THEN 1 ELSE 0 END) AS BIGINT) AS n$tag,
         |         CAST(sum(CASE WHEN $pred THEN t ELSE 0 END) AS BIGINT) AS st$tag,
         |         CAST(sum(CASE WHEN $pred THEN y ELSE 0 END) AS BIGINT) AS sy$tag,
         |         CAST(sum(CASE WHEN $pred THEN CAST(t AS HUGEINT) * t ELSE 0 END) AS HUGEINT) AS stt$tag,
         |         CAST(sum(CASE WHEN $pred THEN CAST(t AS HUGEINT) * y ELSE 0 END) AS HUGEINT) AS sty$tag,
         |         CAST(sum(CASE WHEN $pred THEN CAST(y AS HUGEINT) * y ELSE 0 END) AS HUGEINT) AS syy$tag""".stripMargin
    val s1 = ssrSql("n1", "st1", "sy1", "stt1", "sty1", "syy1")
    val s2 = ssrSql("n2", "st2", "sy2", "stt2", "sty2", "syy2")
    val sp = ssrSql("(n1 + n2)", "(st1 + st2)", "(sy1 + sy2)", "(stt1 + stt2)",
      "(sty1 + sty2)", "(syy1 + syy2)")
    s"""WITH daily AS ($dailySql),
      |a AS (
      |  SELECT ${segSql("t < 2373", "1")},
      |         ${segSql("t >= 2373", "2")}
      |  FROM daily)
      |SELECT CAST(n1 + n2 AS BIGINT) AS n_days, n1 AS n_pre, n2 AS n_post,
      |       round((($sp - $s1 - $s2) / 2) /
      |             (($s1 + $s2) / (CAST(n1 + n2 AS DOUBLE) - 4)), 4) AS chow_f,
      |       (($sp - $s1 - $s2) / 2) /
      |       (($s1 + $s2) / (CAST(n1 + n2 AS DOUBLE) - 4)) >= 3.0 AS structural_break
      |FROM a""".stripMargin
  }

  /** agg-quandt-andrews — the sup-F (Quandt likelihood ratio) scan:
    * the Chow F evaluated at EVERY candidate break in the 15%-85%
    * trimmed sample, maximum reported with its date. The machinery is
    * one PrefixScan pass stamping running sums of (t, y, t², t·y, y²)
    * over the day-ordered series — each candidate's two segment
    * sum-sets are then prefix/suffix differences, so the whole scan
    * is O(days), not O(days²) and contains no WindowExec sort.
    * Units: daily revenue in whole dollars keeps Σy² inside int64 up
    * to ≈ sf1; past that the series unit moves to k$ (declared knob —
    * the F is unit-insensitive to the quantization at that scale).
    * Andrews (1993) 5% critical for p = 2, π₀ = 0.15 is 11.79
    * (declared). The argmax row is the break date estimate. */
  val aggQuandtAndrews: Q = (s, d) => {
    val dl = daily(s, d)
      .withColumn("tl", col("t").cast(LongType))
      .withColumn("tt", col("t").cast(LongType) * col("t"))
      .withColumn("ty", col("t").cast(LongType) * col("y"))
      .withColumn("yy", col("y") * col("y"))
    val sc = graft.functions.PrefixScan.withRankCumSums(dl, Seq(col("t")),
      Seq("tl", "y", "tt", "ty", "yy"), rankName = "rn",
      cumNames = Seq("cst", "csy", "cstt", "csty", "csyy"))
    val n = sc.n
    val Seq(st, sy, stt, sty, syy) = sc.totals
    val lo = math.ceil(n * 0.15).toLong
    val hi = math.floor(n * 0.85).toLong
    val cand = sc.df.filter(col("rn") >= lo && col("rn") <= hi)
    val ssr1 = ssr(col("rn"), col("cst"), col("csy"), col("cstt"), col("csty"), col("csyy"))
    val ssr2 = ssr(lit(n) - col("rn"), lit(st) - col("cst"), lit(sy) - col("csy"),
      lit(stt) - col("cstt"), lit(sty) - col("csty"), lit(syy) - col("csyy"))
    val ssrP = ssr(lit(n), lit(st), lit(sy), lit(stt), lit(sty), lit(syy))
    val f = ((ssrP - ssr1 - ssr2) / 2) / ((ssr1 + ssr2) / (lit(n.toDouble) - 4))
    cand.select(col("t"), round(f, 4).as("f_stat"))
      .orderBy(desc("f_stat"), col("t"))
      .limit(1)
      .select(lit(n).as("n_days"), col("t").cast(LongType).as("break_t"),
        date_add(lit("1992-01-01").cast(DateType), col("t").cast(IntegerType))
          .as("break_date"),
        col("f_stat").as("sup_f"),
        (col("f_stat") >= 11.79).as("structural_break"))
  }

  val aggQuandtAndrewsSql: String = {
    val s1 = ssrSql("rn", "cst", "csy", "cstt", "csty", "csyy")
    val s2 = ssrSql("(n - rn)", "(st - cst)", "(sy - csy)", "(stt - cstt)",
      "(sty - csty)", "(syy - csyy)")
    val sp = ssrSql("n", "st", "sy", "stt", "sty", "syy")
    s"""WITH daily AS ($dailySql),
      |cum AS (
      |  SELECT t, row_number() OVER (ORDER BY t) AS rn,
      |         sum(t) OVER (ORDER BY t) AS cst,
      |         sum(y) OVER (ORDER BY t) AS csy,
      |         sum(CAST(t AS HUGEINT) * t) OVER (ORDER BY t) AS cstt,
      |         sum(CAST(t AS HUGEINT) * y) OVER (ORDER BY t) AS csty,
      |         sum(CAST(y AS HUGEINT) * y) OVER (ORDER BY t) AS csyy
      |  FROM daily),
      |tot AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(t) AS BIGINT) AS st,
      |         CAST(sum(y) AS BIGINT) AS sy,
      |         CAST(sum(CAST(t AS HUGEINT) * t) AS HUGEINT) AS stt,
      |         CAST(sum(CAST(t AS HUGEINT) * y) AS HUGEINT) AS sty,
      |         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      |  FROM daily),
      |cand AS (
      |  SELECT t, n,
      |         round((($sp - $s1 - $s2) / 2) /
      |               (($s1 + $s2) / (CAST(n AS DOUBLE) - 4)), 4) AS f_stat
      |  FROM cum CROSS JOIN tot
      |  WHERE rn >= ceil(n * 0.15) AND rn <= floor(n * 0.85))
      |SELECT n AS n_days, CAST(t AS BIGINT) AS break_t,
      |       DATE '1992-01-01' + CAST(t AS INT) AS break_date,
      |       f_stat AS sup_f, f_stat >= 11.79 AS structural_break
      |FROM cand
      |ORDER BY f_stat DESC, t
      |LIMIT 1""".stripMargin
  }

  /** agg-newey-west — HAC (Newey-West, Bartlett kernel, L = 5 lags)
    * standard error of mean daily revenue vs the iid SE: daily
    * revenue is positively autocorrelated (weekly cycle + trend), so
    * the iid SE understates the mean's sampling error and every
    * "significant change" verdict built on it over-fires — the HAC/iid
    * RATIO is the honest correction factor. Mean-centered
    * cross-products are kept exact via the (n·y_t − S) trick in
    * DECIMAL(38); the lag pairs come from a day-offset self-join of
    * the ~2,500-row daily series (bounded: 5 rows per day). */
  val aggNeweyWest: Q = (s, d) => {
    val maxLag = 5
    val dl = daily(s, d).sharedCache()
    val tot = dl.agg(count(lit(1)).as("n"), sum("y").as("sy"))
    // γ_l numerators G_l = Σ_t (n·y_t − S)(n·y_{t−l} − S), l = 0..5
    val a = dl.select(col("t"), col("y"))
    val b = dl.select(col("t").as("tb"), col("y").as("yb"))
    val pairs = a.join(broadcast(b), col("t") - col("tb") >= 0 && col("t") - col("tb") <= maxLag)
      .select((col("t") - col("tb")).as("lag"), col("y"), col("yb"))
      .crossJoin(broadcast(tot))
      .groupBy("lag")
      .agg(sum((col("n").cast(DecimalType(38, 0)) * col("y") - col("sy")) *
        (col("n").cast(DecimalType(38, 0)) * col("yb") - col("sy"))).as("g"),
        max("n").as("n"))
    // σ²_NW(ȳ) = [G0 + 2·Σ w_l·G_l] / n⁴, w_l = 1 − l/(L+1)
    val w = pairs.select(col("lag"), col("g"), col("n"),
      when(col("lag") === 0, lit(1.0))
        .otherwise(lit(2.0) * (lit(1.0) - col("lag").cast(DoubleType) / (maxLag + 1))).as("wt"))
    w.agg(max("n").as("n"),
        sum(col("wt") * col("g").cast(DoubleType)).as("nw_num"),
        sum(when(col("lag") === 0, col("g").cast(DoubleType)).otherwise(0.0)).as("g0"))
      .crossJoin(broadcast(tot.select(col("sy"))))
      .select(col("n").cast(LongType).as("n_days"),
        round(col("sy").cast(DoubleType) / col("n").cast(DoubleType), 2).as("mean_daily_rev"),
        round(sqrt(col("g0") / pow(col("n").cast(DoubleType), 4)), 2).as("se_iid"),
        round(sqrt(col("nw_num") / pow(col("n").cast(DoubleType), 4)), 2).as("se_newey_west"),
        round(sqrt(col("nw_num") / col("g0")), 4).as("hac_inflation"),
        (sqrt(col("nw_num") / col("g0")) >= 1.2).as("autocorr_material"))
  }

  val aggNeweyWestSql: String =
    s"""WITH daily AS ($dailySql),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy
      |        FROM daily),
      |pairs AS (
      |  SELECT a.t - b.t AS lag,
      |         CAST(sum((CAST(n AS HUGEINT) * a.y - sy) *
      |                  (CAST(n AS HUGEINT) * b.y - sy)) AS HUGEINT) AS g,
      |         max(n) AS n
      |  FROM daily a JOIN daily b ON a.t - b.t >= 0 AND a.t - b.t <= 5
      |  CROSS JOIN tot
      |  GROUP BY 1),
      |w AS (
      |  SELECT max(n) AS n,
      |         sum(CASE WHEN lag = 0 THEN 1.0
      |                  ELSE 2.0 * (1.0 - CAST(lag AS DOUBLE) / 6) END *
      |             CAST(g AS DOUBLE)) AS nw_num,
      |         sum(CASE WHEN lag = 0 THEN CAST(g AS DOUBLE) ELSE 0 END) AS g0
      |  FROM pairs)
      |SELECT CAST(w.n AS BIGINT) AS n_days,
      |       round(CAST(sy AS DOUBLE) / w.n, 2) AS mean_daily_rev,
      |       round(sqrt(g0 / pow(CAST(w.n AS DOUBLE), 4)), 2) AS se_iid,
      |       round(sqrt(nw_num / pow(CAST(w.n AS DOUBLE), 4)), 2) AS se_newey_west,
      |       round(sqrt(nw_num / g0), 4) AS hac_inflation,
      |       sqrt(nw_num / g0) >= 1.2 AS autocorr_material
      |FROM w CROSS JOIN tot""".stripMargin

  /** agg-crow-amsaa — Crow-AMSAA (NHPP power-law) reliability growth
    * on return events: cumulative returned-line count N(T) at each
    * month-end T (months since corpus start) fits ln N = ln λ +
    * β·ln T; β < 1 = reliability growth (returns decelerating), β > 1
    * = deterioration. THE standard test-track curve for "is the
    * defect rate actually improving" — a raw downward monthly count
    * can still mean β > 1 if exposure grew. Monthly counts are exact;
    * the cumulative is a PrefixScan over ≤84 month rows; each point's
    * (ln T, ln N) is nano-quantized to integers so the five OLS sums
    * are exact (DECIMAL(38)), with β and λ the terminal doubles. */
  val aggCrowAmsaa: Q = (s, d) => {
    val monthly = lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .groupBy((year(col("l_shipdate")) * 12 + month(col("l_shipdate"))).as("ym"))
      .agg(count(lit(1)).as("c"))
    val sc = graft.functions.PrefixScan.withRankCumSum(monthly, Seq(col("ym")),
      Some("c"), rankName = "tm", cumName = "cumn")
    // tm = month index 1..M in calendar order (rank over the gapless
    // month sequence); nano-quantized logs → exact integer OLS sums
    val pts = sc.df.select(
      expr("CAST(floor(ln(CAST(tm AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)").as("lx"),
      expr("CAST(floor(ln(CAST(cumn AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)").as("ly"))
    val a = pts.agg(count(lit(1)).as("np"),
      sum("lx").as("sx"), sum("ly").as("sy"),
      sum(col("lx").cast(DecimalType(38, 0)) * col("lx")).as("sxx"),
      sum(col("lx").cast(DecimalType(38, 0)) * col("ly")).as("sxy"))
    val dn = col("np").cast(DoubleType)
    val dx = col("sx").cast(DoubleType) / 1e9; val dy = col("sy").cast(DoubleType) / 1e9
    val dxx = col("sxx").cast(DoubleType) / 1e18; val dxy = col("sxy").cast(DoubleType) / 1e18
    val beta = (dn * dxy - dx * dy) / (dn * dxx - dx * dx)
    a.select(col("np").cast(LongType).as("n_months"),
      round(beta, 4).as("beta"),
      round(exp(dy / dn - beta * dx / dn), 4).as("lambda"),
      (beta < 1.0).as("reliability_growth"))
  }

  val aggCrowAmsaaSql: String =
    """WITH monthly AS (
      |  SELECT year(l_shipdate) * 12 + month(l_shipdate) AS ym,
      |         CAST(count(*) AS BIGINT) AS c
      |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1),
      |cum AS (
      |  SELECT row_number() OVER (ORDER BY ym) AS tm,
      |         sum(c) OVER (ORDER BY ym) AS cumn
      |  FROM monthly),
      |pts AS (
      |  SELECT CAST(floor(ln(CAST(tm AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS lx,
      |         CAST(floor(ln(CAST(cumn AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS ly
      |  FROM cum),
      |a AS (
      |  SELECT CAST(count(*) AS BIGINT) AS np,
      |         CAST(sum(lx) AS BIGINT) AS sx, CAST(sum(ly) AS BIGINT) AS sy,
      |         CAST(sum(CAST(lx AS HUGEINT) * lx) AS HUGEINT) AS sxx,
      |         CAST(sum(CAST(lx AS HUGEINT) * ly) AS HUGEINT) AS sxy
      |  FROM pts),
      |f AS (
      |  SELECT np, CAST(np AS DOUBLE) AS dn,
      |         CAST(sx AS DOUBLE) / 1e9 AS dx, CAST(sy AS DOUBLE) / 1e9 AS dy,
      |         CAST(sxx AS DOUBLE) / 1e18 AS dxx, CAST(sxy AS DOUBLE) / 1e18 AS dxy
      |  FROM a)
      |SELECT np AS n_months,
      |       round((dn * dxy - dx * dy) / (dn * dxx - dx * dx), 4) AS beta,
      |       round(exp(dy / dn - (dn * dxy - dx * dy) / (dn * dxx - dx * dx) * dx / dn), 4)
      |         AS lambda,
      |       (dn * dxy - dx * dy) / (dn * dxx - dx * dx) < 1.0 AS reliability_growth
      |FROM f""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-chow-break", aggChowBreak, aggChowBreakSql),
    Key("agg-quandt-andrews", aggQuandtAndrews, aggQuandtAndrewsSql),
    Key("agg-newey-west", aggNeweyWest, aggNeweyWestSql),
    Key("agg-crow-amsaa", aggCrowAmsaa, aggCrowAmsaaSql))
}
