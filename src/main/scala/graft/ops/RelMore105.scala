package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch F: Little's law consistency, Hurst exponent, fixed-
  * period DFT power, Neyman allocation gain. */
object RelMore105 extends KeyModule {

  /** agg-littles-law — the L = λW queueing identity measured three ways
    * on user sessions (30-min gap rule, the agg-sessionize convention):
    * arrival rate λ (sessions/min over the observed span), mean session
    * duration W, and time-average concurrency L measured the way a
    * dashboard actually measures it — a MINUTE-BUCKET sweepline (one
    * +1/−1 delta stream, running-sum window, mean over minutes). The
    * identity holds exactly in continuous time over a closed window,
    * so ratio = λW/L quantifies precisely the discretization + window-
    * edge bias of the dashboard estimate — the op is the calibration
    * check, not a tautology (L is NOT computed as Σdur/T). Sessions:
    * one user-keyed shuffle; sweepline: minute-domain-bounded. */
  val aggLittlesLaw: Q = (s, d) => {
    val wOrder = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = wOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = events(s, d)
      .withColumn("gap_s",
        unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(wOrder)))
      .withColumn("new_session",
        when(col("gap_s").isNull || col("gap_s") > 1800, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(wRun).cast(LongType))
      .groupBy("user_id", "session_id")
      .agg((floor(unix_timestamp(min(col("ts"))) / 60)).cast(LongType).as("m0"),
        (floor(unix_timestamp(max(col("ts"))) / 60)).cast(LongType).as("m1"))
      .sharedCache()
    val span = sess.agg(min("m0").as("t0"), max("m1").as("t1"),
      count(lit(1)).as("n_sess"), sum(col("m1") - col("m0") + 1).as("busy_min"))
    // sweepline: +1 at session start minute, −1 after its end minute;
    // concurrency = running sum over the minute domain
    val deltas = sess.select(col("m0").as("m"), lit(1L).as("dc"))
      .unionAll(sess.select((col("m1") + 1).as("m"), lit(-1L).as("dc")))
      .groupBy("m").agg(sum("dc").as("dc"))
    val wM = Window.orderBy("m")
    val conc = deltas.withColumn("cum", sum("dc").over(wM))
      .withColumn("next_m", lead("m", 1).over(wM))
      .filter(col("next_m").isNotNull)
      .agg(sum(col("cum") * (col("next_m") - col("m"))).as("conc_minutes"))
    span.crossJoin(broadcast(conc))
      .select(col("n_sess"),
        (col("t1") - col("t0") + 1).as("span_min"),
        round(col("n_sess").cast(DoubleType) / (col("t1") - col("t0") + 1), 6)
          .as("lambda_per_min"),
        round(col("busy_min").cast(DoubleType) / col("n_sess"), 4).as("w_mean_min"),
        round(col("conc_minutes").cast(DoubleType) / (col("t1") - col("t0") + 1), 6)
          .as("l_timeavg"),
        round((col("n_sess").cast(DoubleType) / (col("t1") - col("t0") + 1)) *
          (col("busy_min").cast(DoubleType) / col("n_sess")) /
          (col("conc_minutes").cast(DoubleType) / (col("t1") - col("t0") + 1)), 4)
          .as("littles_ratio"))
  }

  val aggLittlesLawSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts FROM events),
      |flagged AS (
      |  SELECT user_id, ts,
      |         CASE WHEN epoch(date_trunc('second', ts)) - epoch(date_trunc('second',
      |                lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) > 1800
      |              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |              THEN 1 ELSE 0 END AS new_session,
      |         event_id
      |  FROM ev),
      |sess AS (
      |  SELECT user_id, session_id,
      |         CAST(floor(epoch(date_trunc('second', min(ts))) / 60) AS BIGINT) AS m0,
      |         CAST(floor(epoch(date_trunc('second', max(ts))) / 60) AS BIGINT) AS m1
      |  FROM (
      |    SELECT user_id, ts, event_id,
      |           CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |    FROM flagged) t
      |  GROUP BY user_id, session_id),
      |span AS (
      |  SELECT CAST(min(m0) AS BIGINT) AS t0, CAST(max(m1) AS BIGINT) AS t1,
      |         CAST(count(*) AS BIGINT) AS n_sess,
      |         CAST(sum(m1 - m0 + 1) AS BIGINT) AS busy_min
      |  FROM sess),
      |deltas AS (
      |  SELECT m, CAST(sum(dc) AS BIGINT) AS dc FROM (
      |    SELECT m0 AS m, 1 AS dc FROM sess
      |    UNION ALL SELECT m1 + 1, -1 FROM sess) u GROUP BY m),
      |conc AS (
      |  SELECT CAST(sum(cum * (next_m - m)) AS BIGINT) AS conc_minutes FROM (
      |    SELECT m, sum(dc) OVER (ORDER BY m) AS cum, lead(m) OVER (ORDER BY m) AS next_m
      |    FROM deltas) t
      |  WHERE next_m IS NOT NULL)
      |SELECT n_sess, t1 - t0 + 1 AS span_min,
      |       round(CAST(n_sess AS DOUBLE) / (t1 - t0 + 1), 6) AS lambda_per_min,
      |       round(CAST(busy_min AS DOUBLE) / n_sess, 4) AS w_mean_min,
      |       round(CAST(conc_minutes AS DOUBLE) / (t1 - t0 + 1), 6) AS l_timeavg,
      |       round((CAST(n_sess AS DOUBLE) / (t1 - t0 + 1)) *
      |             (CAST(busy_min AS DOUBLE) / n_sess) /
      |             (CAST(conc_minutes AS DOUBLE) / (t1 - t0 + 1)), 4) AS littles_ratio
      |FROM span CROSS JOIN conc""".stripMargin

  private val HurstKs = Seq(1, 2, 4, 8, 16)

  /** agg-hurst-exponent — Hurst exponent of the daily event-count
    * series by the variance-of-aggregates method: the variance of
    * k-day block means scales as k^(2H−2), so the OLS slope of
    * ln Var(k) on ln k over k ∈ {1,2,4,8,16} gives H. H ≈ 0.5 is
    * short-memory; H → 1 is the long-range dependence that breaks
    * naive √n error bars on every dashboard mean. Day index comes
    * from one calendar-bounded window; block means are exact
    * rationals; cross-block variance and the 5-point OLS both fold
    * floor-quantized terms (1e-6), so the whole fit is
    * order-independent. Partial trailing blocks are dropped. */
  val aggHurstExponent: Q = (s, d) => {
    val wd = Window.orderBy("dt")
    val daily = events(s, d)
      .groupBy(to_date(col("ts")).as("dt"))
      .agg(count(lit(1)).as("y"))
      .withColumn("t", row_number().over(wd) - 1)
      .sharedCache()
    val n = daily.agg(count(lit(1)).as("n"))
    val blocks = daily.crossJoin(broadcast(n))
      .select(explode(array(HurstKs.map(lit(_)): _*)).as("k"),
        col("t"), col("y"), col("n"))
      .filter(col("t") < floor(col("n") / col("k")) * col("k"))
      .groupBy(col("k"), floor(col("t") / col("k")).as("b"))
      .agg((sum("y").cast(DoubleType) / first(col("k"))).as("m"))
    val varK = blocks
      .select(col("k"), col("m"),
        floor(col("m") * lit(1e3)).cast(LongType).as("mq"),
        floor(col("m") * col("m") * lit(1e3)).cast(LongType).as("mq2"))
      .groupBy("k")
      .agg(count(lit(1)).as("nb"),
        (sum("mq").cast(DoubleType) / 1e3).as("sm"),
        (sum("mq2").cast(DoubleType) / 1e3).as("smm"))
      .filter(col("nb") > 1)
      .select(col("k"),
        log(col("k").cast(DoubleType)).as("x"),
        log((col("smm") - col("sm") * col("sm") / col("nb")) / (col("nb") - 1)).as("v"))
    val fit = varK
      .select(floor(col("x") * lit(1e6)).cast(LongType).as("qx"),
        floor(col("v") * lit(1e6)).cast(LongType).as("qv"),
        floor(col("x") * col("x") * lit(1e6)).cast(LongType).as("qxx"),
        floor(col("x") * col("v") * lit(1e6)).cast(LongType).as("qxv"))
      .agg(count(lit(1)).as("np"),
        (sum("qx").cast(DoubleType) / 1e6).as("sx"),
        (sum("qv").cast(DoubleType) / 1e6).as("sv"),
        (sum("qxx").cast(DoubleType) / 1e6).as("sxx"),
        (sum("qxv").cast(DoubleType) / 1e6).as("sxv"))
    fit.crossJoin(broadcast(n))
      .select(col("n").as("n_days"), col("np").as("n_scales"),
        round(lit(1.0) + ((col("sxv") - col("sx") * col("sv") / col("np")) /
          (col("sxx") - col("sx") * col("sx") / col("np"))) / 2, 4).as("hurst_h"))
  }

  val aggHurstExponentSql: String = {
    val klist = HurstKs.mkString(", ")
    s"""WITH daily AS (
       |  SELECT CAST(date_trunc('day', ts) AS DATE) AS dt, count(*) AS y
       |  FROM events GROUP BY 1),
       |idx AS (
       |  SELECT y, row_number() OVER (ORDER BY dt) - 1 AS t FROM daily),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM idx),
       |blocks AS (
       |  SELECT k, t // k AS b, CAST(sum(y) AS DOUBLE) / any_value(k) AS m
       |  FROM idx CROSS JOIN nn CROSS JOIN (SELECT unnest([$klist]) AS k) ks
       |  WHERE t < (n // k) * k
       |  GROUP BY k, t // k),
       |var_k AS (
       |  SELECT k, ln(CAST(k AS DOUBLE)) AS x,
       |         ln((CAST(sum(CAST(floor(m * m * 1e3) AS BIGINT)) AS DOUBLE) / 1e3 -
       |             (CAST(sum(CAST(floor(m * 1e3) AS BIGINT)) AS DOUBLE) / 1e3) *
       |             (CAST(sum(CAST(floor(m * 1e3) AS BIGINT)) AS DOUBLE) / 1e3) / count(*)) /
       |            (count(*) - 1)) AS v
       |  FROM blocks GROUP BY k HAVING count(*) > 1),
       |fit AS (
       |  SELECT CAST(count(*) AS BIGINT) AS np,
       |         CAST(sum(CAST(floor(x * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS sx,
       |         CAST(sum(CAST(floor(v * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS sv,
       |         CAST(sum(CAST(floor(x * x * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS sxx,
       |         CAST(sum(CAST(floor(x * v * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS sxv
       |  FROM var_k)
       |SELECT n AS n_days, np AS n_scales,
       |       round(1.0 + ((sxv - sx * sv / np) / (sxx - sx * sx / np)) / 2, 4) AS hurst_h
       |FROM fit CROSS JOIN nn""".stripMargin
  }

  private val DftPeriods = Seq(5, 7, 9)
  // cos/sin tables computed ONCE here and embedded as full-precision
  // literals in BOTH engines' plans — never call trig in-engine, where
  // last-ulp differences between libm implementations could diverge
  private def trigLits(p: Int): (Seq[Double], Seq[Double]) = (
    (0 until p).map(j => math.cos(2 * math.Pi * j / p)),
    (0 until p).map(j => math.sin(2 * math.Pi * j / p)))

  /** agg-dft-weekly-power — single-bin discrete-Fourier power of the
    * mean-centered daily order count at candidate periods {5, 7, 9}:
    * the weekly cycle should dominate its neighbors, and the power
    * ratio is the seasonality-detection statistic (agg-dow-seasonality
    * shows the profile; this DETECTS it against alternatives). The
    * cos/sin basis is evaluated at t mod p, so each period needs only
    * p constants — computed once driver-side and embedded as identical
    * full-precision literals in both engines (no in-engine trig, no
    * libm-divergence risk). Per-term products floor-quantized at 1e-3
    * before the calendar-bounded fold. */
  val aggDftWeeklyPower: Q = (s, d) => {
    val wd = Window.orderBy("dt")
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(count(lit(1)).as("y"))
      .withColumn("t", row_number().over(wd) - 1)
    val mu = daily.agg(avg(col("y").cast(DoubleType)).as("mu"),
      count(lit(1)).as("n"))
    val centered = daily.crossJoin(broadcast(mu))
      .select(col("t"), col("n"), (col("y") - col("mu")).as("dev"))
    val powers = DftPeriods.map { p =>
      val (cs, ss) = trigLits(p)
      val cosArr = array(cs.map(lit(_)): _*)
      val sinArr = array(ss.map(lit(_)): _*)
      centered
        .select(col("n"),
          floor(col("dev") * element_at(cosArr, (col("t") % p + 1).cast(IntegerType)) *
            lit(1e3)).cast(LongType).as("qc"),
          floor(col("dev") * element_at(sinArr, (col("t") % p + 1).cast(IntegerType)) *
            lit(1e3)).cast(LongType).as("qs"))
        .groupBy("n")
        .agg((sum("qc").cast(DoubleType) / 1e3).as("sc"),
          (sum("qs").cast(DoubleType) / 1e3).as("ss"))
        .select(lit(p).as("period"),
          round((col("sc") * col("sc") + col("ss") * col("ss")) / col("n"), 4)
            .as("power"))
    }
    powers.reduce(_ unionAll _).orderBy("period")
  }

  val aggDftWeeklyPowerSql: String = {
    val blocks = DftPeriods.map { p =>
      val (cs, ss) = trigLits(p)
      val cosList = cs.map(v => s"$v").mkString(", ")
      val sinList = ss.map(v => s"$v").mkString(", ")
      s"""SELECT $p AS period,
         |       round((power(CAST(sum(CAST(floor(dev * ([$cosList])[(t % $p) + 1] * 1e3) AS BIGINT)) AS DOUBLE) / 1e3, 2) +
         |              power(CAST(sum(CAST(floor(dev * ([$sinList])[(t % $p) + 1] * 1e3) AS BIGINT)) AS DOUBLE) / 1e3, 2)) / any_value(n), 4) AS power
         |FROM centered""".stripMargin
    }
    s"""WITH daily AS (
       |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt, count(*) AS y
       |  FROM orders GROUP BY 1),
       |idx AS (SELECT y, row_number() OVER (ORDER BY dt) - 1 AS t FROM daily),
       |mu AS (SELECT avg(CAST(y AS DOUBLE)) AS mu, CAST(count(*) AS BIGINT) AS n FROM idx),
       |centered AS (SELECT t, n, y - mu AS dev FROM idx CROSS JOIN mu)
       |${blocks.mkString("\nUNION ALL\n")}
       |ORDER BY period""".stripMargin
  }

  /** sample-neyman-gain — how much variance optimal (Neyman)
    * allocation saves over proportional for a fixed survey budget of
    * n = 1000 orders stratified by market segment: per-stratum
    * weights/SDs from exact integer moments, allocations
    * n_h ∝ W_h·s_h, and the textbook variance ratio
    * V_ney/V_prop = (ΣW_h s_h)²/(ΣW_h s_h²). sample-weighted-alloc
    * does the integerization mechanics; this op reports WHY the
    * allocation is worth it (the gain) — near-equal per-stratum SDs
    * honestly show near-zero gain. Five-row rollup, all terminal
    * arithmetic. */
  val sampleNeymanGain: Q = (s, d) => {
    val budget = 1000.0
    val seg = orders(s, d)
      .join(customer(s, d).select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment").as("seg")), Seq("o_custkey"))
      .groupBy("seg")
      // second moments in DECIMAL(38,0): cents² sums pass 9.2e18 (long
      // overflow under ANSI) well before 100 TB; DuckDB's BIGINT sum
      // already widens to HUGEINT, decimal keeps Spark equally exact
      .agg(count(lit(1)).as("nh"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0)) * " +
          "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))")).as("sxx"))
      .select(col("seg"), col("nh"),
        sqrt((col("nh") * col("sxx") - col("sx") * col("sx")).cast(DoubleType) /
          (col("nh").cast(DoubleType) * (col("nh") - 1))).as("sh"))
      .sharedCache()
    val tot = seg.agg(sum("nh").as("n"),
      (sum(floor(col("nh") * col("sh") * lit(1e-3)).cast(LongType))
        .cast(DoubleType) * 1e3).as("sws"),
      (sum(floor(col("nh") * col("sh") * col("sh") * lit(1e-9)).cast(LongType))
        .cast(DoubleType) * 1e9).as("swss"))
    seg.crossJoin(broadcast(tot))
      .select(col("seg"), col("nh"),
        round(col("sh") / 100, 4).as("sd_usd"),
        round(lit(budget) * col("nh") / col("n"), 2).as("prop_alloc"),
        round(lit(budget) * (col("nh") * col("sh")) / col("sws"), 2).as("neyman_alloc"),
        round(lit(1.0) - (col("sws") / col("n")) * (col("sws") / col("n")) /
          (col("swss") / col("n")), 4).as("neyman_gain"))
      .orderBy("seg")
  }

  val sampleNeymanGainSql: String =
    """WITH seg AS (
      |  SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS nh,
      |         sqrt(CAST(count(*) * sum(cents * cents) - sum(cents) * sum(cents) AS DOUBLE) /
      |              (CAST(count(*) AS DOUBLE) * (count(*) - 1))) AS sh
      |  FROM (
      |    SELECT c_mktsegment,
      |           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |    FROM orders JOIN customer ON c_custkey = o_custkey) t
      |  GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(nh) AS BIGINT) AS n,
      |         CAST(sum(CAST(floor(nh * sh * 1e-3) AS BIGINT)) AS DOUBLE) * 1e3 AS sws,
      |         CAST(sum(CAST(floor(nh * sh * sh * 1e-9) AS BIGINT)) AS DOUBLE) * 1e9 AS swss
      |  FROM seg)
      |SELECT seg, nh, round(sh / 100, 4) AS sd_usd,
      |       round(1000.0 * nh / n, 2) AS prop_alloc,
      |       round(1000.0 * (nh * sh) / sws, 2) AS neyman_alloc,
      |       round(1.0 - (sws / n) * (sws / n) / (swss / n), 4) AS neyman_gain
      |FROM seg CROSS JOIN tot
      |ORDER BY seg""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-littles-law", aggLittlesLaw, aggLittlesLawSql),
    Key("agg-hurst-exponent", aggHurstExponent, aggHurstExponentSql),
    Key("agg-dft-weekly-power", aggDftWeeklyPower, aggDftWeeklyPowerSql),
    Key("sample-neyman-gain", sampleNeymanGain, sampleNeymanGainSql))
}
