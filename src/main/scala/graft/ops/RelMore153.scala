package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch BB: SLO burn-rate windows, PSIS k-hat, PQ subspace
  * energy balance, von Neumann succession ratio. */
object RelMore153 extends KeyModule {

  /** dq-slo-burn-rate — Google-SRE multiwindow burn-rate alerting
    * replayed over the event stream: against a 75%-success SLO (25%
    * error budget), the hourly burn rate is error_rate/0.25, and an
    * alert fires only when BOTH the 1h and the trailing-6h windows
    * burn above 2× — the two-window trick that kills the flapping a
    * single threshold produces (dq-alarm-flappiness measures that
    * pathology; this op is the standard cure). Hourly buckets from
    * integer micros arithmetic; the 6h window is a range frame over
    * the hour index (state bounded by the window, the streaming-
    * friendly shape); rates are exact integer ratios quantized once.
    * Output: coverage plus the alert episodes. */
  val dqSloBurnRate: Q = (s, d) => {
    val hourly = events(s, d)
      .select(expr("CAST(unix_micros(ts) div 3600000000 AS BIGINT)").as("hr"),
        when(col("event_type") === "error", 1L).otherwise(0L).as("err"))
      .groupBy("hr").agg(count(lit(1)).as("n"), sum("err").as("e"))
    val w6 = Window.orderBy("hr").rangeBetween(-5, 0)
    val burns = hourly
      .withColumn("n6", sum("n").over(w6))
      .withColumn("e6", sum("e").over(w6))
      // burn = (e/n)/0.25 = 4e/n, micro-quantized
      .select(col("hr"),
        expr("CAST((e * 4000000 - pmod(e * 4000000, n)) / n AS BIGINT)").as("b1q"),
        expr("CAST((e6 * 4000000 - pmod(e6 * 4000000, n6)) / n6 AS BIGINT)").as("b6q"))
      .sharedCache()
    val alerts = burns.filter(col("b1q") > 2000000 && col("b6q") > 2000000)
      .agg(count(lit(1)).as("alert_hours"))
    burns.agg(count(lit(1)).as("n_hours"),
        max("b1q").as("mb1"), max("b6q").as("mb6"))
      .crossJoin(broadcast(alerts))
      .select(col("n_hours"),
        round(col("mb1").cast(DoubleType) / 1e6, 4).as("max_burn_1h"),
        round(col("mb6").cast(DoubleType) / 1e6, 4).as("max_burn_6h"),
        col("alert_hours"),
        ratioFloor(col("alert_hours").cast(DoubleType), col("n_hours"), 6)
          .as("alert_share"))
  }

  val dqSloBurnRateSql: String =
    """WITH hourly AS (
      |  SELECT epoch_us(date_trunc('microseconds', ts)) // 3600000000 AS hr,
      |         CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS e
      |  FROM events GROUP BY 1),
      |burns AS MATERIALIZED (
      |  SELECT hr,
      |         (e * 4000000) // n AS b1q,
      |         (CAST(sum(e) OVER w AS BIGINT) * 4000000) //
      |           CAST(sum(n) OVER w AS BIGINT) AS b6q
      |  FROM hourly
      |  WINDOW w AS (ORDER BY hr RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)),
      |alerts AS (
      |  SELECT CAST(count(*) AS BIGINT) AS alert_hours
      |  FROM burns WHERE b1q > 2000000 AND b6q > 2000000)
      |SELECT CAST(count(*) AS BIGINT) AS n_hours,
      |       round(CAST(max(b1q) AS DOUBLE) / 1e6, 4) AS max_burn_1h,
      |       round(CAST(max(b6q) AS DOUBLE) / 1e6, 4) AS max_burn_6h,
      |       alert_hours,
      |       floor(CAST(alert_hours AS DOUBLE) * 1e6 / count(*)) / 1e6 AS alert_share
      |FROM burns CROSS JOIN alerts
      |GROUP BY alert_hours""".stripMargin

  /** sample-psis-khat — the Pareto-smoothed-importance-sampling k̂
    * diagnostic for a size-biased reweighting of orders (target ∝
    * value, uniform proposal ⇒ wᵢ = valueᵢ/mean): fit a GPD shape to
    * the top-20% weight tail by the PWM closed form and read the
    * verdict ladder (k̂<0.5 reliable, <0.7 shaky, ≥0.7 unusable —
    * infinite-variance territory). sample-importance-weights reports
    * ESS, but ESS degrades SMOOTHLY while the estimator breaks
    * SUDDENLY; k̂ is the modern early warning (Vehtari et al.), and
    * pairing it with the reported ESS shows exactly that divergence.
    * Tail selection by exact order statistic; PWM moments fold
    * exact integer excesses; one sort window. */
  val samplePsisKhat: Q = (s, d) => {
    val w = orders(s, d)
      .select(col("o_orderkey").as("ok"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))").as("v"))
      .sharedCache()
    val tot = w.agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"), sum("v").as("sv"))
    // weights scaled ×1e6 as exact integers: wq = v·n·1e6 div Σv
    val wq = w.crossJoin(broadcast(tot))
      .select(col("ok"), col("n"),
        expr("CAST((v * n * 1000000 - pmod(v * n * 1000000, sv)) / sv AS DECIMAL(38,0))")
          .cast(LongType).as("wq"))
      .sharedCache()
    // tail selection by global position: the old row_number ran the
    // ENTIRE per-order weight table through one single-partition sort
    // — the largest frame the r13 census still allowlisted; the
    // PrefixScan two-pass stamps the identical (wq desc, ok) rank
    // fully parallel (r14 port)
    val ranked = graft.functions.PrefixScan.withRankCumSum(
        wq, Seq(col("wq").desc, col("ok")), None, rankName = "rk").df
      .filter(expr("rk <= (n - pmod(n, 5)) / 5"))
    val thresh = ranked.agg(min("wq").as("u"), count(lit(1)).as("m"))
    val pwm = ranked.crossJoin(broadcast(thresh))
      .select((col("wq") - col("u")).as("x"), col("m"),
        (col("m") - col("rk")).as("below"))
      .agg(max("m").as("m"),
        sum(expr("CAST(x AS DECIMAL(38,0))")).as("b0n"),
        // b1 weights by the share of sample below (PWM on the sorted
        // tail: excesses ranked ascending = m − rk)
        sum(expr("CAST(x AS DECIMAL(38,0)) * below")).as("b1n"))
      .select(col("m"),
        (col("b0n").cast(DoubleType) / col("m").cast(DoubleType)).as("b0"),
        (col("b1n").cast(DoubleType) /
          (col("m") * (col("m") - 1)).cast(DoubleType)).as("b1"))
    val ess = wq.agg((sum(expr("CAST(wq AS DECIMAL(38,0))")) *
        sum(expr("CAST(wq AS DECIMAL(38,0))"))).cast(DoubleType).as("s2"),
      sum(expr("CAST(wq AS DECIMAL(38,0)) * wq")).cast(DoubleType).as("ss"),
      count(lit(1)).as("n"))
    pwm.crossJoin(broadcast(ess))
      .select(col("n").as("n_rows"), col("m").as("n_tail"),
        // GPD PWM: k̂ = 2 − b0/(b0 − 2b1)  (shape ξ convention)
        round(lit(2.0) - col("b0") / (col("b0") - lit(2) * col("b1")), 4).as("khat"),
        round(col("s2") / col("ss"), 1).as("ess"))
      .withColumn("verdict", when(col("khat") < 0.5, "reliable")
        .when(col("khat") < 0.7, "shaky").otherwise("unusable"))
  }

  val samplePsisKhatSql: String =
    """WITH w AS MATERIALIZED (
      |  SELECT o_orderkey AS ok,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT) AS v
      |  FROM orders),
      |tot AS (SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(v) AS HUGEINT) AS sv
      |        FROM w),
      |wq AS MATERIALIZED (
      |  SELECT ok, CAST(n AS BIGINT) AS n,
      |         CAST((v * n * 1000000) // sv AS BIGINT) AS wq
      |  FROM w CROSS JOIN tot),
      |ranked AS (
      |  SELECT wq, rk, n FROM (
      |    SELECT wq, n, row_number() OVER (ORDER BY wq DESC, ok) AS rk FROM wq) t
      |  WHERE rk <= (n - n % 5) // 5),
      |thresh AS (SELECT min(wq) AS u, CAST(count(*) AS BIGINT) AS m FROM ranked),
      |pwm AS (
      |  SELECT max(m) AS m,
      |         CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) / max(m) AS b0,
      |         CAST(sum(CAST(x AS HUGEINT) * below) AS DOUBLE) /
      |           (CAST(max(m) AS DOUBLE) * (max(m) - 1)) AS b1
      |  FROM (
      |    SELECT wq - u AS x, m, m - rk AS below
      |    FROM ranked CROSS JOIN thresh) t),
      |ess AS (
      |  SELECT CAST(sum(CAST(wq AS HUGEINT)) * sum(CAST(wq AS HUGEINT)) AS DOUBLE) AS s2,
      |         CAST(sum(CAST(wq AS HUGEINT) * wq) AS DOUBLE) AS ss,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM wq)
      |SELECT n AS n_rows, m AS n_tail,
      |       round(2.0 - b0 / (b0 - 2 * b1), 4) AS khat,
      |       round(s2 / ss, 1) AS ess,
      |       CASE WHEN round(2.0 - b0 / (b0 - 2 * b1), 4) < 0.5 THEN 'reliable'
      |            WHEN round(2.0 - b0 / (b0 - 2 * b1), 4) < 0.7 THEN 'shaky'
      |            ELSE 'unusable' END AS verdict
      |FROM pwm CROSS JOIN ess""".stripMargin

  /** emb-subspace-energy — centered energy per 8-dimension PQ
    * subspace: the variance share each would-be product-quantizer
    * codebook must encode, plus the max/min imbalance ratio. PQ
    * splits dims into contiguous groups and trains one codebook per
    * group; when energy is imbalanced the hot subspace dominates
    * quantization error while cold codebooks waste bits (the
    * OPQ/rotation literature exists to fix exactly this) — so this
    * ratio is the one-number go/no-go for naive contiguous PQ on
    * this corpus, upstream of emb-pq-assign/emb-pq-usage. Exact
    * integer component moments per dim (micro-quantized), summed per
    * subspace; shares exact. */
  val embSubspaceEnergy: Q = (s, d) => {
    val comps = embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim"), floor(col("x").cast(DoubleType) * lit(1e6))
        .cast(LongType).as("xq"))
    val perDim = comps.groupBy("dim")
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum(expr("CAST(xq AS DECIMAL(38,0))")).as("t"),
        sum(expr("CAST(xq AS DECIMAL(38,0)) * xq")).as("u"))
      .select((col("dim") / 8).cast(IntegerType).as("subspace"),
        (col("n") * col("u") - col("t") * col("t")).as("en"))
    val perSub = perDim.groupBy("subspace").agg(sum("en").as("e")).sharedCache()
    val tot = perSub.agg(sum("e").as("te"), max("e").as("emax"), min("e").as("emin"))
    perSub.crossJoin(broadcast(tot))
      .select(col("subspace"),
        ratioFloor(col("e").cast(DoubleType), col("te"), 6).as("energy_share"),
        round(col("emax").cast(DoubleType) / col("emin").cast(DoubleType), 4)
          .as("imbalance_ratio"))
      .orderBy("subspace")
  }

  val embSubspaceEnergySql: String =
    """WITH comps AS (
      |  SELECT dim, CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT) AS xq
      |  FROM (
      |    SELECT unnest(embedding) AS x,
      |           generate_subscripts(embedding, 1) - 1 AS dim
      |    FROM embeddings) t),
      |per_dim AS (
      |  SELECT CAST(dim // 8 AS INTEGER) AS subspace,
      |         CAST(count(*) AS HUGEINT) * CAST(sum(CAST(xq AS HUGEINT) * xq) AS HUGEINT)
      |           - CAST(sum(xq) AS HUGEINT) * CAST(sum(xq) AS HUGEINT) AS en
      |  FROM comps GROUP BY dim),
      |per_sub AS MATERIALIZED (
      |  SELECT subspace, CAST(sum(en) AS HUGEINT) AS e FROM per_dim GROUP BY 1),
      |tot AS (SELECT CAST(sum(e) AS HUGEINT) AS te, max(e) AS emax, min(e) AS emin
      |        FROM per_sub)
      |SELECT subspace,
      |       floor(CAST(e AS DOUBLE) * 1e6 / CAST(te AS DOUBLE)) / 1e6 AS energy_share,
      |       round(CAST(emax AS DOUBLE) / CAST(emin AS DOUBLE), 4) AS imbalance_ratio
      |FROM per_sub CROSS JOIN tot
      |ORDER BY subspace""".stripMargin

  /** dq-von-neumann-ratio — the mean-square-successive-difference
    * test on daily revenue: VN = Σ(Δx)²/Σ(x−x̄)², expected 2 under
    * independence, BELOW 2 under positive serial correlation (smooth
    * drift), ABOVE 2 under oscillation. The third member of the
    * randomness triptych — dq-runs-test sees signs, dq-turning-points
    * sees local extrema, von Neumann sees MAGNITUDE of successive
    * moves — and the cheapest (no ranking, two exact sums). VN is an
    * exact integer rational via cleared denominators (n·Σd² over
    * nΣx²−(Σx)²); z uses the classic asymptotic variance
    * 4(n−2)/(n²−1). */
  val dqVonNeumannRatio: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
        .as("v"))
    // r12: neighbor stitch, not a global-sort lag window (census port)
    val stats = graft.functions.PrefixScan
      .withNeighbor(daily, Seq(col("dt")), Seq("v"))
      .withColumnRenamed("v_adj", "prev")
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum("v").as("sv"), sum(expr("v * v")).as("svv"),
        sum(expr("CASE WHEN prev IS NOT NULL THEN (v - prev) * (v - prev) END"))
          .as("sd2"))
    stats.select(col("n").cast(LongType).as("n_days"),
        ((col("n") * col("sd2")).cast(DoubleType) /
          (col("n") * col("svv") - col("sv") * col("sv")).cast(DoubleType)).as("vn"))
      .select(col("n_days"), round(col("vn"), 6).as("von_neumann_ratio"),
        round((col("vn") - 2) /
          sqrt(lit(4.0) * (col("n_days") - 2) /
            (col("n_days").cast(DoubleType) * col("n_days") - 1)), 4).as("z_stat"))
      .withColumn("serially_dependent", abs(col("z_stat")) > lit(1.96))
  }

  val dqVonNeumannRatioSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS v
      |  FROM orders GROUP BY 1),
      |stats AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |         CAST(sum(v) AS HUGEINT) AS sv,
      |         CAST(sum(v * v) AS HUGEINT) AS svv,
      |         CAST(sum(CASE WHEN prev IS NOT NULL
      |                       THEN (v - prev) * (v - prev) END) AS HUGEINT) AS sd2
      |  FROM (SELECT v, lag(v) OVER (ORDER BY dt) AS prev FROM daily) t),
      |m AS (
      |  SELECT CAST(n AS BIGINT) AS n_days,
      |         CAST(n * sd2 AS DOUBLE) / CAST(n * svv - sv * sv AS DOUBLE) AS vn
      |  FROM stats)
      |SELECT n_days, round(vn, 6) AS von_neumann_ratio,
      |       round((vn - 2) / sqrt(4.0 * (n_days - 2) /
      |             (CAST(n_days AS DOUBLE) * n_days - 1)), 4) AS z_stat,
      |       abs(round((vn - 2) / sqrt(4.0 * (n_days - 2) /
      |             (CAST(n_days AS DOUBLE) * n_days - 1)), 4)) > 1.96
      |         AS serially_dependent
      |FROM m""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("dq-slo-burn-rate", dqSloBurnRate, dqSloBurnRateSql),
    Key("sample-psis-khat", samplePsisKhat, samplePsisKhatSql),
    Key("emb-subspace-energy", embSubspaceEnergy, embSubspaceEnergySql),
    Key("dq-von-neumann-ratio", dqVonNeumannRatio, dqVonNeumannRatioSql))
}
