package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch BL: SPC family completion — p-chart (attribute
  * proportions), u-chart (defects per unit), EWMA chart (small-shift
  * detection), and GESD sequential outlier rounds. Together with the
  * existing agg-xbar-r-chart (subgroup means), dq-imr-chart (n=1
  * individuals) and dq-western-electric (run rules) this closes the
  * classical control-chart menu. */
object RelMore163 extends KeyModule {

  /** dq-p-chart — attribute control chart on the daily share of
    * urgent orders (priority 1-2): centerline p̄ = ΣX/ΣN, per-day 3σ
    * binomial limits p̄ ± 3√(p̄(1−p̄)/nᵢ) that WIDEN on thin days (the
    * varying-n limits are the whole point of p over np charts), and
    * the worst 5 out-of-control days by absolute excess. Counts are
    * exact; the limit compare is one deterministic double expression
    * evaluated identically by both engines. */
  val dqPChart: Q = (s, d) => {
    val day = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(count(lit(1)).as("n"),
        sum(when(substring(col("o_orderpriority"), 1, 1).isin("1", "2"), 1L)
          .otherwise(0L)).as("x"))
      .sharedCache()
    val tot = day.agg(sum("n").as("sn"), sum("x").as("sx"),
      count(lit(1)).as("n_days"))
    val flagged = day.crossJoin(broadcast(tot))
      .withColumn("pbar", col("sx").cast(DoubleType) / col("sn").cast(DoubleType))
      .withColumn("p", col("x").cast(DoubleType) / col("n").cast(DoubleType))
      .withColumn("lim", lit(3.0) * sqrt(col("pbar") * (lit(1.0) - col("pbar")) /
        col("n").cast(DoubleType)))
      .withColumn("excess", abs(col("p") - col("pbar")) - col("lim"))
      .sharedCache()
    val nv = flagged.filter(col("excess") > 0).agg(count(lit(1)).as("n_violations"))
    flagged.filter(col("excess") > 0)
      .orderBy(col("excess").desc, col("dt"))
      .limit(5)
      .crossJoin(broadcast(nv))
      .select(col("dt").as("day"), col("n").as("n_orders"),
        round(col("p"), 4).as("urgent_share"),
        round(col("pbar"), 4).as("centerline"),
        round(col("lim"), 4).as("limit_halfwidth"),
        round(col("excess"), 4).as("excess"),
        col("n_violations"))
      .orderBy(col("excess").desc, col("day"))
  }

  val dqPChartSql: String =
    """WITH day AS MATERIALIZED (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CASE WHEN substring(o_orderpriority, 1, 1) IN ('1','2')
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |tot AS (SELECT sum(n) AS sn, sum(x) AS sx FROM day),
      |flagged AS MATERIALIZED (
      |  SELECT dt, n,
      |         CAST(x AS DOUBLE) / n AS p,
      |         CAST(sx AS DOUBLE) / sn AS pbar,
      |         3.0 * sqrt((CAST(sx AS DOUBLE) / sn) * (1.0 - CAST(sx AS DOUBLE) / sn)
      |                    / n) AS lim,
      |         abs(CAST(x AS DOUBLE) / n - CAST(sx AS DOUBLE) / sn) -
      |           3.0 * sqrt((CAST(sx AS DOUBLE) / sn) * (1.0 - CAST(sx AS DOUBLE) / sn)
      |                      / n) AS excess
      |  FROM day CROSS JOIN tot),
      |nv AS (SELECT CAST(count(*) AS BIGINT) AS n_violations
      |       FROM flagged WHERE excess > 0)
      |SELECT dt AS day, n AS n_orders, round(p, 4) AS urgent_share,
      |       round(pbar, 4) AS centerline, round(lim, 4) AS limit_halfwidth,
      |       round(excess, 4) AS excess, n_violations
      |FROM (SELECT * FROM flagged WHERE excess > 0
      |      ORDER BY excess DESC, dt LIMIT 5) t
      |CROSS JOIN nv
      |ORDER BY excess DESC, day""".stripMargin

  /** dq-u-chart — defects-per-unit chart on the event stream: per day,
    * u = error events / distinct active users, centerline ū = ΣD/ΣU,
    * per-day limits ū ± 3√(ū/unitsᵢ) (Poisson counts normalized by a
    * varying inspection-unit count — the u chart's defining feature
    * vs the fixed-unit c chart). Reports every day with its in/out
    * state rather than only violations (the event fixture spans ~1
    * month, so the full chart is small); counts exact, limits one
    * double expression. */
  val dqUChart: Q = (s, d) => {
    val day = events(s, d)
      .groupBy(to_date(col("ts")).as("dt"))
      .agg(sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("defects"),
        countDistinct("user_id").as("units"))
      .sharedCache()
    val tot = day.agg(sum("defects").as("sd"), sum("units").as("su"))
    day.crossJoin(broadcast(tot))
      .withColumn("ubar", col("sd").cast(DoubleType) / col("su").cast(DoubleType))
      .withColumn("u", col("defects").cast(DoubleType) / col("units").cast(DoubleType))
      .withColumn("lim", lit(3.0) * sqrt(col("ubar") / col("units").cast(DoubleType)))
      .select(col("dt").as("day"), col("defects"), col("units"),
        round(col("u"), 4).as("errors_per_user"),
        round(col("ubar"), 4).as("centerline"),
        round(col("ubar") + col("lim"), 4).as("ucl"),
        round(greatest(col("ubar") - col("lim"), lit(0.0)), 4).as("lcl"),
        (abs(col("u") - col("ubar")) > col("lim")).as("out_of_control"))
      .orderBy("day")
  }

  val dqUChartSql: String =
    """WITH day AS MATERIALIZED (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS dt,
      |         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
      |              AS BIGINT) AS defects,
      |         CAST(count(DISTINCT user_id) AS BIGINT) AS units
      |  FROM events GROUP BY 1),
      |tot AS (SELECT CAST(sum(defects) AS DOUBLE) / sum(units) AS ubar FROM day)
      |SELECT dt AS day, defects, units,
      |       round(CAST(defects AS DOUBLE) / units, 4) AS errors_per_user,
      |       round(ubar, 4) AS centerline,
      |       round(ubar + 3.0 * sqrt(ubar / units), 4) AS ucl,
      |       round(greatest(ubar - 3.0 * sqrt(ubar / units), 0.0), 4) AS lcl,
      |       abs(CAST(defects AS DOUBLE) / units - ubar) >
      |         3.0 * sqrt(ubar / units) AS out_of_control
      |FROM day CROSS JOIN tot
      |ORDER BY day""".stripMargin

  /** dq-ewma-chart — the EWMA control chart (λ = 0.2) on daily
    * revenue, the standard small-shift detector (an EWMA chart flags
    * sustained 0.5-1σ drifts that Shewhart charts miss). The statistic
    * is the 8-lag TRUNCATED exponentially-weighted mean with weights
    * renormalized to sum exactly 1 (truncation keeps the arithmetic a
    * fixed pow(0.8,k) dot product — bit-identical in both engines and
    * window-free of unbounded recursion; the dropped tail mass is
    * 0.8⁸ ≈ 1.7%, stated). σ̂ = M̄R/1.128 from the moving range (the
    * I-MR convention), steady-state limits ±3σ̂√(λ/(2−λ)). Evaluated
    * from the 8th day on; reports violation count + worst 5. */
  val dqEwmaChart: Q = (s, d) => {
    val w = Window.orderBy("dt")
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
        .as("v"))
      .withColumn("mr", abs(col("v") - lag("v", 1).over(w)))
    val lam = 0.2
    val wsum = (0 to 7).map(k => lam * math.pow(1 - lam, k)).sum
    val ewma = (0 to 7).map { k =>
      lit(lam * math.pow(1 - lam, k) / wsum) *
        lag(col("v").cast(DoubleType), k).over(w)
    }.reduce(_ + _)
    val base = daily
      .withColumn("rn", row_number().over(w))
      .withColumn("ewma", ewma)
      .sharedCache()
    val stats = base.agg(
      (sum("mr").cast(DoubleType) / count(col("mr")).cast(DoubleType) / lit(1.128))
        .as("sigma"),
      (sum("v").cast(DoubleType) / count(lit(1)).cast(DoubleType)).as("mu"))
    val flagged = base.filter(col("rn") >= 8)
      .crossJoin(broadcast(stats))
      .withColumn("lim", lit(3.0) * col("sigma") * sqrt(lit(lam / (2 - lam))))
      .withColumn("excess", abs(col("ewma") - col("mu")) - col("lim"))
      .sharedCache()
    val nv = flagged.filter(col("excess") > 0).agg(count(lit(1)).as("n_violations"))
    flagged.filter(col("excess") > 0)
      .orderBy(col("excess").desc, col("dt"))
      .limit(5)
      .crossJoin(broadcast(nv))
      .select(col("dt").as("day"),
        round(col("ewma") / 100, 2).as("ewma_usd"),
        round(col("mu") / 100, 2).as("centerline_usd"),
        round(col("lim") / 100, 2).as("limit_halfwidth_usd"),
        round(col("excess") / 100, 2).as("excess_usd"),
        col("n_violations"))
      .orderBy(col("excess_usd").desc, col("day"))
  }

  val dqEwmaChartSql: String = {
    val lam = 0.2
    val wsum = (0 to 7).map(k => lam * math.pow(1 - lam, k)).sum
    val terms = (0 to 7).map { k =>
      s"(${lam * math.pow(1 - lam, k)} / $wsum) * " +
        s"CAST(lag(v, $k) OVER (ORDER BY dt) AS DOUBLE)"
    }.mkString(" + ")
    s"""WITH daily AS MATERIALIZED (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS v
      |  FROM orders GROUP BY 1),
      |base AS MATERIALIZED (
      |  SELECT dt, v, abs(v - lag(v) OVER (ORDER BY dt)) AS mr,
      |         row_number() OVER (ORDER BY dt) AS rn,
      |         $terms AS ewma
      |  FROM daily),
      |stats AS (
      |  SELECT CAST(sum(mr) AS DOUBLE) / count(mr) / 1.128 AS sigma,
      |         CAST(sum(v) AS DOUBLE) / count(*) AS mu
      |  FROM base),
      |flagged AS MATERIALIZED (
      |  SELECT dt, ewma, mu,
      |         3.0 * sigma * sqrt(${lam / (2 - lam)}) AS lim,
      |         abs(ewma - mu) - 3.0 * sigma * sqrt(${lam / (2 - lam)}) AS excess
      |  FROM base CROSS JOIN stats WHERE rn >= 8),
      |nv AS (SELECT CAST(count(*) AS BIGINT) AS n_violations
      |       FROM flagged WHERE excess > 0)
      |SELECT dt AS day, round(ewma / 100, 2) AS ewma_usd,
      |       round(mu / 100, 2) AS centerline_usd,
      |       round(lim / 100, 2) AS limit_halfwidth_usd,
      |       round(excess / 100, 2) AS excess_usd, n_violations
      |FROM (SELECT * FROM flagged WHERE excess > 0
      |      ORDER BY excess DESC, dt LIMIT 5) t
      |CROSS JOIN nv
      |ORDER BY excess_usd DESC, day""".stripMargin
  }

  /** dq-gesd-outliers — three rounds of the generalized extreme
    * studentized deviate procedure on daily revenue: each round
    * computes the remaining set's mean/σ from exact sums, pulls the
    * single most-studentized day, and tests R against the fixed 3.0
    * gate (the z-approximation of the GESD t-quantile — stated; the
    * sequential re-estimation after each removal is what makes GESD
    * robust to masking, where one huge outlier inflates σ and hides
    * the second — the exact failure mode single-pass dq-grubbs-stat /
    * dq-tukey-fences cannot see). r = 3 unrolled stages, each one
    * agg + one argmax — no iteration state, same shape both engines. */
  val dqGesdOutliers: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
        .as("v"))
      .sharedCache()

    // One GESD round: argmax studentized deviate over `cur`, returns
    // (flag row, remaining set). Moments from exact decimal sums.
    def round1(cur: DataFrame, roundNo: Int): (DataFrame, DataFrame) = {
      val mom = cur.agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum("v").as("s1"), sum(col("v") * col("v")).as("s2"))
      val scored = cur.crossJoin(broadcast(mom))
        .withColumn("mu", col("s1").cast(DoubleType) / col("n").cast(DoubleType))
        .withColumn("sd", sqrt(col("s2").cast(DoubleType) / col("n").cast(DoubleType) -
          col("mu") * col("mu")))
        .withColumn("r", abs(col("v").cast(DoubleType) - col("mu")) / col("sd"))
      val top = scored.orderBy(col("r").desc, col("dt")).limit(1)
        .select(lit(roundNo).as("round"), col("dt").as("removed_day"),
          org.apache.spark.sql.functions.round(col("v").cast(DoubleType) / 100, 2)
            .as("revenue_usd"),
          org.apache.spark.sql.functions.round(col("r"), 4).as("r_statistic"),
          (col("r") > 3.0).as("outlier"))
      val rest = cur.join(top.select(col("removed_day")),
        cur("dt") === col("removed_day"), "left_anti")
      (top, rest)
    }

    // single-stage fills: each round reads its input THREE times in one
    // action (moment broadcast + scoring + the anti-join), and broadcast
    // subtrees execute on their own threads — the concurrent-first-fill
    // block-put race r13's WarnProbe attributed here. Tiny frames
    // (≤2.4k calendar days), so the fills are O(ms).
    daily.count()
    val (f1, rest1) = round1(daily, 1)
    val r1c = rest1.sharedCache()
    r1c.count()
    val (f2, rest2) = round1(r1c, 2)
    val r2c = rest2.sharedCache()
    r2c.count()
    val (f3, _) = round1(r2c, 3)
    f1.unionAll(f2).unionAll(f3).orderBy("round")
  }

  val dqGesdOutliersSql: String = {
    // one round as SQL over a named input CTE → flag + remaining CTEs
    def roundSql(in: String, no: Int): String =
      s"""mom$no AS (SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(v) AS HUGEINT) AS s1,
        |            CAST(sum(v * v) AS HUGEINT) AS s2 FROM $in),
        |scored$no AS (
        |  SELECT dt, v,
        |         abs(CAST(v AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) /
        |           sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) -
        |                (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) *
        |                (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))) AS r
        |  FROM $in CROSS JOIN mom$no),
        |top$no AS (SELECT $no AS round, dt AS removed_day,
        |              round(CAST(v AS DOUBLE) / 100, 2) AS revenue_usd,
        |              round(r, 4) AS r_statistic, r > 3.0 AS outlier
        |       FROM scored$no ORDER BY r DESC, dt LIMIT 1),
        |rest$no AS (SELECT dt, v FROM $in
        |        WHERE dt NOT IN (SELECT removed_day FROM top$no))""".stripMargin
    s"""WITH daily AS MATERIALIZED (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS v
      |  FROM orders GROUP BY 1),
      |${roundSql("daily", 1)},
      |${roundSql("rest1", 2)},
      |${roundSql("rest2", 3)}
      |SELECT round, removed_day, revenue_usd, r_statistic, outlier
      |FROM (SELECT * FROM top1 UNION ALL SELECT * FROM top2
      |      UNION ALL SELECT * FROM top3) u
      |ORDER BY round""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    Key("dq-p-chart", dqPChart, dqPChartSql),
    Key("dq-u-chart", dqUChart, dqUChartSql),
    Key("dq-ewma-chart", dqEwmaChart, dqEwmaChartSql),
    Key("dq-gesd-outliers", dqGesdOutliers, dqGesdOutliersSql))
}
