package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch J: binary-segmentation changepoint, geo nearest-
  * warehouse assignment, Nelson-Aalen cumulative hazard, GPD
  * peaks-over-threshold tail fit. */
object RelMore109 extends KeyModule {

  /** win-binseg-split — the first binary-segmentation changepoint of
    * the daily revenue series: the split k maximizing the CUSUM
    * statistic |D_k| = |n·P_k − k·S_n| (P = prefix sum), i.e. the
    * single date that best explains the series as two constant
    * levels. agg-changepoint-cusum THRESHOLDS a drift statistic;
    * binary segmentation LOCATES the break — it is the recursion
    * step of the classic changepoint algorithm (applied once; deeper
    * splits re-run the op on each side). D_k is exact integer
    * arithmetic end-to-end (DECIMAL(38,0): cents×days ≈ 1e14 at
    * sf0.01, ≈1e25 at 100 TB — still inside 38 digits), so the
    * argmax is tie-safe (earliest date wins on equal |D|). One daily
    * rollup + one prefix-sum window + one order-by-limit-1: the
    * data-sized work is the rollup scan. */
  val winBinsegSplit: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("y"))
    val wp = Window.orderBy("dt")
    val tot = daily.agg(count(lit(1)).as("n"),
      sum(expr("CAST(y AS DECIMAL(38,0))")).as("sn"))
    val pre = daily
      .withColumn("k", row_number().over(wp))
      .withColumn("pk", sum(expr("CAST(y AS DECIMAL(38,0))")).over(wp))
      .crossJoin(broadcast(tot))
      .filter(col("k") < col("n"))
      .withColumn("dk", col("n") * col("pk") - col("k") * col("sn"))
    pre.orderBy(abs(col("dk")).desc, col("dt"))
      .limit(1)
      .select(col("dt").as("split_dt"), col("k").cast(LongType).as("k"),
        col("n").cast(LongType).as("n_days"),
        ratioFloor(col("pk"), col("k") * 100, 2).as("mean_before_usd"),
        ratioFloor(col("sn") - col("pk"), (col("n") - col("k")) * 100, 2)
          .as("mean_after_usd"))
  }

  val winBinsegSplitSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sn
      |        FROM daily),
      |pre AS (
      |  SELECT dt, k, pk, n, sn, n * pk - k * sn AS dk FROM (
      |    SELECT dt,
      |           CAST(row_number() OVER (ORDER BY dt) AS HUGEINT) AS k,
      |           CAST(sum(CAST(y AS HUGEINT)) OVER (ORDER BY dt) AS HUGEINT) AS pk
      |    FROM daily) t CROSS JOIN tot
      |  WHERE k < n)
      |SELECT dt AS split_dt, CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n_days,
      |       floor(CAST(pk AS DOUBLE) * 1e2 / CAST(k * 100 AS DOUBLE)) / 1e2 AS mean_before_usd,
      |       floor(CAST(sn - pk AS DOUBLE) * 1e2 / CAST((n - k) * 100 AS DOUBLE)) / 1e2 AS mean_after_usd
      |FROM pre
      |ORDER BY abs(dk) DESC, dt LIMIT 1""".stripMargin

  /** join-geo-knn — nearest-warehouse assignment by haversine
    * distance: every customer (synthetic lat/lon derived from two
    * md5 bytes of its key — deterministic, engine-identical) is
    * assigned to the closest of 20 warehouse sites (derived the same
    * way from the 20 smallest supplier keys), then per-warehouse
    * demand is rolled up. This is the geo-join shape (store
    * assignment, delivery zoning, cell-tower mapping) done the way
    * it scales: the SMALL site dimension broadcasts and the big side
    * never shuffles — 20 trig evaluations per row, no cross-shuffle;
    * with thousands of sites the same op gets a lat-band bucket join
    * (band = floor(lat/Δ), candidate bands ±1) which this query's
    * structure admits without changing semantics. Distances are
    * doubles from identical haversine expressions; per-customer
    * argmin is tie-broken by warehouse key; the rolled-up mean
    * distance is floor-quantized from exact per-row milli-km. */
  val joinGeoKnn: Q = (s, d) => {
    def mdByte(key: String, pos: Int): Column =
      (expr(s"instr('0123456789abcdef', substring(md5(CAST($key AS STRING)), ${2 * pos - 1}, 1))") - 1) * 16 +
        (expr(s"instr('0123456789abcdef', substring(md5(CAST($key AS STRING)), ${2 * pos}, 1))") - 1)
    val cust = customer(s, d).select(col("c_custkey"),
      (mdByte("c_custkey", 1).cast(DoubleType) * lit(140.0) / 255 - 70).as("lat"),
      (mdByte("c_custkey", 2).cast(DoubleType) * lit(360.0) / 255 - 180).as("lon"))
    val wh = supplier(s, d).orderBy("s_suppkey").limit(20)
      .select(col("s_suppkey").as("wkey"),
        (mdByte("s_suppkey", 1).cast(DoubleType) * lit(140.0) / 255 - 70).as("wlat"),
        (mdByte("s_suppkey", 2).cast(DoubleType) * lit(360.0) / 255 - 180).as("wlon"))
    val paired = cust.crossJoin(broadcast(wh))
      .withColumn("dist_km", lit(2.0) * lit(6371.0) * asin(sqrt(
        pow(sin(radians(col("wlat") - col("lat")) / 2), 2) +
          cos(radians(col("lat"))) * cos(radians(col("wlat"))) *
            pow(sin(radians(col("wlon") - col("lon")) / 2), 2))))
    val wn = Window.partitionBy("c_custkey").orderBy(col("dist_km"), col("wkey"))
    paired.withColumn("rn", row_number().over(wn))
      .filter(col("rn") === 1)
      .withColumn("dist_mkm", floor(col("dist_km") * 1000).cast(LongType))
      .groupBy("wkey")
      .agg(count(lit(1)).as("n_customers"), sum("dist_mkm").as("sum_dist_mkm"))
      .select(col("wkey"), col("n_customers"), col("sum_dist_mkm"),
        ratioFloor(col("sum_dist_mkm"), col("n_customers") * 1000, 3).as("mean_dist_km"))
      .orderBy("wkey")
  }

  val joinGeoKnnSql: String =
    """WITH cust AS (
      |  SELECT c_custkey,
      |         ((strpos('0123456789abcdef', substring(md5(CAST(c_custkey AS VARCHAR)), 1, 1)) - 1) * 16 +
      |          (strpos('0123456789abcdef', substring(md5(CAST(c_custkey AS VARCHAR)), 2, 1)) - 1))
      |           * 140.0 / 255 - 70 AS lat,
      |         ((strpos('0123456789abcdef', substring(md5(CAST(c_custkey AS VARCHAR)), 3, 1)) - 1) * 16 +
      |          (strpos('0123456789abcdef', substring(md5(CAST(c_custkey AS VARCHAR)), 4, 1)) - 1))
      |           * 360.0 / 255 - 180 AS lon
      |  FROM customer),
      |wh AS (
      |  SELECT s_suppkey AS wkey,
      |         ((strpos('0123456789abcdef', substring(md5(CAST(s_suppkey AS VARCHAR)), 1, 1)) - 1) * 16 +
      |          (strpos('0123456789abcdef', substring(md5(CAST(s_suppkey AS VARCHAR)), 2, 1)) - 1))
      |           * 140.0 / 255 - 70 AS wlat,
      |         ((strpos('0123456789abcdef', substring(md5(CAST(s_suppkey AS VARCHAR)), 3, 1)) - 1) * 16 +
      |          (strpos('0123456789abcdef', substring(md5(CAST(s_suppkey AS VARCHAR)), 4, 1)) - 1))
      |           * 360.0 / 255 - 180 AS wlon
      |  FROM supplier ORDER BY s_suppkey LIMIT 20),
      |paired AS (
      |  SELECT c_custkey, wkey,
      |         2.0 * 6371.0 * asin(sqrt(
      |           pow(sin(radians(wlat - lat) / 2), 2) +
      |           cos(radians(lat)) * cos(radians(wlat)) *
      |           pow(sin(radians(wlon - lon) / 2), 2))) AS dist_km
      |  FROM cust CROSS JOIN wh),
      |nearest AS (
      |  SELECT wkey, CAST(floor(dist_km * 1000) AS BIGINT) AS dist_mkm FROM (
      |    SELECT wkey, dist_km,
      |           row_number() OVER (PARTITION BY c_custkey ORDER BY dist_km, wkey) AS rn
      |    FROM paired) t
      |  WHERE rn = 1)
      |SELECT wkey, CAST(count(*) AS BIGINT) AS n_customers,
      |       CAST(sum(dist_mkm) AS BIGINT) AS sum_dist_mkm,
      |       floor(CAST(sum(dist_mkm) AS DOUBLE) * 1e3 / (count(*) * 1000)) / 1e3 AS mean_dist_km
      |FROM nearest GROUP BY wkey
      |ORDER BY wkey""".stripMargin

  /** agg-nelson-aalen — Nelson-Aalen cumulative-hazard estimator for
    * customer churn: subjects enter at their first order, "die" at
    * their last order if it precedes the observation horizon by more
    * than 90 days (the churn convention), else are right-censored at
    * the horizon. Ĥ(t) = Σ_{tᵢ≤t} dᵢ/nᵢ over death times tᵢ with
    * at-risk counts nᵢ — the additive-hazard twin of agg-survival-km
    * (Ĥ = −log Ŝ asymptotically; NA is the one that stays exact in
    * integer arithmetic because it SUMS hazard increments instead of
    * multiplying survival factors). Each increment is the exact
    * integer dᵢ·(10¹² div nᵢ) — truncating integer division agrees
    * between engines on positive operands — and the cumulative sum
    * stays integral; only the final display division by 10¹² goes
    * through doubles (< 2⁵³, exact). At-risk counts come from one
    * DESCENDING cumulative window over the per-time (death, total)
    * rollup — no per-subject self-join. */
  val aggNelsonAalen: Q = (s, d) => {
    val per = orders(s, d)
      .groupBy("o_custkey")
      .agg(min(to_date(col("o_orderdate"))).as("first_dt"),
        max(to_date(col("o_orderdate"))).as("last_dt"))
    val horizon = per.agg(max("last_dt").as("hz"))
    val subj = per.crossJoin(broadcast(horizon))
      .select(
        when(datediff(col("hz"), col("last_dt")) > 90,
          datediff(col("last_dt"), col("first_dt")))
          .otherwise(datediff(col("hz"), col("first_dt"))).as("t"),
        when(datediff(col("hz"), col("last_dt")) > 90, 1L).otherwise(0L).as("death"))
    val byT = subj.groupBy("t")
      .agg(sum("death").as("d"), count(lit(1)).as("c"))
    val wDesc = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.orderBy("t")
    byT.withColumn("n_risk", sum("c").over(wDesc))
      .withColumn("inc", col("d") * expr("1000000000000L div n_risk"))
      .withColumn("h_q", sum("inc").over(wAsc))
      .filter(col("d") > 0)
      .select(col("t").cast(LongType).as("t_days"), col("d").as("deaths"),
        col("n_risk"),
        (col("h_q").cast(DoubleType) / lit(1e12)).as("h_cum"))
      .orderBy("t_days")
  }

  val aggNelsonAalenSql: String =
    """WITH per AS (
      |  SELECT o_custkey,
      |         min(CAST(date_trunc('day', o_orderdate) AS DATE)) AS first_dt,
      |         max(CAST(date_trunc('day', o_orderdate) AS DATE)) AS last_dt
      |  FROM orders GROUP BY 1),
      |hz AS (SELECT max(last_dt) AS hz FROM per),
      |subj AS (
      |  SELECT CASE WHEN hz - last_dt > 90 THEN last_dt - first_dt
      |              ELSE hz - first_dt END AS t,
      |         CASE WHEN hz - last_dt > 90 THEN 1 ELSE 0 END AS death
      |  FROM per CROSS JOIN hz),
      |by_t AS (
      |  SELECT t, CAST(sum(death) AS BIGINT) AS d, CAST(count(*) AS BIGINT) AS c
      |  FROM subj GROUP BY 1),
      |risk AS (
      |  SELECT t, d,
      |         sum(c) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
      |  FROM by_t),
      |cum AS (
      |  SELECT t, d, n_risk,
      |         sum(d * (1000000000000 // n_risk)) OVER (ORDER BY t) AS h_q
      |  FROM risk)
      |SELECT CAST(t AS BIGINT) AS t_days, d AS deaths, CAST(n_risk AS BIGINT) AS n_risk,
      |       CAST(h_q AS DOUBLE) / 1e12 AS h_cum
      |FROM cum WHERE d > 0
      |ORDER BY t_days""".stripMargin

  /** agg-gpd-pot — peaks-over-threshold tail model: fit a
    * Generalized Pareto to daily-revenue exceedances over the exact
    * empirical P95 via method-of-moments (ξ = (1 − m²/v)/2,
    * σ = m(1 − ξ) — closed form, no iterative MLE), then invert for
    * the 365-day return level x_N = u + (σ/ξ)((Nζ)^ξ − 1). This is
    * the EVT complement to agg-hill-tail-index: Hill assumes ξ>0 and
    * uses log-spacings; GPD-MoM covers ξ<0 (finite endpoint) and
    * yields an actionable "worst day in a year" number — capacity
    * planning's question. The threshold is the tie-free discrete P95
    * (position ⌈0.95n⌉ by (value, date) order); excess moments are
    * exact integer sums in DECIMAL(38,0); ξ, σ and the return level
    * are identical double expressions (x^ξ spelled exp(ξ·ln x) both
    * sides). One rollup + one rank window + one 1-row broadcast. */
  val aggGpdPot: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("y"))
      .sharedCache()
    val n = daily.count()
    val upos = math.ceil(0.95 * n).toLong
    val wq = Window.orderBy(col("y"), col("dt"))
    val u = daily.withColumn("rn", row_number().over(wq))
      .filter(col("rn") === upos).select(col("y").as("u"))
    val exc = daily.crossJoin(broadcast(u))
      .filter(col("y") > col("u"))
      .select(col("u"), expr("CAST(y - u AS DECIMAL(38,0))").as("e"))
    val sums = exc.groupBy("u")
      .agg(count(lit(1)).as("k"), sum("e").as("se"), sum(expr("e * e")).as("see"))
    sums.select(col("u"), col("k"),
      col("k").cast(DoubleType).as("kd"),
      col("se").cast(DoubleType).as("sed"),
      col("see").cast(DoubleType).as("seed"))
      .withColumn("m", col("sed") / col("kd"))
      .withColumn("v", (col("seed") - col("sed") * col("sed") / col("kd")) / (col("kd") - 1))
      .withColumn("xi", (lit(1.0) - col("m") * col("m") / col("v")) / 2)
      .withColumn("sigma", col("m") * (lit(1.0) - col("xi")))
      .withColumn("zeta", col("kd") / lit(n.toDouble))
      .withColumn("rl", (col("u") + (col("sigma") / col("xi")) *
        (expr("exp(xi * ln(365.0 * zeta))") - 1)) / 100)
      .select(col("u").cast(LongType).as("u_cents"), col("k").as("n_exceed"),
        round(col("xi"), 6).as("xi"), round(col("sigma") / 100, 2).as("sigma_usd"),
        round(col("rl"), 2).as("return_level_365d_usd"))
  }

  val aggGpdPotSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
       |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM daily),
       |u AS (
       |  SELECT y AS u FROM (
       |    SELECT y, row_number() OVER (ORDER BY y, dt) AS rn FROM daily) t CROSS JOIN nn
       |  WHERE rn = CAST(ceil(0.95 * n) AS BIGINT)),
       |exc AS (
       |  SELECT u, CAST(y - u AS HUGEINT) AS e
       |  FROM daily CROSS JOIN u WHERE y > u),
       |sums AS (
       |  SELECT u, CAST(count(*) AS BIGINT) AS k, CAST(count(*) AS DOUBLE) AS kd,
       |         CAST(sum(e) AS DOUBLE) AS sed, CAST(sum(e * e) AS DOUBLE) AS seed
       |  FROM exc GROUP BY 1),
       |fit AS (
       |  SELECT u, k, kd, m, v,
       |         (1.0 - m * m / v) / 2 AS xi,
       |         m * (1.0 - (1.0 - m * m / v) / 2) AS sigma
       |  FROM (
       |    SELECT u, k, kd, sed / kd AS m,
       |           (seed - sed * sed / kd) / (kd - 1) AS v
       |    FROM sums) t)
       |SELECT CAST(u AS BIGINT) AS u_cents, k AS n_exceed,
       |       round(xi, 6) AS xi, round(sigma / 100, 2) AS sigma_usd,
       |       round((u + (sigma / xi) * (exp(xi * ln(365.0 * (kd / n))) - 1)) / 100, 2)
       |         AS return_level_365d_usd
       |FROM fit CROSS JOIN nn""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("win-binseg-split", winBinsegSplit, winBinsegSplitSql),
    Key("join-geo-knn", joinGeoKnn, joinGeoKnnSql),
    Key("agg-nelson-aalen", aggNelsonAalen, aggNelsonAalenSql),
    Key("agg-gpd-pot", aggGpdPot, aggGpdPotSql))
}
