package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-11 batch A: Kruskal-Wallis H, Ljung-Box portmanteau, runs test,
  * Theil inequality decomposition. */
object RelMore100 extends KeyModule {

  /** agg-kruskal-wallis — rank-based one-way ANOVA (Kruskal-Wallis H
    * with tie correction) of l_quantity across the three return-flag
    * groups: does the quantity DISTRIBUTION differ by flag, without
    * assuming normality (agg-eta-squared is the parametric twin)?
    * The whole computation lives on the VALUE DOMAIN: quantities are
    * the 50 integers 1..50, so average ranks come from a cumulative
    * window over ≤50 distinct-value rows and the per-group rank sums
    * from a ≤150-row (group × value) table — no global rank window
    * over N rows at any scale. Ranks are exact .5 multiples, rank
    * sums exact in double far past 2^53's reach; the two terminal
    * divisions (H and the tie correction) round at 6 dp. */
  val aggKruskalWallis: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val vals = lineitem(s, d)
      .select(col("l_returnflag").as("g"), col("l_quantity").cast(LongType).as("v"))
    val perVal = vals.groupBy("v").agg(count(lit(1)).as("tv")).sharedCache()
    // avg rank of value v = (#rows below) + (tv+1)/2, from one tiny window
    val wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    val ranked = perVal
      .withColumn("below", coalesce(sum("tv").over(wv), lit(0L)))
      .select(col("v"), col("tv"),
        (col("below") + (col("tv") + lit(1L)) / lit(2.0)).as("avg_rank"))
    val perGroupVal = vals.groupBy("g", "v").agg(count(lit(1)).as("c"))
    val groupRank = perGroupVal.join(broadcast(ranked), Seq("v"))
      .groupBy("g").agg(sum("c").as("ng"), sum(col("c") * col("avg_rank")).as("rg"))
    val tot = perVal.agg(sum("tv").as("n"),
      sum(col("tv") * col("tv") * col("tv") - col("tv")).as("tie3"))
    groupRank.crossJoin(broadcast(tot))
      .groupBy("n", "tie3")
      .agg(count(lit(1)).as("k"), sum(col("rg") * col("rg") / col("ng")).as("srr"))
      .select(col("n"), col("k").cast(IntegerType).as("k"),
        round(lit(12.0) / (col("n") * (col("n") + 1)) * col("srr")
          - lit(3.0) * (col("n") + 1), 6).as("h"),
        round((lit(12.0) / (col("n") * (col("n") + 1)) * col("srr")
          - lit(3.0) * (col("n") + 1)) /
          (lit(1.0) - col("tie3").cast(DoubleType) /
            (col("n") * col("n") * col("n") - col("n"))), 6).as("h_tie_corrected"))
  }

  val aggKruskalWallisSql: String =
    """WITH vals AS (
      |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v FROM lineitem),
      |per_val AS (SELECT v, count(*) AS tv FROM vals GROUP BY v),
      |ranked AS (
      |  SELECT v, tv,
      |         COALESCE(sum(tv) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           + (tv + 1) / 2.0 AS avg_rank
      |  FROM per_val),
      |pgv AS (SELECT g, v, count(*) AS c FROM vals GROUP BY g, v),
      |grp AS (
      |  SELECT g, CAST(sum(c) AS BIGINT) AS ng, sum(c * avg_rank) AS rg
      |  FROM pgv JOIN ranked USING (v) GROUP BY g),
      |tot AS (
      |  SELECT CAST(sum(tv) AS BIGINT) AS n,
      |         CAST(sum(tv * tv * tv - tv) AS BIGINT) AS tie3
      |  FROM per_val)
      |SELECT n, CAST(count(*) AS INT) AS k,
      |       round(12.0 / (n * (n + 1)) * sum(rg * rg / ng) - 3.0 * (n + 1), 6) AS h,
      |       round((12.0 / (n * (n + 1)) * sum(rg * rg / ng) - 3.0 * (n + 1)) /
      |             (1.0 - CAST(tie3 AS DOUBLE) / (n * n * n - n)), 6) AS h_tie_corrected
      |FROM grp CROSS JOIN tot
      |GROUP BY n, tie3""".stripMargin

  /** agg-ljung-box — portmanteau whiteness test on the daily event-count
    * series: Q(h) = n(n+2) Σ_{k≤h} ρ̂_k²/(n−k). agg-autocorrelation
    * reports the individual ρ̂_k; Ljung-Box is the single number that
    * says whether the series is white noise AT ALL — the gate a
    * forecasting pipeline checks before bothering to model. The series
    * is CALENDAR-bounded (one row per day regardless of event volume),
    * so the lag windows run over ≤n_days rows at any scale; per-term
    * products of identically-derived doubles are floor-quantized to
    * 1e-6 before the cross-row sum (order-independent fold, the
    * aggEntropyRate discipline — 1e-6 not 1e-9 because deviation
    * products grow with daily volume and the quantized longs must
    * stay far from Long.MaxValue at 100 TB daily counts). */
  val aggLjungBox: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val daily = events(s, d)
      .groupBy(to_date(col("ts")).as("dt"))
      .agg(count(lit(1)).cast(DoubleType).as("y"))
      .sharedCache()
    val stats = daily.agg(count(lit(1)).as("n"), avg("y").as("mu"),
      sum(col("y") * col("y")).as("syy"), sum("y").as("sy"))
    val wd = Window.orderBy("dt")
    val lagged = daily.crossJoin(broadcast(stats))
      .select(Seq(col("dt"), col("n"), col("mu"),
        // denominator Σ(y-μ)² in the exact nΣy²−S² form (inputs are
        // integer counts, so both engines compute identical doubles)
        (col("syy") - col("sy") * col("sy") / col("n")).as("den"),
        (col("y") - col("mu")).as("dev")) ++
        Seq(1, 2, 3, 4, 5, 6, 7).map(k =>
          (lag("y", k).over(wd) - col("mu")).as(s"dev_$k")): _*)
    val terms = lagged.select(
      col("n"), col("den"),
      explode(array((1 to 7).map(k =>
        struct(lit(k).as("k"),
          floor(col("dev") * col(s"dev_$k") * lit(1e6)).cast(LongType).as("tq"))): _*)).as("e"))
      .select(col("n"), col("den"), col("e.k").as("k"), col("e.tq").as("tq"))
      .filter(col("tq").isNotNull)
    val rho = terms.groupBy("n", "den", "k")
      .agg((sum("tq").cast(DoubleType) / lit(1e6) / col("den")).as("rho"))
    rho.groupBy("n")
      .agg(sum(col("rho") * col("rho") / (col("n") - col("k"))).as("srho"),
        round(max(abs(col("rho"))), 6).as("max_abs_rho"))
      .select(col("n").as("n_days"),
        round(col("n") * (col("n") + 2) * col("srho"), 6).as("q_stat"),
        lit(7).as("h_lags"), col("max_abs_rho"))
  }

  val aggLjungBoxSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS dt, CAST(count(*) AS DOUBLE) AS y
      |  FROM events GROUP BY 1),
      |st AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, avg(y) AS mu,
      |         sum(y * y) - sum(y) * sum(y) / count(*) AS den
      |  FROM daily),
      |lagged AS (
      |  SELECT n, mu, den, y - mu AS dev,
      |         lag(y, 1) OVER (ORDER BY dt) - mu AS dev_1,
      |         lag(y, 2) OVER (ORDER BY dt) - mu AS dev_2,
      |         lag(y, 3) OVER (ORDER BY dt) - mu AS dev_3,
      |         lag(y, 4) OVER (ORDER BY dt) - mu AS dev_4,
      |         lag(y, 5) OVER (ORDER BY dt) - mu AS dev_5,
      |         lag(y, 6) OVER (ORDER BY dt) - mu AS dev_6,
      |         lag(y, 7) OVER (ORDER BY dt) - mu AS dev_7
      |  FROM daily CROSS JOIN st),
      |terms AS (
      |  SELECT n, den, k, CAST(floor(dev * devk * 1e6) AS BIGINT) AS tq
      |  FROM lagged, LATERAL (SELECT unnest([1,2,3,4,5,6,7]) AS k,
      |    unnest([dev_1, dev_2, dev_3, dev_4, dev_5, dev_6, dev_7]) AS devk) u
      |  WHERE devk IS NOT NULL),
      |rho AS (
      |  SELECT n, k, CAST(sum(tq) AS DOUBLE) / 1e6 / den AS rho
      |  FROM terms GROUP BY n, den, k)
      |SELECT n AS n_days,
      |       round(n * (n + 2) * sum(rho * rho / (n - k)), 6) AS q_stat,
      |       7 AS h_lags,
      |       round(max(abs(rho)), 6) AS max_abs_rho
      |FROM rho GROUP BY n""".stripMargin

  /** agg-runs-test — Wald-Wolfowitz runs test on the sign sequence of
    * daily revenue vs its mean: too FEW runs = trending/clustered days,
    * too MANY = oscillation; |z| ≤ 2 is the randomness the forecasting
    * ops implicitly assume. The above/below split is decided EXACTLY:
    * `rev·n <?> total` in DECIMAL (no mean division touches the
    * comparison), so a day sitting within double-epsilon of the mean
    * cannot flip sides between engines. Series is calendar-bounded;
    * E[R] and Var[R] come from the closed form on integer counts. */
  val aggRunsTest: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(dec2(col("o_totalprice"))).as("rev"))
      .sharedCache()
    val tot = daily.agg(count(lit(1)).as("n"), sum("rev").as("trev"))
    val signed = daily.crossJoin(broadcast(tot))
      .select(col("dt"), col("n"),
        (col("rev") * col("n") > col("trev")).cast(IntegerType).as("hi"))
    // r12: neighbor stitch, not a global-sort lag window (census port)
    val runs = graft.functions.PrefixScan
      .withNeighbor(signed, Seq(col("dt")), Seq("hi"))
      .withColumn("switch",
        when(col("hi_adj").isNull || col("hi_adj") =!= col("hi"), 1L)
          .otherwise(0L))
    runs.groupBy("n")
      .agg(sum("switch").as("r"), sum("hi").as("n1"))
      .select(col("n").as("n_days"), col("r").as("runs"),
        col("n1"), (col("n") - col("n1")).as("n2"),
        round((col("r").cast(DoubleType) -
          (lit(2.0) * col("n1") * (col("n") - col("n1")) / col("n") + 1)) /
          sqrt(lit(2.0) * col("n1") * (col("n") - col("n1")) *
            (lit(2.0) * col("n1") * (col("n") - col("n1")) - col("n")) /
            (col("n").cast(DoubleType) * col("n") * (col("n") - 1))), 6).as("z"))
  }

  val aggRunsTestSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(rev) AS trev FROM daily),
      |signed AS (
      |  SELECT dt, n, CAST(rev * n > trev AS INT) AS hi
      |  FROM daily CROSS JOIN tot),
      |runs AS (
      |  SELECT n, hi,
      |         CASE WHEN lag(hi) OVER (ORDER BY dt) IS NULL
      |                OR lag(hi) OVER (ORDER BY dt) <> hi THEN 1 ELSE 0 END AS switch
      |  FROM signed),
      |agg AS (
      |  SELECT n, CAST(sum(switch) AS BIGINT) AS r, CAST(sum(hi) AS BIGINT) AS n1
      |  FROM runs GROUP BY n)
      |SELECT n AS n_days, r AS runs, n1, n - n1 AS n2,
      |       round((CAST(r AS DOUBLE) - (2.0 * n1 * (n - n1) / n + 1)) /
      |             sqrt(2.0 * n1 * (n - n1) * (2.0 * n1 * (n - n1) - n) /
      |                  (CAST(n AS DOUBLE) * n * (n - 1))), 6) AS z
      |FROM agg""".stripMargin

  /** agg-theil-index — Theil T inequality of customer lifetime spend
    * with the exact between/within-nation decomposition
    * T = T_between + Σ_g s_g·T_g: unlike agg-gini, Theil says WHERE
    * the inequality lives (nations differing vs whales inside each
    * nation). Spend is exact cents; every ln-term is floor-quantized
    * to 1e-9 before its cross-row sum (order-independent), group
    * shares stay exact rationals until the terminal division. Two
    * key-partitioned shuffles (custkey, nationkey) — no global
    * structure beyond the ≤25-nation rollup. */
  val aggTheilIndex: Q = (s, d) => {
    val spend = orders(s, d)
      .groupBy("o_custkey")
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("cents"))
      .filter(col("cents") > 0)
      .join(customer(s, d).select(col("c_custkey").as("o_custkey"), col("c_nationkey")),
        Seq("o_custkey"))
      .sharedCache()
    val tot = spend.agg(count(lit(1)).as("n"), sum("cents").as("x"))
    val grp = spend.groupBy("c_nationkey")
      .agg(count(lit(1)).as("ng"), sum("cents").as("xg"))
      .sharedCache()
    // total: Σ (x_i/X) ln(n·x_i/X)
    val tTotal = spend.crossJoin(broadcast(tot))
      .select(floor(col("cents").cast(DoubleType) / col("x") *
        log(col("n") * col("cents").cast(DoubleType) / col("x")) * lit(1e9))
        .cast(LongType).as("tq"))
      .agg((sum("tq").cast(DoubleType) / lit(1e9)).as("t_total"))
    // within: Σ_g (X_g/X) Σ_{i∈g} (x_i/X_g) ln(n_g·x_i/X_g)
    val tWithin = spend.join(broadcast(grp), Seq("c_nationkey"))
      .crossJoin(broadcast(tot))
      .select(floor(col("xg").cast(DoubleType) / col("x") *
        (col("cents").cast(DoubleType) / col("xg")) *
        log(col("ng") * col("cents").cast(DoubleType) / col("xg")) * lit(1e9))
        .cast(LongType).as("tq"))
      .agg((sum("tq").cast(DoubleType) / lit(1e9)).as("t_within"))
    // between: Σ_g (X_g/X) ln((X_g/X)/(n_g/n))
    val tBetween = grp.crossJoin(broadcast(tot))
      .select(floor(col("xg").cast(DoubleType) / col("x") *
        log((col("xg").cast(DoubleType) / col("x")) /
          (col("ng").cast(DoubleType) / col("n"))) * lit(1e9))
        .cast(LongType).as("tq"))
      .agg((sum("tq").cast(DoubleType) / lit(1e9)).as("t_between"))
    tTotal.crossJoin(broadcast(tWithin)).crossJoin(broadcast(tBetween))
      .select(round(col("t_total"), 6).as("theil_total"),
        round(col("t_between"), 6).as("theil_between"),
        round(col("t_within"), 6).as("theil_within"),
        round(col("t_between") / col("t_total"), 4).as("between_share"))
  }

  val aggTheilIndexSql: String =
    """WITH spend AS (
      |  SELECT o_custkey, c_nationkey,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders JOIN customer ON c_custkey = o_custkey
      |  GROUP BY o_custkey, c_nationkey
      |  HAVING sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) > 0),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS x FROM spend),
      |grp AS (
      |  SELECT c_nationkey, CAST(count(*) AS BIGINT) AS ng, CAST(sum(cents) AS BIGINT) AS xg
      |  FROM spend GROUP BY 1),
      |t_total AS (
      |  SELECT CAST(sum(CAST(floor(CAST(cents AS DOUBLE) / x *
      |           ln(n * CAST(cents AS DOUBLE) / x) * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 AS t_total
      |  FROM spend CROSS JOIN tot),
      |t_within AS (
      |  SELECT CAST(sum(CAST(floor(CAST(xg AS DOUBLE) / x *
      |           (CAST(cents AS DOUBLE) / xg) *
      |           ln(ng * CAST(cents AS DOUBLE) / xg) * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 AS t_within
      |  FROM spend JOIN grp USING (c_nationkey) CROSS JOIN tot),
      |t_between AS (
      |  SELECT CAST(sum(CAST(floor(CAST(xg AS DOUBLE) / x *
      |           ln((CAST(xg AS DOUBLE) / x) / (CAST(ng AS DOUBLE) / n)) * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 AS t_between
      |  FROM grp CROSS JOIN tot)
      |SELECT round(t_total, 6) AS theil_total,
      |       round(t_between, 6) AS theil_between,
      |       round(t_within, 6) AS theil_within,
      |       round(t_between / t_total, 4) AS between_share
      |FROM t_total CROSS JOIN t_within CROSS JOIN t_between""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-kruskal-wallis", aggKruskalWallis, aggKruskalWallisSql),
    Key("agg-ljung-box", aggLjungBox, aggLjungBoxSql),
    Key("agg-runs-test", aggRunsTest, aggRunsTestSql),
    Key("agg-theil-index", aggTheilIndex, aggTheilIndexSql))
}
