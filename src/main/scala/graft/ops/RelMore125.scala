package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch Z: Epanechnikov KDE grid, Simpson's-paradox
  * detector, PRR disproportionality signals, variance changepoint. */
object RelMore125 extends KeyModule {

  /** agg-kde-epanechnikov — kernel density estimate of the daily
    * revenue distribution on a fixed 20-point grid, Epanechnikov
    * kernel K(u) = ¾(1−u²)·1{|u|≤1} with the Silverman bandwidth
    * h = 1.06·σ̂·n^(−1/5): the smooth companion to the histogram
    * family (agg-equidepth-histogram bins; KDE answers "what does
    * the density DO between bin edges" — bimodality, shoulders) with
    * the compact-support kernel chosen deliberately: only |u|≤1
    * pairs contribute, so the grid×days frame prunes to a band join,
    * the same bounded-candidates discipline as the range joins. σ̂
    * and the grid endpoints come from exact integer moments/extremes;
    * each kernel evaluation is one identical double pico-floor-
    * quantized, so per-gridpoint sums are exact integers. */
  val aggKdeEpanechnikov: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("y"))
      .sharedCache()
    val stats = daily.agg(count(lit(1)).as("n"),
      sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
      sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"),
      min("y").as("ymin"), max("y").as("ymax"))
      .select(col("n"), col("ymin"), col("ymax"),
        sqrt((col("syy").cast(DoubleType) -
          col("sy").cast(DoubleType) * col("sy").cast(DoubleType) / col("n")) /
          (col("n").cast(DoubleType) - 1)).as("sd"))
      .withColumn("h", lit(1.06) * col("sd") *
        exp(lit(-0.2) * log(col("n").cast(DoubleType))))
    val grid = s.range(0, 20).select(col("id").as("g"))
      .crossJoin(broadcast(stats))
      .select(col("g"), col("n"), col("h"),
        (col("ymin").cast(DoubleType) +
          (col("ymax") - col("ymin")).cast(DoubleType) * col("g") / 19).as("x0"))
    val contrib = daily.crossJoin(broadcast(grid))
      .withColumn("u", (col("y").cast(DoubleType) - col("x0")) / col("h"))
      .filter(abs(col("u")) <= 1)
      .select(col("g"), col("n"), col("h"), col("x0"),
        floor(lit(0.75) * (lit(1.0) - col("u") * col("u")) * lit(1e12))
          .cast(LongType).as("kq"))
    contrib.groupBy("g", "n", "h", "x0")
      .agg(count(lit(1)).as("n_in_band"), sum("kq").as("skq"))
      .select(col("g").cast(LongType).as("g"),
        round(col("x0") / 100, 2).as("x_usd"),
        col("n_in_band"),
        // density per $: sum K / (n·h), h in cents → per-cent density ×100
        round(col("skq").cast(DoubleType) / 1e12 / (col("n") * col("h")) * 100, 9)
          .as("density_per_usd"))
      .orderBy("g")
  }

  val aggKdeEpanechnikovSql: String =
    """WITH daily AS MATERIALIZED (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |stats AS (
      |  SELECT n, ymin, ymax, sd, 1.06 * sd * exp(-0.2 * ln(CAST(n AS DOUBLE))) AS h FROM (
      |    SELECT CAST(count(*) AS BIGINT) AS n, min(y) AS ymin, max(y) AS ymax,
      |           sqrt((CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) -
      |                 CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) *
      |                 CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) / count(*)) /
      |                (count(*) - 1)) AS sd
      |    FROM daily) t),
      |grid AS MATERIALIZED (
      |  SELECT g, n, h,
      |         CAST(ymin AS DOUBLE) + CAST(ymax - ymin AS DOUBLE) * g / 19 AS x0
      |  FROM (SELECT unnest(range(0, 20)) AS g) gg CROSS JOIN stats),
      |contrib AS (
      |  SELECT g, n, h, x0,
      |         CAST(floor(0.75 * (1.0 - u * u) * 1e12) AS BIGINT) AS kq
      |  FROM (
      |    SELECT g, n, h, x0, (CAST(y AS DOUBLE) - x0) / h AS u
      |    FROM daily CROSS JOIN grid) t
      |  WHERE abs(u) <= 1)
      |SELECT CAST(g AS BIGINT) AS g, round(x0 / 100, 2) AS x_usd,
      |       CAST(count(*) AS BIGINT) AS n_in_band,
      |       round(CAST(sum(kq) AS DOUBLE) / 1e12 / (n * h) * 100, 9) AS density_per_usd
      |FROM contrib
      |GROUP BY g, n, h, x0
      |ORDER BY g""".stripMargin

  /** dq-simpsons-paradox — the aggregation-reversal detector: the
    * slope of order value on order priority rank is fit POOLED and
    * WITHIN each market segment, and the op reports how many strata
    * contradict the pooled sign — the Simpson's-paradox audit that
    * decides whether a headline trend survives stratification (the
    * sibling of agg-diff-in-diff and the reason dq-fdr-bh works per
    * nation). All six per-stratum OLS sums are exact integers; the
    * per-stratum slope SIGN is the exact sign of the integer
    * numerator n·Σxy − ΣxΣy (no float comparison anywhere), so the
    * reversal count cannot be a rounding artifact. One scan, 5-row
    * stratum frame. */
  val dqSimpsonsParadox: Q = (s, d) => {
    val v = orders(s, d).join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        substring(col("o_orderpriority"), 1, 1).cast(IntegerType).as("pr"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("y"))
    val per = v.groupBy("seg")
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum(expr("CAST(pr AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
        sum(expr("CAST(pr AS DECIMAL(38,0)) * y")).as("sxy"))
      .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
      .sharedCache()
    val pooled = per.agg(sum("n").as("n"), sum("sx").as("sx"), sum("sy").as("sy"),
      sum("sxy").as("sxy"))
      .select((col("n") * col("sxy") - col("sx") * col("sy")).as("pnum"))
    per.crossJoin(broadcast(pooled))
      .agg(count(lit(1)).as("n_strata"),
        max(signum(col("pnum").cast(DoubleType))).cast(IntegerType).as("pooled_sign"),
        sum(when(signum(col("num").cast(DoubleType)) =!=
          signum(col("pnum").cast(DoubleType)), 1L).otherwise(0L)).as("n_reversed"))
      .select(col("n_strata"), col("pooled_sign").cast(LongType).as("pooled_sign"),
        col("n_reversed"),
        (col("n_reversed") > 0).as("paradox_present"))
  }

  val dqSimpsonsParadoxSql: String =
    """WITH v AS (
      |  SELECT c_mktsegment AS seg,
      |         CAST(substring(o_orderpriority, 1, 1) AS INTEGER) AS pr,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |per AS MATERIALIZED (
      |  SELECT seg, n, sx, sy, sxy, n * sxy - sx * sy AS num FROM (
      |    SELECT seg, CAST(count(*) AS HUGEINT) AS n,
      |           CAST(sum(CAST(pr AS HUGEINT)) AS HUGEINT) AS sx,
      |           CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
      |           CAST(sum(CAST(pr AS HUGEINT) * y) AS HUGEINT) AS sxy
      |    FROM v GROUP BY 1) t),
      |pooled AS (
      |  SELECT sum(n) * sum(sxy) - sum(sx) * sum(sy) AS pnum FROM per)
      |SELECT CAST(count(*) AS BIGINT) AS n_strata,
      |       CAST(max(CASE WHEN pnum > 0 THEN 1 WHEN pnum < 0 THEN -1 ELSE 0 END) AS BIGINT)
      |         AS pooled_sign,
      |       CAST(sum(CASE WHEN sign(CAST(num AS DOUBLE)) <> sign(CAST(pnum AS DOUBLE))
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_reversed,
      |       sum(CASE WHEN sign(CAST(num AS DOUBLE)) <> sign(CAST(pnum AS DOUBLE))
      |                THEN 1 ELSE 0 END) > 0 AS paradox_present
      |FROM per CROSS JOIN pooled""".stripMargin

  /** dq-prr-signals — proportional reporting ratio surveillance over
    * the (nation, return-flag) contingency slices: for each nation,
    * PRR = [a/(a+b)] / [c/(c+d)] compares its return rate against
    * everyone else's (a..d with the Haldane-Anscombe +½ continuity
    * correction, stated), and a signal fires on the standard
    * PRR > 2 ∧ χ² > 4 rule — pharmacovigilance's workhorse
    * repurposed for any "is this slice generating excess incidents"
    * monitor, the ratio-flavored sibling of dq-fdr-bh's mean tests.
    * The contingency counts are exact from one rollup; PRR and the
    * Yates-free χ² are identical double expressions; output is one
    * row per nation with the signal flag (uniform synthetic data
    * fires none — but the 25 PRR/χ² values themselves are graded,
    * not just the empty alarm list). */
  val dqPrrSignals: Q = (s, d) => {
    val base = lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer(s, d).select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nk"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("r"))
    val per = base.groupBy("nk")
      .agg(sum("r").as("a"), (count(lit(1)) - sum("r")).as("b"))
    val tot = per.agg(sum("a").as("ta"), sum("b").as("tb"))
    val scored = per.crossJoin(broadcast(tot))
      .select(col("nk"), col("a"), col("b"),
        (col("ta") - col("a")).as("c"), (col("tb") - col("b")).as("dd"))
      .withColumn("prr",
        ((col("a") + 0.5) / (col("a") + col("b") + 1.0)) /
          ((col("c") + 0.5) / (col("c") + col("dd") + 1.0)))
      .withColumn("nn", (col("a") + col("b") + col("c") + col("dd")).cast(DoubleType))
      .withColumn("chi2",
        col("nn") *
          (col("a").cast(DoubleType) * col("dd") - col("b").cast(DoubleType) * col("c")) *
          (col("a").cast(DoubleType) * col("dd") - col("b").cast(DoubleType) * col("c")) /
          ((col("a") + col("b")).cast(DoubleType) * (col("c") + col("dd")) *
            (col("a") + col("c")) * (col("b") + col("dd"))))
    scored
      .select(col("nk").cast(LongType).as("nationkey"), col("a").as("n_returns"),
        round(col("prr"), 4).as("prr"), round(col("chi2"), 3).as("chi2"),
        (col("prr") > 2.0 && col("chi2") > 4.0).as("signal"))
      .orderBy("nationkey")
  }

  val dqPrrSignalsSql: String =
    """WITH base AS (
      |  SELECT c_nationkey AS nk,
      |         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS r
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey),
      |per AS (
      |  SELECT nk, CAST(sum(r) AS BIGINT) AS a,
      |         CAST(count(*) - sum(r) AS BIGINT) AS b
      |  FROM base GROUP BY 1),
      |tot AS (SELECT CAST(sum(a) AS BIGINT) AS ta, CAST(sum(b) AS BIGINT) AS tb FROM per),
      |scored AS (
      |  SELECT nk, a, b, c, dd,
      |         ((a + 0.5) / (a + b + 1.0)) / ((c + 0.5) / (c + dd + 1.0)) AS prr,
      |         CAST(a + b + c + dd AS DOUBLE) *
      |           (CAST(a AS DOUBLE) * dd - CAST(b AS DOUBLE) * c) *
      |           (CAST(a AS DOUBLE) * dd - CAST(b AS DOUBLE) * c) /
      |           (CAST(a + b AS DOUBLE) * (c + dd) * (a + c) * (b + dd)) AS chi2
      |  FROM (
      |    SELECT nk, a, b, ta - a AS c, tb - b AS dd FROM per CROSS JOIN tot) t)
      |SELECT CAST(nk AS BIGINT) AS nationkey, a AS n_returns,
      |       round(prr, 4) AS prr, round(chi2, 3) AS chi2,
      |       prr > 2.0 AND chi2 > 4.0 AS signal
      |FROM scored
      |ORDER BY nationkey""".stripMargin

  /** win-binseg-variance — the CUSUM-of-squares variance changepoint
    * of the daily revenue series: with centered-square prefix sums
    * P_k = Σᵢ≤ₖ eᵢ², the split maximizing |n·P_k − k·P_n| locates
    * where VOLATILITY (not level — that's win-binseg-split) breaks:
    * the Inclán-Tiao statistic that risk monitors run after every
    * regime change. The centered squares eᵢ² use the exact
    * integer-mean trick ((n·yᵢ − S)² on the n-scaled axis), so the
    * prefix sums, the argmax objective and the tie-break (earliest
    * date) are all exact integer arithmetic in DECIMAL(38,0) —
    * (n·y−S)² ≈ 10²⁶ at sf0.01, within range. Output: the split
    * date plus before/after variance estimates (the regime sizes). */
  val winBinsegVariance: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("y"))
    val tot = daily.agg(count(lit(1)).as("n"),
      sum(expr("CAST(y AS DECIMAL(38,0))")).as("sn"))
    val wp = Window.orderBy("dt")
    val pre = daily.crossJoin(broadcast(tot))
      .withColumn("e2", (col("n") * col("y") - col("sn")) * (col("n") * col("y") - col("sn")))
      .withColumn("k", row_number().over(wp))
      .withColumn("pk", sum("e2").over(wp))
      .sharedCache()
    val pn = pre.agg(max("pk").as("pn"))
    val best = pre.crossJoin(broadcast(pn))
      .filter(col("k") < col("n"))
      .withColumn("dk", col("n") * col("pk") - col("k") * col("pn"))
      .orderBy(abs(col("dk")).desc, col("dt"))
      .limit(1)
    best.select(col("dt").as("split_dt"), col("k").cast(LongType).as("k"),
      col("n").cast(LongType).as("n_days"),
      // variance on the n²-scaled axis, descaled: P_k/(k·n²) in cents²
      round(col("pk").cast(DoubleType) /
        (col("k").cast(DoubleType) * col("n").cast(DoubleType) * col("n")) / 1e4, 2)
        .as("var_before_usd2"),
      round((col("pn") - col("pk")).cast(DoubleType) /
        ((col("n") - col("k")).cast(DoubleType) * col("n").cast(DoubleType) * col("n")) / 1e4, 2)
        .as("var_after_usd2"))
  }

  val winBinsegVarianceSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sn
      |        FROM daily),
      |pre AS MATERIALIZED (
      |  SELECT dt, n, k, pk FROM (
      |    SELECT dt, n,
      |           CAST(row_number() OVER (ORDER BY dt) AS HUGEINT) AS k,
      |           sum((n * y - sn) * (n * y - sn)) OVER (ORDER BY dt
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pk
      |    FROM daily CROSS JOIN tot) t),
      |pn AS (SELECT max(pk) AS pn FROM pre),
      |best AS (
      |  SELECT dt, k, n, pk, pn, n * pk - k * pn AS dk
      |  FROM pre CROSS JOIN pn
      |  WHERE k < n
      |  ORDER BY abs(n * pk - k * pn) DESC, dt LIMIT 1)
      |SELECT dt AS split_dt, CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n_days,
      |       round(CAST(pk AS DOUBLE) /
      |             (CAST(k AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1e4, 2)
      |         AS var_before_usd2,
      |       round(CAST(pn - pk AS DOUBLE) /
      |             (CAST(n - k AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1e4, 2)
      |         AS var_after_usd2
      |FROM best""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-kde-epanechnikov", aggKdeEpanechnikov, aggKdeEpanechnikovSql),
    Key("dq-simpsons-paradox", dqSimpsonsParadox, dqSimpsonsParadoxSql),
    Key("dq-prr-signals", dqPrrSignals, dqPrrSignalsSql),
    Key("win-binseg-variance", winBinsegVariance, winBinsegVarianceSql))
}
