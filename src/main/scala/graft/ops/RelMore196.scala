package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-8 batch AE: Pollaczek-Khinchine queueing estimate, Berkson's
  * collider bias, Will Rogers stage migration, Metcalfe's-law fit. */
object RelMore196 extends KeyModule {

  /** agg-pollaczek-khinchine — the M/G/1 waiting-time formula on the
    * order stream: arrivals at rate λ (orders/day), service times
    * proxied by lineitem count × a unit rate, and the P-K mean wait
    * W_q = λ·E[S²] / (2(1−ρ)) — the result that says VARIANCE of
    * service, not just its mean, drives queues (staffing twin:
    * agg-erlang-c-staffing). All moments are exact integer sums; the
    * single-server utilization ρ is reported with the stability
    * verdict. Service unit chosen so the fixture queue is stable. */
  val aggPollaczekKhinchine: Q = (s, d) => {
    val svc = lineitem(s, d).groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("items"))
      .select(col("items").cast(LongType).as("x"))
      .sharedCache()
    val span = orders(s, d).agg(
      (datediff(max(to_date(col("o_orderdate"))),
        min(to_date(col("o_orderdate")))) + 1).cast(DoubleType).as("days"))
    val m = svc.agg(count(lit(1)).as("n"), sum("x").as("sx"),
      sum(col("x") * col("x")).as("sxx"))
      .crossJoin(broadcast(span))
      .select(col("n").cast(DoubleType).as("n"),
        col("sx").cast(DoubleType).as("sx"),
        col("sxx").cast(DoubleType).as("sxx"), col("days"))
      // service unit: 1 item = 0.004 days of work (keeps rho < 1 at
      // every sf since items/order is scale-free and orders/day scales
      // with the corpus only through lambda*mean_items*0.004
      .select(col("n"), col("days"),
        (col("n") / col("days")).as("lambda"),
        (col("sx") / col("n") * 0.004).as("es"),
        (col("sxx") / col("n") * 0.004 * 0.004).as("es2"))
    m.select(col("n").cast(LongType).as("n_orders"),
      round(col("lambda"), 4).as("arrivals_per_day"),
      round(col("es"), 6).as("mean_service_days"),
      round(col("lambda") * col("es"), 4).as("rho"),
      (col("lambda") * col("es") < 1.0).as("stable"),
      round(col("lambda") * col("es2") /
        (lit(2.0) * (lit(1.0) - col("lambda") * col("es"))), 6)
        .as("pk_wait_days"))
  }

  val aggPollaczekKhinchineSql: String =
    """WITH svc AS (
      |  SELECT CAST(count(*) AS BIGINT) AS x
      |  FROM lineitem GROUP BY l_orderkey),
      |span AS (
      |  SELECT CAST(datediff('day', min(CAST(o_orderdate AS DATE)),
      |              max(CAST(o_orderdate AS DATE))) + 1 AS DOUBLE) AS days
      |  FROM orders),
      |m AS (
      |  SELECT n, days, n / days AS lambda,
      |         sx / n * 0.004 AS es,
      |         sxx / n * 0.004 * 0.004 AS es2
      |  FROM (
      |    SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(x) AS DOUBLE) AS sx,
      |           CAST(sum(x * x) AS DOUBLE) AS sxx
      |    FROM svc) t CROSS JOIN span)
      |SELECT CAST(n AS BIGINT) AS n_orders,
      |       round(lambda, 4) AS arrivals_per_day,
      |       round(es, 6) AS mean_service_days,
      |       round(lambda * es, 4) AS rho,
      |       lambda * es < 1.0 AS stable,
      |       round(lambda * es2 / (2.0 * (1.0 - lambda * es)), 6)
      |         AS pk_wait_days
      |FROM m""".stripMargin

  /** dq-berkson-bias — collider stratification flips correlations:
    * in the full order population, value and line count correlate
    * positively (more lines, more money); condition on the collider
    * "interesting order" (high value OR many lines — the selection
    * every manual review queue applies) and the correlation turns
    * negative inside the selected set. Both correlations from exact
    * moment sums; thresholds are fixed empirical markers (top-half
    * medians via value-domain counts, not ranks). */
  val dqBerksonBias: Q = (s, d) => {
    val base = orders(s, d)
      .join(lineitem(s, d).groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("items")),
        col("o_orderkey") === col("l_orderkey"))
      .select(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
        .as("v"), col("items").cast(LongType).as("q"))
      .sharedCache()
    val thr = base.agg((sum("v") / count(lit(1))).as("vbar"),
      (sum("q").cast(DoubleType) / count(lit(1))).as("qbar"))
    def corrOf(df: DataFrame, label: String): DataFrame =
      df.agg(count(lit(1)).as("n"),
        sum(expr("CAST(v AS DECIMAL(38,0))")).as("sv"),
        sum(expr("CAST(q AS DECIMAL(38,0))")).as("sq"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * q")).as("svq"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("svv"),
        sum(expr("CAST(q AS DECIMAL(38,0)) * q")).as("sqq"))
        .select(lit(label).as("population"), col("n"),
          round((col("n").cast(DoubleType) * col("svq").cast(DoubleType) -
            col("sv").cast(DoubleType) * col("sq").cast(DoubleType)) /
            (sqrt(col("n").cast(DoubleType) * col("svv").cast(DoubleType) -
              col("sv").cast(DoubleType) * col("sv").cast(DoubleType)) *
              sqrt(col("n").cast(DoubleType) * col("sqq").cast(DoubleType) -
                col("sq").cast(DoubleType) * col("sq").cast(DoubleType))), 4)
            .as("corr_value_items"))
    val selected = base.crossJoin(broadcast(thr))
      .filter(col("v").cast(DoubleType) > col("vbar") ||
        col("q").cast(DoubleType) > col("qbar"))
      .select(col("v"), col("q"))
    corrOf(base, "all_orders")
      .unionAll(corrOf(selected, "selected_by_collider"))
      .orderBy("population")
  }

  val dqBerksonBiasSql: String =
    """WITH base AS MATERIALIZED (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
      |         CAST(items AS BIGINT) AS q
      |  FROM orders JOIN (
      |    SELECT l_orderkey, count(*) AS items FROM lineitem GROUP BY 1) li
      |  ON o_orderkey = l_orderkey),
      |thr AS (
      |  SELECT CAST(sum(v) AS DOUBLE) / count(*) AS vbar,
      |         CAST(sum(q) AS DOUBLE) / count(*) AS qbar
      |  FROM base),
      |allc AS (
      |  SELECT 'all_orders' AS population, CAST(count(*) AS BIGINT) AS n,
      |         round((count(*) * CAST(sum(CAST(v AS HUGEINT) * q) AS DOUBLE) -
      |                CAST(sum(v) AS DOUBLE) * CAST(sum(q) AS DOUBLE)) /
      |               (sqrt(count(*) * CAST(sum(CAST(v AS HUGEINT) * v) AS DOUBLE)
      |                     - CAST(sum(v) AS DOUBLE) * CAST(sum(v) AS DOUBLE)) *
      |                sqrt(count(*) * CAST(sum(CAST(q AS HUGEINT) * q) AS DOUBLE)
      |                     - CAST(sum(q) AS DOUBLE) * CAST(sum(q) AS DOUBLE))),
      |               4) AS corr_value_items
      |  FROM base),
      |selc AS (
      |  SELECT 'selected_by_collider' AS population,
      |         CAST(count(*) AS BIGINT) AS n,
      |         round((count(*) * CAST(sum(CAST(v AS HUGEINT) * q) AS DOUBLE) -
      |                CAST(sum(v) AS DOUBLE) * CAST(sum(q) AS DOUBLE)) /
      |               (sqrt(count(*) * CAST(sum(CAST(v AS HUGEINT) * v) AS DOUBLE)
      |                     - CAST(sum(v) AS DOUBLE) * CAST(sum(v) AS DOUBLE)) *
      |                sqrt(count(*) * CAST(sum(CAST(q AS HUGEINT) * q) AS DOUBLE)
      |                     - CAST(sum(q) AS DOUBLE) * CAST(sum(q) AS DOUBLE))),
      |               4) AS corr_value_items
      |  FROM base CROSS JOIN thr
      |  WHERE CAST(v AS DOUBLE) > vbar OR CAST(q AS DOUBLE) > qbar)
      |SELECT * FROM allc UNION ALL SELECT * FROM selc
      |ORDER BY population""".stripMargin

  /** dq-will-rogers — stage migration: reclassifying the WEAKEST
    * members of the high tier into the low tier raises BOTH tier
    * means ("when the Okies left Oklahoma and moved to California,
    * they raised the average intelligence level in both states").
    * Tiers split at a fixed value threshold; the migration band is
    * the bottom decile-width slice of the high tier. The op reports
    * both means before and after and the both-increased verdict —
    * the reason tier-mean trendlines cannot be compared across a
    * reclassification. Exact integer sums throughout. */
  val dqWillRogers: Q = (s, d) => {
    val base = orders(s, d)
      .select(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
        .as("v"))
      .sharedCache()
    val thr = base.agg(expr("sum(v) DIV count(*)").as("t"))
    val staged = base.crossJoin(broadcast(thr))
      .withColumn("tier0", when(col("v") >= col("t"), "high").otherwise("low"))
      .withColumn("tier1", when(col("v") >= col("t") + expr("t DIV 10"), "high")
        .otherwise("low"))
    def means(tierCol: String, label: String): DataFrame =
      staged.groupBy(col(tierCol).as("tier"))
        .agg((sum("v").cast(DoubleType) / count(lit(1)).cast(DoubleType) / 100)
          .as("m"))
        .groupBy()
        .agg(max(when(col("tier") === "high", col("m"))).as(s"high_$label"),
          max(when(col("tier") === "low", col("m"))).as(s"low_$label"))
    means("tier0", "before").crossJoin(means("tier1", "after"))
      .select(round(col("high_before"), 2).as("high_mean_before_usd"),
        round(col("high_after"), 2).as("high_mean_after_usd"),
        round(col("low_before"), 2).as("low_mean_before_usd"),
        round(col("low_after"), 2).as("low_mean_after_usd"),
        (col("high_after") > col("high_before") &&
          col("low_after") > col("low_before")).as("both_means_rose"))
  }

  val dqWillRogersSql: String =
    """WITH base AS MATERIALIZED (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM orders),
      |thr AS (SELECT CAST(sum(v) // count(*) AS BIGINT) AS t FROM base),
      |staged AS (
      |  SELECT v,
      |         CASE WHEN v >= t THEN 'high' ELSE 'low' END AS tier0,
      |         CASE WHEN v >= t + t // 10 THEN 'high' ELSE 'low' END AS tier1
      |  FROM base CROSS JOIN thr),
      |before_ AS (
      |  SELECT max(CASE WHEN tier0 = 'high' THEN m END) AS high_before,
      |         max(CASE WHEN tier0 = 'low' THEN m END) AS low_before
      |  FROM (SELECT tier0, CAST(sum(v) AS DOUBLE) / count(*) / 100 AS m
      |        FROM staged GROUP BY 1) t),
      |after_ AS (
      |  SELECT max(CASE WHEN tier1 = 'high' THEN m END) AS high_after,
      |         max(CASE WHEN tier1 = 'low' THEN m END) AS low_after
      |  FROM (SELECT tier1, CAST(sum(v) AS DOUBLE) / count(*) / 100 AS m
      |        FROM staged GROUP BY 1) t)
      |SELECT round(high_before, 2) AS high_mean_before_usd,
      |       round(high_after, 2) AS high_mean_after_usd,
      |       round(low_before, 2) AS low_mean_before_usd,
      |       round(low_after, 2) AS low_mean_after_usd,
      |       high_after > high_before AND low_after > low_before
      |         AS both_means_rose
      |FROM before_ CROSS JOIN after_""".stripMargin

  /** agg-metcalfe-fit — does book value grow like n (Sarnoff), n·ln n
    * (Odlyzko), or n² (Metcalfe)? Three one-regressor log-log fits of
    * monthly revenue against active customers, judged by R² on the
    * bounded month frame with quantized logs — the network-effects
    * horse race. Single (month) aggregate; three closed forms share
    * the same sums. */
  val aggMetcalfeFit: Q = (s, d) => {
    val mon = orders(s, d)
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .as("mi"))
      .agg(expr("sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 " +
        "AS BIGINT))").as("rev"),
        countDistinct(col("o_custkey")).as("nc"))
      .select(
        floor(log(col("rev").cast(DoubleType)) * 1e9).cast(LongType).as("y"),
        floor(log(col("nc").cast(DoubleType)) * 1e9).cast(LongType).as("xn"),
        floor(log(col("nc").cast(DoubleType) *
          log(col("nc").cast(DoubleType))) * 1e9).cast(LongType).as("xnln"),
        floor(log(col("nc").cast(DoubleType) * col("nc").cast(DoubleType)) *
          1e9).cast(LongType).as("xn2"))
    def r2(xcol: String, label: String): org.apache.spark.sql.Column = {
      round(((count(lit(1)).cast(DoubleType) *
        sum(expr(s"CAST($xcol AS DECIMAL(38,0)) * y")).cast(DoubleType) -
        sum(xcol).cast(DoubleType) * sum("y").cast(DoubleType)) *
        (count(lit(1)).cast(DoubleType) *
          sum(expr(s"CAST($xcol AS DECIMAL(38,0)) * y")).cast(DoubleType) -
          sum(xcol).cast(DoubleType) * sum("y").cast(DoubleType))) /
        ((count(lit(1)).cast(DoubleType) *
          sum(expr(s"CAST($xcol AS DECIMAL(38,0)) * $xcol")).cast(DoubleType) -
          sum(xcol).cast(DoubleType) * sum(xcol).cast(DoubleType)) *
          (count(lit(1)).cast(DoubleType) *
            sum(expr("CAST(y AS DECIMAL(38,0)) * y")).cast(DoubleType) -
            sum("y").cast(DoubleType) * sum("y").cast(DoubleType))), 6)
        .as(label)
    }
    mon.agg(count(lit(1)).cast(LongType).as("n_months"),
      r2("xn", "r2_sarnoff_n"),
      r2("xnln", "r2_odlyzko_nlogn"),
      r2("xn2", "r2_metcalfe_n2"))
  }

  val aggMetcalfeFitSql: String = {
    def r2(x: String, label: String): String =
      s"""round(((count(*) * CAST(sum(CAST($x AS HUGEINT) * y) AS DOUBLE) -
         |        CAST(sum($x) AS DOUBLE) * CAST(sum(y) AS DOUBLE)) *
         |       (count(*) * CAST(sum(CAST($x AS HUGEINT) * y) AS DOUBLE) -
         |        CAST(sum($x) AS DOUBLE) * CAST(sum(y) AS DOUBLE))) /
         |      ((count(*) * CAST(sum(CAST($x AS HUGEINT) * $x) AS DOUBLE) -
         |        CAST(sum($x) AS DOUBLE) * CAST(sum($x) AS DOUBLE)) *
         |       (count(*) * CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) -
         |        CAST(sum(y) AS DOUBLE) * CAST(sum(y) AS DOUBLE))), 6)
         |  AS $label""".stripMargin
    s"""WITH mon AS (
       |  SELECT CAST(floor(ln(CAST(rev AS DOUBLE)) * 1e9) AS BIGINT) AS y,
       |         CAST(floor(ln(CAST(nc AS DOUBLE)) * 1e9) AS BIGINT) AS xn,
       |         CAST(floor(ln(CAST(nc AS DOUBLE) * ln(CAST(nc AS DOUBLE))) * 1e9)
       |              AS BIGINT) AS xnln,
       |         CAST(floor(ln(CAST(nc AS DOUBLE) * CAST(nc AS DOUBLE)) * 1e9)
       |              AS BIGINT) AS xn2
       |  FROM (
       |    SELECT CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
       |                AS BIGINT)) AS BIGINT) AS rev,
       |           CAST(count(DISTINCT o_custkey) AS BIGINT) AS nc
       |    FROM orders
       |    GROUP BY year(CAST(o_orderdate AS DATE)) * 12 +
       |             month(CAST(o_orderdate AS DATE))) t)
       |SELECT CAST(count(*) AS BIGINT) AS n_months,
       |       ${r2("xn", "r2_sarnoff_n")},
       |       ${r2("xnln", "r2_odlyzko_nlogn")},
       |       ${r2("xn2", "r2_metcalfe_n2")}
       |FROM mon""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    Key("agg-pollaczek-khinchine", aggPollaczekKhinchine, aggPollaczekKhinchineSql),
    Key("dq-berkson-bias", dqBerksonBias, dqBerksonBiasSql),
    Key("dq-will-rogers", dqWillRogers, dqWillRogersSql),
    Key("agg-metcalfe-fit", aggMetcalfeFit, aggMetcalfeFitSql))
}
