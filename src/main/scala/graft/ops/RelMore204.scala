package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-8 batch AM: the forecast-evaluation family — combination
  * beats components, MSE decomposition, Diebold-Mariano comparison,
  * directional accuracy with the Pesaran-Timmermann test. */
object RelMore204 extends KeyModule {

  private val centsExpr =
    "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"

  /** Shared monthly frame with the three classic no-model forecasts:
    * naive (last month), seasonal-naive (same month last year), drift
    * (last + average historical step). Evaluation months are 1997+ so
    * every forecast has its inputs. */
  private def evalFrame(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy("mi")
    orders(s, d)
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .as("mi"))
      .agg(expr(s"sum($centsExpr) DIV 100").as("rev"))
      .withColumn("f_naive", lag("rev", 1).over(w))
      .withColumn("f_snaive", lag("rev", 12).over(w))
      .withColumn("steps", count(lit(1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("first", expr("min_by(rev, mi) OVER ()"))
      // exact integer floor division (DuckDB //): the drift step can be
      // negative and Spark DIV truncates toward zero, so correct the
      // truncated quotient down by 1 when the division is inexact and
      // the dividend is negative (divisor is always ≥1). Staying in
      // integers matters at scale: floor() on a double ratio can land
      // on the wrong integer once |dividend| ≳ 2⁵³/denominator, and at
      // the 100 TB bar monthly revenue deltas reach ~1e12 cents where
      // double ULP is already whole units.
      .withColumn("f_drift", col("f_naive") +
        expr("""(f_naive - first) DIV greatest(steps - 1, 1L) -
                IF((f_naive - first) % greatest(steps - 1, 1L) != 0
                   AND f_naive < first, 1L, 0L)"""))
      .filter(col("mi") >= 1997 * 12 + 1 && col("f_snaive").isNotNull)
      .select(col("mi"), col("rev"), col("f_naive"), col("f_snaive"),
        col("f_drift"))
  }

  private val evalFrameSql: String =
    s"""SELECT mi, rev, f_naive, f_snaive,
       |       f_naive + (f_naive - first_) // greatest(steps - 1, 1) AS f_drift
       |FROM (
       |  SELECT mi, rev,
       |         lag(rev, 1) OVER (ORDER BY mi) AS f_naive,
       |         lag(rev, 12) OVER (ORDER BY mi) AS f_snaive,
       |         count(*) OVER (ORDER BY mi
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS steps,
       |         arg_min(rev, mi) OVER () AS first_
       |  FROM (
       |    SELECT year(CAST(o_orderdate AS DATE)) * 12 +
       |             month(CAST(o_orderdate AS DATE)) AS mi,
       |           CAST(sum($centsExpr) // 100 AS BIGINT) AS rev
       |    FROM orders GROUP BY 1) q) t
       |WHERE mi >= ${1997 * 12 + 1} AND f_snaive IS NOT NULL""".stripMargin

  /** agg-forecast-combination — the M-competition's most durable
    * finding: the simple AVERAGE of cheap forecasts beats most of its
    * components. Naive, seasonal-naive, and drift forecasts are
    * evaluated on 1997+ months; the equal-weight combination's MAE
    * sits beside each component's, with the verdict on whether the
    * average beat the best single model. Bounded month frames, exact
    * integer errors. */
  val aggForecastCombination: Q = (s, d) => {
    val f = evalFrame(s, d)
      .withColumn("f_combo",
        expr("(f_naive + f_snaive + f_drift) DIV 3"))
    f.agg(count(lit(1)).as("n_months"),
      expr("sum(abs(rev - f_naive)) DIV count(*)").as("mae_naive"),
      expr("sum(abs(rev - f_snaive)) DIV count(*)").as("mae_snaive"),
      expr("sum(abs(rev - f_drift)) DIV count(*)").as("mae_drift"),
      expr("sum(abs(rev - f_combo)) DIV count(*)").as("mae_combo"))
      .withColumn("combo_beats_best",
        col("mae_combo") <= least(col("mae_naive"), col("mae_snaive"),
          col("mae_drift")))
      .withColumn("combo_beats_average",
        col("mae_combo") * 3 <= col("mae_naive") + col("mae_snaive") +
          col("mae_drift"))
  }

  val aggForecastCombinationSql: String =
    s"""WITH f AS (
       |  SELECT *, (f_naive + f_snaive + f_drift) // 3 AS f_combo
       |  FROM ($evalFrameSql) e)
       |SELECT CAST(count(*) AS BIGINT) AS n_months,
       |       CAST(sum(abs(rev - f_naive)) // count(*) AS BIGINT) AS mae_naive,
       |       CAST(sum(abs(rev - f_snaive)) // count(*) AS BIGINT)
       |         AS mae_snaive,
       |       CAST(sum(abs(rev - f_drift)) // count(*) AS BIGINT) AS mae_drift,
       |       CAST(sum(abs(rev - f_combo)) // count(*) AS BIGINT) AS mae_combo,
       |       sum(abs(rev - f_combo)) // count(*) <=
       |         least(sum(abs(rev - f_naive)) // count(*),
       |               sum(abs(rev - f_snaive)) // count(*),
       |               sum(abs(rev - f_drift)) // count(*))
       |         AS combo_beats_best,
       |       (sum(abs(rev - f_combo)) // count(*)) * 3 <=
       |         sum(abs(rev - f_naive)) // count(*) +
       |         sum(abs(rev - f_snaive)) // count(*) +
       |         sum(abs(rev - f_drift)) // count(*) AS combo_beats_average
       |FROM f""".stripMargin

  /** agg-forecast-mse-decomposition — Theil's decomposition of the
    * seasonal-naive forecast's MSE into the BIAS share (systematic
    * level miss), the REGRESSION share (slope ≠ 1 — the forecast
    * under/over-reacts), and the DISTURBANCE share (irreducible
    * noise) — the diagnosis that says whether recalibration can help
    * (bias/slope can be fixed by an affine correction; disturbance
    * cannot). Exact moment sums on the bounded eval frame. */
  val aggForecastMseDecomposition: Q = (s, d) => {
    val f = evalFrame(s, d)
      .select(col("rev").cast(DoubleType).as("a"),
        col("f_snaive").cast(DoubleType).as("p"))
    val m = f.agg(count(lit(1)).as("n"),
      avg("a").as("ma"), avg("p").as("mp"),
      sum(col("a") * col("a")).as("saa"),
      sum(col("p") * col("p")).as("spp"),
      sum(col("a") * col("p")).as("sap"),
      sum((col("a") - col("p")) * (col("a") - col("p"))).as("sse"))
      .select(col("n").cast(DoubleType).as("n"), col("ma"), col("mp"),
        col("saa"), col("spp"), col("sap"), col("sse"))
      .select(col("n"), col("ma"), col("mp"),
        (col("sse") / col("n")).as("mse"),
        ((col("spp") - col("n") * col("mp") * col("mp")) / col("n")).as("vp"),
        ((col("saa") - col("n") * col("ma") * col("ma")) / col("n")).as("va"),
        ((col("sap") - col("n") * col("ma") * col("mp")) / col("n")).as("cap"))
      .select(col("n"), col("mse"),
        ((col("mp") - col("ma")) * (col("mp") - col("ma")) / col("mse"))
          .as("bias_share"),
        ((sqrt(col("vp")) - col("cap") / sqrt(col("vp"))) *
          (sqrt(col("vp")) - col("cap") / sqrt(col("vp"))) / col("mse"))
          .as("regression_share"),
        ((col("va") - col("cap") * col("cap") / col("vp")) / col("mse"))
          .as("disturbance_share"))
    m.select(col("n").cast(LongType).as("n_months"),
      round(sqrt(col("mse")), 2).as("rmse_usd"),
      round(col("bias_share"), 4).as("bias_share"),
      round(col("regression_share"), 4).as("regression_share"),
      round(col("disturbance_share"), 4).as("disturbance_share"),
      round(col("bias_share") + col("regression_share") +
        col("disturbance_share"), 4).as("shares_sum"))
  }

  val aggForecastMseDecompositionSql: String =
    s"""WITH f AS (
       |  SELECT CAST(rev AS DOUBLE) AS a, CAST(f_snaive AS DOUBLE) AS p
       |  FROM ($evalFrameSql) e),
       |m AS (
       |  SELECT n, mse,
       |         (mp - ma) * (mp - ma) / mse AS bias_share,
       |         (sqrt(vp) - cap / sqrt(vp)) * (sqrt(vp) - cap / sqrt(vp)) / mse
       |           AS regression_share,
       |         (va - cap * cap / vp) / mse AS disturbance_share
       |  FROM (
       |    SELECT n, ma, mp, sse / n AS mse,
       |           (spp - n * mp * mp) / n AS vp,
       |           (saa - n * ma * ma) / n AS va,
       |           (sap - n * ma * mp) / n AS cap
       |    FROM (
       |      SELECT CAST(count(*) AS DOUBLE) AS n, avg(a) AS ma, avg(p) AS mp,
       |             sum(a * a) AS saa, sum(p * p) AS spp, sum(a * p) AS sap,
       |             sum((a - p) * (a - p)) AS sse
       |      FROM f) q1) q2)
       |SELECT CAST(n AS BIGINT) AS n_months,
       |       round(sqrt(mse), 2) AS rmse_usd,
       |       round(bias_share, 4) AS bias_share,
       |       round(regression_share, 4) AS regression_share,
       |       round(disturbance_share, 4) AS disturbance_share,
       |       round(bias_share + regression_share + disturbance_share, 4)
       |         AS shares_sum
       |FROM m""".stripMargin

  /** agg-diebold-mariano — is forecast A actually better than B, or
    * is the MAE gap luck? The DM statistic on the loss differential
    * d_t = |e_naive| − |e_snaive|: mean(d)/se(mean) ~ N(0,1) (lag-0
    * variance — the horizon-1 case). The test every model bake-off
    * should run before declaring a winner. Exact integer losses;
    * bounded frame. */
  val aggDieboldMariano: Q = (s, d) => {
    val f = evalFrame(s, d)
      .select((abs(col("rev") - col("f_naive")) -
        abs(col("rev") - col("f_snaive"))).cast(DoubleType).as("dt"))
    f.agg(count(lit(1)).as("n"), avg("dt").as("md"),
      sum(col("dt") * col("dt")).as("sdd"))
      .select(col("n").cast(DoubleType).as("n"), col("md"), col("sdd"))
      .select(col("n").cast(LongType).as("n_months"),
        round(col("md"), 2).as("mean_loss_diff_usd"),
        round(col("md") / sqrt(((col("sdd") - col("n") * col("md") *
          col("md")) / (col("n") - 1.0)) / col("n")), 4).as("dm_stat"),
        (abs(col("md") / sqrt(((col("sdd") - col("n") * col("md") *
          col("md")) / (col("n") - 1.0)) / col("n"))) > 1.96)
          .as("difference_significant"))
  }

  val aggDieboldMarianoSql: String =
    s"""WITH f AS (
       |  SELECT CAST(abs(rev - f_naive) - abs(rev - f_snaive) AS DOUBLE) AS dt
       |  FROM ($evalFrameSql) e),
       |m AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dt) AS md,
       |         sum(dt * dt) AS sdd
       |  FROM f)
       |SELECT CAST(n AS BIGINT) AS n_months,
       |       round(md, 2) AS mean_loss_diff_usd,
       |       round(md / sqrt(((sdd - n * md * md) / (n - 1.0)) / n), 4)
       |         AS dm_stat,
       |       abs(md / sqrt(((sdd - n * md * md) / (n - 1.0)) / n)) > 1.96
       |         AS difference_significant
       |FROM m""".stripMargin

  /** agg-directional-accuracy — can the naive forecast call the
    * DIRECTION of next month's move? Hit rate of sign(forecast change)
    * vs sign(actual change), with the Pesaran-Timmermann test against
    * the no-skill benchmark implied by the two marginal up-rates —
    * the test that separates "58% hit rate" from "58% because both
    * series mostly go up". Exact sign counts; closed forms. */
  val aggDirectionalAccuracy: Q = (s, d) => {
    val w = Window.orderBy("mi")
    val f = evalFrame(s, d)
      .withColumn("prevRev", lag("rev", 1).over(w))
      .filter(col("prevRev").isNotNull)
      .select((col("rev") > col("prevRev")).as("upA"),
        (col("f_snaive") > col("prevRev")).as("upF"))
    val m = f.agg(count(lit(1)).as("n"),
      sum(when(col("upA") === col("upF"), 1L).otherwise(0L)).as("hits"),
      sum(when(col("upA"), 1L).otherwise(0L)).as("na"),
      sum(when(col("upF"), 1L).otherwise(0L)).as("nf"))
      .select(col("n").cast(DoubleType).as("n"),
        col("hits").cast(DoubleType).as("h"),
        col("na").cast(DoubleType).as("na"),
        col("nf").cast(DoubleType).as("nf"))
      .select(col("n"), col("h"),
        (col("h") / col("n")).as("p"),
        ((col("na") / col("n")) * (col("nf") / col("n")) +
          (lit(1.0) - col("na") / col("n")) *
            (lit(1.0) - col("nf") / col("n"))).as("pstar"))
    m.select(col("n").cast(LongType).as("n_months"),
      round(col("p"), 4).as("hit_rate"),
      round(col("pstar"), 4).as("no_skill_rate"),
      round((col("p") - col("pstar")) /
        sqrt(col("pstar") * (lit(1.0) - col("pstar")) / col("n")), 4)
        .as("pt_z_stat"))
  }

  val aggDirectionalAccuracySql: String =
    s"""WITH e AS ($evalFrameSql),
       |f AS (
       |  SELECT rev > prevrev AS upa, f_snaive > prevrev AS upf
       |  FROM (SELECT *, lag(rev) OVER (ORDER BY mi) AS prevrev FROM e) q
       |  WHERE prevrev IS NOT NULL),
       |m AS (
       |  SELECT n, h, h / n AS p,
       |         (na / n) * (nf / n) + (1.0 - na / n) * (1.0 - nf / n) AS pstar
       |  FROM (
       |    SELECT CAST(count(*) AS DOUBLE) AS n,
       |           CAST(sum(CASE WHEN upa = upf THEN 1 ELSE 0 END) AS DOUBLE)
       |             AS h,
       |           CAST(sum(CASE WHEN upa THEN 1 ELSE 0 END) AS DOUBLE) AS na,
       |           CAST(sum(CASE WHEN upf THEN 1 ELSE 0 END) AS DOUBLE) AS nf
       |    FROM f) q)
       |SELECT CAST(n AS BIGINT) AS n_months,
       |       round(p, 4) AS hit_rate,
       |       round(pstar, 4) AS no_skill_rate,
       |       round((p - pstar) / sqrt(pstar * (1.0 - pstar) / n), 4)
       |         AS pt_z_stat
       |FROM m""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-forecast-combination", aggForecastCombination, aggForecastCombinationSql),
    Key("agg-forecast-mse-decomposition", aggForecastMseDecomposition, aggForecastMseDecompositionSql),
    Key("agg-diebold-mariano", aggDieboldMariano, aggDieboldMarianoSql),
    Key("agg-directional-accuracy", aggDirectionalAccuracy, aggDirectionalAccuracySql))
}
