package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-8 batch U: rolling-origin forecast cross-validation,
  * per-dimension embedding drift panel, pinball-loss quantile-forecast
  * evaluation, newsvendor critical-ratile stocking. */
object RelMore185 extends KeyModule {

  private val centsExpr =
    "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"

  /** sample-rolling-origin-cv — time-series cross-validation done
    * right: five folds with an EXPANDING train window (origin rolls
    * forward 6 months per fold) and a fixed 3-month test horizon,
    * scoring the seasonal-naive forecast (same month, prior year) —
    * the standard protocol that respects temporal order where vanilla
    * k-fold leaks the future (sample-purged-kfold handles the
    * overlap-purging variant; this is the forecasting one). Errors
    * are exact: MAE in dollars, sMAPE in floor-milli units. The fact
    * scan is one month-grain aggregate; folds are a 5-literal explode
    * over the bounded month frame. */
  val sampleRollingOriginCv: Q = (s, d) => {
    val mon = orders(s, d)
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .as("mi"))
      .agg(expr(s"sum($centsExpr) DIV 100").as("rev"))
      .sharedCache()
    val m0 = mon.agg(min("mi").as("m0"))
    val idx = mon.crossJoin(broadcast(m0))
      .select((col("mi") - col("m0") + 1).as("t"), col("rev"))
      .sharedCache()
    val fc = idx.select((col("t") + 12).as("t"), col("rev").as("f"))
    val folds = idx.join(fc, Seq("t"))
      .select(explode(expr("sequence(1, 5)")).as("fold"), col("t"),
        col("rev"), col("f"))
      .withColumn("cut", lit(40) + col("fold") * 6)
      .filter(col("t") > col("cut") && col("t") <= col("cut") + 3)
    folds.groupBy("fold")
      .agg(max("cut").cast(LongType).as("train_months"),
        count(lit(1)).as("test_months"),
        expr("sum(abs(rev - f)) DIV count(*)").as("mae_usd"),
        expr("sum((2000 * abs(rev - f)) DIV (rev + f)) DIV count(*)")
          .as("smape_milli"))
      .select(col("fold").cast(IntegerType).as("fold"), col("train_months"),
        col("test_months"), col("mae_usd"), col("smape_milli"))
      .orderBy("fold")
  }

  val sampleRollingOriginCvSql: String =
    s"""WITH mon AS (
       |  SELECT year(CAST(o_orderdate AS DATE)) * 12 +
       |           month(CAST(o_orderdate AS DATE)) AS mi,
       |         CAST(sum($centsExpr) // 100 AS BIGINT) AS rev
       |  FROM orders GROUP BY 1),
       |idx AS (
       |  SELECT mi - (SELECT min(mi) FROM mon) + 1 AS t, rev FROM mon),
       |fc AS (SELECT t + 12 AS t, rev AS f FROM idx),
       |folds AS (
       |  SELECT fold, t, rev, f, 40 + fold * 6 AS cut
       |  FROM idx JOIN fc USING (t)
       |  CROSS JOIN (SELECT unnest(generate_series(1, 5)) AS fold) fs)
       |SELECT CAST(fold AS INTEGER) AS fold,
       |       CAST(max(cut) AS BIGINT) AS train_months,
       |       CAST(count(*) AS BIGINT) AS test_months,
       |       CAST(sum(abs(rev - f)) // count(*) AS BIGINT) AS mae_usd,
       |       CAST(sum((2000 * abs(rev - f)) // (rev + f)) // count(*) AS BIGINT)
       |         AS smape_milli
       |FROM folds WHERE t > cut AND t <= cut + 3
       |GROUP BY fold ORDER BY fold""".stripMargin

  /** dq-embedding-drift — did the embedding distribution move between
    * two corpus snapshots (labels 0-4 as the reference, 5-9 as the
    * candidate)? Per-DIMENSION Welch z on exact integer-lattice moment
    * sums — the vector analogue of dq-psi-drift: a retrained encoder
    * or a shifted source shows up as a handful of dimensions with
    * |z| > 3 long before a scalar monitor fires. One posexplode scan →
    * 64-dim frame; the summary row carries the worst dimension, the
    * shifted-dimension count, and the mean |z|. */
  val dqEmbeddingDrift: Q = (s, d) => {
    val comps = embeddings(s, d)
      .select((col("label") >= 5).as("grp"),
        posexplode(expr("quantize_lattice_long(embedding, 1000.0D)"))
          .as(Seq("dim", "xq")))
    val st = comps.groupBy("dim", "grp")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(xq AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(xq AS DECIMAL(38,0)) * xq")).as("sxx"))
      .select(col("dim"), col("grp"),
        col("n").cast(DoubleType).as("n"),
        col("sx").cast(DoubleType).as("sx"),
        col("sxx").cast(DoubleType).as("sxx"))
    val z = st.groupBy("dim").agg(
      sum(when(col("grp"), col("n"))).as("nb"),
      sum(when(!col("grp"), col("n"))).as("na"),
      sum(when(col("grp"), col("sx"))).as("sb"),
      sum(when(!col("grp"), col("sx"))).as("sa"),
      sum(when(col("grp"), col("sxx"))).as("ssb"),
      sum(when(!col("grp"), col("sxx"))).as("ssa"))
      .select(col("dim"),
        (((col("sa") / col("na")) - (col("sb") / col("nb"))) /
          sqrt(((col("ssa") - col("sa") * col("sa") / col("na")) /
            (col("na") - 1.0)) / col("na") +
            ((col("ssb") - col("sb") * col("sb") / col("nb")) /
              (col("nb") - 1.0)) / col("nb"))).as("zv"))
    val worst = z.orderBy(abs(col("zv")).desc, col("dim")).limit(1)
      .select(col("dim").as("worst_dim"), round(col("zv"), 4).as("worst_z"))
    z.agg(count(lit(1)).as("n_dims"),
      sum(when(abs(col("zv")) > 3.0, 1L).otherwise(0L)).as("dims_shifted"),
      round(avg(abs(col("zv"))), 4).as("mean_abs_z"),
      round(max(abs(col("zv"))), 4).as("max_abs_z"))
      .crossJoin(broadcast(worst))
      .select(col("n_dims"), col("dims_shifted"), col("mean_abs_z"),
        col("max_abs_z"), col("worst_dim").cast(IntegerType).as("worst_dim"),
        col("worst_z"))
  }

  val dqEmbeddingDriftSql: String =
    """WITH comps AS (
      |  SELECT label >= 5 AS grp, u.dim, u.xq
      |  FROM embeddings,
      |       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) ix,
      |       LATERAL (SELECT i - 1 AS dim,
      |                CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT)
      |                  AS xq) u),
      |st AS (
      |  SELECT dim, grp, CAST(count(*) AS DOUBLE) AS n,
      |         CAST(sum(CAST(xq AS HUGEINT)) AS DOUBLE) AS sx,
      |         CAST(sum(CAST(xq AS HUGEINT) * xq) AS DOUBLE) AS sxx
      |  FROM comps GROUP BY 1, 2),
      |z AS (
      |  SELECT dim,
      |         ((sa / na) - (sb / nb)) /
      |         sqrt(((ssa - sa * sa / na) / (na - 1.0)) / na +
      |              ((ssb - sb * sb / nb) / (nb - 1.0)) / nb) AS zv
      |  FROM (
      |    SELECT dim,
      |           sum(CASE WHEN grp THEN n END) AS nb,
      |           sum(CASE WHEN NOT grp THEN n END) AS na,
      |           sum(CASE WHEN grp THEN sx END) AS sb,
      |           sum(CASE WHEN NOT grp THEN sx END) AS sa,
      |           sum(CASE WHEN grp THEN sxx END) AS ssb,
      |           sum(CASE WHEN NOT grp THEN sxx END) AS ssa
      |    FROM st GROUP BY 1) t),
      |worst AS (
      |  SELECT dim AS worst_dim, round(zv, 4) AS worst_z
      |  FROM z ORDER BY abs(zv) DESC, dim LIMIT 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_dims,
      |       CAST(sum(CASE WHEN abs(zv) > 3.0 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS dims_shifted,
      |       round(avg(abs(zv)), 4) AS mean_abs_z,
      |       round(max(abs(zv)), 4) AS max_abs_z,
      |       CAST(max(worst_dim) AS INTEGER) AS worst_dim,
      |       max(worst_z) AS worst_z
      |FROM z CROSS JOIN worst""".stripMargin

  /** agg-pinball-loss-eval — scoring QUANTILE forecasts, not point
    * ones: the 1996 monthly revenues act as a 12-sample predictive
    * distribution, its order statistics give the q10/q50/q90
    * forecasts, and each 1997 month is scored with the pinball loss
    * L_τ(f,a) = (a−f)τ if a≥f else (f−a)(1−τ) — the strictly proper
    * rule every quantile model is judged by. Coverage (share of
    * actuals under the forecast) sits next to it: well-calibrated
    * q90 ⇒ coverage ≈ 0.9. Exact: order stats on a bounded 12-row
    * sort, losses in integer deci-dollar units. */
  val aggPinballLossEval: Q = (s, d) => {
    val mon = orders(s, d)
      .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
      .agg(expr(s"sum($centsExpr) DIV 100").as("rev"))
      .sharedCache()
    val hist = mon.filter(col("y") === 1996)
      .withColumn("rk", row_number().over(Window.orderBy(col("rev"), col("m"))))
    val taus = Seq((10, 2), (50, 6), (90, 11))
    val q = taus.map { case (tau, k) =>
      hist.filter(col("rk") === k)
        .select(lit(tau).as("tau_pct"), col("rev").as("f"))
    }.reduce(_ unionAll _)
    val act = mon.filter(col("y") === 1997).select(col("rev").as("a"))
    q.crossJoin(act)
      .withColumn("loss_deci", expr("CASE WHEN a >= f " +
        "THEN (a - f) * tau_pct DIV 10 " +
        "ELSE (f - a) * (100 - tau_pct) DIV 10 END"))
      .groupBy("tau_pct")
      .agg(max("f").as("forecast_usd"),
        expr("sum(loss_deci) DIV (10 * count(*))").as("mean_pinball_usd"),
        round(sum(when(col("a") <= col("f"), 1L).otherwise(0L))
          .cast(DoubleType) / count(lit(1)), 4).as("coverage"))
      .select(col("tau_pct").cast(IntegerType).as("tau_pct"),
        col("forecast_usd"), col("mean_pinball_usd"), col("coverage"))
      .orderBy("tau_pct")
  }

  val aggPinballLossEvalSql: String =
    s"""WITH mon AS (
       |  SELECT year(CAST(o_orderdate AS DATE)) AS y,
       |         month(CAST(o_orderdate AS DATE)) AS m,
       |         CAST(sum($centsExpr) // 100 AS BIGINT) AS rev
       |  FROM orders GROUP BY 1, 2),
       |hist AS (
       |  SELECT rev, row_number() OVER (ORDER BY rev, m) AS rk
       |  FROM mon WHERE y = 1996),
       |q AS (
       |  SELECT tau_pct, rev AS f
       |  FROM hist JOIN (VALUES (10, 2), (50, 6), (90, 11)) AS tk(tau_pct, k)
       |    ON hist.rk = tk.k),
       |act AS (SELECT rev AS a FROM mon WHERE y = 1997),
       |losses AS (
       |  SELECT tau_pct, f, a,
       |         CASE WHEN a >= f THEN (a - f) * tau_pct // 10
       |              ELSE (f - a) * (100 - tau_pct) // 10 END AS loss_deci
       |  FROM q CROSS JOIN act)
       |SELECT CAST(tau_pct AS INTEGER) AS tau_pct,
       |       max(f) AS forecast_usd,
       |       CAST(sum(loss_deci) // (10 * count(*)) AS BIGINT)
       |         AS mean_pinball_usd,
       |       round(CAST(sum(CASE WHEN a <= f THEN 1 ELSE 0 END) AS DOUBLE) /
       |             count(*), 4) AS coverage
       |FROM losses GROUP BY tau_pct ORDER BY tau_pct""".stripMargin

  /** agg-newsvendor-quantile — the single-period stocking decision:
    * with underage cost cu and overage cost co the optimal stock is
    * the demand quantile at the critical ratio cu/(cu+co) — a pure
    * order statistic, no distribution fit. Four cost scenarios sweep
    * the ratio; for each, the realized cost of stocking at Q* is
    * compared with stocking at the MEAN (the naive policy), and the
    * saving is the graded number (complements agg-safety-stock /
    * agg-eoq-wilson, which answer different inventory questions).
    * Demand = monthly order counts; exact integer order stats on the
    * bounded month frame and exact integer cost sums. */
  val aggNewsvendorQuantile: Q = (s, d) => {
    val mon = orders(s, d)
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .as("mi"))
      .agg(count(lit(1)).as("dem"))
      .sharedCache()
    mon.count() // single-stage fill: three consumers raced the first
    // materialization in BOTH r13 close benches (WARN triage, r14)
    val n = mon.agg(count(lit(1)).as("nm"), expr("sum(dem) DIV count(*)").as("mu"))
    val ranked = mon.withColumn("rk",
      row_number().over(Window.orderBy(col("dem"), col("mi"))))
    val scen = Seq((9, 1), (3, 1), (1, 1), (1, 3))
    val qstar = scen.map { case (cu, co) =>
      ranked.crossJoin(broadcast(n))
        .filter(col("rk") === ceil(lit(cu.toDouble / (cu + co)) *
          col("nm").cast(DoubleType)).cast(LongType))
        .select(lit(cu).as("cu"), lit(co).as("co"), col("dem").as("qstar"),
          col("mu"))
    }.reduce(_ unionAll _)
    qstar.crossJoin(mon.select(col("dem").as("dm")))
      .groupBy("cu", "co", "qstar", "mu")
      .agg(sum(when(col("dm") > col("qstar"),
        (col("dm") - col("qstar")) * col("cu")).otherwise(
        (col("qstar") - col("dm")) * col("co"))).as("cost_qstar"),
        sum(when(col("dm") > col("mu"),
          (col("dm") - col("mu")) * col("cu")).otherwise(
          (col("mu") - col("dm")) * col("co"))).as("cost_mean"))
      .select(col("cu").cast(IntegerType).as("cu"),
        col("co").cast(IntegerType).as("co"),
        col("qstar").as("q_star"), col("mu").as("q_mean"),
        col("cost_qstar"), col("cost_mean"),
        round((col("cost_mean") - col("cost_qstar")).cast(DoubleType) * 100 /
          col("cost_mean").cast(DoubleType), 2).as("saving_pct"))
      .orderBy(col("cu").desc, col("co"))
  }

  val aggNewsvendorQuantileSql: String =
    """WITH mon AS (
      |  SELECT year(CAST(o_orderdate AS DATE)) * 12 +
      |           month(CAST(o_orderdate AS DATE)) AS mi,
      |         CAST(count(*) AS BIGINT) AS dem
      |  FROM orders GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS nm,
      |             CAST(sum(dem) // count(*) AS BIGINT) AS mu FROM mon),
      |ranked AS (
      |  SELECT dem, row_number() OVER (ORDER BY dem, mi) AS rk FROM mon),
      |qstar AS (
      |  SELECT cu, co, dem AS qstar, mu
      |  FROM ranked CROSS JOIN n
      |  JOIN (VALUES (9, 1), (3, 1), (1, 1), (1, 3)) AS sc(cu, co)
      |    ON rk = CAST(ceil(CAST(cu AS DOUBLE) / (cu + co) *
      |                      CAST(nm AS DOUBLE)) AS BIGINT))
      |SELECT CAST(cu AS INTEGER) AS cu, CAST(co AS INTEGER) AS co,
      |       qstar AS q_star, mu AS q_mean,
      |       CAST(sum(CASE WHEN dm > qstar THEN (dm - qstar) * cu
      |                     ELSE (qstar - dm) * co END) AS BIGINT) AS cost_qstar,
      |       CAST(sum(CASE WHEN dm > mu THEN (dm - mu) * cu
      |                     ELSE (mu - dm) * co END) AS BIGINT) AS cost_mean,
      |       round(CAST(sum(CASE WHEN dm > mu THEN (dm - mu) * cu
      |                      ELSE (mu - dm) * co END) -
      |                  sum(CASE WHEN dm > qstar THEN (dm - qstar) * cu
      |                      ELSE (qstar - dm) * co END) AS DOUBLE) * 100 /
      |             CAST(sum(CASE WHEN dm > mu THEN (dm - mu) * cu
      |                      ELSE (mu - dm) * co END) AS DOUBLE), 2) AS saving_pct
      |FROM qstar CROSS JOIN (SELECT dem AS dm FROM mon) dmm
      |GROUP BY cu, co, qstar, mu
      |ORDER BY cu DESC, co""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("sample-rolling-origin-cv", sampleRollingOriginCv, sampleRollingOriginCvSql),
    Key("dq-embedding-drift", dqEmbeddingDrift, dqEmbeddingDriftSql),
    Key("agg-pinball-loss-eval", aggPinballLossEval, aggPinballLossEvalSql),
    Key("agg-newsvendor-quantile", aggNewsvendorQuantile, aggNewsvendorQuantileSql))
}
