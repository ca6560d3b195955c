package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch M: Kneser-Ney bigram LM, Croston intermittent-demand
  * forecast, seasonal Mann-Kendall, newsvendor critical fractile. */
object RelMore112 extends KeyModule {

  /** text-kneser-ney — bigram language model with Kneser-Ney
    * smoothing, trained on 4/5 of the corpus (doc_id mod 5 ≠ 0) and
    * scored on the held-out fifth: P(w₂|w₁) = max(c₁₂−D,0)/c₁ +
    * D·N₁₊(w₁·)/c₁ · N₁₊(·w₂)/N₁₊(··), D = 3/4. KN's continuation
    * counts (how many CONTEXTS a word completes, not how often it
    * occurs) are the fix for "San Francisco"-style burstiness, and
    * they complete the LM-smoothing family next to text-bigram-lm /
    * -interpolated-lm / the Jelinek-Mercer op. With D = 3/4 the whole
    * probability is the exact rational [max(4c₁₂−3,0)·N·· +
    * 3·N₁₊(w₁·)·N₁₊(·w₂)] / (4·c₁·N··), nano-floor-quantized through
    * one identical double division; unseen contexts fall back to the
    * continuation unigram N₁₊(·w₂)/N··. Scored by average probability
    * mass (zeros countable, unlike log-perplexity) plus unseen-
    * context/zero-prob coverage counts — all exact integers. Count
    * tables are vocabulary-sized and broadcast; the corpus-sized work
    * is one bigram explode + one hash join. */
  val textKneserNey: Q = (s, d) => {
    val toks = documents(s, d)
      .select(col("doc_id"), posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "w")))
    val big = toks.as("a").join(toks.as("b"),
      col("a.doc_id") === col("b.doc_id") && col("b.pos") === col("a.pos") + 1)
      .select(col("a.doc_id").as("doc_id"), col("a.w").as("w1"), col("b.w").as("w2"))
      .sharedCache()
    val train = big.filter(col("doc_id") % 5 =!= 0)
    val c12 = train.groupBy("w1", "w2").agg(count(lit(1)).as("c12")).sharedCache()
    val ctx = c12.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("n1f"))
    val cont = c12.groupBy("w2").agg(count(lit(1)).as("n1p"))
    val nbb = c12.agg(count(lit(1)).as("nbb"), sum("c12").as("n_train"))
    val evalBi = big.filter(col("doc_id") % 5 === 0)
      .join(broadcast(c12), Seq("w1", "w2"), "left")
      .join(broadcast(ctx), Seq("w1"), "left")
      .join(broadcast(cont), Seq("w2"), "left")
      .crossJoin(broadcast(nbb))
      .select(
        when(col("c1").isNull,
          floor(coalesce(col("n1p"), lit(0L)).cast(DoubleType) * lit(1e9) / col("nbb")))
          .otherwise(floor(
            (greatest(lit(4) * coalesce(col("c12"), lit(0L)) - 3, lit(0L)) * col("nbb") +
              lit(3) * col("n1f") * coalesce(col("n1p"), lit(0L))).cast(DoubleType) * lit(1e9) /
              (lit(4) * col("c1") * col("nbb")).cast(DoubleType)))
          .cast(LongType).as("pq"),
        when(col("c1").isNull, 1L).otherwise(0L).as("unseen_ctx"))
    evalBi.crossJoin(broadcast(nbb.select(col("nbb").as("n_bigram_types"),
      col("n_train").as("n_train_bigrams"))))
      .agg(max("n_bigram_types").as("n_bigram_types"),
        max("n_train_bigrams").as("n_train_bigrams"),
        count(lit(1)).as("n_eval"),
        sum("unseen_ctx").as("n_unseen_ctx"),
        sum(when(col("pq") === 0, 1L).otherwise(0L)).as("n_zero_prob"),
        sum("pq").as("sum_pq"))
      .select(col("n_bigram_types"), col("n_train_bigrams"), col("n_eval"),
        col("n_unseen_ctx"), col("n_zero_prob"),
        ratioFloor(col("sum_pq"), col("n_eval") * lit(1000000000L), 6).as("avg_prob"))
  }

  val textKneserNeySql: String =
    """WITH toks AS MATERIALIZED (
      |  SELECT doc_id, unnest(t) AS w, unnest(range(1, len(t) + 1)) AS pos
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |        FROM documents) sp),
      |big AS MATERIALIZED (
      |  SELECT a.doc_id, a.w AS w1, b.w AS w2
      |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
      |c12 AS MATERIALIZED (
      |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
      |  FROM big WHERE doc_id % 5 <> 0 GROUP BY 1, 2),
      |ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, CAST(count(*) AS BIGINT) AS n1f
      |        FROM c12 GROUP BY 1),
      |cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p FROM c12 GROUP BY 1),
      |nbb AS (SELECT CAST(count(*) AS BIGINT) AS nbb, CAST(sum(c12) AS BIGINT) AS n_train
      |        FROM c12),
      |ev AS (
      |  SELECT CASE WHEN ctx.c1 IS NULL
      |              THEN CAST(floor(CAST(coalesce(cont.n1p, 0) AS DOUBLE) * 1e9 / nbb.nbb) AS BIGINT)
      |              ELSE CAST(floor(CAST(greatest(4 * coalesce(c12.c12, 0) - 3, 0) * nbb.nbb +
      |                        3 * ctx.n1f * coalesce(cont.n1p, 0) AS DOUBLE) * 1e9 /
      |                        CAST(4 * ctx.c1 * nbb.nbb AS DOUBLE)) AS BIGINT) END AS pq,
      |         CASE WHEN ctx.c1 IS NULL THEN 1 ELSE 0 END AS unseen_ctx
      |  FROM big
      |  LEFT JOIN c12 USING (w1, w2)
      |  LEFT JOIN ctx USING (w1)
      |  LEFT JOIN cont USING (w2)
      |  CROSS JOIN nbb
      |  WHERE big.doc_id % 5 = 0)
      |SELECT nbb AS n_bigram_types, n_train AS n_train_bigrams,
      |       CAST(count(*) AS BIGINT) AS n_eval,
      |       CAST(sum(unseen_ctx) AS BIGINT) AS n_unseen_ctx,
      |       CAST(sum(CASE WHEN pq = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_prob,
      |       floor(CAST(sum(pq) AS DOUBLE) * 1e6 / (count(*) * 1000000000)) / 1e6 AS avg_prob
      |FROM ev CROSS JOIN nbb
      |GROUP BY nbb, n_train""".stripMargin

  /** agg-croston-demand — Croston's method for intermittent demand on
    * the 5 parts with the most demand days: exponential smoothing
    * (α = 0.2) runs SEPARATELY on the non-zero demand sizes and on
    * the inter-demand intervals, and the per-day forecast is their
    * ratio — the standard fix for sparse demand, where plain EWMA
    * decays toward zero between orders and systematically under-
    * stocks. The recursion unrolls in closed form (final level =
    * Σ wᵢ·zᵢ with wᵢ = α(1−α)^{m−i}, first term carrying (1−α)^{m−1}),
    * so each weighted term is ONE deterministic double (exp/ln on
    * exact integers), micro-floor-quantized per row, and the fold is
    * an exact integer sum — no sequential state, partition-order-
    * proof. Weights and ranks come from one per-part window; the
    * top-5 gate is an aggregate-rank, not a sort of facts. */
  val aggCrostonDemand: Q = (s, d) => {
    val daily = lineitem(s, d)
      .groupBy(col("l_partkey"), to_date(col("l_shipdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("z"))
      .filter(col("z") > 0)
      .sharedCache()
    val top = daily.groupBy("l_partkey").agg(count(lit(1)).as("m"))
      .orderBy(col("m").desc, col("l_partkey")).limit(5)
    val wp = Window.partitionBy("l_partkey").orderBy("dt")
    val seq0 = daily.join(broadcast(top), Seq("l_partkey"))
      .withColumn("i", row_number().over(wp))
      .withColumn("gap", datediff(col("dt"), lag("dt", 1).over(wp)))
    val lvl = seq0
      .withColumn("wz", when(col("i") === 1,
        expr("exp((m - 1) * ln(0.8))")).otherwise(
        expr("0.2 * exp((m - i) * ln(0.8))")))
      .withColumn("termz", floor(col("z").cast(DoubleType) * col("wz") * lit(1e6)).cast(LongType))
      .withColumn("wg", when(col("i") === 2,
        expr("exp((m - 2) * ln(0.8))")).otherwise(
        expr("0.2 * exp((m - i) * ln(0.8))")))
      .withColumn("termg", when(col("i") >= 2,
        floor(col("gap").cast(DoubleType) * col("wg") * lit(1e6)).cast(LongType)))
      .groupBy("l_partkey", "m")
      .agg(sum("termz").as("sz"), sum("termg").as("sg"))
    lvl.select(col("l_partkey"), col("m").as("m_demand_days"),
      round(col("sz").cast(DoubleType) / 1e6 / 100, 3).as("level_qty"),
      round(col("sg").cast(DoubleType) / 1e6, 3).as("smoothed_interval_days"),
      round((col("sz").cast(DoubleType) / 100) / col("sg").cast(DoubleType), 4)
        .as("croston_qty_per_day"))
      .orderBy("l_partkey")
  }

  val aggCrostonDemandSql: String =
    """WITH daily AS (
      |  SELECT l_partkey, CAST(date_trunc('day', l_shipdate) AS DATE) AS dt,
      |         CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS z
      |  FROM lineitem GROUP BY 1, 2
      |  HAVING sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) > 0),
      |top AS (
      |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS m FROM daily
      |  GROUP BY 1 ORDER BY count(*) DESC, l_partkey LIMIT 5),
      |seq0 AS (
      |  SELECT daily.l_partkey, m, z,
      |         row_number() OVER (PARTITION BY daily.l_partkey ORDER BY dt) AS i,
      |         dt - lag(dt) OVER (PARTITION BY daily.l_partkey ORDER BY dt) AS gap
      |  FROM daily JOIN top USING (l_partkey)),
      |terms AS (
      |  SELECT l_partkey, m,
      |         CAST(floor(CAST(z AS DOUBLE) *
      |           (CASE WHEN i = 1 THEN exp((m - 1) * ln(0.8))
      |                 ELSE 0.2 * exp((m - i) * ln(0.8)) END) * 1e6) AS BIGINT) AS termz,
      |         CASE WHEN i >= 2 THEN
      |           CAST(floor(CAST(gap AS DOUBLE) *
      |             (CASE WHEN i = 2 THEN exp((m - 2) * ln(0.8))
      |                   ELSE 0.2 * exp((m - i) * ln(0.8)) END) * 1e6) AS BIGINT) END AS termg
      |  FROM seq0),
      |lvl AS (
      |  SELECT l_partkey, m, CAST(sum(termz) AS BIGINT) AS sz, CAST(sum(termg) AS BIGINT) AS sg
      |  FROM terms GROUP BY 1, 2)
      |SELECT l_partkey, m AS m_demand_days,
      |       round(CAST(sz AS DOUBLE) / 1e6 / 100, 3) AS level_qty,
      |       round(CAST(sg AS DOUBLE) / 1e6, 3) AS smoothed_interval_days,
      |       round((CAST(sz AS DOUBLE) / 100) / CAST(sg AS DOUBLE), 4) AS croston_qty_per_day
      |FROM lvl ORDER BY l_partkey""".stripMargin

  /** dq-seasonal-mann-kendall — the Hirsch-Slack seasonal Mann-Kendall
    * trend test on monthly order volume: the MK S statistic is
    * computed WITHIN each calendar-month stratum (Jan-to-Jan,
    * Feb-to-Feb, …) and the strata sums and variances pool, so a
    * strong seasonal cycle can no longer masquerade as (or mask) a
    * trend — the failure mode of running plain dq-trend-mk on
    * seasonal volume. S is an exact integer from a pair self-join on
    * the ~80-row MONTHLY AGGREGATE (never on facts); the pooled
    * tie-corrected variance is integer arithmetic; Z is the only
    * floating-point op, milli-floor-quantized with the ±1 continuity
    * correction. Verdict at |Z| ≥ 1.96. */
  val dqSeasonalMannKendall: Q = (s, d) => {
    val series = orders(s, d)
      .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).as("ym"),
        month(col("o_orderdate")).as("moy"))
      .agg(count(lit(1)).as("x"))
      .sharedCache()
    val sStat = series.as("a").join(series.as("b"),
      col("a.moy") === col("b.moy") && col("a.ym") < col("b.ym"))
      .agg(sum(signum(col("b.x") - col("a.x")).cast(LongType)).as("s_stat"))
    val varByStratum = series.groupBy("moy").agg(count(lit(1)).as("nm"))
      .join(series.groupBy(col("moy"), col("x")).agg(count(lit(1)).as("t"))
        .filter(col("t") > 1)
        .groupBy("moy")
        .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)).as("tie_corr")),
        Seq("moy"), "left")
      .select((col("nm") * (col("nm") - 1) * (lit(2) * col("nm") + 5) -
        coalesce(col("tie_corr"), lit(0L))).as("v18"))
      .agg(sum("v18").as("var18"), count(lit(1)).as("n_strata"))
    sStat.crossJoin(broadcast(varByStratum))
      .selectExpr("s_stat", "n_strata", "var18",
        "CAST(floor(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var18 / 18e0) " +
          "WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var18 / 18e0) ELSE 0e0 END * 1000 + 0.5) AS BIGINT) AS z_milli")
      .selectExpr("s_stat", "n_strata", "var18", "z_milli",
        "CASE WHEN z_milli >= 1960 THEN 'up' WHEN z_milli <= -1960 THEN 'down' ELSE 'flat' END AS trend")
  }

  val dqSeasonalMannKendallSql: String =
    """WITH series AS MATERIALIZED (
      |  SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
      |         month(o_orderdate) AS moy, CAST(count(*) AS BIGINT) AS x
      |  FROM orders GROUP BY 1, 2),
      |s_stat AS (
      |  SELECT CAST(sum(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
      |  FROM series a JOIN series b ON a.moy = b.moy AND a.ym < b.ym),
      |ties AS (
      |  SELECT moy, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_corr FROM (
      |    SELECT moy, x, count(*) AS t FROM series GROUP BY 1, 2) u
      |  WHERE t > 1 GROUP BY 1),
      |vv AS (
      |  SELECT CAST(sum(nm * (nm - 1) * (2 * nm + 5) - coalesce(tie_corr, 0)) AS BIGINT) AS var18,
      |         CAST(count(*) AS BIGINT) AS n_strata
      |  FROM (SELECT moy, CAST(count(*) AS BIGINT) AS nm FROM series GROUP BY 1) t
      |  LEFT JOIN ties USING (moy))
      |SELECT s_stat, n_strata, var18,
      |       CAST(floor(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var18 / 18e0)
      |                       WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var18 / 18e0)
      |                       ELSE 0e0 END * 1000 + 0.5) AS BIGINT) AS z_milli,
      |       CASE WHEN CAST(floor(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var18 / 18e0)
      |                       WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var18 / 18e0)
      |                       ELSE 0e0 END * 1000 + 0.5) AS BIGINT) >= 1960 THEN 'up'
      |            WHEN CAST(floor(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var18 / 18e0)
      |                       WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var18 / 18e0)
      |                       ELSE 0e0 END * 1000 + 0.5) AS BIGINT) <= -1960 THEN 'down'
      |            ELSE 'flat' END AS trend
      |FROM s_stat CROSS JOIN vv""".stripMargin

  /** agg-newsvendor-fractile — the newsvendor critical-fractile
    * stocking rule on the 5 highest-demand parts: with underage cost
    * cu = 3 and overage cost co = 1 (declared unit economics), the
    * optimal stock is the cu/(cu+co) = 0.75 quantile of daily demand
    * — the exact discrete quantile at position ⌈0.75·m⌉, not an
    * interpolation, because stock is integral. Expected daily
    * underage Σmax(0,x−q*)/m and overage Σmax(0,q*−x)/m are exact
    * integer sums evaluated AT the chosen stock level, so the row
    * certifies both the decision and its cost. One (part, day)
    * rollup, one per-part rank window, one conditional re-aggregate —
    * no fact-sized sort. */
  val aggNewsvendorFractile: Q = (s, d) => {
    val daily = lineitem(s, d)
      .groupBy(col("l_partkey"), to_date(col("l_shipdate")).as("dt"))
      .agg(sum(expr("CAST(l_quantity AS BIGINT)")).as("x"))
      .sharedCache()
    val top = daily.groupBy("l_partkey").agg(count(lit(1)).as("m"))
      .orderBy(col("m").desc, col("l_partkey")).limit(5)
    val wp = Window.partitionBy("l_partkey").orderBy(col("x"), col("dt"))
    val ranked = daily.join(broadcast(top), Seq("l_partkey"))
      .withColumn("rn", row_number().over(wp))
    val qStar = ranked.filter(col("rn") === ceil(col("m") * lit(0.75)))
      .select(col("l_partkey"), col("x").as("q_star"))
    ranked.join(broadcast(qStar), Seq("l_partkey"))
      .groupBy("l_partkey", "m", "q_star")
      .agg(sum(greatest(col("x") - col("q_star"), lit(0L))).as("under_units"),
        sum(greatest(col("q_star") - col("x"), lit(0L))).as("over_units"))
      .select(col("l_partkey"), col("m").as("m_demand_days"), col("q_star"),
        ratioFloor(col("under_units"), col("m"), 4).as("exp_underage_per_day"),
        ratioFloor(col("over_units"), col("m"), 4).as("exp_overage_per_day"),
        ratioFloor(col("under_units") * 3 + col("over_units"), col("m"), 4)
          .as("exp_cost_per_day"))
      .orderBy("l_partkey")
  }

  val aggNewsvendorFractileSql: String =
    """WITH daily AS (
      |  SELECT l_partkey, CAST(date_trunc('day', l_shipdate) AS DATE) AS dt,
      |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x
      |  FROM lineitem GROUP BY 1, 2),
      |top AS (
      |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS m FROM daily
      |  GROUP BY 1 ORDER BY count(*) DESC, l_partkey LIMIT 5),
      |ranked AS (
      |  SELECT daily.l_partkey, m, x,
      |         row_number() OVER (PARTITION BY daily.l_partkey ORDER BY x, dt) AS rn
      |  FROM daily JOIN top USING (l_partkey)),
      |q_star AS (
      |  SELECT l_partkey, x AS q_star FROM ranked
      |  WHERE rn = CAST(ceil(m * 0.75) AS BIGINT))
      |SELECT ranked.l_partkey, m AS m_demand_days, q_star,
      |       floor(CAST(sum(greatest(x - q_star, 0)) AS DOUBLE) * 1e4 / m) / 1e4 AS exp_underage_per_day,
      |       floor(CAST(sum(greatest(q_star - x, 0)) AS DOUBLE) * 1e4 / m) / 1e4 AS exp_overage_per_day,
      |       floor(CAST(sum(greatest(x - q_star, 0)) * 3 + sum(greatest(q_star - x, 0)) AS DOUBLE) * 1e4 / m) / 1e4
      |         AS exp_cost_per_day
      |FROM ranked JOIN q_star USING (l_partkey)
      |GROUP BY 1, 2, 3
      |ORDER BY 1""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("text-kneser-ney", textKneserNey, textKneserNeySql),
    Key("agg-croston-demand", aggCrostonDemand, aggCrostonDemandSql),
    Key("dq-seasonal-mann-kendall", dqSeasonalMannKendall, dqSeasonalMannKendallSql),
    Key("agg-newsvendor-fractile", aggNewsvendorFractile, aggNewsvendorFractileSql))
}
