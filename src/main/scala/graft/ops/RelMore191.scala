package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-8 batch Z2: Littlewood's two-fare protection level, Wilson
  * vs Wald proportion intervals, Lincoln-Petersen mark-recapture
  * population estimate, Chao1 unseen-richness estimator. */
object RelMore191 extends KeyModule {

  /** agg-littlewood-rule — the founding result of revenue management:
    * protect y* seats/units for the high fare where
    * P(D_high > y*) = p_low/p_high — the marginal seat is worth
    * protecting while the spill risk prices above the discount fare.
    * Demand = monthly urgent-priority order counts (bounded frame,
    * exact order statistics); fares = the two classes' mean order
    * values from one exact moment scan. Output pairs the protection
    * level with the empirical months it would have sold out. */
  val aggLittlewoodRule: Q = (s, d) => {
    val cls = orders(s, d).select(
      (col("o_orderpriority") === "1-URGENT").as("hi"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("v"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("mi"))
      .sharedCache()
    val fares = cls.groupBy("hi").agg(count(lit(1)).as("n"),
      sum(expr("CAST(v AS DECIMAL(38,0))")).as("sv"))
      .select(col("hi"),
        (col("sv").cast(DoubleType) / col("n").cast(DoubleType)).as("fare"))
    val ratio = fares.groupBy()
      .agg(max(when(col("hi"), col("fare"))).as("p_high"),
        max(when(!col("hi"), col("fare"))).as("p_low"))
      .select(col("p_high"), col("p_low"),
        (col("p_low") / col("p_high")).as("ratio"))
    val dem = cls.filter(col("hi")).groupBy("mi").agg(count(lit(1)).as("dm"))
    val nM = dem.agg(count(lit(1)).as("nm"))
    // y* = the ceil((1-ratio)*nm)-th order statistic of monthly demand
    val ranked = dem.withColumn("rk",
      row_number().over(Window.orderBy(col("dm"), col("mi"))))
    val yStar = ranked.crossJoin(broadcast(nM)).crossJoin(broadcast(ratio))
      // near-equal fares push the critical ratio to ~1 (or past it);
      // clamping the rank into [1, nm] keeps the rule well-defined:
      // ratio >= 1 degenerates to "protect almost nothing"
      .filter(col("rk") === greatest(lit(1L), least(col("nm"),
        ceil((lit(1.0) - col("ratio")) *
          col("nm").cast(DoubleType)).cast(LongType))))
      .select(col("dm").as("y_star"))
    dem.crossJoin(broadcast(yStar)).crossJoin(broadcast(ratio))
      .agg(count(lit(1)).as("n_months"),
        max("y_star").as("protection_level"),
        sum(when(col("dm") > col("y_star"), 1L).otherwise(0L))
          .as("months_spilled"),
        round(max(col("p_high")) / 100, 2).as("fare_high_usd"),
        round(max(col("p_low")) / 100, 2).as("fare_low_usd"),
        round(max("ratio"), 4).as("critical_ratio"))
  }

  val aggLittlewoodRuleSql: String =
    """WITH cls AS MATERIALIZED (
      |  SELECT o_orderpriority = '1-URGENT' AS hi,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
      |         year(CAST(o_orderdate AS DATE)) * 12 +
      |           month(CAST(o_orderdate AS DATE)) AS mi
      |  FROM orders),
      |ratio AS (
      |  SELECT p_high, p_low, p_low / p_high AS ratio
      |  FROM (
      |    SELECT max(CASE WHEN hi THEN fare END) AS p_high,
      |           max(CASE WHEN NOT hi THEN fare END) AS p_low
      |    FROM (SELECT hi, CAST(sum(CAST(v AS HUGEINT)) AS DOUBLE) /
      |                 CAST(count(*) AS DOUBLE) AS fare
      |          FROM cls GROUP BY 1) f) t),
      |dem AS (
      |  SELECT mi, CAST(count(*) AS BIGINT) AS dm
      |  FROM cls WHERE hi GROUP BY 1),
      |nm AS (SELECT CAST(count(*) AS BIGINT) AS nm FROM dem),
      |ystar AS (
      |  SELECT dm AS y_star
      |  FROM (SELECT dm, row_number() OVER (ORDER BY dm, mi) AS rk FROM dem) r
      |  CROSS JOIN nm CROSS JOIN ratio
      |  WHERE rk = greatest(1, least(nm,
      |             CAST(ceil((1.0 - ratio) * CAST(nm AS DOUBLE)) AS BIGINT))))
      |SELECT CAST(count(*) AS BIGINT) AS n_months,
      |       max(y_star) AS protection_level,
      |       CAST(sum(CASE WHEN dm > y_star THEN 1 ELSE 0 END) AS BIGINT)
      |         AS months_spilled,
      |       round(max(p_high) / 100, 2) AS fare_high_usd,
      |       round(max(p_low) / 100, 2) AS fare_low_usd,
      |       round(max(ratio), 4) AS critical_ratio
      |FROM dem CROSS JOIN ystar CROSS JOIN ratio""".stripMargin

  /** dq-proportion-ci-wilson — why dashboards should not print Wald
    * intervals: per-nation urgent-order proportions get both the Wald
    * CI (p̂ ± z√(p̂q̂/n) — degenerate near 0/1, bad coverage at small
    * n) and the Wilson score CI (the quadratic inversion that stays
    * inside [0,1]); the op counts how many of the 25 nation CIs cover
    * the GLOBAL rate under each method and compares widths. Exact
    * counts in, identical closed forms out. */
  val dqProportionCiWilson: Q = (s, d) => {
    val st = orders(s, d).join(customer(s, d),
      col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L))
          .as("x"))
      .sharedCache()
    val g = st.agg((sum("x").cast(DoubleType) / sum("n").cast(DoubleType))
      .as("p0"))
    val z = 1.96
    val z2 = 3.8416  // literal, NOT z*z: must parse identically to the oracle
    val ci = st.crossJoin(broadcast(g))
      .select(col("nk"), col("p0"),
        col("n").cast(DoubleType).as("nd"),
        (col("x").cast(DoubleType) / col("n").cast(DoubleType)).as("ph"))
      .withColumn("wald_lo", col("ph") - lit(z) *
        sqrt(col("ph") * (lit(1.0) - col("ph")) / col("nd")))
      .withColumn("wald_hi", col("ph") + lit(z) *
        sqrt(col("ph") * (lit(1.0) - col("ph")) / col("nd")))
      .withColumn("wc", (col("ph") + lit(z2) / (lit(2.0) * col("nd"))) /
        (lit(1.0) + lit(z2) / col("nd")))
      .withColumn("wd", lit(z) * sqrt(col("ph") * (lit(1.0) - col("ph")) /
        col("nd") + lit(z2) / (lit(4.0) * col("nd") * col("nd"))) /
        (lit(1.0) + lit(z2) / col("nd")))
    ci.agg(count(lit(1)).as("k_nations"),
      sum(when(col("p0") >= col("wald_lo") && col("p0") <= col("wald_hi"), 1L)
        .otherwise(0L)).as("wald_covers"),
      sum(when(col("p0") >= col("wc") - col("wd") &&
        col("p0") <= col("wc") + col("wd"), 1L).otherwise(0L))
        .as("wilson_covers"),
      round(avg(col("wald_hi") - col("wald_lo")), 6).as("wald_avg_width"),
      round(avg(lit(2.0) * col("wd")), 6).as("wilson_avg_width"))
  }

  val dqProportionCiWilsonSql: String =
    """WITH st AS MATERIALIZED (
      |  SELECT c_nationkey AS nk, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
      |                  THEN 1 ELSE 0 END) AS BIGINT) AS x
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1),
      |g AS (SELECT CAST(sum(x) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS p0
      |      FROM st),
      |ci AS (
      |  SELECT nk, p0, nd, ph,
      |         ph - 1.96 * sqrt(ph * (1.0 - ph) / nd) AS wald_lo,
      |         ph + 1.96 * sqrt(ph * (1.0 - ph) / nd) AS wald_hi,
      |         (ph + 3.8416 / (2.0 * nd)) / (1.0 + 3.8416 / nd) AS wc,
      |         1.96 * sqrt(ph * (1.0 - ph) / nd +
      |                     3.8416 / (4.0 * nd * nd)) /
      |           (1.0 + 3.8416 / nd) AS wd
      |  FROM (
      |    SELECT nk, p0, CAST(n AS DOUBLE) AS nd,
      |           CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS ph
      |    FROM st CROSS JOIN g) t)
      |SELECT CAST(count(*) AS BIGINT) AS k_nations,
      |       CAST(sum(CASE WHEN p0 >= wald_lo AND p0 <= wald_hi
      |                THEN 1 ELSE 0 END) AS BIGINT) AS wald_covers,
      |       CAST(sum(CASE WHEN p0 >= wc - wd AND p0 <= wc + wd
      |                THEN 1 ELSE 0 END) AS BIGINT) AS wilson_covers,
      |       round(avg(wald_hi - wald_lo), 6) AS wald_avg_width,
      |       round(avg(2.0 * wd), 6) AS wilson_avg_width
      |FROM ci""".stripMargin

  /** agg-mark-recapture — corpus-size estimation from two independent
    * "captures" (the two-crawl trick: how big is the full population
    * when you can only afford samples?): two disjoint-keyed hash
    * samples of orders, Chapman's corrected Lincoln-Petersen
    * N̂ = (n1+1)(n2+1)/(m+1) − 1 from the overlap m, with its
    * closed-form variance and the truth it is judged against.
    * Deterministic md5 capture decisions; one cached scan feeds both
    * captures and the overlap. */
  val aggMarkRecapture: Q = (s, d) => {
    val base = orders(s, d).select(col("o_orderkey").as("k"))
      .withColumn("c1", expr("CAST(conv(substring(md5(concat('mra_', " +
        "CAST(k AS STRING))), 1, 8), 16, 10) AS BIGINT) % 5 = 0"))
      .withColumn("c2", expr("CAST(conv(substring(md5(concat('mrb_', " +
        "CAST(k AS STRING))), 1, 8), 16, 10) AS BIGINT) % 5 = 0"))
    base.agg(count(lit(1)).as("n_true"),
      sum(when(col("c1"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("c2"), 1L).otherwise(0L)).as("n2"),
      sum(when(col("c1") && col("c2"), 1L).otherwise(0L)).as("m"))
      .select(col("n_true"), col("n1"), col("n2"), col("m"),
        expr("(n1 + 1) * (n2 + 1) DIV (m + 1) - 1").as("n_chapman"),
        round(sqrt(
          (col("n1") + 1).cast(DoubleType) * (col("n2") + 1) *
            (col("n1") - col("m")) * (col("n2") - col("m")) /
            ((col("m") + 1).cast(DoubleType) * (col("m") + 1) *
              (col("m") + 2))), 2).as("se_chapman"))
      .select(col("n_true"), col("n1"), col("n2"), col("m"),
        col("n_chapman"), col("se_chapman"),
        round((col("n_chapman") - col("n_true")).cast(DoubleType) * 100 /
          col("n_true").cast(DoubleType), 4).as("rel_err_pct"))
  }

  val aggMarkRecaptureSql: String =
    """WITH base AS (
      |  SELECT CAST(('0x' || substring(md5('mra_' || CAST(o_orderkey AS VARCHAR)),
      |           1, 8))::BIGINT AS BIGINT) % 5 = 0 AS c1,
      |         CAST(('0x' || substring(md5('mrb_' || CAST(o_orderkey AS VARCHAR)),
      |           1, 8))::BIGINT AS BIGINT) % 5 = 0 AS c2
      |  FROM orders),
      |agg AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_true,
      |         CAST(sum(CASE WHEN c1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |         CAST(sum(CASE WHEN c2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |         CAST(sum(CASE WHEN c1 AND c2 THEN 1 ELSE 0 END) AS BIGINT) AS m
      |  FROM base)
      |SELECT n_true, n1, n2, m,
      |       (n1 + 1) * (n2 + 1) // (m + 1) - 1 AS n_chapman,
      |       round(sqrt(CAST(n1 + 1 AS DOUBLE) * (n2 + 1) * (n1 - m) * (n2 - m) /
      |             (CAST(m + 1 AS DOUBLE) * (m + 1) * (m + 2))), 2)
      |         AS se_chapman,
      |       round(CAST((n1 + 1) * (n2 + 1) // (m + 1) - 1 - n_true AS DOUBLE)
      |             * 100 / CAST(n_true AS DOUBLE), 4) AS rel_err_pct
      |FROM agg""".stripMargin

  /** text-chao1-ngram-richness — how many distinct token TRIGRAMS exist that
    * the corpus has not shown yet? Chao1's lower bound
    * D + f1(f1−1)/(2(f2+1)) from the singleton/doubleton counts, plus
    * the Good-Turing sample coverage 1 − f1/N — the pair of numbers
    * that says whether more crawling will still buy new n-grams
    * (the unseen-mass cousin of text-good-turing's frequency
    * re-estimation, and the n-gram twin of agg-chao1-richness's
    * entity-population estimate). Shapes: one explode scan → trigram counts →
    * a frequency-of-frequencies frame bounded by the count domain. */
  val aggChao1Richness: Q = (s, d) => {
    val tri = documents(s, d)
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      // sequence(0, -1) would emit a phantom [0, -1] in Spark (the
      // mm-frame-sample gotcha) - short docs are filtered first
      .filter(size(col("w")) >= 3)
      .select(explode(expr(
        "transform(sequence(0, size(w) - 3), " +
          "i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    val fof = tri.groupBy("c").agg(count(lit(1)).as("f"))
    fof.agg(sum("f").as("d_obs"),
      sum(col("c") * col("f")).as("n_tokens"),
      sum(when(col("c") === 1L, col("f")).otherwise(0L)).as("f1"),
      sum(when(col("c") === 2L, col("f")).otherwise(0L)).as("f2"))
      .select(col("d_obs"), col("n_tokens"), col("f1"), col("f2"),
        (col("d_obs") + expr("f1 * (f1 - 1) DIV (2 * (f2 + 1))"))
          .as("chao1_richness"),
        round(lit(1.0) - col("f1").cast(DoubleType) /
          col("n_tokens").cast(DoubleType), 6).as("gt_coverage"))
  }

  val aggChao1RichnessSql: String =
    """WITH tri AS (
      |  SELECT t, CAST(count(*) AS BIGINT) AS c
      |  FROM (
      |    SELECT w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS t
      |    FROM (SELECT string_split(lower(text), ' ') AS w FROM documents) d,
      |         LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) u
      |    WHERE len(w) >= 3) q
      |  GROUP BY t),
      |fof AS (SELECT c, CAST(count(*) AS BIGINT) AS f FROM tri GROUP BY 1)
      |SELECT CAST(sum(f) AS BIGINT) AS d_obs,
      |       CAST(sum(c * f) AS BIGINT) AS n_tokens,
      |       CAST(sum(CASE WHEN c = 1 THEN f ELSE 0 END) AS BIGINT) AS f1,
      |       CAST(sum(CASE WHEN c = 2 THEN f ELSE 0 END) AS BIGINT) AS f2,
      |       CAST(sum(f) + sum(CASE WHEN c = 1 THEN f ELSE 0 END) *
      |            (sum(CASE WHEN c = 1 THEN f ELSE 0 END) - 1) //
      |            (2 * (sum(CASE WHEN c = 2 THEN f ELSE 0 END) + 1)) AS BIGINT)
      |         AS chao1_richness,
      |       round(1.0 - CAST(sum(CASE WHEN c = 1 THEN f ELSE 0 END) AS DOUBLE) /
      |             CAST(sum(c * f) AS DOUBLE), 6) AS gt_coverage
      |FROM fof""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-littlewood-rule", aggLittlewoodRule, aggLittlewoodRuleSql),
    Key("dq-proportion-ci-wilson", dqProportionCiWilson, dqProportionCiWilsonSql),
    Key("agg-mark-recapture", aggMarkRecapture, aggMarkRecaptureSql),
    Key("text-chao1-ngram-richness", aggChao1Richness, aggChao1RichnessSql))
}
