package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch AG: Tukey HSD post-hoc pairs, Cronbach's alpha,
  * VIF collinearity audit, Parkinson range volatility. */
object RelMore132 extends KeyModule {

  /** agg-tukey-hsd — Tukey's honestly-significant-difference post-hoc
    * scan over order priorities: the omnibus F (agg-anova-nested-f)
    * says "some mean differs" but not WHICH pair — HSD grades every
    * pair with the studentized-range statistic q = |x̄ᵢ−x̄ⱼ| /
    * √(MSW/2·(1/nᵢ+1/nⱼ)) against q₀.₀₅,₅,∞ = 3.86, holding the
    * family-wise error rate where per-pair t-tests would inflate it
    * (10 pairs at α=.05 ⇒ ~40% false alarm). One exact-integer
    * moment pass over orders (cents in DECIMAL); per-group mean and
    * within-SS are micro-quantized integers (floor at 1e6 via integer
    * division, cross-engine exact); the 10-row pair join is a
    * broadcast of a 5-row frame — at 100 TB the only full-data cost
    * is the single map-side-combined aggregate. */
  val aggTukeyHsd: Q = (s, d) => {
    val g = orders(s, d)
      .select(col("o_orderpriority").as("grp"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))").as("c"))
      .groupBy("grp")
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum("c").as("sc"), sum(expr("c * c")).as("scc"))
      // micro-quantized integers: mean_q = ⌊1e6·Σc/n⌋ (cents·1e6),
      // ssw_q = ⌊1e6·(n·Σc² − (Σc)²)/n⌋. NOT `div` — Spark's div
      // returns BIGINT and the 1e27-scale numerator overflows Long;
      // subtract-pmod keeps the floor division entirely in decimal.
      .select(col("grp"), col("n").cast(LongType).as("ng"),
        expr("CAST((sc * 1000000 - pmod(sc * 1000000, n)) / n AS DECIMAL(38,0))").as("mean_q"),
        expr("CAST(((n * scc - sc * sc) * 1000000 - " +
          "pmod((n * scc - sc * sc) * 1000000, n)) / n AS DECIMAL(38,0))").as("ssw_q"))
      .sharedCache()
    val msw = g.agg(sum("ssw_q").as("ssw_sum"), sum("ng").as("nn"), count(lit(1)).as("k"))
      // MSW in cents²: Σssw_q / 1e6 / (N − k) — one double division at the end
      .select((col("ssw_sum").cast(DoubleType) / lit(1e6) /
        (col("nn") - col("k")).cast(DoubleType)).as("msw"))
    val a = g.select(col("grp").as("g1"), col("ng").as("n1"), col("mean_q").as("m1"))
    val b = g.select(col("grp").as("g2"), col("ng").as("n2"), col("mean_q").as("m2"))
    a.join(broadcast(b), col("g1") < col("g2"))
      .crossJoin(broadcast(msw))
      .select(col("g1"), col("g2"),
        round(col("m1").cast(DoubleType) / lit(1e8), 4).as("mean1_usd"),
        round(col("m2").cast(DoubleType) / lit(1e8), 4).as("mean2_usd"),
        round(abs((col("m1") - col("m2")).cast(DoubleType) / lit(1e6)) /
          sqrt(col("msw") / lit(2.0) *
            (lit(1.0) / col("n1") + lit(1.0) / col("n2"))), 4).as("q_stat"))
      .withColumn("significant", col("q_stat") > lit(3.86))
      .orderBy("g1", "g2")
  }

  val aggTukeyHsdSql: String =
    """WITH g AS MATERIALIZED (
      |  SELECT grp, CAST(n AS BIGINT) AS ng,
      |         CAST((sc * 1000000) // n AS HUGEINT) AS mean_q,
      |         CAST(((n * scc - sc * sc) * 1000000) // n AS HUGEINT) AS ssw_q
      |  FROM (
      |    SELECT o_orderpriority AS grp, CAST(count(*) AS HUGEINT) AS n,
      |           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |                AS HUGEINT) AS sc,
      |           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT) *
      |                    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |                AS HUGEINT) AS scc
      |    FROM orders GROUP BY 1) t),
      |msw AS (
      |  SELECT CAST(sum(ssw_q) AS DOUBLE) / 1e6 /
      |         CAST(sum(ng) - count(*) AS DOUBLE) AS msw FROM g)
      |SELECT a.grp AS g1, b.grp AS g2,
      |       round(CAST(a.mean_q AS DOUBLE) / 1e8, 4) AS mean1_usd,
      |       round(CAST(b.mean_q AS DOUBLE) / 1e8, 4) AS mean2_usd,
      |       round(abs(CAST(a.mean_q - b.mean_q AS DOUBLE) / 1e6) /
      |             sqrt(msw / 2.0 * (1.0 / a.ng + 1.0 / b.ng)), 4) AS q_stat,
      |       round(abs(CAST(a.mean_q - b.mean_q AS DOUBLE) / 1e6) /
      |             sqrt(msw / 2.0 * (1.0 / a.ng + 1.0 / b.ng)), 4) > 3.86 AS significant
      |FROM g a JOIN g b ON a.grp < b.grp CROSS JOIN msw
      |ORDER BY g1, g2""".stripMargin

  /** agg-cronbach-alpha — internal-consistency reliability of the
    * per-user event profile: treating the k event types as "items"
    * scored by per-user counts, α = k/(k−1)·(1 − Σᵢvarᵢ/var_total).
    * High α means the item counts co-move (one latent "activity"
    * trait — a composite engagement score is meaningful); α ≈ 0
    * means the types are independent channels and a single score
    * would hide structure. Complements agg-fleiss-kappa (inter-RATER
    * agreement) with inter-ITEM consistency. Zero cells enter through
    * the moment identity (absent (user,item) pairs leave Σc and Σc²
    * unchanged; n is the full user count), so no dense pivot is ever
    * materialized — two skinny aggregates and a 5-row reduce, fully
    * exact integer arithmetic end-to-end (α emerges as one
    * ratioFloor of two integer polynomials). */
  val aggCronbachAlpha: Q = (s, d) => {
    val ev = events(s, d).select(col("user_id"), col("event_type")).sharedCache()
    val nUsers = ev.agg(count_distinct(col("user_id")).as("n"))
    // per-item moments over per-user counts (zeros implicit)
    val item = ev.groupBy("event_type", "user_id").agg(count(lit(1)).as("c"))
      .groupBy("event_type")
      .agg(sum(expr("CAST(c AS DECIMAL(38,0))")).as("si"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("ssi"))
    // per-user totals across all items
    val totals = ev.groupBy("user_id").agg(count(lit(1)).as("t"))
      .agg(sum(expr("CAST(t AS DECIMAL(38,0))")).as("st"),
        sum(expr("CAST(t AS DECIMAL(38,0)) * t")).as("sst"))
    val folded = item.crossJoin(broadcast(nUsers))
      .select(expr("CAST(n AS DECIMAL(38,0)) * ssi - si * si").as("vnum"))
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("k"), sum("vnum").as("a"))
    folded.crossJoin(broadcast(totals)).crossJoin(broadcast(nUsers))
      .select(expr("CAST(n AS DECIMAL(38,0)) * sst - st * st").as("b"),
        col("k"), col("a"), col("n"))
      .select(col("k").cast(LongType).as("k_items"), col("n").as("n_users"),
        ratioFloor((col("k") * (col("b") - col("a"))).cast(DoubleType),
          (col("k") - lit(1)) * col("b"), 6).as("cronbach_alpha"))
  }

  val aggCronbachAlphaSql: String =
    """WITH nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM events),
      |item AS (
      |  SELECT event_type, CAST(sum(c) AS HUGEINT) AS si,
      |         CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS ssi
      |  FROM (SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
      |        FROM events GROUP BY 1, 2) t
      |  GROUP BY 1),
      |totals AS (
      |  SELECT CAST(sum(t) AS HUGEINT) AS st,
      |         CAST(sum(CAST(t AS HUGEINT) * t) AS HUGEINT) AS sst
      |  FROM (SELECT user_id, CAST(count(*) AS BIGINT) AS t
      |        FROM events GROUP BY 1) t),
      |folded AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS k,
      |         CAST(sum(CAST(n AS HUGEINT) * ssi - si * si) AS HUGEINT) AS a
      |  FROM item CROSS JOIN nu)
      |SELECT CAST(k AS BIGINT) AS k_items, n AS n_users,
      |       floor(CAST(k * ((CAST(n AS HUGEINT) * sst - st * st) - a) AS DOUBLE) * 1e6 /
      |             CAST((k - 1) * (CAST(n AS HUGEINT) * sst - st * st) AS DOUBLE)) / 1e6
      |         AS cronbach_alpha
      |FROM folded CROSS JOIN totals CROSS JOIN nu""".stripMargin

  /** dq-vif-collinearity — variance-inflation factors for the three
    * lineitem regressors (quantity, extendedprice, discount): VIFᵢ =
    * 1/(1−R²ᵢ) from regressing each on the other two, in closed form
    * from the 3×3 correlation matrix (VIF₁ = (1−r₂₃²)/det R with
    * det R = 1−r₁₂²−r₁₃²−r₂₃²+2r₁₂r₁₃r₂₃). VIF > 5-10 means a
    * regression on these columns (agg-regression, agg-ols-normal-eq)
    * has unstable coefficients — the audit that should gate any
    * model-fit op. One exact-integer moment pass (quantity as-is,
    * price in cents, discount in basis points — all lossless);
    * correlations are single-row double expressions from exact
    * integers; output is 3 rows via a values union. Single
    * map-side-combined aggregate — the 100 TB cost profile of a
    * count(*). */
  val dqVifCollinearity: Q = (s, d) => {
    val m = lineitem(s, d)
      .select(expr("CAST(l_quantity AS DECIMAL(38,0))").as("x"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))").as("y"),
        expr("CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS DECIMAL(38,0))").as("z"))
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"), sum("z").as("sz"),
        sum(expr("x * x")).as("sxx"), sum(expr("y * y")).as("syy"),
        sum(expr("z * z")).as("szz"), sum(expr("x * y")).as("sxy"),
        sum(expr("x * z")).as("sxz"), sum(expr("y * z")).as("syz"))
      .select(
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType) *
            (col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType))).as("rxy"),
        ((col("n") * col("sxz") - col("sx") * col("sz")).cast(DoubleType) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType) *
            (col("n") * col("szz") - col("sz") * col("sz")).cast(DoubleType))).as("rxz"),
        ((col("n") * col("syz") - col("sy") * col("sz")).cast(DoubleType) /
          sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType) *
            (col("n") * col("szz") - col("sz") * col("sz")).cast(DoubleType))).as("ryz"))
      .withColumn("det", lit(1.0) - col("rxy") * col("rxy") - col("rxz") * col("rxz") -
        col("ryz") * col("ryz") + lit(2.0) * col("rxy") * col("rxz") * col("ryz"))
    m.select(explode(array(
        struct(lit("l_quantity").as("regressor"),
          round(lit(1.0) - col("det") / (lit(1.0) - col("ryz") * col("ryz")), 6).as("r2_on_others"),
          round((lit(1.0) - col("ryz") * col("ryz")) / col("det"), 4).as("vif")),
        struct(lit("l_extendedprice").as("regressor"),
          round(lit(1.0) - col("det") / (lit(1.0) - col("rxz") * col("rxz")), 6).as("r2_on_others"),
          round((lit(1.0) - col("rxz") * col("rxz")) / col("det"), 4).as("vif")),
        struct(lit("l_discount").as("regressor"),
          round(lit(1.0) - col("det") / (lit(1.0) - col("rxy") * col("rxy")), 6).as("r2_on_others"),
          round((lit(1.0) - col("rxy") * col("rxy")) / col("det"), 4).as("vif")))).as("r"))
      .select(col("r.regressor"), col("r.r2_on_others"), col("r.vif"))
      .orderBy("regressor")
  }

  val dqVifCollinearitySql: String =
    """WITH m AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |         CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
      |         CAST(sum(z) AS HUGEINT) AS sz,
      |         CAST(sum(x * x) AS HUGEINT) AS sxx, CAST(sum(y * y) AS HUGEINT) AS syy,
      |         CAST(sum(z * z) AS HUGEINT) AS szz, CAST(sum(x * y) AS HUGEINT) AS sxy,
      |         CAST(sum(x * z) AS HUGEINT) AS sxz, CAST(sum(y * z) AS HUGEINT) AS syz
      |  FROM (
      |    SELECT CAST(l_quantity AS HUGEINT) AS x,
      |           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT) AS y,
      |           CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS HUGEINT) AS z
      |    FROM lineitem) t),
      |r AS (
      |  SELECT CAST(n * sxy - sx * sy AS DOUBLE) /
      |           sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)) AS rxy,
      |         CAST(n * sxz - sx * sz AS DOUBLE) /
      |           sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * szz - sz * sz AS DOUBLE)) AS rxz,
      |         CAST(n * syz - sy * sz AS DOUBLE) /
      |           sqrt(CAST(n * syy - sy * sy AS DOUBLE) * CAST(n * szz - sz * sz AS DOUBLE)) AS ryz
      |  FROM m),
      |dd AS (
      |  SELECT rxy, rxz, ryz,
      |         1.0 - rxy * rxy - rxz * rxz - ryz * ryz + 2.0 * rxy * rxz * ryz AS det
      |  FROM r)
      |SELECT regressor, r2_on_others, vif FROM (
      |  SELECT 'l_quantity' AS regressor,
      |         round(1.0 - det / (1.0 - ryz * ryz), 6) AS r2_on_others,
      |         round((1.0 - ryz * ryz) / det, 4) AS vif FROM dd
      |  UNION ALL
      |  SELECT 'l_extendedprice', round(1.0 - det / (1.0 - rxz * rxz), 6),
      |         round((1.0 - rxz * rxz) / det, 4) FROM dd
      |  UNION ALL
      |  SELECT 'l_discount', round(1.0 - det / (1.0 - rxy * rxy), 6),
      |         round((1.0 - rxy * rxy) / det, 4) FROM dd) u
      |ORDER BY regressor""".stripMargin

  /** agg-parkinson-vol — Parkinson range-based volatility per month
    * against the close-to-close estimator: σ²_P = Σln(H/L)²/(4ln2·n)
    * uses the daily high-low range and is ~5× more statistically
    * efficient than squared close returns at the same sample size —
    * the variance_ratio column MEASURES how the two estimators
    * disagree on this corpus (range inflation ⇒ intraday dispersion
    * the daily-close series never sees). Daily H/L/close from one
    * groupBy (close = max_by on the unique order key, deterministic);
    * each day's ln² term is pico-quantized to an integer BEFORE the
    * monthly sum, so cross-partition double addition order can never
    * flip a bit; months need ≥ 15 trading days. Two shuffles (day,
    * then month) over an additive pre-aggregate — scales as a
    * count(*). */
  val aggParkinsonVol: Q = (s, d) => {
    val daily = orders(s, d)
      .select(trunc(col("o_orderdate"), "month").as("mth"),
        to_date(col("o_orderdate")).as("dt"), col("o_orderkey"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("c"))
      .groupBy("mth", "dt")
      .agg(max("c").as("hi"), min("c").as("lo"),
        expr("max_by(c, o_orderkey)").as("cls"))
    val wm = Window.partitionBy("mth").orderBy("dt")
    val terms = daily
      .withColumn("pk", floor(
        log(col("hi").cast(DoubleType) / col("lo")) *
          log(col("hi").cast(DoubleType) / col("lo")) * lit(1e12)).cast(LongType))
      .withColumn("prev_cls", lag("cls", 1).over(wm))
      .withColumn("cc", when(col("prev_cls").isNotNull, floor(
        log(col("cls").cast(DoubleType) / col("prev_cls")) *
          log(col("cls").cast(DoubleType) / col("prev_cls")) * lit(1e12)).cast(LongType)))
    terms.groupBy("mth")
      .agg(count(lit(1)).as("n_days"), sum("pk").as("spk"),
        count(col("cc")).as("n_cc"), sum("cc").as("scc"))
      .filter(col("n_days") >= 15)
      .select(col("mth").as("month"), col("n_days"),
        round(sqrt(col("spk").cast(DoubleType) / lit(1e12) /
          (lit(4.0) * log(lit(2.0)) * col("n_days"))), 6).as("parkinson_sigma"),
        round(sqrt(col("scc").cast(DoubleType) / lit(1e12) / col("n_cc")), 6)
          .as("closeclose_sigma"),
        round((col("spk").cast(DoubleType) / (lit(4.0) * log(lit(2.0)) * col("n_days"))) /
          (col("scc").cast(DoubleType) / col("n_cc")), 4).as("variance_ratio"))
      .orderBy("month")
  }

  val aggParkinsonVolSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mth,
      |         CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         max(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS hi,
      |         min(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS lo,
      |         max_by(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT),
      |                o_orderkey) AS cls
      |  FROM orders GROUP BY 1, 2),
      |terms AS (
      |  SELECT mth, dt,
      |         CAST(floor(ln(CAST(hi AS DOUBLE) / lo) * ln(CAST(hi AS DOUBLE) / lo) * 1e12)
      |              AS BIGINT) AS pk,
      |         CASE WHEN lag(cls) OVER (PARTITION BY mth ORDER BY dt) IS NOT NULL THEN
      |           CAST(floor(ln(CAST(cls AS DOUBLE) /
      |                         (lag(cls) OVER (PARTITION BY mth ORDER BY dt))) *
      |                      ln(CAST(cls AS DOUBLE) /
      |                         (lag(cls) OVER (PARTITION BY mth ORDER BY dt))) * 1e12)
      |                AS BIGINT) END AS cc
      |  FROM daily)
      |SELECT mth AS month, CAST(count(*) AS BIGINT) AS n_days,
      |       round(sqrt(CAST(sum(pk) AS DOUBLE) / 1e12 / (4.0 * ln(2.0) * count(*))), 6)
      |         AS parkinson_sigma,
      |       round(sqrt(CAST(sum(cc) AS DOUBLE) / 1e12 / count(cc)), 6)
      |         AS closeclose_sigma,
      |       round((CAST(sum(pk) AS DOUBLE) / (4.0 * ln(2.0) * count(*))) /
      |             (CAST(sum(cc) AS DOUBLE) / count(cc)), 4) AS variance_ratio
      |FROM terms GROUP BY mth HAVING count(*) >= 15
      |ORDER BY month""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-tukey-hsd", aggTukeyHsd, aggTukeyHsdSql),
    Key("agg-cronbach-alpha", aggCronbachAlpha, aggCronbachAlphaSql),
    Key("dq-vif-collinearity", dqVifCollinearity, dqVifCollinearitySql),
    Key("agg-parkinson-vol", aggParkinsonVol, aggParkinsonVolSql))
}
