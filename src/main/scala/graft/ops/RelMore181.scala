package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-8 batch Q: ridge shrinkage path from the 2-feature closed
  * form, Box-Cox transform selection on a quantized-log grid,
  * Horvitz-Thompson design-effect comparison (PPS vs uniform),
  * Adamic-Adar link prediction with a degree-capped pair generator. */
object RelMore181 extends KeyModule {

  /** agg-ridge-path — ridge regression shrinkage path for
    * standardized (quantity, discount) → extended price, via the
    * closed form of the 2×2 system [[1+λ, r12],[r12, 1+λ]]β = r·y:
    * β1 = ((1+λ)r1y − r12·r2y) / ((1+λ)² − r12²). ONE exact
    * DECIMAL(38) moment scan (discount quantized to basis points);
    * correlations and betas are identical elementary double
    * expressions both sides, so every grid row hash-matches. The λ
    * grid is a 4-literal stack — no second scan, no window. */
  val aggRidgePath: Q = (s, d) => {
    val f = lineitem(s, d).select(
      col("l_quantity").cast(LongType).as("x1"),
      expr("CAST(CAST(l_discount AS DECIMAL(3,2)) * 100 AS BIGINT)").as("x2"),
      expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("yv"))
    val m = f.agg(
      count(lit(1)).as("n"),
      sum(expr("CAST(x1 AS DECIMAL(38,0))")).as("s1"),
      sum(expr("CAST(x1 AS DECIMAL(38,0)) * x1")).as("s11"),
      sum(expr("CAST(x2 AS DECIMAL(38,0))")).as("s2"),
      sum(expr("CAST(x2 AS DECIMAL(38,0)) * x2")).as("s22"),
      sum(expr("CAST(x1 AS DECIMAL(38,0)) * x2")).as("s12"),
      sum(expr("CAST(yv AS DECIMAL(38,0))")).as("sy"),
      sum(expr("CAST(yv AS DECIMAL(38,0)) * yv")).as("syy"),
      sum(expr("CAST(x1 AS DECIMAL(38,0)) * yv")).as("s1y"),
      sum(expr("CAST(x2 AS DECIMAL(38,0)) * yv")).as("s2y"))
      .select(col("n").cast(DoubleType).as("n"),
        col("s1").cast(DoubleType).as("s1"), col("s11").cast(DoubleType).as("s11"),
        col("s2").cast(DoubleType).as("s2"), col("s22").cast(DoubleType).as("s22"),
        col("s12").cast(DoubleType).as("s12"),
        col("sy").cast(DoubleType).as("sy"), col("syy").cast(DoubleType).as("syy"),
        col("s1y").cast(DoubleType).as("s1y"), col("s2y").cast(DoubleType).as("s2y"))
      .select(
        ((col("n") * col("s12") - col("s1") * col("s2")) /
          (sqrt(col("n") * col("s11") - col("s1") * col("s1")) *
            sqrt(col("n") * col("s22") - col("s2") * col("s2")))).as("r12"),
        ((col("n") * col("s1y") - col("s1") * col("sy")) /
          (sqrt(col("n") * col("s11") - col("s1") * col("s1")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("r1y"),
        ((col("n") * col("s2y") - col("s2") * col("sy")) /
          (sqrt(col("n") * col("s22") - col("s2") * col("s2")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("r2y"))
    m.select(explode(array(lit(0.0), lit(0.1), lit(0.5), lit(2.0))).as("lambda"),
      col("r12"), col("r1y"), col("r2y"))
      .withColumn("den", (lit(1.0) + col("lambda")) * (lit(1.0) + col("lambda")) -
        col("r12") * col("r12"))
      .withColumn("b1", ((lit(1.0) + col("lambda")) * col("r1y") -
        col("r12") * col("r2y")) / col("den"))
      .withColumn("b2", ((lit(1.0) + col("lambda")) * col("r2y") -
        col("r12") * col("r1y")) / col("den"))
      .withColumn("b1o", (col("r1y") - col("r12") * col("r2y")) /
        (lit(1.0) - col("r12") * col("r12")))
      .withColumn("b2o", (col("r2y") - col("r12") * col("r1y")) /
        (lit(1.0) - col("r12") * col("r12")))
      .select(col("lambda"),
        round(col("b1"), 6).as("beta_qty"),
        round(col("b2"), 6).as("beta_disc"),
        round(sqrt(col("b1") * col("b1") + col("b2") * col("b2")) /
          sqrt(col("b1o") * col("b1o") + col("b2o") * col("b2o")), 6)
          .as("l2_vs_ols"))
      .orderBy("lambda")
  }

  val aggRidgePathSql: String =
    """WITH f AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS x1,
      |         CAST(CAST(l_discount AS DECIMAL(3,2)) * 100 AS BIGINT) AS x2,
      |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS yv
      |  FROM lineitem),
      |m AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n,
      |         CAST(sum(CAST(x1 AS HUGEINT)) AS DOUBLE) AS s1,
      |         CAST(sum(CAST(x1 AS HUGEINT) * x1) AS DOUBLE) AS s11,
      |         CAST(sum(CAST(x2 AS HUGEINT)) AS DOUBLE) AS s2,
      |         CAST(sum(CAST(x2 AS HUGEINT) * x2) AS DOUBLE) AS s22,
      |         CAST(sum(CAST(x1 AS HUGEINT) * x2) AS DOUBLE) AS s12,
      |         CAST(sum(CAST(yv AS HUGEINT)) AS DOUBLE) AS sy,
      |         CAST(sum(CAST(yv AS HUGEINT) * yv) AS DOUBLE) AS syy,
      |         CAST(sum(CAST(x1 AS HUGEINT) * yv) AS DOUBLE) AS s1y,
      |         CAST(sum(CAST(x2 AS HUGEINT) * yv) AS DOUBLE) AS s2y
      |  FROM f),
      |r AS (
      |  SELECT (n * s12 - s1 * s2) /
      |         (sqrt(n * s11 - s1 * s1) * sqrt(n * s22 - s2 * s2)) AS r12,
      |         (n * s1y - s1 * sy) /
      |         (sqrt(n * s11 - s1 * s1) * sqrt(n * syy - sy * sy)) AS r1y,
      |         (n * s2y - s2 * sy) /
      |         (sqrt(n * s22 - s2 * s2) * sqrt(n * syy - sy * sy)) AS r2y
      |  FROM m),
      |g AS (
      |  SELECT lambda, r12, r1y, r2y,
      |         (1.0 + lambda) * (1.0 + lambda) - r12 * r12 AS den
      |  FROM r CROSS JOIN (SELECT unnest([0.0, 0.1, 0.5, 2.0]) AS lambda) u),
      |b AS (
      |  SELECT lambda,
      |         ((1.0 + lambda) * r1y - r12 * r2y) / den AS b1,
      |         ((1.0 + lambda) * r2y - r12 * r1y) / den AS b2,
      |         (r1y - r12 * r2y) / (1.0 - r12 * r12) AS b1o,
      |         (r2y - r12 * r1y) / (1.0 - r12 * r12) AS b2o
      |  FROM g)
      |SELECT lambda, round(b1, 6) AS beta_qty, round(b2, 6) AS beta_disc,
      |       round(sqrt(b1 * b1 + b2 * b2) / sqrt(b1o * b1o + b2o * b2o), 6)
      |         AS l2_vs_ols
      |FROM b ORDER BY lambda""".stripMargin

  /** agg-box-cox-grid — Box-Cox transform selection for order value:
    * profile log-likelihood LL(λ) = −n/2·ln(Var z_λ) + (λ−1)·Σ ln y
    * over the grid λ ∈ {−1, −½, 0, ½, 1}, y in hundred-dollar units
    * so one 1e9 quantization grid covers the whole λ range. The
    * ORDERED-FOLD discipline (SCALING round-6): per-row ln/pow are
    * quantized to BIGINT micro-units BEFORE summing, so the fact-scan
    * sums are exact integers (DECIMAL(38) for the squares) and no
    * partition-order float noise exists; a floor can flip only if
    * pow/ln land within 1 ulp of an integer grid line. ONE scan
    * computes all five λ columns (conditional agg + stack) — the grid
    * does not rescan the table. Reported as LL relative to the best
    * (0 = winner). */
  val aggBoxCoxGrid: Q = (s, d) => {
    val y = orders(s, d).select(
      (expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
        .cast(DoubleType) / 1e5).as("y"))
      .select(col("y"),
        floor(log(col("y")) * 1e9).cast(LongType).as("lq"),
        floor(pow(col("y"), -1.0) * 1e9).cast(LongType).as("zm1"),
        floor(pow(col("y"), -0.5) * 1e9).cast(LongType).as("zmh"),
        floor(pow(col("y"), 0.5) * 1e9).cast(LongType).as("zph"),
        floor(col("y") * 1e9).cast(LongType).as("zp1"))
    val agg = y.agg(
      count(lit(1)).as("n"),
      sum(expr("CAST(lq AS DECIMAL(38,0))")).as("slq"),
      sum(expr("CAST(zm1 AS DECIMAL(38,0))")).as("s_m1"),
      sum(expr("CAST(zm1 AS DECIMAL(38,0)) * zm1")).as("ss_m1"),
      sum(expr("CAST(zmh AS DECIMAL(38,0))")).as("s_mh"),
      sum(expr("CAST(zmh AS DECIMAL(38,0)) * zmh")).as("ss_mh"),
      sum(expr("CAST(lq AS DECIMAL(38,0)) * lq")).as("ss_l"),
      sum(expr("CAST(zph AS DECIMAL(38,0))")).as("s_ph"),
      sum(expr("CAST(zph AS DECIMAL(38,0)) * zph")).as("ss_ph"),
      sum(expr("CAST(zp1 AS DECIMAL(38,0))")).as("s_p1"),
      sum(expr("CAST(zp1 AS DECIMAL(38,0)) * zp1")).as("ss_p1"))
    val rows = agg.select(expr(
      """stack(5,
        |  -1.0D, CAST(s_m1 AS DOUBLE), CAST(ss_m1 AS DOUBLE),
        |  -0.5D, CAST(s_mh AS DOUBLE), CAST(ss_mh AS DOUBLE),
        |   0.0D, CAST(slq AS DOUBLE),  CAST(ss_l AS DOUBLE),
        |   0.5D, CAST(s_ph AS DOUBLE), CAST(ss_ph AS DOUBLE),
        |   1.0D, CAST(s_p1 AS DOUBLE), CAST(ss_p1 AS DOUBLE)) AS (lambda, sz, ssz)
        |""".stripMargin),
      col("n").cast(DoubleType).as("nd"),
      col("slq").cast(DoubleType).as("slqd"))
      .select(col("lambda"),
        (lit(-0.5) * col("nd") *
          log((col("ssz") - col("sz") * col("sz") / col("nd")) / col("nd")) +
          (col("lambda") - 1.0) * (col("slqd") / 1e9)).as("ll"))
    val best = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    rows.withColumn("mx", max("ll").over(best))
      .select(col("lambda"), round(col("ll") - col("mx"), 2).as("ll_rel"),
        (col("ll") === col("mx")).as("is_best"))
      .orderBy("lambda")
  }

  val aggBoxCoxGridSql: String =
    """WITH y AS (
      |  SELECT yy AS y,
      |         CAST(floor(ln(yy) * 1e9) AS BIGINT) AS lq,
      |         CAST(floor(pow(yy, -1.0) * 1e9) AS BIGINT) AS zm1,
      |         CAST(floor(pow(yy, -0.5) * 1e9) AS BIGINT) AS zmh,
      |         CAST(floor(pow(yy, 0.5) * 1e9) AS BIGINT) AS zph,
      |         CAST(floor(yy * 1e9) AS BIGINT) AS zp1
      |  FROM (SELECT CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |                    AS DOUBLE) / 1e5 AS yy FROM orders) t),
      |agg AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS nd,
      |         CAST(sum(CAST(lq AS HUGEINT)) AS DOUBLE) AS slqd,
      |         CAST(sum(CAST(zm1 AS HUGEINT)) AS DOUBLE) AS s_m1,
      |         CAST(sum(CAST(zm1 AS HUGEINT) * zm1) AS DOUBLE) AS ss_m1,
      |         CAST(sum(CAST(zmh AS HUGEINT)) AS DOUBLE) AS s_mh,
      |         CAST(sum(CAST(zmh AS HUGEINT) * zmh) AS DOUBLE) AS ss_mh,
      |         CAST(sum(CAST(lq AS HUGEINT)) AS DOUBLE) AS s_l,
      |         CAST(sum(CAST(lq AS HUGEINT) * lq) AS DOUBLE) AS ss_l,
      |         CAST(sum(CAST(zph AS HUGEINT)) AS DOUBLE) AS s_ph,
      |         CAST(sum(CAST(zph AS HUGEINT) * zph) AS DOUBLE) AS ss_ph,
      |         CAST(sum(CAST(zp1 AS HUGEINT)) AS DOUBLE) AS s_p1,
      |         CAST(sum(CAST(zp1 AS HUGEINT) * zp1) AS DOUBLE) AS ss_p1
      |  FROM y),
      |rows_ AS (
      |  SELECT g.lambda, g.sz, g.ssz, agg.nd, agg.slqd
      |  FROM agg, LATERAL (VALUES
      |    (-1.0, s_m1, ss_m1), (-0.5, s_mh, ss_mh), (0.0, s_l, ss_l),
      |    (0.5, s_ph, ss_ph), (1.0, s_p1, ss_p1)) AS g(lambda, sz, ssz)),
      |ll AS (
      |  SELECT lambda,
      |         -0.5 * nd * ln((ssz - sz * sz / nd) / nd) +
      |         (lambda - 1.0) * (slqd / 1e9) AS ll
      |  FROM rows_)
      |SELECT lambda, round(ll - max(ll) OVER (), 2) AS ll_rel,
      |       ll = max(ll) OVER () AS is_best
      |FROM ll ORDER BY lambda""".stripMargin

  /** sample-ht-design-effect — WHY pps sampling: Poisson-PPS and
    * uniform-Bernoulli samples at the SAME expected 20% rate, both
    * estimating the corpus total with Horvitz-Thompson Σ y_i/π_i, and
    * each carrying its own HT variance estimator
    * V̂ = Σ_sample (1−π)/π²·y² — the ratio V̂_uni/V̂_pps is the design
    * effect, the number that justifies value-proportional sampling on
    * skewed totals (sample-poisson-ht is the single-design cousin;
    * this op is the comparison that picks the design). Deterministic:
    * π from exact totals, inclusion is an integer compare of a md5
    * u32 against floor(π·2³²) (independent salts per design), and
    * every per-row contribution is floored to BIGINT before the exact
    * DECIMAL(38) fold — no partition-order float noise. One cached
    * scan feeds both designs; no shuffle beyond scalar aggregates. */
  val sampleHtDesignEffect: Q = (s, d) => {
    val base = orders(s, d).select(col("o_orderkey").as("k"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("v"))
      .select(col("k"), col("v"), expr("v DIV 100").as("vd"))
      .sharedCache()
    val tot = base.agg(count(lit(1)).as("n_pop"),
      sum(expr("CAST(v AS DECIMAL(38,0))")).cast(DoubleType).as("tv"),
      sum("vd").as("true_usd"))
    val marked = base.crossJoin(broadcast(tot))
      .withColumn("pi_p", least(lit(1.0),
        (col("n_pop").cast(DoubleType) / 5.0) * col("v").cast(DoubleType) / col("tv")))
      .withColumn("pi_u", lit(0.2))
      .withColumn("hp", expr(
        "CAST(conv(substring(md5(concat('htp_', CAST(k AS STRING))), 1, 8), 16, 10) AS BIGINT)"))
      .withColumn("hu", expr(
        "CAST(conv(substring(md5(concat('htu_', CAST(k AS STRING))), 1, 8), 16, 10) AS BIGINT)"))
      .withColumn("in_p", col("hp") < floor(col("pi_p") * lit(4294967296.0)).cast(LongType))
      .withColumn("in_u", col("hu") < floor(col("pi_u") * lit(4294967296.0)).cast(LongType))
    val est = marked.agg(
      max("n_pop").as("n_pop"), max("true_usd").as("true_usd"),
      sum(when(col("in_p"), 1L).otherwise(0L)).as("n_pps"),
      sum(when(col("in_u"), 1L).otherwise(0L)).as("n_uni"),
      sum(when(col("in_p"),
        floor(col("vd").cast(DoubleType) / col("pi_p")).cast(LongType))
        .otherwise(0L)).as("ht_pps"),
      sum(when(col("in_u"),
        floor(col("vd").cast(DoubleType) / col("pi_u")).cast(LongType))
        .otherwise(0L)).as("ht_uni"),
      sum(expr("CAST(CASE WHEN in_p THEN CAST(floor(" +
        "(1.0 - pi_p) / (pi_p * pi_p) * CAST(vd AS DOUBLE) * vd) AS BIGINT) " +
        "ELSE 0 END AS DECIMAL(38,0))")).as("var_p"),
      sum(expr("CAST(CASE WHEN in_u THEN CAST(floor(" +
        "(1.0 - pi_u) / (pi_u * pi_u) * CAST(vd AS DOUBLE) * vd) AS BIGINT) " +
        "ELSE 0 END AS DECIMAL(38,0))")).as("var_u"))
    est.select(col("n_pop"), col("n_pps"), col("n_uni"), col("true_usd"),
      col("ht_pps").as("ht_pps_usd"), col("ht_uni").as("ht_uni_usd"),
      round(sqrt(col("var_p").cast(DoubleType)), 2).as("se_pps_usd"),
      round(sqrt(col("var_u").cast(DoubleType)), 2).as("se_uni_usd"),
      round(col("var_u").cast(DoubleType) / col("var_p").cast(DoubleType), 4)
        .as("design_effect"))
  }

  val sampleHtDesignEffectSql: String =
    """WITH base AS (
      |  SELECT o_orderkey AS k, v, v // 100 AS vd
      |  FROM (SELECT o_orderkey,
      |               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |        FROM orders) t),
      |tot AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_pop,
      |         CAST(sum(CAST(v AS HUGEINT)) AS DOUBLE) AS tv,
      |         CAST(sum(vd) AS BIGINT) AS true_usd
      |  FROM base),
      |marked AS (
      |  SELECT vd, pi_p, pi_u, n_pop, true_usd,
      |         hp < CAST(floor(pi_p * 4294967296.0) AS BIGINT) AS in_p,
      |         hu < CAST(floor(pi_u * 4294967296.0) AS BIGINT) AS in_u
      |  FROM (
      |    SELECT vd, n_pop, true_usd,
      |           least(1.0, (CAST(n_pop AS DOUBLE) / 5.0) * CAST(v AS DOUBLE) / tv)
      |             AS pi_p,
      |           0.2 AS pi_u,
      |           CAST(('0x' || substring(md5('htp_' || CAST(k AS VARCHAR)), 1, 8))::BIGINT
      |                AS BIGINT) AS hp,
      |           CAST(('0x' || substring(md5('htu_' || CAST(k AS VARCHAR)), 1, 8))::BIGINT
      |                AS BIGINT) AS hu
      |    FROM base CROSS JOIN tot) t)
      |SELECT max(n_pop) AS n_pop,
      |       CAST(sum(CASE WHEN in_p THEN 1 ELSE 0 END) AS BIGINT) AS n_pps,
      |       CAST(sum(CASE WHEN in_u THEN 1 ELSE 0 END) AS BIGINT) AS n_uni,
      |       max(true_usd) AS true_usd,
      |       CAST(sum(CASE WHEN in_p THEN CAST(floor(CAST(vd AS DOUBLE) / pi_p)
      |                AS BIGINT) ELSE 0 END) AS BIGINT) AS ht_pps_usd,
      |       CAST(sum(CASE WHEN in_u THEN CAST(floor(CAST(vd AS DOUBLE) / pi_u)
      |                AS BIGINT) ELSE 0 END) AS BIGINT) AS ht_uni_usd,
      |       round(sqrt(CAST(sum(CASE WHEN in_p THEN CAST(floor(
      |         (1.0 - pi_p) / (pi_p * pi_p) * CAST(vd AS DOUBLE) * vd) AS BIGINT)
      |         ELSE 0 END) AS DOUBLE)), 2) AS se_pps_usd,
      |       round(sqrt(CAST(sum(CASE WHEN in_u THEN CAST(floor(
      |         (1.0 - pi_u) / (pi_u * pi_u) * CAST(vd AS DOUBLE) * vd) AS BIGINT)
      |         ELSE 0 END) AS DOUBLE)), 2) AS se_uni_usd,
      |       round(CAST(sum(CASE WHEN in_u THEN CAST(floor(
      |         (1.0 - pi_u) / (pi_u * pi_u) * CAST(vd AS DOUBLE) * vd) AS BIGINT)
      |         ELSE 0 END) AS DOUBLE) /
      |             CAST(sum(CASE WHEN in_p THEN CAST(floor(
      |         (1.0 - pi_p) / (pi_p * pi_p) * CAST(vd AS DOUBLE) * vd) AS BIGINT)
      |         ELSE 0 END) AS DOUBLE), 4) AS design_effect
      |FROM marked""".stripMargin

  /** graph-adamic-adar — link prediction on the part-supplier
    * bipartite graph: score SUPPLIER pairs by Σ_w 1/ln(deg w) over
    * shared parts w (Adamic-Adar downweights promiscuous hubs — a
    * shared rare part is stronger evidence than a shared commodity
    * part). Direction matters at scale: parts have ~26-way fanout vs
    * suppliers' ~500, so pairing THROUGH parts keeps the candidate
    * table at Σ_w deg(w)²/2, orders of magnitude under the supplier-
    * mediated blowup. Scale levers: (a) per-part contributions are
    * quantized to 1e9 BIGINT so pair scores are exact integer sums in
    * any partition order; (b) pair generation is DEGREE-CAPPED at 256
    * — the classic link-prediction hub guard, dropping only pairs
    * whose per-hub contribution is the smallest; (c) p1 < p2
    * canonical order halves the pair table. Top-15, pair tiebreak. */
  val graphAdamicAdar: Q = (s, d) => withShufflePartitions(s, 8) {
    // r14 opt: distinct pairs from the per-process fixture
    // (GraphOps.psPairsStored) instead of a per-rep scan + distinct
    val adj = GraphOps.psPairsStored(s, d)
      .select(col("pk").as("w"), col("sk").as("p"))
    val deg = adj.groupBy("w").agg(count(lit(1)).as("dg"))
      .filter(col("dg") >= 2 && col("dg") <= 256)
      .withColumn("contrib",
        floor(lit(1e9) / log(col("dg").cast(DoubleType))).cast(LongType))
    // cache the degree-joined adjacency: it feeds BOTH sides of the
    // pair self-join, and uncached each side re-pays the lineitem scan
    // + distinct shuffle + degree join (measured 5.1 s steady -> ~2 s)
    val a = adj.join(deg, Seq("w")).sharedCache()
    val pairs = a.select(col("w"), col("p").as("p1"), col("contrib"))
      .join(a.select(col("w"), col("p").as("p2")), Seq("w"))
      .filter(col("p1") < col("p2"))
    pairs.groupBy("p1", "p2")
      .agg(sum("contrib").as("sc"), count(lit(1)).as("common_parts"))
      .select(col("p1").as("s1"), col("p2").as("s2"), col("common_parts"),
        round(col("sc").cast(DoubleType) / 1e9, 4).as("adamic_adar"))
      .orderBy(col("sc").desc, col("s1"), col("s2"))
      .limit(15)
  }

  val graphAdamicAdarSql: String =
    """WITH adj AS (
      |  SELECT DISTINCT l_partkey AS w, l_suppkey AS p FROM lineitem),
      |deg AS (
      |  SELECT w, CAST(floor(1e9 / ln(CAST(dg AS DOUBLE))) AS BIGINT) AS contrib
      |  FROM (SELECT w, CAST(count(*) AS BIGINT) AS dg FROM adj GROUP BY 1) t
      |  WHERE dg BETWEEN 2 AND 256),
      |pairs AS (
      |  SELECT a1.p AS p1, a2.p AS p2, d.contrib
      |  FROM adj a1 JOIN deg d ON a1.w = d.w JOIN adj a2 ON a2.w = d.w
      |  WHERE a1.p < a2.p)
      |SELECT p1 AS s1, p2 AS s2, CAST(count(*) AS BIGINT) AS common_parts,
      |       round(CAST(sum(contrib) AS DOUBLE) / 1e9, 4) AS adamic_adar
      |FROM pairs GROUP BY 1, 2
      |ORDER BY sum(contrib) DESC, s1, s2 LIMIT 15""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-ridge-path", aggRidgePath, aggRidgePathSql),
    Key("agg-box-cox-grid", aggBoxCoxGrid, aggBoxCoxGridSql),
    Key("sample-ht-design-effect", sampleHtDesignEffect, sampleHtDesignEffectSql),
    Key("graph-adamic-adar", graphAdamicAdar, graphAdamicAdarSql))
}
