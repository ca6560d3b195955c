package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch U: linear CKA view similarity, OC acceptance-
  * sampling curve, Kendall's W concordance, mean-excess EVT curve. */
object RelMore120 extends KeyModule {

  /** emb-cka-similarity — linear Centered Kernel Alignment between
    * the first-32 and last-32 dimension VIEWS of the embedding
    * corpus: CKA = ‖X̄ᵀȲ‖²_F / (‖X̄ᵀX̄‖_F·‖ȲᵀȲ‖_F), the
    * representation-similarity standard (invariant to rotation and
    * isotropic scale — exactly the invariances a raw correlation
    * matrix lacks). CKA ≈ 0 says the two halves carry independent
    * information (good for matryoshka truncation, cf. emb-mrl-*);
    * CKA ≈ 1 says half the width is redundant. The centered
    * cross-covariances use the exact integer identity n·S_jk−S_j·S_k
    * (the participation-ratio discipline) over ONE 64×64 Gram pass —
    * quadrant membership of (j,k) routes each cell to the XY/XX/YY
    * Frobenius sum, all exact DECIMAL(38,0); the two final ratios are
    * the only doubles. */
  val embCkaSimilarity: Q = (s, d) => {
    val m = embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("k", "x")))
      .select(col("vec_id"), col("k"),
        floor(col("x").cast(DoubleType) * lit(1000.0) + lit(0.5)).cast(LongType).as("mq"))
      .sharedCache()
    val nv = m.agg(count_distinct(col("vec_id")).as("n"))
    val sk = m.groupBy("k").agg(sum("mq").as("sv"))
    val gram = m.as("a").join(m.as("b"), "vec_id")
      .groupBy(col("a.k").as("j"), col("b.k").as("kk"))
      .agg(sum(expr("CAST(a.mq AS DECIMAL(38,0)) * b.mq")).as("sjk"))
    val cells = gram
      .join(broadcast(sk.select(col("k").as("j"), col("sv").as("sj"))), Seq("j"))
      .join(broadcast(sk.select(col("k").as("kk"), col("sv").as("skv"))), Seq("kk"))
      .crossJoin(broadcast(nv))
      .select(col("j"), col("kk"),
        (col("n") * col("sjk") - expr("CAST(sj AS DECIMAL(38,0)) * skv")).as("a"))
      .select(
        when(col("j") < 32 && col("kk") >= 32, expr("a * a")).otherwise(lit(0)).as("xy2"),
        when(col("j") < 32 && col("kk") < 32, expr("a * a")).otherwise(lit(0)).as("xx2"),
        when(col("j") >= 32 && col("kk") >= 32, expr("a * a")).otherwise(lit(0)).as("yy2"))
    val sums = cells.agg(sum("xy2").as("fxy"), sum("xx2").as("fxx"), sum("yy2").as("fyy"))
    sums.crossJoin(broadcast(nv))
      .select(col("n").cast(LongType).as("n_vecs"),
        round(col("fxy").cast(DoubleType) /
          sqrt(col("fxx").cast(DoubleType) * col("fyy").cast(DoubleType)), 6).as("cka_linear"))
  }

  val embCkaSimilaritySql: String =
    """WITH m AS MATERIALIZED (
      |  SELECT vec_id,
      |         unnest(range(0, len(embedding))) AS k,
      |         CAST(floor(unnest(list_transform(embedding,
      |                    x -> CAST(x AS DOUBLE))) * 1000 + 0.5) AS BIGINT) AS mq
      |  FROM embeddings),
      |nv AS (SELECT CAST(count(DISTINCT vec_id) AS HUGEINT) AS n FROM m),
      |sk AS MATERIALIZED (SELECT k, CAST(sum(mq) AS HUGEINT) AS sv FROM m GROUP BY 1),
      |gram AS (
      |  SELECT a.k AS j, b.k AS kk, CAST(sum(CAST(a.mq AS HUGEINT) * b.mq) AS HUGEINT) AS sjk
      |  FROM m a JOIN m b USING (vec_id) GROUP BY 1, 2),
      |cells AS (
      |  SELECT CASE WHEN j < 32 AND kk >= 32 THEN a * a ELSE 0 END AS xy2,
      |         CASE WHEN j < 32 AND kk < 32 THEN a * a ELSE 0 END AS xx2,
      |         CASE WHEN j >= 32 AND kk >= 32 THEN a * a ELSE 0 END AS yy2
      |  FROM (
      |    SELECT j, kk, n * sjk - sj.sv * sk2.sv AS a
      |    FROM gram
      |    JOIN sk sj ON sj.k = gram.j
      |    JOIN sk sk2 ON sk2.k = gram.kk
      |    CROSS JOIN nv) t),
      |sums AS (
      |  SELECT CAST(sum(xy2) AS HUGEINT) AS fxy, CAST(sum(xx2) AS HUGEINT) AS fxx,
      |         CAST(sum(yy2) AS HUGEINT) AS fyy
      |  FROM cells)
      |SELECT CAST(n AS BIGINT) AS n_vecs,
      |       round(CAST(fxy AS DOUBLE) / sqrt(CAST(fxx AS DOUBLE) * CAST(fyy AS DOUBLE)), 6)
      |         AS cka_linear
      |FROM sums CROSS JOIN nv""".stripMargin

  /** agg-oc-acceptance-sampling — the operating-characteristic curve
    * of the classic (n = 50, c = 2) single acceptance-sampling plan:
    * P(accept | defect rate p) = Σ_{k≤2} C(50,k)·pᵏ(1−p)⁵⁰⁻ᵏ over a
    * 1-15% defect grid, plus the plan's producer point (largest p
    * with P ≥ 0.95 — the AQL the plan protects) and consumer point
    * (smallest p with P ≤ 0.10 — the LTPD it rejects). This is the
    * quality-control contract behind every "inspect a sample, accept
    * the lot" pipeline gate — stated as a curve, the way MIL-STD
    * tables print it. Binomial coefficients are the literals 1/50/
    * 1225; powers are identical exp/ln doubles pico-floor-quantized;
    * the grid is engine-generated — zero data tables, a planner-
    * style computation like dedup-banding-optimizer. */
  val aggOcAcceptanceSampling: Q = (s, d) => {
    val grid = s.range(1, 16).select((col("id").cast(DoubleType) / 100).as("p"))
    val curve = grid.select(col("p"),
      floor((expr("exp(50 * ln(1.0 - p))") +
        lit(50.0) * expr("exp(ln(p) + 49 * ln(1.0 - p))") +
        lit(1225.0) * expr("exp(2 * ln(p) + 48 * ln(1.0 - p))")) * lit(1e12))
        .cast(LongType).as("paq"))
      .sharedCache()
    val aql = curve.filter(col("paq") >= (0.95 * 1e12).toLong)
      .agg(max("p").as("aql_p"))
    val ltpd = curve.filter(col("paq") <= (0.10 * 1e12).toLong)
      .agg(min("p").as("ltpd_p"))
    curve.crossJoin(broadcast(aql)).crossJoin(broadcast(ltpd))
      .select((col("p") * 100).cast(LongType).as("defect_pct"),
        round(col("paq").cast(DoubleType) / 1e12, 6).as("p_accept"),
        round(col("aql_p"), 2).as("aql_p"), round(col("ltpd_p"), 2).as("ltpd_p"))
      .orderBy("defect_pct")
  }

  val aggOcAcceptanceSamplingSql: String =
    """WITH grid AS (SELECT CAST(unnest(range(1, 16)) AS DOUBLE) / 100 AS p),
      |curve AS MATERIALIZED (
      |  SELECT p,
      |         CAST(floor((exp(50 * ln(1.0 - p)) +
      |                     50.0 * exp(ln(p) + 49 * ln(1.0 - p)) +
      |                     1225.0 * exp(2 * ln(p) + 48 * ln(1.0 - p))) * 1e12) AS BIGINT) AS paq
      |  FROM grid),
      |aql AS (SELECT max(p) AS aql_p FROM curve WHERE paq >= 950000000000),
      |ltpd AS (SELECT min(p) AS ltpd_p FROM curve WHERE paq <= 100000000000)
      |SELECT CAST(p * 100 AS BIGINT) AS defect_pct,
      |       round(CAST(paq AS DOUBLE) / 1e12, 6) AS p_accept,
      |       round(aql_p, 2) AS aql_p, round(ltpd_p, 2) AS ltpd_p
      |FROM curve CROSS JOIN aql CROSS JOIN ltpd
      |ORDER BY defect_pct""".stripMargin

  /** agg-kendall-w — Kendall's coefficient of concordance among the
    * four calendar quarters ranking the top-10 revenue parts: do Q1,
    * Q2, Q3, Q4 AGREE on which parts sell best, or is the merit order
    * itself seasonal? W = 12·S/(m²(k³−k)) with S = Σ(Rᵢ−m(k+1)/2)²,
    * the m-rater generalization that completes the rank-test family
    * (tau-b = 2 raters, Friedman's χ² = m(k−1)W is also emitted).
    * Ranks are exact integers (revenue cents never tie in practice;
    * the (revenue, partkey) tiebreak makes them a permutation by
    * construction and is stated), so S is exact integer arithmetic —
    * the item and rank frames are top-10 aggregates, never
    * fact-sized. */
  val aggKendallW: Q = (s, d) => {
    val byPartQ = lineitem(s, d)
      .groupBy(col("l_partkey"), quarter(col("l_shipdate")).as("qtr"))
      .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("rev"))
      .sharedCache()
    val top = byPartQ.groupBy("l_partkey").agg(sum("rev").as("trev"))
      .orderBy(col("trev").desc, col("l_partkey")).limit(10)
      .select(col("l_partkey"))
    val wq = Window.partitionBy("qtr").orderBy(col("rev").desc, col("l_partkey"))
    val ranks = byPartQ.join(broadcast(top), Seq("l_partkey"))
      .withColumn("r", row_number().over(wq))
    val rsum = ranks.groupBy("l_partkey").agg(sum("r").as("ri"), count(lit(1)).as("m"))
    // S = Σ(Ri - m(k+1)/2)²; m = 4 raters, k = 10 items ⇒ center 22
    val sS = rsum.agg(count(lit(1)).as("k"), max("m").as("m"),
      sum((col("ri") - 22) * (col("ri") - 22)).as("s"))
    sS.select(col("k").cast(LongType).as("k_items"), col("m").cast(LongType).as("m_raters"),
      col("s").as("s_stat"),
      round(col("s").cast(DoubleType) * 12 /
        (col("m").cast(DoubleType) * col("m") *
          (col("k").cast(DoubleType) * col("k") * col("k") - col("k"))), 4).as("kendall_w"),
      round(col("m").cast(DoubleType) * (col("k") - 1) *
        (col("s").cast(DoubleType) * 12 /
          (col("m").cast(DoubleType) * col("m") *
            (col("k").cast(DoubleType) * col("k") * col("k") - col("k")))), 3)
        .as("friedman_chi2"))
  }

  val aggKendallWSql: String =
    """WITH by_pq AS MATERIALIZED (
      |  SELECT l_partkey, quarter(l_shipdate) AS qtr,
      |         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
      |  FROM lineitem GROUP BY 1, 2),
      |top AS (
      |  SELECT l_partkey FROM (
      |    SELECT l_partkey, sum(rev) AS trev FROM by_pq GROUP BY 1) t
      |  ORDER BY trev DESC, l_partkey LIMIT 10),
      |ranks AS (
      |  SELECT l_partkey,
      |         row_number() OVER (PARTITION BY qtr ORDER BY rev DESC, l_partkey) AS r
      |  FROM by_pq JOIN top USING (l_partkey)),
      |rsum AS (
      |  SELECT l_partkey, CAST(sum(r) AS BIGINT) AS ri, CAST(count(*) AS BIGINT) AS m
      |  FROM ranks GROUP BY 1),
      |ss AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k, max(m) AS m,
      |         CAST(sum((ri - 22) * (ri - 22)) AS BIGINT) AS s
      |  FROM rsum)
      |SELECT k AS k_items, m AS m_raters, s AS s_stat,
      |       round(CAST(s AS DOUBLE) * 12 /
      |             (CAST(m AS DOUBLE) * m * (CAST(k AS DOUBLE) * k * k - k)), 4) AS kendall_w,
      |       round(CAST(m AS DOUBLE) * (k - 1) *
      |             (CAST(s AS DOUBLE) * 12 /
      |              (CAST(m AS DOUBLE) * m * (CAST(k AS DOUBLE) * k * k - k))), 3) AS friedman_chi2
      |FROM ss""".stripMargin

  /** agg-mean-excess-curve — the mean-excess (mean residual life)
    * function e(u) = E[Y−u | Y>u] of daily revenue at the P50..P95
    * thresholds: EVT's threshold-choice diagnostic — e(u) LINEAR in u
    * is the signature of the GPD regime (slope ξ/(1−ξ)), so this
    * curve is how a practitioner picks agg-gpd-pot's threshold
    * instead of guessing P95. Thresholds are tie-free discrete
    * quantiles (position ⌈q·n⌉); each e(u) is an exact excess-sum
    * ratio (ratioFloor); the reported slope is an exact-integer OLS
    * over the 10 curve points (nano-quantized coordinates) and the
    * implied ξ = slope/(1+slope) rides along every row. One rank
    * window + one threshold×days aggregate (10×n — bounded, stated). */
  val aggMeanExcessCurve: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("y"))
      .sharedCache()
    val n = daily.count()
    val wq = Window.orderBy(col("y"), col("dt"))
    val ranked = daily.withColumn("rn", row_number().over(wq)).sharedCache()
    val pcts = Seq(50, 55, 60, 65, 70, 75, 80, 85, 90, 95)
    val thr = ranked
      .join(s.createDataFrame(pcts.map(Tuple1(_))).toDF("pct")
        .select(col("pct"), ceil(col("pct") * n / lit(100.0)).cast(IntegerType).as("pos")),
        col("rn") === col("pos"))
      .select(col("pct"), col("y").as("u"))
    val exc = daily.crossJoin(broadcast(thr))
      .filter(col("y") > col("u"))
      .groupBy("pct", "u")
      .agg(count(lit(1)).as("ke"), sum(expr("CAST(y - u AS DECIMAL(38,0))")).as("se"))
      .withColumn("eu_q", expr("CAST(se div ke AS BIGINT)"))
      .sharedCache()
    val fit = exc.select(
      expr("CAST(u div 100 AS DECIMAL(38,0))").as("x"),
      expr("CAST(eu_q div 100 AS DECIMAL(38,0))").as("yv"))
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("c"),
        sum("x").as("sx"), sum("yv").as("sy"),
        sum(expr("x * x")).as("sxx"), sum(expr("x * yv")).as("sxy"))
      .select(((col("c") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
        (col("c") * col("sxx") - col("sx") * col("sx")).cast(DoubleType)).as("slope"))
      .select(round(col("slope"), 4).as("me_slope"),
        round(col("slope") / (lit(1.0) + col("slope")), 4).as("implied_xi"))
    exc.crossJoin(broadcast(fit))
      .select(col("pct").cast(LongType).as("pct"), col("u").as("u_cents"),
        col("ke").as("n_exceed"),
        round(col("eu_q").cast(DoubleType) / 100, 2).as("mean_excess_usd"),
        col("me_slope"), col("implied_xi"))
      .orderBy("pct")
  }

  val aggMeanExcessCurveSql: String =
    """WITH daily AS MATERIALIZED (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |nn AS (SELECT count(*) AS n FROM daily),
      |ranked AS MATERIALIZED (
      |  SELECT y, row_number() OVER (ORDER BY y, dt) AS rn FROM daily),
      |thr AS MATERIALIZED (
      |  SELECT pct, y AS u
      |  FROM ranked JOIN (
      |    SELECT pct, CAST(ceil(pct * n / 100.0) AS INTEGER) AS pos
      |    FROM (SELECT unnest([50, 55, 60, 65, 70, 75, 80, 85, 90, 95]) AS pct) g
      |    CROSS JOIN nn) p ON rn = pos),
      |exc AS MATERIALIZED (
      |  SELECT pct, u, CAST(count(*) AS BIGINT) AS ke,
      |         CAST(sum(CAST(y - u AS HUGEINT)) // count(*) AS BIGINT) AS eu_q
      |  FROM daily CROSS JOIN thr
      |  WHERE y > u GROUP BY 1, 2),
      |fit AS (
      |  SELECT round(slope, 4) AS me_slope,
      |         round(slope / (1.0 + slope), 4) AS implied_xi
      |  FROM (
      |    SELECT CAST(c * sxy - sx * sy AS DOUBLE) / CAST(c * sxx - sx * sx AS DOUBLE) AS slope
      |    FROM (
      |      SELECT CAST(count(*) AS HUGEINT) AS c,
      |             CAST(sum(CAST(u // 100 AS HUGEINT)) AS HUGEINT) AS sx,
      |             CAST(sum(CAST(eu_q // 100 AS HUGEINT)) AS HUGEINT) AS sy,
      |             CAST(sum(CAST(u // 100 AS HUGEINT) * (u // 100)) AS HUGEINT) AS sxx,
      |             CAST(sum(CAST(u // 100 AS HUGEINT) * (eu_q // 100)) AS HUGEINT) AS sxy
      |      FROM exc) s0) s1)
      |SELECT CAST(pct AS BIGINT) AS pct, u AS u_cents, ke AS n_exceed,
      |       round(CAST(eu_q AS DOUBLE) / 100, 2) AS mean_excess_usd,
      |       me_slope, implied_xi
      |FROM exc CROSS JOIN fit
      |ORDER BY pct""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("emb-cka-similarity", embCkaSimilarity, embCkaSimilaritySql),
    Key("agg-oc-acceptance-sampling", aggOcAcceptanceSampling, aggOcAcceptanceSamplingSql),
    Key("agg-kendall-w", aggKendallW, aggKendallWSql),
    Key("agg-mean-excess-curve", aggMeanExcessCurve, aggMeanExcessCurveSql))
}
