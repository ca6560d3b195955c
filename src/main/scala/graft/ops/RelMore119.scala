package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch T: log-rank survival test, LSH banding optimizer,
  * cross-domain LM cross-entropy, moving-block bootstrap. */
object RelMore119 extends KeyModule {

  /** agg-logrank-test — the log-rank test comparing churn between the
    * BUILDING market segment and everyone else, on the customer
    * survival frame shared with agg-nelson-aalen (first order =
    * entry; death = last order >90 days before the horizon): at each
    * death time the observed group-1 deaths O₁ᵢ are compared to the
    * hypergeometric expectation E₁ᵢ = dᵢ·n₁ᵢ/nᵢ, and
    * Z = Σ(O−E)/√ΣV with Vᵢ = dᵢ·(n₁ᵢ/nᵢ)·(1−n₁ᵢ/nᵢ)·(nᵢ−dᵢ)/(nᵢ−1)
    * — THE standard two-sample censored-data test, the inferential
    * counterpart to the KM/NA descriptive ops. E and V terms are
    * pico-floor-quantized from exact integer risk-set counts (one
    * identical division each), so both folds are exact integer sums;
    * the risk sets come from one descending cumulative window per
    * group over the per-time rollup — never a per-subject self-join. */
  val aggLogrankTest: Q = (s, d) => {
    val per = orders(s, d)
      .groupBy("o_custkey")
      .agg(min(to_date(col("o_orderdate"))).as("first_dt"),
        max(to_date(col("o_orderdate"))).as("last_dt"))
    val seg = customer(s, d).select(col("c_custkey"),
      when(col("c_mktsegment") === "BUILDING", 1).otherwise(0).as("g1"))
    val horizon = per.agg(max("last_dt").as("hz"))
    val subj = per.join(broadcast(seg), col("o_custkey") === col("c_custkey"))
      .crossJoin(broadcast(horizon))
      .select(col("g1"),
        when(datediff(col("hz"), col("last_dt")) > 90,
          datediff(col("last_dt"), col("first_dt")))
          .otherwise(datediff(col("hz"), col("first_dt"))).as("t"),
        when(datediff(col("hz"), col("last_dt")) > 90, 1L).otherwise(0L).as("death"))
    val byT = subj.groupBy("t")
      .agg(sum("death").as("dd"), count(lit(1)).as("c"),
        sum(when(col("g1") === 1, col("death")).otherwise(0L)).as("d1"),
        sum(col("g1").cast(LongType)).as("c1"))
    val wDesc = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val terms = byT
      .withColumn("nr", sum("c").over(wDesc))
      .withColumn("n1r", sum("c1").over(wDesc))
      .filter(col("dd") > 0)
      .select(col("d1"),
        floor(col("dd").cast(DoubleType) * col("n1r") * lit(1e12) / col("nr"))
          .cast(LongType).as("eq"),
        when(col("nr") > 1,
          floor(col("dd").cast(DoubleType) * (col("n1r").cast(DoubleType) / col("nr")) *
            (lit(1.0) - col("n1r").cast(DoubleType) / col("nr")) *
            (col("nr") - col("dd")).cast(DoubleType) / (col("nr") - 1) * lit(1e12))
            .cast(LongType)).otherwise(0L).as("vq"))
    terms.agg(count(lit(1)).as("n_death_times"),
      sum("d1").as("o1"), sum("eq").as("e1q"), sum("vq").as("vvq"))
      .select(col("n_death_times"), col("o1").as("observed_g1"),
        round(col("e1q").cast(DoubleType) / 1e12, 3).as("expected_g1"),
        round((col("o1").cast(DoubleType) - col("e1q").cast(DoubleType) / 1e12) /
          sqrt(col("vvq").cast(DoubleType) / 1e12), 4).as("z_stat"),
        (abs((col("o1").cast(DoubleType) - col("e1q").cast(DoubleType) / 1e12) /
          sqrt(col("vvq").cast(DoubleType) / 1e12)) >= 1.96).as("segments_differ"))
  }

  val aggLogrankTestSql: String =
    """WITH per AS (
      |  SELECT o_custkey,
      |         min(CAST(date_trunc('day', o_orderdate) AS DATE)) AS first_dt,
      |         max(CAST(date_trunc('day', o_orderdate) AS DATE)) AS last_dt
      |  FROM orders GROUP BY 1),
      |hz AS (SELECT max(last_dt) AS hz FROM per),
      |subj AS (
      |  SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g1,
      |         CASE WHEN hz - last_dt > 90 THEN last_dt - first_dt
      |              ELSE hz - first_dt END AS t,
      |         CASE WHEN hz - last_dt > 90 THEN 1 ELSE 0 END AS death
      |  FROM per JOIN customer ON o_custkey = c_custkey CROSS JOIN hz),
      |by_t AS (
      |  SELECT t, CAST(sum(death) AS BIGINT) AS dd, CAST(count(*) AS BIGINT) AS c,
      |         CAST(sum(CASE WHEN g1 = 1 THEN death ELSE 0 END) AS BIGINT) AS d1,
      |         CAST(sum(g1) AS BIGINT) AS c1
      |  FROM subj GROUP BY 1),
      |risk AS (
      |  SELECT t, dd, d1,
      |         sum(c) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nr,
      |         sum(c1) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n1r
      |  FROM by_t),
      |terms AS (
      |  SELECT d1,
      |         CAST(floor(CAST(dd AS DOUBLE) * n1r * 1e12 / nr) AS BIGINT) AS eq,
      |         CASE WHEN nr > 1 THEN
      |           CAST(floor(CAST(dd AS DOUBLE) * (CAST(n1r AS DOUBLE) / nr) *
      |                (1.0 - CAST(n1r AS DOUBLE) / nr) *
      |                CAST(nr - dd AS DOUBLE) / (nr - 1) * 1e12) AS BIGINT)
      |         ELSE 0 END AS vq
      |  FROM risk WHERE dd > 0)
      |SELECT CAST(count(*) AS BIGINT) AS n_death_times,
      |       CAST(sum(d1) AS BIGINT) AS observed_g1,
      |       round(CAST(sum(eq) AS DOUBLE) / 1e12, 3) AS expected_g1,
      |       round((CAST(sum(d1) AS DOUBLE) - CAST(sum(eq) AS DOUBLE) / 1e12) /
      |             sqrt(CAST(sum(vq) AS DOUBLE) / 1e12), 4) AS z_stat,
      |       abs((CAST(sum(d1) AS DOUBLE) - CAST(sum(eq) AS DOUBLE) / 1e12) /
      |           sqrt(CAST(sum(vq) AS DOUBLE) / 1e12)) >= 1.96 AS segments_differ
      |FROM terms""".stripMargin

  /** dedup-banding-optimizer — analytic (b, r) selection for
    * MinHash-LSH at a declared Jaccard threshold t* = 0.7: for every
    * factorization b·r = 48, evaluate the S-curve P(s) = 1−(1−sʳ)ᵇ on
    * a 1/100 grid and integrate false-positive mass below t* and
    * false-negative mass above it — the design calculation behind
    * dedup-minhash-lsh's hardcoded banding, made explicit (and what
    * dedup-banding-curve measures empirically, computed here in
    * closed form). The grid is engine-generated (range), every P(s)
    * is one identical exp/ln double pico-floor-quantized, and the
    * integrals are exact integer sums — the whole op touches zero
    * data tables, exactly like a planner costing a layout. The
    * chosen (b, r) minimizes FP + FN with the threshold-proximity
    * tiebreak. */
  val dedupBandingOptimizer: Q = (s, d) => {
    val factor = Seq((1, 48), (2, 24), (3, 16), (4, 12), (6, 8), (8, 6),
      (12, 4), (16, 3), (24, 2), (48, 1))
    val cfg = factor.map { case (b, r) => s"($b, $r)" }.mkString(", ")
    s.sql(
      s"""SELECT b, r FROM VALUES $cfg AS t(b, r)""")
      .crossJoin(s.range(1, 100).select((col("id").cast(DoubleType) / 100).as("sv")))
      .select(col("b"), col("r"), col("sv"),
        // P(s) = 1 - (1 - s^r)^b via exp/ln, pico-quantized
        floor((lit(1.0) - expr("exp(b * ln(1.0 - exp(r * ln(sv))))")) * lit(1e12))
          .cast(LongType).as("pq"))
      .groupBy("b", "r")
      .agg(sum(when(col("sv") < 0.7, col("pq")).otherwise(0L)).as("fp_mass_q"),
        sum(when(col("sv") >= 0.7, lit(1000000000000L) - col("pq")).otherwise(0L))
          .as("fn_mass_q"))
      .select(col("b").cast(LongType).as("b"), col("r").cast(LongType).as("r"),
        round(col("fp_mass_q").cast(DoubleType) / 1e14, 6).as("fp_mass"),
        round(col("fn_mass_q").cast(DoubleType) / 1e14, 6).as("fn_mass"),
        round((col("fp_mass_q") + col("fn_mass_q")).cast(DoubleType) / 1e14, 6)
          .as("total_err"))
      .orderBy((col("fp_mass_q") + col("fn_mass_q")).asc, col("b"))
      .limit(3)
  }

  val dedupBandingOptimizerSql: String =
    """WITH cfg AS (
      |  SELECT b, r FROM (VALUES (1, 48), (2, 24), (3, 16), (4, 12), (6, 8), (8, 6),
      |                           (12, 4), (16, 3), (24, 2), (48, 1)) t(b, r)),
      |grid AS (SELECT CAST(unnest(range(1, 100)) AS DOUBLE) / 100 AS sv),
      |pts AS (
      |  SELECT b, r, sv,
      |         CAST(floor((1.0 - exp(b * ln(1.0 - exp(r * ln(sv))))) * 1e12) AS BIGINT) AS pq
      |  FROM cfg CROSS JOIN grid),
      |agg AS (
      |  SELECT b, r,
      |         CAST(sum(CASE WHEN sv < 0.7 THEN pq ELSE 0 END) AS BIGINT) AS fp_mass_q,
      |         CAST(sum(CASE WHEN sv >= 0.7 THEN 1000000000000 - pq ELSE 0 END) AS BIGINT) AS fn_mass_q
      |  FROM pts GROUP BY 1, 2)
      |SELECT CAST(b AS BIGINT) AS b, CAST(r AS BIGINT) AS r,
      |       round(CAST(fp_mass_q AS DOUBLE) / 1e14, 6) AS fp_mass,
      |       round(CAST(fn_mass_q AS DOUBLE) / 1e14, 6) AS fn_mass,
      |       round(CAST(fp_mass_q + fn_mass_q AS DOUBLE) / 1e14, 6) AS total_err
      |FROM agg
      |ORDER BY fp_mass_q + fn_mass_q ASC, b LIMIT 3""".stripMargin

  /** text-domain-crossentropy — the directional cross-entropy matrix
    * H(P_a, P_b) between per-source unigram language models (add-one
    * smoothed over the shared vocabulary): how well source b's model
    * predicts source a's text, for every ordered source pair. The
    * asymmetry IS the signal — H(web→books) ≫ H(books→web) says web
    * text is the broader domain — and it's the quantity behind
    * importance-resampling data mixes (text-js-divergence is the
    * symmetric special case; mix design needs the directed matrix).
    * Counts are exact; each log-probability is nano-floor-quantized
    * from exact integer count ratios; the per-pair fold
    * Σ nₐ(w)·⌊ln p_b(w)·10⁹⌋ is an exact integer sum. Model tables
    * are vocabulary-sized and broadcast. */
  val textDomainCrossentropy: Q = (s, d) => {
    val toks = documents(s, d)
      .select(col("source"), explode(split(trim(col("text")), "\\s+")).as("w"))
      .sharedCache()
    val vocabN = toks.select("w").distinct().count()
    val counts = toks.groupBy("source", "w").agg(count(lit(1)).as("cw")).sharedCache()
    val totals = counts.groupBy("source").agg(sum("cw").as("ct"))
    val model = counts.join(totals, Seq("source"))
      .select(col("source").as("src_b"), col("w"),
        floor(log((col("cw") + 1).cast(DoubleType) /
          (col("ct") + lit(vocabN)).cast(DoubleType)) * lit(1e9)).cast(LongType).as("lpq"))
    val fallback = totals
      .select(col("source").as("src_b"),
        floor(log(lit(1.0) / (col("ct") + lit(vocabN)).cast(DoubleType)) * lit(1e9))
          .cast(LongType).as("lp0q"))
    val pairs = counts.select(col("source").as("src_a"), col("w"), col("cw"))
      .crossJoin(broadcast(totals.select(col("source").as("src_b"))))
      .join(broadcast(model), Seq("src_b", "w"), "left")
      .join(broadcast(fallback), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("cw"),
        coalesce(col("lpq"), col("lp0q")).as("lp"))
    val na = counts.groupBy(col("source").as("src_a")).agg(sum("cw").as("na"))
    pairs.groupBy("src_a", "src_b")
      .agg(sum(col("cw") * col("lp")).as("sq"))
      .join(broadcast(na), Seq("src_a"))
      .select(col("src_a"), col("src_b"),
        round(-col("sq").cast(DoubleType) / 1e9 / col("na"), 6).as("cross_entropy_nats"))
      .orderBy("src_a", "src_b")
  }

  val textDomainCrossentropySql: String =
    """WITH toks AS MATERIALIZED (
      |  SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      |  FROM documents),
      |vocab AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM toks),
      |counts AS MATERIALIZED (
      |  SELECT source, w, CAST(count(*) AS BIGINT) AS cw FROM toks GROUP BY 1, 2),
      |totals AS (SELECT source, CAST(sum(cw) AS BIGINT) AS ct FROM counts GROUP BY 1),
      |model AS (
      |  SELECT counts.source AS src_b, w,
      |         CAST(floor(ln(CAST(cw + 1 AS DOUBLE) / (ct + v)) * 1e9) AS BIGINT) AS lpq
      |  FROM counts JOIN totals ON counts.source = totals.source CROSS JOIN vocab),
      |fallback AS (
      |  SELECT source AS src_b,
      |         CAST(floor(ln(1.0 / (ct + v)) * 1e9) AS BIGINT) AS lp0q
      |  FROM totals CROSS JOIN vocab),
      |pairs AS (
      |  SELECT a.source AS src_a, b.source AS src_b, a.w, a.cw,
      |         coalesce(model.lpq, fallback.lp0q) AS lp
      |  FROM counts a
      |  CROSS JOIN (SELECT source FROM totals) b
      |  LEFT JOIN model ON model.src_b = b.source AND model.w = a.w
      |  JOIN fallback ON fallback.src_b = b.source),
      |na AS (SELECT source AS src_a, CAST(sum(cw) AS BIGINT) AS na FROM counts GROUP BY 1)
      |SELECT src_a, src_b,
      |       round(-CAST(sum(cw * lp) AS DOUBLE) / 1e9 / max(na), 6) AS cross_entropy_nats
      |FROM pairs JOIN na USING (src_a)
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** sample-moving-block-bootstrap — the moving-block bootstrap
    * standard error of mean daily revenue: 50 deterministic resamples
    * each assemble 60 blocks of 30 consecutive days (block starts =
    * md5-uniform of (resample, slot) — hash-derived, the
    * coordination-free randomness convention), and the SE comes from
    * the spread of resample means. Plain (Poisson/iid) bootstrap
    * UNDERSTATES the SE of autocorrelated series — blocks preserve
    * the within-month dependence structure, which is the entire
    * point. Per-day values are exact cents; block sums are exact via
    * one range join of the 3000-row (resample, slot) frame against
    * the daily PREFIX-SUM frame (two lookups per block, not 30); the
    * resample means are exact integers and the SE needs only their
    * exact first two moments. */
  val sampleMovingBlockBootstrap: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("y"))
    val wd = Window.orderBy("dt")
    val pre = daily
      .withColumn("i", row_number().over(wd))
      .withColumn("cum", sum(expr("CAST(y AS DECIMAL(38,0))")).over(wd))
      .select(col("i"), col("cum"))
      .sharedCache()
    val nTot = pre.agg(max("i").as("n"))
    val slots = s.range(0, 50).select(col("id").as("rs"))
      .crossJoin(s.range(0, 60).select(col("id").as("slot")))
      .withColumn("u", expr(
        "((instr('0123456789abcdef', substring(md5(concat(CAST(rs AS STRING), '_', CAST(slot AS STRING))), 1, 1)) - 1) * 4096 + " +
          "(instr('0123456789abcdef', substring(md5(concat(CAST(rs AS STRING), '_', CAST(slot AS STRING))), 2, 1)) - 1) * 256 + " +
          "(instr('0123456789abcdef', substring(md5(concat(CAST(rs AS STRING), '_', CAST(slot AS STRING))), 3, 1)) - 1) * 16 + " +
          "(instr('0123456789abcdef', substring(md5(concat(CAST(rs AS STRING), '_', CAST(slot AS STRING))), 4, 1)) - 1))"))
      .crossJoin(broadcast(nTot))
      .select(col("rs"), col("slot"),
        (col("u") % (col("n") - 30) + 1).cast(IntegerType).as("start"))
    val blockSums = slots
      .join(broadcast(pre.select(col("i").as("iend"), col("cum").as("cend"))),
        col("iend") === col("start") + 29)
      .join(broadcast(pre.select(col("i").as("ibeg"), col("cum").as("cbeg"))),
        col("ibeg") === col("start") - 1, "left")
      .select(col("rs"), (col("cend") - coalesce(col("cbeg"), lit(0))).as("bsum"))
    val means = blockSums.groupBy("rs")
      .agg(sum("bsum").as("tot"))
      .select(expr("CAST(tot div 1800 AS DECIMAL(38,0))").as("rmean"))
    means.agg(count(lit(1)).as("nb"),
      sum("rmean").as("sm"), sum(expr("rmean * rmean")).as("smm"))
      .select(col("nb").cast(LongType).as("n_resamples"),
        round(col("sm").cast(DoubleType) / col("nb") / 100, 2).as("boot_mean_usd"),
        round(sqrt((col("smm").cast(DoubleType) -
          col("sm").cast(DoubleType) * col("sm").cast(DoubleType) / col("nb")) /
          (col("nb").cast(DoubleType) - 1)) / 100, 2).as("block_boot_se_usd"))
  }

  val sampleMovingBlockBootstrapSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |pre AS MATERIALIZED (
      |  SELECT row_number() OVER (ORDER BY dt) AS i,
      |         sum(CAST(y AS HUGEINT)) OVER (ORDER BY dt) AS cum
      |  FROM daily),
      |nn AS (SELECT max(i) AS n FROM pre),
      |slots AS (
      |  SELECT rs, slot,
      |         (((strpos('0123456789abcdef', substring(md5(CAST(rs AS VARCHAR) || '_' || CAST(slot AS VARCHAR)), 1, 1)) - 1) * 4096 +
      |           (strpos('0123456789abcdef', substring(md5(CAST(rs AS VARCHAR) || '_' || CAST(slot AS VARCHAR)), 2, 1)) - 1) * 256 +
      |           (strpos('0123456789abcdef', substring(md5(CAST(rs AS VARCHAR) || '_' || CAST(slot AS VARCHAR)), 3, 1)) - 1) * 16 +
      |           (strpos('0123456789abcdef', substring(md5(CAST(rs AS VARCHAR) || '_' || CAST(slot AS VARCHAR)), 4, 1)) - 1))
      |          % (n - 30)) + 1 AS start
      |  FROM (SELECT unnest(range(0, 50)) AS rs) a
      |  CROSS JOIN (SELECT unnest(range(0, 60)) AS slot) b
      |  CROSS JOIN nn),
      |block_sums AS (
      |  SELECT rs, pe.cum - coalesce(pb.cum, 0) AS bsum
      |  FROM slots
      |  JOIN pre pe ON pe.i = start + 29
      |  LEFT JOIN pre pb ON pb.i = start - 1),
      |means AS (
      |  SELECT CAST(sum(bsum) // 1800 AS HUGEINT) AS rmean
      |  FROM block_sums GROUP BY rs)
      |SELECT CAST(count(*) AS BIGINT) AS n_resamples,
      |       round(CAST(sum(rmean) AS DOUBLE) / count(*) / 100, 2) AS boot_mean_usd,
      |       round(sqrt((CAST(sum(rmean * rmean) AS DOUBLE) -
      |              CAST(sum(rmean) AS DOUBLE) * CAST(sum(rmean) AS DOUBLE) / count(*)) /
      |             (count(*) - 1)) / 100, 2) AS block_boot_se_usd
      |FROM means""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-logrank-test", aggLogrankTest, aggLogrankTestSql),
    Key("dedup-banding-optimizer", dedupBandingOptimizer, dedupBandingOptimizerSql),
    Key("text-domain-crossentropy", textDomainCrossentropy, textDomainCrossentropySql),
    Key("sample-moving-block-bootstrap", sampleMovingBlockBootstrap, sampleMovingBlockBootstrapSql))
}
