package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch AT: Bornhuetter-Ferguson reserves, lead-time SLA
  * percentiles, edit-distance function suite, quantization SNR. */
object RelMore145 extends KeyModule {

  /** agg-bornhuetter-ferguson — the BF reserve estimate per origin
    * quarter, on agg-chain-ladder's exact triangle (same origins,
    * same 30/60/90-day development buckets, same maturity gates):
    * ultimate_BF = paid + prior·(1 − 1/CDF), where the CDF chains
    * the chain-ladder factors and the prior is the mean ultimate of
    * COMPLETE origins. Chain-ladder multiplies reported-to-date — an
    * immature origin's noise is amplified by the full CDF; BF blends
    * toward the prior exactly in proportion to how much development
    * is still unreported, which is why reserving shops quote both
    * and watch the spread (reported here as bf_minus_cl). Factors
    * and priors are exact integer ratios; per-origin CASE picks the
    * maturity stage; everything joins broadcast-small. */
  val aggBornhuetterFerguson: Q = (s, d) => {
    val horizon = lineitem(s, d).agg(max(to_date(col("l_shipdate"))).as("hz"))
    val lagged = lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select((year(col("o_orderdate")) * 10 + quarter(col("o_orderdate"))).as("origin"),
        to_date(col("o_orderdate")).as("odt"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))).as("lagd"))
    val cells = lagged.groupBy("origin")
      .agg(max("odt").as("maxodt"),
        sum(when(col("lagd") <= 30, 1L).otherwise(0L)).as("c0"),
        sum(when(col("lagd") <= 60, 1L).otherwise(0L)).as("c1"),
        sum(when(col("lagd") <= 90, 1L).otherwise(0L)).as("c2"),
        count(lit(1)).as("c3"))
      .crossJoin(broadcast(horizon))
      .withColumn("mat", datediff(col("hz"), col("maxodt")))
      .sharedCache()
    val f01 = cells.filter(col("mat") >= 60)
      .agg((sum("c1").cast(DoubleType) / sum("c0").cast(DoubleType)).as("f0"))
    val f12 = cells.filter(col("mat") >= 90)
      .agg((sum("c2").cast(DoubleType) / sum("c1").cast(DoubleType)).as("f1"))
    val f23 = cells.filter(col("mat") >= 121)
      .agg((sum("c3").cast(DoubleType) / sum("c2").cast(DoubleType)).as("f2"))
    val prior = cells.filter(col("mat") >= 121)
      .agg((sum("c3").cast(DoubleType) / count(lit(1)).cast(DoubleType)).as("prior_ult"))
    cells.crossJoin(broadcast(f01)).crossJoin(broadcast(f12))
      .crossJoin(broadcast(f23)).crossJoin(broadcast(prior))
      .select(col("origin"),
        when(col("mat") >= 121, lit("complete")).when(col("mat") >= 90, lit("through_90"))
          .when(col("mat") >= 60, lit("through_60")).otherwise(lit("through_30"))
          .as("maturity"),
        when(col("mat") >= 121, col("c3")).when(col("mat") >= 90, col("c2"))
          .when(col("mat") >= 60, col("c1")).otherwise(col("c0")).as("paid"),
        when(col("mat") >= 121, lit(1.0)).when(col("mat") >= 90, col("f2"))
          .when(col("mat") >= 60, col("f1") * col("f2"))
          .otherwise(col("f0") * col("f1") * col("f2")).as("cdf"),
        col("prior_ult"))
      .select(col("origin"), col("maturity"), col("paid"),
        round(col("paid") * col("cdf"), 2).as("cl_ultimate"),
        round(col("paid") + col("prior_ult") * (lit(1.0) - lit(1.0) / col("cdf")), 2)
          .as("bf_ultimate"))
      .withColumn("bf_minus_cl", round(col("bf_ultimate") - col("cl_ultimate"), 2))
      .orderBy("origin")
  }

  val aggBornhuetterFergusonSql: String =
    """WITH horizon AS (
      |  SELECT max(CAST(date_trunc('day', l_shipdate) AS DATE)) AS hz FROM lineitem),
      |lagged AS (
      |  SELECT year(o_orderdate) * 10 + quarter(o_orderdate) AS origin,
      |         CAST(date_trunc('day', o_orderdate) AS DATE) AS odt,
      |         CAST(date_trunc('day', l_shipdate) AS DATE) -
      |           CAST(date_trunc('day', o_orderdate) AS DATE) AS lagd
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |cells AS MATERIALIZED (
      |  SELECT origin, max(odt) AS maxodt,
      |         CAST(sum(CASE WHEN lagd <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
      |         CAST(sum(CASE WHEN lagd <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |         CAST(sum(CASE WHEN lagd <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
      |         CAST(count(*) AS BIGINT) AS c3,
      |         (SELECT hz FROM horizon) - max(odt) AS mat
      |  FROM lagged GROUP BY 1),
      |f01 AS (SELECT CAST(sum(c1) AS DOUBLE) / CAST(sum(c0) AS DOUBLE) AS f0
      |        FROM cells WHERE mat >= 60),
      |f12 AS (SELECT CAST(sum(c2) AS DOUBLE) / CAST(sum(c1) AS DOUBLE) AS f1
      |        FROM cells WHERE mat >= 90),
      |f23 AS (SELECT CAST(sum(c3) AS DOUBLE) / CAST(sum(c2) AS DOUBLE) AS f2
      |        FROM cells WHERE mat >= 121),
      |prior AS (SELECT CAST(sum(c3) AS DOUBLE) / count(*) AS prior_ult
      |          FROM cells WHERE mat >= 121),
      |staged AS (
      |  SELECT origin,
      |         CASE WHEN mat >= 121 THEN 'complete' WHEN mat >= 90 THEN 'through_90'
      |              WHEN mat >= 60 THEN 'through_60' ELSE 'through_30' END AS maturity,
      |         CASE WHEN mat >= 121 THEN c3 WHEN mat >= 90 THEN c2
      |              WHEN mat >= 60 THEN c1 ELSE c0 END AS paid,
      |         CASE WHEN mat >= 121 THEN 1.0 WHEN mat >= 90 THEN f2
      |              WHEN mat >= 60 THEN f1 * f2 ELSE f0 * f1 * f2 END AS cdf,
      |         prior_ult
      |  FROM cells CROSS JOIN f01 CROSS JOIN f12 CROSS JOIN f23 CROSS JOIN prior)
      |SELECT origin, maturity, paid,
      |       round(paid * cdf, 2) AS cl_ultimate,
      |       round(paid + prior_ult * (1.0 - 1.0 / cdf), 2) AS bf_ultimate,
      |       round(round(paid + prior_ult * (1.0 - 1.0 / cdf), 2) -
      |             round(paid * cdf, 2), 2) AS bf_minus_cl
      |FROM staged ORDER BY origin""".stripMargin

  /** agg-lead-time-sla — order-to-ship lead time per priority: exact
    * p50/p90/p95 order statistics (value at ⌈p·n⌉ — discrete
    * percentile, no interpolation convention to disagree on) and the
    * 60-day SLA attainment share. This is THE ops-review table — and
    * the reason it must be exact order statistics rather than
    * approx_percentile is the contract: an SLA argument at the p95
    * boundary can't hinge on sketch error (agg-approx-quantile owns
    * the sketch path and its tolerance). One join, one per-priority
    * sort window, integer day arithmetic throughout. */
  val aggLeadTimeSla: Q = (s, d) => {
    val lead = lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("prio"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))).as("days"),
        col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
    val ranked = lead
      .withColumn("rn", row_number().over(Window.partitionBy("prio")
        .orderBy(col("days"), col("ok"), col("ln"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("prio")))
      .sharedCache()
    val pcts = ranked
      .filter(expr("rn = (n + 1) div 2") ||
        expr("rn = (n * 90 + 99) div 100") ||
        expr("rn = (n * 95 + 99) div 100"))
      .groupBy("prio")
      .agg(max(when(expr("rn = (n + 1) div 2"), col("days"))).as("p50_days"),
        max(when(expr("rn = (n * 90 + 99) div 100"), col("days"))).as("p90_days"),
        max(when(expr("rn = (n * 95 + 99) div 100"), col("days"))).as("p95_days"))
    val sla = ranked.groupBy("prio")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("days") <= 60, 1L).otherwise(0L)).as("within"))
    sla.join(broadcast(pcts), Seq("prio"))
      .select(col("prio"), col("n_lines"), col("p50_days"), col("p90_days"),
        col("p95_days"),
        ratioFloor(col("within").cast(DoubleType), col("n_lines"), 6)
          .as("sla60_attainment"))
      .orderBy("prio")
  }

  val aggLeadTimeSlaSql: String =
    """WITH lead AS (
      |  SELECT o_orderpriority AS prio,
      |         CAST(date_trunc('day', l_shipdate) AS DATE) -
      |           CAST(date_trunc('day', o_orderdate) AS DATE) AS days,
      |         l_orderkey AS ok, l_linenumber AS ln
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |ranked AS MATERIALIZED (
      |  SELECT prio, days,
      |         row_number() OVER (PARTITION BY prio ORDER BY days, ok, ln) AS rn,
      |         count(*) OVER (PARTITION BY prio) AS n
      |  FROM lead),
      |pcts AS (
      |  SELECT prio,
      |         max(CASE WHEN rn = (n + 1) // 2 THEN days END) AS p50_days,
      |         max(CASE WHEN rn = (n * 90 + 99) // 100 THEN days END) AS p90_days,
      |         max(CASE WHEN rn = (n * 95 + 99) // 100 THEN days END) AS p95_days
      |  FROM ranked
      |  WHERE rn = (n + 1) // 2 OR rn = (n * 90 + 99) // 100 OR rn = (n * 95 + 99) // 100
      |  GROUP BY 1),
      |sla AS (
      |  SELECT prio, CAST(count(*) AS BIGINT) AS n_lines,
      |         CAST(sum(CASE WHEN days <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS within
      |  FROM ranked GROUP BY 1)
      |SELECT prio, n_lines, p50_days, p90_days, p95_days,
      |       floor(CAST(within AS DOUBLE) * 1e6 / n_lines) / 1e6 AS sla60_attainment
      |FROM sla JOIN pcts USING (prio)
      |ORDER BY prio""".stripMargin

  /** func-editdist-suite — the string-distance function surface on
    * real column data: Levenshtein distance between consecutive part
    * names (both engines ship a builtin — the suite PROVES their
    * semantics agree on this corpus, the same contract-test shape as
    * func-string-suite), with the length-normalized ratio and an
    * exact containment flag. Distances feed dedup-edit-distance and
    * dq-linkage-weights; this pins the primitive itself. Bounded: 20
    * consecutive-key pairs (stated), each one codegen'd builtin
    * call. */
  val funcEditdistSuite: Q = (s, d) => {
    val p = part(s, d).filter(col("p_partkey") < 40)
      .select(col("p_partkey").as("k"), col("p_name").as("name"))
    val pairs = p.filter(col("k") % 2 === 0)
      .select((col("k") / 2).cast(LongType).as("pair_id"), col("name").as("s1"))
      .join(p.filter(col("k") % 2 === 1)
        .select(((col("k") - 1) / 2).cast(LongType).as("pair_id"), col("name").as("s2")),
        Seq("pair_id"))
    pairs.select(col("pair_id"), col("s1"), col("s2"),
        levenshtein(col("s1"), col("s2")).as("edit_distance"),
        ratioFloor(levenshtein(col("s1"), col("s2")).cast(DoubleType),
          greatest(length(col("s1")), length(col("s2"))), 4).as("normalized"),
        (col("s1").contains(col("s2")) || col("s2").contains(col("s1")))
          .as("containment"))
      .orderBy("pair_id")
  }

  val funcEditdistSuiteSql: String =
    """WITH p AS (SELECT p_partkey AS k, p_name AS name FROM part WHERE p_partkey < 40),
      |pairs AS (
      |  SELECT a.k // 2 AS pair_id, a.name AS s1, b.name AS s2
      |  FROM (SELECT * FROM p WHERE k % 2 = 0) a
      |  JOIN (SELECT * FROM p WHERE k % 2 = 1) b ON (b.k - 1) // 2 = a.k // 2)
      |SELECT pair_id, s1, s2,
      |       CAST(levenshtein(s1, s2) AS INTEGER) AS edit_distance,
      |       floor(CAST(levenshtein(s1, s2) AS DOUBLE) * 1e4 /
      |             greatest(length(s1), length(s2))) / 1e4 AS normalized,
      |       (contains(s1, s2) OR contains(s2, s1)) AS containment
      |FROM pairs ORDER BY pair_id""".stripMargin

  /** emb-quantization-snr-curve — the rate-distortion curve of scalar
    * quantization on the embedding corpus: for b ∈ {2,4,6,8} bits,
    * mid-rise quantization against the corpus min/max, reporting MSE
    * and SNR = 10·log₁₀(Σ(x−x̄)²/Σe²). The ~6 dB/bit slope is the
    * theoretical contract; WHERE the curve flattens is the right bit
    * width for this corpus — the decision emb-quantize (one config)
    * and the PQ family (subspace codes) take as input. Quantization
    * codes are exact integer arithmetic off the global integer
    * min/max; per-element squared errors are floored to
    * integers (on the 10⁻¹²·x² grid) before the exact decimal fold, signal moments are exact; one
    * posexplode pass × 4 widths via explode. */
  val embQuantizationSnrCurve: Q = (s, d) => {
    val comps = embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(floor(col("x").cast(DoubleType) * lit(1e6)).cast(LongType).as("xq"))
      .sharedCache()
    val rng = comps.agg(min("xq").as("mn"), max("xq").as("mx"),
      count(lit(1)).cast(DecimalType(38, 0)).as("n"),
      sum(expr("CAST(xq AS DECIMAL(38,0))")).as("sx"),
      sum(expr("CAST(xq AS DECIMAL(38,0)) * xq")).as("sxx"))
    val errs = comps.crossJoin(broadcast(rng))
      .select(col("xq"), col("mn"), col("mx"),
        explode(expr("array(2, 4, 6, 8)")).as("bits"))
      .withColumn("levels", pow(lit(2.0), col("bits")).cast(LongType))
      .withColumn("code", least(col("levels") - 1,
        expr("CAST(((xq - mn) * levels) div (mx - mn + 1) AS BIGINT)")))
      // mid-rise reconstruction: mn + (code + ½)·range/levels, err in
      // the same 1e6-scaled integer domain; e² floored at 1e6 scale
      .withColumn("xhat", col("mn").cast(DoubleType) +
        (col("code").cast(DoubleType) + lit(0.5)) *
          (col("mx") - col("mn") + 1).cast(DoubleType) / col("levels").cast(DoubleType))
      .select(col("bits"),
        floor((col("xq") - col("xhat")) * (col("xq") - col("xhat")))
          .cast(LongType).as("e2q"))
    val perBits = errs.groupBy("bits")
      .agg(count(lit(1)).as("n_comps"),
        sum(expr("CAST(e2q AS DECIMAL(38,0))")).as("se2"))
    perBits.crossJoin(broadcast(rng))
      .select(col("bits"),
        // MSE on the original float scale: e2 is (1e6·x)² ⇒ /1e12,/1e6 floor-scale
        round(col("se2").cast(DoubleType) / col("n_comps") / lit(1e12), 9)
          .as("mse"),
        round(lit(10.0) * log10(
          ((col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType) /
            col("n").cast(DoubleType)) /
            col("se2").cast(DoubleType)), 4).as("snr_db"))
      .orderBy("bits")
  }

  val embQuantizationSnrCurveSql: String =
    """WITH comps AS MATERIALIZED (
      |  SELECT CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT) AS xq
      |  FROM (SELECT unnest(embedding) AS x FROM embeddings) t),
      |rng AS (
      |  SELECT min(xq) AS mn, max(xq) AS mx, CAST(count(*) AS HUGEINT) AS n,
      |         CAST(sum(xq) AS HUGEINT) AS sx,
      |         CAST(sum(CAST(xq AS HUGEINT) * xq) AS HUGEINT) AS sxx
      |  FROM comps),
      |errs AS (
      |  SELECT bits,
      |         CAST(floor((xq - xhat) * (xq - xhat)) AS BIGINT) AS e2q
      |  FROM (
      |    SELECT xq, bits,
      |           CAST(mn AS DOUBLE) +
      |             (CAST(least(CAST(pow(2, bits) AS BIGINT) - 1,
      |                         ((xq - mn) * CAST(pow(2, bits) AS BIGINT)) //
      |                           (mx - mn + 1)) AS DOUBLE) + 0.5) *
      |             CAST(mx - mn + 1 AS DOUBLE) / CAST(pow(2, bits) AS DOUBLE) AS xhat
      |    FROM comps CROSS JOIN rng
      |    CROSS JOIN (SELECT unnest([2, 4, 6, 8]) AS bits) b) t),
      |per_bits AS (
      |  SELECT bits, CAST(count(*) AS BIGINT) AS n_comps,
      |         CAST(sum(e2q) AS HUGEINT) AS se2
      |  FROM errs GROUP BY 1)
      |SELECT bits,
      |       round(CAST(se2 AS DOUBLE) / n_comps / 1e12, 9) AS mse,
      |       round(10.0 * log10((CAST(n * sxx - sx * sx AS DOUBLE) / CAST(n AS DOUBLE)) /
      |             CAST(se2 AS DOUBLE)), 4) AS snr_db
      |FROM per_bits CROSS JOIN rng
      |ORDER BY bits""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-bornhuetter-ferguson", aggBornhuetterFerguson, aggBornhuetterFergusonSql),
    Key("agg-lead-time-sla", aggLeadTimeSla, aggLeadTimeSlaSql),
    Key("func-editdist-suite", funcEditdistSuite, funcEditdistSuiteSql),
    Key("emb-quantization-snr-curve", embQuantizationSnrCurve, embQuantizationSnrCurveSql))
}
