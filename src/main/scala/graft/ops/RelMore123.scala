package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch X: Breusch-Pagan heteroskedasticity test, embedding
  * hubness skew, fixed-effect meta-analysis, copy-on-write
  * amplification model. */
object RelMore123 extends KeyModule {

  /** dq-breusch-pagan — the Breusch-Pagan heteroskedasticity test on
    * the daily revenue-on-count OLS: regress the squared residuals on
    * the regressor and report LM = n·R² (χ²₁ under homoskedasticity;
    * 3.84 = 5% literal). Heteroskedastic residuals don't bias the
    * slope but they silently break every OLS standard error — this is
    * the third leg of the regression-diagnostics family (DW =
    * autocorrelation, Cook's D = influence, BP = variance). Residuals
    * come from the exact integer identity; their squares and the
    * auxiliary regression's five sums are exact DECIMAL(38,0)
    * arithmetic (e² ≤ 10¹⁴ at sf0.01); LM is the only double. One
    * rollup, no second data pass. */
  val dqBreuschPagan: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(count(lit(1)).as("x"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("y"))
    val sums = daily.select(
      expr("CAST(x AS DECIMAL(38,0))").as("xd"),
      expr("CAST(y AS DECIMAL(38,0))").as("yd"))
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum("xd").as("sx"), sum("yd").as("sy"),
        sum(expr("xd * xd")).as("sxx"), sum(expr("xd * yd")).as("sxy"))
      .select(col("n"), col("sx"), col("sy"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("den"))
    val resid = daily.crossJoin(broadcast(sums))
      .select(col("x"),
        floor((col("n") * col("den") * col("y") - col("den") * col("sy")
          - col("num") * col("n") * col("x") + col("num") * col("sx")).cast(DoubleType)
          / (col("n") * col("den") * lit(100)).cast(DoubleType))
          .cast(LongType).as("eq"))
      .select(col("x"), expr("CAST(eq AS DECIMAL(38,0)) * eq").as("e2"))
    val aux = resid.select(expr("CAST(x AS DECIMAL(38,0))").as("xd"), col("e2"))
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum("xd").as("sx"), sum("e2").as("sg"),
        sum(expr("xd * xd")).as("sxx"), sum(expr("xd * e2")).as("sxg"),
        sum(expr("e2 * e2")).as("sgg"))
    aux.select(col("n").cast(DoubleType).as("nd"),
      col("sx").cast(DoubleType).as("sx"), col("sg").cast(DoubleType).as("sg"),
      col("sxx").cast(DoubleType).as("sxx"), col("sxg").cast(DoubleType).as("sxg"),
      col("sgg").cast(DoubleType).as("sgg"))
      .withColumn("r2",
        ((col("nd") * col("sxg") - col("sx") * col("sg")) *
          (col("nd") * col("sxg") - col("sx") * col("sg"))) /
          ((col("nd") * col("sxx") - col("sx") * col("sx")) *
            (col("nd") * col("sgg") - col("sg") * col("sg"))))
      .select(col("nd").cast(LongType).as("n_days"),
        round(col("r2"), 6).as("aux_r2"),
        round(col("nd") * col("r2"), 4).as("lm_stat"),
        (col("nd") * col("r2") > 3.84).as("heteroskedastic"))
  }

  val dqBreuschPaganSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(count(*) AS BIGINT) AS x,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |sums AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |         CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
      |         CAST(count(*) AS HUGEINT) * sum(CAST(x AS HUGEINT) * y)
      |           - CAST(sum(x) AS HUGEINT) * sum(CAST(y AS HUGEINT)) AS num,
      |         CAST(count(*) AS HUGEINT) * sum(CAST(x AS HUGEINT) * x)
      |           - CAST(sum(x) AS HUGEINT) * sum(CAST(x AS HUGEINT)) AS den
      |  FROM daily),
      |resid AS (
      |  SELECT x,
      |         CAST(CAST(floor(CAST(n * den * y - den * sy - num * n * x + num * sx AS DOUBLE)
      |               / CAST(n * den * 100 AS DOUBLE)) AS HUGEINT) AS HUGEINT) AS eq
      |  FROM daily CROSS JOIN sums),
      |aux AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS nd,
      |         CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
      |         CAST(sum(eq * eq) AS DOUBLE) AS sg,
      |         CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
      |         CAST(sum(CAST(x AS HUGEINT) * (eq * eq)) AS DOUBLE) AS sxg,
      |         CAST(sum((eq * eq) * (eq * eq)) AS DOUBLE) AS sgg
      |  FROM resid)
      |SELECT CAST(nd AS BIGINT) AS n_days,
      |       round(((nd * sxg - sx * sg) * (nd * sxg - sx * sg)) /
      |             ((nd * sxx - sx * sx) * (nd * sgg - sg * sg)), 6) AS aux_r2,
      |       round(nd * ((nd * sxg - sx * sg) * (nd * sxg - sx * sg)) /
      |             ((nd * sxx - sx * sx) * (nd * sgg - sg * sg)), 4) AS lm_stat,
      |       nd * ((nd * sxg - sx * sg) * (nd * sxg - sx * sg)) /
      |             ((nd * sxx - sx * sx) * (nd * sgg - sg * sg)) > 3.84 AS heteroskedastic
      |FROM aux""".stripMargin

  /** emb-hubness-skew — the k-occurrence (hubness) diagnostic of the
    * embedding corpus: N₁₀(x) counts how many OTHER points list x in
    * their exact top-10 neighbor lists; its skewness is THE
    * high-dimensional retrieval pathology number (skew ≫ 0 means a
    * few hubs dominate everyone's results and recall measurements
    * lie), reported with the top hub and the share of all neighbor
    * slots it occupies. Neighbor lists come from the exact integer-
    * quantized distances (array-fold d², rank-by-(d², id) — the
    * |corpus|² bounded-fixture audit shape, stated; the ANN family
    * owns the scale path). N₁₀ counts are exact; the skewness is
    * closed-form from exact integer moments. */
  val embHubnessSkew: Q = (s, d) => {
    // r13: the top-10 edge table comes from the emb family's
    // per-process exact-kNN store (RelMore168.knnExactStored) instead
    // of a private round-lattice |corpus|² pass — the fourth consumer
    // of the one stored scoring pass (the oracle moved to the same
    // floor lattice; hub counts are lattice-robust but not identical,
    // so the oracle MUST mirror the lattice, and does). History kept
    // for the codegen lesson: the original HOF zip_with fold measured
    // 44.9 s → 4.6 s steady via the norm-expansion dot_product; the
    // store drops the remaining per-rep pair pass entirely.
    val v = embeddings(s, d).select(col("vec_id")).sharedCache()
    val top10 = RelMore168.knnExactStored(s, d).select(col("i"), col("j"))
    val nk = v.select(col("vec_id")).join(
      top10.groupBy("j").agg(count(lit(1)).as("n10")),
      col("vec_id") === col("j"), "left")
      .select(coalesce(col("n10"), lit(0L)).as("n10"), col("vec_id"))
      .sharedCache()
    val mom = nk.agg(count(lit(1)).as("n"), sum("n10").as("s1"),
      sum(expr("n10 * n10")).as("s2"),
      sum(expr("n10 * n10 * n10")).as("s3"))
    val hub = nk.orderBy(col("n10").desc, col("vec_id")).limit(1)
      .select(col("vec_id").as("top_hub"), col("n10").as("hub_n10"))
    mom.crossJoin(broadcast(hub))
      .select(col("n").cast(DoubleType).as("nd"), col("n"),
        col("s1").cast(DoubleType).as("s1"), col("s2").cast(DoubleType).as("s2"),
        col("s3").cast(DoubleType).as("s3"), col("top_hub"), col("hub_n10"))
      .withColumn("mean", col("s1") / col("nd"))
      .withColumn("var", col("s2") / col("nd") - col("mean") * col("mean"))
      .withColumn("m3", col("s3") / col("nd") - lit(3.0) * col("mean") * col("var") -
        col("mean") * col("mean") * col("mean"))
      .select(col("n").cast(LongType).as("n_vecs"),
        round(col("m3") / sqrt(col("var") * col("var") * col("var")), 4)
          .as("hubness_skew"),
        col("top_hub"), col("hub_n10"),
        ratioFloor(col("hub_n10"), col("s1").cast(LongType), 6).as("hub_slot_share"))
  }

  val embHubnessSkewSql: String =
    s"""WITH base AS (${RelMore168.latticeSql}),
      |based AS MATERIALIZED (${RelMore168.basedSql}),
      |p AS (${RelMore168.pairsSql}),
      |top10 AS MATERIALIZED (
      |  SELECT j FROM (
      |    SELECT j, row_number() OVER (PARTITION BY i ORDER BY d2, j) AS rn
      |    FROM p) t
      |  WHERE rn <= 10),
      |nk AS MATERIALIZED (
      |  SELECT b.vec_id, CAST(coalesce(cnt, 0) AS BIGINT) AS n10
      |  FROM based b LEFT JOIN (SELECT j, count(*) AS cnt FROM top10 GROUP BY 1) c
      |    ON b.vec_id = c.j),
      |mom AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(count(*) AS DOUBLE) AS nd,
      |         CAST(sum(n10) AS DOUBLE) AS s1, CAST(sum(n10) AS BIGINT) AS s1l,
      |         CAST(sum(n10 * n10) AS DOUBLE) AS s2,
      |         CAST(sum(n10 * n10 * n10) AS DOUBLE) AS s3
      |  FROM nk),
      |hub AS (
      |  SELECT vec_id AS top_hub, n10 AS hub_n10 FROM nk
      |  ORDER BY n10 DESC, vec_id LIMIT 1),
      |fit AS (
      |  SELECT n, nd, s1l, top_hub, hub_n10, mean, var,
      |         s3 / nd - 3.0 * mean * var - mean * mean * mean AS m3
      |  FROM (
      |    SELECT n, nd, s1l, s3, top_hub, hub_n10,
      |           s1 / nd AS mean, s2 / nd - (s1 / nd) * (s1 / nd) AS var
      |    FROM mom CROSS JOIN hub) t)
      |SELECT n AS n_vecs,
      |       round(m3 / sqrt(var * var * var), 4) AS hubness_skew,
      |       top_hub, hub_n10,
      |       floor(CAST(hub_n10 AS DOUBLE) * 1e6 / s1l) / 1e6 AS hub_slot_share
      |FROM fit""".stripMargin

  /** agg-meta-analysis-fixed — fixed-effect (inverse-variance) meta-
    * analysis pooling the 25 per-nation BUILDING-vs-rest mean-value
    * effects: per "study" the effect dᵢ and its variance vᵢ come from
    * exact within-nation moment sums, the pooled effect is Σwᵢdᵢ/Σwᵢ
    * (wᵢ = 1/vᵢ), and heterogeneity is Cochran's Q = Σwᵢ(dᵢ−d̄)² with
    * I² = (Q−df)/Q — the "do the segments behave the same EVERYWHERE
    * or is the average hiding dispersion" machinery (dq-fdr-bh asks
    * which nations differ; this asks whether a single pooled effect
    * is even a coherent summary). Per-study wᵢ, wᵢdᵢ, wᵢdᵢ² are
    * pico-quantized per row (the weight scale matters: 1/vᵢ of a
    * nation-level mean is ~10⁻⁷ per USD², so a 10⁶ quantizer floors
    * every weight to zero — found the hard way) from exact sums, so the three pooled
    * folds are exact integers; the pooled z, Q and I² are the only
    * doubles. One scan, 25-row aggregate. */
  val aggMetaAnalysisFixed: Q = (s, d) => {
    val v = orders(s, d).join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nk"),
        when(col("c_mktsegment") === "BUILDING", 1).otherwise(0).as("g"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("x"))
    val per = v.groupBy("nk")
      .agg(sum(when(col("g") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("g") === 1, col("x")).otherwise(0L)).as("sx1"),
        sum(when(col("g") === 1, expr("CAST(x AS DECIMAL(38,0)) * x")).otherwise(lit(0)))
          .as("sxx1"),
        sum(when(col("g") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("g") === 0, col("x")).otherwise(0L)).as("sx0"),
        sum(when(col("g") === 0, expr("CAST(x AS DECIMAL(38,0)) * x")).otherwise(lit(0)))
          .as("sxx0"))
      .filter(col("n1") > 1 && col("n0") > 1)
    val studies = per
      .withColumn("d_usd", (col("sx1").cast(DoubleType) / col("n1") -
        col("sx0").cast(DoubleType) / col("n0")) / 100)
      .withColumn("v_usd",
        (((col("sxx1").cast(DoubleType) - col("sx1").cast(DoubleType) *
          col("sx1").cast(DoubleType) / col("n1")) / (col("n1") - 1)) / col("n1") +
          ((col("sxx0").cast(DoubleType) - col("sx0").cast(DoubleType) *
            col("sx0").cast(DoubleType) / col("n0")) / (col("n0") - 1)) / col("n0")) / 10000)
      .select(col("nk"),
        floor(lit(1e12) / col("v_usd")).cast(LongType).as("wq"),
        floor(col("d_usd") / col("v_usd") * lit(1e12)).cast(LongType).as("wdq"),
        floor(col("d_usd") * col("d_usd") / col("v_usd") * lit(1e12)).cast(LongType).as("wddq"))
    studies.agg(count(lit(1)).as("k"),
      sum("wq").cast(DoubleType).as("sw"), sum("wdq").cast(DoubleType).as("swd"),
      sum("wddq").cast(DoubleType).as("swdd"))
      .select(col("k").cast(LongType).as("k_studies"),
        round(col("swd") / col("sw"), 4).as("pooled_effect_usd"),
        round(col("swd") / col("sw") /
          sqrt(lit(1e12) / col("sw")), 4).as("pooled_z"),
        round((col("swdd") - col("swd") * col("swd") / col("sw")) / 1e12, 3).as("cochran_q"),
        round(greatest(lit(0.0),
          ((col("swdd") - col("swd") * col("swd") / col("sw")) / 1e12 - (col("k") - 1)) /
            ((col("swdd") - col("swd") * col("swd") / col("sw")) / 1e12)), 4)
          .as("i_squared"))
  }

  val aggMetaAnalysisFixedSql: String =
    """WITH v AS (
      |  SELECT c_nationkey AS nk,
      |         CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |per AS (
      |  SELECT nk,
      |         CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |         CAST(sum(CASE WHEN g = 1 THEN x ELSE 0 END) AS BIGINT) AS sx1,
      |         CAST(sum(CASE WHEN g = 1 THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS HUGEINT) AS sxx1,
      |         CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |         CAST(sum(CASE WHEN g = 0 THEN x ELSE 0 END) AS BIGINT) AS sx0,
      |         CAST(sum(CASE WHEN g = 0 THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS HUGEINT) AS sxx0
      |  FROM v GROUP BY 1
      |  HAVING sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) > 1
      |     AND sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) > 1),
      |studies AS (
      |  SELECT nk,
      |         CAST(floor(1e12 / v_usd) AS BIGINT) AS wq,
      |         CAST(floor(d_usd / v_usd * 1e12) AS BIGINT) AS wdq,
      |         CAST(floor(d_usd * d_usd / v_usd * 1e12) AS BIGINT) AS wddq
      |  FROM (
      |    SELECT nk,
      |           (CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0) / 100 AS d_usd,
      |           (((CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / n1) /
      |             (n1 - 1)) / n1 +
      |            ((CAST(sxx0 AS DOUBLE) - CAST(sx0 AS DOUBLE) * CAST(sx0 AS DOUBLE) / n0) /
      |             (n0 - 1)) / n0) / 10000 AS v_usd
      |    FROM per) t)
      |SELECT CAST(count(*) AS BIGINT) AS k_studies,
      |       round(CAST(sum(wdq) AS DOUBLE) / CAST(sum(wq) AS DOUBLE), 4) AS pooled_effect_usd,
      |       round(CAST(sum(wdq) AS DOUBLE) / CAST(sum(wq) AS DOUBLE)
      |             / sqrt(1e12 / CAST(sum(wq) AS DOUBLE)), 4) AS pooled_z,
      |       round((CAST(sum(wddq) AS DOUBLE) -
      |              CAST(sum(wdq) AS DOUBLE) * CAST(sum(wdq) AS DOUBLE)
      |              / CAST(sum(wq) AS DOUBLE)) / 1e12, 3) AS cochran_q,
      |       round(greatest(0.0,
      |             ((CAST(sum(wddq) AS DOUBLE) -
      |               CAST(sum(wdq) AS DOUBLE) * CAST(sum(wdq) AS DOUBLE)
      |               / CAST(sum(wq) AS DOUBLE)) / 1e12 - (count(*) - 1)) /
      |             ((CAST(sum(wddq) AS DOUBLE) -
      |               CAST(sum(wdq) AS DOUBLE) * CAST(sum(wdq) AS DOUBLE)
      |               / CAST(sum(wq) AS DOUBLE)) / 1e12)), 4) AS i_squared
      |FROM studies""".stripMargin

  /** sink-cow-write-amplification — the copy-on-write vs merge-on-read
    * write-amplification model for a deterministic update batch
    * (orders with md5-byte ≡ 0 mod 50, ≈2%) against the 32-file
    * shipdate-sorted layout: CoW must REWRITE every file containing a
    * touched row (amplification = rewritten rows / updated rows);
    * MoR appends one delta row per update (amplification ≈ 1) and
    * defers the cost to reads (sink-mor-read's side of the trade).
    * This is the number that decides table format configuration for
    * update-heavy tables — computed from the same file-assignment
    * model the zone-map ops use, all counts exact. Updates cluster by
    * date in NO way (hash-selected), which is exactly why CoW
    * amplification approaches files×rows/file — the worst case the
    * model should show. */
  val sinkCowWriteAmplification: Q = (s, d) => {
    val o = orders(s, d).select(col("o_orderkey"), to_date(col("o_orderdate")).as("dt"))
    // file assignment = ntile(32) over the sort order, via the PrefixScan
    // two-pass rank (range exchange + bucket arithmetic), not a
    // no-partition WindowExec that would sort all of orders in one task
    val sc = graft.functions.PrefixScan.withRankCumSum(o,
      Seq(col("dt"), col("o_orderkey")), None, rankName = "rn")
    val assigned = sc.df
      .withColumn("f", graft.functions.PrefixScan.ntileFromRank(32, sc.n, col("rn")))
      .withColumn("upd", expr(
        "CASE WHEN ((instr('0123456789abcdef', substring(md5(CAST(o_orderkey AS STRING)), 1, 1)) - 1) * 16 + " +
          "(instr('0123456789abcdef', substring(md5(CAST(o_orderkey AS STRING)), 2, 1)) - 1)) % 50 = 0 " +
          "THEN 1 ELSE 0 END"))
      .sharedCache()
    val perFile = assigned.groupBy("f")
      .agg(count(lit(1)).as("rows"), sum("upd").as("touched"))
    perFile.agg(count(lit(1)).as("n_files"),
      sum("rows").as("n_rows"), sum("touched").as("n_updates"),
      sum(when(col("touched") > 0, col("rows")).otherwise(0L)).as("cow_rewritten"),
      sum(when(col("touched") > 0, 1L).otherwise(0L)).as("files_touched"))
      .select(col("n_files"), col("n_rows"), col("n_updates"), col("files_touched"),
        col("cow_rewritten"),
        ratioFloor(col("cow_rewritten"), col("n_updates"), 2).as("cow_amplification"),
        ratioFloor(col("n_updates"), col("n_updates"), 2).as("mor_amplification"))
  }

  val sinkCowWriteAmplificationSql: String =
    """WITH assigned AS (
      |  SELECT ntile(32) OVER (ORDER BY CAST(date_trunc('day', o_orderdate) AS DATE),
      |                         o_orderkey) AS f,
      |         CASE WHEN ((strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) * 16 +
      |                    (strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 2, 1)) - 1)) % 50 = 0
      |              THEN 1 ELSE 0 END AS upd
      |  FROM orders),
      |per_file AS (
      |  SELECT f, CAST(count(*) AS BIGINT) AS nrows, CAST(sum(upd) AS BIGINT) AS touched
      |  FROM assigned GROUP BY 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_files,
      |       CAST(sum(nrows) AS BIGINT) AS n_rows,
      |       CAST(sum(touched) AS BIGINT) AS n_updates,
      |       CAST(sum(CASE WHEN touched > 0 THEN 1 ELSE 0 END) AS BIGINT) AS files_touched,
      |       CAST(sum(CASE WHEN touched > 0 THEN nrows ELSE 0 END) AS BIGINT) AS cow_rewritten,
      |       floor(CAST(sum(CASE WHEN touched > 0 THEN nrows ELSE 0 END) AS DOUBLE) * 1e2
      |             / sum(touched)) / 1e2 AS cow_amplification,
      |       floor(CAST(sum(touched) AS DOUBLE) * 1e2 / sum(touched)) / 1e2 AS mor_amplification
      |FROM per_file""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("dq-breusch-pagan", dqBreuschPagan, dqBreuschPaganSql),
    Key("emb-hubness-skew", embHubnessSkew, embHubnessSkewSql),
    Key("agg-meta-analysis-fixed", aggMetaAnalysisFixed, aggMetaAnalysisFixedSql),
    Key("sink-cow-write-amplification", sinkCowWriteAmplification, sinkCowWriteAmplificationSql))
}
