package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch AV: Unicode script profile, split-conformal
  * intervals, chained Törnqvist index, disguised-missing sentinels. */
object RelMore147 extends KeyModule {

  /** text-script-profile — Unicode script composition per language
    * label: Latin, CJK, digit, whitespace and other shares of the
    * raw character stream, plus the count of MIXED-script documents
    * (≥ 5 Latin AND ≥ 5 CJK letters — the homoglyph/spoofing and
    * mislabeled-language shape). text-langid classifies; this op
    * PROFILES the evidence the classifier sees, and its per-lang
    * rows are the audit that catches a "zh" shard that is actually
    * 40% Latin boilerplate (real here — measured, not assumed).
    * Counting is pure regexp_replace+length arithmetic (codegen, no
    * UDF); shares are exact integer ratios. One pass, one shuffle
    * on lang. */
  val textScriptProfile: Q = (s, d) => {
    val prof = documents(s, d).select(col("lang"),
      length(col("text")).as("total"),
      length(regexp_replace(col("text"), "[^a-zA-Z]", "")).as("latin"),
      length(regexp_replace(col("text"), "[^一-鿿]", "")).as("cjk"),
      length(regexp_replace(col("text"), "[^0-9]", "")).as("digit"),
      length(regexp_replace(col("text"), "[^ \t\n]", "")).as("ws"))
    prof.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("total").as("chars"),
        sum("latin").as("sl"), sum("cjk").as("sc"), sum("digit").as("sd"),
        sum("ws").as("sw"),
        sum(when(col("latin") >= 5 && col("cjk") >= 5, 1L).otherwise(0L))
          .as("mixed_script_docs"))
      .select(col("lang"), col("n_docs"), col("chars"),
        ratioFloor(col("sl").cast(DoubleType), col("chars"), 6).as("latin_share"),
        ratioFloor(col("sc").cast(DoubleType), col("chars"), 6).as("cjk_share"),
        ratioFloor(col("sd").cast(DoubleType), col("chars"), 6).as("digit_share"),
        ratioFloor(col("sw").cast(DoubleType), col("chars"), 6).as("ws_share"),
        col("mixed_script_docs"))
      .orderBy("lang")
  }

  val textScriptProfileSql: String =
    """WITH prof AS (
      |  SELECT lang, length(text) AS total,
      |         length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS latin,
      |         length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS cjk,
      |         length(regexp_replace(text, '[^0-9]', '', 'g')) AS digit,
      |         length(regexp_replace(text, '[^ \t\n]', '', 'g')) AS ws
      |  FROM documents)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(total) AS BIGINT) AS chars,
      |       floor(CAST(sum(latin) AS DOUBLE) * 1e6 / sum(total)) / 1e6 AS latin_share,
      |       floor(CAST(sum(cjk) AS DOUBLE) * 1e6 / sum(total)) / 1e6 AS cjk_share,
      |       floor(CAST(sum(digit) AS DOUBLE) * 1e6 / sum(total)) / 1e6 AS digit_share,
      |       floor(CAST(sum(ws) AS DOUBLE) * 1e6 / sum(total)) / 1e6 AS ws_share,
      |       CAST(sum(CASE WHEN latin >= 5 AND cjk >= 5 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS mixed_script_docs
      |FROM prof GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** agg-conformal-interval — split-conformal prediction interval for
    * line revenue given quantity, at 90% nominal: fit OLS on the
    * even-orderkey half, take q̂ = the ⌈(n+1)·0.9⌉-th order statistic
    * of calibration |residuals|, and report the EMPIRICAL coverage on
    * the odd half. The distribution-free UQ primitive — unlike the
    * Gaussian ±1.96σ band (agg-regression's implicit promise),
    * conformal coverage holds under ANY error distribution, and the
    * empirical-coverage column is the finite-sample proof. The OLS
    * fit is the exact-moment closed form; residuals are quantized to
    * exact cents via the integer identity (n·den·y − ... cleared
    * denominators); the order statistic is a row_number against an
    * integer position. Two passes + one sort window on the
    * calibration half. */
  val aggConformalInterval: Q = (s, d) => {
    // r14 opt: repartition after the single-row-group read (guide §2.5)
    // so the decimal moment sums and the residual pass parallelize
    // instead of running inside the one scan task; decimal sums are
    // exact and order-free, outputs unchanged
    val base = lineitem(s, d)
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
      .select(col("l_orderkey").as("ok"),
        expr("CAST(l_quantity AS DECIMAL(38,0))").as("x"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))").as("y"))
      .withColumn("cal", pmod(col("ok"), lit(2)) === 0)
      .sharedCache()
    val fit = base.filter(col("cal"))
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * x")).as("sxx"), sum(expr("x * y")).as("sxy"))
      .select(col("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType)).as("beta"),
        ((col("sy").cast(DoubleType) -
          (col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType) *
            col("sx").cast(DoubleType)) / col("n").cast(DoubleType)).as("alpha"))
    val resid = base.crossJoin(broadcast(fit))
      .withColumn("absr", floor(abs(col("y").cast(DoubleType) -
        (col("alpha") + col("beta") * col("x").cast(DoubleType)))).cast(LongType))
    val calR = resid.filter(col("cal"))
      .withColumn("rn", row_number().over(Window.orderBy(col("absr"), col("ok"))))
      .withColumn("nc", count(lit(1)).over(Window.partitionBy()))
    val qhat = calR.filter(expr("rn = CAST(ceil((nc + 1) * 0.9) AS BIGINT)"))
      .select(col("absr").as("qhat"), col("nc"))
    val test = resid.filter(!col("cal")).crossJoin(broadcast(qhat))
      .agg(max("nc").as("n_cal"), count(lit(1)).as("n_test"),
        max("qhat").as("qh"),
        sum(when(col("absr") <= col("qhat"), 1L).otherwise(0L)).as("covered"))
    test.select(col("n_cal"), col("n_test"),
        round(col("qh").cast(DoubleType) / 100, 2).as("qhat_usd"),
        lit(0.9).as("nominal_coverage"),
        ratioFloor(col("covered").cast(DoubleType), col("n_test"), 6)
          .as("empirical_coverage"))
  }

  val aggConformalIntervalSql: String =
    """WITH base AS MATERIALIZED (
      |  SELECT l_orderkey AS ok, CAST(l_quantity AS HUGEINT) AS x,
      |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT) AS y,
      |         l_orderkey % 2 = 0 AS cal
      |  FROM lineitem),
      |fit AS (
      |  SELECT CAST(n0 AS BIGINT) AS n, beta,
      |         (sy - beta * sx) / n0 AS alpha
      |  FROM (
      |    SELECT CAST(count(*) AS DOUBLE) AS n0,
      |           CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
      |           CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS DOUBLE) /
      |             CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS DOUBLE) AS beta
      |    FROM base WHERE cal) t),
      |resid AS MATERIALIZED (
      |  SELECT ok, cal,
      |         CAST(floor(abs(CAST(y AS DOUBLE) - (alpha + beta * CAST(x AS DOUBLE))))
      |              AS BIGINT) AS absr
      |  FROM base CROSS JOIN fit),
      |cal_r AS (
      |  SELECT absr, row_number() OVER (ORDER BY absr, ok) AS rn,
      |         count(*) OVER () AS nc
      |  FROM resid WHERE cal),
      |qhat AS (
      |  SELECT absr AS qhat, nc FROM cal_r
      |  WHERE rn = CAST(ceil((nc + 1) * 0.9) AS BIGINT))
      |SELECT nc AS n_cal, CAST(count(*) AS BIGINT) AS n_test,
      |       round(CAST(qhat AS DOUBLE) / 100, 2) AS qhat_usd,
      |       0.9 AS nominal_coverage,
      |       floor(CAST(sum(CASE WHEN absr <= qhat THEN 1 ELSE 0 END) AS DOUBLE) * 1e6 /
      |             count(*)) / 1e6 AS empirical_coverage
      |FROM resid CROSS JOIN qhat
      |WHERE NOT cal
      |GROUP BY nc, qhat""".stripMargin

  /** agg-tornqvist-index — the chained Törnqvist price index over
    * brands by month: ln(I_t/I_{t−1}) = Σ_b w̄_b·Δln p_b with w̄ the
    * average revenue share across the two periods. The geometric
    * superlative twin of agg-price-index-fisher — Törnqvist is
    * exactly the Divisia discretization, the production-function
    * index (and what CPI-style chains actually publish); running
    * both and watching them agree is the standard index-number
    * sanity check. Unit prices are exact rationals quantized once
    * through ln (nano-floor); shares clear denominators to integer
    * weights ×1e6; the chain is a prefix-sum window over months.
    * Two shuffles (brand-month agg, month fold). */
  val aggTornqvistIndex: Q = (s, d) => {
    val bm = lineitem(s, d)
      .join(part(s, d).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy((year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).as("mth"),
        col("p_brand").as("brand"))
      .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
        .as("rev"),
        sum(expr("CAST(l_quantity AS DECIMAL(38,0))")).as("qty"))
      .select(col("mth"), col("brand"), col("rev"),
        floor(log(col("rev").cast(DoubleType) / col("qty").cast(DoubleType)) * lit(1e9))
          .cast(LongType).as("lpq"))
    val mtot = bm.groupBy("mth").agg(sum("rev").as("mrev"))
    val shares = bm.join(mtot, Seq("mth"))
      .select(col("mth"), col("brand"), col("lpq"),
        expr("CAST((rev * 1000000 - pmod(rev * 1000000, mrev)) / mrev AS BIGINT)")
          .as("wq"))
    val wb = Window.partitionBy("brand").orderBy("mth")
    val paired = shares
      .withColumn("lpq_prev", lag("lpq", 1).over(wb))
      .withColumn("wq_prev", lag("wq", 1).over(wb))
      .withColumn("mth_prev", lag("mth", 1).over(wb))
      .filter(col("lpq_prev").isNotNull)
      // only chain ADJACENT months (brand present in both)
      .filter(expr("mth - mth_prev = 1 OR (mth % 100 = 1 AND mth - mth_prev = 89)"))
      .select(col("mth"),
        (((col("wq") + col("wq_prev")) / 2).cast(LongType) *
          (col("lpq") - col("lpq_prev"))).as("term"))
    val steps = paired.groupBy("mth")
      .agg(sum(expr("CAST(term AS DECIMAL(38,0))")).as("dln_q"))
    steps
      .withColumn("cum", sum("dln_q").over(Window.orderBy("mth")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("mth").as("month"),
        round(exp(col("dln_q").cast(DoubleType) / lit(1e15)), 6).as("monthly_ratio"),
        round(exp(col("cum").cast(DoubleType) / lit(1e15)) * 100, 4).as("index_level"))
      .orderBy("month")
  }

  val aggTornqvistIndexSql: String =
    """WITH bm AS (
      |  SELECT mth, brand, rev,
      |         CAST(floor(ln(CAST(rev AS DOUBLE) / CAST(qty AS DOUBLE)) * 1e9) AS BIGINT)
      |           AS lpq
      |  FROM (
      |    SELECT year(l_shipdate) * 100 + month(l_shipdate) AS mth, p_brand AS brand,
      |           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |                AS HUGEINT) AS rev,
      |           CAST(sum(CAST(l_quantity AS HUGEINT)) AS HUGEINT) AS qty
      |    FROM lineitem JOIN part ON l_partkey = p_partkey
      |    GROUP BY 1, 2) t),
      |mtot AS (SELECT mth, CAST(sum(rev) AS HUGEINT) AS mrev FROM bm GROUP BY 1),
      |shares AS (
      |  SELECT bm.mth, brand, lpq,
      |         CAST((rev * 1000000) // mrev AS BIGINT) AS wq
      |  FROM bm JOIN mtot ON bm.mth = mtot.mth),
      |paired AS (
      |  SELECT mth,
      |         ((wq + wq_prev) // 2) * (lpq - lpq_prev) AS term
      |  FROM (
      |    SELECT mth, lpq, wq,
      |           lag(lpq) OVER (PARTITION BY brand ORDER BY mth) AS lpq_prev,
      |           lag(wq) OVER (PARTITION BY brand ORDER BY mth) AS wq_prev,
      |           lag(mth) OVER (PARTITION BY brand ORDER BY mth) AS mth_prev
      |    FROM shares) t
      |  WHERE lpq_prev IS NOT NULL
      |    AND (mth - mth_prev = 1 OR (mth % 100 = 1 AND mth - mth_prev = 89))),
      |steps AS (
      |  SELECT mth, CAST(sum(CAST(term AS HUGEINT)) AS HUGEINT) AS dln_q
      |  FROM paired GROUP BY 1),
      |chained AS (
      |  SELECT mth, dln_q,
      |         sum(dln_q) OVER (ORDER BY mth
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM steps)
      |SELECT mth AS month,
      |       round(exp(CAST(dln_q AS DOUBLE) / 1e15), 6) AS monthly_ratio,
      |       round(exp(CAST(cum AS DOUBLE) / 1e15) * 100, 4) AS index_level
      |FROM chained ORDER BY month""".stripMargin

  /** dq-disguised-missing — sentinel-value detection by local
    * frequency spikes: a value whose count towers over the mean of
    * its ±2 neighbors is a candidate DISGUISED NULL (the upstream
    * "couldn't parse, wrote 0 / 50 / 9.99" pathology). Nulls you can
    * count (filt-notnull); sentinels hide INSIDE the valid domain —
    * dq-last-digit-heaping sees rounding, this sees point masses.
    * Scanned on the integer quantity and percent-point discount
    * domains (grains chosen so ±2 neighbors exist); the spike ratio compares exact integer counts (the
    * neighbor fold comes from an explode over fixed offsets, never a
    * range self-join); top 5 per column by quantized ratio. */
  val dqDisguisedMissing: Q = (s, d) => {
    val vals = lineitem(s, d).select(
        expr("CAST(l_quantity AS BIGINT)").as("qv"),
        expr("CAST(CAST(l_discount AS DECIMAL(18,4)) * 100 AS BIGINT)").as("dv"))
    val counts = vals.select(lit("l_quantity").as("column_name"), col("qv").as("v"))
      .unionAll(vals.select(lit("l_discount_pct").as("column_name"), col("dv").as("v")))
      .groupBy("column_name", "v").agg(count(lit(1)).as("c"))
      .sharedCache()
    val neighbors = counts.select(col("column_name"), col("v"), col("c"),
        explode(expr("array(-2, -1, 1, 2)")).as("off"))
      .select(col("column_name"), (col("v") + col("off")).as("v"),
        col("v").as("center"), col("c").as("cc"))
    val nb = neighbors.join(counts.select(col("column_name"), col("v"),
        col("c").as("nc")), Seq("column_name", "v"), "left")
      .groupBy(col("column_name"), col("center"))
      .agg(max("cc").as("c"), sum(coalesce(col("nc"), lit(0L))).as("nsum"),
        count(lit(1)).as("nslots"))
    val scored = nb
      .filter(col("nsum") > 0)
      .select(col("column_name"), col("center").as("value"), col("c").as("n_rows"),
        expr("CAST((c * nslots * 1000 - pmod(c * nslots * 1000, nsum)) / nsum AS BIGINT)")
          .as("spike_ratio_q"))
    scored
      .withColumn("rk", row_number().over(Window.partitionBy("column_name")
        .orderBy(col("spike_ratio_q").desc, col("value"))))
      .filter(col("rk") <= 5)
      .select(col("column_name"), col("rk").as("rank"), col("value"), col("n_rows"),
        round(col("spike_ratio_q").cast(DoubleType) / 1000, 3).as("spike_ratio"))
      .withColumn("sentinel_suspect", col("spike_ratio") > lit(3.0))
      .orderBy("column_name", "rank")
  }

  val dqDisguisedMissingSql: String =
    """WITH vals AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS qv,
      |         CAST(CAST(l_discount AS DECIMAL(18,4)) * 100 AS BIGINT) AS dv
      |  FROM lineitem),
      |counts AS MATERIALIZED (
      |  SELECT column_name, v, CAST(count(*) AS BIGINT) AS c FROM (
      |    SELECT 'l_quantity' AS column_name, qv AS v FROM vals
      |    UNION ALL SELECT 'l_discount_pct', dv FROM vals) t
      |  GROUP BY 1, 2),
      |neighbors AS (
      |  SELECT column_name, v + off AS v, v AS center, c AS cc
      |  FROM counts CROSS JOIN (SELECT unnest([-2, -1, 1, 2]) AS off) o),
      |nb AS (
      |  SELECT n.column_name, center, max(cc) AS c,
      |         CAST(sum(coalesce(c2.c, 0)) AS BIGINT) AS nsum, count(*) AS nslots
      |  FROM neighbors n
      |  LEFT JOIN counts c2 ON c2.column_name = n.column_name AND c2.v = n.v
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT column_name, center AS value, c AS n_rows,
      |         (c * nslots * 1000) // nsum AS spike_ratio_q
      |  FROM nb WHERE nsum > 0),
      |ranked AS (
      |  SELECT column_name, value, n_rows, spike_ratio_q,
      |         row_number() OVER (PARTITION BY column_name
      |           ORDER BY spike_ratio_q DESC, value) AS rk
      |  FROM scored)
      |SELECT column_name, rk AS rank, value, n_rows,
      |       round(CAST(spike_ratio_q AS DOUBLE) / 1000, 3) AS spike_ratio,
      |       round(CAST(spike_ratio_q AS DOUBLE) / 1000, 3) > 3.0 AS sentinel_suspect
      |FROM ranked WHERE rk <= 5
      |ORDER BY column_name, rank""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("text-script-profile", textScriptProfile, textScriptProfileSql),
    Key("agg-conformal-interval", aggConformalInterval, aggConformalIntervalSql),
    Key("agg-tornqvist-index", aggTornqvistIndex, aggTornqvistIndexSql),
    Key("dq-disguised-missing", dqDisguisedMissing, dqDisguisedMissingSql))
}
