package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._
import graft.functions.PrefixScan

/** Round-8 batch M: a bit-exact HyperLogLog with measured error, PPS
  * systematic sampling on the PrefixScan cumulative, Katz burstiness
  * over the corpus, and the Page-Hinkley drift detector in prefix-min
  * closed form. */
object RelMore177 extends KeyModule {

  /** agg-hll-measured — HyperLogLog (p=9, m=512) built from first
    * principles and graded against the exact count, per order year:
    * 60-bit md5 hash → low 9 bits pick the register, the remaining 51
    * bits' leading-zero run (+1) is the register value, harmonic mean
    * + linear-counting small-range correction give the estimate. The
    * indicator Z is accumulated in EXACT integer units of 2⁻⁵²
    * (each register contributes `1 << (52−M)`; 512·2⁵² < 2⁶³), so the
    * only float op is one final division — bit-identical across
    * engines and partitionings, unlike a double Σ2^−M whose rounding
    * is order-dependent. Register table is |years|·512 rows from a
    * map-side max — the sketch never moves fact-scale data. The point
    * of the op is the MEASURED rel_err column: distinct-count sketches
    * ship with an error budget (±1.04/√m ≈ 4.6%), not on faith. */
  val aggHllMeasured: Q = (s, d) => {
    val src = orders(s, d).select(year(col("o_orderdate")).as("yr"),
      col("o_custkey").cast(LongType).as("k"))
    val hashed = src.withColumn("h",
        expr("CAST(conv(substring(md5(CAST(k AS STRING)), 1, 15), 16, 10) AS BIGINT)"))
      .withColumn("reg", expr("CAST(h % 512 AS INT)"))
      .withColumn("rem", expr("h DIV 512"))
      .withColumn("rho", when(col("rem") === 0L, lit(52))
        .otherwise(lit(52) - length(expr("bin(rem)"))))
    val regs = hashed.groupBy("yr", "reg").agg(max("rho").as("m"))
    val sk = regs.groupBy("yr").agg(
      count(lit(1)).as("used"),
      sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(52 - m AS INT))")).as("zp"))
    val est = sk.select(col("yr"),
        (lit(512L) - col("used")).as("v_empty"),
        (col("zp") + (lit(512L) - col("used")) * lit(4503599627370496L)).as("z_int"))
      .withColumn("e_raw",
        expr("(0.7213 / (1.0 + 1.079 / 512.0)) * 262144.0 * 4503599627370496.0") /
          col("z_int").cast(DoubleType))
      .withColumn("hll_estimate",
        round(when(col("e_raw") <= 1280.0 && col("v_empty") > 0L,
          lit(512.0) * log(lit(512.0) / col("v_empty").cast(DoubleType)))
          .otherwise(col("e_raw")), 2))
    val exact = src.groupBy("yr").agg(countDistinct("k").as("exact_distinct"))
    est.join(exact, Seq("yr"))
      .select(col("yr").cast(IntegerType).as("yr"), col("exact_distinct"),
        col("hll_estimate"), col("v_empty"),
        round(abs(col("hll_estimate") - col("exact_distinct")) * 100 /
          col("exact_distinct"), 2).as("rel_err_pct"))
      .orderBy("yr")
  }

  val aggHllMeasuredSql: String =
    """WITH src AS (
      |  SELECT year(CAST(o_orderdate AS DATE)) AS yr, CAST(o_custkey AS BIGINT) AS k
      |  FROM orders),
      |hashed AS (
      |  SELECT yr,
      |         CAST(('0x' || substring(md5(CAST(k AS VARCHAR)), 1, 15))::BIGINT
      |              AS BIGINT) AS h
      |  FROM src),
      |rho AS (
      |  SELECT yr, CAST(h % 512 AS INTEGER) AS reg,
      |         CASE WHEN h // 512 = 0 THEN 52
      |              ELSE 52 - length(bin(h // 512)) END AS rho
      |  FROM hashed),
      |regs AS (SELECT yr, reg, max(rho) AS m FROM rho GROUP BY 1, 2),
      |sk AS (
      |  SELECT yr, CAST(count(*) AS BIGINT) AS used,
      |         CAST(sum(CAST(1 AS BIGINT) << CAST(52 - m AS INTEGER)) AS BIGINT) AS zp
      |  FROM regs GROUP BY 1),
      |est AS (
      |  SELECT yr, 512 - used AS v_empty,
      |         (0.7213 / (1.0 + 1.079 / 512.0)) * 262144.0 * 4503599627370496.0 /
      |           CAST(zp + (512 - used) * 4503599627370496 AS DOUBLE) AS e_raw
      |  FROM sk),
      |he AS (
      |  SELECT yr, CAST(v_empty AS BIGINT) AS v_empty,
      |         round(CASE WHEN e_raw <= 1280.0 AND v_empty > 0
      |                    THEN 512.0 * ln(512.0 / CAST(v_empty AS DOUBLE))
      |                    ELSE e_raw END, 2) AS hll_estimate
      |  FROM est),
      |ex AS (
      |  SELECT yr, CAST(count(DISTINCT k) AS BIGINT) AS exact_distinct
      |  FROM src GROUP BY 1)
      |SELECT CAST(yr AS INTEGER) AS yr, exact_distinct, hll_estimate, v_empty,
      |       round(abs(hll_estimate - exact_distinct) * 100 / exact_distinct, 2)
      |         AS rel_err_pct
      |FROM he JOIN ex USING (yr) ORDER BY yr""".stripMargin

  /** sample-pps-systematic — probability-proportional-to-size
    * systematic sampling of parts by retail value: 100 equally-spaced
    * ticks at (j+½)·T/100 walk the cumulative size axis (deterministic
    * half-step phase — reproducible, no RNG), and unit i is drawn once
    * per tick inside (cum_{i−1}, cum_i]. Tick membership is exact
    * integer arithmetic — f(c) = #{j : (2j+1)·T ≤ 200·c} — with the
    * cumulative built by the PrefixScan two-pass, so there is no
    * single-partition window at any catalog size. Units bigger than
    * the step are drawn multiple times (certainty-ish units) — the op
    * reports that multiplicity instead of hiding it. */
  val samplePpsSystematic: Q = (s, d) => {
    val src = part(s, d).select(col("p_partkey").cast(LongType).as("pk"),
      expr("CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    val sc = PrefixScan.withRankCumSum(src, Seq(col("pk")), Some("cents"))
    val t = sc.total
    // f(c) = draws with tick ≤ c; numerator kept non-negative so
    // Spark DIV (trunc) and DuckDB // (floor) agree, and the whole
    // membership test stays in exact integer arithmetic
    val hits = sc.df.withColumn("tt", lit(t))
      .withColumn("fa", expr(
        "CASE WHEN cum * 200 < tt THEN CAST(0 AS BIGINT) " +
          "ELSE (cum * 200 - tt) DIV (2 * tt) + 1 END"))
      .withColumn("fb", expr(
        "CASE WHEN (cum - cents) * 200 < tt THEN CAST(0 AS BIGINT) " +
          "ELSE ((cum - cents) * 200 - tt) DIV (2 * tt) + 1 END"))
      .withColumn("hits", col("fa") - col("fb"))
    hits.agg(
        count(lit(1)).as("n_units"),
        sum("hits").cast(LongType).as("n_draws"),
        sum(when(col("hits") > 0L, 1L).otherwise(0L)).cast(LongType).as("n_selected"),
        sum(when(col("hits") > 1L, 1L).otherwise(0L)).cast(LongType).as("multi_hit_units"),
        max("hits").cast(LongType).as("max_hits"),
        sum(when(col("hits") > 0L, col("cents")).otherwise(0L)).as("sel_cents"),
        min(when(col("hits") > 0L, col("pk"))).as("first_pk"),
        max(when(col("hits") > 0L, col("pk"))).as("last_pk"))
      .select(col("n_units"), col("n_draws"), col("n_selected"),
        col("multi_hit_units"), col("max_hits"),
        round(col("sel_cents").cast(DoubleType) * 100 / lit(t.toDouble), 2)
          .as("sel_value_pct"),
        col("first_pk"), col("last_pk"))
  }

  val samplePpsSystematicSql: String =
    """WITH src AS (
      |  SELECT CAST(p_partkey AS BIGINT) AS pk,
      |         CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM part),
      |cumu AS (
      |  SELECT pk, cents,
      |         sum(cents) OVER (ORDER BY pk
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |         sum(cents) OVER () AS t
      |  FROM src),
      |hits AS (
      |  SELECT pk, cents,
      |         (CASE WHEN cum * 200 < t THEN 0
      |               ELSE (cum * 200 - t) // (2 * t) + 1 END) -
      |         (CASE WHEN (cum - cents) * 200 < t THEN 0
      |               ELSE ((cum - cents) * 200 - t) // (2 * t) + 1 END) AS h,
      |         t
      |  FROM cumu)
      |SELECT CAST(count(*) AS BIGINT) AS n_units,
      |       CAST(sum(h) AS BIGINT) AS n_draws,
      |       CAST(sum(CASE WHEN h > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
      |       CAST(sum(CASE WHEN h > 1 THEN 1 ELSE 0 END) AS BIGINT) AS multi_hit_units,
      |       CAST(max(h) AS BIGINT) AS max_hits,
      |       round(CAST(sum(CASE WHEN h > 0 THEN cents ELSE 0 END) AS DOUBLE) * 100 /
      |             CAST(max(t) AS DOUBLE), 2) AS sel_value_pct,
      |       CAST(min(CASE WHEN h > 0 THEN pk END) AS BIGINT) AS first_pk,
      |       CAST(max(CASE WHEN h > 0 THEN pk END) AS BIGINT) AS last_pk
      |FROM hits""".stripMargin

  /** text-burstiness — Katz burstiness per term: E[tf | tf>0] = cf/df
    * against the Poisson prediction λ/(1−e^−λ) at the same corpus
    * rate λ = cf/N. A ratio ≫ 1 marks content words that CLUMP (a doc
    * that mentions them once mentions them many times) vs function
    * words that scatter — the statistic behind burstiness-aware term
    * weighting and stopword induction. One token explode → one
    * map-side (term) aggregate; the top-k is a bounded
    * TakeOrderedAndProject, never a global sort. */
  val textBurstiness: Q = (s, d) => {
    val docs = documents(s, d)
    val nd = docs.agg(count(lit(1)).cast(DoubleType).as("nd"))
    val toks = docs.select(col("doc_id"),
      explode(expr("filter(split(lower(text), '[^a-z]+'), x -> length(x) >= 3)"))
        .as("tok"))
    val stats = toks.groupBy("tok").agg(
      countDistinct("doc_id").as("df"), count(lit(1)).as("cf"))
    stats.filter(col("df") >= 50).crossJoin(broadcast(nd))
      .withColumn("lam", col("cf").cast(DoubleType) / col("nd"))
      .withColumn("katz", col("cf").cast(DoubleType) / col("df"))
      .withColumn("pois", col("lam") / (lit(1.0) - exp(-col("lam"))))
      .select(col("tok"), col("df"), col("cf"),
        round(col("katz"), 4).as("katz_rate"),
        round(col("pois"), 4).as("poisson_rate"),
        round(col("katz") / col("pois"), 4).as("burstiness"))
      .orderBy(col("burstiness").desc, col("tok")).limit(15)
  }

  val textBurstinessSql: String =
    """WITH toks AS MATERIALIZED (
      |  SELECT doc_id,
      |         unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                            x -> length(x) >= 3)) AS tok
      |  FROM documents),
      |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
      |stats AS (
      |  SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
      |         CAST(count(*) AS BIGINT) AS cf
      |  FROM toks GROUP BY 1),
      |r AS (
      |  SELECT tok, df, cf, CAST(cf AS DOUBLE) / n AS lam,
      |         CAST(cf AS DOUBLE) / df AS katz
      |  FROM stats CROSS JOIN nd WHERE df >= 50)
      |SELECT tok, df, cf, round(katz, 4) AS katz_rate,
      |       round(lam / (1.0 - exp(-lam)), 4) AS poisson_rate,
      |       round(katz / (lam / (1.0 - exp(-lam))), 4) AS burstiness
      |FROM r ORDER BY burstiness DESC, tok LIMIT 15""".stripMargin

  /** dq-page-hinkley — Page-Hinkley mean-drift detector on the daily
    * mean order price, in the same prefix-min closed form as CUSUM
    * but with the ADAPTIVE baseline: each deviation is measured
    * against the running mean so far (x_t − P_t/t − δ), which is what
    * lets PH run online without knowing the pre-change level. All
    * deviations are micro-cent integers (floor division for the
    * running mean), so the cumulative m_t and its prefix min are
    * exact; δ and the alarm bar λ derive from the global mean
    * (0.1% / 5%) rather than magic constants. Daily frame is a
    * bounded post-aggregation domain. */
  val dqPageHinkley: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .as("sc"), count(lit(1)).as("nn"))
      .select(col("day"), expr("CAST(sc * 1000 DIV nn AS BIGINT)").as("x"))
    val g = daily.agg(sum("x").as("sx"), count(lit(1)).as("cn"))
      .select(expr("CAST(sx DIV cn AS BIGINT)").as("g"))
    val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    val wr = Window.orderBy("day")
    val ph = daily.crossJoin(broadcast(g))
      .withColumn("delta", expr("g DIV 1000"))
      .withColumn("lam", expr("g DIV 20"))
      .withColumn("pt", sum("x").over(w))
      .withColumn("tt", row_number().over(wr).cast(LongType))
      .withColumn("term", expr("x - pt DIV tt - delta"))
      .withColumn("m", sum("term").over(w))
      .withColumn("ph", col("m") - min(least(col("m"), lit(0L))).over(w))
    ph.agg(count(lit(1)).as("n_days"),
        expr("CAST(max(g) DIV 1000 AS BIGINT)").as("grand_mean_cents"),
        sum(when(col("ph") > col("lam"), 1L).otherwise(0L)).cast(LongType).as("n_alarms"),
        coalesce(date_format(min(when(col("ph") > col("lam"), col("day"))),
          "yyyy-MM-dd"), lit("none")).as("first_alarm"),
        round(max(col("ph")).cast(DoubleType) / 1000.0, 2).as("max_ph_cents"),
        round(max(col("lam")).cast(DoubleType) / 1000.0, 2).as("lambda_cents"))
  }

  val dqPageHinkleySql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) *
      |              1000 // count(*) AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |g AS (SELECT CAST(sum(x) // count(*) AS BIGINT) AS g FROM daily),
      |t1 AS (
      |  SELECT day, x, g, g // 1000 AS delta, g // 20 AS lam,
      |         sum(x) OVER (ORDER BY day
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
      |         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS tt
      |  FROM daily CROSS JOIN g),
      |t2 AS (
      |  SELECT day, lam, g,
      |         sum(x - pt // tt - delta) OVER (ORDER BY day
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
      |  FROM t1),
      |t3 AS (
      |  SELECT day, lam, g,
      |         m - min(least(m, 0)) OVER (ORDER BY day
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph
      |  FROM t2)
      |SELECT CAST(count(*) AS BIGINT) AS n_days,
      |       CAST(max(g) // 1000 AS BIGINT) AS grand_mean_cents,
      |       CAST(sum(CASE WHEN ph > lam THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
      |       COALESCE(strftime(min(CASE WHEN ph > lam THEN day END), '%Y-%m-%d'),
      |                'none') AS first_alarm,
      |       round(CAST(max(ph) AS DOUBLE) / 1000.0, 2) AS max_ph_cents,
      |       round(CAST(max(lam) AS DOUBLE) / 1000.0, 2) AS lambda_cents
      |FROM t3""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-hll-measured", aggHllMeasured, aggHllMeasuredSql),
    Key("sample-pps-systematic", samplePpsSystematic, samplePpsSystematicSql),
    Key("text-burstiness", textBurstiness, textBurstinessSql),
    Key("dq-page-hinkley", dqPageHinkley, dqPageHinkleySql))
}
