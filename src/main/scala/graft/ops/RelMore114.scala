package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch O: Mincer-Zarnowitz rationality F, Wilcoxon signed
  * rank, ulcer index, self-validating Zipf key generator. */
object RelMore114 extends KeyModule {

  /** agg-mincer-zarnowitz — the Mincer-Zarnowitz forecast-rationality
    * regression y = α + β·ŷ with the joint F-test of (α,β) = (0,1),
    * scoring the seasonal-naive forecast (ŷₜ = yₜ₋₇) of daily
    * revenue: an UNBIASED forecast must not be improvable by an
    * affine recalibration, and F = [(RSS_r − RSS_u)/2]/[RSS_u/(n−2)]
    * with RSS_r = Σ(y−ŷ)² is exactly that test. agg-theil-u2 ranks
    * the forecast against naive; MZ asks the sharper question — is
    * what accuracy it HAS even honestly calibrated. All five
    * regression sums and the restricted RSS are exact integer
    * DECIMAL(38,0) sums over the lag-joined daily frame; α, β, both
    * RSS and F are closed-form doubles from them. One rollup + one
    * lag window. */
  val aggMincerZarnowitz: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("y"))
    val wd = Window.orderBy("dt")
    val sums = daily
      .withColumn("f", lag("y", 7).over(wd))
      .filter(col("f").isNotNull)
      .select(expr("CAST(y AS DECIMAL(38,0))").as("y"),
        expr("CAST(f AS DECIMAL(38,0))").as("f"))
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum("f").as("sf"), sum("y").as("sy"),
        sum(expr("f * f")).as("sff"), sum(expr("f * y")).as("sfy"),
        sum(expr("y * y")).as("syy"),
        sum(expr("(y - f) * (y - f)")).as("rss_r"))
    sums.select(col("n").cast(DoubleType).as("nd"), col("n"),
      col("sf").cast(DoubleType).as("sf"), col("sy").cast(DoubleType).as("sy"),
      col("sff").cast(DoubleType).as("sff"), col("sfy").cast(DoubleType).as("sfy"),
      col("syy").cast(DoubleType).as("syy"), col("rss_r").cast(DoubleType).as("rssr"))
      .withColumn("beta", (col("nd") * col("sfy") - col("sf") * col("sy")) /
        (col("nd") * col("sff") - col("sf") * col("sf")))
      .withColumn("alpha", (col("sy") - col("beta") * col("sf")) / col("nd"))
      .withColumn("rssu", col("syy") - col("alpha") * col("sy") - col("beta") * col("sfy"))
      .select(col("n").cast(LongType).as("n_days"),
        round(col("alpha") / 100, 2).as("alpha_usd"),
        round(col("beta"), 6).as("beta"),
        round(((col("rssr") - col("rssu")) / 2) / (col("rssu") / (col("nd") - 2)), 4)
          .as("f_stat"),
        (((col("rssr") - col("rssu")) / 2) / (col("rssu") / (col("nd") - 2)) > 3.0)
          .as("recalibration_helps"))
  }

  val aggMincerZarnowitzSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |lagged AS (
      |  SELECT CAST(y AS HUGEINT) AS y, CAST(f AS HUGEINT) AS f FROM (
      |    SELECT y, lag(y, 7) OVER (ORDER BY dt) AS f FROM daily) t
      |  WHERE f IS NOT NULL),
      |sums AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(count(*) AS DOUBLE) AS nd,
      |         CAST(sum(f) AS DOUBLE) AS sf, CAST(sum(y) AS DOUBLE) AS sy,
      |         CAST(sum(f * f) AS DOUBLE) AS sff, CAST(sum(f * y) AS DOUBLE) AS sfy,
      |         CAST(sum(y * y) AS DOUBLE) AS syy,
      |         CAST(sum((y - f) * (y - f)) AS DOUBLE) AS rssr
      |  FROM lagged),
      |fit AS (
      |  SELECT n, nd, rssr, alpha, beta,
      |         syy - alpha * sy - beta * sfy AS rssu
      |  FROM (
      |    SELECT n, nd, sy, sfy, syy, rssr,
      |           (nd * sfy - sf * sy) / (nd * sff - sf * sf) AS beta,
      |           (sy - ((nd * sfy - sf * sy) / (nd * sff - sf * sf)) * sf) / nd AS alpha
      |    FROM sums) t)
      |SELECT n AS n_days, round(alpha / 100, 2) AS alpha_usd, round(beta, 6) AS beta,
      |       round(((rssr - rssu) / 2) / (rssu / (nd - 2)), 4) AS f_stat,
      |       ((rssr - rssu) / 2) / (rssu / (nd - 2)) > 3.0 AS recalibration_helps
      |FROM fit""".stripMargin

  /** agg-wilcoxon-signed-rank — the Wilcoxon signed-rank test on
    * PAIRED monthly revenue (each calendar month vs the same month
    * one year later): the nonparametric paired-difference test that
    * completes the rank-test family (Mann-Whitney = unpaired,
    * Friedman = blocked k-sample, this = matched pairs) — the right
    * tool for "did YoY growth happen" when monthly revenue is
    * skewed. Ranks of |d| use average-rank tie handling kept EXACT by
    * working in doubled ranks (2·avg-rank = 2·lo + t − 1 is always
    * integral): W⁺ and the tie-corrected variance stay integer to the
    * end; the continuity-corrected z is the only double. Zero
    * differences drop (Wilcoxon convention), ties counted. The pair
    * frame is a ~70-row month aggregate self-join on ym+100. */
  val aggWilcoxonSignedRank: Q = (s, d) => {
    val monthly = orders(s, d)
      .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).as("ym"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("y"))
    val pairs = monthly.as("a").join(monthly.as("b"),
      col("b.ym") === col("a.ym") + 100)
      .select((col("b.y") - col("a.y")).as("dd"))
      .filter(col("dd") =!= 0)
      .select(col("dd"), abs(col("dd")).as("ad"))
    val wr = Window.orderBy("ad")
    // doubled average rank: 2*lo + t - 1 where lo = rank of first tied
    // row, t = tie-group size — integral, no .5 floats
    val ranked = pairs
      .withColumn("lo", rank().over(wr))
      .withColumn("t", count(lit(1)).over(Window.partitionBy("ad")))
      .withColumn("r2", lit(2) * col("lo") + col("t") - 1)
      .sharedCache()
    val stats = ranked.agg(count(lit(1)).as("n"),
      sum(when(col("dd") > 0, col("r2")).otherwise(0L)).as("w2p"),
      sum(expr("CAST(r2 AS DECIMAL(38,0)) * r2")).as("sr4"))
    stats.select(col("n").cast(LongType).as("n_pairs"),
      (col("w2p").cast(DoubleType) / 2).as("w_plus"),
      col("n").cast(DoubleType).as("nd"), col("sr4").cast(DoubleType).as("sr4d"))
      .select(col("n_pairs"), col("w_plus"),
        round((col("w_plus") - col("nd") * (col("nd") + 1) / 4) /
          sqrt(col("sr4d") / 16), 4).as("z_stat"),
        (abs((col("w_plus") - col("nd") * (col("nd") + 1) / 4) /
          sqrt(col("sr4d") / 16)) >= 1.96).as("yoy_shift"))
  }

  val aggWilcoxonSignedRankSql: String =
    """WITH monthly AS (
      |  SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |pairs AS (
      |  SELECT b.y - a.y AS dd, abs(b.y - a.y) AS ad
      |  FROM monthly a JOIN monthly b ON b.ym = a.ym + 100
      |  WHERE b.y - a.y <> 0),
      |ranked AS (
      |  SELECT dd,
      |         2 * rank() OVER (ORDER BY ad) +
      |         count(*) OVER (PARTITION BY ad) - 1 AS r2
      |  FROM pairs),
      |stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(count(*) AS DOUBLE) AS nd,
      |         CAST(sum(CASE WHEN dd > 0 THEN r2 ELSE 0 END) AS BIGINT) AS w2p,
      |         CAST(sum(CAST(r2 AS HUGEINT) * r2) AS DOUBLE) AS sr4d
      |  FROM ranked)
      |SELECT n AS n_pairs, CAST(w2p AS DOUBLE) / 2 AS w_plus,
      |       round((CAST(w2p AS DOUBLE) / 2 - nd * (nd + 1) / 4) / sqrt(sr4d / 16), 4) AS z_stat,
      |       abs((CAST(w2p AS DOUBLE) / 2 - nd * (nd + 1) / 4) / sqrt(sr4d / 16)) >= 1.96 AS yoy_shift
      |FROM stats""".stripMargin

  /** win-ulcer-index — the ulcer index of the cumulative-revenue
    * "equity curve": UI = √(mean(drawdown%²)) over the daily running
    * peak, the drawdown-severity metric that penalizes DEPTH AND
    * DURATION where win-drawdown reports only the worst single dip —
    * the difference between "one bad day" and "a bad quarter".
    * Per-day drawdown percentage is micro-floor-quantized from the
    * exact integer (peak − v)/peak ratio (one identical double
    * division per row, then an exact integer square-sum in
    * DECIMAL(38,0)); only the final mean-√ is floating-point. The
    * running peak is one prefix-max window over the daily rollup. */
  val winUlcerIndex: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("v"))
    // running peak via PrefixScan.withRunningMax (r11): the DATE axis
    // grows with the observation window, so the unpartitioned max()
    // OVER window's single-task sort becomes the distributed two-pass
    // prefix max — bit-identical (max is associative + order-free)
    val dd = graft.functions.PrefixScan
      .withRunningMax(daily, Seq(col("dt")), "v", "peak", inclusive = true).df
      .select(floor((col("peak") - col("v")).cast(DoubleType) * lit(1e6) /
        col("peak")).cast(LongType).as("ddq"))
    dd.agg(count(lit(1)).as("n"),
      max("ddq").as("max_ddq"),
      sum(expr("CAST(ddq AS DECIMAL(38,0)) * ddq")).as("sdd"))
      .select(col("n").cast(LongType).as("n_days"),
        round(col("max_ddq").cast(DoubleType) / 1e4, 4).as("max_drawdown_pct"),
        round(sqrt(col("sdd").cast(DoubleType) / col("n")) / 1e4, 4).as("ulcer_index_pct"))
  }

  val winUlcerIndexSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
      |  FROM orders GROUP BY 1),
      |dd AS (
      |  SELECT CAST(floor(CAST(peak - v AS DOUBLE) * 1e6 / peak) AS BIGINT) AS ddq FROM (
      |    SELECT v, max(v) OVER (ORDER BY dt) AS peak FROM daily) t)
      |SELECT CAST(count(*) AS BIGINT) AS n_days,
      |       round(CAST(max(ddq) AS DOUBLE) / 1e4, 4) AS max_drawdown_pct,
      |       round(sqrt(CAST(sum(CAST(ddq AS HUGEINT) * ddq) AS DOUBLE) / count(*)) / 1e4, 4)
      |         AS ulcer_index_pct
      |FROM dd""".stripMargin

  /** gen-zipf-keys — a deterministic Zipf(s=1) key synthesizer with
    * its own statistical audit: 50k synthetic events draw a key from
    * {1..500} by inverse-CDF over the md5-uniform of the event index
    * (hash-derived randomness, the text-hash-split discipline — no
    * RNG state across executors), and the op grades ITSELF by (a)
    * comparing the head keys' realized shares to the analytic 1/(k·H(500))
    * and (b) re-estimating the tail exponent from the generated
    * frequencies by the log-log OLS over the top-100 ranks. This is
    * the generator every skew/salting benchmark (agg-salted-skew,
    * join-salted-skew) needs to be honest at 100 TB — skew you can
    * MANUFACTURE ON DEMAND with a stated, verified law. The CDF is a
    * 500-row broadcast; assignment is a range join of exact micro-
    * quantized uniform vs cumulative bounds. */
  val genZipfKeys: Q = (s, d) => {
    val n = 50000
    val kMax = 500
    // exact rational CDF in parts-per-1e12: cum_k = Σ_{j≤k} (1e12/j) / H-scale
    val harm = s.range(1, kMax + 1)
      .select(col("id").as("k"), expr("1000000000L div id").as("wq"))
    val wk = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.orderBy("k")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cdf = harm
      .withColumn("cum", sum("wq").over(wk))
      .withColumn("tot", sum("wq").over(wall))
      .select(col("k"), (col("cum") - col("wq")).as("lo"), col("cum").as("hi"), col("tot"))
    val draws = s.range(n.toLong).select(col("id"),
      expr("((instr('0123456789abcdef', substring(md5(CAST(id AS STRING)), 1, 1)) - 1) * 1048576 + " +
        "(instr('0123456789abcdef', substring(md5(CAST(id AS STRING)), 2, 1)) - 1) * 65536 + " +
        "(instr('0123456789abcdef', substring(md5(CAST(id AS STRING)), 3, 1)) - 1) * 4096 + " +
        "(instr('0123456789abcdef', substring(md5(CAST(id AS STRING)), 4, 1)) - 1) * 256 + " +
        "(instr('0123456789abcdef', substring(md5(CAST(id AS STRING)), 5, 1)) - 1) * 16 + " +
        "(instr('0123456789abcdef', substring(md5(CAST(id AS STRING)), 6, 1)) - 1))").as("u24"))
    // weights quantized to 1e9 (not 1e12) so u24·tot ≤ 2²⁴·6.8e9 ≈ 1.1e17
    // and lo·2²⁴ ≤ 6.8e9·1.7e7 ≈ 1.1e17 both fit int64 — the same exact
    // inverse-CDF comparison without DECIMAL(38) cross-multiplication
    // (the r7 bench's #1 cost at 21s for 50k rows)
    val assigned = draws.crossJoin(broadcast(cdf))
      .filter(col("u24").cast(LongType) * col("tot") >= col("lo") * lit(16777216L) &&
        col("u24").cast(LongType) * col("tot") < col("hi") * lit(16777216L))
      .select(col("k"))
    val freq = assigned.groupBy("k").agg(count(lit(1)).as("c")).sharedCache()
    val head = freq.filter(col("k") <= 3)
      .select(col("k"), col("c"),
        ratioFloor(col("c"), lit(n), 6).as("share"),
        // analytic share 1/(k·H), H as the same quantized sum
        ratioFloor(expr("1000000000L div k"), lit(harmQ), 6).as("share_expected"))
    val fitPts = freq.filter(col("k") <= 100)
      .select(floor(log(col("k").cast(DoubleType)) * lit(1e9)).cast(LongType).as("lx"),
        floor(log(col("c").cast(DoubleType)) * lit(1e9)).cast(LongType).as("ly"))
    val fit = fitPts
      .select(expr("CAST(lx AS DECIMAL(38,0))").as("x"), expr("CAST(ly AS DECIMAL(38,0))").as("y"))
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("c"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * x")).as("sxx"), sum(expr("x * y")).as("sxy"))
      .select(round((col("c") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
        (col("c") * col("sxx") - col("sx") * col("sx")).cast(DoubleType), 3)
        .as("zipf_slope"))
    head.crossJoin(broadcast(fit))
      .select(col("k").cast(LongType).as("k"), col("c").as("n_drawn"),
        col("share"), col("share_expected"), col("zipf_slope"))
      .orderBy("k")
  }

  /** Σ_{j=1..500} (10⁹ div j) — the quantized harmonic normalizer,
    * computed once in Scala and embedded as the same literal both
    * sides (exact integer, no float repr concerns). */
  private lazy val harmQ: Long = (1 to 500).map(j => 1000000000L / j).sum

  val genZipfKeysSql: String =
    s"""WITH harm AS MATERIALIZED (
       |  SELECT k, CAST(1000000000 // k AS BIGINT) AS wq
       |  FROM (SELECT unnest(range(1, 501)) AS k) g),
       |cdf AS MATERIALIZED (
       |  SELECT k, cum - wq AS lo, cum AS hi, tot FROM (
       |    SELECT k, wq,
       |           sum(wq) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |           sum(wq) OVER () AS tot
       |    FROM harm) t),
       |draws AS MATERIALIZED (
       |  SELECT id,
       |         (strpos('0123456789abcdef', substring(md5(CAST(id AS VARCHAR)), 1, 1)) - 1) * 1048576 +
       |         (strpos('0123456789abcdef', substring(md5(CAST(id AS VARCHAR)), 2, 1)) - 1) * 65536 +
       |         (strpos('0123456789abcdef', substring(md5(CAST(id AS VARCHAR)), 3, 1)) - 1) * 4096 +
       |         (strpos('0123456789abcdef', substring(md5(CAST(id AS VARCHAR)), 4, 1)) - 1) * 256 +
       |         (strpos('0123456789abcdef', substring(md5(CAST(id AS VARCHAR)), 5, 1)) - 1) * 16 +
       |         (strpos('0123456789abcdef', substring(md5(CAST(id AS VARCHAR)), 6, 1)) - 1) AS u24
       |  FROM (SELECT unnest(range(0, 50000)) AS id) g),
       |assigned AS MATERIALIZED (
       |  SELECT k FROM draws JOIN cdf
       |    ON CAST(u24 AS BIGINT) * tot >= CAST(lo AS BIGINT) * 16777216
       |   AND CAST(u24 AS BIGINT) * tot < CAST(hi AS BIGINT) * 16777216),
       |freq AS MATERIALIZED (
       |  SELECT k, CAST(count(*) AS BIGINT) AS c FROM assigned GROUP BY 1),
       |head AS (
       |  SELECT k, c, floor(CAST(c AS DOUBLE) * 1e6 / 50000) / 1e6 AS share,
       |         floor(CAST(1000000000 // k AS DOUBLE) * 1e6 / $harmQ) / 1e6 AS share_expected
       |  FROM freq WHERE k <= 3),
       |pts AS (
       |  SELECT CAST(floor(ln(CAST(k AS DOUBLE)) * 1e9) AS BIGINT) AS lx,
       |         CAST(floor(ln(CAST(c AS DOUBLE)) * 1e9) AS BIGINT) AS ly
       |  FROM freq WHERE k <= 100),
       |fit AS (
       |  SELECT round(CAST(c * sxy - sx * sy AS DOUBLE) /
       |               CAST(c * sxx - sx * sx AS DOUBLE), 3) AS zipf_slope
       |  FROM (
       |    SELECT CAST(count(*) AS HUGEINT) AS c,
       |           CAST(sum(CAST(lx AS HUGEINT)) AS HUGEINT) AS sx,
       |           CAST(sum(CAST(ly AS HUGEINT)) AS HUGEINT) AS sy,
       |           CAST(sum(CAST(lx AS HUGEINT) * lx) AS HUGEINT) AS sxx,
       |           CAST(sum(CAST(lx AS HUGEINT) * ly) AS HUGEINT) AS sxy
       |    FROM pts) t)
       |SELECT CAST(k AS BIGINT) AS k, c AS n_drawn, share, share_expected, zipf_slope
       |FROM head CROSS JOIN fit
       |ORDER BY k""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-mincer-zarnowitz", aggMincerZarnowitz, aggMincerZarnowitzSql),
    Key("agg-wilcoxon-signed-rank", aggWilcoxonSignedRank, aggWilcoxonSignedRankSql),
    Key("win-ulcer-index", winUlcerIndex, winUlcerIndexSql),
    Key("gen-zipf-keys", genZipfKeys, genZipfKeysSql))
}
