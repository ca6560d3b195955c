package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch K: Durbin-Watson residual autocorrelation, Theil's
  * U2 forecast skill, participation-ratio effective dimension, Heaps'
  * law vocabulary-growth fit. */
object RelMore110 extends KeyModule {

  /** dq-durbin-watson — the Durbin-Watson statistic on the residuals
    * of the daily revenue-on-count OLS: DW = Σ(eₜ−eₜ₋₁)²/Σeₜ² ≈
    * 2(1−ρ̂₁). THE regression-diagnostics gate: a KPI model whose
    * residuals autocorrelate (DW far from 2) has understated standard
    * errors, and every t-test downstream of it (abtest-gate,
    * welch-ttest) is anti-conservative. Residuals use the exact
    * integer identity from agg-cointegration (R_t = n·den·y −
    * den·Sy − num·n·x + num·Sx over DECIMAL(38,0) sums), floor-
    * quantized to dollars through one identical double division; the
    * DW numerator/denominator are then exact integer sums and only
    * the final ratio is floating-point. The 1.5 rule-of-thumb bound
    * is a declared constant (exact dL tables are out of scope and
    * said so). One day rollup + one PrefixScan neighbor stitch (r12:
    * was a global-sort lag window over the date axis — the largest
    * remaining frame class on the census allowlist). */
  val dqDurbinWatson: Q = (s, d) => {
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
      .select(col("dt"), col("n"),
        floor((col("n") * col("den") * col("y") - col("den") * col("sy")
          - col("num") * col("n") * col("x") + col("num") * col("sx")).cast(DoubleType)
          / (col("n") * col("den") * lit(100)).cast(DoubleType))
          .cast(LongType).as("eq"))
    val dw = graft.functions.PrefixScan
      .withNeighbor(resid, Seq(col("dt")), Seq("eq"))
      .withColumnRenamed("eq_adj", "el")
      .select(col("n"), expr("CAST(eq AS DECIMAL(38,0))").as("e"),
        expr("CAST(eq - el AS DECIMAL(38,0))").as("de"))
      .groupBy("n")
      .agg(sum(expr("e * e")).cast(DoubleType).as("see"),
        sum(expr("de * de")).cast(DoubleType).as("sdd"))
    dw.select(col("n").cast(LongType).as("n_days"),
      round(col("sdd") / col("see"), 4).as("dw"),
      round(lit(1.0) - (col("sdd") / col("see")) / 2, 4).as("rho1_approx"),
      (col("sdd") / col("see") < 1.5).as("positive_autocorr"))
  }

  val dqDurbinWatsonSql: String =
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
      |  SELECT dt, n,
      |         CAST(floor(CAST(n * den * y - den * sy - num * n * x + num * sx AS DOUBLE)
      |               / CAST(n * den * 100 AS DOUBLE)) AS BIGINT) AS eq
      |  FROM daily CROSS JOIN sums),
      |dws AS (
      |  SELECT n,
      |         CAST(sum(CAST(eq AS HUGEINT) * eq) AS DOUBLE) AS see,
      |         CAST(sum(CAST(eq - el AS HUGEINT) * (eq - el)) AS DOUBLE) AS sdd
      |  FROM (SELECT n, eq, lag(eq) OVER (ORDER BY dt) AS el FROM resid) t
      |  GROUP BY 1)
      |SELECT CAST(n AS BIGINT) AS n_days, round(sdd / see, 4) AS dw,
      |       round(1.0 - (sdd / see) / 2, 4) AS rho1_approx,
      |       sdd / see < 1.5 AS positive_autocorr
      |FROM dws""".stripMargin

  /** agg-theil-u2 — Theil's U2 forecast-skill ratio on the daily
    * revenue series: U2 = √(Σ(yₜ−yₜ₋₇)² / Σ(yₜ−yₜ₋₁)²), the
    * seasonal-naive model scored against the no-change naive — the
    * standard "is this forecast worth anything" yardstick (U2 < 1:
    * the weekly pattern carries real signal; U2 ≥ 1: yesterday
    * already beats it). Both error sums are exact integer
    * DECIMAL(38,0) sums of lag-differences over the same calendar-
    * ordered frame (rows with BOTH lags present, so numerator and
    * denominator score identical days); only the final √ratio is
    * floating-point. agg-forecast-backtest grades models against a
    * holdout; U2 is the one-number pre-screen that needs no split.
    * One rollup + a PrefixScan rank stamp and two rank-shifted
    * equi-self-joins (r12: was a global-sort two-lag window; lag(k)
    * for k>1 has no neighbor-stitch form, but rn = rn−k is a plain
    * shuffle join — scale-safe at any series length, and the inner
    * joins reproduce the both-lags-present filter exactly). */
  val aggTheilU2: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("y"))
    val ranked = graft.functions.PrefixScan
      .withRankCumSum(daily, Seq(col("dt")), None).df
      .select("rn", "y").sharedCache()
    // single-stage fill before the two self-join reads in one action —
    // the concurrent-first-fill block-put race WarnProbe attributed in
    // RelMore11/124 (r12); tiny frame, the count is a no-op cost-wise
    ranked.count()
    val sums = ranked
      .join(ranked.select((col("rn") + 1).as("rn"), col("y").as("l1")), "rn")
      .join(ranked.select((col("rn") + 7).as("rn"), col("y").as("l7")), "rn")
      .select(expr("CAST(y - l7 AS DECIMAL(38,0))").as("e7"),
        expr("CAST(y - l1 AS DECIMAL(38,0))").as("e1"))
      .agg(count(lit(1)).as("n"),
        sum(expr("e7 * e7")).cast(DoubleType).as("s7"),
        sum(expr("e1 * e1")).cast(DoubleType).as("s1"))
    sums.select(col("n").cast(LongType).as("n_days"),
      round(sqrt(col("s7") / col("s1")), 6).as("u2"),
      (sqrt(col("s7") / col("s1")) < 1.0).as("seasonal_beats_naive"))
  }

  val aggTheilU2Sql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |lagged AS (
      |  SELECT CAST(y - l7 AS HUGEINT) AS e7, CAST(y - l1 AS HUGEINT) AS e1 FROM (
      |    SELECT y, lag(y, 1) OVER (ORDER BY dt) AS l1, lag(y, 7) OVER (ORDER BY dt) AS l7
      |    FROM daily) t
      |  WHERE l1 IS NOT NULL AND l7 IS NOT NULL),
      |sums AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(e7 * e7) AS DOUBLE) AS s7, CAST(sum(e1 * e1) AS DOUBLE) AS s1
      |  FROM lagged)
      |SELECT n AS n_days, round(sqrt(s7 / s1), 6) AS u2,
      |       sqrt(s7 / s1) < 1.0 AS seasonal_beats_naive
      |FROM sums""".stripMargin

  /** emb-participation-ratio — the participation-ratio effective
    * dimension of the embedding corpus: PR = (Σλ)²/Σλ² = tr(C)² /
    * ‖C‖²_F, computed WITHOUT eigendecomposition because trace and
    * Frobenius norm are basis-free — the covariance spectrum's
    * dispersion from two scalars. PR ≈ d means variance spreads
    * across all dimensions (healthy for retrieval); PR ≪ d means a
    * few directions dominate (emb-isotropy's warning, now with a
    * dimension count attached). Everything is exact: with milli-
    * quantized components, n²·C_jk = n·S_jk − S_j·S_k is integral,
    * and tr² and ‖·‖²_F of THAT matrix are DECIMAL(38,0) sums
    * (≈10²⁶ ≪ 10³⁸); the n² scale cancels in the ratio. The Gram
    * pass is the per-vector outer product (d²=4096 keys) — map-side
    * combinable, no d²·n shuffle rows at scale; the final ratio is
    * the only floating-point op. */
  val embParticipationRatio: Q = (s, d) => {
    val m = embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("k", "x")))
      .select(col("vec_id"), col("k"),
        floor(col("x").cast(DoubleType) * lit(1000.0) + lit(0.5)).cast(LongType).as("mq"))
      .sharedCache()
    val nv = m.agg(count_distinct(col("vec_id")).as("n"))
    val sk = m.groupBy("k").agg(sum("mq").as("s"))
    val gram = m.as("a").join(m.as("b"), "vec_id")
      .groupBy(col("a.k").as("j"), col("b.k").as("kk"))
      .agg(sum(expr("CAST(a.mq AS DECIMAL(38,0)) * b.mq")).as("sjk"))
    val cjk = gram
      .join(broadcast(sk.select(col("k").as("j"), col("s").as("sj"))), Seq("j"))
      .join(broadcast(sk.select(col("k").as("kk"), col("s").as("skv"))), Seq("kk"))
      .crossJoin(broadcast(nv))
      .select(col("j"), col("kk"),
        (col("n") * col("sjk") - expr("CAST(sj AS DECIMAL(38,0)) * skv")).as("a"))
    val agg2 = cjk.agg(
      sum(when(col("j") === col("kk"), col("a"))).as("tr"),
      sum(expr("a * a")).as("frob2"),
      count(lit(1)).as("n_cells"))
    agg2.crossJoin(broadcast(nv))
      .select(col("n").cast(LongType).as("n_vecs"),
        col("n_cells"),
        round((col("tr") * col("tr")).cast(DoubleType) / col("frob2").cast(DoubleType), 4)
          .as("participation_ratio"),
        round((col("tr") * col("tr")).cast(DoubleType) / col("frob2").cast(DoubleType) / 64, 6)
          .as("pr_normalized"))
  }

  val embParticipationRatioSql: String =
    """WITH m AS MATERIALIZED (
      |  SELECT vec_id,
      |         unnest(range(0, len(embedding))) AS k,
      |         CAST(floor(unnest(list_transform(embedding,
      |                    x -> CAST(x AS DOUBLE))) * 1000 + 0.5) AS BIGINT) AS mq
      |  FROM embeddings),
      |nv AS (SELECT CAST(count(DISTINCT vec_id) AS HUGEINT) AS n FROM m),
      |sk AS MATERIALIZED (SELECT k, CAST(sum(mq) AS HUGEINT) AS s FROM m GROUP BY 1),
      |gram AS (
      |  SELECT a.k AS j, b.k AS kk, CAST(sum(CAST(a.mq AS HUGEINT) * b.mq) AS HUGEINT) AS sjk
      |  FROM m a JOIN m b USING (vec_id) GROUP BY 1, 2),
      |cjk AS (
      |  SELECT j, kk, n * sjk - sj.s * sk2.s AS a
      |  FROM gram
      |  JOIN sk sj ON sj.k = gram.j
      |  JOIN sk sk2 ON sk2.k = gram.kk
      |  CROSS JOIN nv),
      |agg2 AS (
      |  SELECT CAST(sum(CASE WHEN j = kk THEN a END) AS HUGEINT) AS tr,
      |         CAST(sum(a * a) AS HUGEINT) AS frob2,
      |         CAST(count(*) AS BIGINT) AS n_cells
      |  FROM cjk)
      |SELECT CAST(n AS BIGINT) AS n_vecs, n_cells,
      |       round(CAST(tr * tr AS DOUBLE) / CAST(frob2 AS DOUBLE), 4) AS participation_ratio,
      |       round(CAST(tr * tr AS DOUBLE) / CAST(frob2 AS DOUBLE) / 64, 6) AS pr_normalized
      |FROM agg2 CROSS JOIN nv""".stripMargin

  /** text-heaps-law — Heaps'-law vocabulary growth V(N) ≈ K·N^β fit
    * over the corpus read in doc_id order: at each corpus decile,
    * cumulative tokens N and cumulative distinct vocabulary V, plus
    * the log-log OLS (K, β) — the curve that predicts how much NEW
    * vocabulary another 10× of corpus buys (β≈0.5 typical; β→1 means
    * near-unbounded novelty, a dedup/quality smell). The "vocabulary"
    * unit is the word TRIGRAM: the fixture corpus has a 31-word closed
    * vocabulary that saturates inside the first decile (unigram V(N)
    * is a flat line), and Heaps' law holds for n-gram types just as
    * for words. The vocabulary
    * prefix counts need NO per-decile distinct pass: each word's
    * FIRST-occurrence rank is a single min-agg, and V(decile) is a
    * count of first-ranks ≤ cutoff — one scan however many
    * checkpoints. Log coordinates are nano-floor-quantized through
    * identical ln/floor doubles, so the 10-point OLS sums are exact
    * integers and partition-order-proof; K, β are the only floats.
    * Every decile row carries the shared fit (same value by
    * construction) so the curve AND the fit are graded. */
  val textHeapsLaw: Q = (s, d) => {
    // corpus-order rank AND running token count in ONE PrefixScan
    // two-pass (which also hands back the doc count for the decile
    // cuts) — the old pair of no-partition windows sorted the whole
    // corpus through a single WindowExec task, twice
    val sc = graft.functions.PrefixScan.withRankCumSum(
      documents(s, d).select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast(LongType).as("tc")),
      Seq(col("doc_id")), Some("tc"), rankName = "rank", cumName = "cumtok")
    val docs = sc.df.sharedCache()
    val firstRank = documents(s, d)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
      .select(col("doc_id"), explode(expr(
        "zip_with(zip_with(slice(t, 1, size(t) - 2), slice(t, 2, size(t) - 2)," +
          " (x, y) -> concat(x, ' ', y)), slice(t, 3, size(t) - 2)," +
          " (xy, z) -> concat(xy, ' ', z))")).as("w"))
      .join(docs.select("doc_id", "rank"), Seq("doc_id"))
      .groupBy("w").agg(min("rank").as("frank"))
    val deciles = s.range(1, 11).select(col("id").cast(IntegerType).as("dec"))
      .select(col("dec"),
        ceil(col("dec") * lit(sc.n) / lit(10.0)).cast(LongType).as("cutoff"))
    val vocab = firstRank.crossJoin(broadcast(deciles))
      .filter(col("frank") <= col("cutoff"))
      .groupBy("dec", "cutoff").agg(count(lit(1)).as("v"))
    val pts = vocab.join(docs.select(col("rank").as("cutoff"), col("cumtok")), Seq("cutoff"))
      .select(col("dec"), col("cutoff"), col("cumtok").as("n_tokens"), col("v").as("vocab"),
        floor(log(col("cumtok").cast(DoubleType)) * lit(1e9)).cast(LongType).as("lx"),
        floor(log(col("v").cast(DoubleType)) * lit(1e9)).cast(LongType).as("ly"))
      .sharedCache()
    val fit = pts.select(expr("CAST(lx AS DECIMAL(38,0))").as("x"),
      expr("CAST(ly AS DECIMAL(38,0))").as("y"))
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("c"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * x")).as("sxx"), sum(expr("x * y")).as("sxy"))
      .select(
        ((col("c") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
          (col("c") * col("sxx") - col("sx") * col("sx")).cast(DoubleType)).as("beta"),
        col("c").cast(DoubleType).as("cd"), col("sx").cast(DoubleType).as("sxd"),
        col("sy").cast(DoubleType).as("syd"))
      .select(col("beta"),
        exp((col("syd") - col("beta") * col("sxd")) / col("cd") / lit(1e9)).as("kk"))
    pts.crossJoin(broadcast(fit))
      .select(col("dec").cast(LongType).as("decile"), col("n_tokens"), col("vocab"),
        round(col("beta"), 4).as("heaps_beta"), round(col("kk"), 3).as("heaps_k"))
      .orderBy("decile")
  }

  val textHeapsLawSql: String =
    """WITH docs AS MATERIALIZED (
      |  SELECT doc_id, tc,
      |         row_number() OVER (ORDER BY doc_id) AS rank,
      |         sum(tc) OVER (ORDER BY doc_id) AS cumtok FROM (
      |    SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tc
      |    FROM documents) t),
      |nn AS (SELECT max(rank) AS n FROM docs),
      |first_rank AS MATERIALIZED (
      |  SELECT w, min(rank) AS frank FROM (
      |    SELECT doc_id,
      |           unnest(t[1:len(t) - 2]) || ' ' || unnest(t[2:len(t) - 1]) || ' ' ||
      |           unnest(t[3:len(t)]) AS w
      |    FROM (SELECT d2.doc_id, regexp_split_to_array(trim(d2.text), '\s+') AS t
      |          FROM documents d2) sp) u
      |  JOIN docs USING (doc_id) GROUP BY 1),
      |deciles AS (
      |  SELECT dec, CAST(ceil(dec * n / 10.0) AS INTEGER) AS cutoff
      |  FROM (SELECT unnest(range(1, 11)) AS dec FROM nn) g CROSS JOIN nn),
      |vocab AS (
      |  SELECT dec, cutoff, CAST(count(*) AS BIGINT) AS v
      |  FROM first_rank CROSS JOIN deciles
      |  WHERE frank <= cutoff GROUP BY 1, 2),
      |pts AS MATERIALIZED (
      |  SELECT dec, cutoff, CAST(cumtok AS BIGINT) AS n_tokens, v AS vocab,
      |         CAST(floor(ln(CAST(cumtok AS DOUBLE)) * 1e9) AS BIGINT) AS lx,
      |         CAST(floor(ln(CAST(v AS DOUBLE)) * 1e9) AS BIGINT) AS ly
      |  FROM vocab JOIN docs ON docs.rank = vocab.cutoff),
      |fit AS (
      |  SELECT (c * sxy - sx * sy) / (c * sxx - sx * sx) AS beta,
      |         exp((syd - ((c * sxy - sx * sy) / (c * sxx - sx * sx)) * sxd) / cd / 1e9) AS kk
      |  FROM (
      |    SELECT CAST(count(*) AS DOUBLE) AS cd, CAST(count(*) AS HUGEINT) AS c,
      |           CAST(sum(CAST(lx AS HUGEINT)) AS HUGEINT) AS sx,
      |           CAST(sum(CAST(ly AS HUGEINT)) AS HUGEINT) AS sy,
      |           CAST(sum(CAST(lx AS HUGEINT) * lx) AS HUGEINT) AS sxx,
      |           CAST(sum(CAST(lx AS HUGEINT) * ly) AS HUGEINT) AS sxy,
      |           CAST(sum(CAST(lx AS HUGEINT)) AS DOUBLE) AS sxd,
      |           CAST(sum(CAST(ly AS HUGEINT)) AS DOUBLE) AS syd
      |    FROM pts) t)
      |SELECT CAST(dec AS BIGINT) AS decile, n_tokens, vocab,
      |       round(beta, 4) AS heaps_beta, round(kk, 3) AS heaps_k
      |FROM pts CROSS JOIN fit
      |ORDER BY decile""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("dq-durbin-watson", dqDurbinWatson, dqDurbinWatsonSql),
    Key("agg-theil-u2", aggTheilU2, aggTheilU2Sql),
    Key("emb-participation-ratio", embParticipationRatio, embParticipationRatioSql),
    Key("text-heaps-law", textHeapsLaw, textHeapsLawSql))
}
