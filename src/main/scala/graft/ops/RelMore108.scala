package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch I: Benjamini-Hochberg FDR gate, STL-style seasonality
  * strength, Bass diffusion fit, token truncation-loss curve. */
object RelMore108 extends KeyModule {

  /** Shared erfc approximation (Abramowitz & Stegun 7.1.26, |ε|<1.5e-7):
    * the SAME literal arithmetic runs in both engines — elementary ops
    * on identical doubles, so the approximation error is common-mode
    * and cancels in the compare. Spark/DuckDB have no native erfc. */
  private def erfcSql(x: String): String =
    s"(1.0 / (1.0 + 0.3275911 * $x)) * (0.254829592 + (1.0 / (1.0 + 0.3275911 * $x)) * " +
      s"(-0.284496736 + (1.0 / (1.0 + 0.3275911 * $x)) * (1.421413741 + " +
      s"(1.0 / (1.0 + 0.3275911 * $x)) * (-1.453152027 + (1.0 / (1.0 + 0.3275911 * $x)) * " +
      s"1.061405429)))) * exp(-($x) * ($x))"

  /** dq-fdr-bh — Benjamini-Hochberg FDR control over the 25 per-nation
    * "does this nation's order value differ from the rest?" Welch
    * z-tests: THE multiple-comparisons gate every segment-drilldown
    * dashboard needs (25 uncorrected tests at α=.05 expect ≥1 false
    * alarm; BH bounds the FALSE DISCOVERY RATE instead of the
    * familywise rate, keeping power). Mechanics: per-nation exact
    * moment sums (cents in DECIMAL(38,0)); the complement's moments by
    * subtraction from the global row (one agg, not 25 anti-joins);
    * Welch z and the A&S-7.1.26 erfc p-value as identical double
    * expressions both sides; BH step-up via two windows over the
    * 25-row frame (rank p ascending, then max-satisfied-rank). The
    * data-sized work is ONE map-side-combinable scan; everything after
    * is 25 rows. */
  val dqFdrBh: Q = (s, d) => {
    val cents = orders(s, d).join(customer(s, d),
      col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nk"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("v"))
    val per = cents.groupBy("nk")
      .agg(count(lit(1)).as("n1"),
        sum(expr("CAST(v AS DECIMAL(38,0))")).as("s1"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("ss1"))
    val glob = cents.agg(count(lit(1)).as("ng"),
      sum(expr("CAST(v AS DECIMAL(38,0))")).as("sg"),
      sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("ssg"))
    val z = per.crossJoin(broadcast(glob))
      .select(col("nk"), col("n1"),
        col("n1").cast(DoubleType).as("a"),
        col("s1").cast(DoubleType).as("b"),
        col("ss1").cast(DoubleType).as("c"),
        (col("ng") - col("n1")).cast(DoubleType).as("a2"),
        (col("sg") - col("s1")).cast(DoubleType).as("b2"),
        (col("ssg") - col("ss1")).cast(DoubleType).as("c2"))
      .select(col("nk"), col("n1"),
        (((col("b") / col("a")) - (col("b2") / col("a2"))) /
          sqrt(((col("c") - col("b") * col("b") / col("a")) / (col("a") - 1)) / col("a") +
            ((col("c2") - col("b2") * col("b2") / col("a2")) / (col("a2") - 1)) / col("a2")))
          .as("zs"))
      .withColumn("p", expr(erfcSql("abs(zs) / sqrt(2.0)")))
    // r13 PrefixScan port: BH rank via range exchange over the 25
    // nation rows, the m denominator from the scan's own total, and
    // the rejection cutoff k as a 1-row broadcast agg — the three
    // unpartitioned windows gone for the same values
    val sc = graft.functions.PrefixScan.withRankCumSum(
      z, Seq(col("p"), col("nk")), None, rankName = "bh_rank")
    val ranked = sc.df
      .withColumn("crit", col("bh_rank") * lit(0.05) / lit(sc.n))
      .sharedCache()
    ranked.count() // single-stage fill: the k broadcast + final read race
    val kAgg = ranked.agg(
      max(when(col("p") <= col("crit"), col("bh_rank"))).as("k"))
    ranked.crossJoin(broadcast(kAgg))
      .select(col("nk").cast(LongType).as("nationkey"), col("n1").as("n_orders"),
        round(col("zs"), 4).as("z_stat"), round(col("p"), 6).as("p_value"),
        col("bh_rank").cast(LongType).as("bh_rank"),
        round(col("crit"), 6).as("bh_critical"),
        coalesce(col("bh_rank") <= col("k"), lit(false)).as("rejected"))
      .orderBy("bh_rank")
  }

  val dqFdrBhSql: String = {
    val erfc = erfcSql("abs(zs) / sqrt(2.0)")
    s"""WITH cents AS (
       |  SELECT c_nationkey AS nk,
       |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
       |  FROM orders JOIN customer ON o_custkey = c_custkey),
       |per AS (
       |  SELECT nk, CAST(count(*) AS BIGINT) AS n1,
       |         CAST(sum(CAST(v AS HUGEINT)) AS HUGEINT) AS s1,
       |         CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS ss1
       |  FROM cents GROUP BY 1),
       |gtot AS (
       |  SELECT CAST(count(*) AS BIGINT) AS ng,
       |         CAST(sum(CAST(v AS HUGEINT)) AS HUGEINT) AS sg,
       |         CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS ssg
       |  FROM cents),
       |zt AS (
       |  SELECT nk, n1,
       |         ((b / a) - (b2 / a2)) /
       |           sqrt(((c - b * b / a) / (a - 1)) / a + ((c2 - b2 * b2 / a2) / (a2 - 1)) / a2) AS zs
       |  FROM (
       |    SELECT nk, n1, CAST(n1 AS DOUBLE) AS a, CAST(s1 AS DOUBLE) AS b,
       |           CAST(ss1 AS DOUBLE) AS c, CAST(ng - n1 AS DOUBLE) AS a2,
       |           CAST(sg - s1 AS DOUBLE) AS b2, CAST(ssg - ss1 AS DOUBLE) AS c2
       |    FROM per CROSS JOIN gtot) t),
       |pv AS (SELECT nk, n1, zs, $erfc AS p FROM zt),
       |ranked AS (
       |  SELECT nk, n1, zs, p,
       |         row_number() OVER (ORDER BY p, nk) AS bh_rank,
       |         row_number() OVER (ORDER BY p, nk) * 0.05 / count(*) OVER () AS crit
       |  FROM pv),
       |kk AS (SELECT max(CASE WHEN p <= crit THEN bh_rank END) AS k FROM ranked)
       |SELECT CAST(nk AS BIGINT) AS nationkey, n1 AS n_orders,
       |       round(zs, 4) AS z_stat, round(p, 6) AS p_value,
       |       CAST(bh_rank AS BIGINT) AS bh_rank, round(crit, 6) AS bh_critical,
       |       coalesce(bh_rank <= k, false) AS rejected
       |FROM ranked CROSS JOIN kk
       |ORDER BY bh_rank""".stripMargin
  }

  /** agg-seasonality-strength — Hyndman's STL strength-of-seasonality
    * and strength-of-trend on the daily revenue series with a weekly
    * period: F_s = max(0, 1 − Var(R)/Var(detrended)),
    * F_t = max(0, 1 − Var(R)/Var(deseasonalized)) — the single number
    * that says whether a forecast needs the seasonal term at all
    * (win-seasonal-decompose emits the components; this GRADES them).
    * Exactness discipline: trend is a centered 7-day MA kept as the
    * INTEGER 7·y − Σ₇y (no division); the day-of-week seasonal means
    * are milli-floor-quantized through one identical double division;
    * every variance then runs over exact integers in DECIMAL(38,0)
    * and only the two final ratios are doubles. Days without a full
    * 7-day frame are excluded by a window count — same rule both
    * engines. One day-keyed rollup + one 7-row window + one 7-key
    * broadcast join at any scale. */
  val aggSeasonalityStrength: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("y"))
    val w7 = Window.orderBy("dt").rowsBetween(-3, 3)
    val det = daily
      .withColumn("s7", sum("y").over(w7))
      .withColumn("c7", count(lit(1)).over(w7))
      .filter(col("c7") === 7)
      .select(col("dt"), dayofweek(col("dt")).as("dow"), col("y"),
        (col("y") * 7 - col("s7")).as("dq"))
      .sharedCache()
    val seas = det.groupBy("dow")
      .agg(floor(sum(col("dq")).cast(DoubleType) * lit(1000.0) /
        count(lit(1))).cast(LongType).as("seas_mq"))
    // dmq: detrended (x1000); rmq: remainder; samq: seasonally adjusted
    // = trend + remainder (x7000 scale so the three share one basis)
    val joined = det.join(broadcast(seas), Seq("dow"))
      .select(expr("CAST(dq * 1000 AS DECIMAL(38,0))").as("dmq"),
        expr("CAST(dq AS DECIMAL(38,0)) * 1000 - seas_mq").as("rmq"),
        expr("CAST(y AS DECIMAL(38,0)) * 7000 - seas_mq").as("samq"))
    val sums = joined.agg(count(lit(1)).as("n"),
      sum("dmq").as("sd"), sum(expr("dmq * dmq")).as("sdd"),
      sum("rmq").as("sr"), sum(expr("rmq * rmq")).as("srr"),
      sum("samq").as("sa"), sum(expr("samq * samq")).as("saa"))
    sums.select(col("n").cast(DoubleType).as("nd"), col("n"),
      col("sd").cast(DoubleType).as("sd"), col("sdd").cast(DoubleType).as("sdd"),
      col("sr").cast(DoubleType).as("sr"), col("srr").cast(DoubleType).as("srr"),
      col("sa").cast(DoubleType).as("sa"), col("saa").cast(DoubleType).as("saa"))
      .select(col("n").cast(LongType).as("n_days"),
        round(greatest(lit(0.0),
          lit(1.0) - (col("srr") - col("sr") * col("sr") / col("nd")) /
            (col("sdd") - col("sd") * col("sd") / col("nd"))), 6).as("f_seasonal"),
        round(greatest(lit(0.0),
          lit(1.0) - (col("srr") - col("sr") * col("sr") / col("nd")) /
            (col("saa") - col("sa") * col("sa") / col("nd"))), 6).as("f_trend"))
  }

  val aggSeasonalityStrengthSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |det AS (
      |  SELECT dt, dayofweek(dt) + 1 AS dow, y, CAST(y * 7 - s7 AS BIGINT) AS dq FROM (
      |    SELECT dt, y,
      |           sum(y) OVER (ORDER BY dt ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS s7,
      |           count(*) OVER (ORDER BY dt ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS c7
      |    FROM daily) t
      |  WHERE c7 = 7),
      |seas AS (
      |  SELECT dow, CAST(floor(CAST(sum(dq) AS DOUBLE) * 1000.0 / count(*)) AS BIGINT) AS seas_mq
      |  FROM det GROUP BY 1),
      |joined AS (
      |  SELECT CAST(dq AS HUGEINT) * 1000 AS dmq,
      |         CAST(dq AS HUGEINT) * 1000 - seas_mq AS rmq,
      |         CAST(y AS HUGEINT) * 7000 - seas_mq AS samq
      |  FROM det JOIN seas USING (dow)),
      |sums AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(count(*) AS DOUBLE) AS nd,
      |         CAST(sum(dmq) AS DOUBLE) AS sd, CAST(sum(dmq * dmq) AS DOUBLE) AS sdd,
      |         CAST(sum(rmq) AS DOUBLE) AS sr, CAST(sum(rmq * rmq) AS DOUBLE) AS srr,
      |         CAST(sum(samq) AS DOUBLE) AS sa, CAST(sum(samq * samq) AS DOUBLE) AS saa
      |  FROM joined)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |       round(greatest(0.0, 1.0 - (srr - sr * sr / nd) / (sdd - sd * sd / nd)), 6) AS f_seasonal,
      |       round(greatest(0.0, 1.0 - (srr - sr * sr / nd) / (saa - sa * sa / nd)), 6) AS f_trend
      |FROM sums""".stripMargin

  /** agg-bass-diffusion — Bass diffusion model fit on the customer
    * adoption series (first-order date per customer): the discrete
    * Bass regression n_t = β₀ + β₁·N_{t−1} + β₂·N²_{t−1} is LINEAR in
    * (N, N²), so the canonical product-adoption forecaster reduces to
    * exact 3×3 normal equations (the agg-ols-normal-eq machinery with
    * a quadratic basis) — no nonlinear solver. The structural
    * parameters fall out of the quadratic root: market size M̂ =
    * (−β₁−√(β₁²−4β₂β₀))/(2β₂), innovation p̂ = β₀/M̂, imitation q̂ =
    * β₁+p̂. All regression sums are exact integers (adopter counts) in
    * DECIMAL(38,0); Cramer determinants are identical double
    * expressions; a negative discriminant yields NULL structural
    * params via the same CASE in both engines (the regression row is
    * still graded). Data-sized work: one first-order-per-customer agg
    * (min over custkey) + one day rollup + one lag window. */
  val aggBassDiffusion: Q = (s, d) => {
    val adopt = orders(s, d)
      .groupBy("o_custkey").agg(min(to_date(col("o_orderdate"))).as("adt"))
      .groupBy(col("adt").as("dt")).agg(count(lit(1)).as("nt"))
    val wd = Window.orderBy("dt")
    val reg = adopt
      .withColumn("cum", sum("nt").over(wd) - col("nt"))
      .filter(col("cum") > 0)
      .select(expr("CAST(nt AS DECIMAL(38,0))").as("yv"),
        expr("CAST(cum AS DECIMAL(38,0))").as("x1"),
        expr("CAST(cum AS DECIMAL(38,0)) * cum").as("x2"))
    val sums = reg.agg(count(lit(1)).as("n"),
      sum("x1").as("s1"), sum("x2").as("s2"),
      sum(expr("x1 * x1")).as("s11"), sum(expr("x1 * x2")).as("s12"),
      sum(expr("x2 * x2")).as("s22"),
      sum("yv").as("sy"), sum(expr("x1 * yv")).as("sy1"),
      sum(expr("x2 * yv")).as("sy2"))
    val f = sums.select(col("n").cast(LongType).as("n_days"),
      col("n").cast(DoubleType).as("a"),
      col("s1").cast(DoubleType).as("b"), col("s2").cast(DoubleType).as("c"),
      col("s11").cast(DoubleType).as("e"), col("s12").cast(DoubleType).as("f"),
      col("s22").cast(DoubleType).as("g"),
      col("sy").cast(DoubleType).as("y0"), col("sy1").cast(DoubleType).as("y1"),
      col("sy2").cast(DoubleType).as("y2"))
      // Cramer on the symmetric normal matrix [[a,b,c],[b,e,f],[c,f,g]]
      .withColumn("det", col("a") * (col("e") * col("g") - col("f") * col("f"))
        - col("b") * (col("b") * col("g") - col("f") * col("c"))
        + col("c") * (col("b") * col("f") - col("e") * col("c")))
      .withColumn("b0", (col("y0") * (col("e") * col("g") - col("f") * col("f"))
        - col("b") * (col("y1") * col("g") - col("f") * col("y2"))
        + col("c") * (col("y1") * col("f") - col("e") * col("y2"))) / col("det"))
      .withColumn("b1", (col("a") * (col("y1") * col("g") - col("y2") * col("f"))
        - col("y0") * (col("b") * col("g") - col("f") * col("c"))
        + col("c") * (col("b") * col("y2") - col("y1") * col("c"))) / col("det"))
      .withColumn("b2", (col("a") * (col("e") * col("y2") - col("f") * col("y1"))
        - col("b") * (col("b") * col("y2") - col("y1") * col("c"))
        + col("y0") * (col("b") * col("f") - col("e") * col("c"))) / col("det"))
      .withColumn("disc", col("b1") * col("b1") - lit(4.0) * col("b2") * col("b0"))
      .withColumn("m_hat", when(col("disc") >= 0 && col("b2") < 0,
        (-col("b1") - sqrt(col("disc"))) / (lit(2.0) * col("b2"))).otherwise(lit(null)))
    f.select(col("n_days"),
      round(col("b0"), 6).as("beta0"), round(col("b1"), 6).as("beta1"),
      round(col("b2"), 9).as("beta2"), round(col("m_hat"), 2).as("m_hat"),
      round(col("b0") / col("m_hat"), 6).as("p_hat"),
      round(col("b1") + col("b0") / col("m_hat"), 6).as("q_hat"))
  }

  val aggBassDiffusionSql: String =
    """WITH adopt AS (
      |  SELECT adt AS dt, CAST(count(*) AS BIGINT) AS nt FROM (
      |    SELECT o_custkey, min(CAST(date_trunc('day', o_orderdate) AS DATE)) AS adt
      |    FROM orders GROUP BY 1) t GROUP BY 1),
      |reg AS (
      |  SELECT CAST(nt AS HUGEINT) AS yv, CAST(cum AS HUGEINT) AS x1,
      |         CAST(cum AS HUGEINT) * cum AS x2 FROM (
      |    SELECT nt, sum(nt) OVER (ORDER BY dt) - nt AS cum FROM adopt) t
      |  WHERE cum > 0),
      |sums AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(count(*) AS DOUBLE) AS a,
      |         CAST(sum(x1) AS DOUBLE) AS b, CAST(sum(x2) AS DOUBLE) AS c,
      |         CAST(sum(x1 * x1) AS DOUBLE) AS e, CAST(sum(x1 * x2) AS DOUBLE) AS f,
      |         CAST(sum(x2 * x2) AS DOUBLE) AS g,
      |         CAST(sum(yv) AS DOUBLE) AS y0, CAST(sum(x1 * yv) AS DOUBLE) AS y1,
      |         CAST(sum(x2 * yv) AS DOUBLE) AS y2
      |  FROM reg),
      |fit AS (
      |  SELECT n AS n_days, b0, b1, b2,
      |         b1 * b1 - 4 * b2 * b0 AS disc FROM (
      |    SELECT n,
      |           (y0 * (e * g - f * f) - b * (y1 * g - f * y2) + c * (y1 * f - e * y2)) / det AS b0,
      |           (a * (y1 * g - y2 * f) - y0 * (b * g - f * c) + c * (b * y2 - y1 * c)) / det AS b1,
      |           (a * (e * y2 - f * y1) - b * (b * y2 - y1 * c) + y0 * (b * f - e * c)) / det AS b2
      |    FROM (
      |      SELECT *, a * (e * g - f * f) - b * (b * g - f * c) + c * (b * f - e * c) AS det
      |      FROM sums) s) t),
      |root AS (
      |  SELECT n_days, b0, b1, b2,
      |         CASE WHEN disc >= 0 AND b2 < 0
      |              THEN (-b1 - sqrt(disc)) / (2 * b2) END AS m_hat
      |  FROM fit)
      |SELECT n_days, round(b0, 6) AS beta0, round(b1, 6) AS beta1,
      |       round(b2, 9) AS beta2, round(m_hat, 2) AS m_hat,
      |       round(b0 / m_hat, 6) AS p_hat,
      |       round(b1 + b0 / m_hat, 6) AS q_hat
      |FROM root""".stripMargin

  private val Caps = Seq(512, 1024, 2048)

  /** text-truncation-loss — the context-length budget curve every
    * SFT/pretraining pipeline needs before picking max_seq_len: for
    * caps 512/1024/2048, how many documents overflow and what share
    * of the corpus' tokens a hard truncation throws away, alongside
    * the exact P50/P90/P99 of per-document token counts (discrete
    * type-1 quantiles at position ⌈q·n⌉ — no interpolation, so the
    * engines cannot disagree on ties). Token counts are whitespace
    * tokens (the tokencount convention). The per-document counts are
    * computed ONCE; the 3-cap expansion multiplies a |docs|-row
    * frame, not the text scan — at 100 TB the regex tokenization of
    * the text column dominates and runs exactly once. */
  val textTruncationLoss: Q = (s, d) => {
    val tc = documents(s, d)
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast(LongType).as("tc"))
      .sharedCache()
    val n = tc.count()
    def qpos(q: Double): Long = math.ceil(q * n).toLong
    val wq = Window.orderBy(col("tc"), col("doc_id"))
    val quant = tc.withColumn("rn", row_number().over(wq))
      .filter(col("rn").isin(qpos(0.5), qpos(0.9), qpos(0.99)))
      .agg(max(when(col("rn") === qpos(0.5), col("tc"))).as("p50"),
        max(when(col("rn") === qpos(0.9), col("tc"))).as("p90"),
        max(when(col("rn") === qpos(0.99), col("tc"))).as("p99"))
    val tot = tc.agg(sum("tc").as("total_tokens"))
    tc.select(explode(array(Caps.map(lit(_)): _*)).as("cap"), col("tc"))
      .groupBy("cap")
      .agg(sum(when(col("tc") > col("cap"), 1L).otherwise(0L)).as("n_docs_over"),
        sum(when(col("tc") > col("cap"), col("tc") - col("cap")).otherwise(0L))
          .as("tokens_lost"))
      .crossJoin(broadcast(tot)).crossJoin(broadcast(quant))
      .select(col("cap").cast(LongType).as("cap"), col("n_docs_over"),
        col("tokens_lost"),
        ratioFloor(col("tokens_lost"), col("total_tokens"), 6).as("loss_share"),
        col("p50"), col("p90"), col("p99"))
      .orderBy("cap")
  }

  val textTruncationLossSql: String = {
    val caps = Caps.mkString(", ")
    """WITH tc AS (
      |  SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tc
      |  FROM documents),
      |nn AS (SELECT count(*) AS n FROM tc),
      |quant AS (
      |  SELECT max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN tc END) AS p50,
      |         max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN tc END) AS p90,
      |         max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN tc END) AS p99
      |  FROM (SELECT tc, row_number() OVER (ORDER BY tc, doc_id) AS rn FROM tc) t
      |  CROSS JOIN nn),
      |tot AS (SELECT CAST(sum(tc) AS BIGINT) AS total_tokens FROM tc)
      |SELECT CAST(cap AS BIGINT) AS cap,
      |       CAST(sum(CASE WHEN tc > cap THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_over,
      |       CAST(sum(CASE WHEN tc > cap THEN tc - cap ELSE 0 END) AS BIGINT) AS tokens_lost,
      |       floor(CAST(sum(CASE WHEN tc > cap THEN tc - cap ELSE 0 END) AS DOUBLE) * 1e6
      |             / total_tokens) / 1e6 AS loss_share,
      |       p50, p90, p99
      |FROM tc CROSS JOIN (SELECT unnest([CAPS]) AS cap) c
      |CROSS JOIN tot CROSS JOIN quant
      |GROUP BY cap, total_tokens, p50, p90, p99
      |ORDER BY cap""".stripMargin.replace("CAPS", caps)
  }

  val keys: Seq[Key] = Seq(
    Key("dq-fdr-bh", dqFdrBh, dqFdrBhSql),
    Key("agg-seasonality-strength", aggSeasonalityStrength, aggSeasonalityStrengthSql),
    Key("agg-bass-diffusion", aggBassDiffusion, aggBassDiffusionSql),
    Key("text-truncation-loss", textTruncationLoss, textTruncationLossSql))
}
