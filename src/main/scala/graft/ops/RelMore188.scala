package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-8 batch X: bimodality-based unit-mix detector, Box-Muller
  * hash-Gaussian generator with self-verification, CAPM beta panel,
  * out-of-vocabulary coverage curve. */
object RelMore188 extends KeyModule {

  /** dq-bimodality-units — a column silently mixing units (cents next
    * to dollars, ms next to s) is bimodal in LOG-magnitude. The
    * Sarle bimodality coefficient b = (skew²+1)/kurtosis exceeds the
    * uniform's 5/9 when two modes are present; the op measures b on
    * ln(o_totalprice) AND on a deliberately unit-mixed copy (every
    * 2nd row scaled ×10⁴ — the injected fault), showing the detector
    * separating the two. Moments are exact integer sums of quantized
    * logs (ordered-fold discipline); skew/kurtosis are the standard
    * m₃/m₂^1.5, m₄/m₂² on central moments, identical double
    * expressions both sides. One scan computes both panels. */
  val dqBimodalityUnits: Q = (s, d) => {
    val base = orders(s, d)
      .select(col("o_orderkey").as("k"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("v"))
      .select(explode(array(
        struct(lit("clean").as("panel"), col("v").as("vv")),
        struct(lit("unit_mixed").as("panel"),
          when(col("k") % 2 === 0L, col("v") * 10000L).otherwise(col("v"))
            .as("vv")))).as("e"))
      .select(col("e.panel").as("panel"),
        floor(log(col("e.vv").cast(DoubleType)) * 1e6).cast(LongType).as("lq"))
    val m = base.groupBy("panel").agg(
      count(lit(1)).as("n"),
      sum(expr("CAST(lq AS DECIMAL(38,0))")).as("s1"),
      sum(expr("CAST(lq AS DECIMAL(38,0)) * lq")).as("s2"),
      sum(expr("CAST(lq AS DECIMAL(38,0)) * lq * lq")).as("s3"),
      sum(expr("CAST(lq AS DECIMAL(38,0)) * lq * lq * lq")).as("s4"))
      .select(col("panel"), col("n").cast(DoubleType).as("nd"),
        col("s1").cast(DoubleType).as("s1"), col("s2").cast(DoubleType).as("s2"),
        col("s3").cast(DoubleType).as("s3"), col("s4").cast(DoubleType).as("s4"))
      .select(col("panel"), col("nd"),
        (col("s1") / col("nd")).as("m1"), col("s2"), col("s3"), col("s4"))
      .select(col("panel"), col("nd"),
        (col("s2") / col("nd") - col("m1") * col("m1")).as("m2"),
        (col("s3") / col("nd") - lit(3.0) * col("m1") * (col("s2") / col("nd")) +
          lit(2.0) * col("m1") * col("m1") * col("m1")).as("m3"),
        (col("s4") / col("nd") - lit(4.0) * col("m1") * (col("s3") / col("nd")) +
          lit(6.0) * col("m1") * col("m1") * (col("s2") / col("nd")) -
          lit(3.0) * col("m1") * col("m1") * col("m1") * col("m1")).as("m4"))
    m.select(col("panel"), col("nd").cast(LongType).as("n"),
      round(col("m3") / pow(col("m2"), 1.5), 4).as("skew"),
      round(col("m4") / (col("m2") * col("m2")), 4).as("kurtosis"),
      round(((col("m3") / pow(col("m2"), 1.5)) *
        (col("m3") / pow(col("m2"), 1.5)) + 1.0) /
        (col("m4") / (col("m2") * col("m2"))), 4).as("bimodality_coeff"),
      (((col("m3") / pow(col("m2"), 1.5)) * (col("m3") / pow(col("m2"), 1.5))
        + 1.0) / (col("m4") / (col("m2") * col("m2"))) > 5.0 / 9.0)
        .as("bimodal_flag"))
      .orderBy("panel")
  }

  val dqBimodalityUnitsSql: String =
    """WITH base AS (
      |  SELECT panel,
      |         CAST(floor(ln(CAST(vv AS DOUBLE)) * 1e6) AS BIGINT) AS lq
      |  FROM (
      |    SELECT u.panel,
      |           CASE WHEN u.panel = 'unit_mixed' AND o_orderkey % 2 = 0
      |                THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |                     AS BIGINT) * 10000
      |                ELSE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |                     AS BIGINT) END AS vv
      |    FROM orders CROSS JOIN
      |         (SELECT unnest(['clean', 'unit_mixed']) AS panel) u) t),
      |ms AS (
      |  SELECT panel, nd,
      |         s2 / nd - m1 * m1 AS m2,
      |         s3 / nd - 3.0 * m1 * (s2 / nd) + 2.0 * m1 * m1 * m1 AS m3,
      |         s4 / nd - 4.0 * m1 * (s3 / nd) + 6.0 * m1 * m1 * (s2 / nd) -
      |           3.0 * m1 * m1 * m1 * m1 AS m4
      |  FROM (
      |    SELECT panel, nd, s1 / nd AS m1, s2, s3, s4
      |    FROM (
      |      SELECT panel, CAST(count(*) AS DOUBLE) AS nd,
      |             CAST(sum(CAST(lq AS HUGEINT)) AS DOUBLE) AS s1,
      |             CAST(sum(CAST(lq AS HUGEINT) * lq) AS DOUBLE) AS s2,
      |             CAST(sum(CAST(lq AS HUGEINT) * lq * lq) AS DOUBLE) AS s3,
      |             CAST(sum(CAST(lq AS HUGEINT) * lq * lq * lq) AS DOUBLE) AS s4
      |      FROM base GROUP BY 1) a) b)
      |SELECT panel, CAST(nd AS BIGINT) AS n,
      |       round(m3 / pow(m2, 1.5), 4) AS skew,
      |       round(m4 / (m2 * m2), 4) AS kurtosis,
      |       round(((m3 / pow(m2, 1.5)) * (m3 / pow(m2, 1.5)) + 1.0) /
      |             (m4 / (m2 * m2)), 4) AS bimodality_coeff,
      |       ((m3 / pow(m2, 1.5)) * (m3 / pow(m2, 1.5)) + 1.0) /
      |         (m4 / (m2 * m2)) > 5.0 / 9.0 AS bimodal_flag
      |FROM ms ORDER BY panel""".stripMargin

  /** gen-gaussian-hash — deterministic N(0,1) without an RNG: Box-
    * Muller on two md5-u32 uniforms per draw (u1 nudged off zero), the
    * fixture generator every simulation op in this repo would use at
    * 100 TB (hash of the row key ⇒ any worker regenerates any draw,
    * no RNG state to ship). Draws are quantized to 1e6 BEFORE the
    * moment sums (floor flips only within 1 ulp of the grid), and the
    * op verifies itself: mean≈0, var≈1, |skew| small, kurtosis≈3,
    * and the 3-sigma tail share ≈ 0.0027. */
  val genGaussianHash: Q = (s, d) => {
    val n = 20000
    val z = orders(s, d).sparkSession.range(n).toDF("i")
      .select((expr("CAST(conv(substring(md5(concat('ga_', CAST(i AS STRING))), " +
        "1, 8), 16, 10) AS BIGINT)") + 1L).cast(DoubleType).as("h1"),
        expr("CAST(conv(substring(md5(concat('gb_', CAST(i AS STRING))), " +
          "1, 8), 16, 10) AS BIGINT)").cast(DoubleType).as("h2"))
      .select((sqrt(lit(-2.0) * log(col("h1") / 4294967297.0)) *
        cos(lit(2.0) * lit(math.Pi) * col("h2") / 4294967296.0)).as("g"))
      .select(floor(col("g") * 1e6).cast(LongType).as("gq"))
    z.agg(count(lit(1)).as("n_draws"),
      sum("gq").as("s1"),
      sum(expr("CAST(gq AS DECIMAL(38,0)) * gq")).as("s2"),
      sum(when(abs(col("gq")) > 3000000L, 1L).otherwise(0L)).as("tail3"))
      .select(col("n_draws"),
        round(col("s1").cast(DoubleType) / col("n_draws").cast(DoubleType) /
          1e6, 4).as("mean"),
        round((col("s2").cast(DoubleType) / col("n_draws").cast(DoubleType) -
          (col("s1").cast(DoubleType) / col("n_draws").cast(DoubleType)) *
            (col("s1").cast(DoubleType) / col("n_draws").cast(DoubleType))) /
          1e12, 4).as("variance"),
        round(col("tail3").cast(DoubleType) /
          col("n_draws").cast(DoubleType), 5).as("tail_3sigma_share"))
  }

  val genGaussianHashSql: String =
    """WITH z AS (
      |  SELECT CAST(floor(sqrt(-2.0 * ln(h1 / 4294967297.0)) *
      |              cos(2.0 * pi() * h2 / 4294967296.0) * 1e6) AS BIGINT) AS gq
      |  FROM (
      |    SELECT CAST(CAST(('0x' || substring(md5('ga_' || CAST(i AS VARCHAR)),
      |                1, 8))::BIGINT + 1 AS BIGINT) AS DOUBLE) AS h1,
      |           CAST(CAST(('0x' || substring(md5('gb_' || CAST(i AS VARCHAR)),
      |                1, 8))::BIGINT AS BIGINT) AS DOUBLE) AS h2
      |    FROM (SELECT unnest(range(20000)) AS i) r) t)
      |SELECT CAST(count(*) AS BIGINT) AS n_draws,
      |       round(CAST(sum(gq) AS DOUBLE) / count(*) / 1e6, 4) AS mean,
      |       round((CAST(sum(CAST(gq AS HUGEINT) * gq) AS DOUBLE) / count(*) -
      |              (CAST(sum(gq) AS DOUBLE) / count(*)) *
      |              (CAST(sum(gq) AS DOUBLE) / count(*))) / 1e12, 4) AS variance,
      |       round(CAST(sum(CASE WHEN abs(gq) > 3000000 THEN 1 ELSE 0 END)
      |             AS DOUBLE) / count(*), 5) AS tail_3sigma_share
      |FROM z""".stripMargin

  /** agg-capm-beta — each nation's revenue "beta" against the total
    * market: monthly log-returns per nation regressed on the market's
    * (OLS slope = cov/var), with Jensen's alpha (intercept) and R².
    * The panel answers "which regions amplify the cycle and which
    * dampen it" — the CAPM decomposition applied to revenue books.
    * One (nation, month) aggregate; returns quantized to exact
    * integers; every regression is a per-nation closed form off
    * grouped sums — no window wider than a nation's ~80 months. */
  val aggCapmBeta: Q = (s, d) => {
    val nm = orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("mi"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .as("rev"))
      .sharedCache()
    val wN = Window.partitionBy("nk").orderBy("mi")
    val nr = nm.withColumn("prev", lag("rev", 1).over(wN))
      .filter(col("prev").isNotNull && col("prev") > 0L && col("rev") > 0L)
      .select(col("nk"), col("mi"),
        floor(log(col("rev").cast(DoubleType) /
          col("prev").cast(DoubleType)) * 1e9).cast(LongType).as("r"))
    val mkt = nm.groupBy("mi").agg(sum("rev").as("mrev"))
      .withColumn("prev", lag("mrev", 1).over(Window.orderBy("mi")))
      .filter(col("prev").isNotNull)
      .select(col("mi"),
        floor(log(col("mrev").cast(DoubleType) /
          col("prev").cast(DoubleType)) * 1e9).cast(LongType).as("rm"))
    val st = nr.join(mkt, Seq("mi")).groupBy("nk").agg(
      count(lit(1)).as("n"),
      sum("r").as("sy"), sum("rm").as("sx"),
      sum(expr("CAST(r AS DECIMAL(38,0)) * rm")).as("sxy"),
      sum(expr("CAST(rm AS DECIMAL(38,0)) * rm")).as("sxx"),
      sum(expr("CAST(r AS DECIMAL(38,0)) * r")).as("syy"))
      .select(col("nk"), col("n").cast(DoubleType).as("nd"),
        col("sy").cast(DoubleType).as("sy"), col("sx").cast(DoubleType).as("sx"),
        col("sxy").cast(DoubleType).as("sxy"),
        col("sxx").cast(DoubleType).as("sxx"),
        col("syy").cast(DoubleType).as("syy"))
    st.select(col("nk").cast(LongType).as("nationkey"),
      col("nd").cast(LongType).as("n_months"),
      round((col("nd") * col("sxy") - col("sx") * col("sy")) /
        (col("nd") * col("sxx") - col("sx") * col("sx")), 4).as("beta"),
      round((col("sy") - (col("nd") * col("sxy") - col("sx") * col("sy")) /
        (col("nd") * col("sxx") - col("sx") * col("sx")) * col("sx")) /
        col("nd") / 1e9, 6).as("alpha"),
      round(((col("nd") * col("sxy") - col("sx") * col("sy")) *
        (col("nd") * col("sxy") - col("sx") * col("sy"))) /
        ((col("nd") * col("sxx") - col("sx") * col("sx")) *
          (col("nd") * col("syy") - col("sy") * col("sy"))), 4).as("r2"))
      .orderBy("nationkey")
  }

  val aggCapmBetaSql: String =
    """WITH nm AS MATERIALIZED (
      |  SELECT c_nationkey AS nk,
      |         year(CAST(o_orderdate AS DATE)) * 12 +
      |           month(CAST(o_orderdate AS DATE)) AS mi,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |              AS BIGINT)) AS BIGINT) AS rev
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |nr AS (
      |  SELECT nk, mi,
      |         CAST(floor(ln(CAST(rev AS DOUBLE) / CAST(prev AS DOUBLE)) * 1e9)
      |              AS BIGINT) AS r
      |  FROM (SELECT nk, mi, rev,
      |               lag(rev) OVER (PARTITION BY nk ORDER BY mi) AS prev
      |        FROM nm) q
      |  WHERE prev IS NOT NULL AND prev > 0 AND rev > 0),
      |mkt AS (
      |  SELECT mi,
      |         CAST(floor(ln(CAST(mrev AS DOUBLE) / CAST(prev AS DOUBLE)) * 1e9)
      |              AS BIGINT) AS rm
      |  FROM (SELECT mi, mrev, lag(mrev) OVER (ORDER BY mi) AS prev
      |        FROM (SELECT mi, CAST(sum(rev) AS BIGINT) AS mrev
      |              FROM nm GROUP BY 1) a) b
      |  WHERE prev IS NOT NULL),
      |st AS (
      |  SELECT nk, CAST(count(*) AS DOUBLE) AS nd,
      |         CAST(sum(r) AS DOUBLE) AS sy, CAST(sum(rm) AS DOUBLE) AS sx,
      |         CAST(sum(CAST(r AS HUGEINT) * rm) AS DOUBLE) AS sxy,
      |         CAST(sum(CAST(rm AS HUGEINT) * rm) AS DOUBLE) AS sxx,
      |         CAST(sum(CAST(r AS HUGEINT) * r) AS DOUBLE) AS syy
      |  FROM nr JOIN mkt USING (mi) GROUP BY 1)
      |SELECT CAST(nk AS BIGINT) AS nationkey, CAST(nd AS BIGINT) AS n_months,
      |       round((nd * sxy - sx * sy) / (nd * sxx - sx * sx), 4) AS beta,
      |       round((sy - (nd * sxy - sx * sy) / (nd * sxx - sx * sx) * sx) /
      |             nd / 1e9, 6) AS alpha,
      |       round(((nd * sxy - sx * sy) * (nd * sxy - sx * sy)) /
      |             ((nd * sxx - sx * sx) * (nd * syy - sy * sy)), 4) AS r2
      |FROM st ORDER BY nationkey""".stripMargin

  /** text-oov-coverage — vocabulary sizing from the OOV curve: docs
    * hash-split 80/20 (text-hash-split discipline), the train split
    * builds the frequency vocabulary, and for each vocab budget k (grid scaled to the fixture corpus) the test
    * split's out-of-vocabulary token share is measured with the
    * top-k set derived from the COUNT HISTOGRAM (cumulative tokens by
    * descending count — a bounded value-domain frame), never a global
    * rank over the vocabulary. Ties at the threshold count are all
    * admitted, so k_actual ≥ k_target is reported honestly. The
    * flattening of oov(k) is the vocab-size decision. */
  val textOovCoverage: Q = (s, d) => {
    val toks = documents(s, d)
      .withColumn("isTest", expr(
        "CAST(conv(substring(md5(concat('sp_', CAST(doc_id AS STRING))), 1, 8), " +
          "16, 10) AS BIGINT) % 5 = 0"))
      .select(col("isTest"), explode(split(lower(col("text")), " ")).as("tok"))
      .filter(col("tok").rlike("^[a-z]{2,}$"))
      .sharedCache()
    val train = toks.filter(!col("isTest")).groupBy("tok")
      .agg(count(lit(1)).as("c"))
      .sharedCache()
    val chist = train.groupBy("c").agg(count(lit(1)).as("mtok"))
    // descending-count cumulative vocab size: the count histogram is
    // value-domain-bounded but still grows with corpus scale (every
    // new count value adds a row) — the inclusive PrefixScan cum is
    // the same running sum without the single-partition window (r14
    // port); c is distinct post-groupBy, a total order on its own
    val cum = graft.functions.PrefixScan.withRankCumSum(
      chist, Seq(col("c").desc), Some("mtok"), cumName = "cumtok").df
    val ks = Seq(4, 8, 16, 24)
    val thr = ks.map { k =>
      cum.filter(col("cumtok") >= k).orderBy(col("c").desc).limit(1)
        .select(lit(k).as("k_target"), col("c").as("cthr"),
          col("cumtok").as("k_actual"))
    }.reduce(_ unionAll _)
    val test = toks.filter(col("isTest"))
    val testTot = test.agg(count(lit(1)).as("nt"))
    val covered = thr.crossJoin(
      test.join(train, Seq("tok"), "left")
        .select(col("tok"), coalesce(col("c"), lit(0L)).as("tc")))
      .groupBy("k_target", "cthr", "k_actual")
      .agg(sum(when(col("tc") >= col("cthr"), 1L).otherwise(0L)).as("cov"))
    covered.crossJoin(broadcast(testTot))
      .select(col("k_target").cast(IntegerType).as("k_target"),
        col("k_actual"), col("cthr").as("count_threshold"),
        round(lit(1.0) - col("cov").cast(DoubleType) /
          col("nt").cast(DoubleType), 4).as("oov_rate"))
      .orderBy("k_target")
  }

  val textOovCoverageSql: String =
    """WITH toks AS MATERIALIZED (
      |  SELECT CAST(('0x' || substring(md5('sp_' || CAST(doc_id AS VARCHAR)),
      |           1, 8))::BIGINT AS BIGINT) % 5 = 0 AS istest,
      |         unnest(string_split(lower(text), ' ')) AS tok
      |  FROM documents),
      |ftoks AS MATERIALIZED (
      |  SELECT * FROM toks WHERE regexp_full_match(tok, '[a-z]{2,}')),
      |train AS MATERIALIZED (
      |  SELECT tok, CAST(count(*) AS BIGINT) AS c
      |  FROM ftoks WHERE NOT istest GROUP BY 1),
      |chist AS (
      |  SELECT c, CAST(count(*) AS BIGINT) AS mtok FROM train GROUP BY 1),
      |cum AS (
      |  SELECT c, sum(mtok) OVER (ORDER BY c DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumtok
      |  FROM chist),
      |thr AS (
      |  SELECT k AS k_target, c AS cthr, cumtok AS k_actual
      |  FROM (SELECT unnest([4, 8, 16, 24]) AS k) ks,
      |       LATERAL (SELECT c, cumtok FROM cum WHERE cumtok >= k
      |                ORDER BY c DESC LIMIT 1) pick),
      |test AS (
      |  SELECT f.tok, coalesce(train.c, 0) AS tc
      |  FROM ftoks f LEFT JOIN train USING (tok) WHERE istest),
      |cov AS (
      |  SELECT k_target, cthr, k_actual,
      |         CAST(sum(CASE WHEN tc >= cthr THEN 1 ELSE 0 END) AS BIGINT)
      |           AS cov
      |  FROM thr CROSS JOIN test GROUP BY 1, 2, 3)
      |SELECT CAST(k_target AS INTEGER) AS k_target,
      |       CAST(k_actual AS BIGINT) AS k_actual,
      |       cthr AS count_threshold,
      |       round(1.0 - CAST(cov AS DOUBLE) /
      |             (SELECT CAST(count(*) AS DOUBLE) FROM test), 4) AS oov_rate
      |FROM cov ORDER BY k_target""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("dq-bimodality-units", dqBimodalityUnits, dqBimodalityUnitsSql),
    Key("gen-gaussian-hash", genGaussianHash, genGaussianHashSql),
    Key("agg-capm-beta", aggCapmBeta, aggCapmBetaSql),
    Key("text-oov-coverage", textOovCoverage, textOovCoverageSql))
}
