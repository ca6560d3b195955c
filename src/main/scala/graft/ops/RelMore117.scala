package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch R: Cook's distance influence, tolerance-band payment
  * reconciliation, ABC-XYZ matrix, James-Stein shrinkage. */
object RelMore117 extends KeyModule {

  /** dq-cooks-distance — regression influence diagnostics on the
    * daily revenue-on-count OLS: leverage hᵢ = 1/n + (xᵢ−x̄)²/Sxx and
    * Cook's D = e²ᵢhᵢ/(2s²(1−hᵢ)²), reporting the 5 most influential
    * days. An OLS slope a single freak day can bend is not a trend —
    * this is the diagnostic that names the day (dq-mad-outliers flags
    * value outliers; Cook's D flags FIT-bending ones, which need not
    * be extreme in either coordinate). Residuals come from the exact
    * integer identity (the agg-cointegration discipline), leverages
    * from exact count/sum/Sxx integers; each day's D is a closed-form
    * double from them, ranked with a (D, date) tiebreak. The top-5
    * cut is sort+limit on the ~2400-row daily frame. */
  val dqCooksDistance: Q = (s, d) => {
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
      .select(col("dt"), col("x"), col("n"), col("sx"), col("den"),
        floor((col("n") * col("den") * col("y") - col("den") * col("sy")
          - col("num") * col("n") * col("x") + col("num") * col("sx")).cast(DoubleType)
          / (col("n") * col("den") * lit(100)).cast(DoubleType))
          .cast(LongType).as("eq"))
      .sharedCache()
    val s2 = resid.agg(
      sum(expr("CAST(eq AS DECIMAL(38,0)) * eq")).cast(DoubleType).as("sse"),
      count(lit(1)).cast(DoubleType).as("nd"))
      .select((col("sse") / (col("nd") - 2)).as("s2"), col("nd"))
    resid.crossJoin(broadcast(s2))
      .withColumn("hi", lit(1.0) / col("nd") +
        (col("x").cast(DoubleType) - col("sx").cast(DoubleType) / col("nd")) *
          (col("x").cast(DoubleType) - col("sx").cast(DoubleType) / col("nd")) /
          (col("den").cast(DoubleType) / col("n").cast(DoubleType)))
      .withColumn("cook",
        col("eq").cast(DoubleType) * col("eq") * col("hi") /
          (lit(2.0) * col("s2") * (lit(1.0) - col("hi")) * (lit(1.0) - col("hi"))))
      .orderBy(col("cook").desc, col("dt"))
      .limit(5)
      .select(col("dt").as("dt"), col("x").as("n_orders"),
        round(col("hi"), 6).as("leverage"),
        round(col("cook"), 6).as("cooks_d"))
  }

  val dqCooksDistanceSql: String =
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
      |  SELECT dt, x, n, sx, den,
      |         CAST(floor(CAST(n * den * y - den * sy - num * n * x + num * sx AS DOUBLE)
      |               / CAST(n * den * 100 AS DOUBLE)) AS BIGINT) AS eq
      |  FROM daily CROSS JOIN sums),
      |s2 AS (
      |  SELECT CAST(sum(CAST(eq AS HUGEINT) * eq) AS DOUBLE) / (count(*) - 2) AS s2,
      |         CAST(count(*) AS DOUBLE) AS nd
      |  FROM resid),
      |cooks AS (
      |  SELECT dt, x, hi,
      |         CAST(eq AS DOUBLE) * eq * hi / (2.0 * s2 * (1.0 - hi) * (1.0 - hi)) AS cook
      |  FROM (
      |    SELECT dt, x, eq, s2,
      |           1.0 / nd + (CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / nd) *
      |                      (CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / nd) /
      |                      (CAST(den AS DOUBLE) / CAST(n AS DOUBLE)) AS hi
      |    FROM resid CROSS JOIN s2) t)
      |SELECT dt, x AS n_orders, round(hi, 6) AS leverage, round(cook, 6) AS cooks_d
      |FROM cooks
      |ORDER BY cook DESC, dt LIMIT 5""".stripMargin

  /** join-reconcile-tolerance — tolerance-band payment
    * reconciliation: a synthetic payments feed is derived from orders
    * deterministically (md5-jittered amount within ±$1, md5-shifted
    * value date within +3 days, every 20th payment dropped — the
    * md5 conventions, so the "external system" exists identically in
    * both engines), then reconciled back against the order book on
    * (customer, amount within $1, date within 3 days). The output is
    * the reconciliation triage every finance pipeline runs nightly:
    * orders matched uniquely, matched ambiguously (>1 candidate —
    * the dangerous bucket auto-matchers silently get wrong), and
    * unmatched. The join is equi-keyed on customer FIRST (the
    * tolerance bands only widen candidate sets within a customer),
    * so the band predicate never degrades to a cross join at scale.
    * All counts exact. */
  val joinReconcileTolerance: Q = (s, d) => {
    val o = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      to_date(col("o_orderdate")).as("odt"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .sharedCache()
    val pays = o
      .withColumn("h", expr(
        "(instr('0123456789abcdef', substring(md5(CAST(o_orderkey AS STRING)), 1, 1)) - 1) * 16 + " +
          "(instr('0123456789abcdef', substring(md5(CAST(o_orderkey AS STRING)), 2, 1)) - 1)"))
      .filter(col("h") % 20 =!= 0)
      .select(col("o_orderkey").as("pay_ref"), col("o_custkey").as("p_cust"),
        (col("cents") + (col("h") % 201) - 100).as("p_cents"),
        date_add(col("odt"), expr("h % 4")).as("p_dt"))
    val cand = o.join(pays, col("o_custkey") === col("p_cust") &&
      abs(col("cents") - col("p_cents")) <= 100 &&
      datediff(col("p_dt"), col("odt")).between(0, 3))
    val perOrder = cand.groupBy("o_orderkey").agg(count(lit(1)).as("nc"))
    val tot = o.agg(count(lit(1)).as("n_orders"))
    val np = pays.agg(count(lit(1)).as("n_payments"))
    perOrder
      .agg(sum(when(col("nc") === 1, 1L).otherwise(0L)).as("matched_unique"),
        sum(when(col("nc") > 1, 1L).otherwise(0L)).as("matched_ambiguous"))
      .crossJoin(broadcast(tot)).crossJoin(broadcast(np))
      .select(col("n_orders"), col("n_payments"), col("matched_unique"),
        col("matched_ambiguous"),
        (col("n_orders") - col("matched_unique") - col("matched_ambiguous"))
          .as("unmatched_orders"))
  }

  val joinReconcileToleranceSql: String =
    """WITH o AS MATERIALIZED (
      |  SELECT o_orderkey, o_custkey,
      |         CAST(date_trunc('day', o_orderdate) AS DATE) AS odt,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |pays AS MATERIALIZED (
      |  SELECT o_orderkey AS pay_ref, o_custkey AS p_cust,
      |         cents + (h % 201) - 100 AS p_cents,
      |         odt + CAST(h % 4 AS INTEGER) AS p_dt
      |  FROM (
      |    SELECT o.*,
      |           (strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) * 16 +
      |           (strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 2, 1)) - 1) AS h
      |    FROM o) t
      |  WHERE h % 20 <> 0),
      |cand AS (
      |  SELECT o.o_orderkey
      |  FROM o JOIN pays ON o.o_custkey = p_cust
      |    AND abs(cents - p_cents) <= 100
      |    AND p_dt - odt BETWEEN 0 AND 3),
      |per_order AS (
      |  SELECT o_orderkey, CAST(count(*) AS BIGINT) AS nc FROM cand GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_orders FROM o),
      |np AS (SELECT CAST(count(*) AS BIGINT) AS n_payments FROM pays)
      |SELECT n_orders, n_payments,
      |       CAST(sum(CASE WHEN nc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS matched_unique,
      |       CAST(sum(CASE WHEN nc > 1 THEN 1 ELSE 0 END) AS BIGINT) AS matched_ambiguous,
      |       n_orders - CAST(sum(CASE WHEN nc = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |                - CAST(sum(CASE WHEN nc > 1 THEN 1 ELSE 0 END) AS BIGINT) AS unmatched_orders
      |FROM per_order CROSS JOIN tot CROSS JOIN np
      |GROUP BY n_orders, n_payments""".stripMargin

  /** agg-abc-xyz-matrix — the ABC×XYZ inventory matrix: parts are
    * classed A/B/C by cumulative revenue share (80/95 cuts, the
    * agg-abc-classes convention) AND X/Y/Z by demand variability
    * (coefficient of variation of daily quantities; cuts at 0.5/1.0)
    * — the 9-cell grid that decides stocking policy (AX: automate;
    * CZ: make-to-order). ABC alone ranks value; the XYZ axis is what
    * catches the high-value-but-erratic part that breaks a naive
    * reorder point. Revenue shares and CV both come from exact
    * per-part integer sums; the CV is micro-floor-quantized through
    * one identical sqrt/division; the cumulative-share ranking is a
    * prefix window over the PART aggregate. Output: 9 matrix cells
    * with part counts and revenue share. */
  val aggAbcXyzMatrix: Q = (s, d) => {
    val per = lineitem(s, d)
      .groupBy(col("l_partkey"), to_date(col("l_shipdate")).as("dt"))
      .agg(sum(expr("CAST(l_quantity AS BIGINT)")).as("q"),
        sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("cents"))
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("m"), sum("q").as("sq"),
        sum(expr("CAST(q AS DECIMAL(38,0)) * q")).as("sqq"),
        sum("cents").as("rev"))
      .sharedCache()
    // cumulative revenue via the PrefixScan two-pass over the per-PART
    // frame (parts grow with the corpus — the old no-partition running
    // sum was a single-task sort); the stats pass returns Σrev for free
    val sc = graft.functions.PrefixScan.withRankCumSum(per,
      Seq(col("rev").desc, col("l_partkey")), Some("rev"),
      rankName = "__rk", cumName = "cumrev")
    val classed = sc.df
      .withColumn("cshare_q",
        floor(col("cumrev").cast(DoubleType) * lit(1e6) / lit(sc.total).cast(DoubleType))
          .cast(LongType))
      .withColumn("abc", when(col("cshare_q") <= 800000L, "A")
        .when(col("cshare_q") <= 950000L, "B").otherwise("C"))
      .withColumn("cv_q", when(col("m") > 1,
        floor(sqrt((col("m").cast(DoubleType) * col("sqq").cast(DoubleType) -
          col("sq").cast(DoubleType) * col("sq").cast(DoubleType)) /
          (col("m").cast(DoubleType) * (col("m").cast(DoubleType) - 1))) *
          col("m").cast(DoubleType) * lit(1e6) / col("sq").cast(DoubleType))
          .cast(LongType)).otherwise(lit(2000000L)))
      .withColumn("xyz", when(col("cv_q") <= 500000L, "X")
        .when(col("cv_q") <= 1000000L, "Y").otherwise("Z"))
    classed.groupBy("abc", "xyz")
      .agg(count(lit(1)).as("n_parts"),
        sum(expr("CAST(rev AS DECIMAL(38,0))")).as("cellrev"))
      .select(col("abc"), col("xyz"), col("n_parts"),
        ratioFloor(col("cellrev").cast(DoubleType), lit(sc.total), 6).as("rev_share"))
      .orderBy("abc", "xyz")
  }

  val aggAbcXyzMatrixSql: String =
    """WITH per AS MATERIALIZED (
      |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS m,
      |         CAST(sum(q) AS BIGINT) AS sq,
      |         CAST(sum(CAST(q AS HUGEINT) * q) AS HUGEINT) AS sqq,
      |         CAST(sum(cents) AS BIGINT) AS rev
      |  FROM (
      |    SELECT l_partkey, CAST(date_trunc('day', l_shipdate) AS DATE) AS dt,
      |           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
      |           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      |    FROM lineitem GROUP BY 1, 2) t
      |  GROUP BY 1),
      |tot AS (SELECT CAST(sum(CAST(rev AS HUGEINT)) AS HUGEINT) AS trev FROM per),
      |classed AS (
      |  SELECT abc,
      |         CASE WHEN cv_q <= 500000 THEN 'X'
      |              WHEN cv_q <= 1000000 THEN 'Y' ELSE 'Z' END AS xyz,
      |         rev
      |  FROM (
      |    SELECT rev,
      |           CASE WHEN cshare_q <= 800000 THEN 'A'
      |                WHEN cshare_q <= 950000 THEN 'B' ELSE 'C' END AS abc,
      |           CASE WHEN m > 1 THEN
      |             CAST(floor(sqrt((CAST(m AS DOUBLE) * CAST(sqq AS DOUBLE) -
      |                  CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)) /
      |                  (CAST(m AS DOUBLE) * (CAST(m AS DOUBLE) - 1))) *
      |                  CAST(m AS DOUBLE) * 1e6 / CAST(sq AS DOUBLE)) AS BIGINT)
      |           ELSE 2000000 END AS cv_q
      |    FROM (
      |      SELECT m, sq, sqq, rev,
      |             CAST(floor(CAST(sum(CAST(rev AS HUGEINT))
      |                   OVER (ORDER BY rev DESC, l_partkey) AS DOUBLE) * 1e6 /
      |                   CAST(trev AS DOUBLE)) AS BIGINT) AS cshare_q
      |      FROM per CROSS JOIN tot) c) x),
      |cells AS (
      |  SELECT abc, xyz, CAST(count(*) AS BIGINT) AS n_parts,
      |         CAST(sum(CAST(rev AS HUGEINT)) AS HUGEINT) AS cellrev
      |  FROM classed GROUP BY 1, 2)
      |SELECT abc, xyz, n_parts,
      |       floor(CAST(cellrev AS DOUBLE) * 1e6 / CAST(trev AS DOUBLE)) / 1e6 AS rev_share
      |FROM cells CROSS JOIN tot
      |ORDER BY abc, xyz""".stripMargin

  /** agg-james-stein — James-Stein shrinkage of per-nation mean order
    * values toward the grand mean: θ̂ᵢ = x̄ + (1 − (k−3)·σ̄²/S)₊·(x̄ᵢ−x̄)
    * with S = Σ(x̄ᵢ−x̄)² — the estimator that DOMINATES the raw group
    * means whenever k ≥ 4, and the cleanest empirical-Bayes
    * demonstration there is (agg-bayes-smooth shrinks proportions
    * with a chosen prior; James-Stein needs NO prior — the shrink
    * factor comes from the data). σ̄² is the pooled within-nation
    * variance over the average group size (the equal-variance JS
    * form, stated). Group means are micro-quantized from exact cent
    * sums, so S is an exact integer sum; the shrink factor and
    * shrunk means are closed-form doubles. Output per nation: raw
    * mean, shrunk mean, plus the common shrink factor. */
  val aggJamesStein: Q = (s, d) => {
    val per = orders(s, d).join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nk"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("v"))
      .groupBy("nk")
      .agg(count(lit(1)).as("ni"), sum(expr("CAST(v AS DECIMAL(38,0))")).as("si"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("ssi"))
      .withColumn("mean_q", expr("CAST(si * 1000 div ni AS BIGINT)"))
      .sharedCache()
    val glob = per.agg(count(lit(1)).as("k"), sum("ni").as("nn"),
      sum("si").as("st"),
      sum(expr("CAST(ssi AS DECIMAL(38,0))")).as("sst"),
      sum(expr("CAST(si AS DECIMAL(38,0))")).as("std2"),
      sum(expr("CAST((CAST(si AS DECIMAL(38,0)) * si) div ni AS DECIMAL(38,0))")).as("sbgq"))
    val fit = glob.select(col("k").cast(DoubleType).as("kd"), col("k"),
      col("nn").cast(DoubleType).as("nd"),
      col("st").cast(DoubleType).as("st"), col("sst").cast(DoubleType).as("sst"),
      col("sbgq").cast(DoubleType).as("sbg"))
      .withColumn("gmean", col("st") / col("nd"))
      .withColumn("s2w", (col("sst") - col("sbg")) / (col("nd") - col("kd")))
      .withColumn("nbar", col("nd") / col("kd"))
    val withS = per.crossJoin(broadcast(fit))
      .withColumn("dev", col("mean_q").cast(DoubleType) / 1000 - col("gmean"))
      .sharedCache()
    val ss = withS.agg(sum(floor(col("dev") * col("dev")).cast(LongType)).as("s_q"))
    withS.crossJoin(broadcast(ss))
      .withColumn("shrink", greatest(lit(0.0),
        lit(1.0) - (col("kd") - 3) * (col("s2w") / col("nbar")) / col("s_q")))
      .select(col("nk").cast(LongType).as("nationkey"), col("ni").as("n_orders"),
        round(col("mean_q").cast(DoubleType) / 1000 / 100, 2).as("raw_mean_usd"),
        round((col("gmean") + col("shrink") * col("dev")) / 100, 2).as("js_mean_usd"),
        round(col("shrink"), 6).as("shrink_factor"))
      .orderBy("nationkey")
  }

  val aggJamesSteinSql: String =
    """WITH per AS MATERIALIZED (
      |  SELECT nk, ni, si, ssi, CAST(si * 1000 // ni AS BIGINT) AS mean_q FROM (
      |    SELECT c_nationkey AS nk, CAST(count(*) AS BIGINT) AS ni,
      |           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS si,
      |           CAST(sum(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS HUGEINT) *
      |                    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS HUGEINT) AS ssi
      |    FROM orders JOIN customer ON o_custkey = c_custkey
      |    GROUP BY 1) t),
      |gtot AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS kd, CAST(count(*) AS BIGINT) AS k,
      |         CAST(sum(ni) AS DOUBLE) AS nd,
      |         CAST(sum(CAST(si AS HUGEINT)) AS DOUBLE) AS st,
      |         CAST(sum(ssi) AS DOUBLE) AS sst,
      |         CAST(sum(CAST(si AS HUGEINT) * si // ni) AS DOUBLE) AS sbg
      |  FROM per),
      |fit AS (
      |  SELECT kd, k, nd, st / nd AS gmean,
      |         (sst - sbg) / (nd - kd) AS s2w, nd / kd AS nbar
      |  FROM gtot),
      |with_s AS MATERIALIZED (
      |  SELECT nk, ni, mean_q, kd, gmean, s2w, nbar,
      |         CAST(mean_q AS DOUBLE) / 1000 - gmean AS dev
      |  FROM per CROSS JOIN fit),
      |ss AS (
      |  SELECT CAST(sum(CAST(floor(dev * dev) AS BIGINT)) AS BIGINT) AS s_q FROM with_s)
      |SELECT CAST(nk AS BIGINT) AS nationkey, ni AS n_orders,
      |       round(CAST(mean_q AS DOUBLE) / 1000 / 100, 2) AS raw_mean_usd,
      |       round((gmean + greatest(0.0, 1.0 - (kd - 3) * (s2w / nbar) / s_q) * dev) / 100, 2)
      |         AS js_mean_usd,
      |       round(greatest(0.0, 1.0 - (kd - 3) * (s2w / nbar) / s_q), 6) AS shrink_factor
      |FROM with_s CROSS JOIN ss
      |ORDER BY nationkey""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("dq-cooks-distance", dqCooksDistance, dqCooksDistanceSql),
    Key("join-reconcile-tolerance", joinReconcileTolerance, joinReconcileToleranceSql),
    Key("agg-abc-xyz-matrix", aggAbcXyzMatrix, aggAbcXyzMatrixSql),
    Key("agg-james-stein", aggJamesStein, aggJamesSteinSql))
}
