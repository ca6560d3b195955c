package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-8 batch AH: panel fixed-effects regression, RSI momentum
  * indicator, Almon polynomial distributed lag, freeze-frame run
  * detection. */
object RelMore199 extends KeyModule {

  private val centsExpr =
    "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"

  /** agg-panel-fixed-effects — the within estimator: pooled OLS of
    * nation-month log revenue on market log revenue AFTER demeaning
    * both within each nation — nation-level heterogeneity (size,
    * mix) drops out, leaving the common cyclical elasticity that
    * per-nation regressions (agg-capm-beta) estimate noisily one at
    * a time. Demeaning uses exact per-nation sums of the quantized
    * logs; the pooled slope is one closed form over the bounded
    * panel. */
  val aggPanelFixedEffects: Q = (s, d) => {
    val nm = orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("mi"))
      .agg(expr(s"sum($centsExpr)").as("rev"))
      .sharedCache()
    val mkt = nm.groupBy("mi").agg(sum("rev").as("mrev"))
    val pts = nm.join(mkt, Seq("mi"))
      .select(col("nk"),
        floor(log(col("rev").cast(DoubleType)) * 1e9).cast(LongType).as("y"),
        floor(log(col("mrev").cast(DoubleType)) * 1e9).cast(LongType).as("x"))
    val grp = pts.groupBy("nk").agg(count(lit(1)).as("gn"),
      sum("x").as("gsx"), sum("y").as("gsy"))
    val within = pts.join(grp, Seq("nk"))
      .select(
        (col("x").cast(DoubleType) -
          col("gsx").cast(DoubleType) / col("gn").cast(DoubleType)).as("xd"),
        (col("y").cast(DoubleType) -
          col("gsy").cast(DoubleType) / col("gn").cast(DoubleType)).as("yd"))
    within.agg(count(lit(1)).as("n_obs"),
      sum(col("xd") * col("xd")).as("sxx"),
      sum(col("xd") * col("yd")).as("sxy"),
      sum(col("yd") * col("yd")).as("syy"))
      .select(col("n_obs"),
        round(col("sxy") / col("sxx"), 4).as("within_elasticity"),
        round(col("sxy") * col("sxy") / (col("sxx") * col("syy")), 4)
          .as("within_r2"))
  }

  val aggPanelFixedEffectsSql: String =
    s"""WITH nm AS MATERIALIZED (
       |  SELECT c_nationkey AS nk,
       |         year(CAST(o_orderdate AS DATE)) * 12 +
       |           month(CAST(o_orderdate AS DATE)) AS mi,
       |         CAST(sum($centsExpr) AS BIGINT) AS rev
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  GROUP BY 1, 2),
       |mkt AS (SELECT mi, CAST(sum(rev) AS BIGINT) AS mrev FROM nm GROUP BY 1),
       |pts AS (
       |  SELECT nk,
       |         CAST(floor(ln(CAST(rev AS DOUBLE)) * 1e9) AS BIGINT) AS y,
       |         CAST(floor(ln(CAST(mrev AS DOUBLE)) * 1e9) AS BIGINT) AS x
       |  FROM nm JOIN mkt USING (mi)),
       |grp AS (
       |  SELECT nk, CAST(count(*) AS BIGINT) AS gn,
       |         CAST(sum(x) AS BIGINT) AS gsx, CAST(sum(y) AS BIGINT) AS gsy
       |  FROM pts GROUP BY 1),
       |within AS (
       |  SELECT CAST(x AS DOUBLE) - CAST(gsx AS DOUBLE) / CAST(gn AS DOUBLE)
       |           AS xd,
       |         CAST(y AS DOUBLE) - CAST(gsy AS DOUBLE) / CAST(gn AS DOUBLE)
       |           AS yd
       |  FROM pts JOIN grp USING (nk))
       |SELECT CAST(count(*) AS BIGINT) AS n_obs,
       |       round(sum(xd * yd) / sum(xd * xd), 4) AS within_elasticity,
       |       round(sum(xd * yd) * sum(xd * yd) /
       |             (sum(xd * xd) * sum(yd * yd)), 4) AS within_r2
       |FROM within""".stripMargin

  /** win-rsi-indicator — the relative strength index on monthly
    * revenue: RSI = 100 − 100/(1 + avg gain / avg loss) over a
    * trailing 6-month window (the Cutler simple-MA form — exact over
    * bounded frames, unlike Wilder's recursive EWMA). Emits the last
    * 12 months with their RSI and the overbought/oversold calls at
    * the canonical 70/30 lines. Gains/losses are exact integer
    * diffs; the window frames are month-bounded. */
  val winRsiIndicator: Q = (s, d) => {
    val w = Window.orderBy("mi")
    val wTrail = Window.orderBy("mi").rowsBetween(-5, 0)
    val wAll = Window.orderBy("mi")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val mon = orders(s, d)
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .as("mi"))
      .agg(expr(s"sum($centsExpr) DIV 100").as("rev"))
      .withColumn("prev", lag("rev", 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("gain", greatest(col("rev") - col("prev"), lit(0L)))
      .withColumn("loss", greatest(col("prev") - col("rev"), lit(0L)))
      .withColumn("sg", sum("gain").over(wTrail))
      .withColumn("sl", sum("loss").over(wTrail))
      .withColumn("nwin", count(lit(1)).over(wTrail))
      .withColumn("mx", max("mi").over(wAll))
      .filter(col("nwin") === 6 && col("mi") > col("mx") - 12)
      .withColumn("rsi", round(lit(100.0) - lit(100.0) /
        (lit(1.0) + col("sg").cast(DoubleType) /
          col("sl").cast(DoubleType)), 2))
    mon.select(col("mi").cast(IntegerType).as("month_index"),
      col("rev").as("revenue_usd"), col("rsi"),
      when(col("rsi") > 70.0, "overbought")
        .when(col("rsi") < 30.0, "oversold").otherwise("neutral").as("signal"))
      .orderBy("month_index")
  }

  val winRsiIndicatorSql: String =
    s"""WITH mon AS (
       |  SELECT mi, rev, lag(rev) OVER (ORDER BY mi) AS prev
       |  FROM (
       |    SELECT year(CAST(o_orderdate AS DATE)) * 12 +
       |             month(CAST(o_orderdate AS DATE)) AS mi,
       |           CAST(sum($centsExpr) // 100 AS BIGINT) AS rev
       |    FROM orders GROUP BY 1) q),
       |gl AS (
       |  SELECT mi, rev,
       |         greatest(rev - prev, 0) AS gain,
       |         greatest(prev - rev, 0) AS loss
       |  FROM mon WHERE prev IS NOT NULL),
       |trail AS (
       |  SELECT mi, rev,
       |         sum(gain) OVER (ORDER BY mi ROWS BETWEEN 5 PRECEDING AND
       |           CURRENT ROW) AS sg,
       |         sum(loss) OVER (ORDER BY mi ROWS BETWEEN 5 PRECEDING AND
       |           CURRENT ROW) AS sl,
       |         count(*) OVER (ORDER BY mi ROWS BETWEEN 5 PRECEDING AND
       |           CURRENT ROW) AS nwin,
       |         max(mi) OVER () AS mx
       |  FROM gl)
       |SELECT CAST(mi AS INTEGER) AS month_index, rev AS revenue_usd,
       |       round(100.0 - 100.0 /
       |             (1.0 + CAST(sg AS DOUBLE) / CAST(sl AS DOUBLE)), 2) AS rsi,
       |       CASE WHEN round(100.0 - 100.0 /
       |                 (1.0 + CAST(sg AS DOUBLE) / CAST(sl AS DOUBLE)), 2) > 70.0
       |            THEN 'overbought'
       |            WHEN round(100.0 - 100.0 /
       |                 (1.0 + CAST(sg AS DOUBLE) / CAST(sl AS DOUBLE)), 2) < 30.0
       |            THEN 'oversold' ELSE 'neutral' END AS signal
       |FROM trail
       |WHERE nwin = 6 AND mi > mx - 12
       |ORDER BY month_index""".stripMargin

  /** agg-almon-lag — the polynomial distributed lag: monthly revenue
    * regressed on SIX lags of order volume with the lag weights
    * constrained to a quadratic in the lag index (Almon's trick turns
    * 6 collinear lag regressors into 3 well-conditioned constructed
    * ones z_p = Σ_j j^p·x_{t−j}). The recovered weight curve w_j =
    * b0 + b1·j + b2·j² is the demand-memory profile; its peak lag is
    * the headline. Bounded month-frame lags, exact sums, closed-form
    * 3×3 solve (shared adjugate discipline). */
  val aggAlmonLag: Q = (s, d) => {
    val w = Window.orderBy("mi")
    val mon = orders(s, d)
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .as("mi"))
      .agg(count(lit(1)).as("x"),
        expr(s"sum($centsExpr) DIV 100").as("rev"))
    val lagged = (0 to 5).foldLeft(mon) { case (df, j) =>
      df.withColumn(s"x$j", lag("x", j).over(w))
    }.filter(col("x5").isNotNull)
      .select(col("rev").as("yv"),
        (0 to 5).map(j => col(s"x$j") * lit(1)).reduce(_ + _).as("z0"),
        (0 to 5).map(j => col(s"x$j") * lit(j.toLong)).reduce(_ + _).as("z1"),
        (0 to 5).map(j => col(s"x$j") * lit((j * j).toLong)).reduce(_ + _)
          .as("z2"))
    val mm = lagged.agg(count(lit(1)).as("n"),
      sum("z0").as("s1"), sum("z1").as("s2"), sum("z2").as("s3"),
      sum("yv").as("sy"),
      sum(expr("CAST(z0 AS DECIMAL(38,0)) * z0")).as("s11"),
      sum(expr("CAST(z0 AS DECIMAL(38,0)) * z1")).as("s12"),
      sum(expr("CAST(z0 AS DECIMAL(38,0)) * z2")).as("s13"),
      sum(expr("CAST(z1 AS DECIMAL(38,0)) * z1")).as("s22"),
      sum(expr("CAST(z1 AS DECIMAL(38,0)) * z2")).as("s23"),
      sum(expr("CAST(z2 AS DECIMAL(38,0)) * z2")).as("s33"),
      sum(expr("CAST(z0 AS DECIMAL(38,0)) * yv")).as("sy1"),
      sum(expr("CAST(z1 AS DECIMAL(38,0)) * yv")).as("sy2"),
      sum(expr("CAST(z2 AS DECIMAL(38,0)) * yv")).as("sy3"))
    val sol = mm.select((for (c <- Seq("n", "s1", "s2", "s3", "sy", "s11",
      "s12", "s13", "s22", "s23", "s33", "sy1", "sy2", "sy3"))
      yield col(c).cast(DoubleType).as(c)): _*)
      .select(
        (col("s11") - col("s1") * col("s1") / col("n")).as("a11"),
        (col("s12") - col("s1") * col("s2") / col("n")).as("a12"),
        (col("s13") - col("s1") * col("s3") / col("n")).as("a13"),
        (col("s22") - col("s2") * col("s2") / col("n")).as("a22"),
        (col("s23") - col("s2") * col("s3") / col("n")).as("a23"),
        (col("s33") - col("s3") * col("s3") / col("n")).as("a33"),
        (col("sy1") - col("s1") * col("sy") / col("n")).as("v1"),
        (col("sy2") - col("s2") * col("sy") / col("n")).as("v2"),
        (col("sy3") - col("s3") * col("sy") / col("n")).as("v3"))
      .withColumn("det",
        col("a11") * (col("a22") * col("a33") - col("a23") * col("a23")) -
          col("a12") * (col("a12") * col("a33") - col("a23") * col("a13")) +
          col("a13") * (col("a12") * col("a23") - col("a22") * col("a13")))
      .select(
        ((col("v1") * (col("a22") * col("a33") - col("a23") * col("a23")) -
          col("a12") * (col("v2") * col("a33") - col("a23") * col("v3")) +
          col("a13") * (col("v2") * col("a23") - col("a22") * col("v3"))) /
          col("det")).as("b0"),
        ((col("a11") * (col("v2") * col("a33") - col("v3") * col("a23")) -
          col("v1") * (col("a12") * col("a33") - col("a23") * col("a13")) +
          col("a13") * (col("a12") * col("v3") - col("v2") * col("a13"))) /
          col("det")).as("b1"),
        ((col("a11") * (col("a22") * col("v3") - col("a23") * col("v2")) -
          col("a12") * (col("a12") * col("v3") - col("v2") * col("a13")) +
          col("v1") * (col("a12") * col("a23") - col("a22") * col("a13"))) /
          col("det")).as("b2"))
    val weights = sol.select(explode(expr("sequence(0, 5)")).as("j"),
      col("b0"), col("b1"), col("b2"))
      .select(col("j"),
        (col("b0") + col("b1") * col("j").cast(DoubleType) +
          col("b2") * col("j").cast(DoubleType) * col("j").cast(DoubleType))
          .as("wj"))
    weights.orderBy(col("wj").desc, col("j")).limit(1)
      .select(col("j").cast(IntegerType).as("peak_lag"),
        round(col("wj"), 4).as("peak_weight_usd_per_order"))
      .crossJoin(sol.select(round(col("b0"), 4).as("b0"),
        round(col("b1"), 4).as("b1"), round(col("b2"), 4).as("b2")))
  }

  val aggAlmonLagSql: String = {
    val zdefs = (0 to 5).map(j =>
      s"lag(x, $j) OVER (ORDER BY mi) AS x$j").mkString(",\n       |         ")
    s"""WITH mon AS (
       |  SELECT year(CAST(o_orderdate AS DATE)) * 12 +
       |           month(CAST(o_orderdate AS DATE)) AS mi,
       |         CAST(count(*) AS BIGINT) AS x,
       |         CAST(sum($centsExpr) // 100 AS BIGINT) AS rev
       |  FROM orders GROUP BY 1),
       |lagged AS (
       |  SELECT rev AS yv,
       |         x0 + x1 + x2 + x3 + x4 + x5 AS z0,
       |         0 * x0 + 1 * x1 + 2 * x2 + 3 * x3 + 4 * x4 + 5 * x5 AS z1,
       |         0 * x0 + 1 * x1 + 4 * x2 + 9 * x3 + 16 * x4 + 25 * x5 AS z2
       |  FROM (
       |    SELECT mi, rev,
       |         $zdefs
       |    FROM mon) q
       |  WHERE x5 IS NOT NULL),
       |mm AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n,
       |         CAST(sum(z0) AS DOUBLE) AS s1, CAST(sum(z1) AS DOUBLE) AS s2,
       |         CAST(sum(z2) AS DOUBLE) AS s3, CAST(sum(yv) AS DOUBLE) AS sy,
       |         CAST(sum(CAST(z0 AS HUGEINT) * z0) AS DOUBLE) AS s11,
       |         CAST(sum(CAST(z0 AS HUGEINT) * z1) AS DOUBLE) AS s12,
       |         CAST(sum(CAST(z0 AS HUGEINT) * z2) AS DOUBLE) AS s13,
       |         CAST(sum(CAST(z1 AS HUGEINT) * z1) AS DOUBLE) AS s22,
       |         CAST(sum(CAST(z1 AS HUGEINT) * z2) AS DOUBLE) AS s23,
       |         CAST(sum(CAST(z2 AS HUGEINT) * z2) AS DOUBLE) AS s33,
       |         CAST(sum(CAST(z0 AS HUGEINT) * yv) AS DOUBLE) AS sy1,
       |         CAST(sum(CAST(z1 AS HUGEINT) * yv) AS DOUBLE) AS sy2,
       |         CAST(sum(CAST(z2 AS HUGEINT) * yv) AS DOUBLE) AS sy3
       |  FROM lagged),
       |sol AS (
       |  SELECT (v1 * (a22 * a33 - a23 * a23) -
       |          a12 * (v2 * a33 - a23 * v3) +
       |          a13 * (v2 * a23 - a22 * v3)) / det AS b0,
       |         (a11 * (v2 * a33 - v3 * a23) -
       |          v1 * (a12 * a33 - a23 * a13) +
       |          a13 * (a12 * v3 - v2 * a13)) / det AS b1,
       |         (a11 * (a22 * v3 - a23 * v2) -
       |          a12 * (a12 * v3 - v2 * a13) +
       |          v1 * (a12 * a23 - a22 * a13)) / det AS b2
       |  FROM (
       |    SELECT *,
       |           a11 * (a22 * a33 - a23 * a23) -
       |           a12 * (a12 * a33 - a23 * a13) +
       |           a13 * (a12 * a23 - a22 * a13) AS det
       |    FROM (
       |      SELECT s11 - s1 * s1 / n AS a11, s12 - s1 * s2 / n AS a12,
       |             s13 - s1 * s3 / n AS a13, s22 - s2 * s2 / n AS a22,
       |             s23 - s2 * s3 / n AS a23, s33 - s3 * s3 / n AS a33,
       |             sy1 - s1 * sy / n AS v1, sy2 - s2 * sy / n AS v2,
       |             sy3 - s3 * sy / n AS v3
       |      FROM mm) a) b),
       |weights AS (
       |  SELECT j, b0 + b1 * j + b2 * j * j AS wj, b0, b1, b2
       |  FROM sol CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS j) js)
       |SELECT CAST(j AS INTEGER) AS peak_lag,
       |       round(wj, 4) AS peak_weight_usd_per_order,
       |       round(b0, 4) AS b0, round(b1, 4) AS b1, round(b2, 4) AS b2
       |FROM weights ORDER BY wj DESC, j LIMIT 1""".stripMargin
  }

  /** mm-freeze-frame-detect — video QA on the stub decode: frames are
    * the fixed-size payload chunks (the mm-frame-sample convention),
    * a freeze is a run of consecutive IDENTICAL frame hashes, and the
    * detector reports per-corpus: documents with any freeze, the
    * longest run, and the frozen-frame share — the dataflow of real
    * freeze detection (hash → doc-partitioned lag → run grouping)
    * with only the decoder stubbed. */
  val mmFreezeFrameDetect: Q = (s, d) => {
    val frames = documents(s, d)
      .filter(length(col("text")) >= 64)
      .select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(0, CAST(floor((length(text) - 1) / 32.0) AS INT)), " +
            "i -> substring(text, i * 32 + 1, 32))"))
          .as(Seq("fi", "frame")))
      .select(col("doc_id"), col("fi"), md5(col("frame")).as("h"))
    val w = Window.partitionBy("doc_id").orderBy("fi")
    val runs = frames
      .withColumn("newrun", when(lag("h", 1).over(w).isNull ||
        lag("h", 1).over(w) =!= col("h"), 1L).otherwise(0L))
      .withColumn("runid", sum("newrun").over(
        Window.partitionBy("doc_id").orderBy("fi")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "runid").agg(count(lit(1)).as("runlen"))
    val perdoc = runs.groupBy("doc_id")
      .agg(max("runlen").as("maxrun"), sum("runlen").as("nframes"),
        sum(when(col("runlen") >= 2, col("runlen")).otherwise(0L))
          .as("frozen"))
    perdoc.agg(count(lit(1)).as("n_docs"),
      sum(when(col("maxrun") >= 2, 1L).otherwise(0L)).as("docs_with_freeze"),
      max("maxrun").as("longest_freeze_run"),
      round(sum("frozen").cast(DoubleType) /
        sum("nframes").cast(DoubleType), 6).as("frozen_frame_share"))
  }

  val mmFreezeFrameDetectSql: String =
    """WITH frames AS (
      |  SELECT doc_id, i - 1 AS fi,
      |         md5(substring(text, (i - 1) * 32 + 1, 32)) AS h
      |  FROM documents,
      |       LATERAL (SELECT unnest(generate_series(1,
      |         CAST(floor((length(text) - 1) / 32.0) AS INT) + 1)) AS i) u
      |  WHERE length(text) >= 64),
      |runs AS (
      |  SELECT doc_id, runid, CAST(count(*) AS BIGINT) AS runlen
      |  FROM (
      |    SELECT doc_id,
      |           sum(newrun) OVER (PARTITION BY doc_id ORDER BY fi
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runid
      |    FROM (
      |      SELECT doc_id, fi, h,
      |             CASE WHEN lag(h) OVER (PARTITION BY doc_id ORDER BY fi)
      |                  IS DISTINCT FROM h THEN 1 ELSE 0 END AS newrun
      |      FROM frames) q1) q2
      |  GROUP BY 1, 2),
      |perdoc AS (
      |  SELECT doc_id, max(runlen) AS maxrun, sum(runlen) AS nframes,
      |         sum(CASE WHEN runlen >= 2 THEN runlen ELSE 0 END) AS frozen
      |  FROM runs GROUP BY 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(CASE WHEN maxrun >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS docs_with_freeze,
      |       CAST(max(maxrun) AS BIGINT) AS longest_freeze_run,
      |       round(CAST(sum(frozen) AS DOUBLE) / CAST(sum(nframes) AS DOUBLE),
      |             6) AS frozen_frame_share
      |FROM perdoc""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-panel-fixed-effects", aggPanelFixedEffects, aggPanelFixedEffectsSql),
    Key("win-rsi-indicator", winRsiIndicator, winRsiIndicatorSql),
    Key("agg-almon-lag", aggAlmonLag, aggAlmonLagSql),
    Key("mm-freeze-frame-detect", mmFreezeFrameDetect, mmFreezeFrameDetectSql))
}
