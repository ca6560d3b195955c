package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-8 batch AC: LMDI index decomposition, shift-share growth
  * accounting, location quotients, interrupted time series. */
object RelMore194 extends KeyModule {

  private val centsExpr =
    "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"

  /** agg-lmdi-decomposition — the log-mean Divisia index: total
    * revenue change 1996→1997 decomposed EXACTLY (no residual — the
    * property that made LMDI the standard over Laspeyres-style
    * decompositions) into an activity effect (order count) and an
    * intensity effect (value per order), per nation and summed:
    * ΔV = Σ_i L(v1,v0)·ln(q1/q0) + Σ_i L(v1,v0)·ln(u1/u0), with
    * L(a,b) = (a−b)/ln(a/b) the logarithmic mean. Complements
    * agg-revenue-bridge (additive waterfall): LMDI is the index-
    * theoretic decomposition whose parts close by construction.
    * Per-nation terms are quantized before the bounded-frame sums;
    * the closure check ships in the output. */
  val aggLmdiDecomposition: Q = (s, d) => {
    val nk = orders(s, d)
      .filter(year(col("o_orderdate")).isin(1996, 1997))
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"), year(col("o_orderdate")).as("y"))
      .agg(expr(s"sum($centsExpr) DIV 100").as("v"), count(lit(1)).as("q"))
    val wide = nk.groupBy("nk").agg(
      sum(when(col("y") === 1996, col("v"))).as("v0"),
      sum(when(col("y") === 1997, col("v"))).as("v1"),
      sum(when(col("y") === 1996, col("q"))).as("q0"),
      sum(when(col("y") === 1997, col("q"))).as("q1"))
      .filter(col("v0").isNotNull && col("v1").isNotNull)
      .select(col("nk"),
        col("v0").cast(DoubleType).as("v0"), col("v1").cast(DoubleType).as("v1"),
        col("q0").cast(DoubleType).as("q0"), col("q1").cast(DoubleType).as("q1"))
      .withColumn("lm", when(abs(col("v1") - col("v0")) < 0.5, col("v0"))
        .otherwise((col("v1") - col("v0")) / log(col("v1") / col("v0"))))
      .withColumn("act", floor(col("lm") *
        log(col("q1") / col("q0")) * 100).cast(LongType))
      .withColumn("inten", floor(col("lm") *
        log((col("v1") / col("q1")) / (col("v0") / col("q0"))) * 100)
        .cast(LongType))
    wide.agg(count(lit(1)).as("k_nations"),
      expr("CAST(sum(v1 - v0) AS BIGINT)").as("delta_v_usd"),
      expr("sum(act) DIV 100").as("activity_effect_usd"),
      expr("sum(inten) DIV 100").as("intensity_effect_usd"))
      .select(col("k_nations"), col("delta_v_usd"),
        col("activity_effect_usd"), col("intensity_effect_usd"),
        round(abs(col("delta_v_usd") - col("activity_effect_usd") -
          col("intensity_effect_usd")).cast(DoubleType) /
          abs(col("delta_v_usd")).cast(DoubleType), 6).as("residual_share"))
  }

  val aggLmdiDecompositionSql: String =
    s"""WITH nk AS (
       |  SELECT c_nationkey AS nk, year(CAST(o_orderdate AS DATE)) AS y,
       |         CAST(sum($centsExpr) // 100 AS BIGINT) AS v,
       |         CAST(count(*) AS BIGINT) AS q
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  WHERE year(CAST(o_orderdate AS DATE)) IN (1996, 1997)
       |  GROUP BY 1, 2),
       |wide AS (
       |  SELECT nk, v0, v1, q0, q1,
       |         CASE WHEN abs(v1 - v0) < 0.5 THEN v0
       |              ELSE (v1 - v0) / ln(v1 / v0) END AS lm
       |  FROM (
       |    SELECT nk,
       |           CAST(sum(CASE WHEN y = 1996 THEN v END) AS DOUBLE) AS v0,
       |           CAST(sum(CASE WHEN y = 1997 THEN v END) AS DOUBLE) AS v1,
       |           CAST(sum(CASE WHEN y = 1996 THEN q END) AS DOUBLE) AS q0,
       |           CAST(sum(CASE WHEN y = 1997 THEN q END) AS DOUBLE) AS q1
       |    FROM nk GROUP BY 1) t
       |  WHERE v0 IS NOT NULL AND v1 IS NOT NULL),
       |terms AS (
       |  SELECT *,
       |         CAST(floor(lm * ln(q1 / q0) * 100) AS BIGINT) AS act,
       |         CAST(floor(lm * ln((v1 / q1) / (v0 / q0)) * 100) AS BIGINT)
       |           AS inten
       |  FROM wide)
       |SELECT CAST(count(*) AS BIGINT) AS k_nations,
       |       CAST(sum(v1 - v0) AS BIGINT) AS delta_v_usd,
       |       CAST(sum(act) // 100 AS BIGINT) AS activity_effect_usd,
       |       CAST(sum(inten) // 100 AS BIGINT) AS intensity_effect_usd,
       |       round(CAST(abs(sum(v1 - v0) - sum(act) // 100 - sum(inten) // 100)
       |             AS DOUBLE) / CAST(abs(sum(v1 - v0)) AS DOUBLE), 6)
       |         AS residual_share
       |FROM terms""".stripMargin

  /** agg-shift-share — regional growth accounting: each nation's
    * 1996→1997 revenue growth split into the NATIONAL effect (what
    * growing with the whole book would give), the INDUSTRY-MIX effect
    * (being overweight in fast-growing priority classes), and the
    * COMPETITIVE effect (beating your own mix) — the three-way
    * decomposition regional economists run on employment data, here
    * on the (nation × priority) revenue panel. All terms close to the
    * actual growth by construction; the op emits the top-5 nations by
    * competitive effect. Exact panel sums; bounded 125-cell frame. */
  val aggShiftShare: Q = (s, d) => {
    val panel = orders(s, d)
      .filter(year(col("o_orderdate")).isin(1996, 1997))
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"), col("o_orderpriority").as("ind"),
        year(col("o_orderdate")).as("y"))
      .agg(expr(s"sum($centsExpr) DIV 100").as("v"))
      .groupBy("nk", "ind")
      .agg(sum(when(col("y") === 1996, col("v")).otherwise(0L)).as("e0"),
        sum(when(col("y") === 1997, col("v")).otherwise(0L)).as("e1"))
      .sharedCache()
    val nat = panel.agg(
      (sum("e1").cast(DoubleType) / sum("e0").cast(DoubleType) - 1.0).as("g"))
    val indG = panel.groupBy("ind").agg(
      (sum("e1").cast(DoubleType) / sum("e0").cast(DoubleType) - 1.0).as("gi"))
    panel.join(indG, Seq("ind")).crossJoin(broadcast(nat))
      .select(col("nk"),
        col("e0").cast(DoubleType).as("e0d"),
        col("e1").cast(DoubleType).as("e1d"),
        col("g"), col("gi"))
      .groupBy("nk")
      .agg(sum(col("e1d") - col("e0d")).as("actual"),
        sum(col("e0d") * col("g")).as("national"),
        sum(col("e0d") * (col("gi") - col("g"))).as("mix"),
        sum(col("e1d") - col("e0d") * (lit(1.0) + col("gi"))).as("competitive"))
      .select(col("nk").cast(LongType).as("nationkey"),
        round(col("actual"), 2).as("actual_growth_usd"),
        round(col("national"), 2).as("national_effect_usd"),
        round(col("mix"), 2).as("mix_effect_usd"),
        round(col("competitive"), 2).as("competitive_effect_usd"))
      .orderBy(col("competitive_effect_usd").desc, col("nationkey"))
      .limit(5)
  }

  val aggShiftShareSql: String =
    s"""WITH panel AS MATERIALIZED (
       |  SELECT nk, ind,
       |         CAST(sum(CASE WHEN y = 1996 THEN v ELSE 0 END) AS BIGINT) AS e0,
       |         CAST(sum(CASE WHEN y = 1997 THEN v ELSE 0 END) AS BIGINT) AS e1
       |  FROM (
       |    SELECT c_nationkey AS nk, o_orderpriority AS ind,
       |           year(CAST(o_orderdate AS DATE)) AS y,
       |           CAST(sum($centsExpr) // 100 AS BIGINT) AS v
       |    FROM orders JOIN customer ON o_custkey = c_custkey
       |    WHERE year(CAST(o_orderdate AS DATE)) IN (1996, 1997)
       |    GROUP BY 1, 2, 3) t
       |  GROUP BY 1, 2),
       |nat AS (
       |  SELECT CAST(sum(e1) AS DOUBLE) / CAST(sum(e0) AS DOUBLE) - 1.0 AS g
       |  FROM panel),
       |indg AS (
       |  SELECT ind, CAST(sum(e1) AS DOUBLE) / CAST(sum(e0) AS DOUBLE) - 1.0
       |           AS gi
       |  FROM panel GROUP BY 1)
       |SELECT CAST(nk AS BIGINT) AS nationkey,
       |       round(sum(e1d - e0d), 2) AS actual_growth_usd,
       |       round(sum(e0d * g), 2) AS national_effect_usd,
       |       round(sum(e0d * (gi - g)), 2) AS mix_effect_usd,
       |       round(sum(e1d - e0d * (1.0 + gi)), 2) AS competitive_effect_usd
       |FROM (
       |  SELECT nk, CAST(e0 AS DOUBLE) AS e0d, CAST(e1 AS DOUBLE) AS e1d, gi, g
       |  FROM panel JOIN indg USING (ind) CROSS JOIN nat) q
       |GROUP BY nk
       |ORDER BY competitive_effect_usd DESC, nationkey LIMIT 5""".stripMargin

  /** agg-location-quotient — regional specialization: LQ_ij =
    * (nation i's share of priority class j) / (the class's share of
    * the whole book); LQ > 1.25 marks a specialization cluster. The
    * op returns the most-specialized (nation, class) cells — the
    * regional-economics screen behind "where is URGENT volume
    * concentrated". One panel aggregate, bounded 125-cell math,
    * orderBy+limit for the report. */
  val aggLocationQuotient: Q = (s, d) => {
    val panel = orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"), col("o_orderpriority").as("ind"))
      .agg(count(lit(1)).as("e"))
      .sharedCache()
    val regTot = panel.groupBy("nk").agg(sum("e").as("er"))
    val indTot = panel.groupBy("ind").agg(sum("e").as("ei"))
    val grand = panel.agg(sum("e").as("eg"))
    panel.join(regTot, Seq("nk")).join(indTot, Seq("ind"))
      .crossJoin(broadcast(grand))
      .select(col("nk").cast(LongType).as("nationkey"),
        col("ind").as("priority"), col("e").as("n_orders"),
        round((col("e").cast(DoubleType) / col("er").cast(DoubleType)) /
          (col("ei").cast(DoubleType) / col("eg").cast(DoubleType)), 4)
          .as("location_quotient"))
      .orderBy(col("location_quotient").desc, col("nationkey"), col("priority"))
      .limit(10)
  }

  val aggLocationQuotientSql: String =
    """WITH panel AS MATERIALIZED (
      |  SELECT c_nationkey AS nk, o_orderpriority AS ind,
      |         CAST(count(*) AS BIGINT) AS e
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |rt AS (SELECT nk, CAST(sum(e) AS BIGINT) AS er FROM panel GROUP BY 1),
      |it AS (SELECT ind, CAST(sum(e) AS BIGINT) AS ei FROM panel GROUP BY 1),
      |g AS (SELECT CAST(sum(e) AS BIGINT) AS eg FROM panel)
      |SELECT CAST(nk AS BIGINT) AS nationkey, ind AS priority,
      |       e AS n_orders,
      |       round((CAST(e AS DOUBLE) / CAST(er AS DOUBLE)) /
      |             (CAST(ei AS DOUBLE) / CAST(eg AS DOUBLE)), 4)
      |         AS location_quotient
      |FROM panel JOIN rt USING (nk) JOIN it USING (ind) CROSS JOIN g
      |ORDER BY location_quotient DESC, nationkey, priority LIMIT 10""".stripMargin

  /** agg-interrupted-time-series — segmented regression around a known
    * intervention date (1998-01): separate OLS lines on the monthly
    * revenue series before and after, reporting the LEVEL change at
    * the cutpoint and the SLOPE change — the ITS estimates that turn
    * agg-chow-break's "is there a break?" into "how big, in which
    * direction". Exact moment sums per segment over the bounded month
    * frame; closed forms; both lines evaluated AT the cut month so
    * the level jump is well-defined. */
  val aggInterruptedTimeSeries: Q = (s, d) => {
    val cut = 1998 * 12 + 1
    val mon = orders(s, d)
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .as("mi"))
      .agg(expr(s"sum($centsExpr) DIV 100").as("rev"))
      .select((col("mi") - cut).as("t"), col("rev"),
        (col("mi") >= cut).as("post"))
    val seg = mon.groupBy("post").agg(
      count(lit(1)).as("n"),
      sum("t").as("sx"), sum("rev").as("sy"),
      sum(col("t") * col("t")).as("sxx"),
      sum(col("t") * col("rev")).as("sxy"))
      .select(col("post"), col("n").cast(DoubleType).as("n"),
        col("sx").cast(DoubleType).as("sx"), col("sy").cast(DoubleType).as("sy"),
        col("sxx").cast(DoubleType).as("sxx"),
        col("sxy").cast(DoubleType).as("sxy"))
      .select(col("post"), col("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"),
        col("sy"), col("sx"))
      .select(col("post"), col("n"), col("slope"),
        ((col("sy") - col("slope") * col("sx")) / col("n")).as("icept"))
    seg.groupBy().agg(
      sum(when(col("post"), col("n")).otherwise(0.0)).cast(LongType)
        .as("n_post_months"),
      sum(when(!col("post"), col("n")).otherwise(0.0)).cast(LongType)
        .as("n_pre_months"),
      round(max(when(!col("post"), col("slope"))), 2).as("slope_pre_usd"),
      round(max(when(col("post"), col("slope"))), 2).as("slope_post_usd"),
      round(max(when(col("post"), col("slope"))) -
        max(when(!col("post"), col("slope"))), 2).as("slope_change_usd"),
      round(max(when(col("post"), col("icept"))) -
        max(when(!col("post"), col("icept"))), 2).as("level_change_usd"))
  }

  val aggInterruptedTimeSeriesSql: String =
    s"""WITH mon AS (
       |  SELECT mi - ${1998 * 12 + 1} AS t, rev, mi >= ${1998 * 12 + 1} AS post
       |  FROM (
       |    SELECT year(CAST(o_orderdate AS DATE)) * 12 +
       |             month(CAST(o_orderdate AS DATE)) AS mi,
       |           CAST(sum($centsExpr) // 100 AS BIGINT) AS rev
       |    FROM orders GROUP BY 1) q),
       |seg AS (
       |  SELECT post, n, slope, (sy - slope * sx) / n AS icept
       |  FROM (
       |    SELECT post, n,
       |           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope, sy, sx
       |    FROM (
       |      SELECT post, CAST(count(*) AS DOUBLE) AS n,
       |             CAST(sum(t) AS DOUBLE) AS sx, CAST(sum(rev) AS DOUBLE) AS sy,
       |             CAST(sum(t * t) AS DOUBLE) AS sxx,
       |             CAST(sum(t * rev) AS DOUBLE) AS sxy
       |      FROM mon GROUP BY 1) a) b)
       |SELECT CAST(sum(CASE WHEN post THEN n ELSE 0 END) AS BIGINT)
       |         AS n_post_months,
       |       CAST(sum(CASE WHEN NOT post THEN n ELSE 0 END) AS BIGINT)
       |         AS n_pre_months,
       |       round(max(CASE WHEN NOT post THEN slope END), 2) AS slope_pre_usd,
       |       round(max(CASE WHEN post THEN slope END), 2) AS slope_post_usd,
       |       round(max(CASE WHEN post THEN slope END) -
       |             max(CASE WHEN NOT post THEN slope END), 2)
       |         AS slope_change_usd,
       |       round(max(CASE WHEN post THEN icept END) -
       |             max(CASE WHEN NOT post THEN icept END), 2)
       |         AS level_change_usd
       |FROM seg""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-lmdi-decomposition", aggLmdiDecomposition, aggLmdiDecompositionSql),
    Key("agg-shift-share", aggShiftShare, aggShiftShareSql),
    Key("agg-location-quotient", aggLocationQuotient, aggLocationQuotientSql),
    Key("agg-interrupted-time-series", aggInterruptedTimeSeries, aggInterruptedTimeSeriesSql))
}
