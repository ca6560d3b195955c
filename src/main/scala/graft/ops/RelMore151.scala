package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch AZ: bot fingerprinting, profit-curve targeting,
  * week-numbering conventions, DeLong AUC interval. */
object RelMore151 extends KeyModule {

  /** dq-bot-fingerprint — behavioral bot scoring per user from three
    * orthogonal fingerprints: burst share (inter-arrival < 5 min),
    * clock coverage (distinct active hours / 24 — humans sleep,
    * scripts don't), and transition repetitiveness (share of
    * consecutive same-type events — loops repeat). Each alone has
    * benign explanations; the COMPOSITE is the standard triage
    * ranking, and filtering synthetic agents out of behavioral
    * corpora is the events-side sibling of text-greenlist-watermark.
    * Inter-arrivals and transitions from one per-user window pass;
    * every share is an exact integer ratio; the composite is a sum
    * of three micro-quantized shares (deterministic ordering, user
    * tiebreak). Top 10 suspects. */
  val dqBotFingerprint: Q = (s, d) => {
    val ev = events(s, d).select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"), col("event_id"))
    val wu = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val feats = ev
      .withColumn("prev_us", lag("us", 1).over(wu))
      .withColumn("prev_ty", lag("event_type", 1).over(wu))
      .withColumn("hr", expr("CAST((us div 3600000000) % 24 AS INT)"))
    val perUser = feats.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("prev_us").isNotNull &&
          col("us") - col("prev_us") < 300000000L, 1L).otherwise(0L)).as("fast"),
        sum(when(col("prev_us").isNotNull, 1L).otherwise(0L)).as("gaps"),
        count_distinct(col("hr")).as("hours_active"),
        sum(when(col("prev_ty") === col("event_type"), 1L).otherwise(0L)).as("repeats"))
      .filter(col("gaps") >= 20)
    perUser.select(col("user_id"), col("n_events"),
        ratioFloor(col("fast").cast(DoubleType), col("gaps"), 6).as("burst_share"),
        ratioFloor(col("hours_active").cast(DoubleType), lit(24), 6).as("clock_coverage"),
        ratioFloor(col("repeats").cast(DoubleType), col("gaps"), 6).as("repeat_share"))
      .withColumn("bot_score",
        round(col("burst_share") + col("clock_coverage") + col("repeat_share"), 6))
      .orderBy(col("bot_score").desc, col("user_id"))
      .limit(10)
  }

  val dqBotFingerprintSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type,
      |         epoch_us(date_trunc('microseconds', ts)) AS us, event_id
      |  FROM events),
      |feats AS (
      |  SELECT user_id, event_type,
      |         lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us,
      |         lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id)
      |           AS prev_ty,
      |         us, CAST((us // 3600000000) % 24 AS INTEGER) AS hr
      |  FROM ev),
      |per_user AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |         CAST(sum(CASE WHEN prev_us IS NOT NULL AND us - prev_us < 300000000
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS fast,
      |         CAST(sum(CASE WHEN prev_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |           AS gaps,
      |         CAST(count(DISTINCT hr) AS BIGINT) AS hours_active,
      |         CAST(sum(CASE WHEN prev_ty = event_type THEN 1 ELSE 0 END) AS BIGINT)
      |           AS repeats
      |  FROM feats GROUP BY 1
      |  HAVING sum(CASE WHEN prev_us IS NOT NULL THEN 1 ELSE 0 END) >= 20),
      |scored AS (
      |  SELECT user_id, n_events,
      |         floor(CAST(fast AS DOUBLE) * 1e6 / gaps) / 1e6 AS burst_share,
      |         floor(CAST(hours_active AS DOUBLE) * 1e6 / 24) / 1e6 AS clock_coverage,
      |         floor(CAST(repeats AS DOUBLE) * 1e6 / gaps) / 1e6 AS repeat_share
      |  FROM per_user)
      |SELECT user_id, n_events, burst_share, clock_coverage, repeat_share,
      |       round(burst_share + clock_coverage + repeat_share, 6) AS bot_score
      |FROM scored
      |ORDER BY bot_score DESC, user_id
      |LIMIT 10""".stripMargin

  /** agg-profit-curve — expected-profit targeting curve: customers
    * ranked into spend deciles, cumulative profit at each targeting
    * depth under a $100-per-conversion margin and $10-per-contact
    * cost (conversion = the customer has ≥ 1 URGENT order), with the
    * argmax depth flagged. agg-uplift-deciles ranks by MODEL lift;
    * the profit curve prices the CAMPAIGN — the translation layer
    * between a ranking metric and a budget decision, where the
    * optimal depth is almost never "everyone" (measured here).
    * Deciles are exact ntile over (spend, custkey); profits are pure
    * integer arithmetic; the argmax is an integer comparison with
    * depth tiebreak. */
  val aggProfitCurve: Q = (s, d) => {
    // exact ntile via the PrefixScan two-pass — the old global ntile
    // window was a single-partition sort of the per-customer frame
    val cust0 = orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .as("spend"),
        max(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("conv"))
    val sc = graft.functions.PrefixScan.withRankCumSum(cust0,
      Seq(col("spend").desc, col("o_custkey")), None, rankName = "rn")
    val cust = sc.df
      .withColumn("decile",
        graft.functions.PrefixScan.ntileFromRank(10, sc.n, col("rn")))
    val perDecile = cust.groupBy("decile")
      .agg(count(lit(1)).as("n_contacts"), sum("conv").as("n_conv"))
    val curve = perDecile
      .withColumn("cum_contacts", sum("n_contacts").over(Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_conv", sum("n_conv").over(Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_profit", col("cum_conv") * 100 - col("cum_contacts") * 10)
      .sharedCache()
    val best = curve.agg(max("cum_profit").as("best_profit"))
    curve.crossJoin(broadcast(best))
      .withColumn("optimal_depth", col("cum_profit") === col("best_profit") &&
        col("decile") === min(when(col("cum_profit") === col("best_profit"),
          col("decile"))).over(Window.partitionBy()))
      .select(col("decile"), col("n_contacts"), col("n_conv"),
        col("cum_contacts"), col("cum_conv"), col("cum_profit"), col("optimal_depth"))
      .orderBy("decile")
  }

  val aggProfitCurveSql: String =
    """WITH cust AS (
      |  SELECT o_custkey,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS spend,
      |         max(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS conv
      |  FROM orders GROUP BY 1),
      |ranked AS (
      |  SELECT conv, ntile(10) OVER (ORDER BY spend DESC, o_custkey) AS decile
      |  FROM cust),
      |per_decile AS (
      |  SELECT decile, CAST(count(*) AS BIGINT) AS n_contacts,
      |         CAST(sum(conv) AS BIGINT) AS n_conv
      |  FROM ranked GROUP BY 1),
      |curve AS (
      |  SELECT decile, n_contacts, n_conv,
      |         CAST(sum(n_contacts) OVER (ORDER BY decile
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |           AS cum_contacts,
      |         CAST(sum(n_conv) OVER (ORDER BY decile
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_conv
      |  FROM per_decile),
      |profits AS (
      |  SELECT decile, n_contacts, n_conv, cum_contacts, cum_conv,
      |         CAST(cum_conv * 100 - cum_contacts * 10 AS BIGINT) AS cum_profit
      |  FROM curve),
      |best AS (SELECT max(cum_profit) AS best_profit FROM profits)
      |SELECT decile, n_contacts, n_conv, cum_contacts, cum_conv, cum_profit,
      |       cum_profit = best_profit AND
      |       decile = min(CASE WHEN cum_profit = best_profit THEN decile END) OVER ()
      |         AS optimal_depth
      |FROM profits CROSS JOIN best
      |ORDER BY decile""".stripMargin

  /** gen-week-conventions — the ISO-vs-US week-numbering audit over
    * the full order-date domain: ISO weeks (Monday start, Thursday
    * rule — both engines' weekofyear builtin) against the explicit
    * US convention (Sunday start, week 1 contains Jan 1), built from
    * FIRST PRINCIPLES via epoch-day arithmetic anchored on a known
    * Sunday so no engine-specific day-of-week numbering ever enters
    * (Spark's dayofweek is 1=Sunday, DuckDB's is 0=Sunday — the
    * precise trap this op documents). Per year: how many calendar
    * days carry DIFFERENT week numbers under the two conventions —
    * the blast radius of an unstated convention in a weekly rollup
    * join. Pure integer date arithmetic. */
  val genWeekConventions: Q = (s, d) => {
    val days = orders(s, d)
      .select(to_date(col("o_orderdate")).as("dt")).distinct()
      .withColumn("yr", year(col("dt")))
      .withColumn("iso_wk", weekofyear(col("dt")))
      // US week: Sunday-start; anchor 1970-01-04 was a Sunday
      .withColumn("jan1", to_date(concat(col("yr"), lit("-01-01"))))
      .withColumn("jan1_dow0", pmod(datediff(col("jan1"), lit("1970-01-04")), lit(7)))
      .withColumn("us_wk", expr("CAST((datediff(dt, jan1) + jan1_dow0) div 7 + 1 AS INT)"))
    days.groupBy("yr")
      .agg(count(lit(1)).as("n_days"),
        max("iso_wk").as("max_iso_week"), max("us_wk").as("max_us_week"),
        sum(when(col("iso_wk") =!= col("us_wk"), 1L).otherwise(0L))
          .as("days_with_different_week"))
      .select(col("yr").as("year"), col("n_days"), col("max_iso_week"),
        col("max_us_week"), col("days_with_different_week"),
        ratioFloor(col("days_with_different_week").cast(DoubleType), col("n_days"), 6)
          .as("mismatch_share"))
      .orderBy("year")
  }

  val genWeekConventionsSql: String =
    """WITH days AS (
      |  SELECT dt, year(dt) AS yr, weekofyear(dt) AS iso_wk,
      |         CAST((datediff('day', make_date(year(dt), 1, 1), dt) +
      |               (datediff('day', DATE '1970-01-04', make_date(year(dt), 1, 1)) % 7 + 7) % 7)
      |              // 7 + 1 AS INTEGER) AS us_wk
      |  FROM (SELECT DISTINCT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt
      |        FROM orders) t)
      |SELECT yr AS year, CAST(count(*) AS BIGINT) AS n_days,
      |       max(iso_wk) AS max_iso_week, max(us_wk) AS max_us_week,
      |       CAST(sum(CASE WHEN iso_wk <> us_wk THEN 1 ELSE 0 END) AS BIGINT)
      |         AS days_with_different_week,
      |       floor(CAST(sum(CASE WHEN iso_wk <> us_wk THEN 1 ELSE 0 END) AS DOUBLE) * 1e6
      |             / count(*)) / 1e6 AS mismatch_share
      |FROM days GROUP BY yr
      |ORDER BY year""".stripMargin

  /** agg-auc-delong-ci — the exact AUC of quantity as a returned-line
    * score, WITH DeLong's nonparametric confidence interval: the
    * placement-value variances S₁₀/S₀₁ come from the same midrank
    * machinery as the point estimate, so the CI costs two more
    * window columns, not a bootstrap. agg-auc-exact gives the point;
    * a point AUC of 0.52 means nothing without the CI that says
    * whether 0.5 is inside — this is the difference between "weak
    * signal" and "no signal" for a screening feature. Doubled
    * midranks keep every placement value an exact integer (V·2n₋ is
    * integer); their moments fold exactly over the value-domain
    * histogram (Midranks.doubled — no row-level rank window). */
  val aggAucDelongCi: Q = (s, d) => {
    val v = lineitem(s, d).select(
        when(col("l_returnflag") === "R", 1).otherwise(0).as("pos"),
        expr("CAST(l_quantity AS BIGINT)").as("sc"),
        col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
    // Both midrank columns (overall and within-class) come from ONE
    // value-domain histogram + PrefixScan (Midranks.doubled): mr2 and
    // mr2w are functions of (pos, sc) alone, so the per-class moments
    // of the placement numerators p2 = mr2 − mr2w fold over the
    // histogram weighted by the class counts — never a rank window
    // over every lineitem row. The rank table is |score domain| rows.
    val mrt = graft.functions.Midranks.doubled(v, "sc",
      Seq("cp" -> (col("pos") === 1), "cn" -> (col("pos") === 0)))
    val mom = mrt.select(col("cp"), col("cn"),
        (col("mr2") - col("cp_mr2")).as("p2p"),
        (col("mr2") - col("cn_mr2")).as("p2n"))
      .agg(
        sum("cp").cast(DecimalType(38, 0)).as("np"),
        sum(expr("CAST(cp AS DECIMAL(38,0)) * p2p")).as("spp1"),
        sum(expr("CAST(cp AS DECIMAL(38,0)) * p2p * p2p")).as("sppp1"),
        sum("cn").cast(DecimalType(38, 0)).as("nn"),
        sum(expr("CAST(cn AS DECIMAL(38,0)) * p2n")).as("spn"),
        sum(expr("CAST(cn AS DECIMAL(38,0)) * p2n * p2n")).as("sppn"))
    mom
      .select(col("np").cast(LongType).as("n_pos"), col("nn").cast(LongType).as("n_neg"),
        // AUC = mean placement of positives among negatives: Σp2/(2·np·nn)
        (col("spp1").cast(DoubleType) /
          (lit(2.0) * col("np").cast(DoubleType) * col("nn").cast(DoubleType))).as("auc"),
        // S10 = var of V10 = p2/(2nn) over positives; S01 over negatives
        (((col("np") * col("sppp1") - col("spp1") * col("spp1")).cast(DoubleType) /
          (col("np") * (col("np") - 1)).cast(DoubleType)) /
          (lit(4.0) * col("nn").cast(DoubleType) * col("nn").cast(DoubleType))).as("s10"),
        (((col("nn") * col("sppn") - col("spn") * col("spn")).cast(DoubleType) /
          (col("nn") * (col("nn") - 1)).cast(DoubleType)) /
          (lit(4.0) * col("np").cast(DoubleType) * col("np").cast(DoubleType))).as("s01"))
      .select(col("n_pos"), col("n_neg"), round(col("auc"), 6).as("auc"),
        round(sqrt(col("s10") / col("n_pos") + col("s01") / col("n_neg")), 6).as("se"),
        round(col("auc") - lit(1.96) * sqrt(col("s10") / col("n_pos") +
          col("s01") / col("n_neg")), 6).as("ci_lo"),
        round(col("auc") + lit(1.96) * sqrt(col("s10") / col("n_pos") +
          col("s01") / col("n_neg")), 6).as("ci_hi"))
      .withColumn("distinguishes", col("ci_lo") > lit(0.5) || col("ci_hi") < lit(0.5))
  }

  val aggAucDelongCiSql: String =
    """WITH v AS (
      |  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos,
      |         CAST(l_quantity AS BIGINT) AS sc, l_orderkey AS ok, l_linenumber AS ln
      |  FROM lineitem),
      |ranked AS MATERIALIZED (
      |  SELECT pos,
      |         2 * rank() OVER (ORDER BY sc) + count(*) OVER (PARTITION BY sc) - 1
      |           AS mr2,
      |         2 * rank() OVER (PARTITION BY pos ORDER BY sc) +
      |           count(*) OVER (PARTITION BY pos, sc) - 1 AS mr2w
      |  FROM v),
      |mom AS (
      |  SELECT pos, CAST(count(*) AS HUGEINT) AS n,
      |         CAST(sum(CAST(mr2 - mr2w AS HUGEINT)) AS HUGEINT) AS sp,
      |         CAST(sum(CAST(mr2 - mr2w AS HUGEINT) * (mr2 - mr2w)) AS HUGEINT) AS spp
      |  FROM ranked GROUP BY 1),
      |j AS (
      |  SELECT a.n AS np, a.sp AS spp1, a.spp AS sppp1,
      |         b.n AS nn, b.sp AS spn, b.spp AS sppn
      |  FROM (SELECT * FROM mom WHERE pos = 1) a
      |  CROSS JOIN (SELECT * FROM mom WHERE pos = 0) b),
      |m AS (
      |  SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
      |         CAST(spp1 AS DOUBLE) / (2.0 * CAST(np AS DOUBLE) * CAST(nn AS DOUBLE))
      |           AS auc,
      |         (CAST(np * sppp1 - spp1 * spp1 AS DOUBLE) /
      |            CAST(np * (np - 1) AS DOUBLE)) /
      |           (4.0 * CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)) AS s10,
      |         (CAST(nn * sppn - spn * spn AS DOUBLE) /
      |            CAST(nn * (nn - 1) AS DOUBLE)) /
      |           (4.0 * CAST(np AS DOUBLE) * CAST(np AS DOUBLE)) AS s01
      |  FROM j)
      |SELECT n_pos, n_neg, round(auc, 6) AS auc,
      |       round(sqrt(s10 / n_pos + s01 / n_neg), 6) AS se,
      |       round(auc - 1.96 * sqrt(s10 / n_pos + s01 / n_neg), 6) AS ci_lo,
      |       round(auc + 1.96 * sqrt(s10 / n_pos + s01 / n_neg), 6) AS ci_hi,
      |       round(auc - 1.96 * sqrt(s10 / n_pos + s01 / n_neg), 6) > 0.5 OR
      |       round(auc + 1.96 * sqrt(s10 / n_pos + s01 / n_neg), 6) < 0.5
      |         AS distinguishes
      |FROM m""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("dq-bot-fingerprint", dqBotFingerprint, dqBotFingerprintSql),
    Key("agg-profit-curve", aggProfitCurve, aggProfitCurveSql),
    Key("gen-week-conventions", genWeekConventions, genWeekConventionsSql),
    Key("agg-auc-delong-ci", aggAucDelongCi, aggAucDelongCiSql))
}
