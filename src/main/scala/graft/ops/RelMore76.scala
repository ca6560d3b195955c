package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-9 batch N: Spearman rank correlation, PSI drift gate,
  * Theil–Sen robust slope, Cramér's V association strength. */
object RelMore76 extends KeyModule {

  /** agg-spearman-corr — Spearman rank correlation between quantity and
    * discount, the robust complement of agg-correlation-matrix's
    * Pearson (invariant to any monotone transform, immune to the price
    * outliers that drag product-moment estimates). Both variables have
    * BOUNDED value domains (qty 1..50, discount 11 tick values), so
    * tie-averaged ranks come from a value-count table — rank(v) =
    * 1 + Σ_{u<v} cnt(u), tie-averaged ×2 = 2·prior + cnt + 1, all
    * integers — computed on a ≤50-row frame and broadcast back. No
    * global sort of the fact table, ever: the plan is one map-side
    * combined value census + two broadcast joins + one moment
    * aggregate, so it scales exactly like a groupBy count at 100 TB.
    * Moments are exact DECIMAL(38,0) (HUGEINT in the oracle); the one
    * sqrt/divide runs on identical exact integers in both engines. */
  val aggSpearmanCorr: Q = (s, d) => {
    val base = lineitem(s, d).select(
      floor(col("l_quantity")).cast(LongType).as("qx"),
      floor(col("l_discount") * 10000).cast(LongType).as("qy"))
      .sharedCache()
    def rankMap(c: String): DataFrame = {
      // midrank map via exclusive domain prefix (inclusive PrefixScan
      // cum minus the row's own count — the agg-auc-exact recipe,
      // r14 port): the quantity/discount domains are small today but
      // the shape no longer carries a single-partition window at all
      val cnts = base.groupBy(c).agg(count(lit(1)).as("cnt"))
      graft.functions.PrefixScan.withRankCumSum(
          cnts, Seq(col(c)), Some("cnt"), cumName = "cumc").df
        .select(col(c),
          (lit(2) * (col("cumc") - col("cnt")) + col("cnt") + 1).as(s"r2_$c"))
    }
    val ranked = base
      .join(broadcast(rankMap("qx")), "qx")
      .join(broadcast(rankMap("qy")), "qy")
    val m = ranked.agg(
      count(lit(1)).cast(DecimalType(38, 0)).as("n"),
      sum(col("r2_qx").cast(DecimalType(38, 0))).as("sx"),
      sum(col("r2_qy").cast(DecimalType(38, 0))).as("sy"),
      sum((col("r2_qx") * col("r2_qx")).cast(DecimalType(38, 0))).as("sxx"),
      sum((col("r2_qy") * col("r2_qy")).cast(DecimalType(38, 0))).as("syy"),
      sum((col("r2_qx") * col("r2_qy")).cast(DecimalType(38, 0))).as("sxy"))
    m.selectExpr(
      "CAST(n AS BIGINT) AS n",
      "round(CAST(n * sxy - sx * sy AS DOUBLE) / " +
        "(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * " +
        "sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS spearman_rho")
  }

  val aggSpearmanCorrSql: String =
    """WITH base AS (
      |  SELECT CAST(floor(l_quantity) AS BIGINT) AS qx,
      |         CAST(floor(l_discount * 10000) AS BIGINT) AS qy
      |  FROM lineitem),
      |ranked AS (
      |  SELECT CAST(2 * rank() OVER (ORDER BY qx)
      |              + count(*) OVER (PARTITION BY qx) - 1 AS HUGEINT) AS rx,
      |         CAST(2 * rank() OVER (ORDER BY qy)
      |              + count(*) OVER (PARTITION BY qy) - 1 AS HUGEINT) AS ry
      |  FROM base),
      |m AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |         sum(rx) AS sx, sum(ry) AS sy,
      |         sum(rx * rx) AS sxx, sum(ry * ry) AS syy,
      |         sum(rx * ry) AS sxy
      |  FROM ranked)
      |SELECT CAST(n AS BIGINT) AS n,
      |       round(CAST(n * sxy - sx * sy AS DOUBLE) /
      |             (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
      |              sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS spearman_rho
      |FROM m""".stripMargin

  private val PsiBinWidth = 50 // value ∈ [0, 500) → 10 fixed bins
  private val PsiBins = 10

  /** dq-psi-drift — the Population Stability Index, the industry-
    * standard scorecard drift gate (PSI < 0.1 stable / < 0.25 watch /
    * else shift), complementing dq-ks-drift (sup-norm) and
    * dq-chi-square (composition) with the share-weighted log-ratio
    * divergence credit models actually monitor. Fixed-width value bins
    * (pinned at 50-unit width — breakpoints frozen like a deployed
    * scorecard's, never re-fit on the comparison window), first-15-days
    * baseline vs the rest, Laplace +1 smoothing so empty bins stay
    * finite. Shares are ppm-FLOORED integers (semantics pinned: PSI
    * over ppm-floored smoothed shares); each bin's term is one
    * ln on an exact integer ratio, rounded at 6 dp. One conditional-
    * count aggregate over the stream + a 10-row scaffold join — the
    * same two-aggregate dq-* gate shape, linear at any scale. */
  val dqPsiDrift: Q = (s, d) => {
    val ev = events(s, d)
    val split = ev.agg((min(col("ts")) + expr("INTERVAL 15 DAYS")).as("split_ts"))
    val binned = ev.crossJoin(broadcast(split))
      .select(least(greatest(floor(col("value") / PsiBinWidth), lit(0)), lit(PsiBins - 1))
        .cast(LongType).as("bin"),
        when(col("ts") < col("split_ts"), 1L).otherwise(0L).as("in_a"))
      .groupBy("bin")
      .agg(sum(col("in_a")).as("ca"), sum(lit(1L) - col("in_a")).as("cb"))
    val scaffold = s.range(PsiBins).select(col("id").as("bin"))
    val cells = scaffold.join(binned, Seq("bin"), "left")
      .na.fill(0L, Seq("ca", "cb"))
    val tots = cells.agg(sum("ca").as("ta"), sum("cb").as("tb"))
    cells.crossJoin(broadcast(tots))
      .select(col("bin"), col("ca"), col("cb"),
        expr(s"(ca + 1) * 1000000 div (ta + $PsiBins)").as("pa_ppm"),
        expr(s"(cb + 1) * 1000000 div (tb + $PsiBins)").as("pb_ppm"))
      .withColumn("psi_term",
        round((col("pa_ppm") - col("pb_ppm")).cast(DoubleType) / 1e6 *
          log(col("pa_ppm").cast(DoubleType) / col("pb_ppm")), 6))
      .orderBy("bin")
  }

  val dqPsiDriftSql: String =
    s"""WITH split AS (
       |  SELECT min(ts) + INTERVAL 15 DAY AS split_ts FROM events),
       |binned AS (
       |  SELECT CAST(least(greatest(floor(value / $PsiBinWidth), 0), ${PsiBins - 1}) AS BIGINT) AS bin,
       |         CAST(sum(CASE WHEN ts < split_ts THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |         CAST(sum(CASE WHEN ts >= split_ts THEN 1 ELSE 0 END) AS BIGINT) AS cb
       |  FROM events CROSS JOIN split GROUP BY 1),
       |cells AS (
       |  SELECT g.bin, coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
       |  FROM (SELECT unnest(generate_series(0, ${PsiBins - 1})) AS bin) g
       |  LEFT JOIN binned ON g.bin = binned.bin),
       |tots AS (SELECT CAST(sum(ca) AS BIGINT) AS ta, CAST(sum(cb) AS BIGINT) AS tb FROM cells)
       |SELECT bin, ca, cb,
       |       (ca + 1) * 1000000 // (ta + $PsiBins) AS pa_ppm,
       |       (cb + 1) * 1000000 // (tb + $PsiBins) AS pb_ppm,
       |       round(CAST((ca + 1) * 1000000 // (ta + $PsiBins)
       |                  - (cb + 1) * 1000000 // (tb + $PsiBins) AS DOUBLE) / 1e6 *
       |             ln(CAST((ca + 1) * 1000000 // (ta + $PsiBins) AS DOUBLE) /
       |                ((cb + 1) * 1000000 // (tb + $PsiBins))), 6) AS psi_term
       |FROM cells CROSS JOIN tots
       |ORDER BY bin""".stripMargin

  /** win-theil-sen — the Theil–Sen estimator over the daily event
    * series: the MEDIAN of all pairwise slopes (y_j−y_i)/(d_j−d_i),
    * the robust trend line that tolerates up to 29% arbitrary
    * corruption where win-rolling-slope's OLS breaks on one bad day.
    * The pair set is DATE-DOMAIN-bounded (k days → k(k−1)/2 pairs, a
    * few hundred from a month of data, CONSTANT in row count — the
    * daily rollup is the only full-data pass). Lower median selected
    * by position over a total order (slope, then day pair — the
    * tiebreak fixes the scan order, never the selected value); each
    * slope is one integer/integer IEEE divide, identical in both
    * engines. */
  val winTheilSen: Q = (s, d) => {
    val daily = events(s, d)
      .groupBy(to_date(col("ts")).as("dt"))
      .agg(count(lit(1)).as("y"))
      .sharedCache()
    val a = daily.select(col("dt").as("d1"), col("y").as("y1"))
    val b = daily.select(col("dt").as("d2"), col("y").as("y2"))
    val pairs = a.join(b, col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        ((col("y2") - col("y1")).cast(DoubleType) /
          datediff(col("d2"), col("d1"))).as("slope"))
    val w = Window.orderBy(col("slope"), col("d1"), col("d2"))
    val ranked = pairs.withColumn("rk", row_number().over(w))
    val stats = pairs.agg(count(lit(1)).as("n_pairs"),
      round(min("slope"), 6).as("slope_min"),
      round(max("slope"), 6).as("slope_max"))
    ranked.crossJoin(broadcast(stats))
      .filter(col("rk") === expr("(n_pairs + 1) div 2"))
      .select(lit(daily.count()).as("n_days"), col("n_pairs"),
        round(col("slope"), 6).as("sen_slope"),
        col("slope_min"), col("slope_max"))
  }

  val winTheilSenSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS dt, count(*) AS y
      |  FROM events GROUP BY 1),
      |pairs AS (
      |  SELECT a.dt AS d1, b.dt AS d2,
      |         CAST(b.y - a.y AS DOUBLE) / (b.dt - a.dt) AS slope
      |  FROM daily a JOIN daily b ON a.dt < b.dt),
      |ranked AS (
      |  SELECT slope, row_number() OVER (ORDER BY slope, d1, d2) AS rk
      |  FROM pairs),
      |stats AS (
      |  SELECT count(*) AS n_pairs, round(min(slope), 6) AS slope_min,
      |         round(max(slope), 6) AS slope_max
      |  FROM pairs)
      |SELECT (SELECT count(*) FROM daily) AS n_days, n_pairs,
      |       round(slope, 6) AS sen_slope, slope_min, slope_max
      |FROM ranked CROSS JOIN stats
      |WHERE rk = (n_pairs + 1) // 2""".stripMargin

  /** dq-cramers-v — Cramér's V over the market-segment × order-priority
    * contingency table: the normalized [0,1] association STRENGTH that
    * dq-chi-square's raw statistic can't give (χ² grows with n; V
    * doesn't — the right screen for "does segment drive priority?").
    * One broadcast dim join + one 25-cell contingency aggregate; margins
    * and the χ² fold run on the 25-row frame. Each cell's term is the
    * exact integer (n·o−r·c)²·10⁹ div (n·r·c) — DECIMAL(38,0) in Spark,
    * HUGEINT in the oracle, floor-div on non-negatives so the two
    * engines' integer division conventions agree — summed exactly, with
    * the single sqrt at the output. Linear in the fact table at any
    * scale; everything after the first groupBy is constant-size. */
  val dqCramersV: Q = (s, d) => {
    val cells = orders(s, d)
      .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("seg"), col("o_orderpriority").as("prio"))
      .agg(count(lit(1)).as("o"))
      .sharedCache()
    val rowTot = cells.groupBy("seg").agg(sum("o").as("r"))
    val colTot = cells.groupBy("prio").agg(sum("o").as("c"))
    val tot = cells.agg(sum("o").as("n"),
      countDistinct("seg").as("nseg"), countDistinct("prio").as("nprio"))
    val terms = cells.join(broadcast(rowTot), "seg")
      .join(broadcast(colTot), "prio")
      .crossJoin(broadcast(tot))
      .selectExpr("n", "nseg", "nprio",
        "CAST((CAST(n AS DECIMAL(38,0)) * o - CAST(r AS DECIMAL(38,0)) * c) *" +
          " (CAST(n AS DECIMAL(38,0)) * o - CAST(r AS DECIMAL(38,0)) * c) * 1000000000" +
          " div (CAST(n AS DECIMAL(38,0)) * r * c) AS DECIMAL(38,0)) AS term_e9")
    terms.groupBy("n", "nseg", "nprio")
      .agg(sum("term_e9").as("chi2_e9"))
      .selectExpr("CAST(n AS BIGINT) AS n",
        "CAST(nseg AS INT) AS n_segments", "CAST(nprio AS INT) AS n_priorities",
        "round(CAST(chi2_e9 AS DOUBLE) / 1e9, 6) AS chi2",
        "round(sqrt(CAST(chi2_e9 AS DOUBLE) / 1e9 / " +
          "(CAST(n AS DOUBLE) * (least(nseg, nprio) - 1))), 6) AS cramers_v")
  }

  val dqCramersVSql: String =
    """WITH cells AS (
      |  SELECT c_mktsegment AS seg, o_orderpriority AS prio,
      |         CAST(count(*) AS HUGEINT) AS o
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |rt AS (SELECT seg, sum(o) AS r FROM cells GROUP BY 1),
      |ct AS (SELECT prio, sum(o) AS c FROM cells GROUP BY 1),
      |tot AS (
      |  SELECT sum(o) AS n, count(DISTINCT seg) AS nseg,
      |         count(DISTINCT prio) AS nprio
      |  FROM cells),
      |terms AS (
      |  SELECT n, nseg, nprio,
      |         (n * o - r * c) * (n * o - r * c) * 1000000000 // (n * r * c) AS term_e9
      |  FROM cells JOIN rt USING (seg) JOIN ct USING (prio) CROSS JOIN tot)
      |SELECT CAST(n AS BIGINT) AS n,
      |       CAST(nseg AS INT) AS n_segments, CAST(nprio AS INT) AS n_priorities,
      |       round(CAST(sum(term_e9) AS DOUBLE) / 1e9, 6) AS chi2,
      |       round(sqrt(CAST(sum(term_e9) AS DOUBLE) / 1e9 /
      |             (CAST(n AS DOUBLE) * (least(nseg, nprio) - 1))), 6) AS cramers_v
      |FROM terms
      |GROUP BY n, nseg, nprio""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-spearman-corr", aggSpearmanCorr, aggSpearmanCorrSql),
    Key("dq-psi-drift", dqPsiDrift, dqPsiDriftSql),
    Key("win-theil-sen", winTheilSen, winTheilSenSql),
    Key("dq-cramers-v", dqCramersV, dqCramersVSql))
}
