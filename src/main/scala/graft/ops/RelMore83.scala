package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-10 batch A: tail-risk (VaR + expected shortfall), exact Kendall
  * rank correlation, rolling skewness from integer moments, and
  * local-maxima peak detection. */
object RelMore83 extends KeyModule {

  /** agg-cvar-es — 95% Value-at-Risk and expected shortfall (CVaR) of
    * order value per priority class, EXACT: VaR is the k-th smallest
    * cents value (k = ceil(0.95·n) — a rank, not an interpolated
    * quantile), and ES is the mean of the rank-≥k tail. Ranks come
    * from ONE global PrefixScan two-pass over (priority, cents, key) —
    * group-contiguous range partitioning, so the per-group rank is
    * global rank minus the group's broadcast min-rank offset, never a
    * per-key window (5 priority values = 5 hot partitions at 100 TB).
    * Tied cents rows are interchangeable inside the tail, so the
    * rank-cut ES is value-deterministic despite the key tiebreak. The
    * risk panel every marketplace finance team runs nightly. */
  val aggCvarEs: Q = (s, d) => {
    import graft.functions.PrefixScan
    val base = orders(s, d).select(col("o_orderpriority").as("prio"),
      floor(col("o_totalprice") * 100).cast(LongType).as("cents"),
      col("o_orderkey"))
    val ranked = PrefixScan.withRankCumSum(base,
      Seq(col("prio"), col("cents"), col("o_orderkey")), None, rankName = "grn").df
      .sharedCache()
    val groups = ranked.groupBy("prio")
      .agg(min("grn").as("base_rn"), count(lit(1)).as("n"))
      .withColumn("k", ceil(lit(0.95) * col("n")).cast(LongType))
    val inGroup = ranked.join(broadcast(groups), "prio")
      .withColumn("r", col("grn") - col("base_rn") + 1)
    val varRow = inGroup.filter(col("r") === col("k"))
      .select(col("prio"), col("cents").as("var_cents"))
    val tail = inGroup.filter(col("r") >= col("k"))
      .groupBy("prio")
      .agg(count(lit(1)).as("tail_n"),
        sum(col("cents").cast(DecimalType(38, 0))).as("tail_cents"))
    groups.join(varRow, "prio").join(tail, "prio")
      .select(col("prio"), col("n"), col("k"), col("tail_n"),
        (col("var_cents").cast(DoubleType) / 100).as("var95"),
        ratioFloor(col("tail_cents"), col("tail_n") * 100, 4).as("es95"))
      .orderBy("prio")
  }

  val aggCvarEsSql: String =
    s"""WITH base AS (
       |  SELECT o_orderpriority AS prio,
       |         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
       |  FROM orders),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY prio ORDER BY cents, o_orderkey) AS r,
       |         count(*) OVER (PARTITION BY prio) AS n
       |  FROM base),
       |g AS (SELECT prio, n, CAST(ceil(0.95 * n) AS BIGINT) AS k FROM ranked GROUP BY prio, n),
       |v AS (SELECT r1.prio, r1.cents AS var_cents
       |      FROM ranked r1 JOIN g USING (prio) WHERE r1.r = g.k),
       |t AS (SELECT r2.prio, count(*) AS tail_n,
       |             sum(CAST(r2.cents AS HUGEINT)) AS tail_cents
       |      FROM ranked r2 JOIN g USING (prio) WHERE r2.r >= g.k GROUP BY r2.prio)
       |SELECT prio, n, k, tail_n,
       |       CAST(var_cents AS DOUBLE) / 100 AS var95,
       |       ${ratioFloorSql("tail_cents", "(tail_n * 100)", 4)} AS es95
       |FROM g JOIN v USING (prio) JOIN t USING (prio)
       |ORDER BY prio""".stripMargin

  /** agg-kendall-tau — EXACT Kendall tau-b between daily order count
    * and daily revenue: every day pair classified concordant /
    * discordant / tied by integer sign products — no ranks, no
    * interpolation, no float until the single terminal sqrt. The
    * O(D²) pair join is CALENDAR-BOUNDED (D = distinct days, a few
    * thousand at any corpus size — at 100 TB the daily rollup still
    * fits one broadcast), which is what makes the exact quadratic
    * estimator viable where row-level Kendall is not. Tie-corrected
    * denominator (tau-b), so repeated counts are handled exactly. */
  val aggKendallTau: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(count(lit(1)).as("x"),
        sum(floor(col("o_totalprice") * 100).cast(DecimalType(38, 0)))
          .cast(LongType).as("y"))
      .sharedCache()
    val a = daily.select(col("dt").as("dt1"), col("x").as("x1"), col("y").as("y1"))
    val b = daily.select(col("dt").as("dt2"), col("x").as("x2"), col("y").as("y2"))
    val pairs = a.join(broadcast(b), col("dt1") < col("dt2"))
      .select(signum(col("x2") - col("x1")).cast(IntegerType).as("dx"),
        signum(col("y2") - col("y1")).cast(IntegerType).as("dy"))
    pairs.agg(
      count(lit(1)).as("n0"),
      sum(when(col("dx") * col("dy") > 0, 1L).otherwise(0L)).as("concordant"),
      sum(when(col("dx") * col("dy") < 0, 1L).otherwise(0L)).as("discordant"),
      sum(when(col("dx") === 0, 1L).otherwise(0L)).as("tie_x"),
      sum(when(col("dy") === 0, 1L).otherwise(0L)).as("tie_y"))
      .crossJoin(broadcast(daily.agg(count(lit(1)).as("n_days"))))
      .select(col("n_days"), col("concordant"), col("discordant"),
        round((col("concordant") - col("discordant")).cast(DoubleType) /
          sqrt(((col("n0") - col("tie_x")) * (col("n0") - col("tie_y"))).cast(DoubleType)),
          6).as("tau_b"))
  }

  val aggKendallTauSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt, count(*) AS x,
      |         CAST(sum(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS HUGEINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |pairs AS (
      |  SELECT CAST(sign(b.x - a.x) AS INTEGER) AS dx,
      |         CAST(sign(b.y - a.y) AS INTEGER) AS dy
      |  FROM daily a JOIN daily b ON a.dt < b.dt),
      |agg AS (
      |  SELECT count(*) AS n0,
      |         sum(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS concordant,
      |         sum(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS discordant,
      |         sum(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS tie_x,
      |         sum(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS tie_y
      |  FROM pairs)
      |SELECT (SELECT count(*) FROM daily) AS n_days,
      |       CAST(concordant AS BIGINT) AS concordant,
      |       CAST(discordant AS BIGINT) AS discordant,
      |       round(CAST(concordant - discordant AS DOUBLE) /
      |             sqrt(CAST((n0 - tie_x) * (n0 - tie_y) AS DOUBLE)), 6) AS tau_b
      |FROM agg""".stripMargin

  /** win-rolling-skew — 7-day rolling skewness of daily revenue, from
    * EXACT integer moment sums: the window carries Σx, Σx², Σx³ as
    * Decimal(38,0) (daily cents ≤ ~1e12 even at 100 TB ⇒ cubes ≤
    * 1e36·7 fit), and the skewness closed form
    * A/(B·√B) with A = n²S3 − 3nS1S2 + 2S1³, B = nS2 − S1² admits
    * exactly one sqrt and one divide at the output — no float
    * accumulation anywhere, so the statistic is bit-identical across
    * engines and partitionings. The window itself is over the
    * CALENDAR-BOUNDED daily frame (the RelMore54 discipline): a
    * single-partition sort over ≤ a few thousand rows regardless of
    * corpus size. Complete windows only (rn ≥ 7). */
  val winRollingSkew: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(floor(col("o_totalprice") * 100).cast(DecimalType(38, 0)))
        .cast(LongType).as("cents"))
    val w = Window.orderBy("dt").rowsBetween(-6, 0)
    val wn = Window.orderBy("dt")
    val dec = col("cents").cast(DecimalType(38, 0))
    val withMoments = daily
      .withColumn("rn", row_number().over(wn))
      .withColumn("s1", sum(dec).over(w))
      .withColumn("s2", sum(dec * dec).over(w))
      .withColumn("s3", sum(dec * dec * dec).over(w))
      .filter(col("rn") >= 7)
    val n = lit(7).cast(DecimalType(38, 0))
    val aNum = (n * n * col("s3") - lit(3) * n * col("s1") * col("s2") +
      lit(2) * col("s1") * col("s1") * col("s1")).cast(DoubleType)
    val bDen = (n * col("s2") - col("s1") * col("s1")).cast(DoubleType)
    withMoments.select(col("dt"), col("cents"),
      round(aNum / (bDen * sqrt(bDen)), 6).as("skew7"))
      .orderBy("dt")
  }

  val winRollingSkewSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(sum(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS HUGEINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |m AS (
      |  SELECT dt, cents, row_number() OVER (ORDER BY dt) AS rn,
      |         sum(CAST(cents AS HUGEINT)) OVER w AS s1,
      |         sum(CAST(cents AS HUGEINT) * cents) OVER w AS s2,
      |         sum(CAST(cents AS HUGEINT) * cents * cents) OVER w AS s3
      |  FROM daily
      |  WINDOW w AS (ORDER BY dt ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
      |SELECT dt, cents,
      |       round(CAST(49 * s3 - 21 * s1 * s2 + 2 * s1 * s1 * s1 AS DOUBLE) /
      |             (CAST(7 * s2 - s1 * s1 AS DOUBLE) *
      |              sqrt(CAST(7 * s2 - s1 * s1 AS DOUBLE))), 6) AS skew7
      |FROM m WHERE rn >= 7
      |ORDER BY dt""".stripMargin

  /** win-peak-detect — burst days in the event stream: a peak is a day
    * whose count strictly exceeds every neighbor within ±3 days, with
    * prominence = min(rise over left max, rise over right max). Pure
    * integer comparisons over two bounded row windows on the
    * calendar-sized daily frame — the exact, from-first-principles
    * form of every "traffic spike" detector, and the deterministic
    * baseline to hand a monitoring stack. Edge days without 3 full
    * neighbors on each side are excluded (count-guard, not null
    * coalescing, so a short series yields no phantom peaks). */
  val winPeakDetect: Q = (s, d) => {
    val daily = events(s, d)
      .groupBy(to_date(col("ts")).as("dt"))
      .agg(count(lit(1)).as("y"))
    val wl = Window.orderBy("dt").rowsBetween(-3, -1)
    val wr = Window.orderBy("dt").rowsBetween(1, 3)
    daily
      .withColumn("lmax", max("y").over(wl))
      .withColumn("lcnt", count(lit(1)).over(wl))
      .withColumn("rmax", max("y").over(wr))
      .withColumn("rcnt", count(lit(1)).over(wr))
      .filter(col("lcnt") === 3 && col("rcnt") === 3 &&
        col("y") > col("lmax") && col("y") > col("rmax"))
      .select(col("dt"), col("y"), col("lmax"), col("rmax"),
        least(col("y") - col("lmax"), col("y") - col("rmax")).as("prominence"))
      .orderBy("dt")
  }

  val winPeakDetectSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS dt, count(*) AS y
      |  FROM events GROUP BY 1),
      |m AS (
      |  SELECT dt, y,
      |         max(y) OVER (ORDER BY dt ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS lmax,
      |         count(*) OVER (ORDER BY dt ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS lcnt,
      |         max(y) OVER (ORDER BY dt ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS rmax,
      |         count(*) OVER (ORDER BY dt ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS rcnt
      |  FROM daily)
      |SELECT dt, y, lmax, rmax, least(y - lmax, y - rmax) AS prominence
      |FROM m
      |WHERE lcnt = 3 AND rcnt = 3 AND y > lmax AND y > rmax
      |ORDER BY dt""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-cvar-es", aggCvarEs, aggCvarEsSql),
    Key("agg-kendall-tau", aggKendallTau, aggKendallTauSql),
    Key("win-rolling-skew", winRollingSkew, winRollingSkewSql),
    Key("win-peak-detect", winPeakDetect, winPeakDetectSql))
}
