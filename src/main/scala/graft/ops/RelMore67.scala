package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-9 batch E: sweep-line concurrency, sliding distinct counts,
  * slice metrics. */
object RelMore67 extends KeyModule {

  /** win-sweepline-concurrency — peak interval concurrency by the
    * sweep-line: each order is "in flight" over the half-open interval
    * [orderdate, last shipment date); +1/−1 boundary events, ONE global
    * ordered running sum over ~2·|orders| boundary rows gives the
    * concurrency at every date, graded as the top-10 peak days. The
    * alternative — join every order to every day it spans — is
    * |orders|×duration row amplification; the sweep-line is linear in
    * boundaries regardless of interval length. The single global window
    * is date-domain-bounded (boundaries collapse to ≤ distinct dates
    * after the per-date pre-aggregation, mirroring the PrefixScan
    * discipline used by the win family). */
  val winSweeplineConcurrency: Q = (s, d) => {
    val iv = lineitem(s, d).groupBy(col("l_orderkey"))
      .agg(max(col("l_shipdate")).as("close_dt"))
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderdate") < col("close_dt"))
      .select(col("o_orderdate").as("open_dt"), col("close_dt"))
    val deltas = iv.select(col("open_dt").as("dt"), lit(1L).as("delta"))
      .unionAll(iv.select(col("close_dt").as("dt"), lit(-1L).as("delta")))
      .groupBy("dt").agg(sum("delta").as("net"))
    // running net-open count = inclusive prefix sum over the date
    // axis — the PrefixScan two-pass replaces the last single-
    // partition window in this op (r14 port); dt is distinct
    // post-groupBy, so (dt) is a total order
    graft.functions.PrefixScan.withRankCumSum(
        deltas, Seq(col("dt")), Some("net"), cumName = "concurrency").df
      .select(col("dt"), col("concurrency"))
      .orderBy(col("concurrency").desc, col("dt").asc)
      .limit(10)
  }

  val winSweeplineConcurrencySql: String =
    """WITH iv AS (
      |  SELECT o.o_orderdate AS open_dt, c.close_dt
      |  FROM (SELECT l_orderkey, max(l_shipdate) AS close_dt
      |        FROM lineitem GROUP BY l_orderkey) c
      |  JOIN orders o ON o.o_orderkey = c.l_orderkey
      |  WHERE o.o_orderdate < c.close_dt),
      |deltas AS (
      |  SELECT dt, CAST(sum(delta) AS BIGINT) AS net FROM (
      |    SELECT open_dt AS dt, 1 AS delta FROM iv
      |    UNION ALL
      |    SELECT close_dt AS dt, -1 AS delta FROM iv) u
      |  GROUP BY dt)
      |SELECT dt, CAST(sum(net) OVER (ORDER BY dt
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS concurrency
      |FROM deltas
      |ORDER BY concurrency DESC, dt
      |LIMIT 10""".stripMargin

  /** win-sliding-distinct — EXACT distinct users in a trailing 7-day
    * window per day. Sliding distinct does not decompose into
    * per-day partials (distinct is not additive), so the scalable
    * exact formulation is cover-set explosion: dedup to (user, day),
    * explode each active day to the ≤7 window-END days it covers
    * (bounded 7× amplification — a constant, not data-dependent),
    * dedup (user, window), count. The approximate alternative at
    * extreme scale is per-day HLL sketch-union (agg-sketch-union);
    * this op is the exact baseline that grades it. */
  val winSlidingDistinct: Q = (s, d) => {
    val ud = events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("dt")).distinct()
    val maxDt = ud.agg(max("dt").as("max_dt"))
    val covered = ud.crossJoin(broadcast(maxDt))
      .select(col("user_id"),
        explode(expr("sequence(dt, least(date_add(dt, 6), max_dt))")).as("wday"))
      .distinct()
    covered.groupBy("wday")
      .agg(countDistinct("user_id").as("active_7d"))
      .orderBy("wday")
  }

  val winSlidingDistinctSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS dt FROM events),
      |mx AS (SELECT max(dt) AS max_dt FROM ud),
      |covered AS (
      |  SELECT DISTINCT user_id, dt + CAST(i AS INT) AS wday
      |  FROM ud, mx, LATERAL (SELECT unnest(generate_series(0, 6)) AS i) t
      |  WHERE dt + CAST(i AS INT) <= max_dt)
      |SELECT wday, count(DISTINCT user_id) AS active_7d
      |FROM covered
      |GROUP BY wday
      |ORDER BY wday""".stripMargin

  /** dq-slice-metrics — sliced evaluation (the "slice finder" table):
    * a per-slice metric (mean word length, exact char/token milli)
    * over lang × length-bucket slices, each compared against the
    * global metric, flagged when it deviates >5% WITH minimum support
    * (≥10 docs — unsupported slices produce noise, not findings).
    * The table every eval harness prints before a model ships, here
    * for corpus quality. One pass for slices + one scalar broadcast;
    * slice count is the bounded product of two low-card dims. */
  val dqSliceMetrics: Q = (s, d) => {
    val base = documents(s, d).select(col("lang"),
      expr("n_chars div 200").cast(LongType).as("len_bucket"),
      col("n_chars").cast(LongType).as("chars"),
      size(split(col("text"), " ")).cast(LongType).as("tok"))
    val slices = base.groupBy("lang", "len_bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("chars").as("chars"), sum("tok").as("tok"))
    val glob = base.agg(sum("chars").as("gchars"), sum("tok").as("gtok"))
    slices.crossJoin(broadcast(glob))
      .select(col("lang"), col("len_bucket"), col("n_docs"),
        expr("chars * 1000 div tok").as("wordlen_milli"),
        expr("gchars * 1000 div gtok").as("global_milli"))
      .withColumn("flagged",
        col("n_docs") >= 10 &&
          (col("wordlen_milli") * 100 > col("global_milli") * 105 ||
            col("wordlen_milli") * 100 < col("global_milli") * 95))
      .orderBy("lang", "len_bucket")
  }

  val dqSliceMetricsSql: String =
    """WITH base AS (
      |  SELECT lang, n_chars // 200 AS len_bucket,
      |         CAST(n_chars AS BIGINT) AS chars,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
      |  FROM documents),
      |slices AS (
      |  SELECT lang, len_bucket, count(*) AS n_docs,
      |         CAST(sum(chars) AS BIGINT) AS chars, CAST(sum(tok) AS BIGINT) AS tok
      |  FROM base GROUP BY lang, len_bucket),
      |g AS (SELECT CAST(sum(chars) AS BIGINT) AS gchars,
      |             CAST(sum(tok) AS BIGINT) AS gtok FROM base)
      |SELECT lang, CAST(len_bucket AS BIGINT) AS len_bucket, n_docs,
      |       chars * 1000 // tok AS wordlen_milli,
      |       gchars * 1000 // gtok AS global_milli,
      |       n_docs >= 10 AND
      |         (chars * 1000 // tok * 100 > gchars * 1000 // gtok * 105 OR
      |          chars * 1000 // tok * 100 < gchars * 1000 // gtok * 95) AS flagged
      |FROM slices, g
      |ORDER BY lang, len_bucket""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("win-sweepline-concurrency", winSweeplineConcurrency, winSweeplineConcurrencySql),
    Key("win-sliding-distinct", winSlidingDistinct, winSlidingDistinctSql),
    Key("dq-slice-metrics", dqSliceMetrics, dqSliceMetricsSql))
}
