package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-10 batch F: survey-sampling estimators (two-stage cluster
  * sampling, capture–recapture), robust quartile skewness, and
  * experiment sample-ratio-mismatch detection. */
object RelMore88 extends KeyModule {

  /** sample-cluster-stage — two-stage CLUSTER sampling: stage 1 samples
    * whole users (md5-nibble < 2 ⇒ p = 1/8 — the deterministic,
    * repartition-proof coin every sample-* op uses), stage 2 takes all
    * of a sampled user's events, and the Horvitz–Thompson estimator
    * inflates by 1/p. The design every event-log costing system uses
    * when per-user correlation makes row-level sampling misleading —
    * and the graded row shows the price: HT total vs truth, exact
    * integer cents throughout (the ×8 inflation is integer, the one
    * division is the output error ratio). Cluster membership never
    * shuffles — the nibble is computed map-side from the key. */
  val sampleClusterStage: Q = (s, d) => {
    val base = events(s, d).select(col("user_id"),
      floor(col("value") * 100).cast(LongType).as("vq"),
      (expr("instr('0123456789abcdef', substring(md5(CAST(user_id AS STRING)), 1, 1)) - 1") < 2)
        .as("sampled"))
      .sharedCache()
    val users = base.select("user_id", "sampled").distinct()
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("sampled"), 1L).otherwise(0L)).as("n_users_sampled"))
    val truth = base.agg(sum(col("vq").cast(DecimalType(38, 0)))
      .cast(LongType).as("true_cents"))
    val ht = base.filter(col("sampled"))
      .agg(count(lit(1)).as("n_events_sampled"),
        (sum(col("vq").cast(DecimalType(38, 0))) * 8).cast(LongType).as("ht_cents"))
    users.crossJoin(broadcast(ht)).crossJoin(broadcast(truth))
      .select(col("n_users"), col("n_users_sampled"), col("n_events_sampled"),
        (col("ht_cents").cast(DoubleType) / 100).as("ht_total"),
        (col("true_cents").cast(DoubleType) / 100).as("true_total"),
        ratioFloor(abs(col("ht_cents") - col("true_cents")), col("true_cents"), 6)
          .as("rel_err"))
  }

  val sampleClusterStageSql: String =
    s"""WITH base AS (
       |  SELECT user_id, CAST(floor(value * 100) AS BIGINT) AS vq,
       |         (strpos('0123456789abcdef', substring(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) < 2 AS sampled
       |  FROM events),
       |u AS (
       |  SELECT count(*) AS n_users,
       |         CAST(sum(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT) AS n_users_sampled
       |  FROM (SELECT DISTINCT user_id, sampled FROM base)),
       |t AS (SELECT CAST(sum(CAST(vq AS HUGEINT)) AS BIGINT) AS true_cents FROM base),
       |h AS (
       |  SELECT count(*) AS n_events_sampled,
       |         CAST(sum(CAST(vq AS HUGEINT)) * 8 AS BIGINT) AS ht_cents
       |  FROM base WHERE sampled)
       |SELECT n_users, n_users_sampled, n_events_sampled,
       |       CAST(ht_cents AS DOUBLE) / 100 AS ht_total,
       |       CAST(true_cents AS DOUBLE) / 100 AS true_total,
       |       ${ratioFloorSql("abs(ht_cents - true_cents)", "true_cents", 6)} AS rel_err
       |FROM u CROSS JOIN h CROSS JOIN t""".stripMargin

  /** agg-capture-recapture — Lincoln–Petersen (and bias-corrected
    * Chapman) population estimation from two observation windows: the
    * event-date range splits at its midpoint (exact floor-div on the
    * day difference — no data-dependent quantile), users "captured" in
    * each half are the two samples, and N̂ = n₁·n₂/m recovers the total
    * population from the overlap. The ecology estimator that data
    * teams reinvent whenever logs are lossy ("how many users do we
    * ACTUALLY have, given two partial captures?"). Three distinct
    * counts + one floored ratio — all set arithmetic, any scale. */
  val aggCaptureRecapture: Q = (s, d) => {
    val ev = events(s, d).select(col("user_id"), to_date(col("ts")).as("dt"))
      .sharedCache()
    val bounds = ev.agg(min("dt").as("d0"), max("dt").as("d1"))
      .select(expr("date_add(d0, CAST(floor(datediff(d1, d0) / 2) AS INT))").as("mid"))
    val tagged = ev.crossJoin(broadcast(bounds))
      .select(col("user_id"), (col("dt") <= col("mid")).as("in_a"))
    val perUser = tagged.groupBy("user_id")
      .agg(max(when(col("in_a"), 1).otherwise(0)).as("a"),
        max(when(!col("in_a"), 1).otherwise(0)).as("b"))
    perUser.agg(count(lit(1)).as("n_true"),
      sum("a").cast(LongType).as("n1"), sum("b").cast(LongType).as("n2"),
      sum(col("a") * col("b")).cast(LongType).as("m"))
      .select(col("n_true"), col("n1"), col("n2"), col("m"),
        ratioFloor(col("n1") * col("n2"), col("m"), 2).as("lincoln_petersen"),
        (ratioFloor((col("n1") + 1) * (col("n2") + 1), col("m") + 1, 2) - 1)
          .as("chapman"))
  }

  val aggCaptureRecaptureSql: String =
    s"""WITH ev AS (
       |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS dt FROM events),
       |bounds AS (
       |  SELECT min(dt) + CAST(floor(datediff('day', min(dt), max(dt)) / 2) AS INT) * INTERVAL 1 DAY AS mid
       |  FROM ev),
       |pu AS (
       |  SELECT user_id,
       |         max(CASE WHEN dt <= CAST(mid AS DATE) THEN 1 ELSE 0 END) AS a,
       |         max(CASE WHEN dt > CAST(mid AS DATE) THEN 1 ELSE 0 END) AS b
       |  FROM ev CROSS JOIN bounds GROUP BY user_id)
       |SELECT count(*) AS n_true,
       |       CAST(sum(a) AS BIGINT) AS n1, CAST(sum(b) AS BIGINT) AS n2,
       |       CAST(sum(a * b) AS BIGINT) AS m,
       |       ${ratioFloorSql("(sum(a) * sum(b))", "sum(a * b)", 2)} AS lincoln_petersen,
       |       ${ratioFloorSql("((sum(a) + 1) * (sum(b) + 1))", "(sum(a * b) + 1)", 2)} - 1 AS chapman
       |FROM pu""".stripMargin

  /** agg-bowley-skew — Bowley's quartile skewness
    * (Q₁+Q₃−2·Q₂)/(Q₃−Q₁) of order value per priority class: the
    * robust companion to moment skewness (win-rolling-skew) — immune
    * to the extreme tail, sign tells which side the mass leans.
    * Quartiles are EXACT type-1 order statistics (rank = ceil(p·n),
    * no interpolation) from ONE global PrefixScan over
    * (priority, cents, key) — the agg-cvar-es rank discipline: range
    * partitioning keeps groups contiguous, per-group rank = global
    * rank − broadcast offset, never a 5-partition window. The final
    * statistic is an integer-over-integer ratio, floor-quantized. */
  val aggBowleySkew: Q = (s, d) => {
    import graft.functions.PrefixScan
    val base = orders(s, d).select(col("o_orderpriority").as("prio"),
      floor(col("o_totalprice") * 100).cast(LongType).as("cents"),
      col("o_orderkey"))
    val ranked = PrefixScan.withRankCumSum(base,
      Seq(col("prio"), col("cents"), col("o_orderkey")), None, rankName = "grn").df
      .sharedCache()
    val groups = ranked.groupBy("prio")
      .agg(min("grn").as("base_rn"), count(lit(1)).as("n"))
      .withColumn("k1", ceil(lit(0.25) * col("n")).cast(LongType))
      .withColumn("k2", ceil(lit(0.50) * col("n")).cast(LongType))
      .withColumn("k3", ceil(lit(0.75) * col("n")).cast(LongType))
    val q = ranked.join(broadcast(groups), "prio")
      .withColumn("r", col("grn") - col("base_rn") + 1)
      .filter(col("r") === col("k1") || col("r") === col("k2") || col("r") === col("k3"))
      .groupBy("prio")
      .agg(max(when(col("r") === col("k1"), col("cents"))).as("q1"),
        max(when(col("r") === col("k2"), col("cents"))).as("q2"),
        max(when(col("r") === col("k3"), col("cents"))).as("q3"),
        max("n").as("n"))
    q.select(col("prio"), col("n"),
      (col("q1").cast(DoubleType) / 100).as("q1"),
      (col("q2").cast(DoubleType) / 100).as("q2"),
      (col("q3").cast(DoubleType) / 100).as("q3"),
      ratioFloor(col("q1") + col("q3") - lit(2) * col("q2"),
        col("q3") - col("q1"), 6).as("bowley_skew"))
      .orderBy("prio")
  }

  val aggBowleySkewSql: String =
    s"""WITH base AS (
       |  SELECT o_orderpriority AS prio,
       |         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
       |  FROM orders),
       |ranked AS (
       |  SELECT prio, cents,
       |         row_number() OVER (PARTITION BY prio ORDER BY cents, o_orderkey) AS r,
       |         count(*) OVER (PARTITION BY prio) AS n
       |  FROM base),
       |q AS (
       |  SELECT prio, max(n) AS n,
       |         max(CASE WHEN r = CAST(ceil(0.25 * n) AS BIGINT) THEN cents END) AS q1,
       |         max(CASE WHEN r = CAST(ceil(0.50 * n) AS BIGINT) THEN cents END) AS q2,
       |         max(CASE WHEN r = CAST(ceil(0.75 * n) AS BIGINT) THEN cents END) AS q3
       |  FROM ranked GROUP BY prio)
       |SELECT prio, n,
       |       CAST(q1 AS DOUBLE) / 100 AS q1,
       |       CAST(q2 AS DOUBLE) / 100 AS q2,
       |       CAST(q3 AS DOUBLE) / 100 AS q3,
       |       ${ratioFloorSql("(q1 + q3 - 2 * q2)", "(q3 - q1)", 6)} AS bowley_skew
       |FROM q ORDER BY prio""".stripMargin

  /** dq-srm-check — sample-ratio-mismatch detection, the first gate of
    * every A/B readout: users hash 50/50 into arms (md5 nibble < 8 —
    * the same deterministic coin as the assignment would use), and
    * each day's arm counts feed the 1-df χ² = (n_A−n_B)²/(n_A+n_B),
    * kept exact by clearing the denominator and flooring once.
    * χ² > 3.84 (α=0.05) flags the day — a flagged day means the
    * ASSIGNMENT or LOGGING broke (bot purge, crash loop), and every
    * downstream metric that day is garbage. Top-10 worst days; the
    * per-day aggregate is two counters per key, any scale. */
  val dqSrmCheck: Q = (s, d) => {
    val tagged = events(s, d).select(to_date(col("ts")).as("dt"),
      (expr("instr('0123456789abcdef', substring(md5(CAST(user_id AS STRING)), 1, 1)) - 1") < 8)
        .as("arm_a"))
    val daily = tagged.groupBy("dt")
      .agg(sum(when(col("arm_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("arm_a"), 1L).otherwise(0L)).as("n_b"))
    daily.select(col("dt"), col("n_a"), col("n_b"),
      ratioFloor((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")),
        col("n_a") + col("n_b"), 4).as("chi2"))
      .withColumn("flagged",
        (col("chi2") > 3.84).cast(IntegerType))
      .orderBy(col("chi2").desc, col("dt").asc)
      .limit(10)
  }

  val dqSrmCheckSql: String =
    s"""WITH tagged AS (
       |  SELECT CAST(date_trunc('day', ts) AS DATE) AS dt,
       |         (strpos('0123456789abcdef', substring(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) < 8 AS arm_a
       |  FROM events),
       |daily AS (
       |  SELECT dt,
       |         CAST(sum(CASE WHEN arm_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |         CAST(sum(CASE WHEN arm_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
       |  FROM tagged GROUP BY dt),
       |scored AS (
       |  SELECT dt, n_a, n_b,
       |         ${ratioFloorSql("((n_a - n_b) * (n_a - n_b))", "(n_a + n_b)", 4)} AS chi2
       |  FROM daily)
       |SELECT dt, n_a, n_b, chi2,
       |       CAST(chi2 > 3.84 AS INT) AS flagged
       |FROM scored
       |ORDER BY chi2 DESC, dt
       |LIMIT 10""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("sample-cluster-stage", sampleClusterStage, sampleClusterStageSql),
    Key("agg-capture-recapture", aggCaptureRecapture, aggCaptureRecaptureSql),
    Key("agg-bowley-skew", aggBowleySkew, aggBowleySkewSql),
    Key("dq-srm-check", dqSrmCheck, dqSrmCheckSql))
}
