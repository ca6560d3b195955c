package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-4 continuation batch AA: exact exponential-decay recency
  * scoring and per-source duplicate-rate reporting.
  */
object RelMore26 extends KeyModule {

  /** agg-decay-score — recency-weighted engagement with a one-week
    * half-life, EXACT: age in whole weeks behind the corpus watermark,
    * per-event weight floor(10^6 / 2^weeks) — integer shifts, no
    * exp()/pow() floats (libm's last ulp differs across engines; a
    * ranking metric must not). Ages ≥ 20 weeks contribute 0 (the
    * weight underflows the ppm grid). The leaderboard-score shape
    * behind "trending" rankings, reproducible in replay because the
    * reference point is the corpus watermark, not now().
    *
    * The watermark is a one-row scalar aggregate broadcast back onto
    * the fact table (crossJoin(broadcast(...))): the raw event table
    * never crosses a single partition, unlike the
    * max().over(Window.partitionBy()) form which sorts the whole fact
    * table into one task at scale. */
  val aggDecayScore: Q = (s, d) => {
    val ev = events(s, d)
    val watermark = ev.agg(max(unix_micros(col("ts"))).as("max_us"))
    val withAge = ev
      .crossJoin(broadcast(watermark))
      .withColumn("age_weeks",
        floor((col("max_us") - unix_micros(col("ts"))) / lit(604800000000L)).cast(IntegerType))
      .withColumn("wt",
        when(col("age_weeks") >= 20, 0L)
          .otherwise(floor(lit(1000000L) / pow(lit(2.0), col("age_weeks"))).cast(LongType)))
    withAge.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum("wt").as("decay_score_u"))
      .filter(col("user_id") % 25 === 0)
      .orderBy("user_id")
  }

  val aggDecayScoreSql: String =
    """WITH base AS (
      |  SELECT user_id,
      |         CAST(floor(((SELECT max(epoch_us(date_trunc('microseconds', ts))) FROM events)
      |                     - epoch_us(date_trunc('microseconds', ts))) / 604800000000) AS INT) AS age_weeks
      |  FROM events)
      |SELECT user_id, count(*) AS n_events,
      |       CAST(sum(CASE WHEN age_weeks >= 20 THEN 0
      |                     ELSE CAST(floor(1000000 / power(2, age_weeks)) AS BIGINT) END) AS BIGINT) AS decay_score_u
      |FROM base
      |WHERE user_id % 25 = 0
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** dq-duplicate-rate — exact-duplicate pressure per source: md5
    * full-text groups, docs beyond each group's first are duplicates,
    * rate in floor-ppm — the per-feed report that says WHICH upstream
    * is flooding the corpus (dedup-exact removes dups; this measures
    * them where they come from, which is what gets a feed fixed). */
  val dqDuplicateRate: Q = (s, d) => {
    val dups = documents(s, d)
      .select(col("source"), md5(col("text")).as("h"))
      .groupBy("source", "h")
      .agg(count(lit(1)).as("k"))
    dups.groupBy("source")
      .agg(sum("k").as("n_docs"),
        sum(col("k") - 1).as("n_dups"))
      .withColumn("dup_ppm",
        floor(col("n_dups") * lit(1000000L) / col("n_docs")).cast(LongType))
      .orderBy("source")
  }

  val dqDuplicateRateSql: String =
    """WITH groups AS (
      |  SELECT source, md5(text) AS h, count(*) AS k
      |  FROM documents GROUP BY source, md5(text))
      |SELECT source,
      |       CAST(sum(k) AS BIGINT) AS n_docs,
      |       CAST(sum(k - 1) AS BIGINT) AS n_dups,
      |       CAST(floor(sum(k - 1) * 1000000 / sum(k)) AS BIGINT) AS dup_ppm
      |FROM groups
      |GROUP BY source
      |ORDER BY source""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-decay-score", aggDecayScore, aggDecayScoreSql),
    Key("dq-duplicate-rate", dqDuplicateRate, dqDuplicateRateSql))
}
