package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-4 continuation batch T: forecasting backtest (seasonal-naive
  * + MAE), ingestion freshness SLAs, and the near-dup threshold tuning
  * curve.
  */
object RelMore19 extends KeyModule {

  /** agg-forecast-backtest — seasonal-naive forecast (predict each
    * day = same weekday last week) backtested on the days where both
    * prediction and actual exist: per-day absolute errors summed in
    * integers, MAE and bias in exact micro-units. The baseline every
    * forecasting system must beat — and the backtest-evaluation SHAPE
    * (lag-as-prediction + held-out scoring) is the same whatever model
    * replaces the lag. */
  val aggForecastBacktest: Q = (s, d) => {
    val daily = events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.orderBy("day")
    daily
      .withColumn("pred", lag("n", 7).over(w))
      .filter(col("pred").isNotNull)
      .groupBy()
      .agg(count(lit(1)).as("n_days_eval"),
        sum(abs(col("n") - col("pred"))).as("sum_abs_err"),
        sum(col("n") - col("pred")).as("bias"))
      .select(col("n_days_eval"), col("sum_abs_err"), col("bias"),
        floor(col("sum_abs_err") * lit(1000000L) / col("n_days_eval")).cast(LongType)
          .as("mae_micro"))
  }

  val aggForecastBacktestSql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day, count(*) AS n
      |  FROM events GROUP BY 1),
      |scored AS (
      |  SELECT day, n, lag(n, 7) OVER (ORDER BY day) AS pred FROM daily)
      |SELECT count(*) AS n_days_eval,
      |       CAST(sum(abs(n - pred)) AS BIGINT) AS sum_abs_err,
      |       CAST(sum(n - pred) AS BIGINT) AS bias,
      |       CAST(floor(sum(abs(n - pred)) * 1000000 / count(*)) AS BIGINT) AS mae_micro
      |FROM scored
      |WHERE pred IS NOT NULL""".stripMargin

  /** dq-freshness — ingestion freshness against an SLA: minutes since
    * each stream's (event_type's) last event, measured against the
    * corpus watermark (the max timestamp — NEVER wall-clock now(),
    * which would make the check unreproducible and flaky in replay).
    * Integer-minute lag via epoch microseconds; stale = behind by
    * more than 60 minutes. The first page of every pipeline-health
    * dashboard. */
  val dqFreshness: Q = (s, d) => {
    val wAll = Window.partitionBy()
    events(s, d)
      .groupBy("event_type")
      .agg(max(unix_micros(col("ts"))).as("last_us"), count(lit(1)).as("n"))
      .withColumn("lag_minutes",
        floor((max("last_us").over(wAll) - col("last_us")) / lit(60000000L)).cast(LongType))
      .withColumn("stale", col("lag_minutes") > 60)
      .select("event_type", "n", "lag_minutes", "stale")
      .orderBy("event_type")
  }

  val dqFreshnessSql: String =
    """WITH per_type AS (
      |  SELECT event_type,
      |         max(epoch_us(date_trunc('microseconds', ts))) AS last_us,
      |         count(*) AS n
      |  FROM events GROUP BY event_type)
      |SELECT event_type, n,
      |       CAST(floor(((SELECT max(last_us) FROM per_type) - last_us) / 60000000) AS BIGINT) AS lag_minutes,
      |       floor(((SELECT max(last_us) FROM per_type) - last_us) / 60000000) > 60 AS stale
      |FROM per_type
      |ORDER BY event_type""".stripMargin

  /** dedup-threshold-curve — the near-dup THRESHOLD tuning curve:
    * candidate pair counts at cosine ≥ 0.20 / 0.30 / 0.40 (bands sized to this synthetic corpus's cosine range), blocked by
    * label (the blocking key bounds the quadratic pair space exactly
    * like LSH buckets do). One scored pass, thresholds applied as
    * filters over the same rounded cosines — the sweep that picks the
    * dedup threshold BEFORE committing a corpus-wide purge, companion
    * to ann-nprobe-curve on the retrieval side. Cosines rounded to
    * 9 dp (the engine-parity discipline from the ANN family). */
  val dedupThresholdCurve: Q = (s, d) => {
    graft.functions.CosineSimilarity.register(s)
    val v = embeddings(s, d)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val pairs = v.as("a").join(v.as("b"),
      col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(round(expr("cosine_similarity(a.v, b.v)"), 9).as("cos"))
    pairs
      .withColumn("threshold_bp", explode(array(lit(2000), lit(3000), lit(4000))))
      .filter(col("cos") * 10000 >= col("threshold_bp"))
      .groupBy("threshold_bp")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("threshold_bp")
  }

  val dedupThresholdCurveSql: String =
    """WITH pairs AS (
      |  SELECT round(list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
      |               (sqrt(list_inner_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
      |                sqrt(list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 9) AS cos
      |  FROM embeddings a
      |  JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id)
      |SELECT t.threshold_bp, count(*) AS n_pairs
      |FROM pairs p
      |JOIN (VALUES (2000), (3000), (4000)) t(threshold_bp)
      |  ON p.cos * 10000 >= t.threshold_bp
      |GROUP BY t.threshold_bp
      |ORDER BY t.threshold_bp""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-forecast-backtest", aggForecastBacktest, aggForecastBacktestSql),
    Key("dq-freshness", dqFreshness, dqFreshnessSql),
    Key("dedup-threshold-curve", dedupThresholdCurve, dedupThresholdCurveSql))
}
