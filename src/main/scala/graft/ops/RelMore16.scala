package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-4 continuation batch Q: embedding distribution drift (the ML
  * monitoring op), rolling OLS trend slopes, the string-formatting
  * function surface, and inter-purchase gap histograms.
  */
object RelMore16 extends KeyModule {

  /** emb-drift-dims — per-dimension embedding drift between two
    * corpus halves (vec_id parity as the split proxy for
    * "yesterday's crawl vs today's"): the monitoring check that
    * catches encoder regressions and input-distribution shift before
    * retrieval quality tanks. Mean comparison kept EXACT by
    * cross-multiplication (sum_a·n_b − sum_b·n_a over 10^-6 integer
    * units — never divide into means); per-dim rows localize WHICH
    * dimensions moved. Shuffle is |labels|×|dims| rows — constant in
    * corpus size after the map-side combine. */
  val embDriftDims: Q = (s, d) =>
    embeddings(s, d)
      .select(col("label"), (col("vec_id") % 2).as("split"),
        posexplode(expr("quantize_lattice_long(embedding, 1000000.0D)"))
          .as(Seq("pos", "xi")))
      .groupBy("label", "pos")
      .agg(
        sum(when(col("split") === 0, col("xi")).otherwise(0L)).as("sum_a"),
        sum(when(col("split") === 1, col("xi")).otherwise(0L)).as("sum_b"),
        count(when(col("split") === 0, 1)).as("n_a"),
        count(when(col("split") === 1, 1)).as("n_b"))
      .withColumn("drift_u", col("sum_a") * col("n_b") - col("sum_b") * col("n_a"))
      .filter(col("label") < 4)
      .orderBy("label", "pos")

  val embDriftDimsSql: String =
    """SELECT label, pos, sum_a, sum_b, n_a, n_b,
      |       CAST(sum_a * n_b - sum_b * n_a AS BIGINT) AS drift_u
      |FROM (
      |  SELECT label, pos,
      |         CAST(sum(CASE WHEN split = 0 THEN xi ELSE 0 END) AS BIGINT) AS sum_a,
      |         CAST(sum(CASE WHEN split = 1 THEN xi ELSE 0 END) AS BIGINT) AS sum_b,
      |         count(CASE WHEN split = 0 THEN 1 END) AS n_a,
      |         count(CASE WHEN split = 1 THEN 1 END) AS n_b
      |  FROM (
      |    SELECT label, vec_id % 2 AS split,
      |           unnest(range(0, len(embedding))) AS pos,
      |           unnest(list_transform(embedding,
      |             x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))) AS xi
      |    FROM embeddings)
      |  GROUP BY label, pos)
      |WHERE label < 4
      |ORDER BY label, pos""".stripMargin

  /** win-rolling-slope — rolling OLS trend over each user's value
    * series: slope of the last-7-reading regression at every point,
    * from windowed integer sums only (x = per-user sequence index,
    * y = centi-units) — num/den = n·Σxy−Σx·Σy / n·Σx²−(Σx)², one
    * floor division at the end. The trend detector behind
    * "metric is drifting" alerts; windows are user-partitioned,
    * nothing global. Emitted only where the window is full (7 rows) —
    * partial-window slopes are noise. */
  val winRollingSlope: Q = (s, d) => {
    val wSeq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val base = events(s, d)
      .filter(col("user_id") % 25 === 0)
      .select(col("user_id"), col("event_id"), col("ts"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("y"))
      .withColumn("x", row_number().over(wSeq).cast(LongType))
    val w = Window.partitionBy("user_id").orderBy("x").rowsBetween(-6, 0)
    base
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum("x").over(w))
      .withColumn("sy", sum("y").over(w))
      .withColumn("sxy", sum(col("x") * col("y")).over(w))
      .withColumn("sxx", sum(col("x") * col("x")).over(w))
      .filter(col("n") === 7)
      .select(col("user_id"), col("event_id"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("den"))
      .withColumn("slope_micro",
        floor(col("num") * lit(1000000L) / col("den")).cast(LongType))
      .orderBy("user_id", "event_id")
  }

  val winRollingSlopeSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_id,
      |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y,
      |         CAST(row_number() OVER (PARTITION BY user_id
      |                ORDER BY date_trunc('microseconds', ts), event_id) AS BIGINT) AS x
      |  FROM events WHERE user_id % 25 = 0),
      |sums AS (
      |  SELECT user_id, event_id,
      |         count(*) OVER w AS n,
      |         sum(x) OVER w AS sx, sum(y) OVER w AS sy,
      |         sum(x * y) OVER w AS sxy, sum(x * x) OVER w AS sxx
      |  FROM seq
      |  WINDOW w AS (PARTITION BY user_id ORDER BY x
      |               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
      |SELECT user_id, event_id,
      |       CAST(n * sxy - sx * sy AS BIGINT) AS num,
      |       CAST(n * sxx - sx * sx AS BIGINT) AS den,
      |       CAST(floor((n * sxy - sx * sy) * 1000000 / (n * sxx - sx * sx)) AS BIGINT) AS slope_micro
      |FROM sums
      |WHERE n = 7
      |ORDER BY user_id, event_id""".stripMargin

  /** func-format-suite — the string-shaping surface ETL name/code
    * columns run through: pad, translate, repeat, reverse, left/right
    * slices, split_part. All codegen'd builtins with direct DuckDB
    * twins — the point is cross-engine FORMAT parity (lpad of a
    * too-long string truncates in both, split_part is 1-based in
    * both, translate drops unmapped chars in neither). */
  val funcFormatSuite: Q = (s, d) =>
    customer(s, d)
      .filter(col("c_custkey") % 10 === 0)
      .select(
        col("c_custkey"),
        lpad(col("c_custkey").cast(StringType), 8, "0").as("key_padded"),
        rpad(col("c_mktsegment"), 12, ".").as("seg_padded"),
        translate(col("c_mktsegment"), "AEIOU", "aeiou").as("seg_folded"),
        repeat(lit("*"), (col("c_nationkey") % 4).cast(IntegerType)).as("stars"),
        reverse(col("c_mktsegment")).as("seg_rev"),
        substring(col("c_name"), 1, 8).as("name_left"),
        expr("right(c_name, 4)").as("name_right"),
        expr("split_part(c_name, '#', 2)").as("name_num"))
      .orderBy("c_custkey")

  val funcFormatSuiteSql: String =
    """SELECT c_custkey,
      |       lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS key_padded,
      |       rpad(c_mktsegment, 12, '.') AS seg_padded,
      |       translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_folded,
      |       repeat('*', CAST(c_nationkey % 4 AS INT)) AS stars,
      |       reverse(c_mktsegment) AS seg_rev,
      |       substring(c_name, 1, 8) AS name_left,
      |       right(c_name, 4) AS name_right,
      |       split_part(c_name, '#', 2) AS name_num
      |FROM customer
      |WHERE c_custkey % 10 = 0
      |ORDER BY c_custkey""".stripMargin

  /** agg-gap-histogram — inter-purchase interval distribution per
    * market segment: lag the previous order date per customer, bucket
    * the gap in integer days (exact — DATE subtraction, no time
    * arithmetic), count per (segment, bucket). The replenishment-
    * cadence profile behind churn models; windows per customer,
    * histogram |segments|×4 rows. */
  val aggGapHistogram: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")
    val gaps = orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast(DateType).as("od"))
      .withColumn("prev_od", lag("od", 1).over(w))
      .filter(col("prev_od").isNotNull)
      .withColumn("gap_days", datediff(col("od"), col("prev_od")))
      .withColumn("bucket",
        when(col("gap_days") < 7, "a_under_week")
          .when(col("gap_days") < 30, "b_under_month")
          .when(col("gap_days") < 90, "c_under_quarter")
          .otherwise("d_longer"))
    gaps.join(customer(s, d).select(col("c_custkey").as("o_custkey"),
      col("c_mktsegment")), Seq("o_custkey"))
      .groupBy("c_mktsegment", "bucket")
      .agg(count(lit(1)).as("n"),
        min("gap_days").as("min_gap"), max("gap_days").as("max_gap"))
      .orderBy("c_mktsegment", "bucket")
  }

  val aggGapHistogramSql: String =
    """WITH gaps AS (
      |  SELECT o_custkey,
      |         date_diff('day',
      |           lag(CAST(o_orderdate AS DATE)) OVER
      |             (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
      |           CAST(o_orderdate AS DATE)) AS gap_days
      |  FROM orders),
      |bucketed AS (
      |  SELECT o_custkey, gap_days,
      |         CASE WHEN gap_days < 7 THEN 'a_under_week'
      |              WHEN gap_days < 30 THEN 'b_under_month'
      |              WHEN gap_days < 90 THEN 'c_under_quarter'
      |              ELSE 'd_longer' END AS bucket
      |  FROM gaps WHERE gap_days IS NOT NULL)
      |SELECT c.c_mktsegment, b.bucket, count(*) AS n,
      |       CAST(min(b.gap_days) AS INT) AS min_gap,
      |       CAST(max(b.gap_days) AS INT) AS max_gap
      |FROM bucketed b
      |JOIN customer c ON c.c_custkey = b.o_custkey
      |GROUP BY c.c_mktsegment, b.bucket
      |ORDER BY c.c_mktsegment, b.bucket""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("emb-drift-dims", embDriftDims, embDriftDimsSql),
    Key("win-rolling-slope", winRollingSlope, winRollingSlopeSql),
    Key("func-format-suite", funcFormatSuite, funcFormatSuiteSql),
    Key("agg-gap-histogram", aggGapHistogram, aggGapHistogramSql))
}
