package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch E: VALUES inline tables, NATURAL JOIN, catalog column
  * statistics (CBO input), Grubbs outlier statistic. */
object RelMore104 extends KeyModule {

  /** sql-values-inline — the VALUES table constructor as a first-class
    * source: a 5-row regional price-adjustment table declared INLINE in
    * the query (the pattern for small reference data that lives in the
    * query text, not a file), joined against the order→customer→nation
    * rollup. One SQL string, valid and identical in both engines.
    * Catalyst folds the inline table to a LocalRelation and broadcasts
    * it — zero scan, zero shuffle for the dim side at any scale. */
  val sqlValuesInline: Q = (s, d) => {
    orders(s, d).createOrReplaceTempView("orders")
    customer(s, d).createOrReplaceTempView("customer")
    nation(s, d).createOrReplaceTempView("nation")
    s.sql(sqlValuesInlineSql)
  }

  val sqlValuesInlineSql: String =
    """WITH rates AS (
      |  SELECT * FROM (VALUES (0, 1.05), (1, 1.10), (2, 0.95), (3, 1.00), (4, 1.20))
      |    AS t(regionkey, factor)),
      |rev AS (
      |  SELECT n_regionkey AS regionkey,
      |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |  FROM orders
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation ON n_nationkey = c_nationkey
      |  GROUP BY n_regionkey)
      |SELECT regionkey, CAST(factor AS DOUBLE) AS factor, round(revenue, 2) AS revenue,
      |       round(revenue * factor, 2) AS adjusted_revenue
      |FROM rev JOIN rates USING (regionkey)
      |ORDER BY regionkey""".stripMargin

  /** sql-natural-join — NATURAL JOIN resolving the join condition from
    * column NAMES: the prefixed TPC-H columns are re-aliased in
    * subqueries so `nationkey` is the one shared name, and the engines
    * must both infer it. One SQL string, identical in both. Catalyst
    * rewrites NATURAL to an equi-join — same shuffle/broadcast
    * physics as an explicit ON. */
  val sqlNaturalJoin: Q = (s, d) => {
    customer(s, d).createOrReplaceTempView("customer")
    nation(s, d).createOrReplaceTempView("nation")
    s.sql(sqlNaturalJoinSql)
  }

  val sqlNaturalJoinSql: String =
    """SELECT nation, count(*) AS n_customers,
      |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |FROM (SELECT c_custkey, c_nationkey AS nationkey, c_acctbal FROM customer) c
      |NATURAL JOIN (SELECT n_nationkey AS nationkey, n_name AS nation FROM nation) n
      |GROUP BY nation
      |ORDER BY nation""".stripMargin

  /** ddl-analyze-stats — ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS
    * and the stats read back from the catalog: the input the
    * cost-based optimizer joins-reorders and broadcast-plans from (at
    * 100 TB, stale or missing NDVs are how you get a sort-merge join
    * against a 25-row dimension). num_nulls and numeric min/max are
    * exact in the catalog and graded exactly (Spark stores no string
    * min/max — surfaced as nulls, not faked); the NDV is
    * HyperLogLog++-approximate BY DESIGN (even 25 brands read back as
    * 26), so it is graded as a declared ±5% contract against the
    * exact count — the honest gradeable statement about an
    * approximate statistic. The DESCRIBE read-back is catalog
    * metadata: driver-side by nature, O(columns), no data scan. */
  val ddlAnalyzeStats: Q = (s, d) => {
    // external table at a pid-namespaced path: a fresh JVM's in-memory
    // catalog doesn't know tables a previous run left in the shared
    // warehouse dir, and saveAsTable refuses to adopt the orphaned
    // location (LOCATION_ALREADY_EXISTS) — per-process scratch makes
    // the op re-runnable from any session
    s.sql("DROP TABLE IF EXISTS graft_stats_part")
    part(s, d).write.mode("overwrite")
      .option("path", Tables.tmp("analyze-stats", d)).saveAsTable("graft_stats_part")
    s.sql("ANALYZE TABLE graft_stats_part COMPUTE STATISTICS FOR COLUMNS p_brand, p_size")
    def colStats(c: String): Map[String, String] =
      s.sql(s"DESCRIBE EXTENDED graft_stats_part $c")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val exact = part(s, d).agg(
      countDistinct(col("p_brand")).as("db"), countDistinct(col("p_size")).as("ds"))
      .collect().head
    val exactNdv = Map("p_brand" -> exact.getLong(0), "p_size" -> exact.getLong(1))
    val rows = Seq("p_brand", "p_size").map { c =>
      val m = colStats(c)
      def lv(k: String): Option[Long] =
        m.get(k).filter(v => v != null && v != "NULL").map(_.toLong)
      val statsNdv = lv("distinct_count").getOrElse(-1L)
      val ex = exactNdv(c)
      (c, ex, math.abs(statsNdv - ex) <= 0.05 * ex,
        lv("num_nulls").getOrElse(-1L), lv("min"), lv("max"))
    }
    import s.implicits._
    rows.toDF("column_name", "exact_distinct", "stats_ndv_within_5pct",
      "num_nulls", "min_val", "max_val")
      .orderBy("column_name")
  }

  val ddlAnalyzeStatsSql: String =
    """SELECT 'p_brand' AS column_name,
      |       CAST(count(DISTINCT p_brand) AS BIGINT) AS exact_distinct,
      |       TRUE AS stats_ndv_within_5pct,
      |       CAST(sum(CASE WHEN p_brand IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS num_nulls,
      |       CAST(NULL AS BIGINT) AS min_val, CAST(NULL AS BIGINT) AS max_val
      |FROM part
      |UNION ALL
      |SELECT 'p_size', CAST(count(DISTINCT p_size) AS BIGINT), TRUE,
      |       CAST(sum(CASE WHEN p_size IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |       CAST(min(p_size) AS BIGINT), CAST(max(p_size) AS BIGINT)
      |FROM part
      |ORDER BY column_name""".stripMargin

  /** dq-grubbs-stat — Grubbs' outlier statistic G = max|y−ȳ|/s of the
    * daily event-count series per event type, with the offending day:
    * where dq-anomaly-zscore flags every point beyond a z cut, Grubbs
    * is the single-most-extreme-value test (the one you run before
    * deleting "the bad day" from a report). Mean/sd come from the
    * exact nΣy²−S² integer form; the argmax day is picked by one
    * per-type window with a date tiebreak. The fixed G > 3.0 flag is
    * a declared convention (the exact critical value needs a t
    * quantile — out of scope, stated, not faked). Calendar-bounded
    * series per type; one groupBy + one tiny window. */
  val dqGrubbsStat: Q = (s, d) => {
    val daily = events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("dt"))
      .agg(count(lit(1)).as("y"))
      .sharedCache()
    val stats = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("y").as("sy"), sum(col("y") * col("y")).as("syy"))
      .filter(col("n") > 2)
      .select(col("event_type"), col("n"),
        (col("sy").cast(DoubleType) / col("n")).as("mu"),
        sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType) /
          (col("n").cast(DoubleType) * (col("n") - 1))).as("sd"))
    val wDev = Window.partitionBy("event_type").orderBy(desc("adev"), col("dt"))
    daily.join(stats, Seq("event_type"))
      .withColumn("adev", abs(col("y").cast(DoubleType) - col("mu")))
      .withColumn("r", row_number().over(wDev)).filter(col("r") === 1)
      .select(col("event_type"), col("n").as("n_days"),
        round(col("mu"), 4).as("mean_daily"), round(col("sd"), 4).as("sd_daily"),
        col("dt").as("outlier_day"), col("y").as("outlier_count"),
        round(col("adev") / col("sd"), 4).as("g_stat"),
        (col("adev") / col("sd") > 3.0).as("is_outlier"))
      .orderBy("event_type")
  }

  val dqGrubbsStatSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS dt, count(*) AS y
      |  FROM events GROUP BY 1, 2),
      |stats AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(y) AS DOUBLE) / count(*) AS mu,
      |         sqrt(CAST(count(*) * sum(y * y) - sum(y) * sum(y) AS DOUBLE) /
      |              (CAST(count(*) AS DOUBLE) * (count(*) - 1))) AS sd
      |  FROM daily GROUP BY 1 HAVING count(*) > 2),
      |dev AS (
      |  SELECT daily.event_type, n, mu, sd, dt, y,
      |         abs(CAST(y AS DOUBLE) - mu) AS adev,
      |         row_number() OVER (PARTITION BY daily.event_type
      |           ORDER BY abs(CAST(y AS DOUBLE) - mu) DESC, dt) AS r
      |  FROM daily JOIN stats USING (event_type))
      |SELECT event_type, n AS n_days, round(mu, 4) AS mean_daily,
      |       round(sd, 4) AS sd_daily, dt AS outlier_day, y AS outlier_count,
      |       round(adev / sd, 4) AS g_stat, adev / sd > 3.0 AS is_outlier
      |FROM dev WHERE r = 1 ORDER BY event_type""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("sql-values-inline", sqlValuesInline, sqlValuesInlineSql),
    Key("sql-natural-join", sqlNaturalJoin, sqlNaturalJoinSql),
    Key("ddl-analyze-stats", ddlAnalyzeStats, ddlAnalyzeStatsSql),
    Key("dq-grubbs-stat", dqGrubbsStat, dqGrubbsStatSql))
}
