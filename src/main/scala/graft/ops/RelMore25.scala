package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-4 continuation batch Z: cohort lifetime value, the explicit
  * SEMI/ANTI join SQL syntax, and overlapping-interval consolidation.
  */
object RelMore25 extends KeyModule {

  /** agg-cohort-ltv — cohort lifetime-value triangle: customers
    * grouped by first-order month, revenue accumulated by cohort AGE
    * in months — the LTV curve growth teams project from. Age from
    * months_between on month-truncated dates (integral by
    * construction); running sum per cohort over the tiny age frame;
    * everything in exact cents. Extends agg-cohort-retention with the
    * revenue dimension. */
  val aggCohortLtv: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey")
    val base = orders(s, d)
      .select(col("o_custkey"), trunc(col("o_orderdate"), "month").as("m"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .withColumn("cohort", min("m").over(w))
      .withColumn("age", months_between(col("m"), col("cohort")).cast(IntegerType))
    val wCum = Window.partitionBy("cohort").orderBy("age")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.groupBy("cohort", "age")
      .agg(count(lit(1)).as("n_orders"), sum("cents").as("cents"))
      .withColumn("cum_cents", sum("cents").over(wCum))
      .select(date_format(col("cohort"), "yyyy-MM").as("cohort"),
        col("age"), col("n_orders"), col("cents"), col("cum_cents"))
      .orderBy("cohort", "age")
  }

  val aggCohortLtvSql: String =
    """WITH base AS (
      |  SELECT o_custkey, date_trunc('month', o_orderdate) AS m,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |         min(date_trunc('month', o_orderdate)) OVER (PARTITION BY o_custkey) AS cohort
      |  FROM orders),
      |aged AS (
      |  SELECT strftime(cohort, '%Y-%m') AS cohort,
      |         CAST(datediff('month', cohort, m) AS INT) AS age, cents
      |  FROM base),
      |g AS (
      |  SELECT cohort, age, count(*) AS n_orders, CAST(sum(cents) AS BIGINT) AS cents
      |  FROM aged GROUP BY cohort, age)
      |SELECT cohort, age, n_orders, cents,
      |       CAST(sum(cents) OVER (PARTITION BY cohort ORDER BY age
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
      |FROM g
      |ORDER BY cohort, age""".stripMargin

  /** sql-semi-anti — the explicit LEFT SEMI / LEFT ANTI JOIN syntax
    * (Spark SQL keywords; the oracle spells the equivalent IN / NOT
    * IN): existence tests that never multiply rows and never carry the
    * right side's columns — what EXISTS decorrelates to, written
    * directly. Both halves in one output via UNION ALL. */
  val sqlSemiAnti: Q = (s, d) => {
    customer(s, d).createOrReplaceTempView("customer")
    orders(s, d).createOrReplaceTempView("orders")
    s.sql(
      """SELECT 'has_urgent' AS cls, count(*) AS n_customers
        |FROM customer c
        |LEFT SEMI JOIN orders o
        |  ON o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
        |UNION ALL
        |SELECT 'no_urgent', count(*)
        |FROM customer c
        |LEFT ANTI JOIN orders o
        |  ON o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
        |ORDER BY cls""".stripMargin)
  }

  val sqlSemiAntiSql: String =
    """SELECT 'has_urgent' AS cls, count(*) AS n_customers
      |FROM customer c
      |WHERE c.c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
      |UNION ALL
      |SELECT 'no_urgent', count(*)
      |FROM customer c
      |WHERE c.c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
      |ORDER BY cls""".stripMargin

  /** win-interval-merge — consolidate overlapping validity intervals
    * (each order opens a 7-day activity window; touching/overlapping
    * windows merge into one episode): the islands detection runs on
    * the EXCLUSIVE running max of interval ends — a new episode starts
    * exactly when this start clears everything seen before. The
    * calendar-merging shape behind contract validity, incident
    * windows, and SCD repair; per-customer partitions, integer date
    * arithmetic only. */
  val winIntervalMerge: Q = (s, d) => {
    val base = orders(s, d)
      .select(col("o_custkey"), col("o_orderdate").cast(DateType).as("st"))
      .withColumn("en", date_add(col("st"), 7))
    val wPrev = Window.partitionBy("o_custkey").orderBy("st", "en")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wPfx = Window.partitionBy("o_custkey").orderBy("st", "en")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("prev_max_en", max("en").over(wPrev))
      .withColumn("new_ep",
        when(col("prev_max_en").isNull || col("st") > col("prev_max_en"), 1L).otherwise(0L))
      .withColumn("ep", sum("new_ep").over(wPfx))
      .groupBy("o_custkey", "ep")
      .agg(min("st").as("episode_start"),
        max("en").as("episode_end"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_custkey", "ep")
  }

  val winIntervalMergeSql: String =
    """WITH base AS (
      |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS st,
      |         CAST(o_orderdate AS DATE) + INTERVAL 7 DAY AS en0
      |  FROM orders),
      |flagged AS (
      |  SELECT o_custkey, st, CAST(en0 AS DATE) AS en,
      |         CASE WHEN max(CAST(en0 AS DATE)) OVER (PARTITION BY o_custkey ORDER BY st, CAST(en0 AS DATE)
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |               OR st > max(CAST(en0 AS DATE)) OVER (PARTITION BY o_custkey ORDER BY st, CAST(en0 AS DATE)
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |              THEN 1 ELSE 0 END AS new_ep
      |  FROM base),
      |eps AS (
      |  SELECT o_custkey, st, en,
      |         CAST(sum(new_ep) OVER (PARTITION BY o_custkey ORDER BY st, en
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ep
      |  FROM flagged)
      |SELECT o_custkey, ep,
      |       min(st) AS episode_start,
      |       max(en) AS episode_end,
      |       count(*) AS n_orders
      |FROM eps
      |GROUP BY o_custkey, ep
      |ORDER BY o_custkey, ep""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-cohort-ltv", aggCohortLtv, aggCohortLtvSql),
    Key("sql-semi-anti", sqlSemiAnti, sqlSemiAntiSql),
    Key("win-interval-merge", winIntervalMerge, winIntervalMergeSql))
}
