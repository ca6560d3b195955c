package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-4 continuation batch Y: the CACHE TABLE surface and rolling
  * discrete medians.
  */
object RelMore24 extends KeyModule {

  /** sql-cache-table — the SQL-level result-cache surface: CACHE TABLE
    * materializes a derived relation columnar-in-memory
    * (InMemoryRelation, asserted in the spec) and every later
    * reference scans the cache, not the lake. The access pattern that
    * makes a dashboard's 20 tiles cost one lake scan. The cache must
    * stay alive in the RETURNED plan (consumers and the spec scan the
    * InMemoryRelation), so release is the caller's: Verify/Bench
    * clearCache() after materializing each query, and the leading
    * UNCACHE here frees any table a previous invocation of this op
    * left behind in other sessions. */
  val sqlCacheTable: Q = (s, d) => {
    orders(s, d).createOrReplaceTempView("orders")
    s.sql("UNCACHE TABLE IF EXISTS graft_cached_rev")
    // CACHE TABLE ... AS creates a temp view and cannot replace an
    // existing one — drop it so the op is re-runnable in one session
    // (Bench runs every query twice)
    s.sql("DROP VIEW IF EXISTS graft_cached_rev")
    s.sql(
      """CACHE TABLE graft_cached_rev AS
        |SELECT o_orderstatus, o_orderpriority,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) ) AS DOUBLE) AS revenue,
        |       count(*) AS n
        |FROM orders
        |GROUP BY o_orderstatus, o_orderpriority""".stripMargin)
    // two consumers of the cached relation — both hit the InMemoryRelation
    val top = s.sql(
      """SELECT o_orderstatus, o_orderpriority, revenue, n
        |FROM graft_cached_rev""".stripMargin)
    val out = top.orderBy("o_orderstatus", "o_orderpriority")
    out.count() // materialize while cached
    out
  }

  val sqlCacheTableSql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |       count(*) AS n
      |FROM orders
      |GROUP BY o_orderstatus, o_orderpriority
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  /** win-moving-median — rolling 7-reading discrete median per user:
    * collect the frame into an array, sort, index (n+1)/2 — the
    * robust smoother that ignores spikes a moving average chases.
    * Emitted only on full frames. Arrays are frame-bounded (7
    * elements) so the window state is O(frame), not O(partition) —
    * safe at any series length. */
  val winMovingMedian: Q = (s, d) => {
    val wf = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(-6, 0)
    events(s, d)
      .filter(col("user_id") % 25 === 0)
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("vu"))
      .withColumn("frame", collect_list("vu").over(wf))
      .filter(size(col("frame")) === 7)
      .select(col("user_id"), col("event_id"),
        expr("element_at(array_sort(frame), 4)").as("med7_cents"))
      .orderBy("user_id", "event_id")
  }

  val winMovingMedianSql: String =
    """SELECT user_id, event_id,
      |       list_sort(frame)[4] AS med7_cents
      |FROM (
      |  SELECT user_id, event_id,
      |         list(vu) OVER (PARTITION BY user_id
      |                        ORDER BY date_trunc('microseconds', ts), event_id
      |                        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS frame
      |  FROM (SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts,
      |               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vu
      |        FROM events WHERE user_id % 25 = 0))
      |WHERE len(frame) = 7
      |ORDER BY user_id, event_id""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("sql-cache-table", sqlCacheTable, sqlCacheTableSql),
    Key("win-moving-median", winMovingMedian, winMovingMedianSql))
}
