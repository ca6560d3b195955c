package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-5 batch E: dynamic partition overwrite, the named-WINDOW SQL
  * surface, and a scale-safe 2-D skyline.
  */
object RelMore31 extends KeyModule {

  /** sink-dynamic-overwrite — partition-scoped replacement: with
    * partitionOverwriteMode=dynamic, an Overwrite write replaces ONLY
    * the partitions present in the incoming frame, leaving siblings
    * untouched — the daily-reprocess primitive ("rerun yesterday")
    * that static overwrite turns into truncate-the-table (the classic
    * lakehouse data-loss incident). Here the full orders table lands
    * partitioned by status, then a corrected 'O' slice (priority
    * recoded) overwrites just dir o_orderstatus=O; the readback proves
    * F and P survived byte-for-byte while every O row carries the
    * correction. At 100 TB this is how backfills ship: the rewrite
    * cost is |changed partitions|, not |table|, and readers never see
    * a half-replaced partition (dir swap is per-partition atomic-ish;
    * the manifest-commit op covers the stronger contract). Conf is
    * restored afterwards so other ops keep static semantics. */
  val sinkDynamicOverwrite: Q = (s, d) => {
    val out = tmp("sink-dynamic-overwrite", d)
    val norm = orders(s, d).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_orderpriority"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    try {
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      norm.repartition(col("o_orderstatus"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("o_orderstatus").parquet(out)
      // corrected slice: only the 'O' partition, priorities recoded
      norm.filter(col("o_orderstatus") === "O")
        .withColumn("o_orderpriority", lit("0-RUSH"))
        .repartition(col("o_orderstatus"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("o_orderstatus").parquet(out)
    } finally {
      prev match {
        case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
    s.read.parquet(out)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
      .orderBy("o_orderstatus", "o_orderpriority")
  }

  val sinkDynamicOverwriteSql: String =
    """SELECT o_orderstatus,
      |       CASE WHEN o_orderstatus = 'O' THEN '0-RUSH' ELSE o_orderpriority END AS o_orderpriority,
      |       count(*) AS n,
      |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      |FROM orders
      |GROUP BY 1, 2
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  /** sql-window-clause — the named WINDOW clause: one PARTITION/ORDER
    * spec declared once and shared by rank, lag and a framed running
    * sum. Beyond syntax hygiene, sharing the spec is a physical
    * contract: all three functions land in ONE WindowExec over ONE
    * exchange+sort (unshared specs that merely happen to match also
    * coalesce, but the clause makes it structural — a maintainer
    * cannot drift one copy's ORDER BY and silently double the
    * shuffles). Shared-SQL front door: the identical text runs on
    * DuckDB. */
  val sqlWindowClause: Q = (s, d) => {
    orders(s, d)
      .withColumn("cents", expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
      .createOrReplaceTempView("ord_cents")
    s.sql(sqlWindowClauseText)
  }

  private val sqlWindowClauseText: String =
    """SELECT o_custkey, o_orderkey, cents,
      |       row_number() OVER w AS rn,
      |       lag(cents) OVER w AS prev_cents,
      |       CAST(sum(cents) OVER wf AS BIGINT) AS run_cents
      |FROM ord_cents
      |WHERE o_custkey % 199 = 0
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      |       wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, rn""".stripMargin

  val sqlWindowClauseSql: String =
    """SELECT o_custkey, o_orderkey, cents,
      |       row_number() OVER w AS rn,
      |       lag(cents) OVER w AS prev_cents,
      |       CAST(sum(cents) OVER wf AS BIGINT) AS run_cents
      |FROM (SELECT *, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |      FROM orders) ord_cents
      |WHERE o_custkey % 199 = 0
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      |       wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, rn""".stripMargin

  /** agg-skyline-2d — the Pareto-frontier (skyline) query: customers
    * not dominated on (order count, revenue) — nobody strictly better
    * on one axis and at least as good on the other. The naive plan is
    * the |customers|² dominance self-join; the scale-safe form used
    * here exploits one axis being LOW-CARDINALITY after aggregation:
    * group customers by order count (a few dozen distinct values at
    * any scale — it's a small-integer count), take max revenue per
    * group, run the dominance test on that TINY group table (a
    * window over |distinct counts| rows), and semi-join winners back.
    * A customer is on the skyline iff its revenue equals its group's
    * max AND that max strictly exceeds every higher-count group's max.
    * Total cost: one customer-keyed aggregate + one broadcast join —
    * the quadratic never materializes. (With two continuous axes
    * you'd bucket one axis first — same shape, ε-approximate.) */
  val aggSkyline2d: Q = (s, d) => {
    val per = orders(s, d).groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("cents"))
    // |distinct n_orders| rows — tiny at any corpus scale
    val groups = per.groupBy("n_orders").agg(max("cents").as("gmax"))
    val wHigher = Window.orderBy(desc("n_orders"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = groups
      .withColumn("hmax", max("gmax").over(wHigher))
      .filter(col("hmax").isNull || col("gmax") > col("hmax"))
      .select(col("n_orders"), col("gmax"))
    per.as("p").join(
        broadcast(frontier.select(col("n_orders").as("f_n"), col("gmax"))),
        col("p.n_orders") === col("f_n") && col("p.cents") === col("gmax"))
      .select(col("p.o_custkey"), col("p.n_orders"), col("p.cents"))
      .orderBy(desc("n_orders"), col("o_custkey"))
  }

  val aggSkyline2dSql: String =
    """WITH per AS (
      |  SELECT o_custkey, count(*) AS n_orders,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |groups AS (
      |  SELECT n_orders, max(cents) AS gmax FROM per GROUP BY 1),
      |frontier AS (
      |  SELECT n_orders, gmax FROM (
      |    SELECT n_orders, gmax,
      |           max(gmax) OVER (ORDER BY n_orders DESC
      |                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hmax
      |    FROM groups)
      |  WHERE hmax IS NULL OR gmax > hmax)
      |SELECT p.o_custkey, p.n_orders, p.cents
      |FROM per p JOIN frontier f ON f.n_orders = p.n_orders AND f.gmax = p.cents
      |ORDER BY p.n_orders DESC, p.o_custkey""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("sink-dynamic-overwrite", sinkDynamicOverwrite, sinkDynamicOverwriteSql),
    Key("sql-window-clause", sqlWindowClause, sqlWindowClauseSql),
    Key("agg-skyline-2d", aggSkyline2d, aggSkyline2dSql))
}
