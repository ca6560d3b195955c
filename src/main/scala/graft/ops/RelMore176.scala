package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-8 batch L: the multi-grain grouping operators every OLAP
  * engine ships (GROUPING SETS / ROLLUP / CUBE with grouping flags),
  * the bitmap-word exact-distinct trick, and a closed-form CUSUM
  * changepoint scan. */
object RelMore176 extends KeyModule {

  /** sql-grouping-sets — one pass, three grains: (flag,status),
    * (flag), and grand total over lineitem revenue via GROUPING SETS,
    * with `grouping()` flags disambiguating a NULL group key from an
    * aggregated-out dimension. This is THE multi-grain reporting
    * operator: Spark expands the sets in a single Expand node (one
    * scan, map-side partial aggregation per grain) instead of a
    * UNION ALL of three scans — at 100 TB the difference between one
    * shuffle and three. */
  val sqlGroupingSets: Q = (s, d) => {
    val src = lineitem(s, d).select(
      col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
      expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    src.groupingSets(
        Seq(Seq(col("rf"), col("ls")), Seq(col("rf")), Seq()),
        col("rf"), col("ls"))
      .agg(grouping(col("rf")).cast(IntegerType).as("g_rf"),
        grouping(col("ls")).cast(IntegerType).as("g_ls"),
        sum("cents").as("cents"), count(lit(1)).as("n_lines"))
      .select(col("g_rf"), col("g_ls"),
        coalesce(col("rf"), lit("ALL")).as("rf"),
        coalesce(col("ls"), lit("ALL")).as("ls"),
        round(col("cents").cast(DoubleType) / 100, 2).as("revenue"),
        col("n_lines"))
      .orderBy("g_rf", "g_ls", "rf", "ls")
  }

  val sqlGroupingSetsSql: String =
    """SELECT CAST(grouping(l_returnflag) AS INTEGER) AS g_rf,
      |       CAST(grouping(l_linestatus) AS INTEGER) AS g_ls,
      |       COALESCE(l_returnflag, 'ALL') AS rf,
      |       COALESCE(l_linestatus, 'ALL') AS ls,
      |       round(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |             AS DOUBLE) / 100, 2) AS revenue,
      |       CAST(count(*) AS BIGINT) AS n_lines
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |ORDER BY g_rf, g_ls, rf, ls""".stripMargin

  /** sql-rollup-ym — ROLLUP (year, quarter) over order revenue: the
    * drill-down hierarchy grain (year-quarter → year → total) in one
    * Expand pass. Numeric group keys use a −1 sentinel plus grouping
    * flags, the unambiguous encoding when the domain can't collide
    * with the sentinel. */
  val sqlRollupYm: Q = (s, d) => {
    val src = orders(s, d).select(
      year(col("o_orderdate")).as("yr"), quarter(col("o_orderdate")).as("qtr"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    src.rollup(col("yr"), col("qtr"))
      .agg(grouping(col("yr")).cast(IntegerType).as("g_yr"),
        grouping(col("qtr")).cast(IntegerType).as("g_qtr"),
        sum("cents").as("cents"), count(lit(1)).as("n_orders"))
      .select(col("g_yr"), col("g_qtr"),
        coalesce(col("yr"), lit(-1)).cast(IntegerType).as("yr"),
        coalesce(col("qtr"), lit(-1)).cast(IntegerType).as("qtr"),
        round(col("cents").cast(DoubleType) / 100, 2).as("revenue"),
        col("n_orders"))
      .orderBy("g_yr", "g_qtr", "yr", "qtr")
  }

  val sqlRollupYmSql: String =
    """SELECT CAST(grouping(yr) AS INTEGER) AS g_yr,
      |       CAST(grouping(qtr) AS INTEGER) AS g_qtr,
      |       CAST(COALESCE(yr, -1) AS INTEGER) AS yr,
      |       CAST(COALESCE(qtr, -1) AS INTEGER) AS qtr,
      |       round(CAST(sum(cents) AS DOUBLE) / 100, 2) AS revenue,
      |       CAST(count(*) AS BIGINT) AS n_orders
      |FROM (
      |  SELECT year(CAST(o_orderdate AS DATE)) AS yr,
      |         quarter(CAST(o_orderdate AS DATE)) AS qtr,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders) t
      |GROUP BY ROLLUP (yr, qtr)
      |ORDER BY g_yr, g_qtr, yr, qtr""".stripMargin

  /** sql-cube-year-priority — CUBE (year, priority): all four grains
    * (both, year-only, priority-only, total) from one scan — the
    * cross-tab operator. 2^d grains share one Expand + one shuffle;
    * the naive alternative is 2^d separate scans. */
  val sqlCubeYearPriority: Q = (s, d) => {
    val src = orders(s, d).select(
      year(col("o_orderdate")).as("yr"), col("o_orderpriority").as("pri"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    src.cube(col("yr"), col("pri"))
      .agg(grouping(col("yr")).cast(IntegerType).as("g_yr"),
        grouping(col("pri")).cast(IntegerType).as("g_pri"),
        sum("cents").as("cents"), count(lit(1)).as("n_orders"))
      .select(col("g_yr"), col("g_pri"),
        coalesce(col("yr"), lit(-1)).cast(IntegerType).as("yr"),
        coalesce(col("pri"), lit("ALL")).as("pri"),
        round(col("cents").cast(DoubleType) / 100, 2).as("revenue"),
        col("n_orders"))
      .orderBy("g_yr", "g_pri", "yr", "pri")
  }

  val sqlCubeYearPrioritySql: String =
    """SELECT CAST(grouping(yr) AS INTEGER) AS g_yr,
      |       CAST(grouping(pri) AS INTEGER) AS g_pri,
      |       CAST(COALESCE(yr, -1) AS INTEGER) AS yr,
      |       COALESCE(pri, 'ALL') AS pri,
      |       round(CAST(sum(cents) AS DOUBLE) / 100, 2) AS revenue,
      |       CAST(count(*) AS BIGINT) AS n_orders
      |FROM (
      |  SELECT year(CAST(o_orderdate AS DATE)) AS yr, o_orderpriority AS pri,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders) t
      |GROUP BY CUBE (yr, pri)
      |ORDER BY g_yr, g_pri, yr, pri""".stripMargin

  /** agg-bitmap-word-distinct — exact distinct-active-days per order
    * priority WITHOUT count(distinct): day ordinals pack into 63-bit
    * words (word = idx/63, bit = idx%63), `bit_or` folds the words
    * map-side, `bit_count` pops the union. The shuffle carries at
    * most |groups|·|words| rows (5 × ~39 here) regardless of fact
    * cardinality — the reason every OLAP engine ships bitmap
    * distinct-count indexes. The exact count(distinct) twin is
    * emitted alongside to PROVE equality, not assume it. 63 bits per
    * word (not 64) keeps `1 << bit` inside non-negative BIGINT range
    * on both engines. */
  val aggBitmapDistinct: Q = (s, d) => {
    val src = orders(s, d).select(col("o_orderpriority").as("pri"),
      datediff(to_date(col("o_orderdate")), lit("1995-01-01")).as("idx"))
    val words = src
      .withColumn("word", expr("CAST(idx DIV 63 AS INT)"))
      .withColumn("mask", expr("shiftleft(CAST(1 AS BIGINT), CAST(idx % 63 AS INT))"))
      .groupBy("pri", "word").agg(expr("bit_or(mask)").as("w"),
        count(lit(1)).as("n"))
      .groupBy("pri").agg(sum(expr("bit_count(w)")).cast(LongType).as("days_bitmap"),
        sum("n").as("n_orders"))
    val exact = src.groupBy("pri")
      .agg(countDistinct(col("idx")).as("days_exact"))
    words.join(exact, Seq("pri"))
      .select(col("pri"), col("n_orders"), col("days_bitmap"), col("days_exact"),
        (col("days_bitmap") === col("days_exact")).as("bitmap_matches"))
      .orderBy("pri")
  }

  val aggBitmapDistinctSql: String =
    """WITH src AS (
      |  SELECT o_orderpriority AS pri,
      |         datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS idx
      |  FROM orders),
      |words AS (
      |  SELECT pri, idx // 63 AS word,
      |         bit_or(CAST(1 AS BIGINT) << CAST(idx % 63 AS INTEGER)) AS w,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM src GROUP BY 1, 2),
      |bm AS (
      |  SELECT pri, CAST(sum(bit_count(w)) AS BIGINT) AS days_bitmap,
      |         CAST(sum(n) AS BIGINT) AS n_orders
      |  FROM words GROUP BY 1),
      |ex AS (
      |  SELECT pri, CAST(count(DISTINCT idx) AS BIGINT) AS days_exact
      |  FROM src GROUP BY 1)
      |SELECT pri, n_orders, days_bitmap, days_exact,
      |       days_bitmap = days_exact AS bitmap_matches
      |FROM bm JOIN ex USING (pri) ORDER BY pri""".stripMargin

  /** agg-cusum-changepoint — two-sided tabular CUSUM over the daily
    * revenue series with the PREFIX-MIN closed form: the textbook
    * recursion S_t = max(0, S_{t-1} + z_t − k) equals
    * P_t − min_{j≤t} P_j for the plain prefix sum P of (z−k), so the
    * whole detector is two cumulative windows over the ~2,400-row
    * daily aggregate (bounded domain — the fact scan is one map-side
    * groupBy). z-scores are micro-quantized so every window fold is
    * an exact integer. k = 0.5σ slack, h = 5σ alarm — the classic
    * ARL design point. */
  val aggCusumChangepoint: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
        .cast(DecimalType(38, 0))).as("v"))
    val st = daily.agg(count(lit(1)).as("n"),
      sum("v").as("s1"),
      sum(col("v") * col("v")).as("s2"))
    val z = daily.crossJoin(broadcast(st))
      .select(col("day"),
        // z in exact micro-units: floor(1e6 · (v−μ)/σ), population σ
        floor((col("v").cast(DoubleType) - col("s1").cast(DoubleType) / col("n")) /
          sqrt((col("n").cast(DoubleType) * col("s2").cast(DoubleType) -
            col("s1").cast(DoubleType) * col("s1").cast(DoubleType)) /
            (col("n").cast(DoubleType) * col("n").cast(DoubleType))) * 1e6)
          .cast(LongType).as("zu"))
    val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    val cu = z
      .withColumn("pu", sum(col("zu") - lit(500000L)).over(w))
      .withColumn("pd", sum(-col("zu") - lit(500000L)).over(w))
      .withColumn("su", col("pu") - min(least(col("pu"), lit(0L))).over(w))
      .withColumn("sd", col("pd") - min(least(col("pd"), lit(0L))).over(w))
    cu.agg(count(lit(1)).as("n_days"),
        sum(when(col("su") > 5000000L, 1L).otherwise(0L)).cast(LongType).as("up_alarms"),
        coalesce(date_format(min(when(col("su") > 5000000L, col("day"))),
          "yyyy-MM-dd"), lit("none")).as("first_up_alarm"),
        round(max(col("su")).cast(DoubleType) / 1e6, 4).as("max_cusum_up"),
        sum(when(col("sd") > 5000000L, 1L).otherwise(0L)).cast(LongType).as("down_alarms"),
        round(max(col("sd")).cast(DoubleType) / 1e6, 4).as("max_cusum_down"))
  }

  val aggCusumChangepointSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |              AS HUGEINT) AS v
      |  FROM orders GROUP BY 1),
      |st AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(v) AS HUGEINT) AS s1,
      |         CAST(sum(v * v) AS HUGEINT) AS s2
      |  FROM daily),
      |z AS (
      |  SELECT day,
      |         CAST(floor((CAST(v AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) /
      |           sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) -
      |                 CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) /
      |                (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) * 1e6) AS BIGINT) AS zu
      |  FROM daily CROSS JOIN st),
      |p AS (
      |  SELECT day,
      |         sum(zu - 500000) OVER (ORDER BY day
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pu,
      |         sum(-zu - 500000) OVER (ORDER BY day
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd
      |  FROM z),
      |c AS (
      |  SELECT day,
      |         pu - min(least(pu, 0)) OVER (ORDER BY day
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS su,
      |         pd - min(least(pd, 0)) OVER (ORDER BY day
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sd
      |  FROM p)
      |SELECT CAST(count(*) AS BIGINT) AS n_days,
      |       CAST(sum(CASE WHEN su > 5000000 THEN 1 ELSE 0 END) AS BIGINT) AS up_alarms,
      |       COALESCE(strftime(min(CASE WHEN su > 5000000 THEN day END),
      |                         '%Y-%m-%d'), 'none') AS first_up_alarm,
      |       round(CAST(max(su) AS DOUBLE) / 1e6, 4) AS max_cusum_up,
      |       CAST(sum(CASE WHEN sd > 5000000 THEN 1 ELSE 0 END) AS BIGINT) AS down_alarms,
      |       round(CAST(max(sd) AS DOUBLE) / 1e6, 4) AS max_cusum_down
      |FROM c""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("sql-grouping-sets", sqlGroupingSets, sqlGroupingSetsSql),
    Key("sql-rollup-ym", sqlRollupYm, sqlRollupYmSql),
    Key("sql-cube-year-priority", sqlCubeYearPriority, sqlCubeYearPrioritySql),
    Key("agg-bitmap-word-distinct", aggBitmapDistinct, aggBitmapDistinctSql),
    Key("agg-cusum-changepoint", aggCusumChangepoint, aggCusumChangepointSql))
}
