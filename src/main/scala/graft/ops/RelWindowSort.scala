package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Window / sort / limit operators (SURVEY.md §2.5-2.6). The dedup window
  * partitions by the entity key, so at scale it is one shuffle on that key
  * and per-partition sorting — no global sort. Global sorts appear only
  * where the reference semantics require them (ordered reports).
  */
object RelWindowSort extends KeyModule {

  /** win-dedup-latest — reference `sp_load_silver_order_reviews.sql:22-67`
    * (keep-latest dedup: ROW_NUMBER PARTITION BY id ORDER BY ts DESC,
    * keep rn=1). Deterministic tiebreak on event_id DESC added (SURVEY §7
    * hard part 5): T-SQL ties are nondeterministic; ours are pinned.
    * events.ts is ns in parquet but µs in Spark — the oracle truncates to
    * µs so both engines order identically. */
  val winDedupLatest: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("user_id"), col("event_id").as("latest_event_id"),
        col("event_type"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_sec"))
      .orderBy("user_id")
  }

  val winDedupLatestSql: String =
    """SELECT user_id, event_id AS latest_event_id, event_type,
      |       value,
      |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_sec
      |FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY user_id
      |    ORDER BY date_trunc('microseconds', ts) DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  /** win-running-total — reference has only ROW_NUMBER, but a running
    * frame-spec window is part of a complete engine surface: cumulative
    * account value per user ordered by event time (rowsBetween frame).
    * Monotone per-partition scan, same single shuffle as the dedup. */
  val winRunningTotal: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), dec2(col("value")).as("v"))
      .withColumn("running_value", outNum(sum(col("v")).over(w)))
      .select(col("user_id"), col("event_id"), col("running_value"))
      .orderBy("user_id", "event_id")
  }

  val winRunningTotalSql: String =
    """SELECT user_id, event_id,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
      |         PARTITION BY user_id
      |         ORDER BY date_trunc('microseconds', ts), event_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
      |FROM events
      |ORDER BY user_id, event_id""".stripMargin

  /** win-lag-lead — inter-event gap per user (LAG), part of the complete
    * window surface. Output in whole seconds (engine-neutral). */
  val winLagLead: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .select(
        col("user_id"), col("event_id"),
        (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))).cast(LongType).as("gap_seconds"))
      .orderBy("user_id", "event_id")
  }

  val winLagLeadSql: String =
    """SELECT user_id, event_id,
      |       CAST(epoch(date_trunc('second', ts)) - epoch(date_trunc('second',
      |         lag(ts, 1) OVER (PARTITION BY user_id ORDER BY date_trunc('microseconds', ts), event_id))) AS BIGINT) AS gap_seconds
      |FROM events
      |ORDER BY user_id, event_id""".stripMargin

  /** sort-desc — reference `03_load_csv_to_bronze.sql:121-125` (ordered
    * load-summary report with a filter). Global sort = range-partitioned
    * exchange; acceptable because report outputs are small post-filter. */
  val sortDesc: Q = (s, d) =>
    events(s, d)
      .filter(col("value") > 190.0)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy(desc("event_id"))

  val sortDescSql: String =
    """SELECT event_id, user_id, event_type, value
      |FROM events
      |WHERE value > 190.0
      |ORDER BY event_id DESC""".stripMargin

  /** limit-topk — reference `08_validacionsql.sql:55-62` (TOP 3 ... ORDER
    * BY DESC). Spark plans TakeOrderedAndProject: per-partition top-k then
    * a k-row merge on the driver — no global sort even at 100 TB. */
  val limitTopk: Q = (s, d) =>
    orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice").as("total_price"))
      .orderBy(desc("total_price"), col("o_orderkey"))
      .limit(5)

  val limitTopkSql: String =
    """SELECT o_orderkey, o_totalprice AS total_price
      |FROM orders
      |ORDER BY total_price DESC, o_orderkey
      |LIMIT 5""".stripMargin

  /** win-percent-rank — distribution windows (percent_rank, cume_dist):
    * both are exact rational arithmetic on ranks ((rank-1)/(n-1),
    * rank/n) so the doubles are bit-identical across engines. */
  val winPercentRank: Q = (s, d) => {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    orders(s, d).select(
      col("o_orderkey"), col("o_orderstatus"),
      round(percent_rank().over(w), 9).as("price_percent_rank"),
      round(cume_dist().over(w), 9).as("price_cume_dist"))
      .orderBy("o_orderkey")
  }

  val winPercentRankSql: String =
    """SELECT o_orderkey, o_orderstatus,
      |       round(percent_rank() OVER w, 9) AS price_percent_rank,
      |       round(cume_dist() OVER w, 9) AS price_cume_dist
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  /** win-range-frame — event-time RANGE frame: per-user rolling 7-day
    * value sum (RANGE BETWEEN 604800s PRECEDING AND CURRENT ROW over
    * epoch seconds). RANGE frames treat equal ordering values as peers,
    * so same-second ties contribute symmetrically — deterministic
    * without a tiebreak inside the frame. The sum runs in DecimalType
    * (exact, order-independent). Physical shape: one shuffle on
    * user_id + per-partition sort, same as every entity-keyed window —
    * the frame bound costs nothing extra at scale. */
  val winRangeFrame: Q = (s, d) => {
    val base = events(s, d).select(
      col("user_id"), col("event_id"),
      unix_timestamp(col("ts")).as("epoch_s"), col("value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("epoch_s")).rangeBetween(-604800L, 0L)
    base.select(
      col("user_id"), col("event_id"), col("epoch_s"),
      outNum(sum(dec2(col("value"))).over(w)).as("rolling_7d_value"))
      .orderBy("user_id", "epoch_s", "event_id")
  }

  val winRangeFrameSql: String =
    """SELECT user_id, event_id,
      |       CAST(floor(epoch(date_trunc('microseconds', ts))) AS BIGINT) AS epoch_s,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS rolling_7d_value
      |FROM events
      |WINDOW w AS (PARTITION BY user_id
      |             ORDER BY CAST(floor(epoch(date_trunc('microseconds', ts))) AS BIGINT)
      |             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, epoch_s, event_id""".stripMargin

  /** win-topk-per-key — top-3 orders by price per order status through
    * the engine's custom whole-operator plan (graft.plans.TopKPerKey:
    * custom LogicalPlan + SparkStrategy + bounded-heap SparkPlan,
    * SURVEY §2 tier (c)). Spark's own form of this query is
    * window+filter — a full shuffle and per-key sort of every row; the
    * custom operator keeps k-bounded heaps map-side so only k rows per
    * key per partition reach the exchange. The oracle is exactly that
    * window+filter SQL: the custom plan must be result-identical. */
  val winTopkPerKey: Q = (s, d) => {
    val o = orders(s, d).select(
      col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    graft.plans.TopKPerKey.of(o,
      keys = Seq("o_orderstatus"),
      order = Seq("o_totalprice" -> false, "o_orderkey" -> true),
      k = 3)
      .orderBy(col("o_orderstatus"), col("o_totalprice").desc, col("o_orderkey"))
  }

  val winTopkPerKeySql: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice FROM (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice,
      |         row_number() OVER (PARTITION BY o_orderstatus
      |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3
      |ORDER BY o_orderstatus, o_totalprice DESC, o_orderkey""".stripMargin

  /** win-first-last — value-picking window functions (first_value,
    * last_value, nth_value) with an explicit full-partition frame:
    * last_value's default frame ends at CURRENT ROW (a classic
    * footgun — it would return the current row's value), so the frame
    * is pinned to UNBOUNDED..UNBOUNDED on both engines. Total order
    * inside the window (price desc, key) keeps the picks
    * deterministic. */
  val winFirstLast: Q = (s, d) => {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    orders(s, d).select(
      col("o_orderkey"), col("o_orderstatus"),
      first(col("o_totalprice")).over(w).as("max_price"),
      last(col("o_totalprice")).over(w).as("min_price"),
      nth_value(col("o_totalprice"), 2).over(w).as("second_price"))
      .orderBy("o_orderkey")
  }

  val winFirstLastSql: String =
    """SELECT o_orderkey, o_orderstatus,
      |       first_value(o_totalprice) OVER w AS max_price,
      |       last_value(o_totalprice) OVER w AS min_price,
      |       nth_value(o_totalprice, 2) OVER w AS second_price
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderstatus
      |             ORDER BY o_totalprice DESC, o_orderkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_orderkey""".stripMargin

  /** win-distinct-running — running COUNT(DISTINCT) over a window,
    * which neither engine supports directly as a window aggregate:
    * rewritten as the first-occurrence-flag trick. Pass 1 marks the
    * first row of each (user, event_type) with row_number = 1; pass 2
    * running-sums the flags per user in event order. Both windows
    * partition by user-scale keys (one shuffle each, no global
    * window), and the rewrite is exact — the running sum counts
    * precisely the types seen so far. Ties are pinned by (ts,
    * event_id) so both engines mark the same first occurrences. */
  val winDistinctRunning: Q = (s, d) => {
    val ev = events(s, d)
    val wFirst = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val wRun = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("first_seen",
        when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
      .withColumn("distinct_types_so_far", sum(col("first_seen")).over(wRun))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("distinct_types_so_far"))
      .orderBy("user_id", "event_id")
  }

  val winDistinctRunningSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type,
      |         date_trunc('microseconds', ts) AS ts
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, event_type, ts,
      |         CASE WHEN row_number() OVER (
      |           PARTITION BY user_id, event_type
      |           ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS first_seen
      |  FROM ev)
      |SELECT user_id, event_id, event_type,
      |       CAST(sum(first_seen) OVER (
      |         PARTITION BY user_id ORDER BY ts, event_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |         AS distinct_types_so_far
      |FROM flagged
      |ORDER BY user_id, event_id""".stripMargin

  /** sort-zorder — Z-order (Morton) clustering, the multi-dimension
    * file-layout primitive behind lakehouse data skipping: interleave
    * the bits of two join/filter keys so rows close in BOTH dimensions
    * land in the same file, giving min/max footer pruning on either
    * predicate (a single-column sort only skips on that column). The
    * z-value and its fixed-grid bucket (top 4 interleaved bits → 16
    * cells) are PURE PROJECTIONS — no global sort or window anywhere;
    * at scale the bucket feeds partitionBy/repartitionByRange and the
    * write stays shuffle-minimal. Graded output is each cell's
    * bounding box + row count; the spec pins the locality guarantee
    * (every cell's box is ≤ 64×64 — the whole point of the curve). */
  val sortZorder: Q = (s, d) => {
    val zExpr = (0 until 8).map(i =>
      s"(shiftleft(shiftright(xk, $i) & 1, ${2 * i}) + shiftleft(shiftright(yk, $i) & 1, ${2 * i + 1}))")
      .mkString(" + ")
    lineitem(s, d)
      .select((col("l_partkey") % 256).as("xk"), (col("l_suppkey") % 256).as("yk"))
      .withColumn("z", expr(zExpr))
      .withColumn("cell", (col("z") / 4096).cast(IntegerType))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_rows"),
        min(col("xk")).as("x_min"), max(col("xk")).as("x_max"),
        min(col("yk")).as("y_min"), max(col("yk")).as("y_max"))
      .orderBy("cell")
  }

  val sortZorderSql: String = {
    val zExpr = (0 until 8).map(i =>
      s"((((xk >> $i) & 1) << ${2 * i}) + (((yk >> $i) & 1) << ${2 * i + 1}))")
      .mkString(" + ")
    s"""WITH keys AS (
       |  SELECT l_partkey % 256 AS xk, l_suppkey % 256 AS yk FROM lineitem),
       |z AS (SELECT xk, yk, $zExpr AS z FROM keys)
       |SELECT CAST(z // 4096 AS INT) AS cell, count(*) AS n_rows,
       |       min(xk) AS x_min, max(xk) AS x_max,
       |       min(yk) AS y_min, max(yk) AS y_max
       |FROM z
       |GROUP BY 1
       |ORDER BY cell""".stripMargin
  }

  /** win-streaks — gaps-and-islands over event days (the "login streak"
    * analytics pattern): per user, runs of CONSECUTIVE active days are
    * grouped by the classic dayNumber − row_number() island key, then
    * reduced to streak stats. Both windows partition by user_id — high
    * cardinality, so the shuffle spreads and no partition outgrows an
    * executor at 100 TB (unlike status-partitioned islands, which would
    * put half the table in one sort). day − epoch is an exact integer,
    * so the island key is arithmetic, not time math. */
  val winStreaks: Q = (s, d) => {
    val days = events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .withColumn("dn", datediff(col("day"), lit("1970-01-01")))
    val w = Window.partitionBy("user_id").orderBy("dn")
    val islands = days
      .withColumn("grp", col("dn") - row_number().over(w))
      .groupBy("user_id", "grp")
      .agg(count(lit(1)).as("streak_len"), min(col("day")).as("streak_start"))
    islands.groupBy("user_id")
      .agg(sum(col("streak_len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("streak_len")).as("max_streak"),
        min(col("streak_start")).as("first_day"))
      .withColumn("first_day", date_format(col("first_day"), "yyyy-MM-dd"))
      .orderBy("user_id")
  }

  val winStreaksSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |dn AS (
      |  SELECT user_id, day, date_diff('day', DATE '1970-01-01', day) AS dn
      |  FROM days),
      |isl AS (
      |  SELECT user_id, day, dn,
      |         dn - row_number() OVER (PARTITION BY user_id ORDER BY dn) AS grp
      |  FROM dn),
      |streaks AS (
      |  SELECT user_id, grp, count(*) AS streak_len, min(day) AS streak_start
      |  FROM isl GROUP BY user_id, grp)
      |SELECT user_id, CAST(sum(streak_len) AS BIGINT) AS n_active_days,
      |       count(*) AS n_streaks, max(streak_len) AS max_streak,
      |       strftime(min(streak_start), '%Y-%m-%d') AS first_day
      |FROM streaks
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("win-streaks", winStreaks, winStreaksSql),
    Key("sort-zorder", sortZorder, sortZorderSql),
    Key("win-distinct-running", winDistinctRunning, winDistinctRunningSql),
    Key("win-first-last", winFirstLast, winFirstLastSql),
    Key("win-topk-per-key", winTopkPerKey, winTopkPerKeySql),
    Key("win-percent-rank", winPercentRank, winPercentRankSql),
    Key("win-dedup-latest", winDedupLatest, winDedupLatestSql),
    Key("win-running-total", winRunningTotal, winRunningTotalSql),
    Key("win-lag-lead", winLagLead, winLagLeadSql),
    Key("win-range-frame", winRangeFrame, winRangeFrameSql),
    Key("sort-desc", sortDesc, sortDescSql),
    Key("limit-topk", limitTopk, limitTopkSql))
}
