package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Surface-completeness operators beyond the reference's own inventory:
  * full ranking-window family, rollup with grouping ids, set operations,
  * non-equi range join, as-of join (composed from built-ins — SURVEY's
  * preferred tier for operators Spark lacks as single nodes), pivot, and
  * the Scala UDF registration path.
  */
object RelExtra extends KeyModule {

  /** win-rank-ntile — rank / dense_rank / ntile: the rest of the ranking
    * window family (the reference only uses ROW_NUMBER). Same physical
    * shape: one shuffle on the partition key. */
  val winRankNtile: Q = (s, d) => {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
    orders(s, d).select(
      col("o_orderkey"), col("o_orderstatus"),
      rank().over(w).cast(LongType).as("price_rank"),
      dense_rank().over(w).cast(LongType).as("price_dense_rank"),
      ntile(4).over(w).cast(IntegerType).as("price_quartile"))
      .orderBy("o_orderkey")
  }

  val winRankNtileSql: String =
    """SELECT o_orderkey, o_orderstatus,
      |       CAST(rank() OVER w AS BIGINT) AS price_rank,
      |       CAST(dense_rank() OVER w AS BIGINT) AS price_dense_rank,
      |       CAST(ntile(4) OVER w AS INT) AS price_quartile
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  /** agg-rollup — hierarchical subtotals with grouping ids: partial/final
    * hash aggregates exactly like a flat groupBy, expanded per grouping
    * set. Group keys coalesced to 'ALL' for engine-neutral NULL handling
    * in the sort. */
  val aggRollup: Q = (s, d) =>
    lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast(IntegerType).as("gid"),
        count(lit(1)).as("n_items"),
        outNum(sum(dec2(col("l_extendedprice")))).as("revenue"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("gid"), col("n_items"), col("revenue"))
      .orderBy("gid", "returnflag", "linestatus")

  val aggRollupSql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |       coalesce(l_linestatus, 'ALL') AS linestatus,
      |       CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
      |       count(*) AS n_items,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY gid, returnflag, linestatus""".stripMargin

  /** agg-grouping-sets — arbitrary (non-hierarchical) grouping sets:
    * (status, priority), (priority), and the grand total — a shape
    * ROLLUP cannot express (it skips the (status) level and keeps the
    * non-prefix (priority) one). Physically identical to rollup: one
    * expand + partial/final hash aggregate; the same coalesce-to-'ALL'
    * convention keeps NULL handling engine-neutral in the sort. */
  val aggGroupingSets: Q = (s, d) =>
    orders(s, d)
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().cast(IntegerType).as("gid"),
        count(lit(1)).as("n_orders"),
        outNum(sum(dec2(col("o_totalprice")))).as("total_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("gid"), col("n_orders"), col("total_price"))
      .orderBy("gid", "status", "priority")

  val aggGroupingSetsSql: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |       coalesce(o_orderpriority, 'ALL') AS priority,
      |       CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
      |       count(*) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderpriority), ())
      |ORDER BY gid, status, priority""".stripMargin

  /** set-intersect-except — INTERSECT / EXCEPT (distinct set semantics):
    * nations that have customers and suppliers vs. customers only. */
  val setIntersectExcept: Q = (s, d) => {
    val custNations = customer(s, d).select(col("c_nationkey").as("nationkey"))
    val suppNations = supplier(s, d).select(col("s_nationkey").as("nationkey"))
    val both = custNations.intersect(suppNations)
      .withColumn("membership", lit("BOTH"))
    val custOnly = custNations.except(suppNations)
      .withColumn("membership", lit("CUSTOMER_ONLY"))
    both.unionAll(custOnly).orderBy("membership", "nationkey")
  }

  val setIntersectExceptSql: String =
    """SELECT * FROM (
      |  SELECT nationkey, 'BOTH' AS membership FROM (
      |    SELECT c_nationkey AS nationkey FROM customer
      |    INTERSECT SELECT s_nationkey FROM supplier)
      |  UNION ALL
      |  SELECT nationkey, 'CUSTOMER_ONLY' FROM (
      |    SELECT c_nationkey AS nationkey FROM customer
      |    EXCEPT SELECT s_nationkey FROM supplier)
      |) ORDER BY membership, nationkey""".stripMargin

  /** join-range — non-equi band join: quantity bands × lineitem.
    * Physical: BroadcastNestedLoopJoin with the tiny band table
    * broadcast — the correct plan when the predicate is an interval,
    * and at scale the band side stays O(bands). */
  val joinRange: Q = (s, d) => {
    val bands = s.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row("Q1_LOW", 0.0, 13.0),
      org.apache.spark.sql.Row("Q2_MID", 13.0, 26.0),
      org.apache.spark.sql.Row("Q3_HIGH", 26.0, 39.0),
      org.apache.spark.sql.Row("Q4_TOP", 39.0, 1e9)),
      StructType(Seq(
        StructField("band", StringType), StructField("lo", DoubleType),
        StructField("hi", DoubleType))))
    lineitem(s, d)
      .join(broadcast(bands), col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_items"),
        outNum(sum(dec2(col("l_extendedprice")))).as("revenue"))
      .orderBy("band")
  }

  val joinRangeSql: String =
    """SELECT band, count(*) AS n_items,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN (VALUES ('Q1_LOW', 0.0, 13.0), ('Q2_MID', 13.0, 26.0),
      |             ('Q3_HIGH', 26.0, 39.0), ('Q4_TOP', 39.0, 1e9)) b(band, lo, hi)
      |  ON l_quantity >= lo AND l_quantity < hi
      |GROUP BY band
      |ORDER BY band""".stripMargin

  /** join-asof — as-of join composed from built-ins (SURVEY tier (a)):
    * for every purchase event, the most recent click by the same user at
    * or before the purchase. Union the two streams, one window per user
    * ordered by event time, last_value(click_id) IGNORE NULLS — a single
    * shuffle on the user key instead of a per-row backward probe; this
    * is the scalable formulation of point-in-time lookups (feature
    * stores, slowly-changing joins). */
  val joinAsof: Q = (s, d) => {
    val ev = events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        when(col("event_type") === "click", col("event_id")).as("click_id"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("is_p"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_p"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("asof_click_id", last(col("click_id"), ignoreNulls = true).over(w))
      .filter(col("is_p") === 1)
      .select(col("event_id").as("purchase_id"), col("user_id"), col("asof_click_id"))
      .orderBy("purchase_id")
  }

  val joinAsofSql: String =
    """SELECT event_id AS purchase_id, user_id, asof_click_id
      |FROM (
      |  SELECT user_id, event_id, event_type,
      |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p,
      |         last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS) OVER (
      |           PARTITION BY user_id
      |           ORDER BY date_trunc('microseconds', ts),
      |                    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_click_id
      |  FROM events WHERE event_type IN ('click', 'purchase'))
      |WHERE is_p = 1
      |ORDER BY purchase_id""".stripMargin

  /** agg-pivot — pivot with an explicit value list (explicit = one pass,
    * no extra distinct-values job, and a stable output schema — both
    * required at scale and for the oracle). */
  val aggPivot: Q = (s, d) =>
    events(s, d)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      // scope the fill to the pivoted columns — an unscoped na.fill
      // would also rewrite a NULL group key to 0
      .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))
      .orderBy("user_id")

  val aggPivotSql: String =
    """SELECT user_id,
      |       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
      |       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
      |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
      |       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
      |       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** udf-scala-reverse — the Scala UDF registration path. UDFs are a
    * documented LAST resort (they break codegen and oracle portability);
    * this one exists to exercise the API surface. Engine parity note:
    * Scala String.reverse flips UTF-16 code units while DuckDB reverse()
    * is grapheme-aware — identical for ASCII/BMP text without combining
    * marks (c_name is ASCII); a production grapheme-safe reverse would
    * use java.text.BreakIterator. */
  val udfScalaReverse: Q = (s, d) => {
    s.udf.register("graft_reverse", (x: String) => if (x == null) null else x.reverse)
    customer(s, d).select(
      col("c_custkey"),
      expr("graft_reverse(c_name)").as("name_reversed"))
      .orderBy("c_custkey")
  }

  val udfScalaReverseSql: String =
    """SELECT c_custkey, reverse(c_name) AS name_reversed
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  /** agg-typed-aggregator — custom typed Aggregator (graft.functions.
    * CentsSum) registered as a SQL aggregate: exact money totals per
    * event type through the user-defined-aggregate API surface. */
  val aggTypedAggregator: Q = (s, d) => {
    graft.functions.CentsSum.register(s)
    events(s, d)
      .groupBy("event_type")
      .agg(expr("cents_sum(value)").as("total_value"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")
  }

  val aggTypedAggregatorSql: String =
    """SELECT event_type,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |       count(*) AS n_events
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** agg-sessionize — event sessionization: a new session starts after a
    * >30-minute gap; session ids are per-user running sums of the
    * new-session flags. Two stacked windows over ONE shuffle on user_id
    * (Catalyst reuses the partitioning); the canonical event-pipeline
    * transform. Gaps are computed on second-floored epochs so both
    * engines agree despite the ns→µs timestamp truncation. */
  val aggSessionize: Q = (s, d) => {
    val wOrder = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = wOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .withColumn("gap_s",
        unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(wOrder)))
      .withColumn("new_session",
        when(col("gap_s").isNull || col("gap_s") > 1800, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(wRun).cast(LongType))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
      .orderBy("user_id", "session_id")
  }

  val aggSessionizeSql: String =
    """SELECT user_id, session_id, count(*) AS n_events,
      |       min(event_id) AS min_event_id,
      |       max(event_id) AS max_event_id
      |FROM (
      |  SELECT user_id, event_id,
      |         CAST(sum(new_session) OVER (
      |           PARTITION BY user_id
      |           ORDER BY date_trunc('microseconds', ts), event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM (
      |    SELECT user_id, event_id, ts,
      |           CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1 ELSE 0 END AS new_session
      |    FROM (
      |      SELECT user_id, event_id, ts,
      |             epoch(date_trunc('second', ts)) - epoch(date_trunc('second',
      |               lag(ts, 1) OVER (PARTITION BY user_id
      |                 ORDER BY date_trunc('microseconds', ts), event_id))) AS gap_s
      |      FROM events)))
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** sink-incremental-merge — incremental upsert without a table format:
    * new snapshot = (previous snapshot anti-join changed keys) ∪ changed
    * rows, written as the next snapshot (the parquet-level MERGE INTO;
    * at scale the anti-join + rewrite is confined to affected partitions).
    * The merged snapshot must equal the full current table — which is
    * exactly what the oracle checks. */
  val sinkIncrementalMerge: Q = (s, d) => {
    import org.apache.spark.sql.SaveMode
    val base = tmp("incr-base", d)
    val next = tmp("incr-next", d)
    val all = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    // previous snapshot: stale copy missing the soon-to-change rows'
    // latest values (simulate by perturbing status on keys % 10 == 0)
    all.withColumn("o_orderstatus",
      when(col("o_orderkey") % 10 === 0, lit("STALE")).otherwise(col("o_orderstatus")))
      .write.mode(SaveMode.Overwrite).parquet(base)
    // persist: the change set feeds both the anti-join probe and the
    // union branch — one source scan instead of three
    val changes = all.filter(col("o_orderkey") % 10 === 0).sharedCache()
    val merged = s.read.parquet(base)
      .join(changes.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
      .unionByName(changes)
    merged.write.mode(SaveMode.Overwrite).parquet(next)
    s.read.parquet(next).orderBy("o_orderkey")
  }

  val sinkIncrementalMergeSql: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  /** join-interval-overlap — interval × interval overlap join via
    * time-bucket binning: per-user daily activity intervals
    * [first event, last event] against a fixed 6-hour window grid,
    * reporting sessions/users overlapping each window. The naive plan
    * is an inequality join (BroadcastNestedLoop = every pair tested);
    * the scalable form bins time into 6h buckets, replicates each
    * interval to the buckets it touches, EQUI-joins on the bucket, and
    * only then applies the exact strict-overlap predicate. A window
    * occupies exactly one bucket, so no candidate pair is produced
    * twice (no dedup shuffle), replication is bounded by interval
    * length / bucket width, and the join shuffles on a key — the
    * standard interval-join recipe when both sides are fact-sized and
    * nothing can be broadcast. */
  val joinIntervalOverlap: Q = (s, d) => {
    val bucket = 21600L // 6 h
    val sess = events(s, d).filter(col("user_id").isNotNull)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(min(col("ts")).as("s_start"), max(col("ts")).as("s_end"))
      .sharedCache()
    val bounds = sess.agg(min(col("s_start")).as("mn"), max(col("s_end")).as("mx"))
    val windows = bounds.select(explode(expr(
      s"sequence(timestamp_seconds(floor(unix_timestamp(mn) / $bucket) * $bucket), mx, interval 6 hours)")).as("w_start"))
      .withColumn("w_end", col("w_start") + expr("interval 6 hours"))
      .withColumn("bk", floor(unix_timestamp(col("w_start")) / bucket))
    val sB = sess.withColumn("bk", explode(expr(
      s"sequence(floor(unix_timestamp(s_start) / $bucket), floor(unix_timestamp(s_end) / $bucket))")))
    windows.join(sB, Seq("bk"))
      .filter(col("s_start") < col("w_end") && col("w_start") < col("s_end"))
      .groupBy(col("w_start"))
      .agg(count(lit(1)).as("n_sessions"), countDistinct(col("user_id")).as("n_users"))
      .select(date_format(col("w_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("n_sessions"), col("n_users"))
      .orderBy("window_start")
  }

  val joinIntervalOverlapSql: String =
    """WITH ev AS (
      |  SELECT user_id, date_trunc('microseconds', ts) AS ts
      |  FROM events WHERE user_id IS NOT NULL),
      |sess AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, min(ts) AS s_start, max(ts) AS s_end
      |  FROM ev GROUP BY 1, 2),
      |bounds AS (SELECT min(s_start) AS mn, max(s_end) AS mx FROM sess),
      |win AS (
      |  SELECT unnest(generate_series(
      |    make_timestamp(CAST(floor(epoch(mn) / 21600) * 21600 * 1000000 AS BIGINT)),
      |    mx, INTERVAL 6 HOUR)) AS w_start
      |  FROM bounds)
      |SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS window_start,
      |       count(*) AS n_sessions,
      |       count(DISTINCT user_id) AS n_users
      |FROM win JOIN sess
      |  ON s_start < w_start + INTERVAL 6 HOUR AND w_start < s_end
      |GROUP BY w_start
      |ORDER BY window_start""".stripMargin

  /** agg-cube — full CUBE over (status, order-year): all four grouping
    * sets at once, the shape ROLLUP (hierarchy) and explicit GROUPING
    * SETS (hand-picked) don't cover. Physically still ONE expand + one
    * partial/final hash aggregate — the 4× row expansion happens
    * map-side and combines before the shuffle, so the exchange carries
    * |groups| rows, not 4×|orders|, at any scale. The year dim is
    * computed pre-cube so the expand operates on a plain column. */
  val aggCube: Q = (s, d) =>
    orders(s, d)
      .withColumn("oyear", year(col("o_orderdate")).cast(IntegerType))
      .cube(col("o_orderstatus"), col("oyear"))
      .agg(grouping_id().cast(IntegerType).as("gid"),
        count(lit(1)).as("n_orders"),
        outNum(sum(dec2(col("o_totalprice")))).as("total_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("oyear").cast(StringType), lit("ALL")).as("oyear"),
        col("gid"), col("n_orders"), col("total_price"))
      .orderBy("gid", "status", "oyear")

  val aggCubeSql: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |       coalesce(CAST(CAST(year(o_orderdate) AS INT) AS VARCHAR), 'ALL') AS oyear,
      |       CAST(GROUPING(o_orderstatus, CAST(year(o_orderdate) AS INT)) AS INT) AS gid,
      |       count(*) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders
      |GROUP BY CUBE(o_orderstatus, CAST(year(o_orderdate) AS INT))
      |ORDER BY gid, status, oyear""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-cube", aggCube, aggCubeSql),
    Key("join-interval-overlap", joinIntervalOverlap, joinIntervalOverlapSql),
    Key("agg-sessionize", aggSessionize, aggSessionizeSql),
    Key("sink-incremental-merge", sinkIncrementalMerge, sinkIncrementalMergeSql),
    Key("agg-typed-aggregator", aggTypedAggregator, aggTypedAggregatorSql),
    Key("win-rank-ntile", winRankNtile, winRankNtileSql),
    Key("agg-rollup", aggRollup, aggRollupSql),
    Key("agg-grouping-sets", aggGroupingSets, aggGroupingSetsSql),
    Key("set-intersect-except", setIntersectExcept, setIntersectExceptSql),
    Key("join-range", joinRange, joinRangeSql),
    Key("join-asof", joinAsof, joinAsofSql),
    Key("agg-pivot", aggPivot, aggPivotSql),
    Key("udf-scala-reverse", udfScalaReverse, udfScalaReverseSql))
}
