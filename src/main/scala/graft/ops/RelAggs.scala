package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Aggregation operators (SURVEY.md §2.4) re-expressed over the driver's
  * synthetic tables. Each mirrors a reference construct (citations in
  * each entry) and each is a partial-aggregate-friendly declarative plan:
  * Catalyst plans HashAggregate(partial) -> shuffle on group keys ->
  * HashAggregate(final), which is exactly the map-side-combine shape that
  * scales to 100 TB (shuffle volume = |groups| per partition, not |rows|).
  */
object RelAggs extends KeyModule {

  /** agg-topk — reference `08_validacionsql.sql:55-62` (top-3 categories by
    * revenue). GroupBy+sum+orderBy+limit: Spark plans TakeOrderedAndProject
    * (true top-k, no global sort materialization). */
  val aggTopk: Q = (s, d) =>
    lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n_items"),
        outNum(sum(dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 4)) - dec4(col("l_discount")))))
          .as("revenue"))
      .orderBy(desc("revenue"), col("l_returnflag"), col("l_linestatus"))
      .limit(3)

  val aggTopkSql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n_items,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY revenue DESC, l_returnflag, l_linestatus
      |LIMIT 3""".stripMargin

  /** agg-sum-total — reference `08_validacionsql.sql:44-45` (grand total
    * revenue, single scalar). Partial sums per partition then one merge. */
  val aggSumTotal: Q = (s, d) =>
    lineitem(s, d).agg(
      outNum(sum(dec2(col("l_extendedprice")))).as("total_revenue"),
      count(lit(1)).as("n_rows"))

  val aggSumTotalSql: String =
    """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
      |       count(*) AS n_rows
      |FROM lineitem""".stripMargin

  /** agg-minmax — reference `08_validacionsql.sql:48-52` (purchase date
    * span). Timestamp cast to DateType for engine-neutral output. */
  val aggMinmax: Q = (s, d) =>
    orders(s, d).agg(
      min(col("o_orderdate").cast(DateType)).as("min_date"),
      max(col("o_orderdate").cast(DateType)).as("max_date"))

  val aggMinmaxSql: String =
    """SELECT CAST(min(o_orderdate) AS DATE) AS min_date,
      |       CAST(max(o_orderdate) AS DATE) AS max_date
      |FROM orders""".stripMargin

  /** agg-distinct — reference `07_etl_silver_to_gold.sql:107-111`
    * (SELECT DISTINCT dim attributes). Distinct = hash aggregate on all
    * columns; shuffle keyed on the full row. */
  val aggDistinct: Q = (s, d) =>
    orders(s, d)
      .select(col("o_orderstatus"), col("o_orderpriority"))
      .distinct()
      .orderBy("o_orderstatus", "o_orderpriority")

  val aggDistinctSql: String =
    """SELECT DISTINCT o_orderstatus, o_orderpriority
      |FROM orders
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  /** agg-dedup-groupby — reference `sp_load_silver_geolocation.sql:30-43`
    * (GROUP BY cleansed expressions, empty aggregate list = distinct-by-
    * expression). Cleansing exprs inline so Catalyst folds them into the
    * scan projection. */
  val aggDedupGroupby: Q = (s, d) =>
    customer(s, d)
      .select(
        upper(trim(col("c_mktsegment"))).as("segment"),
        col("c_nationkey").as("nationkey"))
      .distinct()
      .orderBy("segment", "nationkey")

  val aggDedupGroupbySql: String =
    """SELECT DISTINCT upper(trim(c_mktsegment)) AS segment, c_nationkey AS nationkey
      |FROM customer
      |ORDER BY segment, nationkey""".stripMargin

  /** agg-sum-by-key — reference design note `04_create_silver_tables.sql:25`
    * (per-order payment totals; documented but never implemented there).
    * The canonical shuffle-on-key aggregation. */
  val aggSumByKey: Q = (s, d) =>
    lineitem(s, d)
      .groupBy(col("l_orderkey").as("orderkey"))
      .agg(
        outNum(sum(dec2(col("l_extendedprice")) + dec2(col("l_tax")))).as("order_value"),
        count(lit(1)).as("n_lines"))
      .orderBy("orderkey")

  val aggSumByKeySql: String =
    """SELECT l_orderkey AS orderkey,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS order_value,
      |       count(*) AS n_lines
      |FROM lineitem
      |GROUP BY l_orderkey
      |ORDER BY orderkey""".stripMargin

  /** agg-count-volumetry — reference `08_validacionsql.sql:16-24`
    * (silver vs gold row counts with explicit Diff). Two scalar aggs
    * cross-joined: both sides are 1-row so the "join" is free. */
  val aggCountVolumetry: Q = (s, d) => {
    val o = orders(s, d).agg(count(lit(1)).as("orders_cnt"))
    val l = lineitem(s, d).agg(countDistinct(col("l_orderkey")).as("lineitem_orders_cnt"))
    o.crossJoin(l)
      .withColumn("diff", col("orders_cnt") - col("lineitem_orders_cnt"))
  }

  val aggCountVolumetrySql: String =
    """SELECT (SELECT count(*) FROM orders) AS orders_cnt,
      |       (SELECT count(DISTINCT l_orderkey) FROM lineitem) AS lineitem_orders_cnt,
      |       (SELECT count(*) FROM orders) - (SELECT count(DISTINCT l_orderkey) FROM lineitem) AS diff""".stripMargin

  /** agg-rowcount-audit — reference `@@ROWCOUNT` capture per load
    * (`sp_load_silver_customers.sql:45,51`): per-table row counts as one
    * result set (the audit trail's queryable surface). */
  val aggRowcountAudit: Q = (s, d) => {
    def cnt(name: String) =
      t(s, d, name).agg(lit(name).as("table_name"), count(lit(1)).as("rows_loaded"))
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
      .map(cnt).reduce(_.unionAll(_))
      .orderBy("table_name")
  }

  val aggRowcountAuditSql: String =
    """SELECT * FROM (
      |  SELECT 'region' AS table_name, count(*) AS rows_loaded FROM region
      |  UNION ALL SELECT 'nation', count(*) FROM nation
      |  UNION ALL SELECT 'customer', count(*) FROM customer
      |  UNION ALL SELECT 'supplier', count(*) FROM supplier
      |  UNION ALL SELECT 'part', count(*) FROM part
      |  UNION ALL SELECT 'orders', count(*) FROM orders
      |  UNION ALL SELECT 'lineitem', count(*) FROM lineitem
      |) ORDER BY table_name""".stripMargin

  /** agg-percentile — exact continuous percentiles (order-value p50/p90/
    * p99, the standard QA latency/value metric shape). Spark's exact
    * percentile and DuckDB's quantile_cont use the same linear
    * interpolation; rounded to 6 dp to absorb last-ulp differences. At
    * true 100 TB scale the swap-in is approx_percentile (t-digest) —
    * kept exact here because the oracle must match bit-stably. */
  val aggPercentile: Q = (s, d) =>
    orders(s, d)
      .groupBy("o_orderstatus")
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 6).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 6).as("p90"),
        round(expr("percentile(o_totalprice, 0.99)"), 6).as("p99"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderstatus")

  val aggPercentileSql: String =
    """SELECT o_orderstatus,
      |       round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
      |       round(quantile_cont(o_totalprice, 0.9), 6) AS p90,
      |       round(quantile_cont(o_totalprice, 0.99), 6) AS p99,
      |       count(*) AS n_orders
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** agg-stats — statistical aggregates (stddev, correlation) per group.
    * Co-moment merges are float and merge-order-sensitive at the
    * ~1e-13 level, so outputs are rounded to 6 dp — verified stable
    * across 2- and 32-thread runs and against DuckDB. */
  val aggStats: Q = (s, d) =>
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(stddev_samp(col("l_quantity")), 6).as("qty_stddev"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qty_price_corr"),
        round(avg(col("l_discount")), 6).as("avg_discount"),
        count(lit(1)).as("n_items"))
      .orderBy("l_returnflag")

  val aggStatsSql: String =
    """SELECT l_returnflag,
      |       round(stddev_samp(l_quantity), 6) AS qty_stddev,
      |       round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
      |       round(avg(l_discount), 6) AS avg_discount,
      |       count(*) AS n_items
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** agg-approx-distinct — HyperLogLog++ approximate distinct counting,
    * the only way COUNT(DISTINCT) runs at 100 TB (a KB-sized sketch per
    * group merges associatively; exact distinct shuffles every value).
    * Sketch estimates are engine-specific, so the graded output carries
    * the exact count plus a within-5% accuracy contract on Spark's
    * estimate, which the oracle pins (the estimate itself is
    * deterministic in Spark but not comparable bit-for-bit to another
    * engine's sketch — asserting the contract is the honest
    * cross-engine check). rsd=0.02 → ~1.5 KB sketch per group. */
  val aggApproxDistinct: Q = (s, d) => {
    val perType = events(s, d).groupBy("event_type").agg(
      countDistinct(col("user_id")).as("n_exact"),
      approx_count_distinct(col("user_id"), 0.02).as("n_approx"))
    perType.select(
      col("event_type"), col("n_exact"),
      // zero guard: a group whose user_id values are all NULL has
      // n_exact = 0 — the division would yield NULL while the oracle
      // pins 1 (a zero estimate of zero distinct is trivially in
      // tolerance)
      when(col("n_exact") === 0, lit(1))
        .otherwise((abs(col("n_approx") - col("n_exact")) * lit(1.0) / col("n_exact") <= 0.05)
          .cast(IntegerType)).as("within_tolerance"))
      .orderBy("event_type")
  }

  val aggApproxDistinctSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_exact,
      |       CAST(1 AS INT) AS within_tolerance
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** agg-approx-quantile — mergeable quantile sketch
    * (approx_percentile), the 100 TB path for percentiles: the exact
    * form shuffles and sorts every value per group, the sketch merges
    * KB-sized summaries associatively. Same grading pattern as the HLL
    * op: sketch estimates are engine-specific, so the output carries
    * the exact p50/p95 plus a pinned contract on Spark's estimates.
    * The contract must be rank-sound: the sketch returns an ACTUAL
    * data point, while interpolated percentiles near the target can
    * both land inside the same inter-value gap and exclude it — so the
    * band is the exact quartile neighborhood ([p25, p75] for the
    * median, [p75, max] for p95), loose enough to be guaranteed by the
    * sketch's rank-error bound at any group size above the pinned
    * small-group floor (tiny groups are trivially in contract). */
  val aggApproxQuantile: Q = (s, d) => {
    val perStatus = orders(s, d).groupBy("o_orderstatus").agg(
      count(lit(1)).as("n"),
      round(expr("percentile(o_totalprice, 0.5)"), 6).as("p50_exact"),
      round(expr("percentile(o_totalprice, 0.95)"), 6).as("p95_exact"),
      expr("approx_percentile(o_totalprice, 0.5, 10000)").as("p50_approx"),
      expr("approx_percentile(o_totalprice, 0.95, 10000)").as("p95_approx"),
      expr("percentile(o_totalprice, 0.25)").as("q1"),
      expr("percentile(o_totalprice, 0.75)").as("q3"),
      max(col("o_totalprice")).as("vmax"))
    perStatus.select(
      col("o_orderstatus"), col("p50_exact"), col("p95_exact"),
      when(col("n") < 20, 1)
        .otherwise((col("p50_approx").between(col("q1"), col("q3")) &&
          col("p95_approx").between(col("q3"), col("vmax")))
          .cast(IntegerType)).as("within_rank_band"))
      .orderBy("o_orderstatus")
  }

  val aggApproxQuantileSql: String =
    """SELECT o_orderstatus,
      |       round(quantile_cont(o_totalprice, 0.5), 6) AS p50_exact,
      |       round(quantile_cont(o_totalprice, 0.95), 6) AS p95_exact,
      |       CAST(1 AS INT) AS within_rank_band
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** agg-mode-median — per-group mode and median. Both engines ship
    * built-ins, but their tie-breaks differ (Spark `mode` and DuckDB
    * `mode` each pick an arbitrary value among equally-frequent
    * candidates), so the mode is computed as the explicit
    * count + rank-with-value-tiebreak pipeline — two map-side-combined
    * aggregations, no window over raw rows, deterministic on any
    * engine. The median stays a built-in on both sides (Spark `median`
    * and DuckDB `median` both interpolate the middle pair) and lands
    * as a rounded double. */
  val aggModeMedian: Q = (s, d) => {
    val counts = lineitem(s, d)
      .groupBy("l_returnflag", "l_quantity")
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(desc("c"), col("l_quantity"))
    val modes = counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
        col("c").as("mode_n"))
    val med = lineitem(s, d).groupBy("l_returnflag")
      .agg(round(expr("median(l_quantity)"), 6).as("median_qty"))
    modes.join(med, Seq("l_returnflag"))
      .orderBy("l_returnflag")
  }

  val aggModeMedianSql: String =
    """WITH counts AS (
      |  SELECT l_returnflag, l_quantity, count(*) AS c
      |  FROM lineitem GROUP BY l_returnflag, l_quantity),
      |modes AS (
      |  SELECT l_returnflag, l_quantity AS mode_qty, c AS mode_n,
      |         row_number() OVER (PARTITION BY l_returnflag
      |                            ORDER BY c DESC, l_quantity) AS rn
      |  FROM counts),
      |med AS (
      |  SELECT l_returnflag, round(median(l_quantity), 6) AS median_qty
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, mode_qty, mode_n, median_qty
      |FROM modes JOIN med USING (l_returnflag)
      |WHERE rn = 1
      |ORDER BY l_returnflag""".stripMargin

  /** agg-sketch-union — the REAGGREGATABLE sketch pattern that makes
    * approximate distinct counting work in a layered warehouse: build a
    * Datasketches HLL sketch per (event_type, day) shard — the
    * granularity a daily pipeline materializes — then merge the binary
    * sketches per type with hll_union_agg and estimate. Unlike
    * approx_count_distinct (whose sketch lives only inside one
    * aggregation), the sketch column is a persistable artifact: shards
    * are built once per day and any rollup (type, type×month, global)
    * is a cheap union of KB-sized blobs — no re-scan of the fact data.
    * Cross-engine grading follows the agg-approx-distinct pattern: the
    * oracle pins the exact counts and a within-5% contract on the
    * estimate (sketch bits are engine-specific). */
  val aggSketchUnion: Q = (s, d) => {
    val ev = events(s, d)
    val shards = ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
    val merged = shards.groupBy("event_type")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, true))").as("est"),
        count(lit(1)).as("n_shards"))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"))
    exact.join(merged, Seq("event_type"))
      .select(col("event_type"), col("n_exact"), col("n_shards"),
        when(col("n_exact") === 0, 1)
          .otherwise((abs(col("est") - col("n_exact")) * lit(1.0) / col("n_exact") <= 0.05)
            .cast(IntegerType)).as("within_tolerance"))
      .orderBy("event_type")
  }

  val aggSketchUnionSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_exact,
      |       count(DISTINCT CAST(ts AS DATE)) AS n_shards,
      |       CAST(1 AS INT) AS within_tolerance
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** agg-bitmap-distinct — reaggregatable EXACT distinct counting via
    * Spark's bitmap aggregates, the precise-count counterpart of
    * agg-sketch-union: user ids are bucketed (bitmap_bucket_number),
    * each (type, day, bucket) shard builds a 4 KB bitmap of bit
    * positions, shards merge per (type, bucket) with bitmap_or_agg —
    * the union is exact, unlike any sketch — and the per-type distinct
    * count is the sum of disjoint buckets' bitmap_count. At 100 TB
    * this is how exact COUNT(DISTINCT int-key) rolls up through a
    * layered warehouse without re-scanning facts: bitmaps are
    * persistable artifacts and OR-merge is associative. The oracle
    * pins the exact counts; bitmap_exact asserts the bitmap path
    * reproduced them bit-for-bit. */
  val aggBitmapDistinct: Q = (s, d) => {
    val ev = events(s, d)
    val shards = ev.groupBy(col("event_type"), to_date(col("ts")).as("day"),
        expr("bitmap_bucket_number(user_id)").as("bucket"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
    val perBucket = shards.groupBy("event_type", "bucket")
      .agg(expr("bitmap_count(bitmap_or_agg(bm))").as("bucket_distinct"))
    val merged = perBucket.groupBy("event_type")
      .agg(sum(col("bucket_distinct")).as("n_distinct_bitmap"))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"))
    exact.join(merged, Seq("event_type"))
      .select(col("event_type"), col("n_exact"), col("n_distinct_bitmap"),
        (col("n_distinct_bitmap") === col("n_exact")).cast(IntegerType).as("bitmap_exact"))
      .orderBy("event_type")
  }

  val aggBitmapDistinctSql: String =
    """SELECT event_type,
      |       count(DISTINCT user_id) AS n_exact,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_bitmap,
      |       CAST(1 AS INT) AS bitmap_exact
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** agg-histogram — fixed-width histogram per group (the profiling
    * pass behind data-quality dashboards): explicit floor-division
    * binning (not width_bucket — engines differ on its availability,
    * and the arithmetic is the portable contract), per-bin count and
    * share. One groupBy on (group, bin) with map-side combine —
    * |groups × bins| output rows regardless of fact size. */
  val aggHistogram: Q = (s, d) => {
    val binW = 60000.0
    val o = orders(s, d)
      .withColumn("bin", floor(col("o_totalprice") / binW).cast(IntegerType))
    val perStatus = o.groupBy("o_orderstatus").agg(count(lit(1)).as("n_total"))
    o.groupBy("o_orderstatus", "bin")
      .agg(count(lit(1)).as("n"))
      .join(perStatus, Seq("o_orderstatus"))
      .select(col("o_orderstatus"), col("bin"),
        (col("bin") * binW).as("bin_low"),
        col("n"),
        round(col("n") * lit(1.0) / col("n_total"), 9).as("share"))
      .orderBy("o_orderstatus", "bin")
  }

  val aggHistogramSql: String =
    """WITH b AS (
      |  SELECT o_orderstatus,
      |         CAST(floor(o_totalprice / CAST(60000 AS DOUBLE)) AS INT) AS bin
      |  FROM orders),
      |tot AS (SELECT o_orderstatus, count(*) AS n_total FROM b GROUP BY 1)
      |SELECT o_orderstatus, bin,
      |       bin * CAST(60000 AS DOUBLE) AS bin_low,
      |       count(*) AS n,
      |       round(count(*) * 1.0 / n_total, 9) AS share
      |FROM b JOIN tot USING (o_orderstatus)
      |GROUP BY o_orderstatus, bin, n_total
      |ORDER BY o_orderstatus, bin""".stripMargin

  /** agg-regression — the OLS regression aggregate suite (slope,
    * intercept, R², sample covariance of price vs quantity per return
    * flag): single-pass distributive moments (sums of x, y, xy, x², y²
    * combine associatively), so the whole fit is one map-side-combined
    * groupBy — the profile-at-scale way to fit millions of tiny
    * per-group models without a modeling library. Ratios are doubles;
    * rounded to 6 dp for the cross-engine compare (same contract as
    * agg-stats' corr). */
  val aggRegression: Q = (s, d) => {
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        expr("count(*)").as("n_items"),
        round(expr("regr_slope(l_extendedprice, l_quantity)"), 6).as("slope"),
        round(expr("regr_intercept(l_extendedprice, l_quantity)"), 6).as("intercept"),
        round(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2"),
        round(expr("covar_samp(l_quantity, l_extendedprice)"), 6).as("covar"))
      .orderBy("l_returnflag")
  }

  val aggRegressionSql: String =
    """SELECT l_returnflag,
      |       count(*) AS n_items,
      |       round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
      |       round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
      |       round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
      |       round(covar_samp(l_quantity, l_extendedprice), 6) AS covar
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-regression", aggRegression, aggRegressionSql),
    Key("agg-bitmap-distinct", aggBitmapDistinct, aggBitmapDistinctSql),
    Key("agg-histogram", aggHistogram, aggHistogramSql),
    Key("agg-sketch-union", aggSketchUnion, aggSketchUnionSql),
    Key("agg-mode-median", aggModeMedian, aggModeMedianSql),
    Key("agg-approx-quantile", aggApproxQuantile, aggApproxQuantileSql),
    Key("agg-approx-distinct", aggApproxDistinct, aggApproxDistinctSql),
    Key("agg-stats", aggStats, aggStatsSql),
    Key("agg-percentile", aggPercentile, aggPercentileSql),
    Key("agg-topk", aggTopk, aggTopkSql),
    Key("agg-sum-total", aggSumTotal, aggSumTotalSql),
    Key("agg-minmax", aggMinmax, aggMinmaxSql),
    Key("agg-distinct", aggDistinct, aggDistinctSql),
    Key("agg-dedup-groupby", aggDedupGroupby, aggDedupGroupbySql),
    Key("agg-sum-by-key", aggSumByKey, aggSumByKeySql),
    Key("agg-count-volumetry", aggCountVolumetry, aggCountVolumetrySql),
    Key("agg-rowcount-audit", aggRowcountAudit, aggRowcountAuditSql))
}
