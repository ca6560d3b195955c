package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-7 batch A: zone-map skipping measurement, join fan-out
  * pre-flight. */
object RelMore55 extends KeyModule {

  private val ZmFiles = 32

  /** layout-zonemap-skipping — quantifies what a sort layout is WORTH
    * before paying to rewrite petabytes: model the same fact table
    * written as 32 files under (a) arrival order (key-interleaved, the
    * shape a streaming ingest leaves behind) and (b) shipdate-sorted
    * (the clustered rewrite), compute each file's min/max zone map on
    * l_shipdate, and replay a 12-month (1996, mid-corpus) panel of range predicates
    * against the zone maps counting which files a reader could SKIP
    * (max < lo or min > hi). This is the decision metric behind
    * sink-zorder-layout / sort-hilbert-vs-zorder: parquet row-group
    * pruning, Delta/Iceberg file skipping and DuckDB zone maps all
    * reduce to exactly this min/max interval test, and the measured
    * skip ratio (≈0 for arrival, ≈11/12 for sorted monthly predicates)
    * is the scan-cost multiplier the rewrite buys. Scale: the modeled
    * sorted assignment is a PrefixScan two-pass rank (range exchange,
    * no single-partition window); on a real lake the (file, min, max)
    * relation comes straight from manifest / footer metadata —
    * files×columns rows, not data — and the panel replay is a tiny
    * broadcast cross join against it. */
  val layoutZonemapSkipping: Q = (s, d) => {
    val li = lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
      to_date(col("l_shipdate")).as("sd"))
    // layout A: arrival interleave (orderkey-striped); layout B: the
    // clustered rewrite. The sorted assignment is ntile over the total
    // shipdate order, rebuilt from the PrefixScan two-pass rank (range
    // exchange + per-partition offsets) so the decision metric itself
    // runs without a single-partition WindowExec sort — the model must
    // scale like the lake it models. Oracle keeps plain window SQL.
    val arrivalZones = li
      .groupBy(lit("arrival").as("layout"),
        pmod(col("l_orderkey"), lit(ZmFiles.toLong)).as("file_id"))
      .agg(min("sd").as("zmin"), max("sd").as("zmax"))
    // sorted-layout zones from the DATE histogram, not a row-level rank:
    // per-file min/max shipdate depends only on how many rows of each
    // date fall in each ntile bucket (PrefixScan.ntileSpans), so the
    // only fact-table pass is one map-side-combined groupBy(sd).
    val hist = li.groupBy("sd").agg(count(lit(1)).as("c"))
    val spans = graft.functions.PrefixScan.ntileSpans(
      hist, Seq(col("sd")), "c", ZmFiles.toLong)
    val sortedZones = spans.df
      .groupBy(lit("sorted").as("layout"), (col("f") - 1).cast(LongType).as("file_id"))
      .agg(min("sd").as("zmin"), max("sd").as("zmax"))
    val zones = arrivalZones.unionAll(sortedZones)
    val panel = s.sql(
      "SELECT explode(sequence(to_date('1996-01-01'), to_date('1996-12-01'), " +
        "interval 1 month)) AS lo")
      .select(col("lo"), add_months(col("lo"), 1).as("hi"))
    zones.crossJoin(broadcast(panel))
      .select(col("layout"),
        when(col("zmax") < col("lo") || col("zmin") >= col("hi"), 1L)
          .otherwise(0L).as("skipped"))
      .groupBy("layout")
      .agg(count(lit(1)).as("n_file_checks"),
        sum("skipped").as("n_skipped"))
      .select(col("layout"), col("n_file_checks"), col("n_skipped"),
        expr("n_skipped * 1000 div n_file_checks").as("skip_ratio_milli"))
      .orderBy("layout")
  }

  val layoutZonemapSkippingSql: String =
    s"""WITH li AS (
       |  SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS sd
       |  FROM lineitem),
       |assigned AS (
       |  SELECT 'arrival' AS layout, l_orderkey % $ZmFiles AS file_id, sd FROM li
       |  UNION ALL
       |  SELECT 'sorted',
       |         CAST(ntile($ZmFiles) OVER (ORDER BY sd, l_orderkey, l_linenumber) - 1
       |              AS BIGINT), sd
       |  FROM li),
       |zones AS (
       |  SELECT layout, file_id, min(sd) AS zmin, max(sd) AS zmax
       |  FROM assigned GROUP BY 1, 2),
       |panel AS (
       |  SELECT lo, lo + INTERVAL 1 MONTH AS hi
       |  FROM (SELECT unnest(generate_series(DATE '1996-01-01', DATE '1996-12-01',
       |                                      INTERVAL 1 MONTH)) AS lo)),
       |checks AS (
       |  SELECT layout,
       |         CASE WHEN zmax < lo OR zmin >= hi THEN 1 ELSE 0 END AS skipped
       |  FROM zones CROSS JOIN panel)
       |SELECT layout, count(*) AS n_file_checks,
       |       CAST(sum(skipped) AS BIGINT) AS n_skipped,
       |       CAST(sum(skipped) AS BIGINT) * 1000 // count(*) AS skip_ratio_milli
       |FROM checks
       |GROUP BY layout
       |ORDER BY layout""".stripMargin

  /** dq-join-fanout-preflight — the output-volume estimate you run
    * BEFORE a suspicious join: per-key row counts on both sides, the
    * exact fan-out Σ cₐ·c_b the equi-join would emit, and the top-5
    * hot keys by contribution. Here the audited join is the lineitem
    * self-join on l_suppkey — ~600 rows/key at sf0.1, so the estimate
    * (~10⁸ pairs, 600× the input) is precisely the "this join needs a
    * df-cap, salting, or a rethink" red flag. Cost of the pre-flight
    * itself: two map-side-combinable key histograms and a key-aligned
    * join of histogram rows — |keys| rows, never the join's output —
    * which is why at 100 TB this always runs first; the estimate is
    * metadata-sized while the mistake it prevents is not. Output: one
    * total row (rank 0) + the top-5 keys with per-side counts. */
  val dqJoinFanoutPreflight: Q = (s, d) => {
    val hist = lineitem(s, d).groupBy(col("l_suppkey").as("k"))
      .agg(count(lit(1)).as("c")).sharedCache()
    val pairs = hist.select(col("k"), col("c").as("ca"), col("c").as("cb"),
      (col("c") * col("c")).as("est_pairs"))
    val top = pairs.orderBy(desc("est_pairs"), col("k")).limit(5)
      .select(col("k"), col("ca"), col("cb"), col("est_pairs"))
    val total = pairs.agg(
      sum("est_pairs").as("est_pairs"), sum("ca").as("ca"), sum("cb").as("cb"))
      .select(lit(-1L).as("k"), col("ca"), col("cb"), col("est_pairs"))
    import org.apache.spark.sql.expressions.Window
    total.unionAll(top)
      .withColumn("rank",
        (row_number().over(Window.orderBy(col("k") =!= -1L,
          desc("est_pairs"), col("k"))) - 1).cast(LongType))
      .select(col("rank"), col("k").as("supp_key"), col("ca").as("n_left"),
        col("cb").as("n_right"), col("est_pairs"))
      .orderBy("rank")
  }

  val dqJoinFanoutPreflightSql: String =
    """WITH hist AS (
      |  SELECT l_suppkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
      |pairs AS (
      |  SELECT k, c AS ca, c AS cb, CAST(c AS BIGINT) * c AS est_pairs FROM hist),
      |top AS (
      |  SELECT k, ca, cb, est_pairs FROM pairs
      |  ORDER BY est_pairs DESC, k LIMIT 5),
      |total AS (
      |  SELECT CAST(-1 AS BIGINT) AS k, CAST(sum(ca) AS BIGINT) AS ca,
      |         CAST(sum(cb) AS BIGINT) AS cb, CAST(sum(est_pairs) AS BIGINT) AS est_pairs
      |  FROM pairs),
      |unioned AS (
      |  SELECT * FROM total UNION ALL SELECT * FROM top)
      |SELECT CAST(row_number() OVER (ORDER BY (k <> -1), est_pairs DESC, k) - 1
      |            AS BIGINT) AS rank,
      |       k AS supp_key, ca AS n_left, cb AS n_right, est_pairs
      |FROM unioned
      |ORDER BY rank""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("layout-zonemap-skipping", layoutZonemapSkipping, layoutZonemapSkippingSql),
    Key("dq-join-fanout-preflight", dqJoinFanoutPreflight, dqJoinFanoutPreflightSql))
}
