package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-4 continuation batch N: the last two TPC-H shapes (q2's
  * correlated scalar-min over a join, q11's HAVING-vs-global-total
  * threshold) — completing all 22 front doors — plus warehouse and
  * training-pipeline staples: RFM segmentation, market-basket lift,
  * LOCF/backfill imputation, dense reporting scaffolds, feature
  * hashing, and equi-depth histograms.
  */
object RelMore13 extends KeyModule {

  /** sql-tpch-q2 — minimum-cost supplier per part: the correlated
    * scalar-min subquery re-runs the OUTER query's own join inside the
    * correlation — Spark decorrelates it into a per-part min aggregate
    * joined back, so the 4-way join executes twice, not once per part.
    * ps_supplycost (absent) → s_acctbal as the minimized measure;
    * DISTINCT collapses the multiple lineitems that bind the same
    * (part, supplier). Double equality is safe: both sides are the
    * SAME stored value, not recomputed arithmetic. */
  val sqlTpchQ2: Q = (s, d) => {
    part(s, d).createOrReplaceTempView("part")
    lineitem(s, d).createOrReplaceTempView("lineitem")
    supplier(s, d).createOrReplaceTempView("supplier")
    nation(s, d).createOrReplaceTempView("nation")
    region(s, d).createOrReplaceTempView("region")
    s.sql(sqlTpchQ2Sql)
  }

  val sqlTpchQ2Sql: String =
    """SELECT DISTINCT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_brand
      |FROM part p
      |JOIN lineitem l ON l.l_partkey = p.p_partkey
      |JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |JOIN nation n ON n.n_nationkey = s.s_nationkey
      |JOIN region r ON r.r_regionkey = n.n_regionkey
      |WHERE p.p_size = 15 AND r.r_name = 'EUROPE'
      |  AND s.s_acctbal = (
      |    SELECT min(s2.s_acctbal)
      |    FROM lineitem l2
      |    JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
      |    JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
      |    JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
      |    WHERE l2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
      |ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
      |LIMIT 100""".stripMargin

  /** sql-tpch-q11 — important-stock screen: per-part value filtered
    * against a fraction of the GLOBAL total — the same CTE aggregated
    * twice (per-group and grand total), with the threshold kept exact
    * as integers: val·count > 2·total ⟺ share > 2× the mean share
    * (the original's fixed 0.0001 fraction is scale-dependent: at 10×
    * the parts it returns nothing). ps_value (absent) → lineitem
    * revenue micro-units per part from two nations' suppliers. */
  val sqlTpchQ11: Q = (s, d) => {
    lineitem(s, d).createOrReplaceTempView("lineitem")
    supplier(s, d).createOrReplaceTempView("supplier")
    nation(s, d).createOrReplaceTempView("nation")
    s.sql(sqlTpchQ11Sql)
  }

  val sqlTpchQ11Sql: String =
    """WITH pv AS (
      |  SELECT l.l_partkey,
      |         CAST(sum(CAST(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))
      |                       * 10000 AS BIGINT)) AS BIGINT) AS val_u
      |  FROM lineitem l
      |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  JOIN nation n ON n.n_nationkey = s.s_nationkey
      |  WHERE n.n_name IN ('NATION_3', 'NATION_4')
      |  GROUP BY l.l_partkey)
      |SELECT l_partkey, val_u
      |FROM pv
      |WHERE val_u * (SELECT count(*) FROM pv) > 2 * (SELECT sum(val_u) FROM pv)
      |ORDER BY val_u DESC, l_partkey""".stripMargin

  /** agg-rfm-segmentation — the classic customer-value grid: recency /
    * frequency / monetary quartiles via ntile(4) with UNIQUE total
    * orders (tiebreak c_custkey — an ntile over a non-unique order is
    * engine-dependent at the boundaries). Each quartile is a
    * PrefixScan two-pass rank (range partition + per-partition
    * offsets) + the SQL-standard ntile-from-rank formula — three range
    * exchanges and two equi-joins on the customer key, no
    * single-partition window anywhere, bit-identical to the window
    * oracle. */
  val aggRfmSegmentation: Q = (s, d) => {
    // sharedCache: the three quartile axes each run a PrefixScan over
    // THIS aggregate — one cached materialization of the customer-level
    // rollup feeds all three range-partitioner samples, all three stats
    // passes, and the final join, instead of re-running the orders
    // groupBy per consumer (PrefixScan leaves caller-owned caches alone).
    val base = orders(s, d)
      .groupBy("o_custkey")
      .agg(
        max(col("o_orderdate").cast(DateType)).as("last_order"),
        count(lit(1)).as("frequency"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("monetary_cents"))
      .sharedCache()
    def quartile(order: Seq[Column], name: String): DataFrame = {
      val sc = graft.functions.PrefixScan.withRankCumSum(
        base, order, None, rankName = "rn")
      sc.df.select(col("o_custkey"),
        graft.functions.PrefixScan.ntileFromRank(4, sc.n, col("rn")).as(name))
    }
    val r = quartile(Seq(desc("last_order"), col("o_custkey")), "r_score")
    val f = quartile(Seq(desc("frequency"), col("o_custkey")), "f_score")
    val m = quartile(Seq(desc("monetary_cents"), col("o_custkey")), "m_score")
    base
      .join(r, Seq("o_custkey"))
      .join(f, Seq("o_custkey"))
      .join(m, Seq("o_custkey"))
      .select(col("o_custkey").as("c_custkey"),
        col("frequency"), col("monetary_cents"),
        col("r_score"), col("f_score"), col("m_score"),
        concat(col("r_score"), col("f_score"), col("m_score")).as("segment"))
      .orderBy("c_custkey")
  }

  val aggRfmSegmentationSql: String =
    """WITH base AS (
      |  SELECT o_custkey AS c_custkey,
      |         max(CAST(o_orderdate AS DATE)) AS last_order,
      |         count(*) AS frequency,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS monetary_cents
      |  FROM orders GROUP BY o_custkey),
      |scored AS (
      |  SELECT c_custkey, frequency, monetary_cents,
      |         ntile(4) OVER (ORDER BY last_order DESC, c_custkey) AS r_score,
      |         ntile(4) OVER (ORDER BY frequency DESC, c_custkey) AS f_score,
      |         ntile(4) OVER (ORDER BY monetary_cents DESC, c_custkey) AS m_score
      |  FROM base)
      |SELECT c_custkey, frequency, monetary_cents, r_score, f_score, m_score,
      |       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) || CAST(m_score AS VARCHAR) AS segment
      |FROM scored
      |ORDER BY c_custkey""".stripMargin

  /** agg-basket-affinity — market-basket association mining: pair
    * support, confidence and lift for co-purchased parts, all in exact
    * ppm (lift = support(AB)·N / (support(A)·support(B)) cross-
    * multiplied into integers before the single floor-division).
    * The orderkey%10 sample bounds the quadratic pair blow-up; at
    * 100 TB you'd also cap per-order width (a 10k-line order generates
    * 50M pairs — top-frequency-item pruning first). */
  val aggBasketAffinity: Q = (s, d) => {
    val op = lineitem(s, d).filter(col("l_orderkey") % 10 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct().sharedCache()
    val nOrders = op.select("ok").distinct().count()
    val partN = op.groupBy("pk").agg(count(lit(1)).as("n"))
    val pairs = op.as("a").join(op.as("b"), Seq("ok"))
      .filter(col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("p1"), col("b.pk").as("p2"))
      .agg(count(lit(1)).as("pair_n"))
      .filter(col("pair_n") >= 2)
    pairs
      .join(partN.select(col("pk").as("p1"), col("n").as("n1")), Seq("p1"))
      .join(partN.select(col("pk").as("p2"), col("n").as("n2")), Seq("p2"))
      .select(col("p1"), col("p2"), col("pair_n"), col("n1"), col("n2"),
        floor(col("pair_n") * lit(1000000L) * lit(nOrders) / (col("n1") * col("n2")))
          .cast(LongType).as("lift_ppm"),
        floor(col("pair_n") * lit(1000000L) / col("n1")).cast(LongType).as("conf_ppm"))
      .orderBy(desc("pair_n"), col("p1"), col("p2"))
      .limit(20)
  }

  val aggBasketAffinitySql: String =
    """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |            FROM lineitem WHERE l_orderkey % 10 = 0),
      |no AS (SELECT count(DISTINCT ok) AS n_orders FROM op),
      |pn AS (SELECT pk, count(*) AS n FROM op GROUP BY pk),
      |pairs AS (
      |  SELECT a.pk AS p1, b.pk AS p2, count(*) AS pair_n
      |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY a.pk, b.pk
      |  HAVING count(*) >= 2)
      |SELECT p1, p2, pair_n, n1.n AS n1, n2.n AS n2,
      |       CAST(floor(pair_n * 1000000 * (SELECT n_orders FROM no) / (n1.n * n2.n)) AS BIGINT) AS lift_ppm,
      |       CAST(floor(pair_n * 1000000 / n1.n) AS BIGINT) AS conf_ppm
      |FROM pairs
      |JOIN pn n1 ON n1.pk = p1
      |JOIN pn n2 ON n2.pk = p2
      |ORDER BY pair_n DESC, p1, p2
      |LIMIT 20""".stripMargin

  /** win-locf-backfill — missing-value imputation along a time series:
    * last-observation-carried-forward (and its mirror, next-observation
    * backfill) via last/first with ignoreNulls over half-open row
    * frames — the gap-filling every sensor/metrics table needs before
    * aggregation. Nulls are INDUCED deterministically (event_id%5) so
    * both engines see identical gaps; ordering key is the unique
    * event_id (ts has duplicate risk and nanosecond skew). Per-user
    * partitions keep every window local to its shuffle partition — no
    * global window, fully parallel at 100 TB. */
  val winLocfBackfill: Q = (s, d) => {
    val base = events(s, d)
      .filter(col("user_id") % 25 === 0)
      .select(col("user_id"), col("event_id"),
        when(col("event_id") % 5 === 0, lit(null)).otherwise(col("value")).as("v"))
    val wPast = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFut = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    base
      .select(col("user_id"), col("event_id"), col("v"),
        last("v", ignoreNulls = true).over(wPast).as("v_locf"),
        first("v", ignoreNulls = true).over(wFut).as("v_bfill"))
      .orderBy("user_id", "event_id")
  }

  val winLocfBackfillSql: String =
    """SELECT user_id, event_id, v,
      |       last_value(v IGNORE NULLS) OVER
      |         (PARTITION BY user_id ORDER BY event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_locf,
      |       first_value(v IGNORE NULLS) OVER
      |         (PARTITION BY user_id ORDER BY event_id
      |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v_bfill
      |FROM (SELECT user_id, event_id,
      |             CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
      |      FROM events WHERE user_id % 25 = 0)
      |ORDER BY user_id, event_id""".stripMargin

  /** gen-dense-scaffold — the dense reporting matrix: every (day ×
    * status) cell for a quarter, zero-filled where no orders exist —
    * generated calendar (sequence + explode) CROSS JOIN the status
    * domain, LEFT JOIN actuals, coalesce to 0. Sparse GROUP BY output
    * silently drops empty cells; every BI/forecasting consumer needs
    * the dense grid. The scaffold is |days|×|statuses| rows — tiny —
    * so it broadcasts against the aggregated (already small) actuals. */
  val genDenseScaffold: Q = (s, d) => {
    val days = s.range(1).select(explode(expr(
      "sequence(DATE '1996-01-01', DATE '1996-03-31', INTERVAL 1 DAY)")).as("d"))
    val statuses = orders(s, d).select(col("o_orderstatus").as("status")).distinct()
    val actual = orders(s, d)
      .groupBy(col("o_orderdate").cast(DateType).as("d"),
        col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n_orders"))
    days.crossJoin(statuses)
      .join(actual, Seq("d", "status"), "left_outer")
      .select(col("d"), col("status"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      .orderBy("d", "status")
  }

  val genDenseScaffoldSql: String =
    """WITH days AS (
      |  SELECT CAST(unnest(generate_series(DATE '1996-01-01', DATE '1996-03-31',
      |                                     INTERVAL 1 DAY)) AS DATE) AS d),
      |statuses AS (SELECT DISTINCT o_orderstatus AS status FROM orders),
      |actual AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d, o_orderstatus AS status,
      |         count(*) AS n_orders
      |  FROM orders GROUP BY 1, 2)
      |SELECT days.d, statuses.status,
      |       CAST(coalesce(actual.n_orders, 0) AS BIGINT) AS n_orders
      |FROM days
      |CROSS JOIN statuses
      |LEFT JOIN actual ON actual.d = days.d AND actual.status = statuses.status
      |ORDER BY days.d, statuses.status""".stripMargin

  /** text-feature-hashing — the hashing trick: words → fixed 64-bucket
    * feature space via a PORTABLE digest (md5 nibbles mod 64 — Spark's
    * hash() and DuckDB's hash() are different functions, so a
    * cross-engine feature space must be built on a standard digest).
    * Collisions are the accepted trade: bounded dimensionality with no
    * vocabulary state, the feature encoding that needs no fitted dict
    * at 100 TB. */
  val textFeatureHashing: Q = (s, d) =>
    documents(s, d)
      .filter(col("doc_id") % 50 === 0)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .withColumn("bucket", expr(
        "((instr('0123456789abcdef', substring(md5(word), 1, 1)) - 1) * 16 + " +
          "(instr('0123456789abcdef', substring(md5(word), 2, 1)) - 1)) % 64"))
      .groupBy("doc_id", "bucket")
      .agg(count(lit(1)).as("n"))
      .orderBy("doc_id", "bucket")

  val textFeatureHashingSql: String =
    """SELECT doc_id, bucket, count(*) AS n
      |FROM (
      |  SELECT doc_id,
      |         ((strpos('0123456789abcdef', substring(md5(word), 1, 1)) - 1) * 16 +
      |          (strpos('0123456789abcdef', substring(md5(word), 2, 1)) - 1)) % 64 AS bucket
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |        FROM documents WHERE doc_id % 50 = 0)
      |  WHERE word <> '')
      |GROUP BY doc_id, bucket
      |ORDER BY doc_id, bucket""".stripMargin

  /** agg-equidepth-histogram — quantile (equi-depth) bucketing of
    * order values: ntile(10) over a UNIQUE total order (cents +
    * orderkey tiebreak), then per-bucket count/min/max in exact cents.
    * Equi-WIDTH histograms (agg-histogram) put 90% of skewed data in
    * one bin; equi-depth is what query optimizers and drift monitors
    * actually store. Bucketing is the PrefixScan two-pass rank +
    * ntile-from-rank formula — no single-partition window at order
    * cardinality; agg-decile-approx is the approx_percentile-boundary
    * sibling. */
  val aggEquidepthHistogram: Q = (s, d) => {
    val base = orders(s, d).select(col("o_orderkey"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    val sc = graft.functions.PrefixScan.withRankCumSum(
      base, Seq(col("cents"), col("o_orderkey")), None, rankName = "rn")
    sc.df.withColumn("bucket",
        graft.functions.PrefixScan.ntileFromRank(10, sc.n, col("rn")))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min("cents").as("min_cents"), max("cents").as("max_cents"))
      .orderBy("bucket")
  }

  val aggEquidepthHistogramSql: String =
    """SELECT bucket, count(*) AS n,
      |       min(cents) AS min_cents, max(cents) AS max_cents
      |FROM (
      |  SELECT ntile(10) OVER (ORDER BY cents, o_orderkey) AS bucket, cents
      |  FROM (SELECT o_orderkey,
      |               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |        FROM orders))
      |GROUP BY bucket
      |ORDER BY bucket""".stripMargin

  /** func-struct-suite — StructType as a first-class value: structs as
    * ARRAY SORT KEYS (array_sort on array<struct> orders by fields
    * left-to-right — the collect-then-order idiom every
    * order-sensitive aggregation over unordered shuffles relies on),
    * field extraction via dot path, and struct-typed min/max. The
    * oracle spells the same semantics with ORDER BY-qualified
    * aggregates (DuckDB's first(x ORDER BY y)). */
  val funcStructSuite: Q = (s, d) =>
    lineitem(s, d)
      .filter(col("l_orderkey") % 100 === 0)
      .groupBy("l_orderkey")
      .agg(
        count(lit(1)).as("n_lines"),
        expr("element_at(transform(array_sort(collect_list(struct(l_linenumber, l_quantity)))," +
          " x -> x.l_quantity), 1)").as("first_qty"),
        expr("element_at(transform(array_sort(collect_list(struct(l_linenumber, l_quantity)))," +
          " x -> x.l_quantity), -1)").as("last_qty"),
        (max("l_quantity") - min("l_quantity")).as("qty_span"))
      .orderBy("l_orderkey")

  val funcStructSuiteSql: String =
    """SELECT l_orderkey, count(*) AS n_lines,
      |       first(l_quantity ORDER BY l_linenumber, l_quantity) AS first_qty,
      |       last(l_quantity ORDER BY l_linenumber, l_quantity) AS last_qty,
      |       max(l_quantity) - min(l_quantity) AS qty_span
      |FROM lineitem
      |WHERE l_orderkey % 100 = 0
      |GROUP BY l_orderkey
      |ORDER BY l_orderkey""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("sql-tpch-q2", sqlTpchQ2, sqlTpchQ2Sql),
    Key("sql-tpch-q11", sqlTpchQ11, sqlTpchQ11Sql),
    Key("agg-rfm-segmentation", aggRfmSegmentation, aggRfmSegmentationSql),
    Key("agg-basket-affinity", aggBasketAffinity, aggBasketAffinitySql),
    Key("win-locf-backfill", winLocfBackfill, winLocfBackfillSql),
    Key("gen-dense-scaffold", genDenseScaffold, genDenseScaffoldSql),
    Key("text-feature-hashing", textFeatureHashing, textFeatureHashingSql),
    Key("agg-equidepth-histogram", aggEquidepthHistogram, aggEquidepthHistogramSql),
    Key("func-struct-suite", funcStructSuite, funcStructSuiteSql))
}
