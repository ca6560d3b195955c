package graft.ops

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Driver-round-9 batch B: observed-metrics auditing — the
  * CollectMetrics operator (`Dataset.observe`) rides audit aggregates
  * on the SAME scan as the real work, where the repo's earlier audit
  * ops (agg-rowcount-audit, sink-audit-append) pay a second pass.
  * At 100 TB a second pass is a second 100 TB scan; observe is the
  * accumulator-style free ride. */
object RelMore206 extends KeyModule {

  /** dq-observe-metrics — one-pass audit counters. The per-status
    * rollup is the "real" query; `observe` plants row count, exact
    * cents total, and a nonpositive-price violation count on the scan
    * feeding it. The observation completes with the action that
    * materializes the rollup (localCheckpoint), and the audit values
    * are appended as literal columns — so the graded output proves
    * the observed numbers equal what a dedicated audit scan would
    * have produced (the oracle computes them the expensive way).
    * CollectMetrics is an accumulator merge: no extra shuffle, no
    * extra scan, safe under task retries (Spark deduplicates by task
    * attempt). */
  val dqObserveMetrics: Q = (s, d) => {
    val obs = Observation()
    val base = orders(s, d).select(col("o_orderstatus"), col("o_totalprice"))
    val observed = base.observe(obs,
      count(lit(1)).as("n_total"),
      sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .as("cents_total"),
      sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("n_nonpositive"))
    // the action that drives both the rollup and the observation
    val byStatus = observed.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"))
      .localCheckpoint()
    val m = obs.get
    byStatus
      .withColumn("audit_n_total", lit(m("n_total").asInstanceOf[Long]))
      .withColumn("audit_cents_total", lit(m("cents_total").asInstanceOf[Long]))
      .withColumn("audit_n_nonpositive", lit(m("n_nonpositive").asInstanceOf[Long]))
      .orderBy("o_orderstatus")
  }

  val dqObserveMetricsSql: String =
    """WITH audit AS (
      |  SELECT count(*) AS nt,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |           AS BIGINT) AS ct,
      |         CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
      |           AS BIGINT) AS np
      |  FROM orders)
      |SELECT o_orderstatus, count(*) AS n_orders,
      |       nt AS audit_n_total, ct AS audit_cents_total,
      |       np AS audit_n_nonpositive
      |FROM orders CROSS JOIN audit
      |GROUP BY 1, nt, ct, np
      |ORDER BY 1""".stripMargin

  /** layout-parquet-bloom-write — parquet COLUMN bloom filters, the
    * third row-group-skipping tier. Zone maps (min/max,
    * layout-zonemap-skipping) prune range predicates on the SORT key;
    * a point lookup on any OTHER high-cardinality key spans every
    * row group's min/max and skips nothing — that is exactly what
    * parquet column blooms fix. The writer sizes a bloom on
    * o_orderkey (ndv hint; fpp math graded separately by
    * layout-bloom-fpp-curve) while the file is SORTED BY o_custkey,
    * making zonemaps on the probe key useless by construction; the
    * reader's row-group filter then answers "might this group contain
    * key k?" from the footer bloom instead of scanning. At 100 TB
    * this is the difference between a point lookup reading one row
    * group and reading the whole table. The graded output is the
    * probe result (bloom skipping must be result-invariant — false
    * positives only cost I/O); LayoutBloomSpec asserts the written
    * footers actually carry the bloom. */
  val layoutParquetBloomWrite: Q = (s, d) => {
    val out = tmp("parquet-bloom", d)
    orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"))
      .repartition(4, col("o_custkey"))
      .sortWithinPartitions(col("o_custkey"))
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#o_orderkey", "true")
      .option("parquet.bloom.filter.expected.ndv#o_orderkey", "200000")
      .parquet(out)
    s.read.parquet(out)
      .filter(col("o_orderkey").isin(1L, 7L, 32L, 999999999L))
      .select(col("o_orderkey"), col("o_custkey"),
        outNum(dec2(col("o_totalprice"))).as("totalprice"))
      .orderBy("o_orderkey")
  }

  val layoutParquetBloomWriteSql: String =
    """SELECT o_orderkey, o_custkey,
      |       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice
      |FROM orders
      |WHERE o_orderkey IN (1, 7, 32, 999999999)
      |ORDER BY o_orderkey""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("dq-observe-metrics", dqObserveMetrics, dqObserveMetricsSql),
    Key("layout-parquet-bloom-write", layoutParquetBloomWrite, layoutParquetBloomWriteSql))
}
