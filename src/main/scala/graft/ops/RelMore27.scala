package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-5 batch A: the approximate-boundary sibling of the exact
  * equi-depth family — quantile bucketing with NO total order at all.
  */
object RelMore27 extends KeyModule {

  /** agg-decile-approx — equi-depth decile report via approx_percentile
    * BOUNDARIES + comparison bucketing: one pass computes the 9 decile
    * boundaries as a bounded-memory sketch (Greenwald-Khanna, accuracy
    * 10^6 → rank error ≤ N/10^6), the boundary array is broadcast back
    * onto the frame, and each row buckets itself by counting boundaries
    * below its value — no sort, no rank, no shuffle beyond the final
    * 10-group aggregate. This is THE 100 TB shape for quantile
    * bucketing: agg-equidepth-histogram's PrefixScan rank is exact but
    * pays a range exchange; this pays one aggregate and tolerates
    * ε-rank boundary error instead. At test scale (N < accuracy) the
    * sketch degenerates to exact order statistics with
    * quantile_disc's rank convention, which is what lets the DuckDB
    * oracle hash-match bit-for-bit. Ties at a boundary go to the lower
    * bucket in both engines (strict `<` comparison). */
  val aggDecileApprox: Q = (s, d) => {
    val base = orders(s, d).select(
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    val ps = (1 to 9).map(_ / 10.0)
    val bounds = base.agg(
      expr(s"approx_percentile(cents, array(${ps.mkString(",")}), 1000000)").as("bounds"))
    base.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        (size(expr("filter(bounds, x -> x < cents)")) + 1).cast(IntegerType))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_orders"),
        min("cents").as("min_cents"),
        max("cents").as("max_cents"))
      .orderBy("bucket")
  }

  val aggDecileApproxSql: String =
    """WITH c AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |b AS (
      |  SELECT quantile_disc(cents, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bounds
      |  FROM c)
      |SELECT CAST(1 + len(list_filter(b.bounds, x -> x < c.cents)) AS INT) AS bucket,
      |       count(*) AS n_orders,
      |       min(c.cents) AS min_cents,
      |       max(c.cents) AS max_cents
      |FROM c, b
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-decile-approx", aggDecileApprox, aggDecileApproxSql))
}
