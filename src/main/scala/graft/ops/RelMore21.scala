package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-4 continuation batch V: modern-SQL BY ALL shorthand, exact
  * weighted medians, and the Gini inequality coefficient — completing
  * the concentration-stats family (pareto-point, HHI, Gini).
  */
object RelMore21 extends KeyModule {

  /** sql-by-all — GROUP BY ALL + ORDER BY ALL (the DuckDB-invented
    * shorthand Spark 4 adopted): every non-aggregate select item
    * groups, every output column orders — one SQL string, both
    * engines, no ordinal drift when columns are added. Worth a front
    * door because analysts write it constantly and engines disagree
    * on WHICH columns "ALL" captures when expressions alias. */
  val sqlByAll: Q = (s, d) => {
    orders(s, d).createOrReplaceTempView("orders")
    s.sql(sqlByAllSql)
  }

  val sqlByAllSql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |       count(*) AS n,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders
      |GROUP BY ALL
      |ORDER BY ALL""".stripMargin

  /** agg-weighted-median — exact weighted median (quantity-weighted
    * unit price per brand): sort values, running weight, the median is
    * the FIRST value where 2·cumweight ≥ total — one integer
    * comparison, no interpolation (interpolated weighted quantiles are
    * engine lottery; the discrete definition is exact and standard).
    * Window per brand; the heavy lifting is one partition-local
    * sort. */
  val aggWeightedMedian: Q = (s, d) => {
    val base = lineitem(s, d)
      .join(part(s, d).select("p_partkey", "p_brand"),
        col("p_partkey") === col("l_partkey"))
      .select(col("p_brand"),
        expr("CAST(CAST(l_extendedprice / l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("unit_cents"),
        col("l_quantity").cast(LongType).as("wt"))
    val w = Window.partitionBy("p_brand").orderBy("unit_cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("p_brand")
    base
      .withColumn("cum_wt", sum("wt").over(w))
      .withColumn("total_wt", sum("wt").over(wAll))
      .filter(col("cum_wt") * 2 >= col("total_wt"))
      .groupBy("p_brand")
      .agg(min("unit_cents").as("wmedian_cents"),
        min("total_wt").as("total_wt"))
      .orderBy("p_brand")
  }

  val aggWeightedMedianSql: String =
    """WITH base AS (
      |  SELECT p.p_brand,
      |         CAST(CAST(l.l_extendedprice / l.l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS unit_cents,
      |         CAST(l.l_quantity AS BIGINT) AS wt
      |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
      |cum AS (
      |  SELECT p_brand, unit_cents,
      |         sum(wt) OVER (PARTITION BY p_brand ORDER BY unit_cents
      |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_wt,
      |         sum(wt) OVER (PARTITION BY p_brand) AS total_wt
      |  FROM base)
      |SELECT p_brand,
      |       min(unit_cents) AS wmedian_cents,
      |       CAST(min(total_wt) AS BIGINT) AS total_wt
      |FROM cum
      |WHERE cum_wt * 2 >= total_wt
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  /** agg-gini — Gini coefficient of customer spend: the standard
    * rank formula G = (2·Σ(i·xᵢ) − (n+1)·Σx) / (n·Σx) over revenue
    * sorted ascending with a unique rank, emitted as floor-ppm with
    * every product kept inside BIGINT by working in KILOdollars —
    * the bracketing term (2·Σix − (n+1)·Σx)·10⁶ is bounded by
    * n·Σx·10⁶, which cents would blow past int64 at sf0.1 and whole
    * dollars at sf1; quantization only coarsens the measured
    * distribution, identically in both engines. Completes the
    * inequality triptych: pareto-point (where 80% lives), HHI
    * (squared shares), Gini (full-distribution summary). */
  val aggGini: Q = (s, d) => {
    val rev = orders(s, d)
      .groupBy("o_custkey")
      .agg(expr("CAST(floor(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) / 100000.0) AS BIGINT)")
        .as("kd"))
    // rank via the PrefixScan two-pass — no single-partition window at
    // customer cardinality; the formula below is a plain aggregate.
    graft.functions.PrefixScan.withRankCumSum(
        rev, Seq(col("kd"), col("o_custkey")), None, rankName = "i").df
      .groupBy()
      .agg(count(lit(1)).as("n"),
        sum("kd").as("sum_x"),
        sum(col("i") * col("kd")).as("sum_ix"))
      .select(col("n"), col("sum_x"),
        floor((lit(2L) * col("sum_ix") - (col("n") + 1) * col("sum_x")) * lit(1000000L) /
          (col("n") * col("sum_x"))).cast(LongType).as("gini_ppm"))
  }

  val aggGiniSql: String =
    """WITH rev AS (
      |  SELECT o_custkey,
      |         CAST(floor(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) / 100000.0) AS BIGINT) AS kd
      |  FROM orders GROUP BY o_custkey),
      |ranked AS (
      |  SELECT kd,
      |         CAST(row_number() OVER (ORDER BY kd, o_custkey) AS BIGINT) AS i
      |  FROM rev)
      |SELECT count(*) AS n,
      |       CAST(sum(kd) AS BIGINT) AS sum_x,
      |       CAST(floor((2 * sum(i * kd) - (count(*) + 1) * sum(kd)) * 1000000 /
      |                  (count(*) * sum(kd))) AS BIGINT) AS gini_ppm
      |FROM ranked""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("sql-by-all", sqlByAll, sqlByAllSql),
    Key("agg-weighted-median", aggWeightedMedian, aggWeightedMedianSql),
    Key("agg-gini", aggGini, aggGiniSql))
}
