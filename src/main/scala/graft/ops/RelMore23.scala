package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-4 continuation batch X: the Lorenz curve (gini's decile
  * view), winsorized robust means, and Kimball bridge-table weight
  * allocation.
  */
object RelMore23 extends KeyModule {

  /** agg-lorenz-curve — the decile Lorenz curve behind agg-gini:
    * customers ranked by spend ascending, per decile the cumulative
    * share of customers and of revenue in exact floor-ppm — the
    * "bottom 50% hold 11% of revenue" table. The decile comes from a
    * PrefixScan two-pass rank over the unique total order + the
    * ntile-from-rank formula — no single-partition window at customer
    * cardinality; the cumulative sums that remain run over the 10-row
    * decile frame only. */
  val aggLorenzCurve: Q = (s, d) => {
    val rev = orders(s, d)
      .groupBy("o_custkey")
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("cents"))
    val sc = graft.functions.PrefixScan.withRankCumSum(
      rev, Seq(col("cents"), col("o_custkey")), None, rankName = "rn")
    val deciles = sc.df
      .withColumn("decile",
        graft.functions.PrefixScan.ntileFromRank(10, sc.n, col("rn")))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_cust"), sum("cents").as("cents"))
      .sharedCache()
    deciles.count() // single-stage fill: tot broadcast + triangle read it
    // r13: the running sums over the 10 decile rows via a triangle
    // self-join (b.decile <= a.decile — 55 pairs) + one grand-total
    // broadcast, replacing two unpartitioned windows; same values,
    // census-clean, O(k^2) on a designed-constant k=10
    val tot = deciles.agg(sum("n_cust").as("tc"), sum("cents").as("tr"))
    deciles.as("a").join(deciles.as("b"), col("b.decile") <= col("a.decile"))
      .groupBy(col("a.decile").as("decile"))
      .agg(max(col("a.n_cust")).as("n_cust"),
        sum(col("b.n_cust")).as("cum_cust"), sum(col("b.cents")).as("cum_rev"))
      .crossJoin(broadcast(tot))
      .withColumn("cum_cust_ppm",
        floor(col("cum_cust") * lit(1000000L) / col("tc")).cast(LongType))
      .withColumn("cum_rev_ppm",
        floor(col("cum_rev") * lit(1000000L) / col("tr")).cast(LongType))
      .select("decile", "n_cust", "cum_cust_ppm", "cum_rev_ppm")
      .orderBy("decile")
  }

  val aggLorenzCurveSql: String =
    """WITH rev AS (
      |  SELECT o_custkey,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY o_custkey),
      |deciles AS (
      |  SELECT decile, count(*) AS n_cust, CAST(sum(cents) AS BIGINT) AS cents
      |  FROM (SELECT cents, ntile(10) OVER (ORDER BY cents, o_custkey) AS decile FROM rev)
      |  GROUP BY decile)
      |SELECT decile, n_cust,
      |       CAST(floor(sum(n_cust) OVER cum * 1000000 /
      |                  sum(n_cust) OVER ()) AS BIGINT) AS cum_cust_ppm,
      |       CAST(floor(sum(cents) OVER cum * 1000000 /
      |                  sum(cents) OVER ()) AS BIGINT) AS cum_rev_ppm
      |FROM deciles
      |WINDOW cum AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY decile""".stripMargin

  /** win-winsorize — robust mean by clamping to the per-user discrete
    * P05/P95 order statistics (sorted-array indexing, the dq-mad
    * discipline — interpolated percentiles are engine lottery). The
    * index arithmetic (ceil(0.05·n)) runs in doubles but on IDENTICAL
    * inputs with identical IEEE ops in both engines, so the picked
    * index matches even where 0.05·n lands on a representation
    * boundary. Winsorized sums stay in exact cents. */
  val winWinsorize: Q = (s, d) => {
    val vals = events(s, d)
      .filter(col("user_id") % 25 === 0)
      .select(col("user_id"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("vu"))
    val bounds = vals.groupBy("user_id")
      .agg(expr("array_sort(collect_list(vu))").as("vs"))
      .select(col("user_id"), size(col("vs")).as("n"),
        expr("element_at(vs, greatest(1, CAST(ceil(0.05 * size(vs)) AS INT)))").as("p05"),
        expr("element_at(vs, greatest(1, CAST(ceil(0.95 * size(vs)) AS INT)))").as("p95"))
    vals.join(bounds, Seq("user_id"))
      .withColumn("clamped", least(greatest(col("vu"), col("p05")), col("p95")))
      .groupBy("user_id", "n", "p05", "p95")
      .agg(sum("clamped").as("winsorized_sum"),
        count(when(col("vu") < col("p05") || col("vu") > col("p95"), 1)).as("n_clamped"))
      .orderBy("user_id")
  }

  val winWinsorizeSql: String =
    """WITH vals AS (
      |  SELECT user_id, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vu
      |  FROM events WHERE user_id % 25 = 0),
      |bounds AS (
      |  SELECT user_id, count(*) AS n,
      |         list_sort(list(vu))[greatest(1, CAST(ceil(0.05 * count(*)) AS INT))] AS p05,
      |         list_sort(list(vu))[greatest(1, CAST(ceil(0.95 * count(*)) AS INT))] AS p95
      |  FROM vals GROUP BY user_id)
      |SELECT v.user_id, b.n, b.p05, b.p95,
      |       CAST(sum(least(greatest(v.vu, b.p05), b.p95)) AS BIGINT) AS winsorized_sum,
      |       count(CASE WHEN v.vu < b.p05 OR v.vu > b.p95 THEN 1 END) AS n_clamped
      |FROM vals v JOIN bounds b ON b.user_id = v.user_id
      |GROUP BY v.user_id, b.n, b.p05, b.p95
      |ORDER BY v.user_id""".stripMargin

  /** join-bridge-alloc — Kimball bridge-table allocation: a
    * many-to-many fact (orders↔parts through lineitem) where each
    * line carries a WEIGHT (its floor-ppm share of the order's
    * revenue), so downstream brand rollups allocate each order's total
    * exactly once. The weights are computed in one per-order window;
    * the rollup proves Σ(allocated) ≈ Σ(order totals) with only
    * floor-ppm dust missing — the invariant naive m2m joins violate by
    * double-counting. */
  val joinBridgeAlloc: Q = (s, d) => {
    val lines = lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"),
        expr("CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) * 10000 AS BIGINT)")
          .as("rev_u"))
    val w = Window.partitionBy("l_orderkey")
    val bridge = lines
      .withColumn("weight_ppm",
        floor(col("rev_u") * lit(1000000L) / sum("rev_u").over(w)).cast(LongType))
    bridge
      .join(part(s, d).select("p_partkey", "p_brand"),
        col("p_partkey") === col("l_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_lines"),
        sum("weight_ppm").as("alloc_ppm_sum"),
        sum("rev_u").as("rev_u"))
      .orderBy("p_brand")
  }

  val joinBridgeAllocSql: String =
    """WITH bridge AS (
      |  SELECT l_orderkey, l_partkey, rev_u,
      |         CAST(floor(rev_u * 1000000 / sum(rev_u) OVER (PARTITION BY l_orderkey)) AS BIGINT) AS weight_ppm
      |  FROM (SELECT l_orderkey, l_partkey,
      |               CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) * 10000 AS BIGINT) AS rev_u
      |        FROM lineitem))
      |SELECT p.p_brand, count(*) AS n_lines,
      |       CAST(sum(b.weight_ppm) AS BIGINT) AS alloc_ppm_sum,
      |       CAST(sum(b.rev_u) AS BIGINT) AS rev_u
      |FROM bridge b
      |JOIN part p ON p.p_partkey = b.l_partkey
      |GROUP BY p.p_brand
      |ORDER BY p.p_brand""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-lorenz-curve", aggLorenzCurve, aggLorenzCurveSql),
    Key("win-winsorize", winWinsorize, winWinsorizeSql),
    Key("join-bridge-alloc", joinBridgeAlloc, joinBridgeAllocSql))
}
