package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-4 continuation batch R: FIFO allocation via cumulative-
  * interval overlap (the hardest pure-SQL shape in the warehouse
  * canon), cross-system reconciliation checksums, date-interval RANGE
  * frames, robust MAD outlier gating, and an exact-arithmetic A/B
  * significance gate.
  */
object RelMore17 extends KeyModule {

  /** agg-fifo-match — FIFO allocation as interval algebra: number each
    * part's supply stream and demand stream with cumulative-quantity
    * intervals [cum−qty, cum), then FIFO matching IS interval
    * intersection — a range join on overlap with
    * matched = least(hi) − greatest(lo). No loops, no recursion, no
    * per-row state: two windowed cumsums and one join, fully parallel
    * per part at 100 TB. Quantities integral → every boundary exact.
    * Supply = shipped-not-returned lines, demand = returned lines
    * (the reconciliation: which shipments do returns eat, in ship
    * order). Identical duplicate source rows produce identical output
    * multisets whatever their internal order — the output carries no
    * synthetic ids. */
  val aggFifoMatch: Q = (s, d) => {
    val base = lineitem(s, d)
      .filter(col("l_partkey") % 50 === 0)
      .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"), col("l_returnflag"),
        col("l_quantity").cast(LongType).as("qty"))
    val w = Window.partitionBy("l_partkey")
      .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "qty")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def stream(flag: Column, prefix: String): DataFrame = base
      .filter(flag)
      .withColumn("hi", sum("qty").over(w))
      .select(col("l_partkey"),
        col("l_orderkey").as(s"${prefix}_orderkey"),
        col("l_linenumber").as(s"${prefix}_linenumber"),
        (col("hi") - col("qty")).as(s"${prefix}_lo"),
        col("hi").as(s"${prefix}_hi"))
    val supply = stream(col("l_returnflag") =!= "R", "s")
    val demand = stream(col("l_returnflag") === "R", "d")
    supply.join(demand, Seq("l_partkey"))
      .filter(col("s_lo") < col("d_hi") && col("d_lo") < col("s_hi"))
      .select(col("l_partkey"),
        col("s_orderkey"), col("s_linenumber"),
        col("d_orderkey"), col("d_linenumber"),
        (least(col("s_hi"), col("d_hi")) - greatest(col("s_lo"), col("d_lo")))
          .as("matched_qty"))
      .orderBy("l_partkey", "s_orderkey", "s_linenumber",
        "d_orderkey", "d_linenumber", "matched_qty")
  }

  val aggFifoMatchSql: String =
    """WITH base AS (
      |  SELECT l_partkey, l_orderkey, l_linenumber, l_shipdate, l_returnflag,
      |         CAST(l_quantity AS BIGINT) AS qty
      |  FROM lineitem WHERE l_partkey % 50 = 0),
      |supply AS (
      |  SELECT l_partkey, l_orderkey AS s_orderkey, l_linenumber AS s_linenumber,
      |         sum(qty) OVER w - qty AS s_lo, sum(qty) OVER w AS s_hi
      |  FROM base WHERE l_returnflag <> 'R'
      |  WINDOW w AS (PARTITION BY l_partkey
      |               ORDER BY l_shipdate, l_orderkey, l_linenumber, qty
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |demand AS (
      |  SELECT l_partkey, l_orderkey AS d_orderkey, l_linenumber AS d_linenumber,
      |         sum(qty) OVER w - qty AS d_lo, sum(qty) OVER w AS d_hi
      |  FROM base WHERE l_returnflag = 'R'
      |  WINDOW w AS (PARTITION BY l_partkey
      |               ORDER BY l_shipdate, l_orderkey, l_linenumber, qty
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT s.l_partkey, s.s_orderkey, s.s_linenumber,
      |       d.d_orderkey, d.d_linenumber,
      |       CAST(least(s.s_hi, d.d_hi) - greatest(s.s_lo, d.d_lo) AS BIGINT) AS matched_qty
      |FROM supply s
      |JOIN demand d ON d.l_partkey = s.l_partkey
      |             AND s.s_lo < d.d_hi AND d.d_lo < s.s_hi
      |ORDER BY s.l_partkey, s.s_orderkey, s.s_linenumber,
      |         d.d_orderkey, d.d_linenumber, matched_qty""".stripMargin

  /** dq-reconcile-checksum — cross-system table reconciliation without
    * moving rows: per group, a count plus an order-free modular
    * checksum over (key, value) pairs — two warehouses compare one
    * tiny row per group instead of shipping 100 TB. The checksum is a
    * sum of per-row modular products (p = 2^31−1): commutative (any
    * partition order), overflow-safe (row term < 2^31, BIGINT sum),
    * and portable — production would sum truncated cryptographic
    * digests instead; the SHAPE (groupwise order-free fingerprint) is
    * identical. */
  val dqReconcileChecksum: Q = (s, d) => {
    val p = 2147483647L
    orders(s, d)
      .select(col("o_orderstatus"), col("o_orderkey"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("sum_cents"),
        sum((col("o_orderkey") % p) * (col("cents") % p) % p).as("checksum"))
      .orderBy("o_orderstatus")
  }

  val dqReconcileChecksumSql: String =
    """SELECT o_orderstatus, count(*) AS n,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents,
      |       CAST(sum((o_orderkey % 2147483647) * (cents % 2147483647) % 2147483647) AS BIGINT) AS checksum
      |FROM (SELECT o_orderstatus, o_orderkey,
      |             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |      FROM orders)
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** win-range-interval — trailing-7-day revenue per customer via a
    * date-valued RANGE frame (RANGE BETWEEN INTERVAL 7 DAYS PRECEDING):
    * the frame is defined by the ORDER-BY VALUE, not row position, so
    * calendar gaps are handled correctly where a ROWS frame silently
    * isn't (7 rows ≠ 7 days when days are missing). Same-date orders
    * are RANGE peers sharing one frame sum — deterministic by
    * construction. Complements win-range-frame's numeric range. */
  val winRangeInterval: Q = (s, d) => {
    customer(s, d) // touch for schema symmetry; not needed in the plan
    orders(s, d).createOrReplaceTempView("orders")
    s.sql(
      """SELECT o_custkey, o_orderkey, d, cents,
        |       CAST(sum(cents) OVER (PARTITION BY o_custkey ORDER BY d
        |              RANGE BETWEEN INTERVAL '7' DAY PRECEDING AND CURRENT ROW)
        |            AS BIGINT) AS trail7_cents
        |FROM (SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS d,
        |             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |      FROM orders WHERE o_custkey % 10 = 0)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)
  }

  val winRangeIntervalSql: String =
    """SELECT o_custkey, o_orderkey, d, cents,
      |       CAST(sum(cents) OVER (PARTITION BY o_custkey ORDER BY d
      |              RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
      |            AS BIGINT) AS trail7_cents
      |FROM (SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS d,
      |             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |      FROM orders WHERE o_custkey % 10 = 0)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** dq-mad-outliers — robust outlier gate per user: median and MAD
    * (median absolute deviation) as EXACT discrete order statistics —
    * collect the user's centi-values, sort, index (n+1)/2 — never
    * interpolated percentiles (engine interpolation differs), never
    * mean/stddev (one wild value corrupts both; MAD shrugs). Outlier =
    * |x − median| > 5·MAD. Per-user arrays are bounded by per-user
    * event counts — this is the dimension-sized collect that is fine,
    * distinct from the forbidden corpus-sized one. */
  val dqMadOutliers: Q = (s, d) =>
    events(s, d)
      .filter(col("user_id") % 25 === 0)
      .select(col("user_id"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("vu"))
      .groupBy("user_id")
      .agg(expr("array_sort(collect_list(vu))").as("vs"))
      .select(col("user_id"),
        size(col("vs")).as("n"),
        expr("element_at(vs, CAST(floor((size(vs) + 1) / 2) AS INT))").as("med"))
      .join(
        events(s, d).filter(col("user_id") % 25 === 0)
          .select(col("user_id"),
            expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("vu")),
        Seq("user_id"))
      .groupBy("user_id", "n", "med")
      .agg(expr("array_sort(collect_list(abs(vu - med)))").as("devs"))
      .select(col("user_id"), col("n"), col("med"),
        expr("element_at(devs, CAST(floor((size(devs) + 1) / 2) AS INT))").as("mad"))
      .join(
        events(s, d).filter(col("user_id") % 25 === 0)
          .select(col("user_id"),
            expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("vu")),
        Seq("user_id"))
      .groupBy("user_id", "n", "med", "mad")
      .agg(count(when(abs(col("vu") - col("med")) > col("mad") * 5, 1)).as("n_outliers"))
      .orderBy("user_id")

  val dqMadOutliersSql: String =
    """WITH vals AS (
      |  SELECT user_id, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vu
      |  FROM events WHERE user_id % 25 = 0),
      |meds AS (
      |  SELECT user_id, count(*) AS n,
      |         list_sort(list(vu))[CAST(floor((count(*) + 1) / 2) AS INT)] AS med
      |  FROM vals GROUP BY user_id),
      |mads AS (
      |  SELECT v.user_id, m.n, m.med,
      |         list_sort(list(abs(v.vu - m.med)))[CAST(floor((count(*) + 1) / 2) AS INT)] AS mad
      |  FROM vals v JOIN meds m ON m.user_id = v.user_id
      |  GROUP BY v.user_id, m.n, m.med)
      |SELECT v.user_id, m.n, m.med, m.mad,
      |       count(CASE WHEN abs(v.vu - m.med) > m.mad * 5 THEN 1 END) AS n_outliers
      |FROM vals v JOIN mads m ON m.user_id = v.user_id
      |GROUP BY v.user_id, m.n, m.med, m.mad
      |ORDER BY v.user_id""".stripMargin

  /** agg-abtest-gate — two-proportion A/B significance, exact: variant
    * by user parity, conversion = any purchase event; the z² ≥ 4
    * (~95%) decision evaluated as one INTEGER inequality by clearing
    * every denominator of the pooled-variance z statistic —
    * (c1·n2 − c2·n1)²·(n1+n2) vs 4·n1·n2·(c1+c2)·(n1+n2−c1−c2).
    * Experimentation platforms recompute this nightly over millions of
    * users; a float boundary would flip ship/no-ship decisions between
    * engines. */
  val aggAbtestGate: Q = (s, d) => {
    val perUser = events(s, d)
      .groupBy((col("user_id") % 2).as("variant"), col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("converted"))
    perUser.groupBy()
      .agg(
        count(when(col("variant") === 0, 1)).as("n1"),
        sum(when(col("variant") === 0, col("converted")).otherwise(0L)).as("c1"),
        count(when(col("variant") === 1, 1)).as("n2"),
        sum(when(col("variant") === 1, col("converted")).otherwise(0L)).as("c2"))
      .select(col("n1"), col("c1"), col("n2"), col("c2"),
        floor(col("c1") * lit(1000000L) / col("n1")).cast(LongType).as("p1_ppm"),
        floor(col("c2") * lit(1000000L) / col("n2")).cast(LongType).as("p2_ppm"),
        ((col("c1") * col("n2") - col("c2") * col("n1")) *
          (col("c1") * col("n2") - col("c2") * col("n1")) * (col("n1") + col("n2")) >
          lit(4L) * col("n1") * col("n2") * (col("c1") + col("c2")) *
            (col("n1") + col("n2") - col("c1") - col("c2"))).as("significant"))
  }

  val aggAbtestGateSql: String =
    """WITH per_user AS (
      |  SELECT user_id % 2 AS variant, user_id,
      |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      |  FROM events GROUP BY user_id % 2, user_id),
      |agg AS (
      |  SELECT count(CASE WHEN variant = 0 THEN 1 END) AS n1,
      |         CAST(sum(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS BIGINT) AS c1,
      |         count(CASE WHEN variant = 1 THEN 1 END) AS n2,
      |         CAST(sum(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS BIGINT) AS c2
      |  FROM per_user)
      |SELECT n1, c1, n2, c2,
      |       CAST(floor(c1 * 1000000 / n1) AS BIGINT) AS p1_ppm,
      |       CAST(floor(c2 * 1000000 / n2) AS BIGINT) AS p2_ppm,
      |       (c1 * n2 - c2 * n1) * (c1 * n2 - c2 * n1) * (n1 + n2) >
      |         4 * n1 * n2 * (c1 + c2) * (n1 + n2 - c1 - c2) AS significant
      |FROM agg""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-fifo-match", aggFifoMatch, aggFifoMatchSql),
    Key("dq-reconcile-checksum", dqReconcileChecksum, dqReconcileChecksumSql),
    Key("win-range-interval", winRangeInterval, winRangeIntervalSql),
    Key("dq-mad-outliers", dqMadOutliers, dqMadOutliersSql),
    Key("agg-abtest-gate", aggAbtestGate, aggAbtestGateSql))
}
