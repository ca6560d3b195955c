package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-9 batch M: Shapley attribution, Hampel despiking,
  * multi-table snapshot, golden-record survivorship. */
object RelMore75 extends KeyModule {

  /** agg-shapley-attribution — game-theoretic channel attribution:
    * with two touch channels (view, click), each user's coalition is
    * which channels touched them, the coalition VALUE is that group's
    * conversion rate, and the exact 2-player Shapley value splits the
    * lift: φ_view = ½[v({v})−v({})] + ½[v({v,c})−v({c})] — the
    * principled division agg-attribution's positional rules
    * approximate. Rates are floored to ppm FIRST and the Shapley
    * average is integer arithmetic on them (semantics pinned: Shapley
    * over ppm-floored rates), so the whole op is 4 coalition cells +
    * constant arithmetic — one pass at any scale. */
  val aggShapleyAttribution: Q = (s, d) => {
    val users = events(s, d).groupBy("user_id")
      .agg(max(when(col("event_type") === "view", 1L).otherwise(0L)).as("has_v"),
        max(when(col("event_type") === "click", 1L).otherwise(0L)).as("has_c"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
    val cells = users.groupBy("has_v", "has_c")
      .agg(count(lit(1)).as("n"), sum("conv").as("k"))
      .withColumn("rate_ppm", expr("k * 1000000 div n"))
    val wide = cells.agg(
      max(when(col("has_v") === 0 && col("has_c") === 0, col("rate_ppm"))).as("v0"),
      max(when(col("has_v") === 1 && col("has_c") === 0, col("rate_ppm"))).as("vv"),
      max(when(col("has_v") === 0 && col("has_c") === 1, col("rate_ppm"))).as("vc"),
      max(when(col("has_v") === 1 && col("has_c") === 1, col("rate_ppm"))).as("vvc"),
      sum("n").as("n_users"))
      .na.fill(0L, Seq("v0", "vv", "vc", "vvc"))
    // φ is reported DOUBLED (φ×2) so the halving never divides a
    // possibly-negative integer — Spark's `div` truncates toward zero
    // while DuckDB's `//` floors, and they disagree exactly on negative
    // odd numerators. φv×2 + φc×2 = 2(v({v,c}) − v(∅)) is the
    // efficiency identity, checkable by the reader.
    wide.select(col("n_users"), col("v0"), col("vv"), col("vc"), col("vvc"),
      (col("vv") - col("v0") + col("vvc") - col("vc")).as("phi_view_ppm_x2"),
      (col("vc") - col("v0") + col("vvc") - col("vv")).as("phi_click_ppm_x2"))
  }

  val aggShapleyAttributionSql: String =
    """WITH users AS (
      |  SELECT user_id,
      |         max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_v,
      |         max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS has_c,
      |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      |  FROM events GROUP BY user_id),
      |cells AS (
      |  SELECT has_v, has_c, count(*) AS n, CAST(sum(conv) AS BIGINT) AS k,
      |         CAST(sum(conv) AS BIGINT) * 1000000 // count(*) AS rate_ppm
      |  FROM users GROUP BY has_v, has_c),
      |wide AS (
      |  SELECT coalesce(max(CASE WHEN has_v = 0 AND has_c = 0 THEN rate_ppm END), 0) AS v0,
      |         coalesce(max(CASE WHEN has_v = 1 AND has_c = 0 THEN rate_ppm END), 0) AS vv,
      |         coalesce(max(CASE WHEN has_v = 0 AND has_c = 1 THEN rate_ppm END), 0) AS vc,
      |         coalesce(max(CASE WHEN has_v = 1 AND has_c = 1 THEN rate_ppm END), 0) AS vvc,
      |         CAST(sum(n) AS BIGINT) AS n_users
      |  FROM cells)
      |SELECT n_users, v0, vv, vc, vvc,
      |       vv - v0 + vvc - vc AS phi_view_ppm_x2,
      |       vc - v0 + vvc - vv AS phi_click_ppm_x2
      |FROM wide""".stripMargin

  private val HampelHalf = 3 // window = 2k+1 = 7
  private val HampelK = 3    // spike threshold: |x - med| > 3 * MAD

  /** win-hampel-filter — the Hampel despiking filter: a point is a
    * spike when it sits more than 3 MADs from its 7-point rolling
    * median, and is replaced BY that median — the robust alternative
    * to z-score despiking (win-rolling-zscore), immune to the spike
    * inflating its own threshold. Median and MAD are EXACT on the
    * integer daily series (array_sort over the bounded window frame;
    * the 3·MAD compare is an integer cross-multiplication — no
    * float anywhere). The daily series is date-domain-bounded, so the
    * single ordered window follows the PrefixScan discipline. Graded
    * as the despike census plus the largest correction. */
  val winHampelFilter: Q = (s, d) => {
    val daily = events(s, d)
      .groupBy(to_date(col("ts")).as("dt"))
      .agg(sum(floor(col("value")).cast(LongType)).as("x"))
    val w = Window.orderBy("dt").rowsBetween(-HampelHalf, HampelHalf)
    val framed = daily
      .withColumn("win", collect_list("x").over(w))
      .filter(size(col("win")) === 2 * HampelHalf + 1)
      .withColumn("med", expr(s"array_sort(win)[$HampelHalf]"))
      .withColumn("mad", expr(
        s"array_sort(transform(win, v -> abs(v - med)))[$HampelHalf]"))
      .withColumn("is_spike",
        abs(col("x") - col("med")) > lit(HampelK) * col("mad"))
    framed.agg(
      count(lit(1)).as("n_points"),
      sum(when(col("is_spike"), 1L).otherwise(0L)).as("n_despiked"),
      max(when(col("is_spike"), abs(col("x") - col("med")))).as("max_correction"),
      min("mad").as("min_mad"), max("mad").as("max_mad"))
      .na.fill(0L, Seq("max_correction"))
  }

  val winHampelFilterSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(date_trunc('day', ts) AS DATE) AS dt,
       |         CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS x
       |  FROM events GROUP BY 1),
       |framed AS (
       |  SELECT dt, x,
       |         list(x) OVER (ORDER BY dt ROWS BETWEEN $HampelHalf PRECEDING
       |                       AND $HampelHalf FOLLOWING) AS win
       |  FROM daily),
       |full_w AS (
       |  SELECT dt, x, win,
       |         list_sort(win)[${HampelHalf + 1}] AS med
       |  FROM framed WHERE len(win) = ${2 * HampelHalf + 1}),
       |scored AS (
       |  SELECT dt, x, med,
       |         list_sort(list_transform(win, v -> abs(v - med)))[${HampelHalf + 1}] AS mad
       |  FROM full_w)
       |SELECT count(*) AS n_points,
       |       CAST(sum(CASE WHEN abs(x - med) > $HampelK * mad THEN 1 ELSE 0 END) AS BIGINT) AS n_despiked,
       |       coalesce(max(CASE WHEN abs(x - med) > $HampelK * mad
       |                         THEN abs(x - med) END), 0) AS max_correction,
       |       min(mad) AS min_mad, max(mad) AS max_mad
       |FROM scored""".stripMargin

  /** sink-multi-table-snapshot — the MULTI-table consistent snapshot:
    * orders and lineitem are exported together under ONE manifest that
    * names both data locations plus row counts; readers resolve
    * through the manifest only, so they see both tables at the same
    * version or neither (the cross-table atomicity single-table commit
    * fences can't give). The graded join runs through the
    * manifest-resolved paths and must reproduce the direct join, and
    * the manifest's recorded counts must match what the reader finds —
    * torn-snapshot detection built into the output. */
  val sinkMultiTableSnapshot: Q = (s, d) => {
    import org.apache.commons.io.FileUtils
    val dir = tmp("sink-multi-table-snapshot", d)
    FileUtils.deleteQuietly(new java.io.File(dir))
    val o = orders(s, d).select("o_orderkey", "o_orderdate", "o_custkey")
    val l = lineitem(s, d).select(col("l_orderkey"),
      dec2(col("l_extendedprice")).as("price"))
    o.write.parquet(s"$dir/v1/orders")
    l.write.parquet(s"$dir/v1/lineitem")
    val oCnt = s.read.parquet(s"$dir/v1/orders").count()
    val lCnt = s.read.parquet(s"$dir/v1/lineitem").count()
    // ONE manifest row naming both tables = the atomic commit point
    import s.implicits._
    Seq((1L, s"$dir/v1/orders", oCnt, s"$dir/v1/lineitem", lCnt))
      .toDF("version", "orders_path", "orders_rows", "lineitem_path", "lineitem_rows")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/manifest")
    val m = s.read.parquet(s"$dir/manifest").head()
    val ro = s.read.parquet(m.getAs[String]("orders_path"))
    val rl = s.read.parquet(m.getAs[String]("lineitem_path"))
    val joined = ro.join(rl, col("o_orderkey") === col("l_orderkey"))
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(count(lit(1)).as("n_lines"), outNum(sum(col("price"))).as("revenue"))
    joined
      .withColumn("manifest_orders_rows", lit(m.getAs[Long]("orders_rows")))
      .withColumn("snapshot_consistent",
        lit(m.getAs[Long]("orders_rows") == ro.count() &&
          m.getAs[Long]("lineitem_rows") == rl.count()))
      .orderBy("yr")
  }

  val sinkMultiTableSnapshotSql: String =
    """SELECT year(o_orderdate) AS yr, count(*) AS n_lines,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |       (SELECT count(*) FROM orders) AS manifest_orders_rows,
      |       true AS snapshot_consistent
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY 1
      |ORDER BY yr""".stripMargin

  /** dq-golden-record — survivorship after entity matching (the MDM
    * step after join-fuzzy-block): each block of candidate-duplicate
    * supplier records collapses to ONE golden record by explicit
    * per-attribute rules — name: lexicographic min (stability), nation:
    * modal value with min tiebreak (consensus), balance: max (most
    * recent wins proxy). Rules are aggregates, so the golden table is
    * one groupBy at any scale; graded on the block census and the
    * golden attributes of the 10 largest blocks. */
  val dqGoldenRecord: Q = (s, d) => {
    val sup = supplier(s, d).select(
      expr("substring(s_name, 1, length(s_name) - 1)").as("blk"),
      col("s_name"), col("s_nationkey"), col("s_acctbal"))
    val nationMode = sup.groupBy("blk", "s_nationkey")
      .agg(count(lit(1)).as("c"))
    val wMode = Window.partitionBy("blk").orderBy(col("c").desc, col("s_nationkey").asc)
    val modal = nationMode.withColumn("rk", row_number().over(wMode))
      .filter(col("rk") === 1)
      .select(col("blk"), col("s_nationkey").as("golden_nation"))
    sup.groupBy("blk")
      .agg(count(lit(1)).as("n_members"),
        min("s_name").as("golden_name"),
        outNum(max(dec2(col("s_acctbal")))).as("golden_balance"))
      .join(modal, "blk")
      .select("blk", "n_members", "golden_name", "golden_nation", "golden_balance")
      .orderBy(col("n_members").desc, col("blk").asc)
      .limit(10)
  }

  val dqGoldenRecordSql: String =
    """WITH sup AS (
      |  SELECT substring(s_name, 1, length(s_name) - 1) AS blk,
      |         s_name, s_nationkey, s_acctbal
      |  FROM supplier),
      |modal AS (
      |  SELECT blk, s_nationkey AS golden_nation FROM (
      |    SELECT blk, s_nationkey, count(*) AS c,
      |           row_number() OVER (PARTITION BY blk ORDER BY count(*) DESC, s_nationkey) AS rk
      |    FROM sup GROUP BY blk, s_nationkey) t
      |  WHERE rk = 1),
      |g AS (
      |  SELECT blk, count(*) AS n_members, min(s_name) AS golden_name,
      |         CAST(max(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS golden_balance
      |  FROM sup GROUP BY blk)
      |SELECT g.blk, g.n_members, g.golden_name, modal.golden_nation, g.golden_balance
      |FROM g JOIN modal ON g.blk = modal.blk
      |ORDER BY g.n_members DESC, g.blk
      |LIMIT 10""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-shapley-attribution", aggShapleyAttribution, aggShapleyAttributionSql),
    Key("win-hampel-filter", winHampelFilter, winHampelFilterSql),
    Key("sink-multi-table-snapshot", sinkMultiTableSnapshot, sinkMultiTableSnapshotSql),
    Key("dq-golden-record", dqGoldenRecord, dqGoldenRecordSql))
}
