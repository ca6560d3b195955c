package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-10 batch P: 4-4-5 fiscal calendar, bitemporal as-of join,
  * two-way fixed-effects slope, duplicate-charge detection. */
object RelMore98 extends KeyModule {

  /** Shared CASE ladder mapping a 0-based week-of-fiscal-year to its
    * 4-4-5 period (quarters of 4+4+5 weeks; periods 1..12). One text,
    * both engines. */
  private val PeriodCase: String = {
    val cuts = Seq(4, 8, 13, 17, 21, 26, 30, 34, 39, 43, 47, 52)
    cuts.zipWithIndex.map { case (c, i) => s"WHEN wk < $c THEN ${i + 1}" }
      .mkString("CASE ", " ", " ELSE 12 END")
  }

  /** gen-fiscal-445 — the 4-4-5 retail fiscal calendar: weeks count
    * from the fiscal epoch (1992-01-01), years are 52 weeks, and each
    * quarter splits 4+4+5 — so every period has the same weekday mix
    * and period-over-period comparisons aren't polluted by "this
    * March had five Sundays". Mapping is pure integer day arithmetic
    * (the [[PeriodCase]] ladder is shared text); the graded report is
    * the per-(fiscal year, period) revenue with the same-period-
    * last-year join and YoY ratio — the comparable-sales table every
    * retailer publishes. Simplified: no 53rd-week leap rule
    * (documented; the real rule adds a week every 5-6 years). */
  val genFiscal445: Q = (s, d) => {
    val base = orders(s, d).select(
      floor(col("o_totalprice") * 100).cast(LongType).as("cents"),
      datediff(to_date(col("o_orderdate")), to_date(lit("1992-01-01"))).as("doff"))
      .filter(col("doff") >= 0)
      .withColumn("fweek", expr("doff div 7"))
      .withColumn("fyear", (lit(1992) + expr("fweek div 52")).cast(IntegerType))
      .withColumn("wk", pmod(col("fweek"), lit(52)))
      .withColumn("fperiod", expr(PeriodCase))
    val cur = base.groupBy("fyear", "fperiod")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("cents").cast(DecimalType(38, 0))).cast(LongType).as("cents"))
      .sharedCache()
    val prev = cur.select((col("fyear") + 1).as("fyear"), col("fperiod"),
      col("cents").as("ly_cents"))
    cur.join(prev, Seq("fyear", "fperiod"), "left_outer")
      .select(col("fyear"), col("fperiod"), col("n_orders"),
        (col("cents").cast(DoubleType) / 100).as("revenue"),
        (col("ly_cents").cast(DoubleType) / 100).as("ly_revenue"),
        when(col("ly_cents").isNotNull,
          ratioFloor(col("cents"), col("ly_cents"), 4)).as("yoy_ratio"))
      .orderBy("fyear", "fperiod")
  }

  val genFiscal445Sql: String =
    s"""WITH base AS (
       |  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
       |         datediff('day', DATE '1992-01-01', CAST(date_trunc('day', o_orderdate) AS DATE)) AS doff
       |  FROM orders),
       |mapped AS (
       |  SELECT cents, doff // 7 AS fweek,
       |         CAST(1992 + (doff // 7) // 52 AS INT) AS fyear,
       |         (doff // 7) % 52 AS wk
       |  FROM base WHERE doff >= 0),
       |withp AS (SELECT cents, fyear, $PeriodCase AS fperiod FROM mapped),
       |cur AS (
       |  SELECT fyear, fperiod, count(*) AS n_orders,
       |         CAST(sum(CAST(cents AS HUGEINT)) AS BIGINT) AS cents
       |  FROM withp GROUP BY 1, 2),
       |prev AS (SELECT fyear + 1 AS fyear, fperiod, cents AS ly_cents FROM cur)
       |SELECT fyear, fperiod, n_orders,
       |       CAST(cur.cents AS DOUBLE) / 100 AS revenue,
       |       CAST(ly_cents AS DOUBLE) / 100 AS ly_revenue,
       |       CASE WHEN ly_cents IS NOT NULL
       |            THEN ${ratioFloorSql("cur.cents", "ly_cents", 4)} END AS yoy_ratio
       |FROM cur LEFT JOIN prev USING (fyear, fperiod)
       |ORDER BY fyear, fperiod""".stripMargin

  /** join-bitemporal-asof — BOTH time axes at once: a price dimension
    * versioned by VALID year (annual list prices, derived
    * deterministically from retailprice) receives late CORRECTIONS on
    * the TRANSACTION axis (parts ≡ 0 mod 13 get +5.00 recorded one
    * txn batch later). Pricing 1996 shipments "as the system knew it
    * at txn batch 0" vs "after corrections" requires picking max
    * txn_seq ≤ T per (part, valid year) — the bitemporal as-of that
    * plain SCD2 (join-scd2-asof, valid time only) cannot answer:
    * WHAT did we believe, and WHEN did we believe it. The graded row
    * compares both worldviews exactly (integer cents) and counts
    * restated lines — an audit-grade restatement report. */
  val joinBitemporalAsof: Q = (s, d) => {
    val versions = part(s, d).select(col("p_partkey"),
      floor(col("p_retailprice") * 100).cast(LongType).as("base_cents"))
      .crossJoin(s.range(1995, 1998).select(col("id").cast(IntegerType).as("valid_year")))
      .withColumn("price0", col("base_cents") + (col("valid_year") - 1995) * 100)
      .select(col("p_partkey"), col("valid_year"),
        explode(when(col("p_partkey") % 13 === 0,
          array(struct(lit(0).as("txn_seq"), col("price0").as("price")),
            struct(lit(1).as("txn_seq"), (col("price0") + 500).as("price"))))
          .otherwise(array(struct(lit(0).as("txn_seq"), col("price0").as("price")))))
          .as("v"))
      .select(col("p_partkey"), col("valid_year"), col("v.txn_seq"), col("v.price"))
      .sharedCache()
    def asOf(txn: Int): DataFrame = {
      val w = Window.partitionBy("p_partkey", "valid_year")
        .orderBy(col("txn_seq").desc)
      versions.filter(col("txn_seq") <= txn)
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("p_partkey"), col("valid_year"), col("price"))
    }
    val li = lineitem(s, d).filter(year(col("l_shipdate")) === 1996)
      .select(col("l_partkey").as("p_partkey"), lit(1996).as("valid_year"),
        col("l_quantity").cast(LongType).as("q"))
    val a = li.join(asOf(0), Seq("p_partkey", "valid_year"))
      .agg(count(lit(1)).as("n_lines"),
        sum((col("q") * col("price")).cast(DecimalType(38, 0)))
          .cast(LongType).as("cents_t0"))
    val b = li.join(asOf(1), Seq("p_partkey", "valid_year"))
      .agg(sum((col("q") * col("price")).cast(DecimalType(38, 0)))
        .cast(LongType).as("cents_t1"),
        sum(when(col("p_partkey") % 13 === 0, 1L).otherwise(0L)).as("n_restated"))
    a.crossJoin(broadcast(b))
      .select(col("n_lines"), col("n_restated"),
        (col("cents_t0").cast(DoubleType) / 100).as("total_asof_t0"),
        (col("cents_t1").cast(DoubleType) / 100).as("total_asof_t1"),
        ((col("cents_t1") - col("cents_t0")).cast(DoubleType) / 100)
          .as("restatement"))
  }

  val joinBitemporalAsofSql: String =
    """WITH versions AS (
      |  SELECT p_partkey, valid_year, txn_seq,
      |         CAST(floor(p_retailprice * 100) AS BIGINT) + (valid_year - 1995) * 100 +
      |           CASE WHEN txn_seq = 1 THEN 500 ELSE 0 END AS price
      |  FROM part
      |  CROSS JOIN (SELECT unnest(range(1995, 1998)) AS valid_year) y
      |  CROSS JOIN (SELECT unnest(range(0, 2)) AS txn_seq) t
      |  WHERE txn_seq = 0 OR p_partkey % 13 = 0),
      |li AS (
      |  SELECT l_partkey AS p_partkey, 1996 AS valid_year,
      |         CAST(l_quantity AS BIGINT) AS q
      |  FROM lineitem WHERE year(l_shipdate) = 1996),
      |v0 AS (
      |  SELECT p_partkey, valid_year, price FROM versions WHERE txn_seq = 0),
      |v1 AS (
      |  SELECT p_partkey, valid_year, price FROM (
      |    SELECT *, row_number() OVER (PARTITION BY p_partkey, valid_year ORDER BY txn_seq DESC) AS rk
      |    FROM versions) t WHERE rk = 1),
      |a AS (
      |  SELECT count(*) AS n_lines,
      |         CAST(sum(CAST(q AS HUGEINT) * price) AS BIGINT) AS cents_t0
      |  FROM li JOIN v0 USING (p_partkey, valid_year)),
      |b AS (
      |  SELECT CAST(sum(CAST(q AS HUGEINT) * price) AS BIGINT) AS cents_t1,
      |         CAST(sum(CASE WHEN p_partkey % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_restated
      |  FROM li JOIN v1 USING (p_partkey, valid_year))
      |SELECT n_lines, n_restated,
      |       CAST(cents_t0 AS DOUBLE) / 100 AS total_asof_t0,
      |       CAST(cents_t1 AS DOUBLE) / 100 AS total_asof_t1,
      |       CAST(cents_t1 - cents_t0 AS DOUBLE) / 100 AS restatement
      |FROM a CROSS JOIN b""".stripMargin

  /** agg-panel-fe-slope — two-way fixed-effects regression on the
    * brand × month revenue panel: the quantity→revenue slope after
    * demeaning out brand AND month effects (ỹ = y − ȳ_brand − ȳ_month
    * + ȳ), vs the pooled slope that confounds both. The workhorse of
    * causal panel analysis (diff-in-diff's big sibling). Cell means
    * are exact-integer ratios evaluated identically; demeaned values
    * floor-quantize to 1e-3 before the moment sums (Decimal products
    * — ỹ·x̃ can pass 2^53), and each slope is one terminal division.
    * The panel is brands × months — thousands of CELLS from billions
    * of rows, aggregated once. */
  val aggPanelFeSlope: Q = (s, d) => {
    val cells = lineitem(s, d)
      .join(part(s, d).select(col("p_partkey").as("l_partkey"), col("p_brand")),
        "l_partkey")
      .groupBy(col("p_brand"),
        (year(col("l_shipdate")) * 12 + month(col("l_shipdate"))).as("mi"))
      .agg(sum(col("l_quantity").cast(LongType)).as("x"),
        sum(floor(col("l_extendedprice")).cast(DecimalType(38, 0)))
          .cast(LongType).as("y"))
      .sharedCache()
    val bMean = cells.groupBy("p_brand")
      .agg((sum("x").cast(DoubleType) / count(lit(1))).as("xb"),
        (sum("y").cast(DoubleType) / count(lit(1))).as("yb"))
    val mMean = cells.groupBy("mi")
      .agg((sum("x").cast(DoubleType) / count(lit(1))).as("xm"),
        (sum("y").cast(DoubleType) / count(lit(1))).as("ym"))
    val gMean = cells.agg((sum("x").cast(DoubleType) / count(lit(1))).as("xg"),
      (sum("y").cast(DoubleType) / count(lit(1))).as("yg"),
      count(lit(1)).as("n_cells"))
    val dm = cells.join(broadcast(bMean), "p_brand").join(broadcast(mMean), "mi")
      .crossJoin(broadcast(gMean))
      .select(
        floor((col("x") - col("xb") - col("xm") + col("xg")) * 1e3)
          .cast(DecimalType(38, 0)).as("xt"),
        floor((col("y") - col("yb") - col("ym") + col("yg")) * 1e3)
          .cast(DecimalType(38, 0)).as("yt"),
        col("x").cast(DecimalType(38, 0)).as("xr"),
        col("y").cast(DecimalType(38, 0)).as("yr"),
        col("n_cells"))
    dm.agg(max("n_cells").as("n_cells"),
      sum(col("xt") * col("yt")).as("sxy"), sum(col("xt") * col("xt")).as("sxx"),
      count(lit(1)).as("n"), sum("xr").as("sx"), sum("yr").as("sy"),
      sum(col("xr") * col("yr")).as("sxyr"), sum(col("xr") * col("xr")).as("sxxr"))
      .select(col("n_cells"),
        round(col("sxy").cast(DoubleType) / col("sxx").cast(DoubleType), 6)
          .as("fe_slope"),
        round((col("n") * col("sxyr") - col("sx") * col("sy")).cast(DoubleType) /
          (col("n") * col("sxxr") - col("sx") * col("sx")).cast(DoubleType), 6)
          .as("pooled_slope"))
  }

  val aggPanelFeSlopeSql: String =
    """WITH cells AS (
      |  SELECT p_brand, year(l_shipdate) * 12 + month(l_shipdate) AS mi,
      |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x,
      |         CAST(sum(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS HUGEINT)) AS BIGINT) AS y
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  GROUP BY 1, 2),
      |bm AS (SELECT p_brand, CAST(sum(x) AS DOUBLE) / count(*) AS xb,
      |              CAST(sum(y) AS DOUBLE) / count(*) AS yb FROM cells GROUP BY 1),
      |mm AS (SELECT mi, CAST(sum(x) AS DOUBLE) / count(*) AS xm,
      |              CAST(sum(y) AS DOUBLE) / count(*) AS ym FROM cells GROUP BY 1),
      |gm AS (SELECT CAST(sum(x) AS DOUBLE) / count(*) AS xg,
      |              CAST(sum(y) AS DOUBLE) / count(*) AS yg,
      |              count(*) AS n_cells FROM cells),
      |dm AS (
      |  SELECT CAST(floor((x - xb - xm + xg) * 1e3) AS HUGEINT) AS xt,
      |         CAST(floor((y - yb - ym + yg) * 1e3) AS HUGEINT) AS yt,
      |         CAST(x AS HUGEINT) AS xr, CAST(y AS HUGEINT) AS yr, n_cells
      |  FROM cells JOIN bm USING (p_brand) JOIN mm USING (mi) CROSS JOIN gm)
      |SELECT max(n_cells) AS n_cells,
      |       round(CAST(sum(xt * yt) AS DOUBLE) / CAST(sum(xt * xt) AS DOUBLE), 6) AS fe_slope,
      |       round(CAST(count(*) * sum(xr * yr) - sum(xr) * sum(yr) AS DOUBLE) /
      |             CAST(count(*) * sum(xr * xr) - sum(xr) * sum(xr) AS DOUBLE), 6) AS pooled_slope
      |FROM dm""".stripMargin

  /** dq-double-charge — duplicate-payment detection: the same USER,
    * the same amount (exact cents), within 30 days — the classic
    * double-submission signature that exact-dup checks
    * (dq-duplicate-rate) miss because the rows differ in id and
    * timestamp. One lag window per (user, cents) partition — the
    * partition key IS the collision candidate, so the shuffle carries
    * only genuine repeat-amount groups, and the window frame is a
    * single lag. Monthly counts plus the tightest repeat (0-day gap =
    * same-day double submission). */
  val dqDoubleCharge: Q = (s, d) => {
    val w = Window.partitionBy("user_id", "cents").orderBy("dt", "event_id")
    val flagged = events(s, d)
      .select(col("user_id"), col("event_id"),
        floor(col("value") * 100).cast(LongType).as("cents"),
        to_date(col("ts")).as("dt"))
      .withColumn("prev_date", lag("dt", 1).over(w))
      .filter(col("prev_date").isNotNull &&
        datediff(col("dt"), col("prev_date")) <= 30)
    flagged.groupBy(year(col("dt")).as("yr"), month(col("dt")).as("mo"))
      .agg(count(lit(1)).as("n_suspect_pairs"),
        countDistinct("user_id").as("n_users"),
        min(datediff(col("dt"), col("prev_date"))).as("min_gap_days"),
        (max("cents").cast(DoubleType) / 100).as("max_amount"))
      .orderBy("yr", "mo")
  }

  val dqDoubleChargeSql: String =
    """WITH base AS (
      |  SELECT user_id, event_id,
      |         CAST(floor(value * 100) AS BIGINT) AS cents,
      |         CAST(date_trunc('day', ts) AS DATE) AS dt
      |  FROM events),
      |lagged AS (
      |  SELECT *, lag(dt) OVER (PARTITION BY user_id, cents ORDER BY dt, event_id) AS prev_date
      |  FROM base),
      |flagged AS (
      |  SELECT * FROM lagged
      |  WHERE prev_date IS NOT NULL AND datediff('day', prev_date, dt) <= 30)
      |SELECT year(dt) AS yr, month(dt) AS mo, count(*) AS n_suspect_pairs,
      |       count(DISTINCT user_id) AS n_users,
      |       min(datediff('day', prev_date, dt)) AS min_gap_days,
      |       CAST(max(cents) AS DOUBLE) / 100 AS max_amount
      |FROM flagged
      |GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("gen-fiscal-445", genFiscal445, genFiscal445Sql),
    Key("join-bitemporal-asof", joinBitemporalAsof, joinBitemporalAsofSql),
    Key("agg-panel-fe-slope", aggPanelFeSlope, aggPanelFeSlopeSql),
    Key("dq-double-charge", dqDoubleCharge, dqDoubleChargeSql))
}
