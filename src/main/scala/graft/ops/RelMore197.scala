package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-8 batch AF: the empirical-law suite — Lotka productivity,
  * Bradford scattering zones, Gibrat growth independence, Engel
  * budget-share curve. */
object RelMore197 extends KeyModule {

  private val centsExpr =
    "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"

  /** agg-lotka-law — Lotka's inverse-power law of productivity: the
    * number of customers with n orders falls like n^(−α), α ≈ 2 in
    * the classic bibliometric form. Fit by log-log OLS on the
    * frequency-of-frequencies histogram (a bounded count-domain
    * frame), weighting each point equally — the standard Lotka
    * protocol. One customer-grain count, one histogram, one closed
    * form; quantized logs keep the bounded sums exact. */
  val aggLotkaLaw: Q = (s, d) => {
    val fof = orders(s, d).groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("k"))
      .groupBy("k").agg(count(lit(1)).as("f"))
    val pts = fof.select(
      floor(log(col("k").cast(DoubleType)) * 1e9).cast(LongType).as("x"),
      floor(log(col("f").cast(DoubleType)) * 1e9).cast(LongType).as("y"))
    val m = pts.agg(count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
      sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      .select(col("n").cast(DoubleType).as("n"),
        col("sx").cast(DoubleType).as("sx"), col("sy").cast(DoubleType).as("sy"),
        col("sxx").cast(DoubleType).as("sxx"),
        col("sxy").cast(DoubleType).as("sxy"),
        col("syy").cast(DoubleType).as("syy"))
    m.select(col("n").cast(LongType).as("n_histogram_points"),
      round(-(col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx")), 4).as("lotka_alpha"),
      round(((col("n") * col("sxy") - col("sx") * col("sy")) *
        (col("n") * col("sxy") - col("sx") * col("sy"))) /
        ((col("n") * col("sxx") - col("sx") * col("sx")) *
          (col("n") * col("syy") - col("sy") * col("sy"))), 4).as("r2"))
  }

  val aggLotkaLawSql: String =
    """WITH fof AS (
      |  SELECT k, CAST(count(*) AS BIGINT) AS f
      |  FROM (SELECT CAST(count(*) AS BIGINT) AS k FROM orders
      |        GROUP BY o_custkey) t
      |  GROUP BY 1),
      |pts AS (
      |  SELECT CAST(floor(ln(CAST(k AS DOUBLE)) * 1e9) AS BIGINT) AS x,
      |         CAST(floor(ln(CAST(f AS DOUBLE)) * 1e9) AS BIGINT) AS y
      |  FROM fof),
      |m AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n,
      |         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
      |         CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
      |         CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
      |         CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
      |  FROM pts)
      |SELECT CAST(n AS BIGINT) AS n_histogram_points,
      |       round(-(n * sxy - sx * sy) / (n * sxx - sx * sx), 4)
      |         AS lotka_alpha,
      |       round(((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
      |             ((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS r2
      |FROM m""".stripMargin

  /** agg-bradford-zones — Bradford's law of scattering: rank suppliers
    * by revenue, split the TOTAL revenue into three equal zones, and
    * count the suppliers each zone needs — the classic result is a
    * 1 : n : n² blow-up (a few core suppliers carry the first third;
    * the long tail carries the last). Zone boundaries come from the
    * cumulative share over the supplier dimension. Suppliers grow
    * with the corpus (∝ SF on TPC-H — ~10⁹ at the 100 TB bar), so the
    * prefix sum runs through [[graft.functions.PrefixScan]]: range
    * partition on (rev desc, sk), per-partition offsets, no
    * single-task window sort. The stats pass hands back Σrev, so the
    * scalar-total cross joins disappear too. `cum*3` stays in Long
    * (3·Σcents ≈ 7e18 < 2^63 at 100 TB; upgrade to DECIMAL if rows
    * ever exceed ~8e11). */
  val aggBradfordZones: Q = (s, d) => {
    val sup = lineitem(s, d).groupBy(col("l_suppkey").as("sk"))
      .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 " +
        "AS BIGINT)")).as("rev"))
    val sc = graft.functions.PrefixScan.withRankCumSum(sup,
      Seq(col("rev").desc, col("sk")), Some("rev"),
      rankName = "__rk", cumName = "cum")
    val zones = sc.df
      .withColumn("zone", when(col("cum") * 3 <= lit(sc.total), 1)
        .when(col("cum") * 3 <= lit(sc.total) * 2, 2).otherwise(3))
    zones.groupBy("zone").agg(count(lit(1)).as("n_suppliers"),
      sum("rev").as("zone_rev"))
      .select(col("zone").cast(IntegerType).as("zone"), col("n_suppliers"),
        round(col("zone_rev").cast(DoubleType) /
          lit(sc.total).cast(DoubleType), 4).as("revenue_share"))
      .orderBy("zone")
  }

  val aggBradfordZonesSql: String =
    """WITH sup AS (
      |  SELECT l_suppkey AS sk,
      |         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |              AS BIGINT)) AS BIGINT) AS rev
      |  FROM lineitem GROUP BY 1),
      |tot AS (SELECT CAST(sum(rev) AS BIGINT) AS tr FROM sup),
      |zones AS (
      |  SELECT rev,
      |         CASE WHEN cum * 3 <= tr THEN 1
      |              WHEN cum * 3 <= tr * 2 THEN 2 ELSE 3 END AS zone, tr
      |  FROM (
      |    SELECT rev, tr,
      |           sum(rev) OVER (ORDER BY rev DESC, sk
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |    FROM sup CROSS JOIN tot) t)
      |SELECT CAST(zone AS INTEGER) AS zone,
      |       CAST(count(*) AS BIGINT) AS n_suppliers,
      |       round(CAST(sum(rev) AS DOUBLE) / CAST(max(tr) AS DOUBLE), 4)
      |         AS revenue_share
      |FROM zones GROUP BY zone ORDER BY zone""".stripMargin

  /** agg-gibrat-law — is growth independent of size? Regress each
    * nation's log growth rate (1997/1996) on its log 1996 size:
    * Gibrat's law predicts slope ≈ 0 (proportional growth regardless
    * of size); a negative slope is mean reversion, positive is
    * rich-get-richer. Closed-form OLS on the bounded nation frame
    * with quantized logs, plus the verdict at the ±0.1 band. */
  val aggGibratLaw: Q = (s, d) => {
    val ny = orders(s, d)
      .filter(year(col("o_orderdate")).isin(1996, 1997))
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"), year(col("o_orderdate")).as("y"))
      .agg(expr(s"sum($centsExpr) DIV 100").as("v"))
    val pts = ny.groupBy("nk").agg(
      sum(when(col("y") === 1996, col("v"))).as("v0"),
      sum(when(col("y") === 1997, col("v"))).as("v1"))
      .filter(col("v0").isNotNull && col("v1").isNotNull)
      .select(
        floor(log(col("v0").cast(DoubleType)) * 1e9).cast(LongType).as("x"),
        floor(log(col("v1").cast(DoubleType) / col("v0").cast(DoubleType)) *
          1e9).cast(LongType).as("y"))
    val m = pts.agg(count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"))
      .select(col("n").cast(DoubleType).as("n"),
        col("sx").cast(DoubleType).as("sx"), col("sy").cast(DoubleType).as("sy"),
        col("sxx").cast(DoubleType).as("sxx"),
        col("sxy").cast(DoubleType).as("sxy"))
    m.select(col("n").cast(LongType).as("k_nations"),
      round((col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx")), 4)
        .as("growth_size_slope"),
      (abs((col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))) < 0.1)
        .as("gibrat_holds"))
  }

  val aggGibratLawSql: String =
    s"""WITH ny AS (
       |  SELECT c_nationkey AS nk, year(CAST(o_orderdate AS DATE)) AS y,
       |         CAST(sum($centsExpr) // 100 AS BIGINT) AS v
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  WHERE year(CAST(o_orderdate AS DATE)) IN (1996, 1997)
       |  GROUP BY 1, 2),
       |pts AS (
       |  SELECT CAST(floor(ln(CAST(v0 AS DOUBLE)) * 1e9) AS BIGINT) AS x,
       |         CAST(floor(ln(CAST(v1 AS DOUBLE) / CAST(v0 AS DOUBLE)) * 1e9)
       |              AS BIGINT) AS y
       |  FROM (
       |    SELECT nk,
       |           sum(CASE WHEN y = 1996 THEN v END) AS v0,
       |           sum(CASE WHEN y = 1997 THEN v END) AS v1
       |    FROM ny GROUP BY 1) t
       |  WHERE v0 IS NOT NULL AND v1 IS NOT NULL),
       |m AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n,
       |         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
       |         CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
       |         CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy
       |  FROM pts)
       |SELECT CAST(n AS BIGINT) AS k_nations,
       |       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4)
       |         AS growth_size_slope,
       |       abs((n * sxy - sx * sy) / (n * sxx - sx * sx)) < 0.1
       |         AS gibrat_holds
       |FROM m""".stripMargin

  /** agg-engel-curve — Engel's law on the order book: bucket customers
    * by total spend (fixed power-of-two dollar buckets — value-domain,
    * no rank), and track the budget SHARE of the low-priority order
    * class across buckets with the Working-Leser slope (share vs log
    * total): a negative slope marks the class as a necessity, a
    * positive one as a luxury. Exact bucket sums; the regression runs
    * on the bounded bucket frame. */
  val aggEngelCurve: Q = (s, d) => {
    val percust = orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(expr(s"sum($centsExpr)").as("tot"),
        sum(when(col("o_orderpriority").isin("4-NOT SPECIFIED", "5-LOW"),
          expr(centsExpr)).otherwise(0L)).as("lowp"))
      .withColumn("bucket",
        floor(log2(col("tot").cast(DoubleType))).cast(LongType))
    val buckets = percust.groupBy("bucket")
      .agg(count(lit(1)).as("n_cust"), sum("tot").as("st"),
        sum("lowp").as("sl"))
      .filter(col("n_cust") >= 5)
      .select(col("bucket"),
        col("n_cust"),
        (col("sl").cast(DoubleType) / col("st").cast(DoubleType)).as("share"),
        col("bucket").cast(DoubleType).as("x"))
    val m = buckets.agg(count(lit(1)).as("n"),
      sum("x").as("sx"), sum("share").as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("share")).as("sxy"))
    m.select(col("n").cast(LongType).as("n_buckets"),
      round((col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx")), 6)
        .as("working_leser_slope"),
      ((col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx")) < 0.0)
        .as("low_priority_is_necessity"))
  }

  val aggEngelCurveSql: String =
    s"""WITH percust AS (
       |  SELECT CAST(floor(log2(CAST(tot AS DOUBLE))) AS BIGINT) AS bucket,
       |         tot, lowp
       |  FROM (
       |    SELECT CAST(sum($centsExpr) AS BIGINT) AS tot,
       |           CAST(sum(CASE WHEN o_orderpriority IN
       |                ('4-NOT SPECIFIED', '5-LOW')
       |                THEN $centsExpr ELSE 0 END) AS BIGINT) AS lowp
       |    FROM orders GROUP BY o_custkey) t),
       |buckets AS (
       |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_cust,
       |         CAST(sum(lowp) AS DOUBLE) / CAST(sum(tot) AS DOUBLE) AS share,
       |         CAST(bucket AS DOUBLE) AS x
       |  FROM percust GROUP BY 1 HAVING count(*) >= 5),
       |m AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n,
       |         sum(x) AS sx, sum(share) AS sy,
       |         sum(x * x) AS sxx, sum(x * share) AS sxy
       |  FROM buckets)
       |SELECT CAST(n AS BIGINT) AS n_buckets,
       |       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
       |         AS working_leser_slope,
       |       (n * sxy - sx * sy) / (n * sxx - sx * sx) < 0.0
       |         AS low_priority_is_necessity
       |FROM m""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-lotka-law", aggLotkaLaw, aggLotkaLawSql),
    Key("agg-bradford-zones", aggBradfordZones, aggBradfordZonesSql),
    Key("agg-gibrat-law", aggGibratLaw, aggGibratLawSql),
    Key("agg-engel-curve", aggEngelCurve, aggEngelCurveSql))
}
