package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Join operators (SURVEY.md §2.3). Every reference join is an equi-join;
  * physical strategy at scale: broadcast-hash when one side is a dim
  * (region/nation/supplier/part — explicitly hinted with broadcast() so
  * the plan survives even if stats are missing at 100 TB), shuffled
  * sort-merge/hash for fact-to-fact on the join key.
  */
object RelJoins extends KeyModule {

  /** Deterministic surrogate-key dimension: reference IDENTITY(1,1)
    * (`06_create_gold_tables.sql:55` etc.) re-expressed as dense keys in
    * natural-key order (SURVEY §7 hard part 1 — never
    * monotonically_increasing_id, which is partition-dependent). The
    * customer dim grows with the fact data, so assignment is the
    * partition-offset pattern (SurrogateKeys.withSk: a rank scan of
    * PrefixScan's ordered scan), not a single-partition global window. */
  private def dimCustomer(s: SparkSession, d: String): DataFrame =
    graft.functions.SurrogateKeys.withSk(
      customer(s, d).select(
        col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_mktsegment")),
      "customer_sk", Seq("c_custkey"))
      .select(col("customer_sk"),
        col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_mktsegment"))

  /** join-left-translate — reference `sp_load_silver_products.sql:48-50`
    * (products ⟕ category_translation on a *trimmed expression* key).
    * nation ⟕ region with an expression join key; region broadcast. */
  val joinLeftTranslate: Q = (s, d) => {
    val n = nation(s, d)
    val r = region(s, d).select(
      col("r_regionkey").as("rk"), col("r_name").as("region_name"))
    n.join(broadcast(r), trim(col("n_regionkey").cast(StringType)).cast(IntegerType) === col("rk"), "left")
      .select(col("n_nationkey"), col("n_name"), col("region_name"))
      .orderBy("n_nationkey")
  }

  val joinLeftTranslateSql: String =
    """SELECT n_nationkey, n_name, r_name AS region_name
      |FROM nation LEFT JOIN region
      |  ON CAST(trim(CAST(n_regionkey AS VARCHAR)) AS INT) = r_regionkey
      |ORDER BY n_nationkey""".stripMargin

  /** join-left-geo — reference `07_etl_silver_to_gold.sql:107-116`
    * (customers ⟕ geolocation whose columns are never selected, plus
    * DISTINCT — the join is dead code on output; semantics preserved:
    * distinct attribute rows after a left join that can only fan out). */
  val joinLeftGeo: Q = (s, d) => {
    val c = customer(s, d)
    val n = nation(s, d)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
      .select(col("c_mktsegment"), col("c_nationkey"))
      .distinct()
      .orderBy("c_mktsegment", "c_nationkey")
  }

  val joinLeftGeoSql: String =
    """SELECT DISTINCT c_mktsegment, c_nationkey
      |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
      |ORDER BY c_mktsegment, c_nationkey""".stripMargin

  /** join-sk-customer — reference `07_etl_silver_to_gold.sql:234-235`
    * (fact_orders resolves customer_sk from the natural key; INNER join
    * drops orphans by construction = FK enforcement). The customer dim is
    * order-cardinality — it is NOT broadcast (a broadcast that works at
    * sf0.1 OOMs the driver at 100×); both sides shuffle on the key. */
  val joinSkCustomer: Q = (s, d) => {
    val o = orders(s, d)
    o.join(dimCustomer(s, d), o("o_custkey") === col("c_custkey"), "inner")
      .select(
        col("o_orderkey"), col("customer_sk"),
        col("o_orderdate").cast(DateType).as("order_date"),
        col("o_totalprice").as("total_price"))
      .orderBy("o_orderkey")
  }

  val joinSkCustomerSql: String =
    """WITH dim_customer AS (
      |  SELECT row_number() OVER (ORDER BY c_custkey) AS customer_sk, c_custkey
      |  FROM customer)
      |SELECT o_orderkey, customer_sk, CAST(o_orderdate AS DATE) AS order_date,
      |       o_totalprice AS total_price
      |FROM orders JOIN dim_customer ON o_custkey = c_custkey
      |ORDER BY o_orderkey""".stripMargin

  /** join-3way-items — reference `07_etl_silver_to_gold.sql:270-273`
    * (fact_order_items: 3 chained inner equi-joins for SK resolution).
    * lineitem ⨝ orders (fact-to-fact, shuffle on orderkey) ⨝ part ⨝
    * supplier (dims, broadcast). The large join keys stay co-partitioned:
    * Catalyst reuses the orderkey exchange across the chain. */
  val join3wayItems: Q = (s, d) => {
    val l = lineitem(s, d)
    val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"))
    val p = part(s, d).select(col("p_partkey"), col("p_brand"))
    val su = supplier(s, d).select(col("s_suppkey"), col("s_name").as("supplier_name"))
    l.join(o, l("l_orderkey") === o("o_orderkey"), "inner")
      .join(broadcast(p), l("l_partkey") === p("p_partkey"), "inner")
      .join(broadcast(su), l("l_suppkey") === su("s_suppkey"), "inner")
      .select(
        col("l_orderkey"), col("l_linenumber"), col("o_orderstatus"),
        col("p_brand"), col("supplier_name"),
        outNum(dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 4)) - dec4(col("l_discount")))).as("net_price"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  val join3wayItemsSql: String =
    """SELECT l_orderkey, l_linenumber, o_orderstatus, p_brand, s_name AS supplier_name,
      |       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS net_price
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN part     ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** join-sk-reviews — reference `07_etl_silver_to_gold.sql:316-317`
    * (fact_reviews ⨝ fact_orders on the natural key to inherit the SK).
    * events ⨝ a user dim built from events itself. The user dim scales
    * with the event stream, so SKs come from the partition-offset
    * assigner and the join shuffles on the key (no broadcast). */
  val joinSkReviews: Q = (s, d) => {
    val ev = events(s, d)
    val dimUser = graft.functions.SurrogateKeys.withSk(
      ev.select(col("user_id")).distinct(), "user_sk", Seq("user_id"))
      .select(col("user_sk"), col("user_id"))
    ev.join(dimUser, Seq("user_id"), "inner")
      .groupBy(col("user_sk"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        outNum(sum(dec2(col("value")))).as("total_value"))
      .orderBy("user_sk", "event_type")
  }

  val joinSkReviewsSql: String =
    """WITH dim_user AS (
      |  SELECT row_number() OVER (ORDER BY user_id) AS user_sk, user_id
      |  FROM (SELECT DISTINCT user_id FROM events))
      |SELECT user_sk, event_type, count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events JOIN dim_user USING (user_id)
      |GROUP BY user_sk, event_type
      |ORDER BY user_sk, event_type""".stripMargin

  /** join-anti-orphan — reference `08_validacionsql.sql:32-35` (orphan FK
    * check via LEFT-JOIN-WHERE-NULL). Spark's first-class left_anti join:
    * customers that never ordered. */
  val joinAntiOrphan: Q = (s, d) => {
    val c = customer(s, d)
    val o = orders(s, d).select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")
  }

  val joinAntiOrphanSql: String =
    """SELECT c_custkey, c_name
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** join-daterange — reference `08_validacionsql.sql:48-52` (fact ⨝
    * dim_date then MIN/MAX). dim_date is generated (§2.7) then joined on
    * the int date key; generated dim broadcast. */
  val joinDaterange: Q = (s, d) => {
    val dimDate = s.range(1).select(
      explode(expr("sequence(to_date('1992-01-01'), to_date('1998-12-31'), interval 1 day)")).as("date_value"))
      .select(
        (year(col("date_value")) * 10000 + month(col("date_value")) * 100 + dayofmonth(col("date_value")))
          .cast(IntegerType).as("date_key"),
        col("date_value"))
    val o = orders(s, d).select(
      date_format(col("o_orderdate"), "yyyyMMdd").cast(IntegerType).as("purchase_date_key"))
    o.join(broadcast(dimDate), col("purchase_date_key") === col("date_key"), "inner")
      .agg(min(col("date_value")).as("first_purchase"),
        max(col("date_value")).as("last_purchase"),
        count(lit(1)).as("n_matched"))
  }

  val joinDaterangeSql: String =
    """WITH dim_date AS (
      |  SELECT CAST(strftime(gs, '%Y%m%d') AS INT) AS date_key, CAST(gs AS DATE) AS date_value
      |  FROM generate_series(DATE '1992-01-01', DATE '1998-12-31', INTERVAL 1 DAY) t(gs))
      |SELECT min(date_value) AS first_purchase, max(date_value) AS last_purchase,
      |       count(*) AS n_matched
      |FROM (SELECT CAST(strftime(o_orderdate, '%Y%m%d') AS INT) AS purchase_date_key FROM orders) o
      |JOIN dim_date ON purchase_date_key = date_key""".stripMargin

  /** join-topcat — reference `08_validacionsql.sql:55-62` (revenue by
    * category through the product dim). lineitem ⨝ part, group by brand. */
  val joinTopcat: Q = (s, d) => {
    val l = lineitem(s, d)
    val p = part(s, d).select(col("p_partkey"), col("p_brand"))
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"), "inner")
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"),
        outNum(sum(dec2(col("l_extendedprice")))).as("revenue"))
      .orderBy(desc("revenue"), col("p_brand"))
      .limit(3)
  }

  val joinTopcatSql: String =
    """SELECT p_brand, count(*) AS n_items,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand
      |ORDER BY revenue DESC, p_brand
      |LIMIT 3""".stripMargin

  /** join-star-dims — the full star-schema traversal: fact orders →
    * customer (fact-sized dim, shuffle hash/sort-merge on custkey) →
    * nation → region (true dims, explicit broadcast so the plan holds
    * even without stats). At 100 TB this is THE canonical query shape:
    * one shuffle for the fact-to-big-dim hop, zero additional shuffles
    * for the snowflaked small dims — revenue rolls up by region and
    * order year with map-side combine before the final |groups| -row
    * exchange. */
  val joinStarDims: Q = (s, d) =>
    orders(s, d)
      .join(customer(s, d).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d).select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d).select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), year(col("o_orderdate")).cast(IntegerType).as("oyear"))
      .agg(count(lit(1)).as("n_orders"),
        outNum(sum(dec2(col("o_totalprice")))).as("revenue"))
      .orderBy("r_name", "oyear")

  val joinStarDimsSql: String =
    """SELECT r_name, CAST(year(o_orderdate) AS INT) AS oyear,
      |       count(*) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, CAST(year(o_orderdate) AS INT)
      |ORDER BY r_name, oyear""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("join-star-dims", joinStarDims, joinStarDimsSql),
    Key("join-left-translate", joinLeftTranslate, joinLeftTranslateSql),
    Key("join-left-geo", joinLeftGeo, joinLeftGeoSql),
    Key("join-sk-customer", joinSkCustomer, joinSkCustomerSql),
    Key("join-3way-items", join3wayItems, join3wayItemsSql),
    Key("join-sk-reviews", joinSkReviews, joinSkReviewsSql),
    Key("join-anti-orphan", joinAntiOrphan, joinAntiOrphanSql),
    Key("join-daterange", joinDaterange, joinDaterangeSql),
    Key("join-topcat", joinTopcat, joinTopcatSql))
}
