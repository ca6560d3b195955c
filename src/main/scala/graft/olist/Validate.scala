package graft.olist

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Post-load QA suite — the Spark re-expression of `08_validacionsql.sql`
  * plus the declarative constraints (PK uniqueness, FK orphans, NOT NULL)
  * that SQL Server enforced at insert time and parquet cannot
  * (`04`/`06` DDL; SURVEY §2.9, §5).
  */
object Validate {

  case class QaReport(
    ordersVolumetryDiff: Long,        // 08:16-19 — must be 0
    itemsVolumetryDiff: Long,         // 08:21-24 — must be 0
    orphanOrders: Long,               // 08:32-35 — must be 0
    totalRevenue: java.math.BigDecimal, // 08:44-45
    minPurchaseDate: java.sql.Date,   // 08:48-52
    maxPurchaseDate: java.sql.Date,
    topCategories: Seq[(String, Long, java.math.BigDecimal)], // 08:55-62
    undeliveredOrders: Long,          // 08:70-72
    impossibleDeliveries: Long,       // 08:75-77 — must be 0
    pkViolations: Map[String, Long])  // DDL PKs → uniqueness checks

  def run(spark: SparkSession, warehouse: String): QaReport = {
    def silver(n: String) = Silver.table(spark, warehouse, n)
    def gold(n: String) = Gold.table(spark, warehouse, n)

    // one scan per fact for its scalar checks: row count (volumetry),
    // undelivered and impossible deliveries; row count and revenue
    val orders = gold("fact_orders").agg(
      count(lit(1)),
      count(when(col("delivered_date_key").isNull, 1)),
      count(when(col("total_delivery_days") < 0, 1))).head
    val items = gold("fact_order_items").agg(
      count(lit(1)),
      sum(col("total_item_value")).cast(DecimalType(19, 2))).head

    // 1. volumetry (silver vs gold row counts)
    val ordersDiff = orders.getLong(0) - silver("orders").count()
    val itemsDiff = items.getLong(0) - silver("order_items").count()

    // 2. referential integrity: facts with no dim row (left_anti ≡
    //    LEFT JOIN ... WHERE d.customer_sk IS NULL)
    val orphans = gold("fact_orders")
      .join(gold("dim_customer"), Seq("customer_sk"), "left_anti").count()

    // 3a. total revenue (raw numeric — FORMAT 'C' pt-BR is presentation)
    val revenue = items.getDecimal(1)

    // 3b. purchase-date range through dim_date
    val range = gold("fact_orders")
      .join(gold("dim_date"), col("purchase_date_key") === col("date_key"), "inner")
      .agg(min(col("date")).as("mn"), max(col("date")).as("mx")).head

    // 3c. top-3 categories by revenue
    val top = gold("fact_order_items")
      .join(broadcast(gold("dim_product")), Seq("product_sk"), "inner")
      .groupBy("category_name")
      .agg(count(lit(1)).as("n"), sum(col("total_item_value")).cast(DecimalType(19, 2)).as("rev"))
      .orderBy(desc("rev"), col("category_name"))
      .limit(3).collect()
      .map(r => (Option(r.getString(0)).getOrElse("NULL"), r.getLong(1), r.getDecimal(2))).toSeq

    // 4. anomalies (08:70-77)
    val undelivered = orders.getLong(1)
    val impossible = orders.getLong(2)

    // PK uniqueness (DDL constraints → validation aggregates)
    def pkCheck(df: DataFrame, cols: Seq[String]): Long =
      df.groupBy(cols.map(col): _*).count().filter(col("count") > 1).count()
    val pks = Map(
      "silver.customers" -> pkCheck(silver("customers"), Seq("customer_id")),
      "silver.orders" -> pkCheck(silver("orders"), Seq("order_id")),
      "silver.order_items" -> pkCheck(silver("order_items"), Seq("order_id", "order_item_id")),
      "silver.order_payments" -> pkCheck(silver("order_payments"), Seq("order_id", "payment_sequential")),
      "silver.order_reviews" -> pkCheck(silver("order_reviews"), Seq("review_id")),
      "silver.geolocation" -> pkCheck(silver("geolocation"),
        Seq("geolocation_zip_code_prefix", "geolocation_city", "geolocation_state")),
      "gold.dim_customer" -> pkCheck(gold("dim_customer"), Seq("customer_sk")),
      "gold.fact_orders" -> pkCheck(gold("fact_orders"), Seq("order_sk")))

    QaReport(ordersDiff, itemsDiff, orphans, revenue,
      range.getDate(0), range.getDate(1), top, undelivered, impossible, pks)
  }

  /** Hard invariants (README.md:37 "orphans = 0"; volumetry equality). */
  def assertInvariants(r: QaReport): Unit = {
    require(r.ordersVolumetryDiff == 0, s"orders volumetry diff ${r.ordersVolumetryDiff}")
    require(r.itemsVolumetryDiff <= 0, s"items volumetry diff ${r.itemsVolumetryDiff}")
    require(r.orphanOrders == 0, s"${r.orphanOrders} orphan fact_orders")
    require(r.impossibleDeliveries == 0, s"${r.impossibleDeliveries} negative delivery durations")
    r.pkViolations.foreach { case (t, n) => require(n == 0, s"$t: $n PK violations") }
  }
}
