package graft.olist

import org.apache.spark.sql.{Row, SparkSession}
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

  /** PK uniqueness (DDL constraints → validation aggregates):
    * `<layer>.<table>` → its key columns. */
  private val primaryKeys: Seq[(String, Seq[String])] = Seq(
    "silver.customers" -> Seq("customer_id"),
    "silver.orders" -> Seq("order_id"),
    "silver.order_items" -> Seq("order_id", "order_item_id"),
    "silver.order_payments" -> Seq("order_id", "payment_sequential"),
    "silver.order_reviews" -> Seq("review_id"),
    "silver.geolocation" ->
      Seq("geolocation_zip_code_prefix", "geolocation_city", "geolocation_state"),
    "gold.dim_customer" -> Seq("customer_sk"),
    "gold.fact_orders" -> Seq("order_sk"))

  /** The 15 checks, one Spark action each, are independent and run
    * concurrently (`Steps`); the report is assembled once all have ended. */
  def run(spark: SparkSession, warehouse: String): QaReport = {
    def silver(n: String) = Silver.table(spark, warehouse, n)
    def gold(n: String) = Gold.table(spark, warehouse, n)
    import Steps.step

    val checks: Seq[Steps.Step[Any]] = Seq(
      // one scan per fact for its scalar checks: row count (volumetry),
      // undelivered and impossible deliveries; row count and revenue
      step("fact_orders scalars")(gold("fact_orders").agg(
        count(lit(1)),
        count(when(col("delivered_date_key").isNull, 1)),
        count(when(col("total_delivery_days") < 0, 1))).head),
      step("fact_order_items scalars")(gold("fact_order_items").agg(
        count(lit(1)),
        sum(col("total_item_value")).cast(DecimalType(19, 2))).head),
      // 1. volumetry (silver vs gold row counts)
      step("silver orders")(silver("orders").count()),
      step("silver order_items")(silver("order_items").count()),
      // 2. referential integrity: facts with no dim row (left_anti ≡
      //    LEFT JOIN ... WHERE d.customer_sk IS NULL)
      step("orphans")(gold("fact_orders")
        .join(gold("dim_customer"), Seq("customer_sk"), "left_anti").count()),
      // 3b. purchase-date range through dim_date
      step("date range")(gold("fact_orders")
        .join(gold("dim_date"), col("purchase_date_key") === col("date_key"), "inner")
        .agg(min(col("date")).as("mn"), max(col("date")).as("mx")).head),
      // 3c. top-3 categories by revenue
      step("top categories")(gold("fact_order_items")
        .join(broadcast(gold("dim_product")), Seq("product_sk"), "inner")
        .groupBy("category_name")
        .agg(count(lit(1)).as("n"), sum(col("total_item_value")).cast(DecimalType(19, 2)).as("rev"))
        .orderBy(desc("rev"), col("category_name"))
        .limit(3).collect()
        .map(r => (Option(r.getString(0)).getOrElse("NULL"), r.getLong(1), r.getDecimal(2))).toSeq)
    ) ++ primaryKeys.map { case (table, cols) =>
      val Array(layer, name) = table.split('.')
      step(table)(Schemas.read(spark, warehouse, layer, name)
        .groupBy(cols.map(col): _*).count().filter(col("count") > 1).count())
    }
    val results = Steps.run(checks).toMap
    def result[A](check: String): A = results(check).asInstanceOf[A]

    val orders = result[Row]("fact_orders scalars")
    val items = result[Row]("fact_order_items scalars")
    val range = result[Row]("date range")
    QaReport(
      ordersVolumetryDiff = orders.getLong(0) - result[Long]("silver orders"),
      itemsVolumetryDiff = items.getLong(0) - result[Long]("silver order_items"),
      orphanOrders = result[Long]("orphans"),
      // 3a. total revenue (raw numeric — FORMAT 'C' pt-BR is presentation)
      totalRevenue = items.getDecimal(1),
      minPurchaseDate = range.getDate(0),
      maxPurchaseDate = range.getDate(1),
      topCategories = result[Seq[(String, Long, java.math.BigDecimal)]]("top categories"),
      undeliveredOrders = orders.getLong(1),   // 4. anomalies (08:70-77)
      impossibleDeliveries = orders.getLong(2),
      pkViolations = primaryKeys.map { case (table, _) => table -> result[Long](table) }.toMap)
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
