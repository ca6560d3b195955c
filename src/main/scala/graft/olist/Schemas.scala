package graft.olist

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Explicit schemas for every layer of the medallion warehouse.
  *
  * Bronze mirrors the reference's all-VARCHAR landing rule
  * (`01_create_database_and_schemas.sql:71`, `02_create_tables_bronze.sql:22-108`):
  * every column StringType so ingest can never fail on bad data; typing is
  * applied bronze→silver via try_* casts (`04_create_silver_tables.sql:14-20`).
  *
  * Silver and gold mirror the typed DDL of `04_create_silver_tables.sql`
  * and `06_create_gold_tables.sql`, column for column in the order the
  * transforms emit them (`SchemaContractSpec` pins each declaration to its
  * transform). Nothing is ever schema-inferred: every warehouse read goes
  * through `read`, so no read pays Spark's parquet footer-merge job.
  * Nullability is not declared — parquet reads are nullable regardless;
  * NOT NULL is enforced at load time (`Silver.requireNoNulls`) and by QA.
  */
object Schemas {

  private def allString(cols: String*): StructType =
    StructType(cols.map(c => StructField(c, StringType, nullable = true)))

  private def typed(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (c, t) => StructField(c, t, nullable = true) })

  // ── bronze (CSV landing, reference 02_create_tables_bronze.sql) ──────────

  val bronzeCustomers: StructType = allString(
    "customer_id", "customer_unique_id", "customer_zip_code_prefix",
    "customer_city", "customer_state")

  val bronzeGeolocation: StructType = allString(
    "geolocation_zip_code_prefix", "geolocation_lat", "geolocation_lng",
    "geolocation_city", "geolocation_state")

  val bronzeOrderItems: StructType = allString(
    "order_id", "order_item_id", "product_id", "seller_id",
    "shipping_limit_date", "price", "freight_value")

  val bronzeOrderPayments: StructType = allString(
    "order_id", "payment_sequential", "payment_type",
    "payment_installments", "payment_value")

  val bronzeOrderReviews: StructType = allString(
    "review_id", "order_id", "review_score", "review_comment_title",
    "review_comment_message", "review_creation_date", "review_answer_timestamp")

  val bronzeOrders: StructType = allString(
    "order_id", "customer_id", "order_status", "order_purchase_timestamp",
    "order_approved_at", "order_delivered_carrier_date",
    "order_delivered_customer_date", "order_estimated_delivery_date")

  val bronzeProducts: StructType = allString(
    "product_id", "product_category_name", "product_name_lenght",
    "product_description_lenght", "product_photos_qty", "product_weight_g",
    "product_length_cm", "product_height_cm", "product_width_cm")

  val bronzeSellers: StructType = allString(
    "seller_id", "seller_zip_code_prefix", "seller_city", "seller_state")

  val bronzeCategoryTranslation: StructType = allString(
    "product_category_name", "product_category_name_english")

  /** Bronze table name → (csv file stem, schema, pipe-separated?). The
    * reviews file is pipe-separated after the newline pre-clean
    * (`03_load_csv_to_bronze.sql:110-115`). */
  val bronzeTables: Seq[(String, StructType, Boolean)] = Seq(
    ("olist_customers", bronzeCustomers, false),
    ("olist_geolocation", bronzeGeolocation, false),
    ("olist_order_items", bronzeOrderItems, false),
    ("olist_order_payments", bronzeOrderPayments, false),
    ("olist_order_reviews", bronzeOrderReviews, true),
    ("olist_orders", bronzeOrders, false),
    ("olist_products", bronzeProducts, false),
    ("olist_sellers", bronzeSellers, false),
    ("product_category_name_translation", bronzeCategoryTranslation, false))

  // ── shared silver/gold types (reference 04_create_silver_tables.sql,
  //    06_create_gold_tables.sql) ─────────────────────────────────────────

  /** DECIMAL(10,2) — money & metric columns. */
  val Money: DecimalType = DecimalType(10, 2)
  /** DECIMAL(19,2) — product_volume_cm3 (`06_create_gold_tables.sql:79`). */
  val Volume: DecimalType = DecimalType(19, 2)

  // ── silver (reference 04_create_silver_tables.sql) ───────────────────────

  /** created_at / updated_at DEFAULT SYSDATETIME() + source_system, last on
    * every silver table. */
  private val lineage: Seq[(String, DataType)] = Seq(
    "created_at" -> TimestampType, "updated_at" -> TimestampType,
    "source_system" -> StringType)

  private def silverTable(cols: (String, DataType)*): StructType = typed(cols ++ lineage: _*)

  val silverCustomers: StructType = silverTable(
    "customer_id" -> StringType, "customer_unique_id" -> StringType,
    "customer_zip_code_prefix" -> StringType, "customer_city" -> StringType,
    "customer_state" -> StringType)

  val silverSellers: StructType = silverTable(
    "seller_id" -> StringType, "seller_zip_code_prefix" -> StringType,
    "seller_city" -> StringType, "seller_state" -> StringType)

  val silverCategoryTranslation: StructType = silverTable(
    "product_category_name" -> StringType, "product_category_name_english" -> StringType)

  /** product_volume_cm3 is the PERSISTED l*h*w column (`04:172`). */
  val silverProducts: StructType = silverTable(
    "product_id" -> StringType, "product_category_name" -> StringType,
    "product_category_name_english" -> StringType,
    "product_name_length" -> IntegerType, "product_description_length" -> IntegerType,
    "product_photos_qty" -> IntegerType, "product_weight_g" -> Money,
    "product_length_cm" -> Money, "product_height_cm" -> Money,
    "product_width_cm" -> Money, "product_volume_cm3" -> Volume)

  /** lat/lng are commented out of the silver DDL (`04:200-201`). */
  val silverGeolocation: StructType = silverTable(
    "geolocation_zip_code_prefix" -> StringType, "geolocation_city" -> StringType,
    "geolocation_state" -> StringType)

  /** delivery_days, delay_days, is_delivered are PERSISTED (`04:240-242`). */
  val silverOrders: StructType = silverTable(
    "order_id" -> StringType, "customer_id" -> StringType, "order_status" -> StringType,
    "order_purchase_timestamp" -> TimestampType, "order_approved_at" -> TimestampType,
    "order_delivered_carrier_date" -> TimestampType,
    "order_delivered_customer_date" -> TimestampType,
    "order_estimated_delivery_date" -> TimestampType,
    "delivery_days" -> IntegerType, "delay_days" -> IntegerType, "is_delivered" -> IntegerType)

  /** total_item_value is PERSISTED (`04:280`). */
  val silverOrderItems: StructType = silverTable(
    "order_id" -> StringType, "order_item_id" -> IntegerType, "product_id" -> StringType,
    "seller_id" -> StringType, "shipping_limit_date" -> TimestampType,
    "price" -> Money, "freight_value" -> Money, "total_item_value" -> Money)

  val silverOrderPayments: StructType = silverTable(
    "order_id" -> StringType, "payment_sequential" -> IntegerType,
    "payment_type" -> StringType, "payment_installments" -> IntegerType,
    "payment_value" -> Money)

  val silverOrderReviews: StructType = silverTable(
    "review_id" -> StringType, "order_id" -> StringType, "review_score" -> IntegerType,
    "review_comment_title" -> StringType, "review_comment_message" -> StringType,
    "review_creation_date" -> TimestampType, "review_answer_timestamp" -> TimestampType,
    "has_comment" -> IntegerType, "is_promoter" -> IntegerType, "is_detractor" -> IntegerType)

  /** Silver table name → schema, in the master orchestrator's load order. */
  val silverTables: Seq[(String, StructType)] = Seq(
    "customers" -> silverCustomers,
    "sellers" -> silverSellers,
    "product_category_translation" -> silverCategoryTranslation,
    "products" -> silverProducts,
    "geolocation" -> silverGeolocation,
    "orders" -> silverOrders,
    "order_items" -> silverOrderItems,
    "order_payments" -> silverOrderPayments,
    "order_reviews" -> silverOrderReviews)

  // ── gold (reference 06_create_gold_tables.sql) ───────────────────────────
  // Surrogate keys are INT (INT IDENTITY) and appended last by the builder.

  val dimDate: StructType = typed(
    "date_key" -> IntegerType, "date" -> DateType, "year" -> IntegerType,
    "quarter" -> IntegerType, "month" -> IntegerType, "month_name" -> StringType,
    "week_of_year" -> IntegerType, "day_of_week" -> IntegerType,
    "day_name" -> StringType, "is_weekend" -> IntegerType, "is_holiday" -> IntegerType)

  val dimCustomer: StructType = typed(
    "customer_id" -> StringType, "customer_unique_id" -> StringType,
    "customer_city" -> StringType, "customer_state" -> StringType,
    "customer_sk" -> IntegerType)

  val dimProduct: StructType = typed(
    "product_id" -> StringType, "category_name" -> StringType,
    "category_name_english" -> StringType, "product_photos_qty" -> IntegerType,
    "product_weight_g" -> Money, "product_length_cm" -> Money,
    "product_height_cm" -> Money, "product_width_cm" -> Money,
    "product_volume_cm3" -> Volume, "product_sk" -> IntegerType)

  val dimSeller: StructType = typed(
    "seller_id" -> StringType, "seller_city" -> StringType,
    "seller_state" -> StringType, "seller_sk" -> IntegerType)

  val factOrders: StructType = typed(
    "order_id" -> StringType, "customer_sk" -> IntegerType,
    "purchase_date_key" -> IntegerType, "delivered_date_key" -> IntegerType,
    "estimated_date_key" -> IntegerType, "order_status" -> StringType,
    "lead_time_approved_days" -> Money, "lead_time_shipping_days" -> Money,
    "lead_time_delivery_days" -> Money, "total_delivery_days" -> Money,
    "delay_days" -> Money, "is_late_delivery" -> IntegerType, "order_sk" -> IntegerType)

  val factOrderItems: StructType = typed(
    "order_id" -> StringType, "order_item_id" -> IntegerType,
    "order_sk" -> IntegerType, "product_sk" -> IntegerType, "seller_sk" -> IntegerType,
    "price" -> Money, "freight_value" -> Money, "total_item_value" -> Money,
    "quantity" -> IntegerType, "order_item_sk" -> IntegerType)

  val factReviews: StructType = typed(
    "review_id" -> StringType, "order_sk" -> IntegerType, "review_score" -> IntegerType,
    "review_creation_date" -> TimestampType, "review_answer_timestamp" -> TimestampType,
    "has_comment" -> IntegerType, "is_positive" -> IntegerType,
    "is_negative" -> IntegerType, "review_sk" -> IntegerType)

  /** Gold table name → schema, in the gold orchestrator's load order. */
  val goldTables: Seq[(String, StructType)] = Seq(
    "dim_date" -> dimDate,
    "dim_customer" -> dimCustomer,
    "dim_product" -> dimProduct,
    "dim_seller" -> dimSeller,
    "fact_orders" -> factOrders,
    "fact_order_items" -> factOrderItems,
    "fact_reviews" -> factReviews)

  private val byLayer: Map[String, Map[String, StructType]] = Map(
    "bronze" -> bronzeTables.map(t => t._1 -> t._2).toMap,
    "silver" -> silverTables.toMap,
    "gold" -> goldTables.toMap)

  /** Declared-schema read of `<warehouse>/<layer>/<table>`. */
  def read(spark: SparkSession, warehouse: String, layer: String, table: String): DataFrame = {
    val schema = byLayer.get(layer).flatMap(_.get(table)).getOrElse(
      throw new IllegalArgumentException(s"no declared schema for $layer.$table"))
    spark.read.schema(schema).parquet(s"$warehouse/$layer/$table")
  }
}
