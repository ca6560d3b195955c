package graft.olist

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Functions._

/** Bronze → silver transforms: one pure DataFrame => DataFrame function
  * per table (the Spark re-expression of the 9 reference loader SPs in
  * `05_ETL_load_bronze_to_silver/`), plus the audited truncate+insert
  * runner. Every transform is a narrow projection/filter pipeline that
  * Catalyst pushes into the bronze parquet scan; only geolocation (hash
  * aggregate) and order_reviews (dedup window) shuffle, keyed on their
  * entity keys — both scale linearly with a 100 TB bronze layer.
  *
  * NOT NULL columns in the silver DDL (e.g. order_purchase_timestamp,
  * `04_create_silver_tables.sql:233`) abort the reference load on
  * violation (INSERT fails → SP THROWs). `requireNoNulls` reproduces the
  * fail-fast semantics instead of silently dropping rows.
  */
object Silver {

  private def lineage(src: String): Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "created_at" -> current_timestamp(),
    "updated_at" -> current_timestamp(),
    "source_system" -> lit(src))

  private def withLineage(df: DataFrame, src: String): DataFrame =
    lineage(src).foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }

  /** Fail-fast NOT NULL enforcement (mirrors the DDL constraint firing). */
  private def requireNoNulls(df: DataFrame, table: String, cols: Seq[String]): DataFrame = {
    val bad = df.filter(cols.map(col(_).isNull).reduce(_ || _)).limit(1).count()
    if (bad > 0) throw new IllegalStateException(
      s"silver.$table: NOT NULL violation in columns ${cols.mkString(",")}")
    df
  }

  /** sp_load_silver_customers.sql:22-43 */
  def customers(bronze: DataFrame): DataFrame =
    withLineage(
      bronze
        .filter(col("customer_id").isNotNull)
        .select(
          cleanse(col("customer_id")).as("customer_id"),
          cleanse(col("customer_unique_id")).as("customer_unique_id"),
          trimLeft(col("customer_zip_code_prefix"), 10).as("customer_zip_code_prefix"),
          cleanse(col("customer_city")).as("customer_city"),
          ufState(col("customer_state")).as("customer_state")),
      "bronze.olist_customers_dataset")

  /** sp_load_silver_sellers.sql:26-38 */
  def sellers(bronze: DataFrame): DataFrame =
    withLineage(
      bronze
        .filter(col("seller_id").isNotNull && trim(col("seller_id")) =!= "")
        .select(
          cleanse(col("seller_id")).as("seller_id"),
          trimLeft(col("seller_zip_code_prefix"), 10).as("seller_zip_code_prefix"),
          cleanse(col("seller_city")).as("seller_city"),
          ufState(col("seller_state")).as("seller_state")),
      "bronze.olist_sellers_dataset")

  /** sp_load_silver_product_category_translation.sql */
  def categoryTranslation(bronze: DataFrame): DataFrame =
    withLineage(
      bronze
        .filter(col("product_category_name").isNotNull && trim(col("product_category_name")) =!= "")
        .select(
          cleanse(col("product_category_name")).as("product_category_name"),
          cleanse(col("product_category_name_english")).as("product_category_name_english")),
      "bronze.product_category_name_translation")

  /** sp_load_silver_products.sql:25-52 — LEFT JOIN on the *silver*
    * translation table (dependency order!, master orchestrator :17-27);
    * the tiny dictionary is broadcast. Computed column
    * product_volume_cm3 = l*h*w PERSISTED (`04:172`) materialized here. */
  def products(bronze: DataFrame, silverTranslation: DataFrame): DataFrame = {
    val t = silverTranslation
      .select(col("product_category_name").as("t_category"),
        col("product_category_name_english"))
    val p = bronze
      .filter(col("product_id").isNotNull && trim(col("product_id")) =!= "")
      .join(broadcast(t), cleanse(col("product_category_name")) === col("t_category"), "left")
      .select(
        cleanse(col("product_id")).as("product_id"),
        cleanse(col("product_category_name")).as("product_category_name"),
        col("product_category_name_english"),
        tryInt(col("product_name_lenght")).as("product_name_length"),
        tryInt(col("product_description_lenght")).as("product_description_length"),
        tryInt(col("product_photos_qty")).as("product_photos_qty"),
        tryMoneyComma(col("product_weight_g")).as("product_weight_g"),
        tryMoneyComma(col("product_length_cm")).as("product_length_cm"),
        tryMoneyComma(col("product_height_cm")).as("product_height_cm"),
        tryMoneyComma(col("product_width_cm")).as("product_width_cm"))
      .withColumn("product_volume_cm3",
        (col("product_length_cm") * col("product_height_cm") * col("product_width_cm"))
          .cast(Schemas.Volume))
    withLineage(p, "bronze.olist_products")
  }

  /** sp_load_silver_geolocation.sql:22-43 — GROUP BY the cleansed
    * expressions with an empty aggregate list (key-only dedup; lat/lng
    * are commented out of the silver DDL, `04:200-201`). City folding
    * emulates the CI_AI collation (see Functions.accentFoldLower). */
  def geolocation(bronze: DataFrame): DataFrame =
    withLineage(
      bronze
        .filter(col("geolocation_zip_code_prefix").isNotNull &&
          col("geolocation_city").isNotNull && col("geolocation_state").isNotNull)
        .select(
          trimLeft(col("geolocation_zip_code_prefix"), 10).as("geolocation_zip_code_prefix"),
          accentFoldLower(trim(col("geolocation_city"))).as("geolocation_city"),
          ufState(col("geolocation_state")).as("geolocation_state"))
        .distinct(),
      "bronze.olist_geolocation_dataset")

  /** sp_load_silver_orders.sql:19-46 + computed columns `04:240-242`. */
  def orders(bronze: DataFrame): DataFrame = {
    val o = bronze
      .filter(col("order_id").isNotNull && trim(col("order_id")) =!= "")
      .select(
        cleanse(col("order_id")).as("order_id"),
        cleanse(col("customer_id")).as("customer_id"),
        lower(trim(col("order_status"))).as("order_status"),
        tryTimestamp(col("order_purchase_timestamp")).as("order_purchase_timestamp"),
        tryTimestamp(col("order_approved_at")).as("order_approved_at"),
        tryTimestamp(col("order_delivered_carrier_date")).as("order_delivered_carrier_date"),
        tryTimestamp(col("order_delivered_customer_date")).as("order_delivered_customer_date"),
        tryTimestamp(col("order_estimated_delivery_date")).as("order_estimated_delivery_date"))
      .withColumn("delivery_days",
        datediffDays(col("order_purchase_timestamp"), col("order_delivered_customer_date")))
      .withColumn("delay_days",
        datediffDays(col("order_estimated_delivery_date"), col("order_delivered_customer_date")))
      .withColumn("is_delivered", flag(col("order_status") === "delivered"))
    requireNoNulls(withLineage(o, "bronze.olist_orders_dataset"),
      "orders", Seq("customer_id", "order_purchase_timestamp"))
  }

  /** sp_load_silver_order_items.sql + total_item_value PERSISTED `04:280`. */
  def orderItems(bronze: DataFrame): DataFrame = {
    val oi = bronze
      .filter(col("order_id").isNotNull && trim(col("order_id")) =!= "" &&
        tryInt(col("order_item_id")).isNotNull &&
        col("product_id").isNotNull && col("seller_id").isNotNull)
      .select(
        cleanse(col("order_id")).as("order_id"),
        tryInt(col("order_item_id")).as("order_item_id"),
        cleanse(col("product_id")).as("product_id"),
        cleanse(col("seller_id")).as("seller_id"),
        tryTimestamp(col("shipping_limit_date")).as("shipping_limit_date"),
        tryMoneyComma(col("price")).as("price"),
        tryMoneyComma(col("freight_value")).as("freight_value"))
      .withColumn("total_item_value",
        (col("price") + col("freight_value")).cast(Schemas.Money))
    requireNoNulls(withLineage(oi, "bronze.olist_order_items"),
      "order_items", Seq("price", "freight_value"))
  }

  /** sp_load_silver_order_payments.sql */
  def orderPayments(bronze: DataFrame): DataFrame = {
    val p = bronze
      .filter(col("order_id").isNotNull && trim(col("order_id")) =!= "" &&
        col("payment_type").isNotNull)
      .select(
        cleanse(col("order_id")).as("order_id"),
        tryInt(col("payment_sequential")).as("payment_sequential"),
        lower(trim(col("payment_type"))).as("payment_type"),
        tryInt(col("payment_installments")).as("payment_installments"),
        tryMoneyComma(col("payment_value")).as("payment_value"))
    requireNoNulls(withLineage(p, "bronze.olist_order_payments"),
      "order_payments", Seq("payment_sequential", "payment_installments", "payment_value"))
  }

  /** sp_load_silver_order_reviews.sql:22-67 — cleanse, score-domain
    * filter, keep-latest dedup window, empty→NULL comments. The newline
    * scrub replicates the pandas pre-clean
    * (`dataset_olist/fix_order_reviews_dataset.py:13-14`). Deterministic
    * tie-break on order_id added (T-SQL ROW_NUMBER ties are
    * nondeterministic — SURVEY §7 hard part 5). */
  def orderReviews(bronze: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def scrub(c: org.apache.spark.sql.Column) =
      regexp_replace(regexp_replace(c, "\r", ""), "\n", " ")
    val base = bronze
      .filter(col("review_id").isNotNull && trim(col("review_id")) =!= "" &&
        col("order_id").isNotNull && trim(col("order_id")) =!= "" &&
        tryInt(col("review_score")).between(1, 5))
      .select(
        cleanse(col("review_id")).as("review_id"),
        cleanse(col("order_id")).as("order_id"),
        tryInt(col("review_score")).as("review_score"),
        nullifEmpty(scrub(col("review_comment_title"))).as("review_comment_title"),
        nullifEmpty(scrub(col("review_comment_message"))).as("review_comment_message"),
        tryTimestamp(col("review_creation_date")).as("review_creation_date"),
        tryTimestamp(col("review_answer_timestamp")).as("review_answer_timestamp"))
    val w = Window.partitionBy(col("review_id"))
      .orderBy(col("review_answer_timestamp").desc, col("order_id"))
    val dedup = base
      .withColumn("row_num", row_number().over(w))
      .filter(col("row_num") === 1).drop("row_num")
      .withColumn("has_comment", flag(col("review_comment_message").isNotNull))
      .withColumn("is_promoter", flag(col("review_score") >= 4))
      .withColumn("is_detractor", flag(col("review_score") <= 2))
    withLineage(dedup, "bronze.olist_order_reviews")
  }

  /** The master orchestrator's 9 loads (`05_sp_master_orchestrator_silver.sql:17-27`),
    * each audited and written truncate+insert (= parquet overwrite), run
    * concurrently along the reference's one dependency edge: `products`
    * reads the silver `product_category_translation` and starts after
    * it; the other 8 loads are independent.
    *
    * Fail-fast (XACT_ABORT + THROW): a failed load aborts every load
    * that depends on it, without running it or auditing it; independent
    * loads run to the end and are audited. Once every load has ended,
    * the first failure in the list's order is rethrown, so no later
    * layer starts. */
  def run(spark: SparkSession, warehouse: String, bronze: Bronze, audit: Audit): Map[String, Long] = {
    def load(table: String, after: String*)(df: => DataFrame) =
      Steps.step(table, after: _*)(audit.overwrite("silver-etl", s"bronze→$table", "silver", table,
        s"$warehouse/silver/$table")(df))
    Steps.run(Seq(
      load("customers")(customers(bronze.table("olist_customers"))),
      load("sellers")(sellers(bronze.table("olist_sellers"))),
      load("product_category_translation")(
        categoryTranslation(bronze.table("product_category_name_translation"))),
      load("products", "product_category_translation")(products(bronze.table("olist_products"),
        table(spark, warehouse, "product_category_translation"))),
      load("geolocation")(geolocation(bronze.table("olist_geolocation"))),
      load("orders")(orders(bronze.table("olist_orders"))),
      load("order_items")(orderItems(bronze.table("olist_order_items"))),
      load("order_payments")(orderPayments(bronze.table("olist_order_payments"))),
      load("order_reviews")(orderReviews(bronze.table("olist_order_reviews"))))).toMap
  }

  def table(spark: SparkSession, warehouse: String, name: String): DataFrame =
    Schemas.read(spark, warehouse, "silver", name)
}
