package graft.olist

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import scala.util.control.NonFatal
import Functions._

/** Silver → gold star-schema build (the Spark re-expression of
  * `07_etl_silver_to_gold.sql`): dim_date generator, 3 dims, 3 facts.
  *
  * Surrogate keys: the reference's IDENTITY(1,1) + reseed
  * (`06_create_gold_tables.sql:55` etc., `07:198,291`) becomes a
  * deterministic dense key in natural-key order — reproducible across
  * reruns, which IDENTITY insert order is not (SURVEY §7 hard part 1).
  * Assignment is partition-offset (graft.functions.SurrogateKeys: range
  * partition + local sort + zipWithIndex) for dims and facts alike — no
  * single-partition global window anywhere in the gold build, so the
  * same code survives fact tables that outgrow one task.
  *
  * Join strategy: product/seller dims are broadcast (33k/3.1k rows);
  * orders⨝dim_customer and items⨝fact_orders are key-partitioned shuffle
  * joins (customer-dim is order-cardinality — never broadcast it).
  */
object Gold {

  // INT SK for reference parity (INT IDENTITY); appended as the last
  // column, matching the previous withColumn position.
  private def sk(name: String, orderCols: Seq[String]): (DataFrame => DataFrame) =
    df => graft.functions.SurrogateKeys.withSk(df, name, orderCols, IntegerType)

  // ── dim_date (07:11-86) ──────────────────────────────────────────────────

  /** Recursive-CTE calendar (2,557 days + 1900-01-01 sentinel,
    * MAXRECURSION 0) replaced by set-based sequence+explode. Sentinel
    * attribute overrides per `07:63-80`. */
  def dimDate(spark: SparkSession): DataFrame = {
    val series = spark.range(1).select(
      explode(expr("sequence(to_date('2016-01-01'), to_date('2022-12-31'), interval 1 day)"))
        .as("date_value"))
    val sentinel = spark.range(1).select(to_date(lit("1900-01-01")).as("date_value"))
    val isSentinel = col("date_value") === to_date(lit("1900-01-01"))
    sentinel.unionAll(series).select(
      when(isSentinel, 19000101)
        .otherwise(year(col("date_value")) * 10000 + month(col("date_value")) * 100 +
          dayofmonth(col("date_value"))).cast(IntegerType).as("date_key"),
      col("date_value").as("date"),
      when(isSentinel, 1900).otherwise(year(col("date_value"))).cast(IntegerType).as("year"),
      when(isSentinel, 1).otherwise(quarter(col("date_value"))).cast(IntegerType).as("quarter"),
      when(isSentinel, 1).otherwise(month(col("date_value"))).cast(IntegerType).as("month"),
      when(isSentinel, "N/A").otherwise(date_format(col("date_value"), "MMMM")).as("month_name"),
      when(isSentinel, 1).otherwise(weekOfYearTsql(col("date_value"))).cast(IntegerType).as("week_of_year"),
      when(isSentinel, 1).otherwise(weekdayTsql(col("date_value"))).cast(IntegerType).as("day_of_week"),
      when(isSentinel, "N/A").otherwise(date_format(col("date_value"), "EEEE")).as("day_name"),
      when(isSentinel, 0).otherwise(flag(dayofweek(col("date_value")).isin(1, 7))).cast(IntegerType).as("is_weekend"),
      lit(0).cast(IntegerType).as("is_holiday"))
  }

  // ── dims (07:93-185) ─────────────────────────────────────────────────────

  /** dim_customer (`07:101-116`): SELECT DISTINCT customer attributes.
    * The reference LEFT JOINs geolocation but never selects its columns —
    * combined with DISTINCT the join is a no-op on output (it can only
    * fan out, and DISTINCT collapses the fan-out), so the declarative
    * form is distinct() alone (SURVEY §2.3 join-left-geo). */
  def dimCustomer(silverCustomers: DataFrame): DataFrame =
    sk("customer_sk", Seq("customer_id"))(
      silverCustomers
        .select("customer_id", "customer_unique_id", "customer_city", "customer_state")
        .distinct())

  /** dim_product (`07:125-158`): straight projection + SK. */
  def dimProduct(silverProducts: DataFrame): DataFrame =
    sk("product_sk", Seq("product_id"))(
      silverProducts.select(
        col("product_id"),
        col("product_category_name").as("category_name"),
        col("product_category_name_english").as("category_name_english"),
        col("product_photos_qty"), col("product_weight_g"),
        col("product_length_cm"), col("product_height_cm"),
        col("product_width_cm"), col("product_volume_cm3")))

  /** dim_seller (`07:164-185`). */
  def dimSeller(silverSellers: DataFrame): DataFrame =
    sk("seller_sk", Seq("seller_id"))(
      silverSellers.select("seller_id", "seller_city", "seller_state"))

  // ── facts (07:190-321) ───────────────────────────────────────────────────

  /** fact_orders (`07:200-235`): SK resolution via INNER join (FK
    * enforcement by construction), sentinel/null-preserving date keys,
    * hour-boundary lead-time metrics / 24.0 (T-SQL DATEDIFF semantics). */
  def factOrders(silverOrders: DataFrame, dimCustomer: DataFrame): DataFrame = {
    val joined = silverOrders.join(
      dimCustomer.select("customer_id", "customer_sk"), Seq("customer_id"), "inner")
    sk("order_sk", Seq("order_id"))(joined.select(
      col("order_id"),
      col("customer_sk"),
      dateKeyOrSentinel(col("order_purchase_timestamp")).as("purchase_date_key"),
      dateKeyOrNull(col("order_delivered_customer_date")).as("delivered_date_key"),
      dateKeyOrNull(col("order_estimated_delivery_date")).as("estimated_date_key"),
      col("order_status"),
      leadTimeDays(col("order_purchase_timestamp"), col("order_approved_at"))
        .as("lead_time_approved_days"),
      leadTimeDays(col("order_approved_at"), col("order_delivered_carrier_date"))
        .as("lead_time_shipping_days"),
      leadTimeDays(col("order_delivered_carrier_date"), col("order_delivered_customer_date"))
        .as("lead_time_delivery_days"),
      col("delivery_days").cast(Schemas.Money).as("total_delivery_days"),
      col("delay_days").cast(Schemas.Money).as("delay_days"),
      flag(col("delay_days") > 0).as("is_late_delivery")))
  }

  /** fact_order_items (`07:253-273`): 3-way SK-resolution inner joins;
    * quantity fixed at 1 (Olist explodes items into rows, `06:140`). */
  def factOrderItems(silverItems: DataFrame, factOrders: DataFrame,
                     dimProduct: DataFrame, dimSeller: DataFrame): DataFrame = {
    val joined = silverItems
      .join(factOrders.select("order_id", "order_sk"), Seq("order_id"), "inner")
      .join(broadcast(dimProduct.select("product_id", "product_sk")), Seq("product_id"), "inner")
      .join(broadcast(dimSeller.select("seller_id", "seller_sk")), Seq("seller_id"), "inner")
    sk("order_item_sk", Seq("order_id", "order_item_id"))(joined.select(
      col("order_id"), col("order_item_id"), // natural keys kept for deterministic SK + QA
      col("order_sk"), col("product_sk"), col("seller_sk"),
      col("price"), col("freight_value"), col("total_item_value"),
      lit(1).cast(IntegerType).as("quantity")))
  }

  /** fact_reviews (`07:293-317`): join to fact_orders for the SK; gold
    * recomputes has_comment with the stricter LEN(TRIM(..)) > 0 form
    * (`07:308-313`). */
  def factReviews(silverReviews: DataFrame, factOrders: DataFrame): DataFrame = {
    val joined = silverReviews.join(
      factOrders.select("order_id", "order_sk"), Seq("order_id"), "inner")
    sk("review_sk", Seq("review_id"))(joined.select(
      col("review_id"),
      col("order_sk"),
      col("review_score").cast(IntegerType).as("review_score"),
      col("review_creation_date"),
      col("review_answer_timestamp"),
      flag(col("review_comment_message").isNotNull &&
        length(trim(col("review_comment_message"))) > 0).as("has_comment"),
      flag(col("review_score") >= 4).as("is_positive"),
      flag(col("review_score") <= 2).as("is_negative")))
  }

  // ── orchestration (07:326-358) ───────────────────────────────────────────

  /** The gold loads (`07:326-358`), run concurrently along their FK
    * edges: the 4 dims are independent; fact_orders waits for
    * dim_customer; fact_order_items waits for fact_orders, dim_product
    * and dim_seller; fact_reviews waits for fact_orders. Overwrite = the
    * reference's DELETE + reseed + INSERT. The dim_date already-loaded
    * guard (`07:18-22`) is a driver-side existence check, run before
    * any load.
    *
    * Fail-fast (XACT_ABORT + THROW): a failed load aborts every load
    * that depends on it, without running it or auditing it; independent
    * loads run to the end and are audited. Once every load has ended,
    * the first failure in the list's order is rethrown. */
  def run(spark: SparkSession, warehouse: String, audit: Audit): Map[String, Long] = {
    def silver(name: String) = Silver.table(spark, warehouse, name)
    def gold(name: String) = table(spark, warehouse, name)
    def write(table: String, after: Seq[String] = Nil, options: Map[String, String] = Map.empty)
             (df: => DataFrame): Steps.Step[Long] =
      Steps.step(table, after: _*)(audit.overwrite("gold-etl", s"silver→$table", "gold", table,
        s"$warehouse/gold/$table", options)(df))
    /** Fact writes are READ-OPTIMIZED: REBALANCE evens the output
      * files (the upstream join leaves skewed post-shuffle partitions
      * — a 30M-order run produced a 5:1 file-size spread without it),
      * and a parquet column bloom on order_id gives point lookups and
      * bloom-probe joins row-group skipping on a key the layout is
      * NOT sorted by (zone maps are useless for it by construction).
      * Values are untouched — this is layout only; the ndv hint is
      * sized for ~row-group-level cardinality at the 100 TB bar and
      * merely over-allocates a few KB per group below it.
      * graft.tools.ScaleSkipProbe measures the resulting skip ratio. */
    def writeFact(table: String, keyCol: String, after: String*)(df: => DataFrame): Steps.Step[Long] =
      write(table, after, Map(
        s"parquet.bloom.filter.enabled#$keyCol" -> "true",
        s"parquet.bloom.filter.expected.ndv#$keyCol" -> "4000000"))(df.hint("rebalance"))

    // already-loaded guard (07:18-22), one aggregate over the existing
    // table: loaded = any non-sentinel day; its row count is reported
    // as the load's (a -1 sentinel in a row-count map misleads the
    // audit consumers). The filesystem probe comes first: asking Spark
    // to read a missing path just to catch the exception logs a noisy
    // stack on every cold run.
    val existingDimDate: Option[Long] =
      if (!new java.io.File(s"$warehouse/gold/dim_date").exists()) None
      else try {
        val r = gold("dim_date").agg(count(lit(1)),
          count(when(col("date_key") =!= 19000101, 1))).head
        if (r.getLong(1) > 0) Some(r.getLong(0)) else None
      } catch { case NonFatal(_) => None }

    Steps.run(Seq(
      existingDimDate match {
        case Some(rows) => Steps.step("dim_date")(rows)
        case None => write("dim_date")(dimDate(spark))
      },
      write("dim_customer")(dimCustomer(silver("customers"))),
      write("dim_product")(dimProduct(silver("products"))),
      write("dim_seller")(dimSeller(silver("sellers"))),
      writeFact("fact_orders", "order_id", "dim_customer")(
        factOrders(silver("orders"), gold("dim_customer"))),
      writeFact("fact_order_items", "order_id", "fact_orders", "dim_product", "dim_seller")(
        factOrderItems(silver("order_items"),
          gold("fact_orders"), gold("dim_product"), gold("dim_seller"))),
      // fact_reviews drops the order natural key (it carries order_sk);
      // its point-lookup key is review_id
      writeFact("fact_reviews", "review_id", "fact_orders")(
        factReviews(silver("order_reviews"), gold("fact_orders"))))).toMap
  }

  def table(spark: SparkSession, warehouse: String, name: String): DataFrame =
    Schemas.read(spark, warehouse, "gold", name)
}
