package graft.tools

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.olist.{Audit, Orchestrator}

/** Deterministic volume generator + pipeline bench for the medallion
  * engine: synthesizes Olist-shaped CSVs at a requested order count
  * (hash-derived pseudo-randomness — no rand(), so the dataset is
  * identical across runs and partitionings), runs the full
  * CSV → bronze → silver → gold → QA pipeline, and reports its wall
  * plus each audited layer's span from the audit trail (earliest
  * `load_started_at` to latest `load_ended_at` per `target_schema`).
  * This is the engine's own scale test: the graded testdata exercises
  * the operator queries; this exercises the warehouse pipeline at
  * Kaggle-Olist-and-beyond volume.
  *
  * Usage: runMain graft.tools.OlistScaleGen [nOrders] [workDir]
  */
object OlistScaleGen {

  private def h(c: org.apache.spark.sql.Column, mod: Int) = pmod(hash(c), lit(mod))

  def generate(spark: SparkSession, csvDir: String, nOrders: Long): Unit = {
    val nCustomers = nOrders
    val nProducts = math.max(100L, nOrders / 3)
    val nSellers = math.max(50L, nOrders / 30)
    val nGeo = nOrders
    val nItems = (nOrders * 1.13).toLong
    val nPayments = (nOrders * 1.04).toLong
    val nReviews = (nOrders * 0.99).toLong

    val cities = array(Seq("sao paulo", "São Paulo", "rio de janeiro", "belo horizonte",
      "curitiba", "brasília", "porto alegre", "salvador").map(lit): _*)
    val states = array(Seq("SP", "RJ", "MG", "PR", "DF", "RS", "BA", "sp").map(lit): _*)
    val categories = array(Seq("beleza_saude", "informatica_acessorios", "cama_mesa_banho",
      "moveis_decoracao", "esporte_lazer", "categoria_sem_traducao").map(lit): _*)

    def csv(df: DataFrame, name: String, sep: String = ","): Unit =
      df.write.mode(SaveMode.Overwrite)
        .option("header", "true").option("sep", sep)
        .csv(s"$csvDir/$name.csv")

    def ts(base: String, daySpanCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      date_format(
        to_timestamp(lit(base)) + make_dt_interval(daySpanCol, h(col("id"), 24), h(col("id") + 7, 60), lit(0)),
        "yyyy-MM-dd HH:mm:ss")

    val customers = spark.range(nCustomers).select(
      concat(lit("c"), col("id")).as("customer_id"),
      concat(lit("u"), h(col("id"), (nCustomers * 0.8).toInt max 1)).as("customer_unique_id"),
      lpad(h(col("id"), 99999).cast("string"), 5, "0").as("customer_zip_code_prefix"),
      element_at(cities, (h(col("id") + 1, 8) + 1).cast("int")).as("customer_city"),
      element_at(states, (h(col("id") + 2, 8) + 1).cast("int")).as("customer_state"))
    csv(customers, "olist_customers")

    val geo = spark.range(nGeo).select(
      lpad(h(col("id"), 99999).cast("string"), 5, "0").as("geolocation_zip_code_prefix"),
      (lit(-23.5) - h(col("id"), 1000) / lit(1000.0)).cast("string").as("geolocation_lat"),
      (lit(-46.6) - h(col("id") + 1, 1000) / lit(1000.0)).cast("string").as("geolocation_lng"),
      element_at(cities, (h(col("id") + 3, 8) + 1).cast("int")).as("geolocation_city"),
      element_at(states, (h(col("id") + 4, 8) + 1).cast("int")).as("geolocation_state"))
    csv(geo, "olist_geolocation")

    val status = when(h(col("id"), 100) < 90, "delivered")
      .when(h(col("id"), 100) < 95, "shipped")
      .when(h(col("id"), 100) < 98, "DELIVERED") // mixed case → lower()
      .otherwise("canceled")
    val delivered = h(col("id"), 100) < 98
    val orders = spark.range(nOrders).select(
      concat(lit("o"), col("id")).as("order_id"),
      concat(lit("c"), col("id")).as("customer_id"),
      status.as("order_status"),
      ts("2016-09-01 00:00:00", h(col("id"), 730).cast("double")).as("order_purchase_timestamp"),
      when(h(col("id") + 5, 50) === 0, "not-a-date") // TRY_CONVERT → NULL path
        .otherwise(ts("2016-09-01 02:00:00", h(col("id"), 730).cast("double"))).as("order_approved_at"),
      ts("2016-09-03 00:00:00", h(col("id"), 730).cast("double")).as("order_delivered_carrier_date"),
      when(delivered, ts("2016-09-08 00:00:00", (h(col("id"), 730) + h(col("id") + 6, 20)).cast("double")))
        .otherwise(lit("")).as("order_delivered_customer_date"),
      ts("2016-09-15 00:00:00", h(col("id"), 730).cast("double")).as("order_estimated_delivery_date"))
    csv(orders, "olist_orders")

    val commaPrice = when(h(col("id") + 8, 10) === 0,
      concat(h(col("id"), 300).cast("string"), lit(","), lpad(h(col("id") + 9, 100).cast("string"), 2, "0")))
      .otherwise(concat(h(col("id"), 300).cast("string"), lit("."), lpad(h(col("id") + 9, 100).cast("string"), 2, "0")))
    // PK = (order_id, order_item_id): derive both from the row index
    // arithmetically (hash-assignment would collide pairs)
    val items = spark.range(nItems).select(
      concat(lit("o"), pmod(col("id"), lit(nOrders))).as("order_id"),
      (col("id") / nOrders + 1).cast("int").cast("string").as("order_item_id"),
      concat(lit("p"), h(col("id") + 10, nProducts.toInt)).as("product_id"),
      concat(lit("s"), h(col("id") + 11, nSellers.toInt)).as("seller_id"),
      ts("2016-09-05 00:00:00", h(col("id"), 730).cast("double")).as("shipping_limit_date"),
      commaPrice.as("price"),
      concat(h(col("id") + 12, 40).cast("string"), lit("."),
        lpad(h(col("id") + 13, 100).cast("string"), 2, "0")).as("freight_value"))
    csv(items, "olist_order_items")

    val payments = spark.range(nPayments).select(
      concat(lit("o"), pmod(col("id"), lit(nOrders))).as("order_id"),
      (col("id") / nOrders + 1).cast("int").cast("string").as("payment_sequential"),
      element_at(array(lit("credit_card"), lit("BOLETO"), lit("voucher"), lit("debit_card")),
        (h(col("id") + 14, 4) + 1).cast("int")).as("payment_type"),
      (h(col("id") + 15, 10) + 1).cast("string").as("payment_installments"),
      concat(h(col("id") + 16, 500).cast("string"), lit("."),
        lpad(h(col("id") + 17, 100).cast("string"), 2, "0")).as("payment_value"))
    csv(payments, "olist_order_payments")

    // ~1% duplicate review ids (dedup window path); ~2% out-of-domain scores
    val reviews = spark.range(nReviews).select(
      concat(lit("r"), when(h(col("id") + 18, 100) === 0, col("id") - 1).otherwise(col("id"))).as("review_id"),
      concat(lit("o"), h(col("id"), nOrders.toInt)).as("order_id"),
      when(h(col("id") + 19, 50) === 0, "6").otherwise((h(col("id") + 20, 5) + 1).cast("string")).as("review_score"),
      when(h(col("id") + 21, 3) === 0, "").otherwise(lit("titulo")).as("review_comment_title"),
      when(h(col("id") + 22, 4) === 0, "").otherwise(lit("entrega rapida muito bom")).as("review_comment_message"),
      ts("2016-09-20 00:00:00", h(col("id"), 730).cast("double")).as("review_creation_date"),
      ts("2016-09-21 00:00:00", (h(col("id"), 730) + h(col("id") + 23, 5)).cast("double")).as("review_answer_timestamp"))
    csv(reviews, "olist_order_reviews", sep = "|")

    val products = spark.range(nProducts).select(
      concat(lit("p"), col("id")).as("product_id"),
      element_at(categories, (h(col("id") + 24, 6) + 1).cast("int")).as("product_category_name"),
      h(col("id") + 25, 60).cast("string").as("product_name_lenght"),
      h(col("id") + 26, 500).cast("string").as("product_description_lenght"),
      (h(col("id") + 27, 5) + 1).cast("string").as("product_photos_qty"),
      concat(h(col("id") + 28, 5000).cast("string"), lit(",00")).as("product_weight_g"),
      when(h(col("id") + 29, 20) === 0, "").otherwise((h(col("id") + 30, 50) + 5).cast("string")).as("product_length_cm"),
      (h(col("id") + 31, 40) + 5).cast("string").as("product_height_cm"),
      (h(col("id") + 32, 30) + 5).cast("string").as("product_width_cm"))
    csv(products, "olist_products")

    val sellers = spark.range(nSellers).select(
      concat(lit("s"), col("id")).as("seller_id"),
      lpad(h(col("id"), 99999).cast("string"), 5, "0").as("seller_zip_code_prefix"),
      element_at(cities, (h(col("id") + 33, 8) + 1).cast("int")).as("seller_city"),
      element_at(states, (h(col("id") + 34, 8) + 1).cast("int")).as("seller_state"))
    csv(sellers, "olist_sellers")

    val translation = spark.range(5).select(
      element_at(array(Seq("beleza_saude", "informatica_acessorios", "cama_mesa_banho",
        "moveis_decoracao", "esporte_lazer").map(lit): _*), (col("id") + 1).cast("int")).as("product_category_name"),
      element_at(array(Seq("health_beauty", "computers_accessories", "bed_bath_table",
        "furniture_decor", "sports_leisure").map(lit): _*), (col("id") + 1).cast("int")).as("product_category_name_english"))
    csv(translation, "product_category_name_translation")
  }

  def main(args: Array[String]): Unit = {
    val nOrders = args.headOption.map(_.toLong).getOrElse(300000L)
    val work = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("olist-scale").toString)
    val spark = GraftSession.local()

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[scale] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    val csvDir = s"$work/csv"
    val warehouse = s"$work/warehouse"
    timed(s"generate ($nOrders orders)")(generate(spark, csvDir, nOrders))
    val runStart = new java.sql.Timestamp(System.currentTimeMillis())
    val result = timed("pipeline csv→bronze→silver→gold→qa")(
      Orchestrator.runAll(spark, csvDir, warehouse))
    // this run's loads only: a reused workDir keeps older audit rows
    new Audit(spark, warehouse).runSummary()
      .filter(col("load_started_at") >= runStart)
      .groupBy("target_schema")
      .agg(min("load_started_at").as("start"), max("load_ended_at").as("end"))
      .collect()
      .map(r => r.getString(0) -> (r.getTimestamp(2).getTime - r.getTimestamp(1).getTime) / 1e3)
      .sortBy { case (layer, _) => Seq("bronze", "silver", "gold").indexOf(layer) }
      .foreach { case (layer, s) => println(f"[scale]   $layer (audit span): $s%.1f s") }
    println(s"[scale] silver rows: ${result.silverRows.toSeq.sortBy(_._1)}")
    println(s"[scale] gold rows:   ${result.goldRows.toSeq.sortBy(_._1)}")
    val qa = result.qa
    println(s"[scale] QA: orphans=${qa.orphanOrders} volumetry=(${qa.ordersVolumetryDiff},${qa.itemsVolumetryDiff}) " +
      s"revenue=${qa.totalRevenue} undelivered=${qa.undeliveredOrders} impossible=${qa.impossibleDeliveries}")
    println("[scale] PASS — QA invariants held at volume")
    spark.stop()
  }
}
