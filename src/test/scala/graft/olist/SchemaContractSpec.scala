package graft.olist

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{DataType, StructType}

/** Every silver transform and gold builder emits exactly the schema
  * `Schemas` declares for its table (names, order and data types;
  * nullability is excluded, parquet reads are nullable), and a
  * declared-schema read of each warehouse table returns what an inferred
  * read does. Guards the declarations against a transform edit. */
class SchemaContractSpec extends SparkTestBase {

  private def shape(s: StructType): Seq[(String, DataType)] =
    s.fields.map(f => f.name -> f.dataType).toSeq

  private lazy val fixtureDir: String = {
    val d = tempDir("schema-contract-csv")
    Fixtures.writeAll(d)
    d
  }

  private lazy val bronze = {
    val wh = tempDir("schema-contract-bronze")
    new Bronze(spark, wh, new Audit(spark, wh))
  }

  private def bronzeDf(table: String): DataFrame = {
    val (name, schema, pipe) = Schemas.bronzeTables.find(_._1 == table).get
    bronze.readCsv(s"$fixtureDir/$name.csv", schema, if (pipe) "|" else ",")
  }

  private lazy val silver: Map[String, DataFrame] = {
    val translation = Silver.categoryTranslation(bronzeDf("product_category_name_translation"))
    Map(
      "customers" -> Silver.customers(bronzeDf("olist_customers")),
      "sellers" -> Silver.sellers(bronzeDf("olist_sellers")),
      "product_category_translation" -> translation,
      "products" -> Silver.products(bronzeDf("olist_products"), translation),
      "geolocation" -> Silver.geolocation(bronzeDf("olist_geolocation")),
      "orders" -> Silver.orders(bronzeDf("olist_orders")),
      "order_items" -> Silver.orderItems(bronzeDf("olist_order_items")),
      "order_payments" -> Silver.orderPayments(bronzeDf("olist_order_payments")),
      "order_reviews" -> Silver.orderReviews(bronzeDf("olist_order_reviews")))
  }

  test("every silver transform emits its declared schema") {
    assert(silver.keySet == Schemas.silverTables.map(_._1).toSet)
    Schemas.silverTables.foreach { case (table, declared) =>
      assert(shape(silver(table).schema) == shape(declared), s"silver.$table")
    }
  }

  test("every gold builder emits its declared schema") {
    val dimCustomer = Gold.dimCustomer(silver("customers"))
    val dimProduct = Gold.dimProduct(silver("products"))
    val dimSeller = Gold.dimSeller(silver("sellers"))
    val factOrders = Gold.factOrders(silver("orders"), dimCustomer)
    val built = Map(
      "dim_date" -> Gold.dimDate(spark),
      "dim_customer" -> dimCustomer,
      "dim_product" -> dimProduct,
      "dim_seller" -> dimSeller,
      "fact_orders" -> factOrders,
      "fact_order_items" -> Gold.factOrderItems(silver("order_items"), factOrders,
        dimProduct, dimSeller),
      "fact_reviews" -> Gold.factReviews(silver("order_reviews"), factOrders))
    assert(built.keySet == Schemas.goldTables.map(_._1).toSet)
    Schemas.goldTables.foreach { case (table, declared) =>
      assert(shape(built(table).schema) == shape(declared), s"gold.$table")
    }
  }

  test("declared-schema reads of all 25 warehouse tables equal inferred reads") {
    val wh = tempDir("schema-contract-wh")
    Orchestrator.runAll(spark, fixtureDir, wh)
    val tables = Seq(
      "bronze" -> Schemas.bronzeTables.map(_._1),
      "silver" -> Schemas.silverTables.map(_._1),
      "gold" -> Schemas.goldTables.map(_._1))
      .flatMap { case (layer, names) => names.map(layer -> _) }
    assert(tables.size == 25)
    tables.foreach { case (layer, table) =>
      val declared = Schemas.read(spark, wh, layer, table)
      val inferred = spark.read.parquet(s"$wh/$layer/$table")
      assert(shape(declared.schema) == shape(inferred.schema), s"$layer.$table")
      val rows = (df: DataFrame) => df.collect().map(_.toString).sorted.toSeq
      assert(rows(declared) == rows(inferred), s"$layer.$table")
    }
  }
}
