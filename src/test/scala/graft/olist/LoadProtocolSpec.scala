package graft.olist

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** The audited load protocol (`Audit.overwrite`): the row count comes
  * from the write job itself, a load is one write job plus one audit
  * append, and the audit trail holds one row per load. */
class LoadProtocolSpec extends SparkTestBase {

  test("empty frame: returns 0 without waiting out the bound, audits rows_inserted = 0") {
    val wh = tempDir("load-empty")
    val audit = new Audit(spark, wh)
    val empty = spark.createDataFrame(java.util.List.of[Row](), Schemas.bronzeSellers)
    val t0 = System.nanoTime()
    val rows = audit.overwrite("test", "empty", "bronze", "empty", s"$wh/bronze/empty")(empty)
    val seconds = (System.nanoTime() - t0) / 1e9
    assert(rows == 0L)
    assert(seconds < Audit.RowCountWait.toSeconds / 2, s"took $seconds s")
    val summary = audit.runSummary().collect()
    assert(summary.length == 1)
    assert(summary.head.getAs[String]("status") == "SUCCESS")
    assert(summary.head.getAs[Long]("rows_inserted") == 0L)
  }

  test("header-only CSV: bronze loads 0 rows") {
    val csv = tempDir("load-empty-csv")
    writeFile(csv, "olist_sellers.csv",
      "seller_id,seller_zip_code_prefix,seller_city,seller_state\n")
    val wh = tempDir("load-empty-csv-wh")
    val bronze = new Bronze(spark, wh, new Audit(spark, wh))
    assert(bronze.loadOne(csv, "olist_sellers", Schemas.bronzeSellers, pipe = false) == 0L)
    assert(bronze.table("olist_sellers").count() == 0L)
  }

  test("one bronze load is exactly 2 jobs: the CSV→parquet write and the audit append") {
    val csv = tempDir("load-jobs-csv")
    Fixtures.writeAll(csv)
    val wh = tempDir("load-jobs-wh")
    val bronze = new Bronze(spark, wh, new Audit(spark, wh))
    def load() = bronze.loadOne(csv, "olist_customers", Schemas.bronzeCustomers, pipe = false)
    // a fresh table, then an overwrite of the existing one
    assert(jobsOf(load()) == (5L, 2))
    assert(jobsOf(load()) == (5L, 2))
  }

  test("audit: one row per load, with its start, end and duration") {
    val csv = tempDir("load-audit-csv")
    Fixtures.writeAll(csv)
    val wh = tempDir("load-audit-wh")
    val audit = new Audit(spark, wh)
    new Bronze(spark, wh, audit).loadAll(csv)
    val summary = audit.runSummary().cache()
    assert(summary.count() == 9)
    assert(summary.select("run_id").distinct().count() == 9)
    assert(summary.filter(col("status") =!= "SUCCESS").count() == 0)
    assert(summary.filter(col("load_started_at").isNull || col("load_ended_at").isNull ||
      col("duration_ms").isNull || col("load_ended_at") < col("load_started_at") ||
      col("duration_ms") < 0).count() == 0)
    val customers = summary.filter(col("target_table") === "olist_customers").head()
    assert(customers.getAs[Long]("rows_inserted") == 5L)
  }
}
