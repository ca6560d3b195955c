package graft.olist

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StructType
import scala.util.control.NonFatal

/** CSV → bronze ingest — the Spark re-expression of
  * `etl.sp_bulk_load_bronze` (`03_load_csv_to_bronze.sql:15-75`) and its 9
  * invocations (`:87-115`).
  *
  * Reader config ↔ BULK INSERT options: header=true ↔ FIRSTROW=2;
  * quote='"' ↔ FIELDQUOTE; sep ↔ FIELDTERMINATOR; UTF-8 ↔ CODEPAGE 65001.
  * TABLOCK has no equivalent: the parquet write is parallel per input
  * split, which is what the hint was approximating on a single server.
  * Unlike the silver SPs, a bronze file failure is recorded in the audit
  * trail but does NOT abort the other loads (the reference swallows the
  * error without THROW, `03:65-72`). The 9 loads are independent and
  * run concurrently (`Steps`).
  */
class Bronze(spark: SparkSession, warehouse: String, audit: Audit) {

  /** multiLine=true lets Spark parse quoted fields with embedded newlines
    * natively, replacing the reference's pandas pre-clean
    * (`dataset_olist/fix_order_reviews_dataset.py`); the scrub itself
    * (newlines → space inside the two comment columns) is applied in the
    * silver reviews transform for behavioral parity. */
  def readCsv(path: String, schema: StructType, sep: String): DataFrame =
    spark.read
      .schema(schema)                 // explicit all-string bronze schema — never inferSchema
      .option("header", "true")
      .option("sep", sep)
      .option("quote", "\"")
      .option("escape", "\"")
      .option("multiLine", "true")
      .option("encoding", "UTF-8")
      .option("mode", "PERMISSIVE")   // never fail ingest on bad data (bronze rule, 01:71)
      .csv(path)

  def tablePath(table: String): String = s"$warehouse/bronze/$table"

  /** Load one CSV into its bronze parquet table (truncate+insert =
    * overwrite), audited. Returns rows loaded; -1 on (non-fatal) failure. */
  def loadOne(csvDir: String, table: String, schema: StructType, pipe: Boolean): Long = {
    val sep = if (pipe) "|" else ","
    val csv = s"$csvDir/$table.csv"
    try audit.overwrite("csv", table, "bronze", table, tablePath(table))(readCsv(csv, schema, sep))
    catch {
      case NonFatal(_) =>
        // bronze failures don't cascade (reference has no THROW here)
        -1L
    }
  }

  /** Load all 9 bronze tables (`03:87-115`). */
  def loadAll(csvDir: String): Map[String, Long] = {
    val rows = Steps.run(Schemas.bronzeTables.map { case (table, schema, pipe) =>
      Steps.step(table)(loadOne(csvDir, table, schema, pipe))
    }).toMap
    Bridge.waitUntilEmpty(spark.sparkContext) // see Audit: releases the last write's plan
    rows
  }

  def table(name: String): DataFrame = Schemas.read(spark, warehouse, "bronze", name)
}
