package graft.olist

import org.apache.spark.sql.functions._
import java.io.File
import java.nio.file.Files

/** Fail-fast, audit and idempotence contracts under injected faults: a
  * gold load over a corrupt silver table, then a clean rerun over the
  * same warehouse. */
class FaultInjectionSpec extends SparkTestBase {

  /** Bronze and silver loaded, `silver/orders` overwritten with bytes
    * that are not parquet, then `Gold.run`: (csv dir, warehouse, what
    * `Gold.run` threw). */
  private lazy val poisoned: (String, String, Option[Throwable]) = {
    val csv = tempDir("fault-csv")
    Fixtures.writeAll(csv)
    val wh = tempDir("fault-wh")
    val audit = new Audit(spark, wh)
    val bronze = new Bronze(spark, wh, audit)
    bronze.loadAll(csv)
    Silver.run(spark, wh, bronze, audit)
    val files = new File(s"$wh/silver/orders").listFiles()
    files.filter(_.getName.endsWith(".crc")).foreach(_.delete())
    val parts = files.filter(_.getName.endsWith(".parquet"))
    assert(parts.nonEmpty)
    parts.foreach(f => Files.writeString(f.toPath, "not a parquet file"))
    val thrown = try { Gold.run(spark, wh, audit); None } catch { case e: Throwable => Some(e) }
    (csv, wh, thrown)
  }

  test("poisoned gold load: throws, audits one FAILED fact_orders row after SUCCESS dims") {
    val (_, wh, thrown) = poisoned
    assert(thrown.isDefined, "Gold.run over a corrupt silver.orders must throw")
    val summary = new Audit(spark, wh).runSummary().cache()
    assert(summary.filter(col("status") === "STARTED").count() == 0)
    assert(summary.filter(!col("status").isin("SUCCESS", "FAILED")).count() == 0)
    val failed = summary.filter(col("status") === "FAILED").collect()
    assert(failed.length == 1)
    val f = failed.head
    assert(f.getAs[String]("target_schema") == "gold")
    assert(f.getAs[String]("target_table") == "fact_orders")
    val (started, ended) = (f.getAs[java.sql.Timestamp]("load_started_at"),
      f.getAs[java.sql.Timestamp]("load_ended_at"))
    assert(started != null && ended != null && !ended.before(started))
    assert(f.getAs[Long]("duration_ms") >= 0L)
    val gold = summary.filter(col("target_schema") === "gold")
      .collect().map(r => r.getAs[String]("target_table") -> r.getAs[String]("status")).toMap
    assert(gold == Map("dim_date" -> "SUCCESS", "dim_customer" -> "SUCCESS",
      "dim_product" -> "SUCCESS", "dim_seller" -> "SUCCESS", "fact_orders" -> "FAILED"))
  }

  test("rerun after failure: a clean runAll passes QA and matches a fresh warehouse") {
    val (csv, wh, _) = poisoned
    val rerun = Orchestrator.runAll(spark, csv, wh) // asserts the QA invariants
    val freshWh = tempDir("fault-fresh-wh")
    val fresh = Orchestrator.runAll(spark, csv, freshWh)
    assert(rerun.goldRows == fresh.goldRows)
    Schemas.goldTables.foreach { case (table, _) =>
      val rows = (w: String) => Gold.table(spark, w, table).collect().map(_.toString).sorted.toSeq
      assert(rows(wh) == rows(freshWh), s"gold.$table")
    }
  }
}
