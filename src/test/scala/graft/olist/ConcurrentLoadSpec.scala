package graft.olist

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.AtomicInteger

/** Loads running concurrently (`Steps`): the shared audit trail stays one
  * row per load, concurrency adds no Spark job, and the fail-fast
  * contract holds per dependency edge. */
class ConcurrentLoadSpec extends SparkTestBase {

  /** A small frame built inside the load, as the layers build theirs. */
  private def frame(n: Int) = spark.range(n).toDF("id")

  test("audit: 9 concurrent overwrites leave 9 SUCCESS rows with distinct run ids") {
    val wh = tempDir("concurrent-audit")
    val audit = new Audit(spark, wh)
    val rows = Steps.run((1 to 9).map { i =>
      Steps.step(s"t$i")(audit.overwrite("test", s"t$i", "bronze", s"t$i", s"$wh/bronze/t$i")(frame(i)))
    })
    assert(rows == (1 to 9).map(i => s"t$i" -> i.toLong))
    val summary = audit.runSummary().cache()
    assert(summary.count() == 9)
    assert(summary.filter(col("status") === "SUCCESS").count() == 9)
    assert(summary.select("run_id").distinct().count() == 9)
    assert(summary.select("target_table", "rows_inserted").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == rows.toMap)
  }

  test("audit: an overriding subclass sees one lifecycle call at a time") {
    class CountingAudit(spark: SparkSession, wh: String) extends Audit(spark, wh) {
      val inside, most = new AtomicInteger()
      private def counted[T](body: => T): T = {
        most.accumulateAndGet(inside.incrementAndGet(), math.max)
        try body finally inside.decrementAndGet()
      }
      override def started(a: String, b: String, c: String, d: String): Long =
        counted(super.started(a, b, c, d))
      override def succeeded(id: Long, a: String, b: String, c: String, d: String, rows: Long): Unit =
        counted(super.succeeded(id, a, b, c, d, rows))
      override def failed(id: Long, a: String, b: String, c: String, d: String, err: String): Unit =
        counted(super.failed(id, a, b, c, d, err))
    }
    val wh = tempDir("concurrent-audit-sub")
    val audit = new CountingAudit(spark, wh)
    val thrown = intercept[IllegalStateException] {
      Steps.run((1 to 9).map { i =>
        Steps.step(s"t$i")(audit.overwrite("test", s"t$i", "bronze", s"t$i", s"$wh/bronze/t$i") {
          if (i == 5) throw new IllegalStateException("t5 poisoned")
          frame(i)
        })
      })
    }
    assert(thrown.getMessage == "t5 poisoned")
    assert(audit.most.get == 1)
    val statuses = audit.runSummary().groupBy("status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(statuses == Map("SUCCESS" -> 8L, "FAILED" -> 1L))
  }

  test("the load threads inherit the job group: Bronze.loadAll is exactly 9 jobs") {
    val csv = tempDir("concurrent-jobs-csv")
    Fixtures.writeAll(csv)
    val wh = tempDir("concurrent-jobs-wh")
    val bronze = new Bronze(spark, wh, new Audit(spark, wh))
    val (rows, jobs) = jobsOf(bronze.loadAll(csv))
    assert(rows.size == 9 && rows.values.forall(_ > 0))
    assert(jobs == 9) // 9 × CSV→parquet write; the audit rows run no job
  }

  test("a failed silver orders load: 8 other silver loads succeed, no gold load starts") {
    val csv = tempDir("concurrent-poison-csv")
    Fixtures.writeAll(csv)
    // NOT NULL violation on order_purchase_timestamp → silver.orders throws
    writeFile(csv, "olist_orders.csv",
      Fixtures.orders + "o9,c1,shipped,not-a-timestamp,,,,2018-03-17 00:00:00\n")
    val wh = tempDir("concurrent-poison-wh")
    intercept[IllegalStateException](Orchestrator.runAll(spark, csv, wh))
    val rows = new Audit(spark, wh).runSummary().collect()
      .map(r => (r.getAs[String]("target_schema"), r.getAs[String]("target_table"),
        r.getAs[String]("status")))
    val silver = rows.filter(_._1 == "silver").map(r => r._2 -> r._3).toMap
    assert(silver == Schemas.silverTables.map { case (t, _) =>
      t -> (if (t == "orders") "FAILED" else "SUCCESS") }.toMap)
    assert(rows.count(_._1 == "silver") == 9)
    assert(rows.count(_._1 == "bronze") == 9)
    assert(!rows.exists(_._1 == "gold"))
  }
}
