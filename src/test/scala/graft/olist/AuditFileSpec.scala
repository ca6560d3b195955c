package graft.olist

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.SparkFirehoseListener
import org.apache.spark.scheduler.{SparkListenerBlockUpdated, SparkListenerEvent,
  SparkListenerExecutorMetricsUpdate}
import org.apache.spark.sql.{Row, SaveMode}
import java.io.File
import java.nio.file.Files
import java.sql.Timestamp

/** The audit trail's storage: one parquet file per row, written without
  * a Spark job under a hidden name and renamed into place, and a
  * listener event once the row is on disk. */
class AuditFileSpec extends SparkTestBase {

  private def dir(wh: String) = new File(s"$wh/audit/ingestion_run")

  private def rows(audit: Audit): Seq[Row] = audit.runSummary().collect().toSeq

  private def micros(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000

  /** The one row of a `part-*.parquet` file, read with parquet-hadoop. */
  private def rawRow(f: File): Group = {
    val reader = ParquetReader.builder(new GroupReadSupport(), new Path(f.getPath)).build()
    try reader.read() finally reader.close()
  }

  test("a stray hidden .run-*.tmp file leaves runSummary unchanged") {
    val wh = tempDir("audit-stray")
    val audit = new Audit(spark, wh)
    audit.withRun("test", "a", "bronze", "a")(1L)
    audit.withRun("test", "b", "bronze", "b")(2L)
    val before = rows(audit)
    // a writer that died before its rename leaves half a file behind
    Files.writeString(new File(dir(wh), ".run-1-dead.tmp").toPath, "PAR1 half a footer")
    assert(rows(audit) == before)
    assert(before.length == 2)
  }

  test("two instances whose run ids collide keep both rows") {
    val wh = tempDir("audit-collide")
    val (a, b) = (new Audit(spark, wh), new Audit(spark, wh))
    a.succeeded(42L, "test", "a", "bronze", "a", 1L)
    b.succeeded(42L, "test", "b", "bronze", "b", 2L)
    assert(rows(a).map(r => (r.getAs[Long]("run_id"), r.getAs[String]("target_table"))).sorted ==
      Seq(42L -> "a", 42L -> "b"))
  }

  test("timestamps, duration_ms and a null error_message read back exactly as written") {
    val wh = tempDir("audit-exact")
    val audit = new Audit(spark, wh)
    val t0 = System.currentTimeMillis()
    audit.withRun("test", "t", "silver", "t") { Thread.sleep(20); 7L }
    val t1 = System.currentTimeMillis()
    val r = rows(audit).head
    val (logged, started, ended) = (r.getAs[Timestamp]("logged_at"),
      r.getAs[Timestamp]("load_started_at"), r.getAs[Timestamp]("load_ended_at"))
    val duration = r.getAs[Long]("duration_ms")
    assert(r.isNullAt(r.fieldIndex("error_message")))
    assert(r.getAs[Long]("rows_inserted") == 7L && r.getAs[String]("status") == "SUCCESS")
    assert(t0 <= started.getTime && started.getTime <= ended.getTime && ended.getTime <= t1)
    assert(t0 <= logged.getTime && logged.getTime <= t1)
    assert(ended.getTime - started.getTime == duration && duration >= 20L)
    // the file's own values and column types
    val files = dir(wh).listFiles().filter(_.getName.startsWith("part-"))
    assert(files.length == 1 && files.head.getName.matches(s"part-${r.getAs[Long]("run_id")}-[0-9a-f-]{36}\\.parquet"))
    val raw = rawRow(files.head)
    assert(raw.getLong("logged_at", 0) == micros(logged))
    assert(raw.getLong("load_started_at", 0) == micros(started))
    assert(raw.getLong("load_ended_at", 0) == micros(ended))
    assert(raw.getLong("duration_ms", 0) == duration)
    assert(raw.getFieldRepetitionCount("error_message") == 0)
    val schema = raw.getType.toString
    assert(schema.contains("optional binary target_table (STRING)"), schema)
    assert(schema.contains("optional int64 load_started_at (TIMESTAMP(MICROS,true))"), schema)
    // Spark infers the declared schema from the file alone
    assert(spark.read.parquet(dir(wh).getPath).schema == audit.runSummary().schema)
  }

  test("a terminal call without started writes null start and end times") {
    val wh = tempDir("audit-nostart")
    val audit = new Audit(spark, wh)
    audit.failed(7L, "test", "t", "gold", "t", "boom")
    val r = rows(audit).head
    Seq("load_started_at", "load_ended_at", "duration_ms").foreach(c => assert(r.isNullAt(r.fieldIndex(c)), c))
    assert(r.getAs[String]("status") == "FAILED" && r.getAs[String]("error_message") == "boom")
    assert(r.getAs[Long]("rows_inserted") == -1L && r.getAs[Timestamp]("logged_at") != null)
  }

  test("runSummary reads rows appended by Spark beside file-per-row rows") {
    val wh = tempDir("audit-mixed")
    val audit = new Audit(spark, wh)
    audit.withRun("test", "new", "bronze", "new")(3L)
    val old = rows(audit).head
    // a row as a Spark parquet append writes it
    spark.createDataFrame(java.util.List.of(Row.fromSeq(old.toSeq.updated(0, 1L).updated(4, "old"))),
      audit.runSummary().schema).write.mode(SaveMode.Append).parquet(dir(wh).getPath)
    assert(rows(audit).map(r => (r.getAs[Long]("run_id"), r.getAs[String]("target_table"))) ==
      Seq(old.getAs[Long]("run_id") -> "new", 1L -> "old"))
  }

  test("after Gold.run returns, a listener's last event is the last audit row") {
    val csv = tempDir("audit-event-csv")
    Fixtures.writeAll(csv)
    val wh = tempDir("audit-event-wh")
    val audit = new Audit(spark, wh)
    val bronze = new Bronze(spark, wh, audit)
    bronze.loadAll(csv)
    Silver.run(spark, wh, bronze, audit)
    @volatile var last: Option[SparkListenerEvent] = None
    // heartbeats and block updates arrive on their own schedule, not the pipeline's
    val listener = new SparkFirehoseListener {
      override def onEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerExecutorMetricsUpdate | _: SparkListenerBlockUpdated =>
        case _ => last = Some(e)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Gold.run(spark, wh, audit)
      last match {
        case Some(Audit.RowWritten(_, "gold", table, "SUCCESS", rows)) =>
          assert(Set("fact_order_items", "fact_reviews")(table) && rows > 0)
        case other => fail(s"last event $other")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
