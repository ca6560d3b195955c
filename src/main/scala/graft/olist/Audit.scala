package graft.olist

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.concurrent.Await
import scala.concurrent.duration._

/** ETL run audit / lineage — the Spark re-expression of
  * `audit.ingestion_run` (`02_create_tables_bronze.sql:110-124`) and the
  * STARTED→SUCCESS/FAILED lifecycle every reference SP performs
  * (e.g. `sp_load_silver_customers.sql:14-16,48-52,58-62`).
  *
  * Parquet is append-only, so the reference's INSERT-then-UPDATE of the
  * run row becomes ONE row per load, appended at its terminal state:
  * `started` only allocates the run id and notes the start time in
  * memory; `succeeded`/`failed` append the row with status, rows,
  * `load_started_at`, `load_ended_at` and `duration_ms`
  * (`02_create_tables_bronze.sql:117-118`). A FAILED row is durable
  * before the failure propagates. A load whose process dies mid-flight
  * leaves no row (the reference would leave its STARTED row).
  *
  * One instance is shared by a layer's concurrent loads. Its appends are
  * serialized on the instance: concurrent parquet appends into one
  * directory break the file committer (one job's commit deletes the
  * shared `_temporary` directory). `withRun` also calls `started`,
  * `succeeded` and `failed` under that lock, so a subclass that
  * overrides them sees one call at a time.
  */
class Audit(spark: SparkSession, warehouse: String) {

  private val path = s"$warehouse/audit/ingestion_run"
  private val counter = new AtomicLong(System.currentTimeMillis())
  /** run id → (wall-clock ms, monotonic ns) at `started`. */
  private val inFlight = new ConcurrentHashMap[Long, (Long, Long)]()

  private val schema = StructType(Seq(
    StructField("run_id", LongType),
    StructField("source_system", StringType),
    StructField("source_object", StringType),
    StructField("target_schema", StringType),
    StructField("target_table", StringType),
    StructField("status", StringType),
    StructField("rows_inserted", LongType),
    StructField("error_message", StringType),
    StructField("logged_at", TimestampType),
    StructField("load_started_at", TimestampType),
    StructField("load_ended_at", TimestampType),
    StructField("duration_ms", LongType)))

  /** The run's one durable row. Its end time is the start time plus the
    * monotonic elapsed time, so `load_ended_at >= load_started_at` holds
    * even if the wall clock steps back mid-load. */
  private def write(runId: Long, srcSys: String, srcObj: String, tgtSchema: String,
                    tgtTable: String, status: String, rows: Long, err: Option[String]): Unit = {
    val now = System.currentTimeMillis()
    val (startedAt, endedAt, durationMs) = Option(inFlight.remove(runId)) match {
      case Some((startMs, startNs)) =>
        val ms = (System.nanoTime() - startNs) / 1000000L
        (new java.sql.Timestamp(startMs), new java.sql.Timestamp(startMs + ms), Long.box(ms))
      case None => (null, null, null) // terminal state reported without `started`
    }
    val row = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(
        runId, srcSys, srcObj, tgtSchema, tgtTable, status, rows, err.orNull,
        new java.sql.Timestamp(now), startedAt, endedAt, durationMs)),
      schema)
    synchronized(row.write.mode(SaveMode.Append).parquet(path))
  }

  /** INSERT ... 'STARTED'; SCOPE_IDENTITY() → run id (`03:35-37`). Nothing
    * is written until the load reaches its terminal state. */
  def started(srcSys: String, srcObj: String, tgtSchema: String, tgtTable: String): Long = {
    val runId = counter.incrementAndGet()
    inFlight.put(runId, (System.currentTimeMillis(), System.nanoTime()))
    runId
  }

  /** UPDATE ... status='SUCCESS', rows_inserted=@@ROWCOUNT (`03:56-61`). */
  def succeeded(runId: Long, srcSys: String, srcObj: String, tgtSchema: String,
                tgtTable: String, rows: Long): Unit =
    write(runId, srcSys, srcObj, tgtSchema, tgtTable, "SUCCESS", rows, None)

  /** UPDATE ... status='FAILED', error_message=ERROR_MESSAGE() (`03:65-72`). */
  def failed(runId: Long, srcSys: String, srcObj: String, tgtSchema: String,
             tgtTable: String, err: String): Unit =
    write(runId, srcSys, srcObj, tgtSchema, tgtTable, "FAILED", -1L, Some(err))

  /** Wrap a load with the STARTED → SUCCESS/FAILED lifecycle; rethrows on
    * failure (fail-fast contract, `05_sp_master_orchestrator_silver.sql:33-40`). */
  def withRun(srcSys: String, srcObj: String, tgtSchema: String, tgtTable: String)
             (load: => Long): Long = {
    val runId = synchronized(started(srcSys, srcObj, tgtSchema, tgtTable))
    try {
      val rows = load
      synchronized(succeeded(runId, srcSys, srcObj, tgtSchema, tgtTable, rows))
      rows
    } catch {
      case e: Throwable =>
        synchronized(failed(runId, srcSys, srcObj, tgtSchema, tgtTable, e.getMessage))
        throw e
    }
  }

  /** The load protocol of every layer: audited truncate+insert of `df`
    * into `path` (parquet overwrite), returning the rows written. The row
    * count is `@@ROWCOUNT` — observed by the write job itself, so a load
    * is one write job plus one audit append, with no read-back. `df` is
    * built inside the run, so a failure while building it is audited too. */
  def overwrite(srcSys: String, srcObj: String, tgtSchema: String, tgtTable: String,
                path: String, options: Map[String, String] = Map.empty)
               (df: => DataFrame): Long =
    withRun(srcSys, srcObj, tgtSchema, tgtTable) {
      val rows = Observation()
      df.observe(rows, count(lit(1)).as("rows"))
        .write.mode(SaveMode.Overwrite).options(options).parquet(path)
      // the metric arrives on the listener bus just after the write; a
      // bounded wait turns a lost event into a FAILED load, not a hang
      Await.result(rows.future, Audit.RowCountWait).getLong(0)
    }

  /** One row per load, newest first — the reference's load report
    * (`03_load_csv_to_bronze.sql:121-125`) with its per-load duration. */
  def runSummary(): DataFrame =
    spark.read.schema(schema).parquet(path).orderBy(col("run_id").desc)
}

object Audit {
  /** Upper bound on the wait for a finished write's observed row count. */
  val RowCountWait: FiniteDuration = 60.seconds
}
