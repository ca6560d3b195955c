package graft.olist

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT64}
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import java.util.UUID
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
  * run row becomes ONE row per load, written at its terminal state:
  * `started` only allocates the run id and notes the start time in
  * memory; `succeeded`/`failed` write the row with status, rows,
  * `load_started_at`, `load_ended_at` and `duration_ms`
  * (`02_create_tables_bronze.sql:117-118`). A FAILED row is durable
  * before the failure propagates. A load whose process dies mid-flight
  * leaves no row (the reference would leave its STARTED row).
  *
  * Each row is its own one-row parquet file, written on the driver
  * with parquet-hadoop through the Hadoop `FileSystem`, so recording a
  * load runs no Spark job. The file is written under a hidden name
  * (`.run-<id>-<uuid>.tmp`, which Spark's reader skips) and then renamed
  * to `part-<id>-<uuid>.parquet`: a reader never sees half a row, and
  * the UUID keeps two instances on one warehouse from overwriting each
  * other's rows even when their run ids collide. Once the row is on
  * disk it is posted on the listener bus as an [[Audit.RowWritten]].
  * Besides making the trail observable to any Spark listener, that
  * event moves every listener queue past the load's last SQL event: a
  * queue's dispatch thread keeps the last event it delivered reachable,
  * and a write's `SparkListenerSQLExecutionEnd` holds its
  * `QueryExecution`, broadcast relations included. The layers drain
  * the bus once their loads end, so nothing pins them after a layer.
  *
  * One instance is shared by a layer's concurrent loads. `withRun`
  * calls `started`, `succeeded` and `failed` under the instance's lock,
  * so a subclass that overrides them sees one call at a time; the lock
  * covers a write of a few milliseconds, never a Spark job.
  */
class Audit(spark: SparkSession, warehouse: String) {

  private val path = s"$warehouse/audit/ingestion_run"
  private val counter = new AtomicLong(System.currentTimeMillis())
  /** run id → (wall-clock ms, monotonic ns) at `started`. */
  private val inFlight = new ConcurrentHashMap[Long, (Long, Long)]()
  /** A copy: the parquet writer records its schema in the configuration. */
  private lazy val conf = new Configuration(spark.sparkContext.hadoopConfiguration)

  /** The run's one durable row. Its end time is the start time plus the
    * monotonic elapsed time, so `load_ended_at >= load_started_at` holds
    * even if the wall clock steps back mid-load. */
  private def write(runId: Long, srcSys: String, srcObj: String, tgtSchema: String,
                    tgtTable: String, status: String, rows: Long, err: Option[String]): Unit = {
    val now = System.currentTimeMillis()
    val (startedAt, endedAt, durationMs) = Option(inFlight.remove(runId)) match {
      case Some((startMs, startNs)) =>
        val ms = (System.nanoTime() - startNs) / 1000000L
        (Long.box(startMs * 1000L), Long.box((startMs + ms) * 1000L), Long.box(ms))
      case None => (null, null, null) // terminal state reported without `started`
    }
    // values in the schema's column order; timestamps as epoch micros
    val row = new SimpleGroup(Audit.FileSchema)
    Seq[Any](runId, srcSys, srcObj, tgtSchema, tgtTable, status, rows, err.orNull,
      now * 1000L, startedAt, endedAt, durationMs).zipWithIndex.foreach {
      case (null, _) => // a null column is left unset
      case (v: Long, i) => row.add(i, v)
      case (v: String, i) => row.add(i, v)
    }
    val name = s"$runId-${UUID.randomUUID()}"
    val tmp = new Path(path, s".run-$name.tmp")
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf).withType(Audit.FileSchema).withDictionaryEncoding(false).build()
    try writer.write(row) finally writer.close()
    val done = new Path(path, s"part-$name.parquet")
    if (!tmp.getFileSystem(conf).rename(tmp, done))
      throw new java.io.IOException(s"audit row: rename $tmp to $done failed")
    Bridge.post(spark.sparkContext, Audit.RowWritten(runId, tgtSchema, tgtTable, status, rows))
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
    * is one write job, with no read-back. `df` is
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
    spark.read.schema(Audit.Schema).parquet(path).orderBy(col("run_id").desc)
}

object Audit {
  private val Schema = StructType(Seq(
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

  /** `Schema` as the parquet columns Spark writes for it: every column
    * optional, strings as `binary (STRING)`, timestamps as
    * `int64 TIMESTAMP(MICROS,true)`. */
  private val FileSchema: MessageType = {
    val b = Types.buildMessage()
    Schema.fields.foreach { f =>
      f.dataType match {
        case LongType => b.optional(INT64).named(f.name)
        case StringType => b.optional(BINARY).as(LogicalTypeAnnotation.stringType()).named(f.name)
        case TimestampType => b.optional(INT64)
          .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS)).named(f.name)
      }
    }
    b.named("spark_schema")
  }

  /** Posted on the listener bus once a load's row is on disk. */
  final case class RowWritten(runId: Long, schema: String, table: String, status: String, rows: Long)
    extends SparkListenerEvent

  /** Upper bound on the wait for a finished write's observed row count. */
  val RowCountWait: FiniteDuration = 60.seconds
}
