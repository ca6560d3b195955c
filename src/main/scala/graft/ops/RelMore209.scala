package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import Tables._

/** Driver-round-10 batch C: streaming observability — the
  * StreamingQueryProgress surface that operates a 100 TB backfill. */
object RelMore209 extends KeyModule {

  /** stream-progress-metrics — per-micro-batch progress accounting
    * from `query.recentProgress`: numInputRows summed across batches
    * must equal the rows the sink aggregated, and `maxFilesPerTrigger`
    * must actually bound each batch (multiple data batches under
    * AvailableNow). This is the observability contract a production
    * stream runs on: progress rows/sec and batch sizes feed lag
    * alerts and autoscaling, and bounded-batch AvailableNow is how a
    * 100 TB backlog drains in controlled chunks (unbounded, the first
    * micro-batch would try to swallow the full backlog and OOM the
    * state store). The staged source is written as 6 files with
    * maxFilesPerTrigger=2, so the run provably splits into ≥2 data
    * batches at any scale factor. Oracle pins the row count from the
    * batch table and both contracts as 1. */
  val streamProgressMetrics: Q = (s, d) => {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val srcDir = new java.io.File(Tables.tmp("progress-src", d))
    s.read.parquet(s"$d/events.parquet").select(col("event_id"), col("event_type"))
      .repartition(6).write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    val schema = s.read.parquet(srcDir.getAbsolutePath).schema
    val name = "stream_progress_metrics"
    s.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val ckpt = Tables.tmp(s"ckpt-$name", d)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2")
      .parquet(srcDir.getAbsolutePath)
      .groupBy().agg(count(lit(1)).as("n_rows"))
      .writeStream.format("memory").queryName(name).outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val progress = q.recentProgress
    val inputRows = progress.map(_.numInputRows).sum
    val dataBatches = progress.count(_.numInputRows > 0)
    val tableRows = s.table(name).collect().head.getLong(0)
    s.range(1).select(
      lit(tableRows).as("n_rows"),
      lit(if (inputRows == tableRows) 1 else 0).as("progress_rows_match"),
      lit(if (dataBatches >= 2) 1 else 0).as("multi_batch"))
  }

  val streamProgressMetricsSql: String =
    """SELECT count(*) AS n_rows,
      |       CAST(1 AS INT) AS progress_rows_match,
      |       CAST(1 AS INT) AS multi_batch
      |FROM events""".stripMargin

  /** stream-state-reader — the Spark 4 state-store BATCH reader:
    * `spark.read.format("statestore").load(checkpoint)` exposes a
    * streaming aggregation's live state as a DataFrame (key struct,
    * value struct = the agg buffer, partition_id), and
    * `format("state-metadata")` lists the stateful operators behind
    * it. At scale this is how streaming state gets audited, backfilled
    * against, and debugged WITHOUT stopping the query or replaying the
    * log — state for a 100 TB-backlog aggregation is itself a table,
    * so every relational audit in this engine applies to it. The op
    * runs a keyed count to a checkpoint, then grades the STATE
    * contents (not the sink) against the batch truth; the metadata
    * flag proves the operator enumeration read the same checkpoint.
    * partition_id is config-dependent and deliberately excluded from
    * the graded output. */
  val streamStateReader: Q = (s, d) => {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val srcDir = new java.io.File(Tables.tmp("state-reader-src", d))
    s.read.parquet(s"$d/events.parquet").select(col("event_id"), col("event_type"))
      .repartition(4).write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    val schema = s.read.parquet(srcDir.getAbsolutePath).schema
    val name = "stream_state_reader"
    s.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val ckpt = Tables.tmp(s"ckpt-$name", d)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val q = s.readStream.schema(schema).parquet(srcDir.getAbsolutePath)
      .groupBy("event_type").agg(count(lit(1)).as("n_events"))
      .writeStream.format("memory").queryName(name).outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val isAggState = s.read.format("state-metadata").load(ckpt)
      .filter(col("operatorName") === "stateStoreSave").count() == 1L
    s.read.format("statestore").load(ckpt)
      .select(col("key.event_type").as("event_type"),
        col("value.count").as("n_events"),
        lit(if (isAggState) 1 else 0).as("agg_operator_listed"))
      .orderBy("event_type")
  }

  val streamStateReaderSql: String =
    """SELECT event_type, count(*) AS n_events,
      |       CAST(1 AS INT) AS agg_operator_listed
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("stream-progress-metrics", streamProgressMetrics, streamProgressMetricsSql),
    Key("stream-state-reader", streamStateReader, streamStateReaderSql))
}
