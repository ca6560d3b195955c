package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import Tables._

/** Round-11 batch F: the streaming face of the materialized-layer
  * family (agg-mv-delta-refresh's per-micro-batch twin). */
object RelMore216 extends KeyModule {

  /** stream-mv-incremental — a per-key aggregate MV maintained BY THE
    * STREAM: each micro-batch is aggregated alone (counts, exact-cents
    * sums, max id, a conditional count) and full-outer state-merged
    * into the stored MV parquet, atomically swapped per batch — the
    * foreachBatch form of agg-mv-delta-refresh's algebra, and the
    * AGGREGATE-merge counterpart of stream-foreachbatch-upsert's
    * row-level latest-wins. The source is staged as 4 files with
    * maxFilesPerTrigger=1, so the MV provably survives ≥4 sequential
    * merge generations before the oracle (a full recompute over all
    * events) grades the final state — associativity and the
    * empty-initial-state edge are both exercised, not assumed.
    * SCALE: per batch the stream pays agg(|batch|) + a merge join on
    * the touched key domain; the events fact is never rescanned —
    * 100 TB of history costs the same per batch as 100 MB. Exactly-
    * once: the checkpoint gives at-least-once batch delivery into
    * foreachBatch, and a replayed batch would DOUBLE-COUNT these
    * additive counters — so every commit goes through GenerationStore,
    * which (a) swaps a manifest pointer atomically (a crash at any
    * point leaves the previous MV readable, never a half-deleted
    * store) and (b) records the last-applied batchId IN THE SAME
    * commit, so a replay whose swap completed before the offset
    * commit is detected (`alreadyApplied`) and skipped. That pairing —
    * state and applied-watermark committed in one atomic unit — is
    * what upgrades at-least-once delivery to exactly-once effect for
    * non-idempotent merges; GenerationStoreSpec kills a writer between
    * the data write and the pointer swap and replays to prove it. */
  val streamMvIncremental: Q = (s, d) => {
    val root = Tables.tmp("stream-mv-target", d)
    val ckpt = Tables.tmp("ckpt-stream-mv", d)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val srcDir = new java.io.File(Tables.tmp("stream-mv-src", d))
    org.apache.commons.io.FileUtils.deleteQuietly(srcDir)
    // 4 staged files → 4 micro-batches → 4 merge generations. Columns
    // are pruned to the MV's needs before staging; ts stays out so the
    // op is independent of the fixture's drifting ts encoding.
    s.read.parquet(s"$d/events.parquet")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .repartition(4)
      .write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    val schema = s.read.parquet(srcDir.getAbsolutePath).schema
    def states(df: DataFrame): DataFrame =
      df.groupBy("user_id").agg(
        count(lit(1)).as("n"),
        sum(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
          .as("sum_cents"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("n_click"),
        max(col("event_id")).as("max_event_id"))
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.getAbsolutePath)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (GenerationStore.alreadyApplied(root, batchId)) ()
        else {
        val pb = states(batch)
        val merged = GenerationStore.read(root).dataDir match {
          case Some(dir) =>
            val mv = s.read.parquet(dir)
            mv.as("b").join(pb.as("p"), Seq("user_id"), "full_outer")
              .select(
                col("user_id"),
                (coalesce(col("b.n"), lit(0L)) +
                  coalesce(col("p.n"), lit(0L))).as("n"),
                (coalesce(col("b.sum_cents"), lit(0L)) +
                  coalesce(col("p.sum_cents"), lit(0L))).as("sum_cents"),
                (coalesce(col("b.n_click"), lit(0L)) +
                  coalesce(col("p.n_click"), lit(0L))).as("n_click"),
                greatest(col("b.max_event_id"), col("p.max_event_id"))
                  .as("max_event_id"))
          case None => pb
        }
        GenerationStore.commit(root, batchId)(
          merged.write.mode("overwrite").parquet(_))
        }
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(GenerationStore.read(root).dataDir.get)
      .select("user_id", "n", "sum_cents", "n_click", "max_event_id")
      .orderBy("user_id")
  }

  val streamMvIncrementalSql: String =
    """SELECT user_id,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
      |         AS sum_cents,
      |       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_click,
      |       max(event_id) AS max_event_id
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("stream-mv-incremental", streamMvIncremental, streamMvIncrementalSql))
}
