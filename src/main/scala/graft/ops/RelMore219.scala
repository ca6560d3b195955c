package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import Tables._

/** Round-11 batch I: streaming sketch maintenance — the KMV partial
  * kept fresh per micro-batch (agg-kmv-rolling-merge's streaming twin,
  * stream-mv-incremental's holistic-aggregate sibling). */
object RelMore219 extends KeyModule {

  private val K = 8

  /** stream-kmv-incremental — COUNT DISTINCT maintained by the stream
    * without storing identities: per event_type, the stored state is a
    * K-minimum-values array of 52-bit user-id hashes; each micro-batch
    * contributes its own KMV and the merge is pure array algebra —
    * sort(distinct(stored ∪ batch))[1..K] — which is associative and
    * idempotent, so batch order and replay cannot corrupt the sketch
    * (contrast stream-mv-incremental's additive counters, which DO
    * need exactly-once). Four staged files at maxFilesPerTrigger=1
    * force four merge generations; the oracle recomputes the K-th
    * smallest hash per type from ALL events, so the pass certifies the
    * streamed merge equals the batch sketch — the KMV merge theorem
    * again, now across micro-batches. State is K longs per key
    * regardless of stream length: the 100 TB/day firehose costs the
    * same state as a trickle. Per-batch KMVs use collect_set bounded
    * by the per-type distinct-user domain of ONE micro-batch (and the
    * merge immediately re-caps at K); a firehose deployment swaps that
    * for the capped_distinct_list aggregate, same contract. State
    * commits go through GenerationStore (full next state into a
    * private gen dir, then an atomic manifest-pointer swap + replayed-
    * batch guard), so a crash at ANY point leaves a readable sketch —
    * the r11 delete-then-move swap had a window with no target at all.
    * Types whose distinct-user domain is still < K are DROPPED from
    * the output (a KMV below capacity estimates nothing; its kth slot
    * is undefined), matching both the oracle's WHERE rn = K and
    * agg-kmv-rolling-merge's documented drop-out semantics. */
  val streamKmvIncremental: Q = (s, d) => {
    val root = Tables.tmp("stream-kmv-target", d)
    val ckpt = Tables.tmp("ckpt-stream-kmv", d)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val srcDir = new java.io.File(Tables.tmp("stream-kmv-src", d))
    org.apache.commons.io.FileUtils.deleteQuietly(srcDir)
    s.read.parquet(s"$d/events.parquet")
      .select(col("event_id"), col("user_id"), col("event_type"))
      .repartition(4)
      .write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    val schema = s.read.parquet(srcDir.getAbsolutePath).schema
    val emptyArr = expr("CAST(array() AS ARRAY<BIGINT>)")
    def kmvOf(df: DataFrame): DataFrame =
      df.select(col("event_type"),
          expr("hex_slice_long(md5(CAST(user_id AS STRING)), 1, 13)").as("h"))
        .distinct()
        .groupBy("event_type")
        .agg(slice(array_sort(collect_set(col("h"))), 1, K).as("ks"))
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.getAbsolutePath)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // KMV merge is idempotent, so the replay guard is belt and
        // braces here (contrast RelMore216, where it's load-bearing)
        if (!GenerationStore.alreadyApplied(root, batchId)) {
          val pb = kmvOf(batch)
          val merged = GenerationStore.read(root).dataDir match {
            case Some(dir) =>
              s.read.parquet(dir).as("b")
                .join(pb.as("p"), Seq("event_type"), "full_outer")
                .select(col("event_type"),
                  slice(array_sort(array_distinct(concat(
                    coalesce(col("b.ks"), emptyArr),
                    coalesce(col("p.ks"), emptyArr)))), 1, K).as("ks"))
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
      .filter(size(col("ks")) === K)
      .select(col("event_type"),
        element_at(col("ks"), K).as("kth_hash"),
        size(col("ks")).cast("int").as("n_slots"))
      .withColumn("est_distinct",
        expr(s"(${K - 1}L * ${1L << 52}L) div kth_hash"))
      .select("event_type", "kth_hash", "est_distinct", "n_slots")
      .orderBy("event_type")
  }

  val streamKmvIncrementalSql: String =
    s"""WITH mh AS (
       |  SELECT DISTINCT event_type,
       |         CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) AS h
       |  FROM events),
       |ranked AS (
       |  SELECT event_type, h,
       |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
       |  FROM mh),
       |counts AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c FROM mh GROUP BY 1)
       |SELECT r.event_type, r.h AS kth_hash,
       |       (${K - 1} * ${1L << 52}) // r.h AS est_distinct,
       |       CAST(least($K, c.c) AS INT) AS n_slots
       |FROM ranked r JOIN counts c ON c.event_type = r.event_type
       |WHERE r.rn = $K
       |ORDER BY r.event_type""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("stream-kmv-incremental", streamKmvIncremental, streamKmvIncrementalSql))
}
