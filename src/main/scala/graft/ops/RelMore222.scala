package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import Tables._

/** Round-12 batch C: the streaming face of the relative-error quantile
  * sketch — the third member of the GenerationStore family, and the
  * second whose merge is ADDITIVE (bucket counts add), so the
  * batchId replay guard is load-bearing exactly as in
  * stream-mv-incremental (contrast stream-kmv-incremental, whose
  * array merge is idempotent and carries the guard as belt and
  * braces). */
object RelMore222 extends KeyModule {

  /** stream-ddsketch-incremental — p50/p90/p99 maintained BY THE
    * STREAM: each micro-batch log-buckets its values with the exact
    * integer base-2^(1/16) index (RelMore221.idxExpr — no float log,
    * both engines agree bit-for-bit) and full-outer ADDS its bucket
    * counts into the stored sketch through GenerationStore's atomic
    * generation/manifest commit; the final quantile walk answers from
    * the merged buckets alone. Four staged files at
    * maxFilesPerTrigger=1 force four merge generations, and the
    * oracle recomputes the identical bucketing + walk + exact k-th
    * over ALL rows, so a pass certifies that four additive merges
    * equal one global sketch — the mergeability theorem, now across
    * micro-batches, with crash-atomicity and replay-dedup inherited
    * from the store. SCALE: per batch the stream pays
    * bucket(|batch|) + a merge join on ≤ ~600 bucket rows; state is
    * the bucket table regardless of stream length, and the 100 TB/day
    * firehose keeps the same ~KB sketch a trickle does. The exact
    * verification rank rides PrefixScan (no unpartitioned window). */
  val streamDdsketchIncremental: Q = (s, d) => {
    val root = Tables.tmp("stream-ddsketch-target", d)
    val ckpt = Tables.tmp("ckpt-stream-ddsketch", d)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val srcDir = new java.io.File(Tables.tmp("stream-ddsketch-src", d))
    org.apache.commons.io.FileUtils.deleteQuietly(srcDir)
    orders(s, d)
      .select(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("c"))
      .repartition(4)
      .write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    val schema = s.read.parquet(srcDir.getAbsolutePath).schema
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.getAbsolutePath)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // additive counts: the replay guard is LOAD-BEARING here
        if (!GenerationStore.alreadyApplied(root, batchId)) {
          val pb = batch.withColumn("idx", expr(RelMore221.idxExpr))
            .groupBy("idx").agg(count(lit(1)).as("cnt"))
          val merged = GenerationStore.read(root).dataDir match {
            case Some(dir) =>
              s.read.parquet(dir).as("b")
                .join(pb.as("p"), Seq("idx"), "full_outer")
                .select(col("idx"),
                  (coalesce(col("b.cnt"), lit(0L)) +
                    coalesce(col("p.cnt"), lit(0L))).as("cnt"))
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
    val buckets = s.read.parquet(GenerationStore.read(root).dataDir.get)
    val scanned = graft.functions.PrefixScan.withRankCumSum(
      buckets, Seq(col("idx")), Some("cnt"), rankName = "rn", cumName = "cum")
    val n = scanned.total
    val ranked = graft.functions.PrefixScan.withRankCumSum(
      s.read.parquet(srcDir.getAbsolutePath), Seq(col("c")), None,
      rankName = "crn").df.sharedCache()
    import s.implicits._
    val qs = Seq(500L, 900L, 990L).toDF("q_pm")
      .withColumn("k", expr(s"(q_pm * ${n}L + 999L) div 1000L"))
    val hit = qs.join(scanned.df, col("cum") >= col("k"))
      .groupBy("q_pm", "k").agg(min("idx").as("idx"))
    val est = hit.select(col("q_pm"), col("k"), col("idx"),
        expr(RelMore221.loExpr).as("lo"), expr(RelMore221.hiExpr).as("hi"))
      .select(col("q_pm"), col("k"), col("idx").as("bucket_idx"),
        expr("(lo + hi) div 2").as("est_cents"),
        expr("(hi - lo + 1) * 500 div lo").as("bound_pm"))
    val exact = est.select("q_pm", "k").join(ranked, col("crn") === col("k"))
      .select(col("q_pm"), col("c").as("exact_cents"))
    est.join(exact, "q_pm")
      .select(col("q_pm"), lit(n).as("n"), col("bucket_idx"),
        col("est_cents"), col("exact_cents"),
        expr("abs(est_cents - exact_cents) * 1000 div exact_cents").as("rel_err_pm"),
        col("bound_pm"))
      .orderBy("q_pm")
  }

  /** Same oracle as the batch op: the streamed four-generation merge
    * must equal the one-shot global sketch. */
  val streamDdsketchIncrementalSql: String = RelMore221.aggDdsketchQuantileSql

  val keys: Seq[Key] = Seq(
    Key("stream-ddsketch-incremental", streamDdsketchIncremental, streamDdsketchIncrementalSql))
}
