package graft.ops

import graft.olist.SparkTestBase
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Crash-atomicity contracts for GenerationStore, the commit protocol
  * under stream-mv-incremental / stream-kmv-incremental. Each test
  * kills a writer at a specific point in the commit sequence and
  * asserts the committed view stays consistent — the properties the
  * r11 delete-then-move swap could not give. */
class GenerationStoreSpec extends SparkTestBase {

  private def freshRoot(tag: String): String = {
    val r = s"/tmp/genstore-spec/$tag"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(r))
    r
  }

  test("crash BETWEEN data write and pointer swap leaves the previous state readable") {
    val root = freshRoot("crash-mid")
    GenerationStore.commit(root, 0L) { dir =>
      spark.range(5).toDF("v").write.parquet(dir)
    }
    // simulated crash: the next generation's data lands fully, but the
    // process dies before the manifest move — exactly the window where
    // delete-then-move had already destroyed the old target
    intercept[RuntimeException] {
      GenerationStore.commit(root, 1L) { dir =>
        spark.range(99).toDF("v").write.parquet(dir)
        throw new RuntimeException("kill -9 between write and swap")
      }
    }
    val st = GenerationStore.read(root)
    assert(st.lastBatchId == 0L, st)
    assert(spark.read.parquet(st.dataDir.get).count() == 5)
    // and the recovery path reuses the batchId cleanly
    GenerationStore.commit(root, 1L) { dir =>
      spark.range(7).toDF("v").write.parquet(dir)
    }
    assert(spark.read.parquet(GenerationStore.read(root).dataDir.get).count() == 7)
  }

  test("replayed batch is detected: committed swap + uncommitted offset cannot double-count") {
    val root = freshRoot("replay")
    def applyBatch(batchId: Long, add: Long): Unit =
      if (!GenerationStore.alreadyApplied(root, batchId)) {
        val prev = GenerationStore.read(root).dataDir
          .map(spark.read.parquet(_).head.getLong(0)).getOrElse(0L)
        GenerationStore.commit(root, batchId) { dir =>
          spark.range(1).select(lit(prev + add).as("sum")).write.parquet(dir)
        }
      }
    applyBatch(0L, 10L)
    applyBatch(1L, 5L)
    // restart replays batch 1 (its swap committed, the stream offset
    // didn't) — the additive merge must NOT run again
    applyBatch(1L, 5L)
    val st = GenerationStore.read(root)
    assert(st.lastBatchId == 1L)
    assert(spark.read.parquet(st.dataDir.get).head.getLong(0) == 15L)
  }

  test("mergeBatch applies a replayed batch id once: no doubled count, no new generation") {
    val root = freshRoot("merge-replay")
    var built = 0
    def applyBatch(batchId: Long, add: Long): Unit =
      GenerationStore.mergeBatch(spark, root, batchId) {
        built += 1
        spark.range(1).select(lit(add).as("n"))
      }((live, delta) => live.unionByName(delta).agg(sum("n").as("n")))
    applyBatch(0L, 10L)
    applyBatch(1L, 5L)
    val before = GenerationStore.read(root)
    val files = new java.io.File(before.dataDir.get).list().toSet
    // the restart re-offers batch 1: the additive merge must not run again
    applyBatch(1L, 5L)
    val after = GenerationStore.read(root)
    assert(after == before, after)
    assert(new java.io.File(after.dataDir.get).list().toSet == files,
      "the replayed batch published a generation")
    assert(spark.read.parquet(after.dataDir.get).head.getLong(0) == 15L,
      "replayed batch was double-counted")
    assert(built == 2, s"the replayed batch's delta was built: $built builds")
  }

  test("a commit at the live batch id throws and leaves the live generation readable") {
    val root = freshRoot("commit-live")
    GenerationStore.commit(root, 3L)(spark.range(6).toDF("v").write.parquet(_))
    val before = GenerationStore.read(root)
    var wrote = false
    Seq(3L, 2L).foreach { id =>
      intercept[IllegalArgumentException](GenerationStore.commit(root, id)(_ => wrote = true))
    }
    assert(!wrote, "the refused commit ran its write")
    assert(GenerationStore.read(root) == before)
    assert(spark.read.parquet(before.dataDir.get).count() == 6)
  }

  test("superseded generations are pruned; orphans from killed writers are invisible") {
    val root = freshRoot("prune")
    GenerationStore.commit(root, 0L) { dir =>
      spark.range(3).toDF("v").write.parquet(dir)
    }
    // orphan from a writer that died pre-swap
    Files.createDirectories(Paths.get(root, "gen-9"))
    Files.writeString(Paths.get(root, "gen-9", "junk"), "partial")
    GenerationStore.commit(root, 1L) { dir =>
      spark.range(4).toDF("v").write.parquet(dir)
    }
    val left = Paths.get(root).toFile.listFiles().map(_.getName).toSet
    assert(left == Set("gen-1", "manifest.json"), left)
  }

  test("real checkpoint replay: deleted offset commit redelivers the batch, additive store doesn't double-count") {
    // The r12 writer-kill specs simulate the replay by calling the
    // guard directly; this one makes SPARK do it. An AvailableNow
    // foreachBatch stream additively merges per-batch counts into the
    // store; after it finishes we delete the checkpoint's LAST offset
    // commit (<ckpt>/commits/N), so on restart Spark believes batch N
    // never completed and redelivers it. The manifest's batchId guard
    // must detect the replay and skip the merge.
    val root = freshRoot("ckpt-replay")
    val ckpt = freshRoot("ckpt-replay-ckpt")
    val srcDir = freshRoot("ckpt-replay-src")
    spark.range(40).selectExpr("id AS v").repartition(4)
      .write.parquet(srcDir)
    val offered = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Long]())
    def runStream(): Unit = {
      val q = spark.readStream
        .schema(spark.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          offered.add(batchId)
          if (!GenerationStore.alreadyApplied(root, batchId)) {
            val prev = GenerationStore.read(root).dataDir
              .map(spark.read.parquet(_).head.getLong(0)).getOrElse(0L)
            val add = batch.count()
            GenerationStore.commit(root, batchId) { dir =>
              spark.range(1).select(lit(prev + add).as("n")).write.parquet(dir)
            }
          }
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.stop()
      // the restart reuses the same checkpoint dir: wait until Spark has
      // fully deregistered this query or the second start() trips the
      // concurrent-checkpoint-use guard
      val deadline = System.nanoTime() + 30e9.toLong
      while (spark.streams.active.nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(spark.streams.active.isEmpty, "first stream never deregistered")
    }
    runStream()
    val st1 = GenerationStore.read(root)
    assert(spark.read.parquet(st1.dataDir.get).head.getLong(0) == 40L)
    val lastBatch = st1.lastBatchId
    // force the redelivery: the offset log says batch N was planned,
    // the missing commit says it never finished
    val commits = Paths.get(ckpt, "commits").toFile.listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty)
    Files.delete(commits.last.toPath)
    // also drop Hadoop's checksum sidecar: a stale .N.crc makes the
    // redelivered batch's atomic commit rename fail, which Spark
    // surfaces as a (spurious) concurrent-checkpoint-use error
    Files.deleteIfExists(
      commits.last.toPath.resolveSibling("." + commits.last.getName + ".crc"))
    runStream()
    // Spark really did re-offer the committed batch...
    assert(offered.toArray.count(_ == lastBatch) >= 2,
      s"expected batch $lastBatch redelivered; offered=$offered")
    // ...and the additive store counted it exactly once
    val st2 = GenerationStore.read(root)
    assert(st2.lastBatchId == lastBatch, st2)
    assert(spark.read.parquet(st2.dataDir.get).head.getLong(0) == 40L,
      "replayed batch was double-counted")
  }

  test("stream-mv-incremental end-to-end state matches after the store rewire") {
    // the op-level guarantee: 4 merge generations through the store,
    // final state equals the batch recompute (oracle parity in-Spark)
    val sf = "/root/testdata/sf0.001"
    val mv = graft.SparkEntry.queries("stream-mv-incremental")(spark, sf)
    val full = Tables.t(spark, sf, "events")
      .groupBy("user_id").agg(
        count(lit(1)).as("n"),
        sum(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("sum_cents"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_click"),
        max(col("event_id")).as("max_event_id"))
    assert(mv.except(full).isEmpty && full.except(mv).isEmpty)
  }
}
