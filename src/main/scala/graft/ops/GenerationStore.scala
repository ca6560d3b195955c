package graft.ops

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Crash-atomic state commits for foreachBatch-maintained stores —
  * the generation-dir + manifest-pointer pattern sink-manifest-atomic
  * established (RelMore14), factored out because every streaming MV /
  * sketch op needs the same discipline:
  *
  *  - each micro-batch writes its FULL next state into a fresh private
  *    directory `gen-<batchId>` (never mutating the live one),
  *  - a single tiny manifest file is then swapped into place with an
  *    ATOMIC_MOVE — visibility IS the manifest write, so a crash at any
  *    byte boundary leaves either the old pointer or the new one,
  *    never a half-deleted store (the r11 delete-then-move swap had a
  *    window where the target existed partially or not at all),
  *  - the manifest records the last-applied batchId, so a restart that
  *    REPLAYS a batch whose swap committed before the streaming
  *    checkpoint's offset commit can detect it (`batchId <=
  *    lastBatchId`) and skip — the missing half of exactly-once for
  *    additive (non-idempotent) merges like stream-mv-incremental's
  *    counters. Idempotent merges (KMV) get the same guard as belt
  *    and braces.
  *
  * Superseded generations are pruned AFTER the pointer moves: once the
  * manifest names gen-N, gen-(N-1) is unreachable garbage; a crash mid-
  * prune leaves only orphan dirs that no reader resolves. All I/O here
  * is driver-side metadata (a <100-byte manifest) — data bytes move
  * executor-side through the parquet writes the caller performs. On a
  * real deployment the same pattern runs against an object store
  * (conditional PUT replacing ATOMIC_MOVE). */
object GenerationStore {

  /** The committed view of a store: the live generation's data dir (None
    * before the first commit) and the last batchId whose commit
    * completed. */
  final case class State(dataDir: Option[String], lastBatchId: Long)

  private def manifest(root: String) = Paths.get(root, "manifest.json")

  def read(root: String): State = {
    val m = manifest(root)
    if (!Files.exists(m)) State(None, -1L)
    else {
      // manifest is {"gen":"gen-<id>","batchId":<id>} — written by this
      // object only; validate the shape so a truncated/legacy/corrupt
      // manifest fails with the root and contents named rather than an
      // opaque ArrayIndexOutOfBounds deep inside foreachBatch
      val s = Files.readString(m)
      val shape = """\{"gen":"(gen-\d+)","batchId":(\d+)\}""".r
      s.trim match {
        case shape(gen, bid) => State(Some(Paths.get(root, gen).toString), bid.toLong)
        case other => throw new IllegalStateException(
          s"GenerationStore manifest at $m is corrupt or from an " +
          s"incompatible version; refusing to guess. Contents: <$other>. " +
          "Manual intervention required: delete the store root to rebuild.")
      }
    }
  }

  /** True iff `batchId` was already applied (replay after a crash that
    * committed the swap but not the streaming offset). */
  def alreadyApplied(root: String, batchId: Long): Boolean =
    batchId <= read(root).lastBatchId

  /** Apply one foreachBatch micro-batch exactly once: a replayed
    * `batchId` is skipped before its `delta` is even built; otherwise
    * `delta` is merged with the live generation by `merge(live, delta)`
    * (or stands alone before the first commit) and committed as the
    * next generation. */
  def mergeBatch(s: SparkSession, root: String, batchId: Long)(delta: => DataFrame)(
      merge: (DataFrame, DataFrame) => DataFrame): Unit =
    if (!alreadyApplied(root, batchId)) {
      val next = read(root).dataDir.fold(delta)(dir => merge(s.read.parquet(dir), delta))
      commit(root, batchId)(next.write.mode("overwrite").parquet(_))
    }

  /** Commit one generation: `write` receives the private gen dir to
    * fill (typically df.write.parquet), then the manifest pointer is
    * swapped atomically and superseded generations are pruned. A
    * `batchId` not beyond the live one is refused before anything is
    * deleted: its gen dir may be the live generation. */
  def commit(root: String, batchId: Long)(write: String => Unit): Unit = {
    val liveBatch = read(root).lastBatchId
    require(batchId > liveBatch, s"GenerationStore $root: batch $batchId is not beyond the live batch $liveBatch")
    Files.createDirectories(Paths.get(root))
    val genName = s"gen-$batchId"
    val genDir = Paths.get(root, genName)
    org.apache.commons.io.FileUtils.deleteQuietly(genDir.toFile)
    write(genDir.toString)
    val tmp = Paths.get(root, "manifest.json.tmp")
    Files.writeString(tmp, s"""{"gen":"$genName","batchId":$batchId}""")
    Files.move(tmp, manifest(root),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    // prune: everything except the live generation and the manifest
    val live = Set(genName, "manifest.json")
    Option(Paths.get(root).toFile.listFiles()).getOrElse(Array.empty)
      .filterNot(f => live.contains(f.getName))
      .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }
}
