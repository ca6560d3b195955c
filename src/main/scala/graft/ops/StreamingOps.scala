package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import Tables._

/** The stream family: every `stream-*` key (additive — the reference is
  * pure batch, SURVEY §2.10). Each key replays staged files through a
  * real streaming source with Trigger.AvailableNow
  * (process-everything-then-stop) into a memory table, a parquet sink or
  * a foreachBatch generation store, with event-time windows, watermarks
  * and state stores where the key needs them. The same topology pointed
  * at a live directory/Kafka is the production deployment; AvailableNow
  * makes it deterministic and batch-equivalent, which is what the oracle
  * checks. Every staging, scratch and run decision lives in the replay
  * harness at the top; the keys below only build their queries.
  */
object StreamingOps extends KeyModule {

  // ---- replay harness ----------------------------------------------------

  /** Copy-to-temp + atomic rename: a plain REPLACE_EXISTING copy is a
    * truncate-then-write, so a concurrent reader of the same staged
    * file could see a half-written parquet. A POSIX rename is atomic
    * and an already open handle keeps the old inode, so readers see
    * either the old or the new file, never a torn one. (Staging dirs
    * are additionally pid-namespaced via Tables.tmp, so the writer is
    * the only process in the directory — the rename guards against
    * intra-process concurrency and keeps the invariant local.) */
  private def stageAtomically(src: String, dest: java.io.File): Unit = {
    // dot-prefixed so the FileStreamSource's listing ignores the
    // in-flight temp file (hidden-file convention); pid+thread suffix
    // is unique across processes AND threads
    val tmpFile = new java.io.File(dest.getParentFile,
      "." + dest.getName + ".tmp-" + ProcessHandle.current().pid() +
        "-" + Thread.currentThread().getId)
    java.nio.file.Files.copy(java.nio.file.Paths.get(src), tmpFile.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    java.nio.file.Files.move(tmpFile.toPath, dest.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** A key whose state partitions are sized to the stream, not to the
    * session. The number of state stores a stateful query creates is
    * frozen at checkpoint creation from spark.sql.shuffle.partitions, and
    * EVERY micro-batch pays one state-store commit (snapshot/delta file +
    * fsync) per partition per stateful operator — for a join that is 4
    * stores per partition. State partitions must therefore be sized to
    * the stateful KEY CARDINALITY of the stream: at this fixture's volume
    * (≤100k events) 32 partitions is pure commit overhead, while a
    * 100 TB/day deployment of the same topology would raise the number
    * with cluster size. The session value is restored afterwards, so
    * batch queries are untouched. */
  private def stateful(name: String)(body: Replay => DataFrame): Q =
    (s, d) => withShufflePartitions(s, 4)(body(new Replay(s, d, name)))

  /** A key that runs on the session's shuffle-partition count. */
  private def replay(name: String)(body: Replay => DataFrame): Q =
    (s, d) => body(new Replay(s, d, name))

  /** The state store transformWithState requires. */
  private val RocksDb = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** One key's replay, named `name`: its query, its memory table, its
    * checkpoint `ckpt` and its scratch root (staged sources, sinks, the
    * generation store) all carry the name, so no key touches another
    * key's dirs. Entering stops a stale query of that name and wipes both
    * dirs, so every replay starts from the staged files as they are now
    * (checkpoints and scratch are also namespaced by dataset dir and pid,
    * Tables.tmp). Staged sources read events.ts as a nanos long when the
    * fixture encodes it as int64 TIMESTAMP(NANOS), which Spark 4 rejects
    * without the legacy conf. */
  private final class Replay(val s: SparkSession, val d: String, val name: String) {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    private val root = Tables.tmp(name, d)
    val ckpt: String = Tables.tmp(s"ckpt-$name", d)
    Seq(root, ckpt).foreach(p => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))

    def dir(sub: String): String = s"$root/$sub"

    /** Stages `df` as the one parquet file `dir(sub)/file.parquet`. */
    def stage(df: DataFrame, sub: String, file: String): Unit = {
      val tmpDir = dir(s"stage/$file")
      df.coalesce(1).write.mode("overwrite").parquet(tmpDir)
      val part = new java.io.File(tmpDir).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      new java.io.File(dir(sub)).mkdirs()
      stageAtomically(part.getAbsolutePath, new java.io.File(dir(sub), s"$file.parquet"))
    }

    /** Copies the dataset's events.parquet `copies` times into dir("src").
      * Always a fresh copy: an exists() guard would silently keep serving
      * a stale copy if the dataset at the same path were regenerated. */
    def stageEvents(copies: Int): String = {
      new java.io.File(dir("src")).mkdirs()
      (0 until copies).foreach(i =>
        stageAtomically(s"$d/events.parquet", new java.io.File(dir("src"), s"events_$i.parquet")))
      dir("src")
    }

    /** Writes `df` as `files` parquet files into dir("src"), the source
      * that maxFilesPerTrigger splits into several micro-batches. */
    def stageSplit(df: DataFrame, files: Int): String = {
      df.repartition(files).write.mode("overwrite").parquet(dir("src"))
      dir("src")
    }

    /** A file stream over the staged dir `path`, at most `maxFiles` files
      * per micro-batch when positive. */
    def source(path: String, schema: StructType, maxFiles: Int = 0): DataFrame = {
      val r = s.readStream.schema(schema)
      (if (maxFiles > 0) r.option("maxFilesPerTrigger", maxFiles.toString) else r).parquet(path)
    }

    /** The events table as a stream: one staged copy, read with the
      * schema of the staged file instead of a hard-coded ts encoding (the
      * fixture has shipped both int64-nanos and timestamp[us], and an
      * explicit LongType schema over micros data does not throw — it
      * silently collapses all timestamps 1000×). With `withTs`, ts becomes
      * event_ts; without it, ts is left out. */
    def events(withTs: Boolean): DataFrame = {
      val src = stageEvents(1)
      val inferred = s.read.parquet(src).schema
      if (!withTs) source(src, StructType(inferred.filterNot(_.name == "ts")))
      else {
        // Sanity tripwire on the staged file (batch-side, cheap single-row
        // scan): a unit drift that survives the dtype dispatch would shift
        // timestamps by ~1000× — catch it before it produces plausible but
        // wrong windows.
        val probe = normalizeEventTs(s.read.parquet(src).limit(1)).select(col("ts")).collect()
        probe.headOption.map(_.getTimestamp(0)).foreach { t0 =>
          require(t0.after(java.sql.Timestamp.valueOf("2000-01-01 00:00:00")) &&
            t0.before(java.sql.Timestamp.valueOf("2100-01-01 00:00:00")),
            s"events.ts sanity check failed: first ts=$t0 is outside " +
              "[2000,2100) — probable timestamp-unit drift in the fixture encoding")
        }
        eventTs(source(src, inferred)).drop("ts")
      }
    }

    /** The one run-to-completion path: `df` runs under AvailableNow with
      * this replay's name and checkpoint into the sink `sink` configures. */
    def run(df: DataFrame)(sink: DataStreamWriter[Row] => DataStreamWriter[Row]): StreamingQuery = {
      val q = sink(df.writeStream.queryName(name).option("checkpointLocation", ckpt))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q
    }

    /** Runs `df` into the memory table `name` and returns the table. */
    def toTable(df: DataFrame, mode: String = "complete"): DataFrame = {
      val q = run(df)(_.format("memory").outputMode(mode))
      // Update-mode memory sinks append one row per touched key per
      // micro-batch, so the read-back table is only the final state if
      // ALL input landed in one data batch (true today: single staged
      // file, no maxFilesPerTrigger). Make that invariant explicit —
      // a future multi-file staging or trigger limit must fail loudly
      // here instead of silently duplicating keys.
      if (mode == "update") {
        val dataBatches = q.recentProgress.count(_.numInputRows > 0)
        require(dataBatches <= 1,
          s"$name: update-mode memory sink consumed $dataBatches data micro-batches; " +
            "the single-batch invariant is violated and per-key rows would duplicate")
      }
      s.table(name)
    }

    /** Appends `df` to the parquet sink dir("sink") and reads the sink
      * back. Across runs the sink accumulates, with exactly-once file
      * commits. */
    def toFiles(df: DataFrame): DataFrame = {
      run(df)(_.format("parquet").option("path", dir("sink")))
      s.read.parquet(dir("sink"))
    }

    /** Merges each micro-batch of `df`, as `delta` of it, into the
      * generation store at dir("store") through `merge`, and returns the
      * final generation. */
    def toStore(df: DataFrame)(delta: DataFrame => DataFrame)(
        merge: (DataFrame, DataFrame) => DataFrame): DataFrame = {
      val store = dir("store")
      run(df)(_.foreachBatch { (batch: DataFrame, batchId: Long) =>
        GenerationStore.mergeBatch(s, store, batchId)(delta(batch))(merge)
      })
      s.read.parquet(GenerationStore.read(store).dataDir.get)
    }
  }

  /** Adds event_ts, the microsecond timestamp of `ts` in whatever
    * encoding it arrives (Tables.normalizeEventTs). */
  private def eventTs(df: DataFrame): DataFrame =
    normalizeEventTs(df.withColumn("event_ts", col("ts")), "event_ts")

  /** One row `days` after the latest event of `raw` (ts in epoch nanos,
    * Tables.eventsTsNanos): once it arrives, the watermark passes every
    * real window, session, timer and join band. `ids` are its other
    * columns; no real event matches them. */
  private def sentinel(raw: DataFrame, days: Long, ids: (String, Long)*): DataFrame = {
    val far = raw.agg(max(col("ts"))).head().getLong(0) + days * 86400L * 1000000000L
    raw.limit(1).select(ids.map { case (c, v) => lit(v).as(c) } :+ lit(far).as("ts"): _*)
  }

  // ---- keys --------------------------------------------------------------

  /** stream-agg-counts — streaming groupBy over the event stream,
    * AvailableNow replay: per-type counts and exact decimal totals. */
  val streamAggCounts: Q = stateful("stream_agg_counts") { r =>
    val agg = r.events(withTs = false)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        outNum(sum(dec2(col("value")))).as("total_value"))
    r.toTable(agg).orderBy("event_type")
  }

  val streamAggCountsSql: String =
    """SELECT event_type, count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** stream-window-hourly — event-time tumbling 1-hour windows with a
    * watermark (the late-data contract a live pipeline needs; under
    * AvailableNow replay in complete mode every window is emitted, so
    * the result equals the batch date_trunc aggregation). */
  val streamWindowHourly: Q = stateful("stream_window_hourly") { r =>
    val agg = r.events(withTs = true)
      .withWatermark("event_ts", "1 hour")
      .groupBy(window(col("event_ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"))
    r.toTable(agg).orderBy("window_start", "event_type")
  }

  val streamWindowHourlySql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |       event_type, count(*) AS n_events
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY window_start, event_type""".stripMargin

  /** stream-sliding-window — OVERLAPPING event-time windows (2-hour
    * width, 1-hour slide): every event belongs to exactly TWO windows,
    * so state carries width/slide copies of each aggregate — the
    * window-type matrix completion next to tumbling
    * (stream-window-hourly) and session (stream-session-window)
    * windows. Under AvailableNow complete-mode replay the result
    * equals the batch union of both per-event window assignments,
    * which is what the oracle spells. */
  val streamSlidingWindow: Q = stateful("stream_sliding_window") { r =>
    val agg = r.events(withTs = true)
      .withWatermark("event_ts", "1 hour")
      .groupBy(window(col("event_ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"))
    r.toTable(agg).orderBy("window_start", "event_type")
  }

  val streamSlidingWindowSql: String =
    """SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
      |       event_type, count(*) AS n_events
      |FROM (
      |  SELECT event_type, date_trunc('hour', ts) AS ws FROM events
      |  UNION ALL
      |  SELECT event_type, date_trunc('hour', ts) - INTERVAL 1 HOUR FROM events)
      |GROUP BY 1, 2
      |ORDER BY window_start, event_type""".stripMargin

  /** stream-stateful-count — arbitrary stateful processing via
    * mapGroupsWithState (the KeyValueGroupedDataset custom-state API the
    * reference's batch world has no analogue for): per-user running
    * state of (event count, value cents). Cents are exact longs so the
    * state merge is order-independent; AvailableNow replay makes the
    * final state equal the batch aggregate, which is what the oracle
    * checks. */
  val streamStatefulCount: Q = stateful("stream_stateful_count") { r =>
    import r.s.implicits._
    import org.apache.spark.sql.streaming.GroupState
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val typed = r.events(withTs = false)
      .select(col("user_id"),
        (dec2(col("value")) * 100).cast(LongType).as("cents"))
      .as[(Long, Long)]
    val counted = typed
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[(Long, Long)]) =>
          val (n0, c0) = state.getOption.getOrElse((0L, 0L))
          var n = n0; var c = c0
          rows.foreach { row => n += 1; c += row._2 }
          state.update((n, c))
          (user, n, c / 100.0)
      }
      .toDF("user_id", "n_events", "total_value")
    r.toTable(counted, mode = "update").orderBy("user_id")
  }

  val streamStatefulCountSql: String =
    """SELECT user_id, count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** stream-dedup-ids — streaming exact dedup (dropDuplicates state over
    * the id column). The events file is staged TWICE into the source dir
    * so the stream genuinely carries duplicates; the dedup state must
    * collapse them back to the batch per-type counts. */
  val streamDedupIds: Q = stateful("stream_dedup_ids") { r =>
    val schema = new StructType()
      .add("event_id", LongType).add("event_type", StringType)
    val deduped = r.source(r.stageEvents(2), schema)
      .dropDuplicates("event_id")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"))
    r.toTable(deduped).orderBy("event_type")
  }

  val streamDedupIdsSql: String =
    """SELECT event_type, count(*) AS n_events
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** stream-join-static — stream-static enrichment join: the live event
    * stream joins a batch-loaded dimension (customer segment keyed by
    * user id) inside the streaming query, then aggregates per segment.
    * This is the canonical enrichment topology (stream joins dim, dim
    * re-resolved per micro-batch so slowly-changing dims are picked up);
    * under AvailableNow replay it equals the batch join, which is what
    * the oracle checks. The dim side is dimension-sized → Catalyst
    * broadcasts it into each micro-batch. */
  val streamJoinStatic: Q = stateful("stream_join_static") { r =>
    val dim = customer(r.s, r.d).select(
      col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    val agg = r.events(withTs = false)
      .join(dim, Seq("user_id"), "inner")
      .groupBy("segment")
      .agg(count(lit(1)).as("n_events"),
        outNum(sum(dec2(col("value")))).as("total_value"))
    r.toTable(agg).orderBy("segment")
  }

  val streamJoinStaticSql: String =
    """SELECT c_mktsegment AS segment, count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY segment""".stripMargin

  /** stream-sink-files — the production sink: a stateless streaming
    * transform (filter + projection) appended to a parquet directory
    * with a checkpoint. The file sink's commit log gives exactly-once
    * file-level semantics — a re-run with the same checkpoint adds
    * nothing, a crash mid-batch leaves uncommitted files invisible to
    * readers of the sink (the log, not the directory listing, is the
    * source of truth). The graded output reads the sink back and
    * aggregates; AvailableNow replay makes it equal the batch query.
    * Sink + checkpoint are wiped per run so the replay is
    * deterministic regardless of prior state. */
  val streamSinkFiles: Q = stateful("stream_sink_files") { r =>
    val transformed = r.events(withTs = false)
      .filter(col("value") >= 100.0)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    r.toFiles(transformed)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        outNum(sum(dec2(col("value")))).as("total_value"))
      .orderBy("event_type")
  }

  val streamSinkFilesSql: String =
    """SELECT event_type, count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |WHERE value >= 100.0
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** stream-foreachbatch-upsert — the production warehouse-sink
    * pattern: foreachBatch merges each micro-batch into a keyed target
    * table (upsert: per-user latest event wins), the topology every
    * streaming-into-lakehouse deployment runs where the sink needs
    * MERGE semantics a file sink can't give. The events file is staged
    * twice with one file per micro-batch, so batch 2 re-delivers every
    * key into a non-empty target — the merge's idempotency under
    * redelivery (the exactly-once-effective contract foreachBatch
    * must provide, since it is at-least-once by itself) is actually
    * exercised, not vacuously true. The per-key winner is
    * argmax(event_ts, event_id), a total order, so the final target is
    * invariant to the batch split and equals the batch window oracle.
    * State commits ride GenerationStore (r12): each merge writes its
    * full next generation to a private dir and an atomic
    * manifest-pointer move publishes it — a crash at any byte boundary
    * leaves the previous generation readable (the old delete-then-move
    * swap had a window with no target at all). The latest-wins merge
    * is idempotent, so the store's batchId replay guard is belt and
    * braces here (contrast stream-mv-incremental, where it's
    * load-bearing). */
  val streamForeachUpsert: Q = stateful("stream_foreachbatch_upsert") { r =>
    // schema inferred from the staged file, not hard-coded: the fixture's
    // ts encoding has drifted before (int64-nanos vs timestamp[us]) and a
    // wrong explicit LongType silently collapses all event times 1000×
    val src = r.stageEvents(2)
    val stream = eventTs(r.source(src, r.s.read.parquet(src).schema, maxFiles = 1)).drop("ts")
    val w = Window.partitionBy("user_id").orderBy(col("event_ts").desc, col("event_id").desc)
    def winners(df: DataFrame): DataFrame =
      df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
    r.toStore(stream)(winners)((live, batch) => winners(live.unionByName(batch)))
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("event_type").as("last_type"), col("value").as("last_value"))
      .orderBy("user_id")
  }

  val streamForeachUpsertSql: String =
    """SELECT user_id, event_id AS last_event_id,
      |       event_type AS last_type, value AS last_value
      |FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY user_id
      |    ORDER BY date_trunc('microseconds', ts) DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  /** stream-session-window — event-time session windows (gap-based, the
    * streaming analogue of batch agg-sessionize): Spark merges adjacent
    * per-user state when an event lands within SessionGapMin of an open
    * session; state is per (user, open-session), so scale-out is by
    * user hash — no global state. A session's window end is exclusive
    * (last event + gap), so a gap of EXACTLY SessionGapMin starts a new
    * session; the oracle's lag-diff breaks on >= gap to pin the same
    * boundary rule. Watermark + APPEND mode + file sink (the
    * streamLateDrop two-run choreography, sentinel closes everything
    * real): closed sessions are EMITTED AND EVICTED as the watermark
    * passes them, so state only ever holds open sessions and the sink
    * is distributed files — the previous complete-mode/memory-sink
    * form kept every session in state and collected them all to the
    * driver, which measured fine at 100k sessions and never finished
    * at 10M (EventsScaleBench). The sentinel's own session never
    * closes and is filtered by user_id at read-back. */
  private val SessionGapMin = 10

  val streamSessionWindow: Q = stateful("stream_session_window") { r =>
    val raw = eventsTsNanos(r.s, r.d).select(col("event_id"), col("user_id"), col("ts"))
    def runOnce(): DataFrame = r.toFiles(
      eventTs(r.source(r.dir("src"), raw.schema))
        .withWatermark("event_ts", "1 minute")
        .groupBy(session_window(col("event_ts"), s"$SessionGapMin minutes"),
          col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("session_start"),
          col("n_events")))
    r.stage(raw, "src", "a")
    runOnce()
    r.stage(sentinel(raw, 30, "event_id" -> -100L, "user_id" -> -1L), "src", "b")
    runOnce().filter(col("user_id") >= 0)
      .orderBy("user_id", "session_start")
  }

  val streamSessionWindowSql: String =
    s"""WITH e AS (
       |  SELECT user_id, date_trunc('microseconds', ts) AS ts FROM events),
       |m AS (
       |  SELECT user_id, ts,
       |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
       |                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
       |                   >= INTERVAL $SessionGapMin MINUTE
       |              THEN 1 ELSE 0 END AS brk
       |  FROM e),
       |sess AS (
       |  SELECT user_id, ts,
       |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM m)
       |SELECT user_id,
       |       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       |       count(*) AS n_events
       |FROM sess
       |GROUP BY user_id, sid
       |ORDER BY user_id, session_start""".stripMargin

  /** stream-late-drop — the watermark's actual contract: late data is
    * DROPPED once the watermark passes its window, and only
    * watermark-closed windows are ever emitted in append mode. Unlike
    * the single-replay ops above, this runs TWO AvailableNow executions
    * against one checkpoint + file sink, so the watermark genuinely
    * advances between deliveries:
    *
    *  - run 1 delivers the "on-time" batch A (events before Jan 20,
    *    minus every 5th id); the commit log records
    *    wm1 = max(A.ts) − 1 h;
    *  - run 2 delivers batch B = everything else, i.e. the on-time tail
    *    PLUS the held-back 20% of early events, which now arrive with
    *    event times far below wm1 → state for their windows is gone and
    *    they are dropped; B rows in windows still open under wm1 are
    *    merged and emitted up to wm2 = max(all ts) − 1 h.
    *
    * The oracle reproduces the exact pinned edges (empirical, Spark
    * 4.1: a late row is kept iff window_end > wm; a window is emitted
    * iff window_end <= wm; the watermark itself is computed from the
    * max event time truncated to MILLISECONDS). The file sink
    * accumulates across both runs with exactly-once file commits, so
    * the read-back is the union of both runs' emissions. */
  val streamLateDrop: Q = stateful("stream_late_drop") { r =>
    val raw = eventsTsNanos(r.s, r.d).select(col("event_id"), col("event_type"), col("ts"))
    val timed = eventTs(raw)
    val isEarlyOnTime =
      col("event_ts") < expr("timestamp'2024-01-20 00:00:00'") && col("event_id") % 5 =!= 0
    def runOnce(): DataFrame = r.toFiles(
      eventTs(r.source(r.dir("src"), raw.schema))
        .withWatermark("event_ts", "1 hour")
        .groupBy(window(col("event_ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n_events")))
    r.stage(timed.filter(isEarlyOnTime).drop("event_ts"), "src", "a")
    runOnce()
    r.stage(timed.filter(!isEarlyOnTime).drop("event_ts"), "src", "b")
    runOnce().orderBy("window_start", "event_type")
  }

  val streamLateDropSql: String =
    """WITH ev AS (
      |  SELECT event_id, event_type, date_trunc('microseconds', ts) AS ts
      |  FROM events),
      |a AS (SELECT * FROM ev
      |      WHERE ts < TIMESTAMP '2024-01-20 00:00:00' AND event_id % 5 <> 0),
      |b AS (SELECT * FROM ev
      |      WHERE NOT (ts < TIMESTAMP '2024-01-20 00:00:00' AND event_id % 5 <> 0)),
      |wm1 AS (SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 1 HOUR AS w FROM a),
      |wm2 AS (SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 1 HOUR AS w FROM ev),
      |kept AS (
      |  SELECT * FROM a
      |  UNION ALL
      |  SELECT * FROM b
      |  WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR > (SELECT w FROM wm1)),
      |agg AS (
      |  SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS n_events
      |  FROM kept GROUP BY 1, 2)
      |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type, n_events
      |FROM agg
      |WHERE ws + INTERVAL 1 HOUR <= (SELECT w FROM wm2)
      |ORDER BY window_start, event_type""".stripMargin

  /** stream-flatmap-state — flatMapGroupsWithState, the other half of
    * the custom-state API (mapGroupsWithState emits exactly one row per
    * group per batch; flatMap emits ANY number — here the full per-type
    * snapshot of each user's running counts, the shape a live dashboard
    * sink consumes). State is a per-user Map[event_type → count], an
    * order-free merge; AvailableNow replay makes the final snapshot
    * equal the batch per-(user, type) counts. */
  val streamFlatmapState: Q = stateful("stream_flatmap_state") { r =>
    import r.s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = r.events(withTs = false)
      .select(col("user_id"), col("event_type")).as[(Long, String)]
    val counted = typed
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, String)], state: GroupState[Map[String, Long]]) =>
          val merged = rows.foldLeft(state.getOption.getOrElse(Map.empty[String, Long])) {
            case (m, (_, t)) => m.updated(t, m.getOrElse(t, 0L) + 1L)
          }
          state.update(merged)
          merged.iterator.map { case (t, c) => (user, t, c) }
      }
      .toDF("user_id", "event_type", "n_events")
    r.toTable(counted, mode = "update").orderBy("user_id", "event_type")
  }

  val streamFlatmapStateSql: String =
    """SELECT user_id, event_type, count(*) AS n_events
      |FROM events
      |GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin

  /** stream-stream-join — the real two-stream join: even-id events and
    * odd-id events arrive as two independent streaming sources, joined
    * on user within a ±1 h event-time band. Both sides carry watermarks
    * (that is what bounds the join state buffers in production — each
    * side can discard rows once the other side's watermark passes the
    * band); AvailableNow delivers both sides in one batch, so the
    * emitted matches equal the batch interval join, which is what the
    * oracle checks. Inner join + append mode: matches emit as both
    * sides arrive. */
  val streamStreamJoin: Q = stateful("stream_stream_join") { r =>
    val raw = eventsTsNanos(r.s, r.d).select(col("event_id"), col("user_id"), col("ts"))
    r.stage(raw.filter(col("event_id") % 2 === 0), "src-a", "a")
    r.stage(raw.filter(col("event_id") % 2 === 1), "src-b", "b")
    val joined = bandJoin(r, raw.schema, "inner")
      .select(col("user_a").as("user_id"), col("event_id_a"), col("event_id_b"))
    r.toTable(joined, mode = "append")
      .orderBy("user_id", "event_id_a", "event_id_b")
  }

  /** The ±1 h event-time band join of the even-id events staged in
    * dir("src-a") with the odd-id ones in dir("src-b"), both sides
    * watermarked 2 h. */
  private def bandJoin(r: Replay, schema: StructType, how: String): DataFrame = {
    def side(suffix: String): DataFrame =
      eventTs(r.source(r.dir(s"src-$suffix"), schema))
        .select(col("event_id").as(s"event_id_$suffix"),
          col("user_id").as(s"user_$suffix"),
          col("event_ts").as(s"ts_$suffix"))
        .withWatermark(s"ts_$suffix", "2 hours")
    side("a").join(side("b"),
      expr("user_a = user_b AND " +
        "ts_b BETWEEN ts_a - INTERVAL 1 HOUR AND ts_a + INTERVAL 1 HOUR"), how)
  }

  val streamStreamJoinSql: String =
    """SELECT a.user_id AS user_id, a.event_id AS event_id_a, b.event_id AS event_id_b
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id
      | AND a.event_id % 2 = 0 AND b.event_id % 2 = 1
      | AND date_trunc('microseconds', b.ts)
      |     BETWEEN date_trunc('microseconds', a.ts) - INTERVAL 1 HOUR
      |         AND date_trunc('microseconds', a.ts) + INTERVAL 1 HOUR
      |ORDER BY user_id, event_id_a, event_id_b""".stripMargin

  /** stream-initial-state — warm-starting stateful processing: the
    * mapGroupsWithState overload that seeds per-key state from a BATCH
    * dataset before the first micro-batch. Here the "historical" counts
    * (event_id % 3 == 0, standing in for yesterday's aggregate table)
    * become initial state and only the remainder streams; the final
    * per-user counts must equal the batch aggregate over EVERYTHING —
    * i.e. a pipeline restart from a compacted snapshot loses nothing.
    * At 100 TB this is how stateful jobs bootstrap without replaying
    * the full history through the stream. */
  val streamInitialState: Q = stateful("stream_initial_state") { r =>
    import r.s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    // historical partition → initial state (a batch KeyValueGroupedDataset)
    val hist = eventsTsNanos(r.s, r.d).filter(col("event_id") % 3 === 0)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("n")).as[(Long, Long)]
      .groupByKey(_._1).mapValues(_._2)
    // live stream = the remainder, staged into its own source dir
    val rest = eventsTsNanos(r.s, r.d).filter(col("event_id") % 3 =!= 0)
      .select(col("event_id"), col("user_id"))
    r.stage(rest, "src", "rest")
    val typed = r.source(r.dir("src"), rest.schema)
      .select(col("user_id")).as[Long]
    val counted = typed.groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout(), hist) {
        (user: Long, rows: Iterator[Long], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          (user, n)
      }
      .toDF("user_id", "n_events")
    r.toTable(counted, mode = "update").orderBy("user_id")
  }

  val streamInitialStateSql: String =
    """SELECT user_id, count(*) AS n_events
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** stream-windowed-rollup — CHAINED streaming window aggregations
    * (Spark 3.5+): hourly counts feed a second, daily window aggregate
    * in the same streaming query via window_time() — the streaming
    * form of a rollup cube, with state at BOTH granularities. Chained
    * aggs only run in append mode, so windows emit strictly when the
    * watermark closes them: run 1 delivers all real events (the last
    * day stays open), run 2's far-future sentinel closes everything
    * real. The sentinel's own windows stay open and are never emitted
    * — no filtering needed beyond the read-back. */
  val streamWindowedRollup: Q = stateful("stream_windowed_rollup") { r =>
    val raw = eventsTsNanos(r.s, r.d).select(col("event_id"), col("ts"))
    def runOnce(): DataFrame = {
      val hourly = eventTs(r.source(r.dir("src"), raw.schema))
        .withWatermark("event_ts", "1 hour")
        .groupBy(window(col("event_ts"), "1 hour"))
        .agg(count(lit(1)).as("n_hourly"))
      val daily = hourly
        .groupBy(window(window_time(col("window")), "24 hours").as("day"))
        .agg(sum(col("n_hourly")).as("n_events"),
          count(lit(1)).as("n_hours"))
        .select(date_format(col("day.start"), "yyyy-MM-dd").as("day"),
          col("n_events"), col("n_hours"))
      r.toFiles(daily)
    }
    r.stage(raw, "src", "a")
    runOnce()
    r.stage(sentinel(raw, 30, "event_id" -> -100L), "src", "b")
    runOnce().orderBy("day")
  }

  val streamWindowedRollupSql: String =
    """WITH h AS (
      |  SELECT date_trunc('hour', ts) AS hr, count(*) AS n_hourly
      |  FROM events GROUP BY 1)
      |SELECT strftime(date_trunc('day', hr), '%Y-%m-%d') AS day,
      |       CAST(sum(n_hourly) AS BIGINT) AS n_events,
      |       count(*) AS n_hours
      |FROM h
      |GROUP BY 1
      |ORDER BY day""".stripMargin

  /** stream-state-timeout — GroupStateTimeout.EventTimeTimeout, the
    * state-EVICTION half of the legacy custom-state API (the other ops
    * keep state forever): each user's running count lives in state with
    * a timeout at max(event time)+2h; the group emits NOTHING while
    * open, and exactly one final row from the hasTimedOut branch once
    * the watermark passes its timeout. Run 1 delivers all real events
    * (every group open → sink stays empty); run 2 delivers one
    * far-future sentinel user whose only effect is advancing the
    * watermark → every real group times out and flushes. This is the
    * session-close-and-release pattern: at 100 TB/day state size is
    * |open sessions|, not |users ever seen|. Oracle: the batch per-user
    * counts (every session closes once the stream drains). */
  val streamStateTimeout: Q = stateful("stream_state_timeout") { r =>
    import r.s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val raw = eventsTsNanos(r.s, r.d).select(col("event_id"), col("user_id"), col("ts"))
    def runOnce(): DataFrame = {
      val typed = eventTs(r.source(r.dir("src"), raw.schema))
        .withWatermark("event_ts", "1 hour")
        .select(col("user_id"), col("event_ts")).as[(Long, java.sql.Timestamp)]
      val closed = typed.groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.EventTimeTimeout) {
          (user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
           state: GroupState[(Long, Long)]) =>
            if (state.hasTimedOut) {
              val (n, _) = state.get
              state.remove()
              Iterator.single((user, n))
            } else {
              var (n, maxMs) = state.getOption.getOrElse((0L, 0L))
              rows.foreach { row => n += 1; maxMs = math.max(maxMs, row._2.getTime) }
              state.update((n, maxMs))
              // close 2h (event time) after the last event seen so far
              state.setTimeoutTimestamp(maxMs + 2L * 3600 * 1000)
              Iterator.empty
            }
        }
        .toDF("user_id", "n_events")
      r.toFiles(closed)
    }
    r.stage(raw, "src", "a")
    runOnce()
    r.stage(sentinel(raw, 30, "event_id" -> -100L, "user_id" -> -1L), "src", "b")
    runOnce().filter(col("user_id") >= 0).orderBy("user_id")
  }

  val streamStateTimeoutSql: String =
    """SELECT user_id, count(*) AS n_events
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Per-user processor for stream-transform-with-state: composite
    * state = MapState[event_type → count] + ValueState[max value].
    * Emits the full per-type snapshot for every user touched in the
    * batch (update-mode dashboard shape, like stream-flatmap-state). */
  private class UserStatsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, String, Double), (Long, String, Long, Double)] {
    import org.apache.spark.sql.streaming.{MapState, ValueState, TTLConfig, TimerValues, OutputMode, TimeMode}
    import org.apache.spark.sql.Encoders
    @transient private var typeCounts: MapState[String, Long] = _
    @transient private var maxValue: ValueState[Double] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      typeCounts = getHandle.getMapState[String, Long](
        "typeCounts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
      maxValue = getHandle.getValueState[Double](
        "maxValue", Encoders.scalaDouble, TTLConfig.NONE)
    }
    override def handleInputRows(user: Long, rows: Iterator[(Long, String, Double)],
                                 timerValues: TimerValues): Iterator[(Long, String, Long, Double)] = {
      var mx = if (maxValue.exists()) maxValue.get() else Double.NegativeInfinity
      rows.foreach { case (_, t, v) =>
        val cur = if (typeCounts.containsKey(t)) typeCounts.getValue(t) else 0L
        typeCounts.updateValue(t, cur + 1L)
        if (v > mx) mx = v
      }
      maxValue.update(mx)
      typeCounts.iterator().map { case (t, c) => (user, t, c, mx) }
    }
  }

  /** Per-user processor for stream-tws-list-state: a bounded recent-ids
    * buffer in ListState (append per row, trim via put) — the third
    * state shape of the new API after ValueState and MapState. The
    * buffer keeps the 3 LARGEST (ts, event_id) pairs so the result is
    * order-independent under replay, not arrival-order-dependent. */
  private class RecentIdsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, Long), (Long, String)] {
    import org.apache.spark.sql.streaming.{ListState, TTLConfig, TimerValues, OutputMode, TimeMode}
    import org.apache.spark.sql.Encoders
    @transient private var recent: ListState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      recent = getHandle.getListState[(Long, Long)](
        "recent", Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[(Long, Long, Long)],
                                 timerValues: TimerValues): Iterator[(Long, String)] = {
      rows.foreach { case (_, eid, ts) => recent.appendValue((ts, eid)) }
      val top3 = (if (recent.exists()) recent.get().toSeq else Seq.empty)
        .sortBy { case (ts, eid) => (-ts, -eid) }.take(3)
      recent.put(top3.toArray) // trim: state stays bounded at 3 entries
      Iterator.single((user, top3.map(_._2).mkString(",")))
    }
  }

  /** stream-tws-list-state — transformWithState with LIST state (the
    * third state shape after stream-transform-with-state's Map+Value):
    * per user, the ids of its 3 latest events, the buffer trimmed to 3
    * inside the processor on every batch so state NEVER grows with the
    * stream — the bounded-recent-activity pattern every feed/session
    * service runs. Ordering is (ts, event_id) descending: replay- and
    * partition-order-independent. Oracle: the batch top-3-per-user
    * window. */
  val streamTwsListState: Q = stateful("stream_tws_list_state") { r =>
    import r.s.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    withConfs(r.s, RocksDb) {
      val typed = r.events(withTs = true)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("event_ts")).as("ts_us"))
        .as[(Long, Long, Long)]
      val snap = typed.groupByKey(_._1)
        .transformWithState(new RecentIdsProcessor,
          TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "latest3")
      r.toTable(snap, mode = "update").orderBy("user_id")
    }
  }

  val streamTwsListStateSql: String =
    """WITH r AS (
      |  SELECT user_id, event_id,
      |         row_number() OVER (PARTITION BY user_id
      |           ORDER BY date_trunc('microseconds', ts) DESC, event_id DESC) AS rk
      |  FROM events)
      |SELECT user_id,
      |       string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY rk) AS latest3
      |FROM r WHERE rk <= 3
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Per-user processor for stream-tws-timers: counts events in a
    * ValueState, re-arms an event-time timer at max(event time)+2h on
    * every batch, emits ONLY from the expired-timer callback (then
    * clears state, so later stale timers find nothing and stay
    * silent). */
  private class TimerCloseProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, java.sql.Timestamp), (Long, Long)] {
    import org.apache.spark.sql.streaming.{ValueState, TTLConfig, TimerValues, ExpiredTimerInfo, OutputMode, TimeMode}
    import org.apache.spark.sql.Encoders
    @transient private var nState: ValueState[Long] = _
    @transient private var armedAt: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      nState = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)
      armedAt = getHandle.getValueState[Long]("armedAt", Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
                                 timerValues: TimerValues): Iterator[(Long, Long)] = {
      var n = if (nState.exists()) nState.get() else 0L
      var maxMs = if (armedAt.exists()) armedAt.get() else 0L
      rows.foreach { case (_, ts) => n += 1; maxMs = math.max(maxMs, ts.getTime) }
      nState.update(n)
      // re-arm: drop the previous timer so exactly one is pending
      if (armedAt.exists()) getHandle.deleteTimer(armedAt.get() + 2L * 3600 * 1000)
      getHandle.registerTimer(maxMs + 2L * 3600 * 1000)
      armedAt.update(maxMs)
      Iterator.empty
    }
    override def handleExpiredTimer(user: Long, timerValues: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[(Long, Long)] = {
      if (nState.exists()) {
        val n = nState.get()
        nState.clear(); armedAt.clear()
        Iterator.single((user, n))
      } else Iterator.empty
    }
  }

  /** stream-tws-timers — transformWithState with EVENT-TIME TIMERS
    * (registerTimer / deleteTimer / handleExpiredTimer, TimeMode
    * .EventTime): the new-API twin of stream-state-timeout. Each user
    * re-arms a close timer 2h after its latest event; nothing emits
    * until the watermark passes a timer, then the expired-timer
    * callback flushes the final count and clears state. Two
    * AvailableNow runs: run 1 arms every timer (sink stays empty),
    * run 2's far-future sentinel advances the watermark and fires them
    * all. RocksDB provider required by the API, restored afterwards. */
  val streamTwsTimers: Q = stateful("stream_tws_timers") { r =>
    import r.s.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    withConfs(r.s, RocksDb) {
      val raw = eventsTsNanos(r.s, r.d).select(col("event_id"), col("user_id"), col("ts"))
      def runOnce(): DataFrame = {
        val typed = eventTs(r.source(r.dir("src"), raw.schema))
          .withWatermark("event_ts", "1 hour")
          .select(col("user_id"), col("event_ts")).as[(Long, java.sql.Timestamp)]
        val closed = typed.groupByKey(_._1)
          .transformWithState(new TimerCloseProcessor,
            TimeMode.EventTime(), OutputMode.Append())
          .toDF("user_id", "n_events")
        r.toFiles(closed)
      }
      r.stage(raw, "src", "a")
      runOnce()
      r.stage(sentinel(raw, 30, "event_id" -> -100L, "user_id" -> -1L), "src", "b")
      runOnce().filter(col("user_id") >= 0).orderBy("user_id")
    }
  }

  val streamTwsTimersSql: String =
    """SELECT user_id, count(*) AS n_events
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** stream-transform-with-state — the Spark 4 arbitrary-state API
    * (transformWithState, successor of map/flatMapGroupsWithState):
    * a StatefulProcessor with TWO composite state variables — a
    * MapState (per-type counts: keyed sub-state the old API had to
    * fake inside one blob value) and a ValueState (running max) —
    * over the RocksDB state store provider it requires. Emits each
    * user's per-type snapshot; AvailableNow replay makes the final
    * snapshot equal the batch per-(user, type) counts joined with the
    * per-user max. The provider conf is restored after the run so the
    * legacy-API ops keep exercising the default HDFS-backed store. */
  val streamTransformWithState: Q = stateful("stream_transform_with_state") { r =>
    import r.s.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    withConfs(r.s, RocksDb) {
      val typed = r.events(withTs = false)
        .select(col("user_id"), col("event_type"), col("value"))
        .as[(Long, String, Double)]
      val snap = typed.groupByKey(_._1)
        .transformWithState(new UserStatsProcessor,
          TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "event_type", "n_type", "max_value")
      r.toTable(snap, mode = "update").orderBy("user_id", "event_type")
    }
  }

  val streamTransformWithStateSql: String =
    """WITH t AS (SELECT user_id, event_type, count(*) AS n_type
      |           FROM events GROUP BY 1, 2),
      |u AS (SELECT user_id, max(value) AS max_value FROM events GROUP BY 1)
      |SELECT t.user_id, t.event_type, t.n_type, u.max_value
      |FROM t JOIN u USING (user_id)
      |ORDER BY t.user_id, t.event_type""".stripMargin

  /** stream-left-outer-join — stream-stream LEFT OUTER interval join:
    * the hard half of streaming joins, because the null-padded rows for
    * unmatched left events can only be emitted once the watermark
    * proves no matching right row can still arrive. Like
    * stream-late-drop this runs TWO AvailableNow executions against one
    * checkpoint + file sink: run 1 delivers both real sides (matches
    * emit immediately, unmatched left rows are withheld in state);
    * run 2 delivers one far-future sentinel row per side (impossible
    * user ids −1/−2, so they match nothing) whose only effect is to
    * advance both watermarks past every real event's join window —
    * state for unmatched left rows expires and they flush with a null
    * right side (coalesced to −1: the compare must not depend on
    * engine null-ordering). The file sink accumulates across runs, so
    * the read-back is matches ∪ expired-unmatched = the batch LEFT
    * JOIN, which is what the oracle checks. */
  val streamLeftOuterJoin: Q = stateful("stream_left_outer_join") { r =>
    val raw = eventsTsNanos(r.s, r.d).select(col("event_id"), col("user_id"), col("ts"))
    r.stage(raw.filter(col("event_id") % 2 === 0), "src-a", "a")
    r.stage(raw.filter(col("event_id") % 2 === 1), "src-b", "b")
    def runOnce(): DataFrame = r.toFiles(
      bandJoin(r, raw.schema, "left_outer")
        .select(col("user_a").as("user_id"), col("event_id_a"),
          coalesce(col("event_id_b"), lit(-1L)).as("event_id_b")))
    runOnce()
    // watermark-advancing sentinels: +10 days, unmatched by construction
    r.stage(sentinel(raw, 10, "event_id" -> -100L, "user_id" -> -1L), "src-a", "a2")
    r.stage(sentinel(raw, 10, "event_id" -> -101L, "user_id" -> -2L), "src-b", "b2")
    runOnce().filter(col("user_id") >= 0)
      .orderBy("user_id", "event_id_a", "event_id_b")
  }

  val streamLeftOuterJoinSql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts FROM events),
      |a AS (SELECT * FROM ev WHERE event_id % 2 = 0),
      |b AS (SELECT * FROM ev WHERE event_id % 2 = 1)
      |SELECT a.user_id AS user_id, a.event_id AS event_id_a,
      |       coalesce(b.event_id, -1) AS event_id_b
      |FROM a LEFT JOIN b
      |  ON a.user_id = b.user_id
      | AND b.ts BETWEEN a.ts - INTERVAL 1 HOUR AND a.ts + INTERVAL 1 HOUR
      |ORDER BY user_id, event_id_a, event_id_b""".stripMargin

  /** stream-dedup-within-watermark — Spark 3.5+'s
    * dropDuplicatesWithinWatermark: exact dedup whose state EXPIRES
    * once the watermark passes a key's event time, where plain
    * dropDuplicates keeps every key forever (the state-store OOM that
    * kills long-running dedup streams — at 100 TB/day the unbounded
    * version is simply not deployable). The contract: duplicates are
    * only guaranteed caught while they arrive within the watermark
    * delay of the first sighting — exactly the at-least-once
    * redelivery window of real transports, which redeliver in seconds,
    * not days. The staged source lands the same file twice (every
    * event exactly duplicated, identical timestamps → trivially inside
    * the delay), so the deduped aggregate equals the batch DISTINCT. */
  val streamDedupWithinWatermark: Q = stateful("stream_dedup_within_watermark") { r =>
    // inferred schema + dtype-dispatched conversion: see streamForeachUpsert
    val src = r.stageEvents(2)
    val inferred = r.s.read.parquet(src).schema
    val deduped = eventTs(r.source(src, StructType(inferred.filter(f =>
        Seq("event_id", "event_type", "ts").contains(f.name)))))
      .drop("ts")
      .withWatermark("event_ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"))
    r.toTable(deduped).orderBy("event_type")
  }

  val streamDedupWithinWatermarkSql: String =
    """SELECT event_type, count(*) AS n_events
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** stream-multi-batch — multi-micro-batch replay correctness:
    * maxFilesPerTrigger=1 forces AvailableNow to process three staged
    * files as THREE micro-batches, and the complete-mode aggregate
    * must still equal one batch pass over the union — the incremental-
    * state contract that every other op in this file gets to sidestep
    * by single-file staging (toTable's update-mode guard documents
    * why that shortcut is load-bearing). This op is the positive
    * control: state carried across batch boundaries, counts and sums
    * accumulated incrementally, equal to the 3× batch answer. In
    * production the trigger limit is the backfill throttle (bounded
    * state growth per batch, checkpoint after each), so replaying a
    * month of landed files neither OOMs nor skews results. */
  val streamMultiBatch: Q = stateful("stream_multi_batch") { r =>
    val schema = new StructType()
      .add("event_id", LongType).add("event_type", StringType).add("value", DoubleType)
    val agg = r.source(r.stageEvents(3), schema, maxFiles = 1)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        outNum(sum(dec2(col("value")))).as("total_value"))
    r.toTable(agg).orderBy("event_type")
  }

  val streamMultiBatchSql: String =
    """SELECT event_type, CAST(count(*) * 3 AS BIGINT) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) * 3 AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** stream-incremental-etl — the incremental-batch contract that
    * production file-landing ETL rests on: run 1 processes shard A
    * through a stateless transform into a file sink; shard B lands;
    * run 2 against the SAME checkpoint processes ONLY B (the offset
    * log is the increment tracker — no reprocessing, no dedup pass).
    * The graded rollup over the sink equals one batch pass over A∪B;
    * any reprocessing would double A's contribution and break the
    * checksum. This is stream-multi-batch's sibling: that op proves
    * state carries ACROSS micro-batches in one run, this one proves
    * offsets carry across RUNS — the restart-shaped half of
    * exactly-once. */
  val streamIncrementalEtl: Q = stateful("stream_incremental_etl") { r =>
    val raw = eventsTsNanos(r.s, r.d)
      .select(col("event_id"), col("event_type"), col("value"))
    def runOnce(): DataFrame = r.toFiles(
      r.source(r.dir("src"), raw.schema)
        .select(col("event_id"), col("event_type"),
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents")))
    r.stage(raw.filter(col("event_id") % 2 === 0), "src", "a")
    runOnce()
    r.stage(raw.filter(col("event_id") % 2 === 1), "src", "b")
    runOnce()
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("cents_sum"),
        // xor-style order-free id checksum: doubles on reprocessing
        sum(col("event_id")).as("id_sum"))
      .orderBy("event_type")
  }

  val streamIncrementalEtlSql: String =
    """SELECT event_type, count(*) AS n_events,
      |       CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents_sum,
      |       CAST(sum(event_id) AS BIGINT) AS id_sum
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** stream-dead-letter — the dead-letter-queue topology: one
    * foreachBatch pass routes each micro-batch into a MAIN sink and a
    * QUARANTINE sink by a validity predicate (here: payload key k < 80
    * and non-negative value — standing in for schema-version and range
    * checks), so bad records are preserved for replay instead of
    * crashing the stream or being dropped. The batch is persisted
    * before the two filtered writes — one source read, two sinks, the
    * invariant that makes the split affordable at scale. Graded as
    * per-(sink, event_type) counts: quarantine + main must partition
    * the stream exactly. */
  val streamDeadLetter: Q = stateful("stream_dead_letter") { r =>
    val main = r.dir("main")
    val dlq = r.dir("quarantine")
    val stream = r.events(withTs = false)
      .withColumn("valid",
        get_json_object(col("props"), "$.k").cast(IntegerType) < 80 &&
          col("value") >= 0)
    r.run(stream)(_.foreachBatch { (batch: DataFrame, _: Long) =>
      batch.persist()
      batch.filter(col("valid")).drop("valid")
        .write.mode("append").parquet(main)
      batch.filter(!col("valid")).drop("valid")
        .write.mode("append").parquet(dlq)
      batch.unpersist()
      ()
    })
    val readBack = (dir: String, label: String) =>
      r.s.read.parquet(dir).groupBy("event_type")
        .agg(count(lit(1)).as("n")).withColumn("sink", lit(label))
    readBack(main, "main").unionByName(readBack(dlq, "quarantine"))
      .select("sink", "event_type", "n")
      .orderBy("sink", "event_type")
  }

  val streamDeadLetterSql: String =
    """SELECT CASE WHEN CAST(json_extract_string(props, '$.k') AS INT) < 80
      |            AND value >= 0 THEN 'main' ELSE 'quarantine' END AS sink,
      |       event_type, count(*) AS n
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY sink, event_type""".stripMargin

  /** stream-windowed-topk — the "trending now" panel: 6-hour tumbling
    * event-time windows aggregate (count, revenue) per type in the
    * STREAM (watermarked state, AvailableNow replay), and the top-2
    * types per window come from a BATCH window rank over the result
    * table — the standard two-layer split, because per-window top-k
    * inside streaming state would need a rank-maintaining custom
    * operator for what is a cheap post-pass over the (already tiny)
    * aggregate. Windows align to the epoch exactly as Spark's
    * window() does, which the oracle mirrors with integer epoch
    * arithmetic. */
  val streamWindowedTopk: Q = stateful("stream_windowed_topk") { r =>
    val agg = r.events(withTs = true)
      .withWatermark("event_ts", "1 hour")
      .groupBy(window(col("event_ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100).cast(LongType)).as("cents"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("cents"))
    val tbl = r.toTable(agg)
    val w = Window.partitionBy("window_start").orderBy(col("n_events").desc, col("event_type").asc)
    tbl.withColumn("rk", row_number().over(w)).filter(col("rk") <= 2)
      .select(col("window_start"), col("rk"), col("event_type"), col("n_events"),
        (col("cents").cast(DoubleType) / 100).as("revenue"))
      .orderBy("window_start", "rk")
  }

  val streamWindowedTopkSql: String =
    """WITH win AS (
      |  SELECT strftime(make_timestamp((epoch_us(date_trunc('microseconds', ts)) // 21600000000) * 21600000000), '%Y-%m-%d %H:%M:%S') AS window_start,
      |         event_type, count(*) AS n_events,
      |         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY window_start ORDER BY n_events DESC, event_type) AS rk
      |  FROM win)
      |SELECT window_start, rk, event_type, n_events,
      |       CAST(cents AS DOUBLE) / 100 AS revenue
      |FROM ranked WHERE rk <= 2
      |ORDER BY window_start, rk""".stripMargin

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
  val streamProgressMetrics: Q = replay("stream_progress_metrics") { r =>
    val src = r.stageSplit(
      r.s.read.parquet(s"${r.d}/events.parquet").select(col("event_id"), col("event_type")), 6)
    val q = r.run(r.source(src, r.s.read.parquet(src).schema, maxFiles = 2)
      .groupBy().agg(count(lit(1)).as("n_rows")))(_.format("memory").outputMode("complete"))
    val progress = q.recentProgress
    val inputRows = progress.map(_.numInputRows).sum
    val dataBatches = progress.count(_.numInputRows > 0)
    val tableRows = r.s.table(r.name).collect().head.getLong(0)
    r.s.range(1).select(
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
  val streamStateReader: Q = replay("stream_state_reader") { r =>
    val src = r.stageSplit(
      r.s.read.parquet(s"${r.d}/events.parquet").select(col("event_id"), col("event_type")), 4)
    r.toTable(r.source(src, r.s.read.parquet(src).schema)
      .groupBy("event_type").agg(count(lit(1)).as("n_events")))
    val isAggState = r.s.read.format("state-metadata").load(r.ckpt)
      .filter(col("operatorName") === "stateStoreSave").count() == 1L
    r.s.read.format("statestore").load(r.ckpt)
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
  val streamMvIncremental: Q = replay("stream_mv_incremental") { r =>
    // 4 staged files → 4 micro-batches → 4 merge generations. Columns
    // are pruned to the MV's needs before staging; ts stays out so the
    // op is independent of the fixture's drifting ts encoding.
    val src = r.stageSplit(r.s.read.parquet(s"${r.d}/events.parquet")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value")), 4)
    def states(df: DataFrame): DataFrame =
      df.groupBy("user_id").agg(
        count(lit(1)).as("n"),
        sum(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
          .as("sum_cents"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("n_click"),
        max(col("event_id")).as("max_event_id"))
    val mv = r.toStore(r.source(src, r.s.read.parquet(src).schema, maxFiles = 1))(states) {
      (live, pb) =>
        live.as("b").join(pb.as("p"), Seq("user_id"), "full_outer")
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
    }
    mv.select("user_id", "n", "sum_cents", "n_click", "max_event_id")
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

  /** Slots of the stream-kmv-incremental sketch. */
  private val K = 8

  /** stream-kmv-incremental — COUNT DISTINCT maintained by the stream
    * without storing identities: per event_type, the stored state is a
    * K-minimum-values array of 52-bit user-id hashes; each micro-batch
    * contributes its own KMV and the merge is pure array algebra —
    * sort(distinct(stored ∪ batch))[1..K] — which is associative and
    * idempotent, so batch order and replay cannot corrupt the sketch
    * (contrast stream-mv-incremental's additive counters, which DO
    * need exactly-once; here the store's replay guard is belt and
    * braces). Four staged files at maxFilesPerTrigger=1 force four
    * merge generations; the oracle recomputes the K-th smallest hash
    * per type from ALL events, so the pass certifies the streamed merge
    * equals the batch sketch — the KMV merge theorem again, now across
    * micro-batches (agg-kmv-rolling-merge's streaming twin). State is
    * K longs per key regardless of stream length: the 100 TB/day
    * firehose costs the same state as a trickle. Per-batch KMVs use
    * collect_set bounded by the per-type distinct-user domain of ONE
    * micro-batch (and the merge immediately re-caps at K); a firehose
    * deployment swaps that for the capped_distinct_list aggregate, same
    * contract. State commits go through GenerationStore (full next
    * state into a private gen dir, then an atomic manifest-pointer swap
    * + replayed-batch guard), so a crash at ANY point leaves a readable
    * sketch. Types whose distinct-user domain is still < K are DROPPED
    * from the output (a KMV below capacity estimates nothing; its kth
    * slot is undefined), matching both the oracle's WHERE rn = K and
    * agg-kmv-rolling-merge's documented drop-out semantics. */
  val streamKmvIncremental: Q = replay("stream_kmv_incremental") { r =>
    val src = r.stageSplit(r.s.read.parquet(s"${r.d}/events.parquet")
      .select(col("event_id"), col("user_id"), col("event_type")), 4)
    val emptyArr = expr("CAST(array() AS ARRAY<BIGINT>)")
    def kmvOf(df: DataFrame): DataFrame =
      df.select(col("event_type"),
          expr("hex_slice_long(md5(CAST(user_id AS STRING)), 1, 13)").as("h"))
        .distinct()
        .groupBy("event_type")
        .agg(slice(array_sort(collect_set(col("h"))), 1, K).as("ks"))
    val sketch = r.toStore(r.source(src, r.s.read.parquet(src).schema, maxFiles = 1))(kmvOf) {
      (live, pb) =>
        live.as("b")
          .join(pb.as("p"), Seq("event_type"), "full_outer")
          .select(col("event_type"),
            slice(array_sort(array_distinct(concat(
              coalesce(col("b.ks"), emptyArr),
              coalesce(col("p.ks"), emptyArr)))), 1, K).as("ks"))
    }
    sketch.filter(size(col("ks")) === K)
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

  /** stream-ddsketch-incremental — p50/p90/p99 maintained BY THE
    * STREAM, the streaming face of agg-ddsketch-quantile: each
    * micro-batch log-buckets its values with the exact integer
    * base-2^(1/16) index (RelMore221.idxExpr — no float log, both
    * engines agree bit-for-bit) and full-outer ADDS its bucket counts
    * into the stored sketch through GenerationStore's atomic
    * generation/manifest commit; the final quantile walk answers from
    * the merged buckets alone. Bucket counts add, so the store's
    * batchId replay guard is load-bearing here exactly as in
    * stream-mv-incremental. Four staged files at maxFilesPerTrigger=1
    * force four merge generations, and the oracle recomputes the
    * identical bucketing + walk + exact k-th over ALL rows, so a pass
    * certifies that four additive merges equal one global sketch — the
    * mergeability theorem, now across micro-batches, with
    * crash-atomicity and replay-dedup inherited from the store. SCALE:
    * per batch the stream pays bucket(|batch|) + a merge join on
    * ≤ ~600 bucket rows; state is the bucket table regardless of
    * stream length, and the 100 TB/day firehose keeps the same ~KB
    * sketch a trickle does. The exact verification rank rides
    * PrefixScan (no unpartitioned window). */
  val streamDdsketchIncremental: Q = replay("stream_ddsketch_incremental") { r =>
    val src = r.stageSplit(orders(r.s, r.d)
      .select(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("c")), 4)
    val buckets = r.toStore(r.source(src, r.s.read.parquet(src).schema, maxFiles = 1))(
      _.withColumn("idx", expr(RelMore221.idxExpr)).groupBy("idx").agg(count(lit(1)).as("cnt"))) {
      (live, pb) =>
        live.as("b")
          .join(pb.as("p"), Seq("idx"), "full_outer")
          .select(col("idx"),
            (coalesce(col("b.cnt"), lit(0L)) +
              coalesce(col("p.cnt"), lit(0L))).as("cnt"))
    }
    val scanned = graft.functions.PrefixScan.withRankCumSum(
      buckets, Seq(col("idx")), Some("cnt"), rankName = "rn", cumName = "cum")
    val n = scanned.total
    val ranked = graft.functions.PrefixScan.withRankCumSum(
      r.s.read.parquet(src), Seq(col("c")), None,
      rankName = "crn").df.sharedCache()
    import r.s.implicits._
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
    Key("stream-dead-letter", streamDeadLetter, streamDeadLetterSql),
    Key("stream-incremental-etl", streamIncrementalEtl, streamIncrementalEtlSql),
    Key("stream-dedup-within-watermark", streamDedupWithinWatermark, streamDedupWithinWatermarkSql),
    Key("stream-multi-batch", streamMultiBatch, streamMultiBatchSql),
    Key("stream-transform-with-state", streamTransformWithState, streamTransformWithStateSql),
    Key("stream-state-timeout", streamStateTimeout, streamStateTimeoutSql),
    Key("stream-initial-state", streamInitialState, streamInitialStateSql),
    Key("stream-tws-timers", streamTwsTimers, streamTwsTimersSql),
    Key("stream-tws-list-state", streamTwsListState, streamTwsListStateSql),
    Key("stream-windowed-rollup", streamWindowedRollup, streamWindowedRollupSql),
    Key("stream-left-outer-join", streamLeftOuterJoin, streamLeftOuterJoinSql),
    Key("stream-flatmap-state", streamFlatmapState, streamFlatmapStateSql),
    Key("stream-stream-join", streamStreamJoin, streamStreamJoinSql),
    Key("stream-late-drop", streamLateDrop, streamLateDropSql),
    Key("stream-session-window", streamSessionWindow, streamSessionWindowSql),
    Key("stream-foreachbatch-upsert", streamForeachUpsert, streamForeachUpsertSql),
    Key("stream-sink-files", streamSinkFiles, streamSinkFilesSql),
    Key("stream-agg-counts", streamAggCounts, streamAggCountsSql),
    Key("stream-window-hourly", streamWindowHourly, streamWindowHourlySql),
    Key("stream-sliding-window", streamSlidingWindow, streamSlidingWindowSql),
    Key("stream-stateful-count", streamStatefulCount, streamStatefulCountSql),
    Key("stream-dedup-ids", streamDedupIds, streamDedupIdsSql),
    Key("stream-join-static", streamJoinStatic, streamJoinStaticSql),
    Key("stream-windowed-topk", streamWindowedTopk, streamWindowedTopkSql),
    Key("stream-progress-metrics", streamProgressMetrics, streamProgressMetricsSql),
    Key("stream-state-reader", streamStateReader, streamStateReaderSql),
    Key("stream-mv-incremental", streamMvIncremental, streamMvIncrementalSql),
    Key("stream-kmv-incremental", streamKmvIncremental, streamKmvIncrementalSql),
    Key("stream-ddsketch-incremental", streamDdsketchIncremental, streamDdsketchIncrementalSql))
}
