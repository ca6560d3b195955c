package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.olist.SparkTestBase
import Tables.{dec2, outNum}

/** The stream family: every `stream-*` key replayed at sf0.001 and held
  * against the same answer computed in batch, plus the staging contract
  * of the events source.
  */
class StreamingOpsSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) = graft.SparkEntry.queries(name)(spark, sf)
  private def rows(df: DataFrame) = df.collect().toSeq

  test("stream-agg-counts equals the batch per-type counts and totals") {
    val exp = Tables.events(spark, sf).groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), outNum(sum(dec2(col("value")))).as("total_value"))
      .orderBy("event_type")
    assert(rows(run("stream-agg-counts")) == rows(exp))
  }

  test("stream-dedup-ids: the doubled source dedups back to the batch per-type counts") {
    val exp = Tables.events(spark, sf).dropDuplicates("event_id").groupBy("event_type")
      .agg(count(lit(1)).as("n_events"))
      .orderBy("event_type")
    assert(rows(run("stream-dedup-ids")) == rows(exp))
  }

  test("stream-join-static equals the batch join with the customer segment") {
    val dim = Tables.customer(spark, sf)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    val exp = Tables.events(spark, sf).join(dim, Seq("user_id"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_events"), outNum(sum(dec2(col("value")))).as("total_value"))
      .orderBy("segment")
    assert(rows(run("stream-join-static")) == rows(exp))
  }

  test("stream-progress-metrics: progress rows equal the batch count over several batches") {
    val got = rows(run("stream-progress-metrics"))
    assert(got.size == 1)
    val r = got.head
    assert(r.getAs[Long]("n_rows") == Tables.events(spark, sf).count())
    assert(r.getAs[Int]("progress_rows_match") == 1)
    assert(r.getAs[Int]("multi_batch") == 1)
  }

  test("stream-sink-files: the file sink read back equals the batch filter and rollup") {
    val exp = Tables.events(spark, sf).filter(col("value") >= 100.0)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), outNum(sum(dec2(col("value")))).as("total_value"))
      .orderBy("event_type")
    assert(rows(run("stream-sink-files")) == rows(exp))
  }

  test("stream-state-reader: the state store holds the batch per-type counts") {
    val got = rows(run("stream-state-reader"))
    val exp = rows(Tables.events(spark, sf).groupBy("event_type")
      .agg(count(lit(1)).as("n_events")).orderBy("event_type"))
    assert(got.map(r => (r.getString(0), r.getLong(1))) ==
      exp.map(r => (r.getString(0), r.getLong(1))))
    assert(got.forall(_.getAs[Int]("agg_operator_listed") == 1))
  }

  test("stream-stateful-count: final per-user state equals the batch aggregate") {
    val exp = Tables.events(spark, sf).groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), outNum(sum(dec2(col("value")))).as("total_value"))
      .orderBy("user_id")
    assert(rows(run("stream-stateful-count")) == rows(exp))
  }

  test("stream-window-hourly equals the batch hourly counts") {
    val exp = Tables.events(spark, sf)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
        .as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy("window_start", "event_type")
    assert(rows(run("stream-window-hourly")) == rows(exp))
  }

  test("stream-windowed-topk equals the batch top-2 types per 6-hour window") {
    val win = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100).cast("long")).as("cents"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("cents"))
    val w = Window.partitionBy("window_start")
      .orderBy(col("n_events").desc, col("event_type").asc)
    val exp = win.withColumn("rk", row_number().over(w)).filter(col("rk") <= 2)
      .select(col("window_start"), col("rk"), col("event_type"), col("n_events"),
        (col("cents").cast("double") / 100).as("revenue"))
      .orderBy("window_start", "rk")
    assert(rows(run("stream-windowed-topk")) == rows(exp))
  }

  test("stream-foreachbatch-upsert: one row per user, equal to the batch argmax") {
    val got = run("stream-foreachbatch-upsert").cache()
    val users = got.select("user_id").distinct().count()
    assert(got.count() == users)
    val nUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(users == nUsers)
  }

  test("stream-session-window: sessions partition events and respect the gap") {
    val got = run("stream-session-window").cache()
    // every event lands in exactly one session
    val nEvents = Tables.events(spark, sf).count()
    assert(got.agg(sum("n_events")).head.getLong(0) == nEvents)
    // a user's session count never exceeds their event count, and the
    // session starts within a user are strictly increasing (disjoint)
    val perUser = got.groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_ev"))
    assert(perUser.filter(col("n_sessions") > col("n_ev")).count() == 0)
    assert(got.groupBy("user_id", "session_start").count()
      .filter(col("count") > 1).count() == 0)
  }

  test("stream-late-drop: late rows are dropped, open windows withheld") {
    val got = run("stream-late-drop").cache()
    val counted = got.agg(sum("n_events")).head.getLong(0)
    val total = Tables.events(spark, sf).count()
    // the watermark must have genuinely dropped and withheld something…
    assert(counted < total, s"nothing dropped: $counted of $total counted")
    // …but never invented rows, and never emitted an empty window
    assert(counted > 0)
    assert(got.filter(col("n_events") <= 0).count() == 0)
    // no window may appear twice per type (append emits each window once)
    assert(got.groupBy("window_start", "event_type").count()
      .filter(col("count") > 1).count() == 0)
  }

  test("stream-flatmap-state: final snapshot equals the batch counts") {
    val got = run("stream-flatmap-state").cache()
    val batch = Tables.events(spark, sf)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n_events"))
    assert(got.count() == batch.count())
    assert(got.exceptAll(batch).count() == 0 && batch.exceptAll(got).count() == 0)
  }

  test("stream-stream-join: every pair respects the parity split and time band") {
    val got = run("stream-stream-join").cache()
    assert(got.count() > 0)
    assert(got.filter(col("event_id_a") % 2 =!= 0).count() == 0)
    assert(got.filter(col("event_id_b") % 2 =!= 1).count() == 0)
    // time-band check against the source events
    val ev = Tables.events(spark, sf).select(col("event_id"), col("ts"))
    val joined = got
      .join(ev.select(col("event_id").as("event_id_a"), col("ts").as("ts_a")), Seq("event_id_a"))
      .join(ev.select(col("event_id").as("event_id_b"), col("ts").as("ts_b")), Seq("event_id_b"))
    assert(joined.filter(
      abs(col("ts_b").cast("long") - col("ts_a").cast("long")) > 3600).count() == 0)
  }

  test("stream-left-outer-join equals the batch left join") {
    val got = run("stream-left-outer-join")
    val ev = Tables.events(spark, sf).select(col("event_id"), col("user_id"), col("ts"))
    val a = ev.filter(col("event_id") % 2 === 0)
      .select(col("user_id").as("ua"), col("event_id").as("event_id_a"), col("ts").as("tsa"))
    val b = ev.filter(col("event_id") % 2 === 1)
      .select(col("user_id").as("ub"), col("event_id").as("eb"), col("ts").as("tsb"))
    val exp = a.join(b, col("ua") === col("ub") &&
        col("tsb").between(col("tsa") - expr("INTERVAL 1 HOUR"),
          col("tsa") + expr("INTERVAL 1 HOUR")), "left_outer")
      .select(col("ua").as("user_id"), col("event_id_a"),
        coalesce(col("eb"), lit(-1L)).as("event_id_b"))
    assert(got.exceptAll(exp).count() == 0)
    assert(exp.exceptAll(got).count() == 0)
  }

  test("stream-transform-with-state equals the batch per-type counts + per-user max") {
    val got = run("stream-transform-with-state")
    val ev = Tables.events(spark, sf)
    val t = ev.groupBy("user_id", "event_type").agg(count(lit(1)).as("n_type"))
    val u = ev.groupBy("user_id").agg(max("value").as("max_value"))
    val exp = t.join(u, "user_id")
      .select(col("user_id"), col("event_type"), col("n_type"), col("max_value"))
    assert(got.exceptAll(exp).count() == 0)
    assert(exp.exceptAll(got).count() == 0)
  }

  test("stream-state-timeout: every user closes exactly once with its batch count") {
    val got = run("stream-state-timeout")
    val exp = Tables.events(spark, sf).groupBy("user_id")
      .agg(count(lit(1)).as("n_events"))
    assert(got.exceptAll(exp).count() == 0)
    assert(exp.exceptAll(got).count() == 0)
  }

  test("stream-initial-state: warm-start + stream equals the full batch counts") {
    val got = run("stream-initial-state")
    val exp = Tables.events(spark, sf).groupBy("user_id")
      .agg(count(lit(1)).as("n_events"))
    assert(got.exceptAll(exp).count() == 0)
    assert(exp.exceptAll(got).count() == 0)
  }

  test("stream-windowed-rollup: daily totals equal the batch rollup") {
    val got = run("stream-windowed-rollup")
    val exp = Tables.events(spark, sf)
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(date_trunc("hour", col("ts"))).as("n_hours"))
    assert(got.exceptAll(exp).count() == 0)
    assert(exp.exceptAll(got).count() == 0)
  }

  test("stream-tws-timers: timer-closed counts equal the batch counts") {
    val got = run("stream-tws-timers")
    val exp = Tables.events(spark, sf).groupBy("user_id")
      .agg(count(lit(1)).as("n_events"))
    assert(got.exceptAll(exp).count() == 0)
    assert(exp.exceptAll(got).count() == 0)
  }

  test("stream-tws-list-state: bounded buffer equals the batch top-3") {
    val got = run("stream-tws-list-state")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(desc("ts"), desc("event_id"))
    val exp = Tables.events(spark, sf)
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .groupBy("user_id")
      // collect_list order is partition-dependent: sort by rk explicitly
      .agg(expr("concat_ws(',', transform(array_sort(collect_list(struct(rk, event_id))), s -> s.event_id))").as("latest3"))
    assert(got.exceptAll(exp).count() == 0)
    assert(exp.exceptAll(got).count() == 0)
  }

  test("stream-sliding-window: every window total is the sum of two tumbling halves") {
    val got = run("stream-sliding-window")
    val sliding = got.agg(sum("n_events")).collect()(0).getLong(0)
    // each event lands in exactly two 2h/1h windows
    assert(sliding == 2 * Tables.events(spark, sf).count())
  }

  test("stream-dedup-within-watermark: doubled source dedups back to batch distinct") {
    val got = run("stream-dedup-within-watermark").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exp = Tables.events(spark, sf).groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == exp, s"watermarked dedup must equal batch distinct: $got vs $exp")
  }

  test("stream-multi-batch: three forced micro-batches accumulate to the 3x batch answer") {
    val rows = run("stream-multi-batch").collect()
    val exp = Tables.events(spark, sf).groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1) * 3).toMap
    val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == exp, s"incremental state across batches must equal 3x batch: $got vs $exp")
    // the premise: maxFilesPerTrigger=1 over 3 staged files → ≥3 committed batches
    val offsets = new java.io.File(Tables.tmp("ckpt-stream_multi_batch", sf), "offsets")
    assert(offsets.isDirectory && offsets.list().count(!_.startsWith(".")) >= 3,
      s"expected >=3 offset commits, found ${Option(offsets.list()).map(_.toSeq)}")
  }

  test("stream-incremental-etl: second run does not reprocess the first shard") {
    val rows = run("stream-incremental-etl").collect()
    val direct = Tables.events(spark, sf).groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("event_id").as("ids")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.foreach { r =>
      val (n, ids) = direct(r.getAs[String]("event_type"))
      assert(r.getAs[Long]("n_events") == n, "row count drifted: reprocessing or loss")
      assert(r.getAs[Long]("id_sum") == ids, "id checksum drifted: duplicated shard A")
    }
  }

  test("stream-dead-letter: main + quarantine partition the stream exactly") {
    val rows = run("stream-dead-letter").collect()
    assert(rows.map(_.getAs[String]("sink")).distinct.sorted.sameElements(
      Array("main", "quarantine")))
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(total == Tables.events(spark, sf).count(),
      "routing must neither drop nor duplicate records")
  }

  test("stream-mv-incremental: merged MV state equals the batch recompute") {
    val mv = run("stream-mv-incremental")
    val full = Tables.t(spark, sf, "events")
      .groupBy("user_id").agg(
        count(lit(1)).as("n"),
        sum(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("sum_cents"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_click"),
        max(col("event_id")).as("max_event_id"))
      .select("user_id", "n", "sum_cents", "n_click", "max_event_id")
    assert(mv.count() == full.count())
    assert(mv.except(full).isEmpty && full.except(mv).isEmpty)
  }

  test("stream-kmv-incremental: streamed sketch equals the batch sketch") {
    val out = run("stream-kmv-incremental").collect()
    assert(out.nonEmpty)
    // batch-side KMV from all events at once
    val batch = Tables.t(spark, sf, "events")
      .select(col("event_type"),
        expr("hex_slice_long(md5(CAST(user_id AS STRING)), 1, 13)").as("h"))
      .distinct()
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy("h")))
      .filter(col("rn") === 8)
      .select(col("event_type"), col("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      assert(r.getAs[Long]("kth_hash") == batch(r.getAs[String]("event_type")))
      assert(r.getAs[Int]("n_slots") == 8)
    }
  }

  test("stream-ddsketch-incremental: four additive merge generations equal the batch sketch") {
    // the streamed sketch must be row-identical to the one-shot batch
    // op — bucket counts are associative/commutative under addition,
    // and GenerationStore's replay guard keeps them exactly-once
    val streamed = run("stream-ddsketch-incremental").collect().toSet
    val batch = run("agg-ddsketch-quantile").collect().toSet
    assert(streamed == batch, s"streamed $streamed\nbatch $batch")
  }

  /** Write rows as a single events.parquet FILE at dir/events.parquet
    * (the testdata layout the streaming ops stage from). */
  private def writeEvents(dir: String, rows: Seq[(Long, Long, String, Double)]): Unit = {
    import spark.implicits._
    val stage = tempDir("stream-stale-stage")
    rows.toDF("event_id", "user_id", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).head
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(dir, "events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  test("regenerated events.parquet at the same path is re-staged, not served stale") {
    val dir = tempDir("stream-stale-ds")
    writeEvents(dir, Seq((1L, 10L, "click", 1.0), (2L, 10L, "click", 2.0),
      (3L, 11L, "view", 3.0)))
    val first = StreamingOps.streamAggCounts(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(first == Map("click" -> 2L, "view" -> 1L))

    // regenerate the dataset in place — different content, same path
    writeEvents(dir, Seq((4L, 12L, "view", 4.0), (5L, 12L, "view", 5.0),
      (6L, 13L, "view", 6.0), (7L, 13L, "purchase", 7.0)))
    val second = StreamingOps.streamAggCounts(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(second == Map("view" -> 3L, "purchase" -> 1L),
      s"stale staged copy served: $second")
  }
}
