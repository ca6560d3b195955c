package graft.tools

import graft.{GraftSession, KeyRunner}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Volume bench for the event-time operator family: synthesizes an
  * events table at a requested size (hash-derived, no rand(); per-user
  * streams scattered over ~30 days, in the CURRENT fixture encoding —
  * TimestampType micros, exercising the normalizeEventTs dispatch) and
  * times sessionize / as-of / transition / streaming-window operators
  * end-to-end (noop sink). The graded testdata (sf0.1 ≈ 100k events)
  * proves correctness; this proves the event-time shapes hold at 100×
  * that.
  *
  * Usage: runMain graft.tools.EventsScaleBench [nEvents] [workDir] [q1,q2,...]
  */
object EventsScaleBench {

  def main(args: Array[String]): Unit = {
    val nEvents = args.headOption.map(_.toLong).getOrElse(10000000L)
    val work = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("events-scale").toString)
    val spark = GraftSession.local()

    val nUsers = math.max(100L, nEvents / 100L)
    val t0 = System.nanoTime()
    spark.range(nEvents)
      .select(
        col("id").as("event_id"),
        // scattered over 30 days at 1s grain + sub-second micros;
        // NOT id-ordered, so event-time ops pay their real sorts
        expr("timestamp_micros(CAST(1704067200 AS BIGINT) * 1000000 + " +
          "pmod(hash(id, 3), CAST(2592000 AS BIGINT)) * 1000000 + " +
          "pmod(hash(id, 5), 1000000))").as("ts"),
        pmod(hash(col("id"), lit(7)), lit(nUsers)).cast("long").as("user_id"),
        element_at(
          array(lit("view"), lit("click"), lit("purchase"), lit("error")),
          (pmod(hash(col("id"), lit(11)), lit(4)) + 1).cast("int")).as("event_type"),
        (pmod(hash(col("id"), lit(13)), lit(100000)).cast("double") / 100.0).as("value"),
        concat(lit("{\"k\": "), pmod(hash(col("id"), lit(17)), lit(100)),
          lit("}")).as("props"))
      // the fixture contract is a single parquet FILE at
      // $dir/events.parquet (StreamingOps stages it with a file
      // copy), so write via a scratch dir and move the part file
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$work/_events_stage")
    val part = new java.io.File(s"$work/_events_stage").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    // a prior run may have left a directory-shaped events.parquet here
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"$work/events.parquet"))
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$work/events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    println(f"[events-scale] generate ($nEvents events, $nUsers users): " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    println(s"[events-scale] corpus rows: ${spark.read.parquet(s"$work/events.parquet").count()}")

    val names = args.lift(2).map(_.split(",").toSeq).getOrElse(
      Seq("agg-sessionize", "join-asof", "agg-event-transitions",
        "win-dedup-latest", "stream-window-hourly"))
    KeyRunner.run(spark, work, KeyRunner.Noop, only = Some(names)).foreach { r =>
      r.error.foreach(e => println(s"[events-scale] ${r.name} failed: $e"))
      r.reps.foreach(rep => println(f"[events-scale] ${r.name}: ${rep.wallS}%.1f s"))
    }
    spark.stop()
  }
}
