package graft

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.sum
import org.apache.spark.sql.graftbridge.Bridge

/** The one code path that executes registry keys. `Bench`, `Verify`,
  * `QTime` and the scale benches call `run`, so the warm-up, the canary,
  * the materializing action, cache release, failure capture and the
  * per-key profile are decided here once. */
object KeyRunner {

  type Fn = (SparkSession, String) => DataFrame

  /** How a key's frame is materialized. Every sink writes every row and
    * column: `count()` would let ColumnPruning drop whatever it does not
    * need, and the timed plan would not be the one the oracle checks. */
  sealed trait Sink { def write(name: String, df: DataFrame): Unit }

  /** Timing: the noop sink, which produces the whole result and keeps none of it. */
  case object Noop extends Sink {
    def write(name: String, df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  }

  /** Dumps: one parquet file per key under `dir/<name>`, for the oracle compare. */
  final case class Parquet(dir: String) extends Sink {
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
  }

  /** One stage of a rep: submission to completion, and the sums over its tasks. */
  final case class Stage(id: Int, name: String, wallMs: Long, tasks: Int, taskMs: Long,
                         schedMs: Long, gcMs: Long, shuffleWriteBytes: Long, spillBytes: Long)

  /** One rep: its wall (build plus materialization) and its profile —
    * its jobs, its stages in submission order, and the wall no job
    * covered (driver-side planning, eager collects and loops between
    * jobs). Task time is executor run time; scheduler delay is the rest
    * of each task's duration. */
  final case class Rep(wallS: Double, jobs: Int, stages: Seq[Stage], driverGapMs: Long) {
    private def sumOf(f: Stage => Long): Long = stages.map(f).sum

    /** The profile's totals, in the order and under the names Bench's JSON uses. */
    def totals: Seq[(String, Long)] = Seq("jobs" -> jobs.toLong, "stages" -> stages.size.toLong,
      "tasks" -> sumOf(_.tasks.toLong), "task_ms" -> sumOf(_.taskMs), "sched_ms" -> sumOf(_.schedMs),
      "gc_ms" -> sumOf(_.gcMs), "shuffle_write_bytes" -> sumOf(_.shuffleWriteBytes),
      "spill_bytes" -> sumOf(_.spillBytes), "driver_gap_ms" -> driverGapMs)
  }

  /** One key's outcome. A key that throws keeps its error and no reps, so
    * it is never timed; `blockPuts` counts the `Block … already exists`
    * WARNs logged while the key ran (the same persisted block computed
    * twice). */
  final case class KeyRun(name: String, canaryS: Double, reps: Seq[Rep], blockPuts: Int,
                          error: Option[Throwable]) {
    def ok: Boolean = error.isEmpty
  }

  /** Sum of rep `rep`'s wall over the keys that did not fail. */
  def total(runs: Seq[KeyRun], rep: Int): Double = runs.filter(_.ok).map(_.reps(rep).wallS).sum

  /** Runs `keys` (default: the whole registry, in `SparkEntry.queries`
    * order), or the subset named in `only`, each `reps` times into
    * `sink`. Before each key a fixed canary is timed, so a reader can
    * discard a window that host load contaminated. Each rep is the
    * key's build plus its materialization, then `clearCache`, so every
    * rep pays its own persists. */
  def run(spark: SparkSession, sfDir: String, sink: Sink, reps: Int = 1,
          only: Option[Seq[String]] = None,
          keys: Seq[(String, Fn)] = SparkEntry.queries.toSeq): Seq[KeyRun] = {
    val selected = only.fold(keys) { names =>
      val unknown = names.filterNot(keys.map(_._1).toSet)
      require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(", ")}")
      keys.filter { case (name, _) => names.contains(name) }
    }
    // compile the codegen, shuffle and parquet machinery, and the
    // canary's own plan, outside any measured window
    spark.range(1000).selectExpr("id % 7 AS k", "id AS v").groupBy("k").count().count()
    canary(spark)
    val sc = spark.sparkContext
    val profiler = new Profiler
    // block-put WARNs (`Block rdd_N_M already exists on this machine`)
    // from any logger, counted while the sweep runs
    val puts = new AtomicInteger()
    val appender = new AbstractAppender("graft-block-puts", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (msg.startsWith("Block ") && msg.contains(" already exists")) puts.incrementAndGet()
      }
    }
    val logs = LogManager.getContext(false).asInstanceOf[LoggerContext]
    sc.addSparkListener(profiler)
    appender.start()
    logs.getConfiguration.getRootLogger.addAppender(appender, Level.WARN, null)
    logs.updateLoggers()
    try selected.map { case (name, fn) =>
      val canaryS = canary(spark)
      val puts0 = puts.get
      val done = mutable.ArrayBuffer[Rep]()
      var error: Option[Throwable] = None
      while (error.isEmpty && done.size < reps) {
        val group = s"key-$name-${done.size}"
        profiler.begin(group)
        sc.setJobGroup(group, name)
        val t0 = System.nanoTime()
        try {
          sink.write(name, fn(spark, sfDir))
          val wallS = (System.nanoTime() - t0) / 1e9
          Bridge.waitUntilEmpty(sc)
          done += profiler.end(wallS)
        } catch { case e: Throwable => error = Some(e) }
        finally {
          sc.clearJobGroup()
          spark.catalog.clearCache()
        }
      }
      KeyRun(name, canaryS, if (error.isEmpty) done.toSeq else Nil, puts.get - puts0, error)
    } finally {
      Bridge.waitUntilEmpty(sc)
      sc.removeSparkListener(profiler)
      logs.getConfiguration.getRootLogger.removeAppender(appender.getName)
      logs.updateLoggers()
      appender.stop()
    }
  }

  /** A fixed micro-op: flat on a quiet host, inflated in lockstep with
    * the timings it brackets when the host is loaded. */
  private def canary(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(200000).selectExpr("id % 97 AS k", "id AS v").groupBy("k").agg(sum("v")).count()
    (System.nanoTime() - t0) / 1e9
  }

  /** Collects the jobs, stages and tasks of one job group at a time. A
    * stage belongs to the group whose job submitted it; its tasks follow
    * the stage. Callers drain the listener bus before `end`. */
  private final class Profiler extends SparkListener {
    private var group: String = null
    private val jobStarts = mutable.Map[Int, Long]()
    private val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
    private val stages = mutable.LinkedHashMap[Int, Stage]()

    private def ours(p: java.util.Properties): Boolean =
      p != null && group != null && p.getProperty("spark.jobGroup.id") == group

    def begin(g: String): Unit = synchronized {
      group = g
      jobStarts.clear(); jobSpans.clear(); stages.clear()
    }

    /** The rep of the group begun last, which took `wallS`. */
    def end(wallS: Double): Rep = synchronized {
      group = null
      var covered = 0L
      var reach = Long.MinValue
      jobSpans.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
      Rep(wallS, jobSpans.size, stages.values.toSeq, math.max(0L, (wallS * 1000).toLong - covered))
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (ours(e.properties)) jobStarts(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val i = e.stageInfo
      if (ours(e.properties))
        stages(i.stageId) = Stage(i.stageId, i.name.takeWhile(_ != '\n').take(60), 0L, 0, 0L, 0L, 0L, 0L, 0L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      stages.get(e.stageId).filter(_ => m != null).foreach { s =>
        stages(e.stageId) = s.copy(tasks = s.tasks + 1,
          taskMs = s.taskMs + m.executorRunTime,
          schedMs = s.schedMs + math.max(0L, e.taskInfo.duration - m.executorRunTime),
          gcMs = s.gcMs + m.jvmGCTime,
          shuffleWriteBytes = s.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
          spillBytes = s.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      for (s <- stages.get(i.stageId); sub <- i.submissionTime; done <- i.completionTime)
        stages(i.stageId) = s.copy(wallMs = done - sub)
    }
  }
}
