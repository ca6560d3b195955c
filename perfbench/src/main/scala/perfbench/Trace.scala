package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.olist.Audit
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at a layer boundary; `parent` is the id of the span
  * open when it started (-1 at the top). Times are `System.nanoTime`. */
case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans are kept in memory and written out once, when the run ends. */
class Tracer {
  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.nanoTime()
    try body
    finally {
      open = open.tail
      spans += Span(id, name, parent, t0, System.nanoTime())
    }
  }

  /** A span whose start and end were seen by different calls. */
  def record(name: String, startNs: Long, endNs: Long): Unit = {
    spans += Span(nextId, name, open.headOption.getOrElse(-1), startNs, endNs)
    nextId += 1
  }

  def all: Seq[Span] = spans.toSeq.sortBy(_.startNs)
}

/** Counters a layer window accumulates; every field is a running total. */
case class Counters(
  jobs: Long = 0, stages: Long = 0, singleTaskStages: Long = 0, tasks: Long = 0,
  taskMs: Long = 0, shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
  outputBytes: Long = 0, spillBytes: Long = 0, actions: Long = 0, planMs: Long = 0,
  codegenCompiles: Long = 0, jitMs: Long = 0, gcMs: Long = 0)

/** What happened between two snapshots: counter deltas, the job spans
  * that ended in the window, the window's wall, and the codegen mean. */
case class Window(c: Counters, jobSpansMs: Seq[(Long, Long)], startMs: Long, endMs: Long,
                  codegenMeanMs: Double) {
  def wallS: Double = (endMs - startMs) / 1e3

  /** Wall time not covered by any Spark job: driver-side planning,
    * eager collects and loops between jobs. */
  def driverGapS: Double = {
    val clipped = jobSpansMs.map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var reach = startMs
    clipped.foreach { case (s, e) =>
      if (e > reach) { covered += e - math.max(s, reach); reach = e }
    }
    math.max(0.0, wallS - covered / 1e3)
  }
}

/** The Spark and JVM counters of the traced run: a `SparkListener` and a
  * `QueryExecutionListener` attached to the benchmark's own session. */
class Probe(spark: SparkSession) {
  private var c = Counters()
  private val jobStarts = mutable.Map[Int, Long]()
  private val jobSpans = mutable.ArrayBuffer[(Long, Long)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Probe.this.synchronized {
      jobStarts(e.jobId) = e.time
      c = c.copy(jobs = c.jobs + 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Probe.this.synchronized {
      jobStarts.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Probe.this.synchronized {
      c = c.copy(stages = c.stages + 1,
        singleTaskStages = c.singleTaskStages + (if (e.stageInfo.numTasks == 1) 1 else 0))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Probe.this.synchronized {
      val m = e.taskMetrics
      c = c.copy(tasks = c.tasks + 1, taskMs = c.taskMs + e.taskInfo.duration)
      if (m != null) c = c.copy(
        shuffleReadBytes = c.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        outputBytes = c.outputBytes + m.outputMetrics.bytesWritten,
        spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private val queryListener = new QueryExecutionListener {
    private val planned = Set("analysis", "optimization", "planning")
    private def count(qe: QueryExecution): Unit = Probe.this.synchronized {
      val ms = qe.tracker.phases.collect { case (p, s) if planned(p) => s.durationMs }.sum
      c = c.copy(actions = c.actions + 1, planMs = c.planMs + ms)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = count(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = count(qe)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  def detach(): Unit = {
    Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }

  private def snapshot(): (Counters, Int, Long, Double) = {
    Bus.drain(spark.sparkContext)
    val (compiles, meanMs) = Bus.codegen()
    val jit = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    synchronized {
      (c.copy(codegenCompiles = compiles, jitMs = jit, gcMs = gc), jobSpans.size,
        System.currentTimeMillis(), meanMs)
    }
  }

  /** Runs `body` and returns its result with the window it produced. */
  def window[T](body: => T): (T, Window) = {
    val (c0, j0, t0, _) = snapshot()
    val out = body
    val (c1, j1, t1, meanMs) = snapshot()
    val d = Counters(
      c1.jobs - c0.jobs, c1.stages - c0.stages, c1.singleTaskStages - c0.singleTaskStages,
      c1.tasks - c0.tasks, c1.taskMs - c0.taskMs, c1.shuffleReadBytes - c0.shuffleReadBytes,
      c1.shuffleWriteBytes - c0.shuffleWriteBytes, c1.outputBytes - c0.outputBytes,
      c1.spillBytes - c0.spillBytes, c1.actions - c0.actions, c1.planMs - c0.planMs,
      c1.codegenCompiles - c0.codegenCompiles, c1.jitMs - c0.jitMs, c1.gcMs - c0.gcMs)
    val spans = synchronized(jobSpans.slice(j0, j1).toSeq)
    (out, Window(d, spans, t0, t1, meanMs))
  }
}

/** The program's audit trail with each call into it timed: `audit.s` is
  * the time spent inside `started`/`succeeded`/`failed`, and each audited
  * load becomes a `<schema>.<table>` span from `started` to its outcome. */
class TimedAudit(spark: SparkSession, warehouse: String, tracer: Tracer)
    extends Audit(spark, warehouse) {
  var auditNs = 0L
  var events = 0L
  private val loadStart = mutable.Map[Long, Long]()

  private def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally { auditNs += System.nanoTime() - t0; events += 1 }
  }

  override def started(srcSys: String, srcObj: String, tgtSchema: String, tgtTable: String): Long = {
    val t0 = System.nanoTime()
    val id = timed(super.started(srcSys, srcObj, tgtSchema, tgtTable))
    loadStart(id) = t0
    id
  }

  private def finish(runId: Long, tgtSchema: String, tgtTable: String): Unit =
    loadStart.remove(runId).foreach(t0 => tracer.record(s"$tgtSchema.$tgtTable", t0, System.nanoTime()))

  override def succeeded(runId: Long, srcSys: String, srcObj: String, tgtSchema: String,
                         tgtTable: String, rows: Long): Unit = {
    timed(super.succeeded(runId, srcSys, srcObj, tgtSchema, tgtTable, rows))
    finish(runId, tgtSchema, tgtTable)
  }

  override def failed(runId: Long, srcSys: String, srcObj: String, tgtSchema: String,
                      tgtTable: String, err: String): Unit = {
    timed(super.failed(runId, srcSys, srcObj, tgtSchema, tgtTable, err))
    finish(runId, tgtSchema, tgtTable)
  }
}
