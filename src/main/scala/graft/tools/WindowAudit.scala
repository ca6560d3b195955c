package graft.tools

import graft.GraftSession
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LWindow}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine-wide unpartitioned-window census: builds every registered
  * query's plan and counts logical Window nodes with an EMPTY
  * partitionSpec — the shape that funnels the whole frame through one
  * task (`WindowExec: No Partition Defined`). This automates the
  * round-8 manual grep audit of `Window.orderBy` call sites, and
  * additionally sees windows the grep can't (SQL front doors, windows
  * introduced by rewrites).
  *
  * An unpartitioned window is NOT automatically a defect — the house
  * rule (SCALING.md) allows them over provably bounded frames (month
  * grains, value-domain histograms, post-limit top-k lists). The
  * census lists every query that has one; the list is FROZEN as an
  * allowlist in UnpartitionedWindowCensusSpec, so any new entry fails
  * `sbt test` until it is justified against the bounded-frame rule
  * (or ported to PrefixScan) and added there — r9's verdict item 2,
  * after layout-overlap-depth shipped with a mis-adjudicated
  * full-corpus global sort that a printed report could not block.
  *
  * Two lenses per query (both graded by the spec):
  *  - BUILD: the returned frame's optimizedPlan walk.
  *  - EXEC: plans of jobs the BUILD itself runs, captured via a
  *    QueryExecutionListener. This closes the r9-ADVICE blind spot:
  *    ops with `localCheckpoint()` barriers truncate lineage to a
  *    LogicalRDD, so a window upstream of the barrier never appears
  *    in the final optimizedPlan — but the checkpoint's own execution
  *    passes through the listener. Remaining blind spot, documented:
  *    RDD-level actions (`df.rdd.collect`, e.g. PrefixScan's stats
  *    pass) bypass QueryExecutionListener; PrefixScan's plans are
  *    window-free by construction (that is its point).
  *
  * Listener attribution: QueryExecutionListener fires async on the
  * listener bus, so the census drains the bus (`Bridge.waitUntilEmpty`)
  * after each build before crediting captures to the current query.
  *
  * stream-* keys are skipped (building them executes streaming jobs);
  * their windows are over watermarked micro-batches, not global sorts.
  *
  * Usage: runMain graft.tools.WindowAudit [sfDir] [name1,name2,...]
  */
object WindowAudit {

  /** name → (buildWindows, execWindows): unpartitioned logical Window
    * count in the returned frame's optimized plan, and in plans of
    * jobs executed while building it. */
  final case class CensusRow(name: String, build: Int, exec: Int) {
    def total: Int = build + exec
  }

  def countUnpartitioned(plan: LogicalPlan): Int =
    plan.collect { case w: LWindow if w.partitionSpec.isEmpty => w }.size

  /** Run the census over `names` (callers pre-filter stream-*). Errors
    * building a query are returned in the second component instead of
    * aborting the walk. */
  def census(spark: SparkSession, d: String, names: Seq[String])
      : (Seq[CensusRow], Seq[(String, String)]) = {
    val execCounts = new ConcurrentHashMap[String, Integer]()
    @volatile var current: String = null
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = {
        // qe.optimizedPlan is lazy; for write commands it may analyze
        // only here, and a sink op's scratch input can be gone by the
        // time the async bus delivers the event — treat as uncountable
        val n = scala.util.Try(countUnpartitioned(qe.optimizedPlan)).getOrElse(0)
        val name = current
        if (n > 0 && name != null)
          execCounts.merge(name, Integer.valueOf(n), (a, b) =>
            Integer.valueOf(a.intValue + b.intValue))
      }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val rows = Seq.newBuilder[CensusRow]
    val errors = Seq.newBuilder[(String, String)]
    try {
      names.foreach { name =>
        current = name
        try {
          val df = graft.SparkEntry.queries(name)(spark, d)
          val build = countUnpartitioned(df.queryExecution.optimizedPlan)
          Bridge.waitUntilEmpty(spark.sparkContext)
          val exec = Option(execCounts.get(name)).fold(0)(_.intValue)
          rows += CensusRow(name, build, exec)
        } catch {
          case e: Throwable =>
            errors += name -> (e.getClass.getSimpleName + ": " +
              String.valueOf(e.getMessage).takeWhile(_ != '\n'))
        } finally {
          current = null
          // The census is a 1008-key CALLER, so it owns cache release
          // (the sharedCache contract: Verify/Bench clearCache per
          // query). Without this, fragments persisted during plan
          // builds leak into every LATER plan in the sweep AND into
          // any suite that runs after the census in the same session —
          // CacheManager substitution then (a) hides windows behind
          // InMemoryRelation boundaries, softening this very audit,
          // and (b) strips pushdown/pruning from scans the
          // plan-contract suite asserts on (r14: census-then-
          // PlanContracts ordering failed two orders-scan contracts).
          spark.catalog.clearCache()
        }
      }
    } finally spark.listenerManager.unregister(listener)
    (rows.result(), errors.result())
  }

  def auditNames(only: Option[Set[String]] = None): Seq[String] =
    graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => !n.startsWith("stream-"))
      .filter(n => only.forall(_.contains(n)))

  def main(args: Array[String]): Unit = {
    val d = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val only = args.lift(1).map(_.split(",").toSet)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val names = auditNames(only)
    val (rows, errors) = census(spark, d, names)
    rows.filter(_.total > 0).foreach { r =>
      println(s"[windowaudit] ${r.name} unpartitioned_windows=${r.build}" +
        (if (r.exec > 0) s" exec_captured=${r.exec}" else ""))
    }
    errors.foreach { case (n, m) => println(s"[windowaudit] $n ERROR $m") }
    println(s"[windowaudit] done: ${names.size} queries, " +
      s"${rows.count(_.total > 0)} with unpartitioned windows, " +
      s"${errors.size} errors")
    spark.stop()
  }
}
