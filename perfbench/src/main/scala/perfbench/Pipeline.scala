package perfbench

import java.io.File
import scala.collection.mutable

import graft.olist.{Audit, Bronze, Gold, Orchestrator, Silver, Validate}
import graft.olist.Orchestrator.PipelineResult
import org.apache.spark.sql.SparkSession

/** The medallion pipeline as a closed loop with one client. The first
  * operation is the first `Orchestrator.runAll` in the process, CSV to a
  * green QA report (cold: what a nightly spark-submit pays). Each later
  * operation rebuilds the gold star schema over the same warehouse in the
  * same session with `Gold.run` (warm). */
object Pipeline {

  val layers: Seq[String] = Seq("bronze", "silver", "gold", "qa")

  /** `Orchestrator.runAll`'s steps, composed here so that each layer call
    * is a span with its own Spark window and the audit trail is timed. */
  private def runTraced(spark: SparkSession, csvDir: String, warehouse: String,
                        res: Result, probe: Probe): (PipelineResult, Map[String, Window], TimedAudit) = {
    val audit = new TimedAudit(spark, warehouse, res.tracer)
    val bronze = new Bronze(spark, warehouse, audit)
    val windows = mutable.Map[String, Window]()
    def layer[T](name: String)(body: => T): T = res.tracer.span(name) {
      val (out, w) = probe.window(body)
      windows(name) = w
      out
    }
    val b = layer("bronze")(bronze.loadAll(csvDir))
    val s = layer("silver")(Silver.run(spark, warehouse, bronze, audit))
    val g = layer("gold")(Gold.run(spark, warehouse, audit))
    val qa = layer("qa")(Validate.run(spark, warehouse))
    Validate.assertInvariants(qa)
    (PipelineResult(b, s, g, qa), windows.toMap, audit)
  }

  /** Row counts by `<layer>.<table>`. */
  def rowMap(r: PipelineResult): Map[String, Long] =
    r.bronzeRows.map { case (t, n) => s"bronze.$t" -> n } ++
      r.silverRows.map { case (t, n) => s"silver.$t" -> n } ++
      r.goldRows.map { case (t, n) => s"gold.$t" -> n }

  private def diff(expected: Map[String, Long], got: Map[String, Long]): Option[String] = {
    val d = (expected.keySet ++ got.keySet).toSeq.sorted
      .filter(k => expected.get(k) != got.get(k))
      .map(k => s"$k expected ${expected.getOrElse(k, "none")} got ${got.getOrElse(k, "none")}")
    if (d.isEmpty) None else Some("row counts differ: " + d.mkString("; "))
  }

  /** Output check of the cold run: the seed's expected row counts. */
  def checkCold(r: PipelineResult, expected: Map[String, Long]): Option[String] =
    diff(expected, rowMap(r))

  /** Output check of a refresh, the idempotence contract: the seed's gold
    * row counts, which are also the cold run's. */
  def checkRefresh(goldRows: Map[String, Long], expected: Map[String, Long]): Option[String] =
    diff(expected.filter(_._1.startsWith("gold.")), goldRows.map { case (t, n) => s"gold.$t" -> n })

  private def dirStats(dir: File): (Long, Long) =
    if (dir.isFile) (1L, dir.length)
    else Option(dir.listFiles).toSeq.flatten.map(dirStats)
      .foldLeft((0L, 0L)) { case ((f, b), (f2, b2)) => (f + f2, b + b2) }

  def run(spark: SparkSession, csvDir: String, work: String, expected: Map[String, Long],
          seconds: Double, trace: Boolean, cpus: Int, res: Result): Unit = {
    val warehouse = s"$work/warehouse"
    val probe = new Probe(spark)
    var coldTrace: Option[(Map[String, Window], TimedAudit, Window, Long, Long)] = None
    val minOps = if (trace) Harness.tracedMinOps else 2
    val t0 = System.nanoTime()
    var i = 0
    while (i < minOps || (System.nanoTime() - t0) / 1e9 < seconds) {
      val traced = trace && Harness.traced(i)
      res.canaryS += Harness.canary(spark)
      if (traced) probe.attach()
      val start = System.nanoTime()
      val error =
        try {
          if (i == 0) {
            val r =
              if (!traced) Orchestrator.runAll(spark, csvDir, warehouse)
              else {
                val ((r, ws, audit), w) = res.tracer.span("runAll")(
                  probe.window(runTraced(spark, csvDir, warehouse, res, probe)))
                coldTrace = Some((ws, audit, w, start, System.nanoTime()))
                r
              }
            checkCold(r, expected)
          } else {
            val audit = if (traced) new TimedAudit(spark, warehouse, res.tracer) else new Audit(spark, warehouse)
            val g =
              if (traced) res.tracer.span(s"refresh.$i")(Gold.run(spark, warehouse, audit))
              else Gold.run(spark, warehouse, audit)
            checkRefresh(g, expected)
          }
        } catch { case e: Throwable => Some(e.toString) }
      val wall = (System.nanoTime() - start) / 1e9
      if (traced) probe.detach()
      error.foreach(e => res.checks += s"${if (i == 0) "runAll" else s"refresh $i"}: $e")
      res.ops += Op(if (i == 0) "cold" else "warm", i, traced, wall, error)
      res.heapMb += Harness.heapAfterGcMb()
      i += 1
    }

    // audit contract, once per invocation: every load's latest state is
    // SUCCESS (a full run audits 25 loads; a refresh skips dim_date: 6)
    val summary = new Audit(spark, warehouse).runSummary()
      .groupBy("status").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val loads = res.ops.map(o => if (o.pass == 0) 25L else 6L).sum
    if (summary != Map("SUCCESS" -> loads))
      res.checks += s"audit summary $summary, expected SUCCESS for all $loads loads"

    val ok = res.ops.toSeq.filter(_.ok)
    ok.find(_.pass == 0).foreach(o => res.e2e("cold_s") = o.wallS)
    val untracedWarm = ok.filter(o => o.pass > 0 && !o.traced).map(_.wallS)
    if (untracedWarm.nonEmpty) res.e2e("warm_s") = Stats.median(untracedWarm)
    res.e2e("heap_peak_mb") = res.heapMb.max

    if (trace) {
      val tracedWarm = ok.filter(o => o.pass > 0 && o.traced).map(_.wallS)
      if (tracedWarm.nonEmpty && untracedWarm.nonEmpty)
        res.layers("trace_overhead_frac") = Stats.median(tracedWarm) / Stats.median(untracedWarm) - 1
      // layer and table figures are those of the traced cold run: the
      // only operation that runs every layer and builds every table
      coldTrace.foreach { case (ws, audit, whole, s0, s1) =>
        layers.foreach { l =>
          val w = ws(l)
          res.layers(s"$l.s") = w.wallS
          res.layers(s"$l.jobs") = w.c.jobs.toDouble
          res.layers(s"$l.tasks") = w.c.tasks.toDouble
          res.layers(s"$l.task_s") = w.c.taskMs / 1e3
          res.layers(s"$l.task_util") = w.c.taskMs / 1e3 / (w.wallS * cpus)
          res.layers(s"$l.driver_gap_s") = w.driverGapS
          res.layers(s"$l.shuffle_write_bytes") = w.c.shuffleWriteBytes.toDouble
          res.layers(s"$l.output_bytes") = w.c.outputBytes.toDouble
        }
        res.tracer.all.filter(s => s.startNs >= s0 && s.endNs <= s1 && layers.exists(l => s.name.startsWith(l + ".")))
          .foreach(s => res.layers(s"${s.name}.s") = s.seconds)
        res.layers("audit.s") = audit.auditNs / 1e9
        res.layers("audit.events") = audit.events.toDouble
        res.layers("codegen.compiles") = whole.c.codegenCompiles.toDouble
        res.layers("codegen.compile_s") = whole.c.codegenCompiles * whole.codegenMeanMs / 1e3
        res.layers("jvm.jit_s") = whole.c.jitMs / 1e3
        res.layers("jvm.gc_s") = whole.c.gcMs / 1e3
      }
      res.layers("host.canary_s") = Stats.median(res.canaryS.toSeq)
      val (files, bytes) = Seq("bronze", "silver", "gold", "audit")
        .map(d => dirStats(new File(warehouse, d))).foldLeft((0L, 0L)) {
          case ((f, b), (f2, b2)) => (f + f2, b + b2)
        }
      res.layers("warehouse.files") = files.toDouble
      res.layers("warehouse.bytes") = bytes.toDouble
      res.layers("storage_ratio") = bytes.toDouble / dirStats(new File(csvDir))._2
    }
  }
}
