package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Operator keys from `SparkEntry.queries`, each built and then fully
  * materialized with the noop sink, as a closed loop with one client:
  * the first pass over the list is cold, later passes are warm. */
object Keys {

  type Fn = (SparkSession, String) => DataFrame

  /** The operator family: the key's first dash-separated word. */
  def family(key: String): String = key.takeWhile(_ != '-')

  /** The timed action: every row and column of the result is produced,
    * so no output column can be pruned away. */
  def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One execution: build the frame (eager driver work included), then
    * materialize it. A throw is kept as the error and never timed. With
    * `dump`, the same frame is then written there in full, untimed, for
    * the oracle compare. */
  def execute(spark: SparkSession, name: String, fn: Fn, sfDir: String, pass: Int,
              traced: Option[(Probe, Tracer)], dump: Option[String] = None): (Op, Seq[Window]) = {
    val t0 = System.nanoTime()
    var df: DataFrame = null
    val (error, windows) =
      try traced match {
        case None =>
          df = fn(spark, sfDir)
          materialize(df)
          (None, Nil)
        case Some((probe, tracer)) =>
          tracer.span(s"key.$name") {
            val (built, wb) = probe.window(tracer.span("build")(fn(spark, sfDir)))
            df = built
            val (_, we) = probe.window(tracer.span("exec")(materialize(df)))
            (None, Seq(wb, we))
          }
      } catch { case e: Throwable => (Some(e.toString), Nil) }
    val wall = (System.nanoTime() - t0) / 1e9
    val dumpError =
      try { if (error.isEmpty) dump.foreach(df.coalesce(1).write.mode("overwrite").parquet(_)); None }
      catch { case e: Throwable => Some(s"result dump threw: $e") }
      finally spark.catalog.clearCache()
    (Op(name, pass, traced.nonEmpty, wall, error.orElse(dumpError)), windows)
  }

  /** End-to-end figures from the untraced executions: the cold sum over
    * the list, and the sum over the list of each key's median warm wall.
    * Failed executions are counted by the caller and left out here. */
  def summarize(ops: Seq[Op]): Map[String, Double] = {
    val ok = ops.filter(o => o.ok && !o.traced)
    val cold = ok.filter(_.pass == 0).map(_.wallS)
    val perKeyWarm = ok.filter(_.pass > 0).groupBy(_.name).values.map(os => Stats.median(os.map(_.wallS))).toSeq
    Map("cold_s" -> cold.sum) ++
      (if (perKeyWarm.isEmpty) Map.empty[String, Double]
       else Map("warm_s" -> perKeyWarm.sum,
         "keys.p50_s" -> Stats.quantile(perKeyWarm, 0.5),
         "keys.p75_s" -> Stats.quantile(perKeyWarm, 0.75),
         "keys.n" -> perKeyWarm.size.toDouble))
  }

  def run(spark: SparkSession, sfDir: String, keys: Seq[String], work: String,
          seconds: Double, trace: Boolean, cpus: Int, res: Result): Unit = {
    val t0 = System.nanoTime()
    val registry = graft.SparkEntry.queries
    val oracles = graft.SparkEntry.oracleSql
    res.prepS = (System.nanoTime() - t0) / 1e9
    val unknown = keys.filterNot(registry.contains)
    require(unknown.isEmpty, s"keys not in SparkEntry.queries: ${unknown.mkString(", ")}")
    // output check, once per invocation and untimed: the cold pass writes
    // each full result here for the DuckDB oracle compare
    val dump = s"$work/dump"
    val probe = new Probe(spark)
    val tracedPasses = mutable.ArrayBuffer[Seq[(Op, Seq[Window])]]()
    var coldPass: Seq[(Op, Seq[Window])] = Nil
    val minPasses = if (trace) Harness.tracedMinOps else 2
    val start = System.nanoTime()
    var pass = 0
    while (pass < minPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      val traced = trace && Harness.traced(pass)
      res.canaryS += Harness.canary(spark)
      if (traced) probe.attach()
      val done = keys.map(k =>
        execute(spark, k, registry(k), sfDir, pass, if (traced) Some((probe, res.tracer)) else None,
          if (pass == 0) Some(s"$dump/$k") else None))
      if (traced) probe.detach()
      if (traced && pass == 0) coldPass = done
      else if (traced) tracedPasses += done
      done.foreach { case (op, _) =>
        res.ops += op
        op.error.foreach(e => res.checks += s"${op.name} pass $pass threw: $e")
      }
      res.heapMb += Harness.heapAfterGcMb()
      pass += 1
    }

    val s = summarize(res.ops.toSeq)
    Seq("cold_s", "warm_s").foreach(k => s.get(k).foreach(res.e2e(k) = _))
    res.e2e("heap_peak_mb") = res.heapMb.max

    Files.createDirectories(Paths.get(dump))
    Files.writeString(Paths.get(s"$dump/oracle_sql.json"),
      Json.obj(keys.flatMap(k => oracles.get(k).map(q => k -> Json.str(q)))))
    keys.filterNot(oracles.contains).foreach(k => res.checks += s"$k: no oracle SQL")

    Seq("keys.p50_s", "keys.p75_s", "keys.n").foreach(k => s.get(k).foreach(res.layers(k) = _))
    if (trace) {
      val untracedWarm = res.ops.filter(o => o.ok && o.pass > 0 && !o.traced)
        .groupBy(_.pass).values.map(_.map(_.wallS).sum).toSeq
      val tracedWarm = tracedPasses.map(_.collect { case (o, _) if o.ok => o.wallS }.sum).toSeq
      if (untracedWarm.nonEmpty && tracedWarm.nonEmpty)
        res.layers("trace_overhead_frac") = Stats.median(tracedWarm) / Stats.median(untracedWarm) - 1
      def meanOver(f: Seq[(Op, Seq[Window])] => Double): Double = Stats.mean(tracedPasses.map(f).toSeq)
      def sumW(p: Seq[(Op, Seq[Window])], f: Window => Double): Double = p.flatMap(_._2).map(f).sum
      val tracedNames = tracedPasses.flatten.map(_._1).filter(_.ok)
      // each traced execution has two windows: build, then exec
      res.layers("keys.build_s") = meanOver(_.flatMap(_._2.headOption).map(_.wallS).sum)
      res.layers("keys.exec_s") = meanOver(_.flatMap(_._2.drop(1).headOption).map(_.wallS).sum)
      res.layers("keys.plan_s") = meanOver(p => sumW(p, _.c.planMs / 1e3))
      res.layers("keys.actions") = meanOver(p => sumW(p, _.c.actions.toDouble) / math.max(1, p.size))
      res.layers("keys.jobs") = meanOver(p => sumW(p, _.c.jobs.toDouble))
      res.layers("keys.stages") = meanOver(p => sumW(p, _.c.stages.toDouble))
      res.layers("keys.tasks") = meanOver(p => sumW(p, _.c.tasks.toDouble))
      res.layers("keys.task_s") = meanOver(p => sumW(p, _.c.taskMs / 1e3))
      res.layers("keys.single_task_stage_frac") = meanOver { p =>
        sumW(p, _.c.singleTaskStages.toDouble) / math.max(1.0, sumW(p, _.c.stages.toDouble))
      }
      res.layers("keys.driver_gap_s") = meanOver(p => sumW(p, _.driverGapS))
      res.layers("keys.shuffle_read_bytes") = meanOver(p => sumW(p, _.c.shuffleReadBytes.toDouble))
      res.layers("keys.shuffle_write_bytes") = meanOver(p => sumW(p, _.c.shuffleWriteBytes.toDouble))
      res.layers("keys.spill_bytes") = meanOver(p => sumW(p, _.c.spillBytes.toDouble))
      tracedNames.map(o => family(o.name)).distinct.sorted.foreach { f =>
        res.layers(s"keys.$f.s") = meanOver(_.collect { case (o, _) if o.ok && family(o.name) == f => o.wallS }.sum)
      }
      val coldWindows = coldPass.flatMap(_._2)
      res.layers("codegen.compiles") = coldWindows.map(_.c.codegenCompiles).sum.toDouble
      res.layers("codegen.compile_s") = coldWindows.map(w => w.c.codegenCompiles * w.codegenMeanMs).sum / 1e3
      res.layers("jvm.jit_s") = coldWindows.map(_.c.jitMs).sum / 1e3
      res.layers("jvm.gc_s") = meanOver(p => sumW(p, _.c.gcMs / 1e3))
      res.layers("host.canary_s") = Stats.median(res.canaryS.toSeq)
    }
  }
}
