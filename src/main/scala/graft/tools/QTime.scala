package graft.tools

import graft.{GraftSession, KeyRunner}

/** Time and profile named keys with repeats, in registry order:
  * runMain graft.tools.QTime <sfDir> <reps> <name...>
  * Per key: the canary timed before its reps, then per rep the noop-sink
  * wall, the profile totals (see `KeyRunner.Rep`) and one line per stage,
  * to tell compute from task scheduling and from driver-side gaps. */
object QTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).flatMap(_.split(",")).filter(_.nonEmpty).toSeq
    val spark = GraftSession.local()
    KeyRunner.run(spark, sfDir, KeyRunner.Noop, reps, Some(names)).foreach { r =>
      println(f"[qtime] ${r.name} canary: ${r.canaryS}%.3f s")
      r.error.foreach(e => println(s"[qtime] ${r.name} failed: $e"))
      r.reps.zipWithIndex.foreach { case (rep, i) =>
        val totals = rep.totals.map { case (k, v) => s"$k=$v" }.mkString(" ")
        println(f"[qtime] ${r.name} rep${i + 1}: ${rep.wallS}%.2f s $totals")
        rep.stages.foreach { s =>
          println(f"[qtime]   stage ${s.id}%4d tasks=${s.tasks}%3d wall=${s.wallMs}%5d ms " +
            f"taskSum=${s.taskMs}%6d ms sched=${s.schedMs}%5d gc=${s.gcMs}%4d  ${s.name}")
        }
      }
      if (r.blockPuts > 0) println(s"[qtime] ${r.name} block-put WARNs: ${r.blockPuts}")
    }
    spark.stop()
  }
}
