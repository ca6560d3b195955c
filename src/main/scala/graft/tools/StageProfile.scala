package graft.tools

import graft.GraftSession
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-stage profile of named queries at bench conditions — the §1
  * "measure first" instrument for the mid-tail question: is a 0.5-1 s
  * steady rep dominated by compute, by task scheduling, or by
  * driver-side gaps between jobs? Prints, per stage of the STEADY rep
  * (rep 2): task count, stage wall (submission→completion), summed
  * task run time, summed scheduler-delay, and the job gaps (driver
  * planning/collect time between the last stage of one job and the
  * first of the next).
  *
  * Usage: SPARK_GRAFT_CPUS=32 runMain graft.tools.StageProfile <sfDir> <name...>
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).flatMap(_.split(",")).filter(_.nonEmpty)
    val spark = GraftSession.local()
    spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().count()

    case class St(id: Int, name: String, sub: Long, done: Long, nTask: Int,
                  taskMs: Long, schedMs: Long, gcMs: Long)
    val stages = mutable.ArrayBuffer[St]()
    val taskAgg = mutable.Map[Int, (Int, Long, Long, Long)]()
    val jobs = mutable.ArrayBuffer[(Int, Long, Long)]() // id, start, end
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
        val m = t.taskMetrics
        if (m != null) {
          val (n, rt, sd, gc) = taskAgg.getOrElse(t.stageId, (0, 0L, 0L, 0L))
          taskAgg(t.stageId) = (n + 1, rt + m.executorRunTime,
            sd + math.max(0L, t.taskInfo.duration - m.executorRunTime), gc + m.jvmGCTime)
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
        val i = s.stageInfo
        val (n, rt, sd, gc) = taskAgg.getOrElse(i.stageId, (0, 0L, 0L, 0L))
        stages += St(i.stageId, i.name.takeWhile(_ != '\n').take(60),
          i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), n, rt, sd, gc)
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
        jobs += ((j.jobId, j.time, -1L))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
        val ix = jobs.lastIndexWhere(_._1 == j.jobId)
        if (ix >= 0) jobs(ix) = (j.jobId, jobs(ix)._2, j.time)
      }
    }

    names.foreach { name =>
      // rep1 unprofiled (warm codegen, fixture builds, page cache)
      graft.SparkEntry.queries(name)(spark, sfDir).count()
      spark.catalog.clearCache()
      stages.clear(); taskAgg.clear(); jobs.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val nRows = graft.SparkEntry.queries(name)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e6
      spark.catalog.clearCache()
      // listenerBus is private[spark]; a short sleep drains late events
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(listener)
      println(f"[prof] $name rep2 wall=${wall}%.0f ms rows=$nRows")
      val sorted = stages.sortBy(_.sub)
      var stageWall = 0L
      sorted.foreach { s =>
        stageWall += (s.done - s.sub)
        println(f"[prof]   stage ${s.id}%4d tasks=${s.nTask}%3d wall=${s.done - s.sub}%5d ms " +
          f"taskSum=${s.taskMs}%6d ms sched=${s.schedMs}%5d gc=${s.gcMs}%4d  ${s.name}")
      }
      val jobSpans = jobs.filter(_._3 > 0).sortBy(_._2)
      val jobWall = jobSpans.map(j => j._3 - j._2).sum
      val gaps = wall - jobWall
      println(f"[prof]   summary: jobs=${jobSpans.size} stages=${sorted.size} " +
        f"stageWallSum=$stageWall ms jobWallSum=$jobWall ms driverGaps=${gaps}%.0f ms")
    }
    spark.stop()
  }
}
