package graft.tools

import graft.GraftSession

/** Time named queries with repeats: runMain graft.tools.QTime <sfDir> <reps> <name...> */
object QTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).flatMap(_.split(",")).filter(_.nonEmpty)
    val spark = GraftSession.local()
    spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().count()
    // Same noise canary as Bench.scala: a fixed micro-op timed before each
    // query's reps, so a QTime sample carries its own quiet-evidence
    // (judge's quiet bar: canary ≤ ~0.5 at 32 threads) instead of relying
    // on an `uptime` reading taken minutes away from the measured window.
    def canary(): Double = {
      val t0 = System.nanoTime()
      spark.range(200000).selectExpr("id % 97 AS k", "id AS v")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("v")).count()
      (System.nanoTime() - t0) / 1e9
    }
    canary() // compile canary codegen outside any measured window
    names.foreach { name =>
      val cn = canary()
      println(f"[qtime] $name canary: $cn%.3f s")
      (1 to reps).foreach { r =>
        val t0 = System.nanoTime()
        val n = graft.SparkEntry.queries(name)(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        // mirror Bench: drop cache entries the query pinned so each rep
        // pays its own cost (otherwise sharedCache survivors flatter rep2)
        spark.catalog.clearCache()
        println(f"[qtime] $name rep$r: $dt%.2f s ($n rows)")
      }
    }
    spark.stop()
  }
}
