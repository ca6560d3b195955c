package graft.tools

import graft.GraftSession

/** Local smoke runner mirroring the driver's t1 check: entry() on
  * sf0.001 must return rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val df = graft.SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n " + (if (n > 0) "PASS" else "FAIL"))
    spark.stop()
    if (n == 0) sys.exit(1)
  }
}
