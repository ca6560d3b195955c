package graft.tools

import graft.GraftSession

/** Diagnostic sweep: run every SparkEntry query once, announcing each
  * name to stderr first, so log WARNs (block-put races, unpartitioned
  * windows, codegen fallbacks) can be attributed to the query that
  * produced them by position. Used for the r11 "Block rdd_N already
  * exists" triage; harmless to keep for future log forensics. */
object WarnProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // optional arg 2: comma-separated key subset (default: FULL surface —
    // the r12 lesson is that the gate must cover every key, including ones
    // landed after a sweep, so the full run is the default, not the subset)
    val subset = args.lift(1).map(_.split(",").toSet)
    val spark = GraftSession.local()
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => subset.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      System.err.println(s"[probe] $name")
      System.err.flush()
      try fn(spark, sfDir).count()
      catch { case e: Throwable =>
        System.err.println(s"[probe] $name FAILED ${e.getClass.getSimpleName}")
      }
      spark.catalog.clearCache()
    }
    System.err.println("[probe] DONE")
    spark.stop()
  }
}
