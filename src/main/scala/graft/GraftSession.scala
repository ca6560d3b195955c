package graft

import org.apache.spark.sql.SparkSession

/** The one place a session is built. `Bench`, `Verify`, every tool and
  * the test base plan under the same optimizer extensions and settings,
  * the ones perfbench's harness measures. */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every available processor. */
  private def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[n]` with `GraftExtensions`, n shuffle partitions, UTC, no UI
    * and WARN logging. Reuses a running session (its master included),
    * applying the runtime settings to it. */
  def local(n: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
