package graft

import graft.olist.SparkTestBase
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One session factory: every entry point under `src/main` builds its
  * session through `GraftSession.local`, so no tool can drift to another
  * optimizer, time zone or partition count than the tests and the bench. */
class GraftSessionSpec extends SparkTestBase {

  test("no file under src/main outside GraftSession calls SparkSession.builder()") {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith("GraftSession.scala")), "source scan found no GraftSession")
    val call = """SparkSession\s*\.\s*builder\s*\(""".r
    val callers = files.filter { f =>
      !f.endsWith("GraftSession.scala") && call.findFirstIn(Files.readString(f)).isDefined
    }
    assert(callers.isEmpty, s"build the session with GraftSession.local instead: ${callers.mkString(", ")}")
  }

  test("GraftSession.local(n) sets the extensions class, n shuffle partitions, UTC and UI off") {
    assert(spark.sparkContext.master == "local[4]")
    // getOrCreate reuses the running session and applies the runtime
    // settings to it; the shared test session is restored afterwards
    try {
      val s = GraftSession.local(3)
      assert(s.conf.get("spark.sql.shuffle.partitions") == "3")
      assert(s.conf.get("spark.sql.extensions") == classOf[graft.functions.GraftExtensions].getName)
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.sparkContext.getConf.get("spark.ui.enabled") == "false")
    } finally GraftSession.local(4)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }
}
