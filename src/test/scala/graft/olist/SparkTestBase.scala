package graft.olist

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.atomic.AtomicInteger

/** Shared local session for all specs (one JVM-wide session — Spark
  * getOrCreate dedupes). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = graft.GraftSession.local(4)

  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }

  def writeFile(dir: String, name: String, content: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, name), content)

  /** Runs `body` under a job group of its own and counts the Spark jobs
    * submitted in that group, from this thread or threads it starts. */
  def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${System.nanoTime()}"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job census")
    try {
      val out = body
      Bridge.waitUntilEmpty(sc)
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
