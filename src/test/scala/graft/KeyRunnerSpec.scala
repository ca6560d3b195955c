package graft

import graft.KeyRunner.Fn
import graft.olist.SparkTestBase
import java.nio.file.{Files, Paths}
import org.apache.logging.log4j.LogManager
import org.apache.spark.sql.functions.{col, udf}
import scala.jdk.CollectionConverters._

/** The one runner behind every registry sweep: it times the full answer,
  * keeps a throwing key out of the totals, attributes block-put WARNs to
  * the key that logged them, and profiles each rep by its job group. */
class KeyRunnerSpec extends SparkTestBase {

  private def key(rows: Long): Fn = (s, _) => s.range(rows).toDF("v")

  test("the timed action evaluates every column, including ones count() prunes") {
    val calls = spark.sparkContext.longAccumulator("udf-calls")
    val bump = udf { (x: Long) => calls.add(1); x }
    val onlyWorkInAColumn: Fn = (s, _) => s.range(100).select(bump(col("id")).as("v"))
    onlyWorkInAColumn(spark, "").count()
    assert(calls.value == 0L, "count() no longer prunes the UDF column; pick another key shape")
    val Seq(run) = KeyRunner.run(spark, "", KeyRunner.Noop, reps = 2,
      keys = Seq("udf-only" -> onlyWorkInAColumn))
    assert(run.ok)
    assert(calls.value == 200L)
  }

  test("a throwing key is reported failed, left out of the totals, and the next key still runs") {
    val boom: Fn = (_, _) => throw new IllegalStateException("boom")
    val runs = KeyRunner.run(spark, "", KeyRunner.Noop, reps = 2,
      keys = Seq("a" -> key(10), "boom" -> boom, "b" -> key(20)))
    assert(runs.map(_.name) == Seq("a", "boom", "b"))
    val Seq(a, failed, b) = runs
    assert(failed.error.exists(_.getMessage == "boom"))
    assert(failed.reps.isEmpty)
    assert(a.ok && b.ok && a.reps.size == 2 && b.reps.size == 2)
    assert(KeyRunner.total(runs, 1) == a.reps(1).wallS + b.reps(1).wallS)
  }

  test("a block-put WARN logged inside key A is counted for A and not for B") {
    val log = LogManager.getLogger("org.apache.spark.storage.BlockManager")
    val warns: Fn = (s, _) => {
      log.warn("Block rdd_7_0 already exists on this machine; not re-adding it")
      s.range(5).toDF("v")
    }
    val Seq(a, b) = KeyRunner.run(spark, "", KeyRunner.Noop,
      keys = Seq("a" -> warns, "b" -> key(5)))
    assert(a.blockPuts == 1)
    assert(b.blockPuts == 0)
  }

  test("a key with one shuffle: the profile counts the jobs jobsOf counts, and at least 2 stages") {
    val shuffled: Fn = (s, _) => s.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()
    val (_, jobs) = jobsOf(KeyRunner.Noop.write("shuffled", shuffled(spark, "")))
    val Seq(run) = KeyRunner.run(spark, "", KeyRunner.Noop, keys = Seq("shuffled" -> shuffled))
    val p = run.reps.head
    assert(jobs > 0)
    assert(p.jobs == jobs)
    assert(p.stages.size >= 2)
    assert(p.totals.toMap.apply("tasks") >= p.stages.size)
  }

  test("dumps write each key's full result under its name") {
    val out = tempDir("keyrunner-dump")
    val Seq(run) = KeyRunner.run(spark, "", KeyRunner.Parquet(out), keys = Seq("k" -> key(42)))
    assert(run.ok)
    assert(spark.read.parquet(s"$out/k").count() == 42L)
  }

  test("an unknown key name is rejected") {
    intercept[IllegalArgumentException] {
      KeyRunner.run(spark, "", KeyRunner.Noop, only = Some(Seq("no-such-key")), keys = Seq("k" -> key(1)))
    }
  }

  test("under src/main only KeyRunner and the plan-only audits reference SparkEntry.queries") {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val ref = """SparkEntry\s*\.\s*queries\b""".r
    val callers = files.filter(f => ref.findFirstIn(Files.readString(f)).isDefined)
      .map(_.getFileName.toString).toSet
    assert(callers == Set("KeyRunner.scala", "ExplainAudit.scala", "WindowAudit.scala"),
      "execute registry keys through KeyRunner.run")
  }
}
