package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed operation of a closed loop. A failed operation keeps its
  * error and is left out of every timing. */
case class Op(name: String, pass: Int, traced: Boolean, wallS: Double, error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

/** Everything one invocation measured; `Main` writes it as JSON. */
class Result {
  val setupS = mutable.ArrayBuffer[Double]()
  /** One-off set-up inside the process after the session rounds. */
  var prepS = 0.0
  val ops = mutable.ArrayBuffer[Op]()
  val canaryS = mutable.ArrayBuffer[Double]()
  val heapMb = mutable.ArrayBuffer[Double]()
  val checks = mutable.ArrayBuffer[String]()
  val e2e = mutable.LinkedHashMap[String, Double]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val tracer = new Tracer

  def attempted: Int = ops.size
  def failed: Int = ops.count(!_.ok)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of the sorted sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Session, warm-up, canary and heap readings shared by the workloads. */
object Harness {

  /** The session every program tool builds (`graft.Bench`, `graft.Verify`). */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def warmup(spark: SparkSession): Unit =
    spark.range(1000).selectExpr("id % 7 AS k", "id AS v").groupBy("k").count().count()

  /** `graft.Bench`'s fixed micro-op: flat on a quiet host, inflated in
    * lockstep with the operations it brackets when the host is busy. */
  def canary(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(200000).selectExpr("id % 97 AS k", "id AS v")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("v")).count()
    (System.nanoTime() - t0) / 1e9
  }

  /** Heap in use after a full collection: the sum of the heap pools'
    * `getCollectionUsage`, read right after a forced GC. Spark's
    * ContextCleaner drops broadcast and shuffle blocks only once a
    * collection has freed their owners, so a second collection follows
    * its next poll; the reading then does not depend on the cleaner's timing. */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / (1024.0 * 1024.0)
  }

  /** Which operations of a traced run are traced: the cold one, then warm
    * ones in the order untraced, traced, traced, untraced, so that the
    * overhead estimate does not favour the later, better-warmed side. */
  def traced(op: Int): Boolean = op == 0 || op % 4 >= 2

  /** Operations a traced run needs: the cold one and two warm of each kind. */
  val tracedMinOps = 5

  /** Set up `rounds` times (session build and warm-up); the last session
    * is kept for the measured work. */
  def setUp(cpus: Int, rounds: Int, res: Result): SparkSession = {
    var spark: SparkSession = null
    (1 to rounds).foreach { i =>
      val t0 = System.nanoTime()
      spark = session(cpus)
      warmup(spark)
      canary(spark)
      res.setupS += (System.nanoTime() - t0) / 1e9
      if (i < rounds) spark.stop()
    }
    spark
  }
}

/** Usage:
  * {{{
  * perfbench.Main --mode pipeline --input <csvDir> --expected <file> --work <dir>
  *                --seconds <s> --trace <0|1> --out <json>
  * perfbench.Main --mode keys --input <sfDir> --keys <file> --work <dir>
  *                --seconds <s> --trace <0|1> --out <json>
  * perfbench.Main --mode list-keys      (the sorted registry, for keys.txt)
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (opt.get("mode").contains("list-keys")) {
      graft.SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      return
    }
    val cpus = Runtime.getRuntime.availableProcessors
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    val res = new Result
    val spark = Harness.setUp(cpus, 3, res)
    try opt("mode") match {
      case "pipeline" =>
        val expected = Files.readAllLines(Paths.get(opt("expected"))).asScala
          .map(_.trim).filter(_.nonEmpty).map { l =>
            val Array(k, v) = l.split("\\s+"); k -> v.toLong
          }.toMap
        Pipeline.run(spark, opt("input"), work, expected, seconds, trace, cpus, res)
      case "keys" =>
        val keys = Files.readAllLines(Paths.get(opt("keys"))).asScala.map(_.trim).filter(_.nonEmpty).toSeq
        Keys.run(spark, opt("input"), keys, work, seconds, trace, cpus, res)
    } finally {
      Files.writeString(Paths.get(opt("out")), Json.result(res))
      spark.stop()
    }
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def arr(vs: Iterable[String]): String = vs.mkString("[", ", ", "]")

  def result(r: Result): String = obj(Seq(
    "setup_s" -> arr(r.setupS.map(num)),
    "prep_s" -> num(r.prepS),
    "canary_s" -> arr(r.canaryS.map(num)),
    "heap_mb" -> arr(r.heapMb.map(num)),
    "attempted" -> r.attempted.toString,
    "failed" -> r.failed.toString,
    "e2e" -> obj(r.e2e.map { case (k, v) => k -> num(v) }),
    "layers" -> obj(r.layers.map { case (k, v) => k -> num(v) }),
    "checks" -> arr(r.checks.map(str)),
    "ops" -> arr(r.ops.map(o => obj(Seq(
      "name" -> str(o.name), "pass" -> o.pass.toString, "traced" -> o.traced.toString,
      "wall_s" -> num(o.wallS), "error" -> o.error.map(str).getOrElse("null"))))),
    "spans" -> arr(r.tracer.all.map(s => obj(Seq(
      "id" -> s.id.toString, "name" -> str(s.name), "parent" -> s.parent.toString,
      "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString))))))
}
