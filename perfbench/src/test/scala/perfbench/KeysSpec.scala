package perfbench

import scala.io.Source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class KeysSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Harness.session(2)
  private val sf = sys.env.getOrElse("PERFBENCH_TEST_SF_DIR",
    sys.props("user.home") + "/testdata/sf0.001")

  private val listed: Seq[String] = {
    val src = Source.fromFile("keys.txt")
    try src.getLines().map(_.takeWhile(_ != '#').trim).filter(_.nonEmpty).toSeq
    finally src.close()
  }

  override def afterAll(): Unit = spark.stop()

  test("every listed key is a registered operator key with an oracle") {
    assert(listed.nonEmpty)
    assert(listed.distinct.size == listed.size, "duplicate keys in keys.txt")
    assert(listed.filterNot(graft.SparkEntry.queries.contains).isEmpty)
    assert(listed.filterNot(graft.SparkEntry.oracleSql.contains).isEmpty)
  }

  test("the timed action writes every column of every listed key's frame") {
    val written = new java.util.concurrent.ConcurrentLinkedQueue[StructType]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.analyzed.collectFirst { case w: V2WriteCommand => w.query.schema }.foreach(written.add)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try listed.foreach { k =>
      val df = graft.SparkEntry.queries(k)(spark, sf)
      written.clear()
      Keys.materialize(df)
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      val schemas = written.toArray(Array.empty[StructType]).toSeq
      assert(schemas.nonEmpty, s"$k: the noop write was not seen")
      assert(schemas.last == df.schema, s"$k: the timed action's schema differs from the frame's")
      spark.catalog.clearCache()
    } finally spark.listenerManager.unregister(listener)
  }

  test("a throwing key is counted as failed and kept out of the totals") {
    val ok: Keys.Fn = (s, _) => s.range(10).toDF("id")
    val boom: Keys.Fn = (_, _) => throw new IllegalStateException("boom")
    val ops = for {
      pass <- 0 to 2
      (name, fn) <- Seq("ok-key" -> ok, "boom-key" -> boom)
    } yield Keys.execute(spark, name, fn, sf, pass, None)._1
    val failed = ops.filter(_.name == "boom-key")
    assert(failed.forall(o => !o.ok && o.error.exists(_.contains("boom"))))
    val s = Keys.summarize(ops)
    val okOps = ops.filter(_.name == "ok-key")
    assert(s("cold_s") == okOps.filter(_.pass == 0).map(_.wallS).sum)
    assert(s("warm_s") == Stats.median(okOps.filter(_.pass > 0).map(_.wallS)))
    assert(s("keys.n") == 1.0)
  }
}
