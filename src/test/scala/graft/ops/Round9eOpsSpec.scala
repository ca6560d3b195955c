package graft.ops

import org.apache.spark.sql.functions._
import graft.olist.SparkTestBase

/** Structural invariants for round-9 batch E. */
class Round9eOpsSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) = graft.SparkEntry.queries(name)(spark, sf)

  test("win-sweepline-concurrency: peaks are positive and bounded by open intervals") {
    val rows = run("win-sweepline-concurrency").collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val nIntervals = Tables.lineitem(spark, sf).groupBy("l_orderkey")
      .agg(max("l_shipdate").as("close"))
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderdate") < col("close")).count()
    val cs = rows.map(_.getAs[Long]("concurrency"))
    assert(cs.zip(cs.tail).forall { case (a, b) => b <= a })
    assert(cs.head <= nIntervals && cs.forall(_ >= 0))
  }

  test("win-sliding-distinct: 7-day distinct dominates the daily distinct") {
    val rows = run("win-sliding-distinct").collect()
    assert(rows.nonEmpty)
    val daily = Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("dt")).distinct()
      .groupBy("dt").agg(countDistinct("user_id").as("n")).collect()
      .map(r => r.getAs[java.sql.Date]("dt") -> r.getAs[Long]("n")).toMap
    rows.foreach { r =>
      val day = r.getAs[java.sql.Date]("wday")
      daily.get(day).foreach(n =>
        assert(r.getAs[Long]("active_7d") >= n,
          s"$day: window distinct below same-day distinct"))
    }
  }

  test("dq-slice-metrics: slice doc counts cover the corpus and flags respect support") {
    val rows = run("dq-slice-metrics").collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == Tables.documents(spark, sf).count())
    rows.filter(_.getAs[Boolean]("flagged")).foreach { r =>
      assert(r.getAs[Long]("n_docs") >= 10, "flag without minimum support")
      val wl = r.getAs[Long]("wordlen_milli"); val g = r.getAs[Long]("global_milli")
      assert(wl * 100 > g * 105 || wl * 100 < g * 95)
    }
  }
}
