package graft.ops

import org.apache.spark.sql.functions._
import graft.olist.SparkTestBase

/** Structural invariants for batch T (forecast backtest, freshness,
  * threshold curve). */
class Round4zOpsSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) = graft.SparkEntry.queries(name)(spark, sf)

  test("agg-forecast-backtest: MAE identity holds, bias bounded by abs error") {
    val r = run("agg-forecast-backtest").collect()(0)
    val (n, sae, bias) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(n > 0 && sae >= 0)
    assert(math.abs(bias) <= sae)
    assert(r.getLong(3) == math.floor(sae * 1000000.0 / n).toLong)
  }

  test("dq-freshness: the freshest stream has zero lag and is never stale") {
    val got = run("dq-freshness").collect()
    assert(got.map(_.getLong(2)).min == 0L)
    got.foreach(r => assert(r.getBoolean(3) == (r.getLong(2) > 60)))
  }

  test("dedup-threshold-curve: pair counts decline as the threshold rises") {
    val got = run("dedup-threshold-curve").collect()
    val byT = got.map(r => r.getInt(0) -> r.getLong(1)).toMap
    val counts = byT.toSeq.sortBy(_._1).map(_._2)
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
  }
}
