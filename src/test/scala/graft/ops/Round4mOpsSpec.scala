package graft.ops

import org.apache.spark.sql.functions._
import graft.olist.SparkTestBase

/** Structural invariants for batch G: SQL Q5, FILTER aggregates,
  * collation, ANN recall. */
class Round4mOpsSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) = graft.SparkEntry.queries(name)(spark, sf)

  test("sql-tpch-q5: one row per ASIA nation, positive revenue") {
    val df = run("sql-tpch-q5").cache()
    assert(df.count() > 0)
    assert(df.filter(col("revenue") <= 0).count() == 0)
    assert(df.groupBy("n_name").count().filter(col("count") > 1).count() == 0)
  }

  test("agg-filter-where: filtered counts bounded by group counts") {
    val df = run("agg-filter-where").cache()
    assert(df.filter(col("n_big") > col("n_orders")).count() == 0)
    assert(df.filter(col("n_urgent") > col("n_orders")).count() == 0)
    assert(df.agg(sum("n_orders")).head().getLong(0) ==
      Tables.orders(spark, sf).count())
  }

  test("func-collation: case variants merge under UTF8_LCASE") {
    val r = run("func-collation").collect()
    assert(r.length == 1)
    assert(r(0).getString(0) == "building")
    assert(r(0).getLong(2) == 2) // both casings matched the collated filter
  }

  test("ann-recall-measure: recall in [0,1], matches bounded by candidates") {
    val df = run("ann-recall-measure").cache()
    assert(df.count() > 0)
    assert(df.filter(col("n_match") > col("n_ivf")).count() == 0)
    assert(df.filter(col("recall_micro") < 0 || col("recall_micro") > 1000000).count() == 0)
  }
}
