package graft.ops

import org.apache.spark.sql.functions._
import graft.olist.SparkTestBase

/** Structural invariants for the fifth round-4 operator batch (schema
  * evolution, SQL front door, star-schema join)
  * over the sf0.001 testdata. */
class Round4eOpsSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) = graft.SparkEntry.queries(name)(spark, sf)

  test("src-mergeschema: union schema with null-filled evolved column") {
    val got = run("src-mergeschema").cache()
    assert(got.columns.sorted.toSeq == Seq("n_name", "n_nationkey", "n_regionkey"))
    assert(got.count() == Tables.nation(spark, sf).count())
    // exactly the old-shard rows carry the null
    assert(got.filter(col("n_regionkey").isNull) .count() ==
      got.filter(col("n_nationkey") < 12).count())
    assert(got.filter(col("n_nationkey") >= 12 && col("n_regionkey").isNull).count() == 0)
  }

  test("sql-tpch-q1: the SQL front door equals the DataFrame aggregation") {
    val got = run("sql-tpch-q1").cache()
    assert(got.count() > 0)
    // re-derive one column through the DataFrame API: identical input,
    // identical decimal discipline => identical values
    val expect = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate").cast("date") <= lit("1998-09-02").cast("date"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(Tables.outNum(sum(Tables.dec2(col("l_quantity")))).as("sum_qty"))
    val joined = got.select("l_returnflag", "l_linestatus", "sum_qty")
      .except(expect.select("l_returnflag", "l_linestatus", "sum_qty"))
    assert(joined.count() == 0)
  }

  test("join-star-dims: every order lands in exactly one region-year cell") {
    val got = run("join-star-dims").cache()
    assert(got.count() > 0)
    val totalOrders = Tables.orders(spark, sf).count()
    assert(got.agg(sum("n_orders")).head.getLong(0) == totalOrders)
    assert(got.select("r_name").distinct().count() ==
      Tables.region(spark, sf).count())
  }

  test("dedup-edit-distance: verified pairs respect the normalized threshold") {
    val got = run("dedup-edit-distance").cache()
    assert(got.filter(col("edit_dist") < 0).count() == 0)
    assert(got.filter(col("edit_dist") * 5 > col("max_len")).count() == 0)
    assert(got.filter(col("doc_a") >= col("doc_b")).count() == 0)
    // edit distance lower bound: at least the length difference
    val docs = Tables.documents(spark, sf).select(col("doc_id"), length(col("text")).as("l"))
    val joined = got
      .join(docs.select(col("doc_id").as("doc_a"), col("l").as("la")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("l").as("lb")), Seq("doc_b"))
    assert(joined.filter(col("edit_dist") < abs(col("la") - col("lb"))).count() == 0)
  }
}
