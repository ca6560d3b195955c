package graft.ops

import org.apache.spark.sql.functions._
import graft.olist.SparkTestBase

/** Structural invariants for batch K. */
class Round4qOpsSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) = graft.SparkEntry.queries(name)(spark, sf)

  test("ann-filtered-search: neighbors share the query's label") {
    val df = run("ann-filtered-search").cache()
    val labels = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("neighbor_id"), col("label").as("nl"))
    assert(df.join(labels, "neighbor_id").filter(col("label") =!= col("nl")).count() == 0)
    assert(df.filter(col("rank") > 3).count() == 0)
    assert(df.filter(col("query_id") === col("neighbor_id")).count() == 0)
  }

  test("sql-tpch-q10: only returned revenue, descending") {
    val rows = run("sql-tpch-q10").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val revs = rows.map(_.getDouble(3))
    assert(revs.zip(revs.tail).forall { case (a, b) => a >= b })
    assert(revs.forall(_ > 0))
  }
}
