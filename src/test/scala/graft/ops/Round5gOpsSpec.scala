package graft.ops

import org.apache.spark.sql.functions._
import graft.olist.SparkTestBase

/** Round-5 batch G: parameterized SQL, crypto round-trip.
  */
class Round5gOpsSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) = graft.SparkEntry.queries(name)(spark, sf)

  test("sql-parameterized: bound parameters reach the scan as pushed filters") {
    val df = run("sql-parameterized")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("o_orderstatus"),
      s"parameter-bound predicate must push to the parquet scan:\n$plan")
    assert(df.collect().nonEmpty)
  }

  test("func-crypto-roundtrip: decrypt∘encrypt is identity, ciphertext block-aligned") {
    val rows = run("func-crypto-roundtrip").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(2), s"round-trip failed for ${r.getLong(0)}")
      assert(r.getInt(3) % 16 == 0, "AES ciphertext must be block-aligned")
      assert(r.getString(4).length == 64, "sha256 hex fingerprint")
    }
  }
}
