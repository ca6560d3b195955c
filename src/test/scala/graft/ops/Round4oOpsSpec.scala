package graft.ops

import org.apache.spark.sql.functions._
import graft.olist.SparkTestBase

/** Structural invariants for batch I. */
class Round4oOpsSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) = graft.SparkEntry.queries(name)(spark, sf)

  test("join-full-outer: one-sided rows carry exactly one zero count") {
    val df = run("join-full-outer").cache()
    assert(df.count() > 0)
    val oneSided = df.filter(col("one_sided"))
    assert(oneSided.count() > 0) // the %3 carve guarantees asymmetry
    assert(oneSided.filter(col("n_customers") > 0 && col("n_suppliers") > 0).count() == 0)
    assert(df.filter(!col("one_sided") &&
      (col("n_customers") === 0 || col("n_suppliers") === 0)).count() == 0)
  }

  test("set-union-by-name: old generation defaults the new column") {
    val df = run("set-union-by-name").cache()
    assert(df.count() == Tables.orders(spark, sf).count())
    assert(df.filter(col("o_orderkey") % 2 === 0 && col("bucket") =!= -1).count() == 0)
    assert(df.filter(col("o_orderkey") % 2 === 1 && col("bucket") === -1).count() == 0)
  }

  test("text-code-detect: densities bounded, vote consistent") {
    val df = run("text-code-detect").cache()
    assert(df.filter(col("bracket_density_micro") < 0 ||
      col("bracket_density_micro") > 1000000).count() == 0)
    assert(df.filter(col("n_semi_lines") > col("n_lines")).count() == 0)
    assert(df.filter(col("n_indented") > col("n_lines")).count() == 0)
  }

  test("emb-mrl-recall: per-query recall in [0,1] over exactly 3 candidates") {
    val df = run("emb-mrl-recall").cache()
    assert(df.count() == 10)
    assert(df.filter(col("n_trunc") =!= 3).count() == 0)
    assert(df.filter(col("n_match") > 3 || col("n_match") < 0).count() == 0)
  }
}
