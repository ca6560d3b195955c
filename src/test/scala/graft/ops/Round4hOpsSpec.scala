package graft.ops

import org.apache.spark.sql.functions._
import graft.olist.SparkTestBase

/** Structural invariants for the RelMore2 batch. */
class Round4hOpsSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) = graft.SparkEntry.queries(name)(spark, sf)

  test("join-lateral: at most 2 orders per customer, descending prices") {
    val df = run("join-lateral").cache()
    assert(df.groupBy("c_custkey").count().filter(col("count") > 2).count() == 0)
    // every emitted order belongs to the customer (lateral correlation)
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey").as("c_custkey"))
    assert(df.join(o, Seq("c_custkey", "o_orderkey"), "left_anti").count() == 0)
  }

  test("emb-cluster-stats: dispersion non-negative, counts sum to corpus") {
    val df = run("emb-cluster-stats").cache()
    assert(df.filter(col("dispersion_q") < 0).count() == 0)
    val total = df.agg(sum("n")).head().getLong(0)
    assert(total == Tables.embeddings(spark, sf).count())
  }

  test("emb-covariance: symmetric, diagonal is a variance (non-negative)") {
    val df = run("emb-covariance").cache()
    assert(df.count() == 64)
    assert(df.filter(col("i") === col("j") && col("cov_q") < 0).count() == 0)
    // cov(i,j) == cov(j,i): floor-quantization is applied to the same
    // double on both triangle halves (identical products, identical sums)
    val t = df.select(col("i").as("j"), col("j").as("i"), col("cov_q").as("cov_t"))
    assert(df.join(t, Seq("i", "j")).filter(col("cov_q") =!= col("cov_t")).count() == 0)
  }

  test("text-winnowing: positions are valid gram starts, density below 1") {
    val df = run("text-winnowing").cache()
    assert(df.filter(col("pos") < 0).count() == 0)
    // winnowing selects a subset of grams: fewer fingerprints than grams
    val grams = Tables.documents(spark, sf)
      .select(col("doc_id"), (size(split(col("text"), " ")) - 4).as("n_grams"))
      .filter(col("n_grams") >= 1)
    val per = df.groupBy("doc_id").count()
    assert(per.join(grams, "doc_id").filter(col("count") > col("n_grams")).count() == 0)
    // every doc with >= 4 grams yields at least one fingerprint
    val eligible = grams.filter(col("n_grams") >= 4)
    assert(eligible.join(per, Seq("doc_id"), "left_anti").count() == 0)
  }
}
