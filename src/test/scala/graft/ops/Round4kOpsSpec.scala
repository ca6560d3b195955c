package graft.ops

import org.apache.spark.sql.functions._
import graft.olist.SparkTestBase

/** Structural invariants for the RelMore5 batch. */
class Round4kOpsSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) = graft.SparkEntry.queries(name)(spark, sf)

  test("win-share-suite: shares sum to ~1 per group, cume in (0,1]") {
    val df = run("win-share-suite").cache()
    // floor-quantized micro shares: group total within [1 - n·1e-6, 1]
    val g = df.groupBy("o_orderstatus")
      .agg(sum("share_micro").as("s"), count(lit(1)).as("n"))
    assert(g.filter(col("s") > 1000000 || col("s") < lit(1000000) - col("n")).count() == 0)
    assert(df.filter(col("cume") <= 0 || col("cume") > 1).count() == 0)
    assert(df.filter(col("run_share_micro") < col("share_micro") - 1).count() == 0)
  }

  test("expr-json-struct: parsed fields round-trip the source columns") {
    val df = run("expr-json-struct").cache()
    val o = Tables.orders(spark, sf).select(col("o_orderkey"),
      col("o_orderstatus"), (col("o_custkey") % 100).as("cmod_src"),
      (col("o_custkey") % 7).as("k2_src"))
    val j = df.join(o, "o_orderkey")
    assert(j.filter(col("st") =!= col("o_orderstatus")).count() == 0)
    assert(j.filter(col("meta_cmod") =!= col("cmod_src")).count() == 0)
    assert(j.filter(col("k2") =!= col("k2_src")).count() == 0)
  }

  test("text-tfidf-topterms: at most 5 ranked terms per doc, scores non-increasing") {
    val df = run("text-tfidf-topterms").cache()
    assert(df.groupBy("doc_id").count().filter(col("count") > 5).count() == 0)
    val bad = df.selectExpr("doc_id", "rk", "score_micro",
      "lag(score_micro) OVER (PARTITION BY doc_id ORDER BY rk) AS prev")
      .filter(col("prev").isNotNull && col("score_micro") > col("prev"))
    assert(bad.count() == 0)
  }

  test("emb-pq-assign: 8 code positions, errors non-negative, codes from label set") {
    val df = run("emb-pq-assign").cache()
    assert(df.count() == Tables.embeddings(spark, sf).count())
    assert(df.filter(size(split(col("pq_code"), "-")) =!= 8).count() == 0)
    assert(df.filter(col("recon_err_q") < 0).count() == 0)
    val labels = Tables.embeddings(spark, sf)
      .select(col("label").cast("string")).distinct()
      .collect().map(_.getString(0)).toSet
    val codeLabels = df.select(explode(split(col("pq_code"), "-")).as("l"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(codeLabels.subsetOf(labels))
  }
}
