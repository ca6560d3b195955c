package graft.ops

import org.apache.spark.sql.functions._
import graft.olist.SparkTestBase

/** Structural invariants for the RelMore3 batch. */
class Round4iOpsSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) = graft.SparkEntry.queries(name)(spark, sf)

  test("agg-ohlc-bars: low <= open/close <= high, positive trade counts") {
    val df = run("agg-ohlc-bars").cache()
    assert(df.count() > 0)
    assert(df.filter(col("low") > col("high")).count() == 0)
    assert(df.filter(col("open") < col("low") || col("open") > col("high")).count() == 0)
    assert(df.filter(col("close") < col("low") || col("close") > col("high")).count() == 0)
    assert(df.filter(col("n_trades") < 1).count() == 0)
  }

  test("func-hash-suite: digest widths and length identities") {
    val df = run("func-hash-suite").cache()
    assert(df.filter(length(col("h_md5")) =!= 32).count() == 0)
    assert(df.filter(length(col("h_sha256")) =!= 64).count() == 0)
    assert(df.filter(col("n_bits") =!= col("n_bytes") * 8).count() == 0)
  }

  test("func-interval-suite: interval identities hold row-wise") {
    val df = run("func-interval-suite").cache()
    assert(df.filter(datediff(col("plus3d"), col("minus90d")) =!= 93).count() == 0)
    assert(df.filter(col("month_end") < col("month_start")).count() == 0)
    assert(df.filter(dayofweek(col("next_monday")) =!= 2).count() == 0) // 2 = Monday
  }

  test("mm-blockhash-dedup: ordered pairs within the hamming bound") {
    val df = run("mm-blockhash-dedup").cache()
    assert(df.filter(col("doc_a") >= col("doc_b")).count() == 0)
    assert(df.filter(col("hamming") < 0 || col("hamming") > 6).count() == 0)
  }
}
