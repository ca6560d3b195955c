package graft.ops

import org.apache.spark.sql.functions._
import graft.olist.SparkTestBase

/** Structural invariants for the sixth round-4 operator batch (weighted
  * mix sampling, bigram LM stats, embedding-norm outliers) over the
  * sf0.001 testdata. */
class Round4fOpsSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) = graft.SparkEntry.queries(name)(spark, sf)

  test("text-mix-sample: kept counts honor the hash-threshold contract") {
    val got = run("text-mix-sample").cache()
    assert(got.count() > 0)
    assert(got.filter(col("n_kept") > col("n_docs")).count() == 0)
    assert(got.filter(col("target_pct") < 0 || col("target_pct") > 100).count() == 0)
    // rate 0 would keep nothing; every rate here is >= 20, so a source
    // keeping zero docs with >= 5 docs would be suspicious but legal —
    // assert only the hard bound: realized is a valid fraction
    assert(got.filter(col("realized") < 0 || col("realized") > 1).count() == 0)
    // determinism: running it twice gives identical kept counts
    val again = run("text-mix-sample")
    assert(got.exceptAll(again).count() == 0 && again.exceptAll(got).count() == 0)
  }

  test("text-bigram-lm: conditionals are valid probabilities, ranked by count") {
    val got = run("text-bigram-lm").collect()
    assert(got.length > 0 && got.length <= 20)
    val cnts = got.map(_.getAs[Long]("cnt"))
    assert(cnts.zip(cnts.tail).forall { case (x, y) => x >= y }, "not count-descending")
    got.foreach { r =>
      val p = r.getAs[Double]("p_b_given_a")
      assert(p > 0 && p <= 1)
      assert(r.getAs[Long]("cnt") <= r.getAs[Long]("left_cnt"))
    }
  }

  test("emb-norm-outliers: moments are sane and outliers bounded") {
    val got = run("emb-norm-outliers").cache()
    assert(got.count() > 0)
    assert(got.filter(col("std_amax") < 0).count() == 0)
    assert(got.filter(col("mean_amax") <= 0).count() == 0)
    assert(got.filter(col("n_outliers") > col("n_vecs")).count() == 0)
    // sample Chebyshev: at most n/4 points beyond 2 sample-sigma
    // (+1 slack for the 6-dp threshold rounding)
    assert(got.filter(col("n_outliers") * 4 > col("n_vecs") + 4).count() == 0)
    val totalVecs = got.agg(sum("n_vecs")).head.getLong(0)
    assert(totalVecs == Tables.embeddings(spark, sf).count())
  }
}
