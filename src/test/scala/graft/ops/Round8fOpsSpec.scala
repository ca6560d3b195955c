package graft.ops

import org.apache.spark.sql.functions._
import graft.olist.SparkTestBase

/** Structural invariants for round-8 batch F. */
class Round8fOpsSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) = graft.SparkEntry.queries(name)(spark, sf)

  test("text-sft-pack: mask accounting partitions every token exactly once") {
    val rows = run("text-sft-pack").collect()
    assert(rows.length == 8)
    val totalTok = rows.map(r =>
      r.getAs[Long]("masked_tokens") + r.getAs[Long]("trained_tokens")).sum
    val direct = Tables.documents(spark, sf)
      .select(size(split(col("text"), " ")).cast("long").as("t"))
      .agg(sum("t")).head().getLong(0)
    assert(totalTok == direct, s"mask partition lost tokens: $totalTok != $direct")
    // prompt rule caps at 16: masked <= 16 * n_docs
    rows.foreach { r =>
      assert(r.getAs[Long]("masked_tokens") <= 16 * r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("n_inwindow_boundaries") <= r.getAs[Long]("n_docs"))
    }
  }

  test("graph-neighborhood-size: reach2 >= degree and bounded by node count") {
    val rows = run("graph-neighborhood-size").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val reaches = rows.map(_.getAs[Long]("reach2"))
    assert(reaches.zip(reaches.tail).forall { case (a, b) => b <= a })
    assert(reaches.forall(_ >= 1))
  }

  test("emb-dist-histogram: buckets bracket their distances, pair count matches the sample") {
    val rows = run("emb-dist-histogram").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val b = r.getAs[Int]("bucket")
      if (b > 0) {
        val lo = 1L << (b - 1); val hi = (1L << b) - 1
        assert(r.getAs[Long]("min_d2q") >= lo && r.getAs[Long]("max_d2q") <= hi)
      }
    }
    val nSampled = Tables.embeddings(spark, sf)
      .filter(substring(md5(concat(lit("dh#"), col("vec_id").cast("string"))), 1, 1) === "0")
      .count()
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == nSampled * (nSampled - 1) / 2)
  }
}
