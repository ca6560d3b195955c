package graft.ops

import org.apache.spark.sql.functions._
import graft.olist.SparkTestBase

/** Structural invariants for the third round-4 operator batch
  * (sequence packing, BPE pair counting, int8 embedding quantization,
  * regression aggregates) over the sf0.001
  * testdata. The oracle harness checks exact values; these check the
  * properties that must hold at any scale. */
class Round4cOpsSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) = graft.SparkEntry.queries(name)(spark, sf)

  test("text-pack-sequences: bins hold every token and straddlers are bounded") {
    val got = run("text-pack-sequences").cache()
    assert(got.count() > 0)
    // bin arithmetic: tokens never exceed bins * ctx, and the bin count
    // is the minimum that fits (last bin non-empty)
    assert(got.filter(col("n_tokens") > col("n_bins") * 512).count() == 0)
    assert(got.filter(col("n_tokens") <= (col("n_bins") - 1) * 512).count() == 0)
    assert(got.filter(col("n_straddlers") > col("n_docs")).count() == 0)
    // every document lands in exactly one shard
    val nDocs = Tables.documents(spark, sf).count()
    assert(got.agg(sum("n_docs")).head.getLong(0) == nDocs)
  }

  test("text-bpe-pairs: top pairs are positive-count and rank-ordered") {
    val got = run("text-bpe-pairs").collect()
    assert(got.nonEmpty && got.length <= 20)
    assert(got.forall(_.getAs[Long]("cnt") > 0))
    // non-increasing counts (the merge-candidate ordering BPE needs)
    val cnts = got.map(_.getAs[Long]("cnt")).toSeq
    assert(cnts == cnts.sorted.reverse)
  }

  test("emb-quantize: codes fit int8 and reconstruction error is small") {
    val got = run("emb-quantize").cache()
    assert(got.count() > 0)
    assert(got.filter(col("max_code") > 127).count() == 0)
    // symmetric int8 quantization error is bounded by scale/2 =
    // amax/254; avg rmse must sit well under the per-vector worst case
    assert(got.filter(col("avg_rmse") > col("max_amax") / 127.0).count() == 0)
    // every vector accounted for
    val nVecs = Tables.embeddings(spark, sf).count()
    assert(got.agg(sum("n_vecs")).head.getLong(0) == nVecs)
  }

  test("agg-regression: moments match a hand-computed OLS fit") {
    val got = run("agg-regression").cache()
    // cross-check slope/intercept against explicit sums on one group
    val li = Tables.lineitem(spark, sf).filter(col("l_returnflag") === "A")
      .select(col("l_quantity").cast("double").as("x"),
        col("l_extendedprice").cast("double").as("y"))
    val m = li.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx")).head
    val n = m.getAs[Long]("n").toDouble
    val slope = (m.getAs[Double]("sxy") - m.getAs[Double]("sx") * m.getAs[Double]("sy") / n) /
      (m.getAs[Double]("sxx") - m.getAs[Double]("sx") * m.getAs[Double]("sx") / n)
    val gotA = got.filter(col("l_returnflag") === "A").head
    assert(math.abs(gotA.getAs[Double]("slope") - slope) < 1e-4)
    assert(got.filter(col("r2") < 0 || col("r2") > 1).count() == 0)
  }

  test("text-substring-dedup: window accounting and duplicate-fraction bounds") {
    val got = run("text-substring-dedup").cache()
    assert(got.count() == Tables.documents(spark, sf).count())
    assert(got.filter(col("n_dup_windows") > col("n_windows")).count() == 0)
    assert(got.filter(col("dup_frac") < 0 || col("dup_frac") > 1).count() == 0)
    // stride-8/16-token windows: a doc with W words yields
    // floor(max(W-16,0)/8)+1 windows — spot-check the global total
    val expected = Tables.documents(spark, sf)
      .select(size(split(col("text"), " ")).as("nw"))
      .select(sum(floor(greatest(col("nw") - 16, lit(0)) / 8) + 1)).head.getLong(0)
    assert(got.agg(sum("n_windows")).head.getLong(0) == expected)
  }

  test("agg-entropy: entropy bounded by log2 of vocabulary size") {
    val got = run("agg-entropy").cache()
    assert(got.count() > 0)
    assert(got.filter(col("entropy_bits") < 0).count() == 0)
    // H <= log2(V) with equality only for a uniform distribution
    assert(got.filter(col("entropy_bits") > log2(col("n_distinct_tokens")) + 1e-6)
      .count() == 0)
    assert(got.filter(col("n_distinct_tokens") > col("n_tokens")).count() == 0)
  }

  test("win-streaks: islands partition active days and max <= total") {
    val got = run("win-streaks").cache()
    assert(got.count() > 0)
    assert(got.filter(col("max_streak") > col("n_active_days")).count() == 0)
    assert(got.filter(col("n_streaks") > col("n_active_days")).count() == 0)
    // sum over streaks = distinct active days per user
    val days = Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    val joined = got.join(days, Seq("user_id"))
    assert(joined.filter(col("n_active_days") =!= col("n")).count() == 0)
  }

  test("src-xml-roundtrip: XML write+read restores the table exactly") {
    val got = run("src-xml-roundtrip")
    val src = Tables.nation(spark, sf)
      .select(col("n_nationkey").cast("long"), col("n_name"),
        col("n_regionkey").cast("long"))
    assert(got.count() == src.count())
    assert(got.exceptAll(src).count() == 0 && src.exceptAll(got).count() == 0)
  }
}
