package graft.ops

import org.apache.spark.sql.functions._
import graft.olist.SparkTestBase

/** Structural invariants for the second round-4 operator batch
  * (stratified sampling, idf rarity, HTML strip, regex suite,
  * EXCEPT/INTERSECT ALL, deterministic mode + median) over the
  * sf0.001 testdata. The oracle harness checks exact values; these
  * check the properties that must hold at any scale. */
class Round4bOpsSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) = graft.SparkEntry.queries(name)(spark, sf)

  test("sample-stratified: per-stratum keep rates and hash stability") {
    val df = run("sample-stratified").cache()
    assert(df.filter(col("bucket") < 0 || col("bucket") > 255).count() == 0)
    assert(df.filter(col("lang") === "en" && col("bucket") >= 64).count() == 0)
    assert(df.filter(col("lang") =!= "en" && col("bucket") >= 192).count() == 0)
    // reproducibility: a second run keeps exactly the same documents
    val again = run("sample-stratified")
    assert(df.select("doc_id").exceptAll(again.select("doc_id")).count() == 0)
    // the sample is a subset of the corpus
    val total = Tables.documents(spark, sf).count()
    assert(df.count() > 0 && df.count() < total)
  }

  test("text-idf-rarity: df bounds and rarity arithmetic") {
    val df = run("text-idf-rarity").cache()
    assert(df.filter(col("min_df") < 1).count() == 0)
    assert(df.filter(col("rare_words") > col("n_distinct_words")).count() == 0)
    assert(df.filter(col("avg_df") < col("min_df")).count() == 0)
    // every document with at least one word appears
    val nDocs = Tables.documents(spark, sf)
      .filter(length(col("text")) > 0).count()
    assert(df.count() == nDocs)
  }

  test("text-html-strip: tags removed, entities decoded, whitespace squeezed") {
    val df = run("text-html-strip").cache()
    assert(df.filter(col("text_clean").contains("</")).count() == 0)
    assert(df.filter(col("text_clean").contains("<p")
      || col("text_clean").contains("<div")).count() == 0)
    assert(df.filter(col("text_clean").contains("&amp;")).count() == 0)
    assert(df.filter(col("text_clean").contains("  ")).count() == 0)
    // the injected markup's text survives decoded
    assert(df.filter(!col("text_clean").startsWith("Tom & Jerry <3")).count() == 0)
  }

  test("func-regex-suite: extraction, masking and split agree with direct columns") {
    val df = run("func-regex-suite").cache()
    assert(df.filter(col("phone_masked").rlike("[0-9]")).count() == 0)
    assert(df.filter(col("trailing_digits").cast("long") =!= col("c_custkey")).count() == 0)
    assert(df.filter(!col("seg_flag").isin(0, 1)).count() == 0)
  }

  test("set-except-all: multiplicities match direct per-side counts") {
    val o = Tables.orders(spark, sf)
    val ca = o.filter(col("o_orderkey") % 2 === 0)
      .groupBy("o_orderstatus").agg(count(lit(1)).as("na"))
    val cb = o.filter(col("o_orderkey") % 2 === 1)
      .groupBy("o_orderstatus").agg(count(lit(1)).as("nb"))
    val direct = ca.join(cb, Seq("o_orderstatus"), "full")
      .select(col("o_orderstatus"),
        greatest(coalesce(col("na"), lit(0L)) - coalesce(col("nb"), lit(0L)), lit(0L)).as("ex"),
        least(coalesce(col("na"), lit(0L)), coalesce(col("nb"), lit(0L))).as("in_"))
    val got = run("set-except-all")
    assert(got.join(direct, Seq("o_orderstatus"))
      .filter(col("except_all_n") =!= col("ex")
        || col("intersect_all_n") =!= col("in_")).count() == 0)
  }

  test("join-interval-overlap: 6h grid alignment and bin-join equals naive overlap join") {
    val got = run("join-interval-overlap").cache()
    assert(got.filter(col("n_users") > col("n_sessions")).count() == 0)
    // every window start sits on the 6h grid
    assert(got.filter(
      unix_timestamp(col("window_start"), "yyyy-MM-dd HH:mm:ss") % 21600 =!= 0).count() == 0)
    // the binned join must agree with the naive inequality join
    val sess = Tables.events(spark, sf).filter(col("user_id").isNotNull)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(min(col("ts")).as("s_start"), max(col("ts")).as("s_end"))
    val naive = sess.crossJoin(
      got.select(to_timestamp(col("window_start")).as("w")))
      .filter(col("s_start") < col("w") + expr("interval 6 hours")
        && col("w") < col("s_end"))
      .groupBy("w").agg(count(lit(1)).as("n_naive"))
    assert(got.withColumn("w", to_timestamp(col("window_start")))
      .join(naive, Seq("w"))
      .filter(col("n_sessions") =!= col("n_naive")).count() == 0)
  }

  test("agg-bitmap-distinct: the bitmap rollup reproduces exact distinct counts") {
    val got = run("agg-bitmap-distinct").cache()
    assert(got.count() > 0)
    assert(got.filter(col("bitmap_exact") =!= 1).count() == 0)
    assert(got.filter(col("n_distinct_bitmap") =!= col("n_exact")).count() == 0)
  }

  test("agg-histogram: per-group shares sum to one and counts partition the table") {
    val got = run("agg-histogram").cache()
    val perStatus = got.groupBy("o_orderstatus").agg(sum(col("share")).as("s"))
    assert(perStatus.filter(abs(col("s") - 1.0) > 1e-6).count() == 0)
    assert(got.agg(sum("n")).head.getLong(0) == Tables.orders(spark, sf).count())
    assert(got.filter(col("bin") < 0).count() == 0)
  }

  test("text-line-dedup: retention bounded and every document accounted for") {
    val got = run("text-line-dedup").cache()
    assert(got.filter(col("n_kept") > col("n_paras")).count() == 0)
    assert(got.filter(col("retained_frac") < 0 || col("retained_frac") > 1).count() == 0)
    assert(got.count() == Tables.documents(spark, sf).count())
  }

  test("sort-zorder: every cell's bounding box honors the 64x64 locality bound") {
    val got = run("sort-zorder").cache()
    assert(got.count() > 0)
    assert(got.filter(col("x_max") - col("x_min") > 63
      || col("y_max") - col("y_min") > 63).count() == 0)
    assert(got.filter(col("cell") < 0 || col("cell") > 15).count() == 0)
    // cells partition the rows exactly
    assert(got.agg(sum("n_rows")).head.getLong(0) ==
      Tables.lineitem(spark, sf).count())
  }

  test("agg-sketch-union: merged shard sketches stay within the tolerance contract") {
    val got = run("agg-sketch-union").cache()
    assert(got.filter(col("within_tolerance") =!= 1).count() == 0)
    assert(got.filter(col("n_shards") < 1).count() == 0)
  }

  test("win-distinct-running: final running value equals the exact distinct count") {
    val got = run("win-distinct-running").cache()
    val finals = got.groupBy("user_id")
      .agg(max(col("distinct_types_so_far")).as("final_run"))
    val exact = Tables.events(spark, sf)
      .groupBy("user_id").agg(countDistinct(col("event_type")).as("nd"))
    assert(finals.join(exact, Seq("user_id"))
      .filter(col("final_run") =!= col("nd")).count() == 0)
    assert(got.filter(col("distinct_types_so_far") < 1).count() == 0)
  }

  test("text-domain-mix: shares sum to one, weights in (0,1]") {
    val got = run("text-domain-mix").cache()
    val shareSum = got.agg(sum(col("token_share"))).head.getDouble(0)
    assert(math.abs(shareSum - 1.0) < 1e-6, s"share sum $shareSum")
    assert(got.filter(col("mix_weight") <= 0 || col("mix_weight") > 1).count() == 0)
    assert(got.count() ==
      Tables.documents(spark, sf).select("source").distinct().count())
  }

  test("agg-mode-median: mode count is the per-group maximum") {
    val maxC = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag", "l_quantity").agg(count(lit(1)).as("c"))
      .groupBy("l_returnflag").agg(max(col("c")).as("max_c"))
    val got = run("agg-mode-median")
    assert(got.join(maxC, Seq("l_returnflag"))
      .filter(col("mode_n") =!= col("max_c")).count() == 0)
    assert(got.filter(col("median_qty").isNull).count() == 0)
  }
}
