package graft.ops

import org.apache.spark.sql.functions._
import graft.olist.SparkTestBase

/** Structural invariants for batch O (recursive CTE, VARIANT, IVM
  * merge, null corners, transitions, keep-best, manifest commit). */
class Round4uOpsSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) = graft.SparkEntry.queries(name)(spark, sf)

  test("sql-recursive-cte: every chain terminates at root 0") {
    val got = run("sql-recursive-cte").collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getLong(2) == 0L) // root_key
      // chain_len is ceil(log7) of the start key, loosely bounded
      // (start_key 0 is already the root: zero hops)
      val minLen = if (r.getLong(0) > 0) 1 else 0
      assert(r.getInt(1) >= minLen && r.getInt(1) <= 10)
    }
  }

  test("expr-variant-json: typed extraction matches the raw json, missing path is null") {
    val got = run("expr-variant-json").cache()
    assert(got.count() > 0)
    assert(got.filter(col("k_missing").isNotNull).count() == 0)
    assert(got.filter(col("k_doubled") =!= col("k_int") * 2L).count() == 0)
    assert(got.filter(col("k_str") =!= col("k_int").cast("string")).count() == 0)
  }

  test("agg-ivm-merge: merged partials equal a cold full rebuild") {
    val got = run("agg-ivm-merge")
    val full = Tables.orders(spark, sf)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("sum_cents"),
        min(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("min_cents"),
        max(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("max_cents"))
    assert(got.exceptAll(full).count() == 0 && full.exceptAll(got).count() == 0)
  }

  test("func-null-suite: null-safe equality never returns null, presence mirrors nullness") {
    val got = run("func-null-suite").cache()
    assert(got.filter(col("is_building_nullsafe").isNull).count() == 0)
    assert(got.filter(col("seg").isNull && col("presence") =!= "absent").count() == 0)
    assert(got.filter(col("seg").isNull && col("seg_coal") =!= "NONE").count() == 0)
  }

  test("agg-event-transitions: per-source probabilities sum to ~1e6") {
    val sums = run("agg-event-transitions")
      .groupBy("from_type").agg(sum("p_ppm").as("t")).collect()
    sums.foreach { r =>
      val t = r.getLong(1)
      assert(t > 1000000L - 25 && t <= 1000000L) // floor loss < |to_types|
    }
  }

  test("dedup-keep-best: kept doc is the longest member of its cluster") {
    val got = run("dedup-keep-best").cache()
    got.collect().foreach(r => assert(r.getLong(1) >= 2)) // only multi-doc clusters
    // kept doc must belong to the cluster and have max n_chars among members
    val labels = TextDedup.dedupCluster(spark, sf).select("doc_id", "cluster_id")
    val chars = Tables.documents(spark, sf).select("doc_id", "n_chars")
    val best = labels.join(chars, "doc_id")
      .groupBy("cluster_id").agg(max("n_chars").as("max_chars"))
    val joined = got.join(best, "cluster_id")
      .filter(col("kept_chars") =!= col("max_chars"))
    assert(joined.count() == 0)
  }

  test("sink-manifest-atomic: orphan slice never leaks into the read") {
    val got = run("sink-manifest-atomic").collect()
    val statuses = got.map(_.getString(0)).toSet
    assert(statuses.subsetOf(Set("F", "O")))
    assert(!statuses.contains("P"))
  }
}
