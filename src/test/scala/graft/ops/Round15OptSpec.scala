package graft.ops

import graft.olist.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-15 optimization invariants: rewrites that changed an
  * operator's INTERNALS (never its declared output) hold against the
  * ORIGINAL implementation, replayed verbatim on the sf0.001 fixture.
  *
  *  - PrefixScan.withLastNonNull vs the four ignoreNulls window frames
  *    it replaced in agg-psm-match;
  *  - agg-segment-migration's PrefixScan ntile vs the window ntile;
  *  - dedup-keep-best's max(struct) argmax vs the row_number pick;
  *  - mm-audio-vad-stub's row-local segment census vs the exploded
  *    frame + islands-window form;
  *  - text-skipgram-pairs' row-local offset pairing vs the window
  *    re-rank + doc-keyed self-join + direction union.
  */
class Round15OptSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("withLastNonNull equals the ignoreNulls window frames on the psm users frame") {
    val users = Tables.events(spark, sf).groupBy("user_id")
      .agg(sum(when(col("event_type").isin("click", "view"), 1L).otherwise(0L)).as("score"),
        sum(when(col("event_type") === "purchase", floor(col("value")).cast("long"))
          .otherwise(0L)).as("outcome"))
      .withColumn("treated", col("user_id") % 2 === 1)
      .withColumn("co", when(!col("treated"), col("outcome")))
      .withColumn("cs", when(!col("treated"), col("score")))
      .persist()
    val w = Window.orderBy(col("score"), col("user_id"))
    val ref = users
      .withColumn("co_p", last(col("co"), ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("cs_p", last(col("cs"), ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("co_n", first(col("co"), ignoreNulls = true)
        .over(w.rowsBetween(1, Window.unboundedFollowing)))
      .withColumn("cs_n", first(col("cs"), ignoreNulls = true)
        .over(w.rowsBetween(1, Window.unboundedFollowing)))
    val fwd = graft.functions.PrefixScan.withLastNonNull(
      users, Seq(col("score"), col("user_id")), Seq("co", "cs"), suffix = "_p")
    val got = graft.functions.PrefixScan.withLastNonNull(
      fwd, Seq(col("score").desc, col("user_id").desc), Seq("co", "cs"), suffix = "_n")
    val cols = Seq("user_id", "co_p", "cs_p", "co_n", "cs_n").map(col)
    val r = ref.select(cols: _*).orderBy("user_id").collect().toSeq
    val g = got.select(cols: _*).orderBy("user_id").collect().toSeq
    spark.catalog.clearCache()
    assert(r.nonEmpty && g == r, s"carry scan diverged from the window frames")
  }

  test("agg-segment-migration equals the original window-ntile implementation") {
    val o = Tables.orders(spark, sf).select(col("o_custkey").as("ck"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).as("ed"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))").as("c"))
      .persist()
    val mid = o.agg(((min("ed") + max("ed")) -
      pmod(min("ed") + max("ed"), lit(2))).divide(lit(2)).cast("int").as("mid"))
    def half(first: Boolean) = {
      val side = o.crossJoin(broadcast(mid))
        .filter(if (first) col("ed") < col("mid") else col("ed") >= col("mid"))
        .groupBy("ck").agg(count(lit(1)).as("f"), sum("c").as("m"))
      side
        .withColumn("ft", ntile(3).over(Window.orderBy(col("f"), col("ck"))))
        .withColumn("mt", ntile(3).over(Window.orderBy(col("m"), col("ck"))))
        .select(col("ck"), ((col("ft") - 1) * 3 + col("mt")).as("seg"))
    }
    val flows = half(first = true).select(col("ck"), col("seg").as("seg_from"))
      .join(half(first = false).select(col("ck"), col("seg").as("seg_to")), Seq("ck"))
      .groupBy("seg_from", "seg_to").agg(count(lit(1)).as("n_customers"))
    val rowTot = flows.groupBy("seg_from").agg(sum("n_customers").as("row_n"))
    val ref = flows.join(broadcast(rowTot), Seq("seg_from"))
      .select(col("seg_from"), col("seg_to"), col("n_customers"),
        Tables.ratioFloor(col("n_customers").cast("double"), col("row_n"), 6).as("row_share"))
      .orderBy("seg_from", "seg_to").collect().toSeq
    val got = graft.SparkEntry.queries("agg-segment-migration")(spark, sf).collect().toSeq
    spark.catalog.clearCache()
    assert(ref.nonEmpty && got == ref, "PrefixScan ntile port diverged from window ntile")
  }

  test("dedup-keep-best equals the original row_number-window implementation") {
    val labels = TextDedup.dedupCluster(spark, sf)
      .select("doc_id", "cluster_id")
    val sized = labels.join(
      Tables.documents(spark, sf).select(col("doc_id"), col("n_chars")), Seq("doc_id"))
    val w = Window.partitionBy("cluster_id").orderBy(desc("n_chars"), col("doc_id"))
    val ref = sized
      .withColumn("rk", row_number().over(w))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_docs"),
        min(when(col("rk") === 1, col("doc_id"))).as("kept_doc"),
        min(when(col("rk") === 1, col("n_chars"))).as("kept_chars"))
      .filter(col("n_docs") >= 2)
      .withColumn("n_dropped", col("n_docs") - 1)
      .orderBy("cluster_id").collect().toSeq
    val got = graft.SparkEntry.queries("dedup-keep-best")(spark, sf).collect().toSeq
    spark.catalog.clearCache()
    assert(ref.nonEmpty && got == ref, "max(struct) argmax diverged from the window pick")
  }

  test("mm-audio-vad-stub equals the original exploded-frame implementation") {
    val frames = Tables.documents(spark, sf)
      .filter(length(col("text")) >= 20)
      .select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(0, CAST(length(text) div 20 AS INT) - 1), " +
            "i -> substring(text, i * 20 + 1, 20))")).as(Seq("frame_idx", "fr")))
      .select(col("doc_id"), col("frame_idx"),
        expr("aggregate(transform(split(fr, ''), ch -> ascii(ch) * ascii(ch)), " +
          "0L, (acc, x) -> acc + x)").as("energy"))
      .persist()
    val clipMean = frames.groupBy("doc_id")
      .agg(count(lit(1)).as("nf"), sum("energy").as("se"))
    val active = frames.join(broadcast(clipMean), Seq("doc_id"))
      .filter(col("energy") * col("nf") > col("se"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy("frame_idx")))
      .withColumn("island", col("frame_idx") - col("rk"))
    val segs = active.groupBy("doc_id", "island").agg(count(lit(1)).as("seg_len"))
    val perClip = segs.groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"), sum("seg_len").as("active_frames"),
        max("seg_len").as("max_seg"))
    val ref = clipMean.join(perClip, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_segments", "active_frames", "max_seg"))
      .agg(count(lit(1)).as("n_clips"), sum("nf").as("n_frames"),
        sum("active_frames").as("n_active"), sum("n_segments").as("n_segments"),
        max("max_seg").as("max_segment_len"))
      .select(col("n_clips"), col("n_frames"), col("n_active"),
        Tables.ratioFloor(col("n_active"), col("n_frames"), 4).as("active_share"),
        col("n_segments"),
        Tables.ratioFloor(col("n_active"), greatest(col("n_segments"), lit(1L)), 4)
          .as("mean_segment_len"),
        col("max_segment_len")).collect().toSeq
    val got = graft.SparkEntry.queries("mm-audio-vad-stub")(spark, sf).collect().toSeq
    spark.catalog.clearCache()
    assert(ref.nonEmpty && got == ref, "row-local segment census diverged from the islands form")
  }

  test("layout-delta-varint-size equals the original lag-window implementation") {
    val li = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_linenumber"),
      to_date(col("l_shipdate")).as("sd")).persist()
    def varintBytes(delta: org.apache.spark.sql.Column) = {
      val zz = when(delta >= 0, delta * 2).otherwise(-delta * 2 - 1)
      when(zz < 128L, 1L).when(zz < 16384L, 2L).when(zz < 2097152L, 3L)
        .when(zz < 268435456L, 4L).when(zz < 34359738368L, 5L).otherwise(6L)
    }
    def lagged(order: Seq[org.apache.spark.sql.Column]) =
      li.withColumn("dlt", col("l_orderkey") -
        lag(col("l_orderkey"), 1, 0L).over(Window.orderBy(order: _*)))
    val sorted = lagged(Seq(col("l_orderkey"), col("l_linenumber")))
      .agg(sum(varintBytes(col("dlt"))).as("bytes_sorted"), count(lit(1)).as("n"))
    val arrival = lagged(Seq(col("sd"), col("l_orderkey"), col("l_linenumber")))
      .agg(sum(varintBytes(col("dlt"))).as("bytes_arrival"))
    val ref = sorted.crossJoin(broadcast(arrival))
      .select(col("n").as("n_values"), col("bytes_sorted"), col("bytes_arrival"),
        Tables.ratioFloor(col("bytes_sorted"), col("n"), 3).as("bytes_per_value_sorted"),
        Tables.ratioFloor(col("bytes_arrival"), col("n"), 3).as("bytes_per_value_arrival"),
        Tables.ratioFloor(col("bytes_arrival"), col("bytes_sorted"), 3).as("sort_win_ratio"))
      .collect().toSeq
    val got = graft.SparkEntry.queries("layout-delta-varint-size")(spark, sf)
      .collect().toSeq
    spark.catalog.clearCache()
    assert(ref.nonEmpty && got == ref,
      "partition-summary delta fold diverged from the lag-window form")
  }

  test("text-skipgram-pairs equals the original window + self-join implementation") {
    val pos = Tables.documents(spark, sf)
      .select(col("doc_id"), posexplode(split(lower(col("text")), " "))
        .as(Seq("p", "tok")))
      .filter(col("tok").rlike("^[a-z]{2,}$"))
      .persist()
    val vocab = pos.groupBy("tok").agg(count(lit(1)).as("nf"))
    val nTot = vocab.agg(sum("nf").cast("double").as("nt"))
    val kept = pos.join(vocab, Seq("tok")).crossJoin(broadcast(nTot))
      .withColumn("f", col("nf").cast("double") / col("nt"))
      .withColumn("pkeep", least(lit(1.0),
        sqrt(lit(0.001) / col("f")) + lit(0.001) / col("f")))
      .withColumn("hu", expr("CAST(conv(substring(md5(concat('sg_', " +
        "CAST(doc_id AS STRING), '_', CAST(p AS STRING))), 1, 8), 16, 10) AS BIGINT)"))
      .filter(col("hu") < floor(col("pkeep") * lit(4294967296.0)).cast("long"))
      .withColumn("np", row_number().over(
        Window.partitionBy("doc_id").orderBy("p")))
      .select(col("doc_id"), col("np"), col("tok"))
      .persist()
    val pairs = kept.select(col("doc_id"), col("np").as("pa"), col("tok").as("ta"))
      .join(kept.select(col("doc_id"), col("np").as("pb"), col("tok").as("tb")),
        Seq("doc_id"))
      .filter(col("pb") - col("pa") >= 1 && col("pb") - col("pa") <= 3)
      .withColumn("wm", expr("1000 DIV (pb - pa)"))
    val ref = pairs.select(col("ta").as("center"), col("tb").as("context"), col("wm"))
      .unionAll(pairs.select(col("tb").as("center"), col("ta").as("context"), col("wm")))
      .groupBy("center", "context")
      .agg(count(lit(1)).as("n_pairs"), sum("wm").as("w_milli"))
      .orderBy(col("w_milli").desc, col("center"), col("context"))
      .limit(20).collect().toSeq
    val got = graft.SparkEntry.queries("text-skipgram-pairs")(spark, sf).collect().toSeq
    spark.catalog.clearCache()
    assert(ref.nonEmpty && got == ref, "row-local pairing diverged from the window+join form")
  }
}
