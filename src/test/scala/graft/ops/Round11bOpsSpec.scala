package graft.ops

import graft.olist.SparkTestBase
import org.apache.spark.sql.functions._

/** Round-11 batch B invariants: the materialized-layer algebra ops.
  * Each op's oracle is a full recompute, so these specs check the
  * MERGE-SIDE theorems directly in Spark (independent of DuckDB). */
class Round11bOpsSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) = graft.SparkEntry.queries(name)(spark, sf)

  test("agg-mv-delta-refresh: merged states equal the full recompute") {
    val merged = run("agg-mv-delta-refresh")
    // independent recompute in Spark itself (no split, no merge)
    val o = Tables.orders(spark, sf)
    val full = o.groupBy("o_custkey").agg(
        count(lit(1)).as("n"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("sum_cents"),
        sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_open"),
        max(col("o_orderdate")).as("last_ts"))
      .withColumn("avg_cents", expr("sum_cents div n"))
      .select("o_custkey", "n", "sum_cents", "n_open", "last_ts", "avg_cents")
    assert(merged.count() == full.count())
    assert(merged.except(full).isEmpty && full.except(merged).isEmpty)
    // both sides of the split must be non-trivially represented, or the
    // test degenerates to a plain group-by
    val split = to_timestamp(lit("1997-06-01"))
    assert(o.filter(col("o_orderdate") < split).count() > 0)
    assert(o.filter(col("o_orderdate") >= split).count() > 0)
  }

  test("agg-kmv-rolling-merge: merged-partial kth equals full-set kth") {
    val out = run("agg-kmv-rolling-merge").collect()
    assert(out.nonEmpty)
    // recompute one window's kth smallest hash from the FULL distinct
    // set (no per-month truncation) — the KMV merge theorem instance
    val r0 = out.head
    val m0 = r0.getAs[java.sql.Date]("m")
    val full = Tables.orders(spark, sf)
      .select(to_date(date_trunc("month", col("o_orderdate"))).as("m"),
        expr("hex_slice_long(md5(CAST(o_custkey AS STRING)), 1, 13)").as("h"))
      .filter(col("m") >= add_months(lit(m0), -2) && col("m") <= lit(m0))
      .select("h").distinct()
      .orderBy("h").limit(24).collect().map(_.getLong(0))
    assert(full.length == 24)
    assert(full.last == r0.getAs[Long]("kth_hash"))
    out.foreach { r =>
      val est = r.getAs[Long]("est_distinct")
      val exact = r.getAs[Long]("exact_distinct")
      assert(exact >= 24)          // rn=K existed, so the window had >= K
      assert(est > 0)
      assert(r.getAs[Long]("err_permille") ==
        math.abs(est - exact) * 1000L / exact)
      assert(r.getAs[Boolean]("est_high") == (est >= exact))
    }
  }

  test("graph-cc-incremental: warm-start fixpoint equals cold recompute") {
    val warm = run("graph-cc-incremental")
    // cold recompute: hash-min to fixpoint over the FULL edge set with
    // self labels — no base/delta split, no warm seed
    val li = Tables.lineitem(spark, sf).filter(col("l_orderkey") % 31 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val pairs = li.as("a").join(li.as("b"), Seq("ok"))
      .filter(col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v"))
      .distinct()
    val nodes = li.select(col("pk").as("node")).distinct()
    val edges = pairs.select(col("u").as("src"), col("v").as("dst"))
      .union(pairs.select(col("v").as("src"), col("u").as("dst")))
      .union(nodes.select(col("node").as("src"), col("node").as("dst")))
    val cold = graft.functions.IterativeFixpoint.eagerUntil(
      nodes.select(col("node"), col("node").as("lbl")), 30) { (lbls, _) =>
      edges.join(lbls.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node")).agg(min("lbl").as("lbl"))
    } { (prev, next, _) =>
      next.as("n").join(prev.as("p"), Seq("node"))
        .filter(col("n.lbl") =!= col("p.lbl")).isEmpty
    }
    val coldOut = cold.groupBy(col("lbl").as("component"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(desc("n_nodes"), col("component")).limit(20)
    assert(warm.collect().toSeq == coldOut.collect().toSeq)
    // the split must be non-degenerate: base and delta both contribute
    assert(li.filter(col("ok") % 2 === 0).count() > 0)
    assert(li.filter(col("ok") % 2 === 1).count() > 0)
  }

  test("layout-manifest-prune: hierarchy wins iff predicates align") {
    val out = run("layout-manifest-prune").collect()
    val (pts, ranges) = out.partition(_.getAs[String]("kind") == "point-month")
    assert(pts.nonEmpty && ranges.nonEmpty)
    pts.foreach { r =>
      // partition-aligned probe: exactly one file survives, and the
      // two-tier read touches far fewer stats rows than the flat scan
      assert(r.getAs[Long]("files_scanned") == 1L)
      assert(r.getAs[Long]("stats_hier") < r.getAs[Long]("stats_flat"))
    }
    ranges.foreach { r =>
      // unaligned probe: nothing prunes; hier pays the manifest tier
      // ON TOP of (almost) all file stats
      assert(r.getAs[Long]("files_scanned") >= 1L)
      assert(r.getAs[Long]("stats_hier") > r.getAs[Long]("files_scanned"))
    }
  }

  test("agg-histogram-quantile-merge: estimate brackets the exact kth by one bucket") {
    val out = run("agg-histogram-quantile-merge").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      // the k-th element lives inside the chosen bucket, so
      // 0 <= exact - est < W structurally — the op's error contract
      assert(r.getAs[Boolean]("gap_ok"),
        s"gap ${r.getAs[Long]("gap_cents")} outside [0, 65536)")
      assert(r.getAs[Long]("est_cents") % 65536L == 0L)
    }
    // p50 <= p90 <= p99 per window (monotone quantiles)
    out.groupBy(_.getAs[java.sql.Date]("m")).foreach { case (_, rows) =>
      val byQ = rows.sortBy(_.getAs[Long]("q")).map(_.getAs[Long]("exact_cents"))
      assert(byQ.sameElements(byQ.sorted))
    }
  }

  test("agg-histogram-width-curve: one stored grain serves the whole ladder") {
    val out = run("agg-histogram-width-curve").collect()
    assert(out.length == 15) // 5 widths × 3 quantiles
    out.foreach { r =>
      assert(r.getAs[Boolean]("gap_ok"))
      // the estimate is a multiple of ITS width (derived bucketing)
      assert(r.getAs[Long]("est_cents") % r.getAs[Long]("w") == 0L)
    }
    // exact kth is width-independent: same exact_cents across the ladder
    out.groupBy(_.getAs[Long]("q")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Long]("exact_cents")).distinct.length == 1)
    }
    // the chosen bucket always CONTAINS the k-th element, so
    // est = floor(exact / w) * w — coarser grids floor lower or equal
    out.foreach { r =>
      val (w, est, exact) =
        (r.getAs[Long]("w"), r.getAs[Long]("est_cents"), r.getAs[Long]("exact_cents"))
      assert(est == (exact / w) * w)
    }
  }

  test("agg-mv-lambda-read: lambda view is point-in-time consistent") {
    val out = run("agg-mv-lambda-read")
    val full = Tables.orders(spark, sf).groupBy("o_custkey").agg(
        count(lit(1)).as("n"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("sum_cents"),
        max(col("o_orderdate")).as("last_ts"))
    // core state identical to the recompute; provenance columns sane
    assert(out.select("o_custkey", "n", "sum_cents", "last_ts")
      .except(full).isEmpty)
    out.collect().foreach { r =>
      assert(r.getAs[Long]("n_tail") <= r.getAs[Long]("n"))
      val inMv = r.getAs[Int]("in_mv")
      assert(inMv == 0 || inMv == 1)
      // every key comes from the MV, the tail, or both
      assert(inMv == 1 || r.getAs[Long]("n_tail") == r.getAs[Long]("n"))
    }
  }

  test("join-ip-longest-prefix: specificity order is /24 > /16 > /8") {
    val out = run("join-ip-longest-prefix").collect()
    assert(out.nonEmpty)
    val byClass = out.map(r =>
      r.getAs[String]("label_class") -> r.getAs[Int]("matched_len")).toMap
    // each label class resolves at its own prefix length, never mixed
    byClass.get("edge").foreach(l => assert(l == 24))
    byClass.get("dc").foreach(l => assert(l == 16))
    byClass.get("corp").foreach(l => assert(l == 8))
    // an /24-eligible IP must never fall through to /16 or /8: classes
    // are disjoint per (label_class, matched_len) row by construction
    assert(out.map(_.getAs[String]("label_class")).distinct.length == out.length)
  }

  test("func-ip-cidr-suite: parse round-trip is total and blocks are sane") {
    val out = run("func-ip-cidr-suite").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      // every synthesized dotted quad must survive aton→ntoa unchanged
      assert(r.getAs[Long]("n_roundtrip_ok") == r.getAs[Long]("n_ips"))
      assert(r.getAs[Long]("n_subnets24") <= r.getAs[Long]("n_ips"))
      assert(r.getAs[Long]("min_host") <= r.getAs[Long]("max_host"))
      assert(r.getAs[String]("cidr").endsWith(".0.0/16"))
    }
  }
}
