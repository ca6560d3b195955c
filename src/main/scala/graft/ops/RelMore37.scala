package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-5 batch K: KMV theta-sketch set algebra (the intersection
  * estimate HLL cannot give), and Z-order multi-column clustering with
  * measured per-file pruning spans.
  */
object RelMore37 extends KeyModule {

  private val K = 128

  /** The first 12 hex chars of an md5 as an exact dyadic fraction in
    * [0,1). Every term is (digit)/16^i with 16^i an exact double, so
    * the 48-bit sum is EXACT in IEEE double and both engines (same
    * instr/substr semantics) produce bit-identical values. */
  private def hexFrac(c: String): String =
    (1 to 12).map { i =>
      s"(instr('0123456789abcdef', substr($c, $i, 1)) - 1) / ${BigInt(16).pow(i).toDouble}"
    }.mkString("(", " + ", ")")

  /** agg-kmv-intersect — KMV (k-minimum-values / theta) sketches over
    * two audiences (customers ordering before vs from 1998) with UNION and
    * INTERSECTION estimates checked against exact counts. HLL unions
    * perfectly but cannot intersect; KMV can: keep the K smallest
    * md5 hashes per audience (a bounded TakeOrderedAndProject heap per
    * partition → K-row merge, never a global shuffle), then
    * est = (K-1)/theta with theta the Kth smallest as a fraction, and
    * the intersection estimate counts common hashes below
    * min(theta_a, theta_b). Sketches are K-row artifacts: merge,
    * persist, and intersect at KB cost while the exact path re-scans
    * the fact. Hashing is md5 (both engines ship it) and the
    * hex→fraction map is exact dyadic arithmetic, so the DuckDB oracle
    * reproduces the estimates bit-for-bit. Undersized audiences
    * (n < K) degrade gracefully: the sketch IS the audience and the
    * estimate is its cardinality. Exact counts come from ONE pass over
    * orders (per-customer year flags → one shuffle). */
  val aggKmvIntersect: Q = (s, d) => {
    val ords = orders(s, d)
      .select(col("o_custkey"),
        (col("o_orderdate") < to_date(lit("1998-01-01"))).cast(IntegerType).as("in_a"))
    // exact counts, one shuffle: per-customer flags then global sums
    val flags = ords.groupBy("o_custkey")
      .agg(max("in_a").as("in_a"), max(lit(1) - col("in_a")).as("in_b"))
    val exact = flags.agg(
      sum("in_a").cast(LongType).as("exact_a"),
      sum("in_b").cast(LongType).as("exact_b"),
      count(lit(1)).as("exact_u"),
      sum(col("in_a") * col("in_b")).cast(LongType).as("exact_i"))
    def sketch(aud: DataFrame): DataFrame =
      aud.select(md5(col("o_custkey").cast(StringType)).as("h")).distinct()
        .orderBy("h").limit(K)
    val skA = sketch(ords.where(col("in_a") === 1))
    val skB = sketch(ords.where(col("in_a") === 0))
    val skU = skA.union(skB).distinct().orderBy("h").limit(K)
    def thetaOf(sk: DataFrame, tag: String): DataFrame =
      sk.agg(max("h").as(s"th_$tag"), count(lit(1)).as(s"n_sk_$tag"))
    val stat = thetaOf(skA, "a").crossJoin(thetaOf(skB, "b")).crossJoin(thetaOf(skU, "u"))
      .selectExpr("n_sk_a", "n_sk_b", "n_sk_u",
        s"CASE WHEN n_sk_a < $K THEN 1.0 ELSE ${hexFrac("th_a")} END AS fa",
        s"CASE WHEN n_sk_b < $K THEN 1.0 ELSE ${hexFrac("th_b")} END AS fb",
        s"CASE WHEN n_sk_u < $K THEN 1.0 ELSE ${hexFrac("th_u")} END AS fu")
    val nCommon = skA.join(skB, Seq("h"))
      .crossJoin(stat.select("fa", "fb"))
      .where(expr(s"${hexFrac("h")} < least(fa, fb)"))
      .agg(count(lit(1)).as("n_common"))
    exact.crossJoin(stat).crossJoin(nCommon).selectExpr(
      s"CAST($K AS BIGINT) AS k",
      "exact_a",
      s"CASE WHEN n_sk_a < $K THEN n_sk_a ELSE CAST(floor(${K - 1}.0 / fa) AS BIGINT) END AS est_a",
      "exact_b",
      s"CASE WHEN n_sk_b < $K THEN n_sk_b ELSE CAST(floor(${K - 1}.0 / fb) AS BIGINT) END AS est_b",
      "exact_u",
      s"CASE WHEN n_sk_u < $K THEN n_sk_u ELSE CAST(floor(${K - 1}.0 / fu) AS BIGINT) END AS est_u",
      "exact_i",
      "CAST(floor(n_common / least(fa, fb)) AS BIGINT) AS est_i")
      .selectExpr("k", "exact_a", "est_a", "exact_b", "est_b", "exact_u", "est_u",
        "exact_i", "est_i",
        "CAST(floor(abs(est_u - exact_u) * 1000.0 / exact_u) AS BIGINT) AS err_u_pml",
        "CAST(floor(abs(est_i - exact_i) * 1000.0 / greatest(exact_i, 1)) AS BIGINT) AS err_i_pml")
  }

  val aggKmvIntersectSql: String =
    s"""WITH ords AS (
       |  SELECT o_custkey,
       |         CASE WHEN o_orderdate < DATE '1998-01-01' THEN 1 ELSE 0 END AS in_a
       |  FROM orders),
       |flags AS (
       |  SELECT o_custkey, max(in_a) AS in_a, max(1 - in_a) AS in_b
       |  FROM ords GROUP BY 1),
       |exact AS (
       |  SELECT CAST(sum(in_a) AS BIGINT) AS exact_a, CAST(sum(in_b) AS BIGINT) AS exact_b,
       |         CAST(count(*) AS BIGINT) AS exact_u, CAST(sum(in_a * in_b) AS BIGINT) AS exact_i
       |  FROM flags),
       |ska AS (SELECT DISTINCT md5(CAST(o_custkey AS VARCHAR)) AS h FROM ords WHERE in_a = 1
       |        ORDER BY h LIMIT $K),
       |skb AS (SELECT DISTINCT md5(CAST(o_custkey AS VARCHAR)) AS h FROM ords WHERE in_a = 0
       |        ORDER BY h LIMIT $K),
       |sku AS (SELECT h FROM (SELECT h FROM ska UNION SELECT h FROM skb) z ORDER BY h LIMIT $K),
       |stat AS (
       |  SELECT ta.n_sk_a, tb.n_sk_b, tu.n_sk_u,
       |         CASE WHEN ta.n_sk_a < $K THEN 1.0 ELSE ${hexFrac("ta.th_a")} END AS fa,
       |         CASE WHEN tb.n_sk_b < $K THEN 1.0 ELSE ${hexFrac("tb.th_b")} END AS fb,
       |         CASE WHEN tu.n_sk_u < $K THEN 1.0 ELSE ${hexFrac("tu.th_u")} END AS fu
       |  FROM (SELECT max(h) AS th_a, count(*) AS n_sk_a FROM ska) ta,
       |       (SELECT max(h) AS th_b, count(*) AS n_sk_b FROM skb) tb,
       |       (SELECT max(h) AS th_u, count(*) AS n_sk_u FROM sku) tu),
       |com AS (
       |  SELECT count(*) AS n_common
       |  FROM ska JOIN skb USING (h), stat
       |  WHERE ${hexFrac("h")} < least(stat.fa, stat.fb)),
       |est AS (
       |  SELECT CAST($K AS BIGINT) AS k, exact_a,
       |         CASE WHEN n_sk_a < $K THEN n_sk_a ELSE CAST(floor(${K - 1}.0 / fa) AS BIGINT) END AS est_a,
       |         exact_b,
       |         CASE WHEN n_sk_b < $K THEN n_sk_b ELSE CAST(floor(${K - 1}.0 / fb) AS BIGINT) END AS est_b,
       |         exact_u,
       |         CASE WHEN n_sk_u < $K THEN n_sk_u ELSE CAST(floor(${K - 1}.0 / fu) AS BIGINT) END AS est_u,
       |         exact_i,
       |         CAST(floor(n_common / least(fa, fb)) AS BIGINT) AS est_i
       |  FROM exact, stat, com)
       |SELECT k, exact_a, est_a, exact_b, est_b, exact_u, est_u, exact_i, est_i,
       |       CAST(floor(abs(est_u - exact_u) * 1000.0 / exact_u) AS BIGINT) AS err_u_pml,
       |       CAST(floor(abs(est_i - exact_i) * 1000.0 / greatest(exact_i, 1)) AS BIGINT) AS err_i_pml
       |FROM est""".stripMargin

  private val Cells = 256 // per-dimension buckets (8 bits)
  private val NFiles = 16

  /** Morton (Z-order) interleave of two 8-bit bucket ids as pure
    * arithmetic — bit b of v is floor(v/2^b) mod 2, shift-left is
    * multiplication — so the identical text runs on Spark and DuckDB
    * with identical integer results (no engine-specific bit
    * operators). */
  private def mortonExpr(bx: String, by: String): String =
    (0 until 8).map { b =>
      val p = s"${1L << b}e0"
      s"(CAST(floor($bx / $p) AS BIGINT) % 2) * ${1L << (2 * b + 1)} + " +
        s"(CAST(floor($by / $p) AS BIGINT) % 2) * ${1L << (2 * b)}"
    }.mkString("(", " + ", ")")

  /** sink-zorder-layout — Z-order clustering for multi-column file
    * pruning, with the benefit MEASURED: bucket l_partkey and
    * l_suppkey to 8 bits each, interleave to a 16-bit Morton key,
    * range-split into 16 files, and report per-file min/max/span of
    * BOTH dimensions next to the same stats for a naive
    * sort-by-partkey layout. The naive layout prunes one column and
    * leaves the other at full span (255); Z-order bounds both, which
    * is exactly why a lakehouse OPTIMIZE ZORDER BY (a, b) makes
    * two-predicate scans skip files. At 100 TB the Morton key is the
    * repartitionByRange + sortWithinPartitions key at write time (the
    * actual write path is sink-partitioned-prune's subject) — computing
    * it is one codegen'd projection, no shuffle beyond the write's own
    * range partition, and the fixed bucket bounds here make the file
    * assignment deterministic under any partitioning. */
  val sinkZorderLayout: Q = (s, d) => {
    val li = lineitem(s, d).select(col("l_partkey").as("x"), col("l_suppkey").as("y"))
    val mm = li.agg(min("x").as("xmn"), max("x").as("xmx"),
      min("y").as("ymn"), max("y").as("ymx"))
    val g = li.crossJoin(broadcast(mm)).selectExpr(
      s"CAST(floor((x - xmn) * ${Cells}e0 / (xmx - xmn + 1)) AS BIGINT) AS gx",
      s"CAST(floor((y - ymn) * ${Cells}e0 / (ymx - ymn + 1)) AS BIGINT) AS gy")
    // one scan for both layouts: each row explodes into its (layout,
    // file_id) pair, instead of a union of two full re-scans
    val both = g.selectExpr("gx", "gy",
        "explode(array(" +
          s"struct('zorder' AS layout, CAST(floor(${mortonExpr("gx", "gy")} / ${Cells * Cells / NFiles}e0) AS BIGINT) AS file_id), " +
          s"struct('linear' AS layout, CAST(floor(gx / ${Cells / NFiles}e0) AS BIGINT) AS file_id))) AS lf")
      .select(col("lf.layout").as("layout"), col("lf.file_id").as("file_id"),
        col("gx"), col("gy"))
    both.groupBy("layout", "file_id")
      .agg(count(lit(1)).as("n_rows"),
        min("gx").as("gx_min"), max("gx").as("gx_max"),
        min("gy").as("gy_min"), max("gy").as("gy_max"))
      .selectExpr("layout", "file_id", "n_rows", "gx_min", "gx_max",
        "gx_max - gx_min AS gx_span", "gy_min", "gy_max", "gy_max - gy_min AS gy_span")
      .orderBy("layout", "file_id")
  }

  val sinkZorderLayoutSql: String =
    s"""WITH pts AS (SELECT l_partkey AS x, l_suppkey AS y FROM lineitem),
       |mm AS (SELECT min(x) AS xmn, max(x) AS xmx, min(y) AS ymn, max(y) AS ymx FROM pts),
       |g AS (
       |  SELECT CAST(floor((x - xmn) * ${Cells}e0 / (xmx - xmn + 1)) AS BIGINT) AS gx,
       |         CAST(floor((y - ymn) * ${Cells}e0 / (ymx - ymn + 1)) AS BIGINT) AS gy
       |  FROM pts, mm),
       |lay AS (
       |  SELECT 'zorder' AS layout,
       |         CAST(floor(${mortonExpr("gx", "gy")} / ${Cells * Cells / NFiles}e0) AS BIGINT) AS file_id,
       |         gx, gy
       |  FROM g
       |  UNION ALL
       |  SELECT 'linear' AS layout,
       |         CAST(floor(gx / ${Cells / NFiles}e0) AS BIGINT) AS file_id, gx, gy
       |  FROM g)
       |SELECT layout, file_id, count(*) AS n_rows,
       |       min(gx) AS gx_min, max(gx) AS gx_max, max(gx) - min(gx) AS gx_span,
       |       min(gy) AS gy_min, max(gy) AS gy_max, max(gy) - min(gy) AS gy_span
       |FROM lay
       |GROUP BY layout, file_id
       |ORDER BY layout, file_id""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-kmv-intersect", aggKmvIntersect, aggKmvIntersectSql),
    Key("sink-zorder-layout", sinkZorderLayout, sinkZorderLayoutSql))
}
