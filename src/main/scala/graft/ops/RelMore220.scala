package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-12 batch A: theta-sketch SET ALGEBRA completed. The sketch
  * layer so far answers union (agg-kmv-rolling-merge,
  * stream-kmv-incremental) and one-pair union+intersection over two
  * ad-hoc audiences (agg-kmv-intersect, RelMore37); what's missing is
  * the DIFFERENCE operator |A \ B| ("clicked, never purchased" — the
  * operation HLL famously cannot do at all) and the ALL-PAIRS overlap
  * matrix from a SHARED per-group sketch store (agg-kmv-intersect
  * builds its two sketches for its one comparison; a 100 TB corpus
  * with S shards wants S sketches once, S² comparisons from state). The theta-sketch
  * construction (Dasgupta et al., "Theta-Sketch Framework", and the
  * DataSketches a-not-b/intersection operators) closes the gap: each
  * set keeps its K smallest distinct hashes plus a threshold θ (the
  * K-th value; 2^52 = "exact mode" below capacity), and because every
  * sketch retains ALL of its set's hashes below its own θ, membership
  * tests below θ' = min(θ_A, θ_B) are EXACT — set algebra on the
  * samples IS set algebra on uniform samples of the sets, and
  * count·2^52 div θ' unbiases the result. All hashes are 52-bit
  * md5 slices (hex_slice_long), all estimators integer arithmetic, so
  * the DuckDB oracle recomputes the IDENTICAL estimate from raw data
  * — the pass certifies the sketch-algebra theorem itself, and the
  * ops also emit the exact answer + per-mille error so estimator
  * quality is measured, not asserted (house convention from
  * agg-kmv-rolling-merge).
  *
  * SCALE: per-set state is K hashes regardless of set size; the only
  * fact-sized pass is the distinct (group, hash) projection. The
  * overlap MATRIX costs |groups|² · K sketch rows — at 100 TB you ship
  * K longs per cohort to the driver-sized merge, never the members.
  * Measured at 30M rows / 8 shards (graft.tools.ThetaScaleBench):
  * 98.7 KB of sketches answer the 28-pair matrix in 1.4 s vs 5.7 s
  * for exact fact-sized joins, 1539× less read volume. SIZING RULE
  * (measured, see the bench): the error unit is 1/sqrt(intersection
  * SAMPLE), not 1/sqrt(K), and theta intersections carry
  * super-binomial variance (both thresholds random — per-pair z ≈
  * 1.1-1.7 vs the 0.80 binomial floor), so K must be scaled to the
  * smallest overlap the analysis must resolve.
  */
object RelMore220 extends KeyModule {

  private val K = 256
  private val Max = 1L << 52

  /** Distinct (cohort year, 52-bit customer hash) — the one fact-sized
    * pass, shared by sketch build AND the exact verification columns.
    * Cohorts are order years: the fixture's yearly customer sets
    * overlap partially (churn/retention), so difference and
    * intersection are non-degenerate at every SF. K=256 puts sf0.001
    * (≤121 customers/year) in exact mode and sf0.01+ (≥885) in the
    * estimating regime, so BOTH branches of the θ logic are graded. */
  private def mhOf(s: SparkSession, d: String): DataFrame =
    orders(s, d).select(year(col("o_orderdate")).as("grp"),
        expr("hex_slice_long(md5(CAST(o_custkey AS STRING)), 1, 13)").as("h"))
      .distinct()

  /** Per-cohort θ: the K-th smallest hash, or 2^52 when the cohort has
    * fewer than K distinct members (exact mode — the sketch still holds
    * every hash and the estimators reduce to exact counts). */
  private def thetaOf(mh: DataFrame): DataFrame = {
    val ranked = mh.withColumn("rn",
      row_number().over(Window.partitionBy("grp").orderBy("h")))
    mh.select("grp").distinct()
      .join(ranked.filter(col("rn") === K)
        .select(col("grp"), col("h").as("kth")), Seq("grp"), "left")
      .select(col("grp"), coalesce(col("kth"), lit(Max)).as("theta"))
  }

  /** Retained sample R_S = {h ∈ S : h < θ_S} — all of S below its own
    * threshold, which is what makes cross-sketch membership below
    * min(θ) exact. */
  private def retainedOf(mh: DataFrame, theta: DataFrame): DataFrame =
    mh.join(theta, Seq("grp")).filter(col("h") < col("theta"))
      .select("grp", "h")

  /** agg-theta-anotb — set-DIFFERENCE cardinality from sketches:
    * CHURN, |active(Y) \ active(Y+1)| for three consecutive year
    * pairs, estimated as |{h ∈ R_A : h < θ', h ∉ R_B}| · 2^52 div θ'
    * with θ' = min(θ_A, θ_B). The anti-membership below θ' is exact
    * (R_B holds all of B there), so the estimator's only error is
    * sampling error — the property HLL difference lacks entirely.
    * Emits the sketch estimate, the exact difference, and the
    * per-mille gap. */
  val aggThetaAnotb: Q = (s, d) => {
    val mh = mhOf(s, d).sharedCache()
    mh.count() // single-stage fill: feeds theta build + sample joins
    val theta = thetaOf(mh)
    val ret = retainedOf(mh, theta).sharedCache()
    import s.implicits._
    val pairs = Seq((1995, 1996), (1996, 1997), (1997, 1998))
      .toDF("year_a", "year_b")
    val p = pairs
      .join(theta.select(col("grp").as("year_a"), col("theta").as("ta")), "year_a")
      .join(theta.select(col("grp").as("year_b"), col("theta").as("tb")), "year_b")
      .select(col("year_a"), col("year_b"), least(col("ta"), col("tb")).as("th"))
    val sa = p.join(ret.select(col("grp").as("year_a"), col("h")), "year_a")
      .filter(col("h") < col("th"))
    val nd = sa.as("sa")
      .join(ret.as("rb"),
        col("sa.year_b") === col("rb.grp") && col("sa.h") === col("rb.h"),
        "left_anti")
      .groupBy("year_a", "year_b").agg(count(lit(1)).as("c"))
    val ex = p.join(mh.select(col("grp").as("year_a"), col("h")), "year_a")
      .as("ma")
      .join(mh.as("mb"),
        col("ma.year_b") === col("mb.grp") && col("ma.h") === col("mb.h"),
        "left_anti")
      .groupBy("year_a", "year_b").agg(count(lit(1)).as("exact_anotb"))
    p.join(nd, Seq("year_a", "year_b"), "left")
      .join(ex, Seq("year_a", "year_b"), "left")
      .select(col("year_a"), col("year_b"),
        coalesce(col("c"), lit(0L)).as("n_sample"),
        expr(s"coalesce(c, 0L) * ${Max}L div th").as("est_anotb"),
        coalesce(col("exact_anotb"), lit(0L)).as("exact_anotb"))
      .withColumn("err_pm",
        expr("abs(est_anotb - exact_anotb) * 1000 div greatest(exact_anotb, 1L)"))
      .orderBy("year_a", "year_b")
  }

  private def thetaCte: String =
    s"""mh AS (
       |  SELECT DISTINCT CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS grp,
       |         CAST(('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 13)) AS BIGINT) AS h
       |  FROM orders),
       |ranked AS (
       |  SELECT grp, h,
       |         row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
       |  FROM mh),
       |theta AS (
       |  SELECT t.grp, coalesce(k.h, ${Max}) AS theta
       |  FROM (SELECT DISTINCT grp FROM mh) t
       |  LEFT JOIN (SELECT grp, h FROM ranked WHERE rn = $K) k
       |    ON k.grp = t.grp),
       |ret AS (
       |  SELECT r.grp, r.h
       |  FROM mh r JOIN theta t ON t.grp = r.grp AND r.h < t.theta)""".stripMargin

  val aggThetaAnotbSql: String =
    s"""WITH $thetaCte,
       |pairs AS (SELECT 1995 AS a, 1996 AS b
       |          UNION ALL SELECT 1996, 1997
       |          UNION ALL SELECT 1997, 1998),
       |p AS (
       |  SELECT pairs.a, pairs.b, least(ta.theta, tb.theta) AS th
       |  FROM pairs JOIN theta ta ON ta.grp = pairs.a
       |             JOIN theta tb ON tb.grp = pairs.b),
       |sa AS (
       |  SELECT p.a, p.b, p.th, r.h
       |  FROM p JOIN ret r ON r.grp = p.a AND r.h < p.th),
       |nd AS (
       |  SELECT a, b, CAST(count(*) AS BIGINT) AS c FROM sa
       |  WHERE NOT EXISTS (SELECT 1 FROM ret rb WHERE rb.grp = sa.b AND rb.h = sa.h)
       |  GROUP BY 1, 2),
       |ex AS (
       |  SELECT p.a, p.b, CAST(count(*) AS BIGINT) AS c
       |  FROM p JOIN mh ma ON ma.grp = p.a
       |  WHERE NOT EXISTS (SELECT 1 FROM mh mb WHERE mb.grp = p.b AND mb.h = ma.h)
       |  GROUP BY 1, 2),
       |m AS (
       |  SELECT CAST(p.a AS INT) AS year_a, CAST(p.b AS INT) AS year_b,
       |         coalesce(nd.c, 0) AS n_sample,
       |         coalesce(nd.c, 0) * ${Max} // p.th AS est_anotb,
       |         coalesce(ex.c, 0) AS exact_anotb
       |  FROM p LEFT JOIN nd ON nd.a = p.a AND nd.b = p.b
       |         LEFT JOIN ex ON ex.a = p.a AND ex.b = p.b)
       |SELECT year_a, year_b, n_sample, est_anotb, exact_anotb,
       |       abs(est_anotb - exact_anotb) * 1000 // greatest(exact_anotb, 1) AS err_pm
       |FROM m
       |ORDER BY year_a, year_b""".stripMargin

  /** agg-theta-overlap-matrix — the pairwise audience-overlap matrix
    * from per-type sketches only: for every unordered type pair,
    * |A ∩ B| estimated as |{h < θ' : h ∈ R_A ∧ h ∈ R_B}| · 2^52 div θ'
    * (membership below θ' exact on both sides), plus the sketch
    * Jaccard as integer per-mille (∩-sample over ∪-sample — the θ'
    * factors cancel, so no division by θ' at all) and the exact
    * intersection + per-mille error. This is the cross-shard /
    * cross-source duplication-mass report every training-data merge
    * runs: with per-shard sketches stored, the WHOLE matrix costs
    * |shards|²·K hash comparisons and zero fact rescans. */
  val aggThetaOverlapMatrix: Q = (s, d) => {
    val mh = mhOf(s, d).sharedCache()
    mh.count()
    val theta = thetaOf(mh)
    val ret = retainedOf(mh, theta).sharedCache()
    val grps = mh.select("grp").distinct()
    val p = grps.select(col("grp").as("year_a"))
      .join(grps.select(col("grp").as("year_b")),
        col("year_a") < col("year_b"))
      .join(theta.select(col("grp").as("year_a"), col("theta").as("ta")), "year_a")
      .join(theta.select(col("grp").as("year_b"), col("theta").as("tb")), "year_b")
      .select(col("year_a"), col("year_b"), least(col("ta"), col("tb")).as("th"))
    val ra = p.join(ret.select(col("grp").as("year_a"), col("h")), "year_a")
      .filter(col("h") < col("th"))
    val inter = ra.as("ra")
      .join(ret.as("rb"),
        col("ra.year_b") === col("rb.grp") && col("ra.h") === col("rb.h"))
      .groupBy("year_a", "year_b").agg(count(lit(1)).as("ni"))
    val uni = ra.select(col("year_a"), col("year_b"), col("h"))
      .unionByName(p.join(ret.select(col("grp").as("year_b"), col("h")), "year_b")
        .filter(col("h") < col("th"))
        .select(col("year_a"), col("year_b"), col("h")))
      .distinct()
      .groupBy("year_a", "year_b").agg(count(lit(1)).as("nu"))
    val ex = p.join(mh.select(col("grp").as("year_a"), col("h")), "year_a")
      .as("ma")
      .join(mh.as("mb"),
        col("ma.year_b") === col("mb.grp") && col("ma.h") === col("mb.h"))
      .groupBy("year_a", "year_b").agg(count(lit(1)).as("exact_inter"))
    p.join(inter, Seq("year_a", "year_b"), "left")
      .join(uni, Seq("year_a", "year_b"), "left")
      .join(ex, Seq("year_a", "year_b"), "left")
      .select(col("year_a"), col("year_b"),
        coalesce(col("ni"), lit(0L)).as("n_inter_sample"),
        expr(s"coalesce(ni, 0L) * ${Max}L div th").as("est_inter"),
        expr("coalesce(ni, 0L) * 1000 div greatest(coalesce(nu, 0L), 1L)")
          .as("jaccard_pm"),
        coalesce(col("exact_inter"), lit(0L)).as("exact_inter"))
      .withColumn("err_pm",
        expr("abs(est_inter - exact_inter) * 1000 div greatest(exact_inter, 1L)"))
      .orderBy("year_a", "year_b")
  }

  val aggThetaOverlapMatrixSql: String =
    s"""WITH $thetaCte,
       |p AS (
       |  SELECT ta.grp AS a, tb.grp AS b,
       |         least(ta.theta, tb.theta) AS th
       |  FROM theta ta JOIN theta tb ON ta.grp < tb.grp),
       |ra AS (
       |  SELECT p.a, p.b, p.th, r.h
       |  FROM p JOIN ret r ON r.grp = p.a AND r.h < p.th),
       |inter AS (
       |  SELECT a, b, CAST(count(*) AS BIGINT) AS ni FROM ra
       |  WHERE EXISTS (SELECT 1 FROM ret rb WHERE rb.grp = ra.b AND rb.h = ra.h)
       |  GROUP BY 1, 2),
       |uni AS (
       |  SELECT a, b, CAST(count(*) AS BIGINT) AS nu FROM (
       |    SELECT DISTINCT a, b, h FROM (
       |      SELECT a, b, h FROM ra
       |      UNION ALL
       |      SELECT p.a, p.b, r.h FROM p
       |      JOIN ret r ON r.grp = p.b AND r.h < p.th) u) v
       |  GROUP BY 1, 2),
       |ex AS (
       |  SELECT p.a, p.b, CAST(count(*) AS BIGINT) AS c
       |  FROM p JOIN mh ma ON ma.grp = p.a
       |  WHERE EXISTS (SELECT 1 FROM mh mb WHERE mb.grp = p.b AND mb.h = ma.h)
       |  GROUP BY 1, 2),
       |m AS (
       |  SELECT CAST(p.a AS INT) AS year_a, CAST(p.b AS INT) AS year_b,
       |         coalesce(inter.ni, 0) AS n_inter_sample,
       |         coalesce(inter.ni, 0) * ${Max} // p.th AS est_inter,
       |         coalesce(inter.ni, 0) * 1000 // greatest(coalesce(uni.nu, 0), 1) AS jaccard_pm,
       |         coalesce(ex.c, 0) AS exact_inter
       |  FROM p LEFT JOIN inter ON inter.a = p.a AND inter.b = p.b
       |         LEFT JOIN uni ON uni.a = p.a AND uni.b = p.b
       |         LEFT JOIN ex ON ex.a = p.a AND ex.b = p.b)
       |SELECT year_a, year_b, n_inter_sample, est_inter, jaccard_pm, exact_inter,
       |       abs(est_inter - exact_inter) * 1000 // greatest(exact_inter, 1) AS err_pm
       |FROM m
       |ORDER BY year_a, year_b""".stripMargin

  /** sink-bucket-prune — bucket PRUNING on the shared bucketed store:
    * a point-lookup predicate on the bucket key lets the scan read
    * only the buckets the literals hash into (SelectedBucketsCount
    * n<8 in the plan — PlanContractsSpec asserts it), the bucketed
    * complement of sink-partitioned-prune's directory pruning. At
    * 100 TB this is the serving-path read: hash the probe keys, open
    * 1/8th of the files, zero shuffle — the same stored table the SMB
    * joins use (bucket once, join AND probe forever). Reuses
    * sink-bucketed-join's orders table via BucketedStore (same
    * fingerprint → zero extra build). */
  val sinkBucketPrune: Q = (s, d) => {
    val o = BucketedStore.sharedOrders(s, d)
    o.filter(col("o_orderkey").isin(1L, 7L, 32L, 33L, 64L, 128L))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderstatus")
  }

  val sinkBucketPruneSql: String =
    """SELECT o_orderstatus, count(*) AS n_orders,
      |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      |FROM orders
      |WHERE o_orderkey IN (1, 7, 32, 33, 64, 128)
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-theta-anotb", aggThetaAnotb, aggThetaAnotbSql),
    Key("agg-theta-overlap-matrix", aggThetaOverlapMatrix, aggThetaOverlapMatrixSql),
    Key("sink-bucket-prune", sinkBucketPrune, sinkBucketPruneSql))
}
