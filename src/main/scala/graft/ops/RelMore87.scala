package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-10 batch E: resource-allocation link prediction, truncated
  * Katz centrality, hour-of-day variance decomposition (η²), last-digit
  * heaping detection. */
object RelMore87 extends KeyModule {

  /** Shared bipartite edge list: distinct (part, supplier) pairs from
    * lineitem — the same graph GraphOps iterates over. r14 opt: served
    * from the per-process fixture (GraphOps.psPairsStored) instead of
    * a per-rep scan + distinct. */
  private def psEdges(s: SparkSession, d: String): DataFrame =
    GraphOps.psPairsStored(s, d)
      .select(col("pk").as("p"), col("sk").as("sp"))

  private val RaDegCap = 256

  /** graph-resource-alloc — Resource-Allocation link prediction for
    * supplier pairs through shared parts: RA(s1,s2) = Σ_{p∈N(s1)∩N(s2)}
    * 1/deg(p), the Zhou-Lü-Zhang index that beats plain common-neighbor
    * counts by discounting promiscuous intermediaries. The 1/deg weight
    * is floor-quantized to integer nano-units BEFORE summing
    * (floor(1e9/deg) — exact for integer quotients, no float
    * accumulation anywhere), so the score is an exact integer sum.
    * Candidate pairs are generated per PART (the low-degree side:
    * deg_p ≈ |E|/|parts|, ~30 here and bounded by sourcing policy, vs
    * deg_s in the hundreds) and hub parts above a documented df-cap
    * ($RaDegCap) are excluded from generation — the same inverted-
    * index cap that keeps dedup-containment subquadratic. Top-20 by
    * (score desc, s1, s2). */
  val graphResourceAlloc: Q = (s, d) => withShufflePartitions(s, 8) {
    val e = psEdges(s, d).sharedCache()
    val deg = e.groupBy("p").agg(count(lit(1)).as("degp"))
      .filter(col("degp") <= RaDegCap)
      .withColumn("wq", floor(lit(1000000000.0) / col("degp")).cast(LongType))
    val withW = e.join(broadcast(deg), "p")
    val a = withW.select(col("p"), col("sp").as("s1"), col("wq"))
    val b = withW.select(col("p"), col("sp").as("s2"))
    val top = a.join(b, "p").filter(col("s1") < col("s2"))
      .groupBy("s1", "s2")
      .agg(count(lit(1)).as("n_common"), sum("wq").as("score_nano"))
      .orderBy(col("score_nano").desc, col("s1").asc, col("s2").asc)
      .limit(20)
      .select(col("s1"), col("s2"), col("n_common"),
        (col("score_nano").cast(DoubleType) / 1e9).as("ra_score"))
      .sharedCache()
    top.count() // materialize inside the scoped-partition block
    top
  }

  val graphResourceAllocSql: String =
    s"""WITH e AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sp FROM lineitem),
       |deg AS (
       |  SELECT p, CAST(floor(1000000000.0 / count(*)) AS BIGINT) AS wq
       |  FROM e GROUP BY p HAVING count(*) <= $RaDegCap),
       |pairs AS (
       |  SELECT a.sp AS s1, b.sp AS s2, deg.wq
       |  FROM e a JOIN e b ON a.p = b.p AND a.sp < b.sp
       |  JOIN deg ON deg.p = a.p),
       |scored AS (
       |  SELECT s1, s2, count(*) AS n_common,
       |         CAST(sum(wq) AS BIGINT) AS score_nano
       |  FROM pairs GROUP BY s1, s2)
       |SELECT s1, s2, n_common, CAST(score_nano AS DOUBLE) / 1e9 AS ra_score
       |FROM scored
       |ORDER BY score_nano DESC, s1, s2
       |LIMIT 20""".stripMargin

  /** graph-katz-centrality — truncated Katz centrality with β = 1/2
    * over the part↔supplier bipartite graph: katz(v) = Σ_{l=1..3}
    * β^l·walks_l(v). Walk counts are EXACT integers from two
    * join+aggregate rounds over the edge list (w1 = degree, w2 = Σ
    * neighbor degrees, w3 = Σ neighbor w2), and β = 1/2 makes the
    * weighted sum an exact dyadic rational — katz = (4w1+2w2+w3)/8
    * with zero rounding anywhere. Three fixed hops = three shuffles
    * on the node key, each reusing the same hash partitioning; no
    * fixpoint, no dampening drift. The part/supplier split in the
    * output uses the even/odd long encoding (GraphOps discipline) so
    * the hot joins never touch strings. Top-20 by (katz desc, node). */
  val graphKatzCentrality: Q = (s, d) => withShufflePartitions(s, 8) {
    val pairs = psEdges(s, d)
      .select((col("p") * 2).as("pn"), (col("sp") * 2 + 1).as("sn"))
    val edges = pairs.select(col("pn").as("src"), col("sn").as("dst"))
      .unionAll(pairs.select(col("sn").as("src"), col("pn").as("dst")))
      .sharedCache()
    val w1 = edges.groupBy("src").agg(count(lit(1)).as("w1")).sharedCache()
    val w2 = edges.join(w1.withColumnRenamed("src", "dst"), "dst")
      .groupBy("src").agg(sum("w1").as("w2")).sharedCache()
    val w3 = edges.join(w2.withColumnRenamed("src", "dst"), "dst")
      .groupBy("src").agg(sum("w2").as("w3"))
    val top = w1.join(w2, "src").join(w3, "src")
      .withColumn("katz8", lit(4) * col("w1") + lit(2) * col("w2") + col("w3"))
      .orderBy(col("katz8").desc, col("src").asc)
      .limit(20)
      .select(
        concat(when(col("src") % 2 === 0, lit("p")).otherwise(lit("s")),
          (col("src") / 2).cast(LongType).cast(StringType)).as("node"),
        col("w1"), col("w2"), col("w3"),
        (col("katz8").cast(DoubleType) / 8).as("katz"))
      .sharedCache()
    top.count() // materialize inside the scoped-partition block
    top
  }

  val graphKatzCentralitySql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT l_partkey * 2 AS pn, l_suppkey * 2 + 1 AS sn FROM lineitem),
      |edges AS (
      |  SELECT pn AS src, sn AS dst FROM pairs
      |  UNION ALL
      |  SELECT sn AS src, pn AS dst FROM pairs),
      |w1 AS (SELECT src, count(*) AS w1 FROM edges GROUP BY src),
      |w2 AS (SELECT e.src, CAST(sum(n.w1) AS BIGINT) AS w2
      |       FROM edges e JOIN w1 n ON e.dst = n.src GROUP BY e.src),
      |w3 AS (SELECT e.src, CAST(sum(n.w2) AS BIGINT) AS w3
      |       FROM edges e JOIN w2 n ON e.dst = n.src GROUP BY e.src),
      |k AS (
      |  SELECT w1.src, w1.w1, w2.w2, w3.w3, 4 * w1.w1 + 2 * w2.w2 + w3.w3 AS katz8
      |  FROM w1 JOIN w2 ON w1.src = w2.src JOIN w3 ON w1.src = w3.src)
      |SELECT (CASE WHEN src % 2 = 0 THEN 'p' ELSE 's' END) ||
      |       CAST(CAST(src // 2 AS BIGINT) AS VARCHAR) AS node,
      |       w1, w2, w3, CAST(katz8 AS DOUBLE) / 8 AS katz
      |FROM k
      |ORDER BY katz8 DESC, src
      |LIMIT 20""".stripMargin

  /** agg-eta-squared — seasonality strength of event value by
    * hour-of-day, as the ANOVA effect size η² = SSB/SST: how much of
    * the value variance the hour explains. Values floor-quantize to
    * integer cents; within-group sums S_h and squares stay exact in
    * Decimal(38); the only float step is the per-group S_h²/n_h term,
    * which at cents scale is an integer-valued double below 2^53 —
    * floored back to an exact long before the 24-row sum. Numerator
    * and denominator are then exact decimals with ONE division at the
    * output. η² ≈ 0 says "hour of day explains nothing — drop the
    * feature"; the same two-pass shape computes any categorical
    * effect size at 100 TB (group count is the only state). */
  val aggEtaSquared: Q = (s, d) => {
    val base = events(s, d).select(hour(col("ts")).as("h"),
      floor(col("value") * 100).cast(LongType).as("vq"))
    val grp = base.groupBy("h")
      .agg(count(lit(1)).as("nh"),
        sum(col("vq").cast(DecimalType(38, 0))).as("sh"))
      .select(col("h"), col("nh"),
        floor((col("sh") * col("sh")).cast(DoubleType) / col("nh"))
          .cast(LongType).as("th"))
    val tot = base.agg(count(lit(1)).as("n"),
      sum(col("vq").cast(DecimalType(38, 0))).as("g"),
      sum((col("vq").cast(DecimalType(38, 0)) * col("vq"))).as("q"))
    grp.agg(count(lit(1)).as("n_groups"),
      sum(col("th").cast(DecimalType(38, 0))).as("sst_b"))
      .crossJoin(broadcast(tot))
      .select(col("n_groups"), col("n"),
        round((col("n") * col("sst_b") - col("g") * col("g")).cast(DoubleType) /
          (col("n") * col("q") - col("g") * col("g")).cast(DoubleType), 6)
          .as("eta_squared"))
  }

  val aggEtaSquaredSql: String =
    """WITH base AS (
      |  SELECT hour(date_trunc('microseconds', ts)) AS h,
      |         CAST(floor(value * 100) AS BIGINT) AS vq
      |  FROM events),
      |grp AS (
      |  SELECT h, count(*) AS nh, sum(CAST(vq AS HUGEINT)) AS sh FROM base GROUP BY h),
      |thq AS (
      |  SELECT h, CAST(floor(CAST(sh * sh AS DOUBLE) / nh) AS BIGINT) AS th FROM grp),
      |tot AS (
      |  SELECT count(*) AS n, sum(CAST(vq AS HUGEINT)) AS g,
      |         sum(CAST(vq AS HUGEINT) * vq) AS q
      |  FROM base)
      |SELECT (SELECT count(*) FROM thq) AS n_groups, n,
      |       round(CAST(n * (SELECT sum(CAST(th AS HUGEINT)) FROM thq) - g * g AS DOUBLE) /
      |             CAST(n * q - g * g AS DOUBLE), 6) AS eta_squared
      |FROM tot""".stripMargin

  /** dq-last-digit-heaping — digit-preference detection on the LAST
    * digit of value cents: humans (and lossy unit conversions) heap
    * on 0 and 5; honest instrument data is uniform. Per-digit counts
    * plus the χ² statistic against uniform, kept exact by clearing
    * denominators — χ² = (10·ΣO² − N²)/N, integer numerator, one
    * floored ratio at the output. The Benford check (dq-benford)
    * audits FIRST digits for fabrication; this audits last digits for
    * rounding damage — a data-entry QA pair. One map-side digit
    * projection + 10-key aggregate: free at any scale. */
  val dqLastDigitHeaping: Q = (s, d) => {
    val digits = events(s, d)
      .select(pmod(floor(col("value") * 100).cast(LongType), lit(10L)).as("digit"))
    val counts = digits.groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val chi = counts.agg(sum("n_obs").as("n"),
      sum(col("n_obs") * col("n_obs")).as("so2"))
      .select(col("n"),
        ratioFloor(lit(10) * col("so2") - col("n") * col("n"), col("n"), 4)
          .as("chi2_uniform"))
    counts.crossJoin(broadcast(chi))
      .select(col("digit"), col("n_obs"),
        ratioFloor(col("n_obs"), col("n"), 6).as("share"), col("chi2_uniform"))
      .orderBy("digit")
  }

  val dqLastDigitHeapingSql: String =
    s"""WITH digits AS (
       |  SELECT ((CAST(floor(value * 100) AS BIGINT) % 10) + 10) % 10 AS digit
       |  FROM events),
       |counts AS (SELECT digit, count(*) AS n_obs FROM digits GROUP BY digit),
       |chi AS (
       |  SELECT CAST(sum(n_obs) AS BIGINT) AS n,
       |         ${ratioFloorSql("(10 * sum(n_obs * n_obs) - sum(n_obs) * sum(n_obs))", "sum(n_obs)", 4)} AS chi2_uniform
       |  FROM counts)
       |SELECT digit, n_obs, ${ratioFloorSql("n_obs", "n", 6)} AS share, chi2_uniform
       |FROM counts CROSS JOIN chi
       |ORDER BY digit""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("graph-resource-alloc", graphResourceAlloc, graphResourceAllocSql),
    Key("graph-katz-centrality", graphKatzCentrality, graphKatzCentralitySql),
    Key("agg-eta-squared", aggEtaSquared, aggEtaSquaredSql),
    Key("dq-last-digit-heaping", dqLastDigitHeaping, dqLastDigitHeapingSql))
}
