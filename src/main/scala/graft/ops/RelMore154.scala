package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch BC: hash-collision birthday budget, concentration
  * ratios, quota-fill sampling, mutual nearest neighbors. */
object RelMore154 extends KeyModule {

  /** dq-hash-collision-budget — the birthday-bound audit for hash-
    * derived keys: truncate an md5 of the order key to 32 bits, count
    * ACTUAL colliding pairs, and compare to the birthday expectation
    * n(n−1)/2³³. Hash-bucketed pipelines (sk-identity surrogate keys,
    * dedup-url, every LSH op) silently assume "collisions don't
    * happen"; this op prices that assumption — at 10⁵ keys a 32-bit
    * space already expects ~2 collisions (measured here), and the
    * same arithmetic says 64 bits buys ~19 orders of magnitude. The
    * 32-bit hash is engine-identical md5 substring arithmetic;
    * colliding pairs are exact (ΣC(c,2) over bucket sizes); the
    * expectation is one closed-form double. */
  val dqHashCollisionBudget: Q = (s, d) => {
    val hashed = orders(s, d)
      .select(expr("conv(substring(md5(CAST(o_orderkey AS STRING)), 1, 8), 16, 10)")
        .cast(LongType).as("h32"))
    val buckets = hashed.groupBy("h32").agg(count(lit(1)).as("c"))
    val stats = buckets.agg(sum("c").as("n"),
      sum(expr("c * (c - 1)")).as("collide2x"))
    stats.select(col("n").as("n_keys"),
        expr("collide2x div 2").as("colliding_pairs"),
        round(col("n").cast(DoubleType) * (col("n") - 1).cast(DoubleType) /
          lit(2.0) / lit(math.pow(2, 32)), 4).as("expected_pairs_32bit"),
        round(col("n").cast(DoubleType) * (col("n") - 1).cast(DoubleType) /
          lit(2.0) / lit(math.pow(2, 64)), 12).as("expected_pairs_64bit"))
      .withColumn("within_2x_of_expectation",
        col("colliding_pairs").cast(DoubleType) <=
          lit(2.0) * col("expected_pairs_32bit") + lit(2.0))
  }

  val dqHashCollisionBudgetSql: String =
    """WITH hashed AS (
      |  SELECT CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
      |              AS BIGINT) AS h32
      |  FROM orders),
      |buckets AS (SELECT h32, CAST(count(*) AS BIGINT) AS c FROM hashed GROUP BY 1),
      |stats AS (
      |  SELECT CAST(sum(c) AS BIGINT) AS n,
      |         CAST(sum(c * (c - 1)) AS BIGINT) AS collide2x
      |  FROM buckets)
      |SELECT n AS n_keys, collide2x // 2 AS colliding_pairs,
      |       round(CAST(n AS DOUBLE) * (n - 1) / 2.0 / pow(2, 32), 4)
      |         AS expected_pairs_32bit,
      |       round(CAST(n AS DOUBLE) * (n - 1) / 2.0 / pow(2, 64), 12)
      |         AS expected_pairs_64bit,
      |       CAST(collide2x // 2 AS DOUBLE) <=
      |         2.0 * round(CAST(n AS DOUBLE) * (n - 1) / 2.0 / pow(2, 32), 4) + 2.0
      |         AS within_2x_of_expectation
      |FROM stats""".stripMargin

  /** agg-concentration-ratios — CR4/CR8/CR20: the revenue share of
    * the top 4, 8 and 20 customers. agg-hhi-concentration compresses
    * concentration into one quadratic index; CR-k is what antitrust
    * filings and credit agreements actually quote ("no customer
    * concentration above X%"), and the CR4→CR8→CR20 LADDER shows
    * whether the head is a monopoly spike or a broad oligopoly —
    * information HHI integrates away. Exact integer cents ranked
    * with customer tiebreak; each ratio is one exact integer
    * division of prefix sums. */
  val aggConcentrationRatios: Q = (s, d) => {
    // PrefixScan rank over (spend desc, custkey) — the old global
    // row_number window funneled the whole per-customer frame through
    // one WindowExec task; the stats pass also hands back n and Σv,
    // so the separate totals aggregate disappears
    val spend = orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .as("v"))
    val sc = graft.functions.PrefixScan.withRankCumSum(spend,
      Seq(col("v").desc, col("o_custkey")), Some("v"), rankName = "rk")
    sc.df.filter(col("rk") <= 20)
      .agg(
        ratioFloor(sum(when(col("rk") <= 4, col("v")).otherwise(lit(0L)))
          .cast(DoubleType), lit(sc.total), 6).as("cr4"),
        ratioFloor(sum(when(col("rk") <= 8, col("v")).otherwise(lit(0L)))
          .cast(DoubleType), lit(sc.total), 6).as("cr8"),
        ratioFloor(sum("v").cast(DoubleType), lit(sc.total), 6).as("cr20"))
      .select(lit(sc.n).as("n_customers"), col("cr4"), col("cr8"), col("cr20"))
  }

  val aggConcentrationRatiosSql: String =
    """WITH spend AS MATERIALIZED (
      |  SELECT o_custkey,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS v
      |  FROM orders GROUP BY 1),
      |ranked AS (
      |  SELECT v, row_number() OVER (ORDER BY v DESC, o_custkey) AS rk FROM spend),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_customers, CAST(sum(v) AS HUGEINT) AS t
      |        FROM spend)
      |SELECT n_customers,
      |       floor(CAST(sum(CASE WHEN rk <= 4 THEN v ELSE 0 END) AS DOUBLE) * 1e6 /
      |             CAST(t AS DOUBLE)) / 1e6 AS cr4,
      |       floor(CAST(sum(CASE WHEN rk <= 8 THEN v ELSE 0 END) AS DOUBLE) * 1e6 /
      |             CAST(t AS DOUBLE)) / 1e6 AS cr8,
      |       floor(CAST(sum(v) AS DOUBLE) * 1e6 / CAST(t AS DOUBLE)) / 1e6 AS cr20
      |FROM ranked CROSS JOIN tot
      |WHERE rk <= 20
      |GROUP BY n_customers, t""".stripMargin

  /** sample-quota-fill — quota sampling with a deterministic
    * hash-order fill: 100 customers per market segment, taken in
    * md5-of-key order (an auditable, reproducible "random" order —
    * the same discipline as every sample-* op), reporting each
    * quota's fill rate and the over-demand it turned away.
    * Stratified sampling (sample-stratified) allocates
    * PROPORTIONALLY; quota designs pin ABSOLUTE counts per cell —
    * the field-operations standard — and their failure mode is
    * exactly the under-filled cell this op surfaces. One hash rank
    * window per segment; all counts exact. */
  val sampleQuotaFill: Q = (s, d) => {
    val quota = 100
    val ranked = customer(s, d)
      .select(col("c_mktsegment").as("segment"), col("c_custkey"))
      .withColumn("hrk", row_number().over(Window.partitionBy("segment")
        .orderBy(md5(col("c_custkey").cast(StringType)), col("c_custkey"))))
    ranked.groupBy("segment")
      .agg(count(lit(1)).as("n_available"),
        sum(when(col("hrk") <= quota, 1L).otherwise(0L)).as("n_sampled"))
      .select(col("segment"), col("n_available"), col("n_sampled"),
        lit(quota).as("quota"),
        ratioFloor(col("n_sampled").cast(DoubleType), lit(quota), 4).as("fill_rate"),
        greatest(col("n_available") - quota, lit(0L)).as("turned_away"))
      .withColumn("under_filled", col("n_sampled") < quota)
      .orderBy("segment")
  }

  val sampleQuotaFillSql: String =
    """WITH ranked AS (
      |  SELECT c_mktsegment AS segment,
      |         row_number() OVER (PARTITION BY c_mktsegment
      |           ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey) AS hrk
      |  FROM customer)
      |SELECT segment, CAST(count(*) AS BIGINT) AS n_available,
      |       CAST(sum(CASE WHEN hrk <= 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
      |       100 AS quota,
      |       floor(CAST(sum(CASE WHEN hrk <= 100 THEN 1 ELSE 0 END) AS DOUBLE) * 1e4 /
      |             100) / 1e4 AS fill_rate,
      |       greatest(CAST(count(*) AS BIGINT) - 100, 0) AS turned_away,
      |       CAST(sum(CASE WHEN hrk <= 100 THEN 1 ELSE 0 END) AS BIGINT) < 100
      |         AS under_filled
      |FROM ranked GROUP BY segment
      |ORDER BY segment""".stripMargin

  /** emb-mutual-nn-pairs — reciprocal nearest neighbors: pairs where
    * each vector is the OTHER's exact 1-NN. Mutual 1-NN is the
    * highest-precision unsupervised pairing known (the seed rule in
    * agglomerative clustering and the high-confidence candidate set
    * a human-review dedup queue starts from) — one-directional 1-NN
    * (what ann-topk-bruteforce returns at k=1) is polluted by hubs,
    * which mutuality filters by construction (cf. emb-hubness-skew).
    * 1-NN per vector read from the emb family's per-process exact-kNN
    * store (RelMore168.knnExactStored, rk = 1 — r13 port: this op
    * previously rebuilt its own |corpus|² pair pass on a round-lattice
    * variant; one floor-lattice store now serves kdist-elbow, lof,
    * lof-ivf AND this op, and the oracle moved to the same lattice);
    * mutuality is one self-join on the (i → nn) map; top 10 closest
    * mutual pairs. */
  val embMutualNnPairs: Q = (s, d) => {
    val nn = RelMore168.knnExactStored(s, d)
      .filter(col("rk") === 1)
      .select(col("i"), col("j"), col("d2"))
      .sharedCache()
    nn.count() // single-stage fill: the mutuality self-join reads it twice
    val mutual = nn.as("x").join(nn.as("y"),
        expr("x.i = y.j AND x.j = y.i AND x.i < x.j"))
      .select(col("x.i").as("vec_a"), col("x.j").as("vec_b"), col("x.d2").as("d2"))
      .sharedCache()
    val counts = mutual.agg(count(lit(1)).as("n_mutual_pairs"))
      .crossJoin(embeddings(s, d).agg(count(lit(1)).as("n_vectors")))
    mutual.crossJoin(broadcast(counts))
      .select(col("vec_a"), col("vec_b"),
        round(sqrt(col("d2").cast(DoubleType)) / lit(1e3), 6).as("distance"),
        col("n_mutual_pairs"),
        ratioFloor((col("n_mutual_pairs") * 2).cast(DoubleType), col("n_vectors"), 6)
          .as("vectors_in_mutual_pair_share"))
      .orderBy(col("d2"), col("vec_a"))
      .limit(10)
  }

  val embMutualNnPairsSql: String =
    s"""WITH base AS (${RelMore168.latticeSql}),
      |based AS MATERIALIZED (${RelMore168.basedSql}),
      |p AS (${RelMore168.pairsSql}),
      |nn AS MATERIALIZED (
      |  SELECT i, j, d2 FROM (
      |    SELECT i, j, d2,
      |           row_number() OVER (PARTITION BY i ORDER BY d2, j) AS rk
      |    FROM p) t
      |  WHERE rk = 1),
      |mutual AS MATERIALIZED (
      |  SELECT x.i AS vec_a, x.j AS vec_b, x.d2
      |  FROM nn x JOIN nn y ON x.i = y.j AND x.j = y.i AND x.i < x.j),
      |counts AS (
      |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM mutual) AS n_mutual_pairs,
      |         (SELECT CAST(count(*) AS BIGINT) FROM based) AS n_vectors)
      |SELECT vec_a, vec_b,
      |       round(sqrt(CAST(d2 AS DOUBLE)) / 1e3, 6) AS distance,
      |       n_mutual_pairs,
      |       floor(CAST(n_mutual_pairs * 2 AS DOUBLE) * 1e6 / n_vectors) / 1e6
      |         AS vectors_in_mutual_pair_share
      |FROM mutual CROSS JOIN counts
      |ORDER BY d2, vec_a
      |LIMIT 10""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("dq-hash-collision-budget", dqHashCollisionBudget, dqHashCollisionBudgetSql),
    Key("agg-concentration-ratios", aggConcentrationRatios, aggConcentrationRatiosSql),
    Key("sample-quota-fill", sampleQuotaFill, sampleQuotaFillSql),
    Key("emb-mutual-nn-pairs", embMutualNnPairs, embMutualNnPairsSql))
}
