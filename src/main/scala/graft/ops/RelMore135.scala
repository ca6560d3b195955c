package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch AJ: KNN-Shapley data valuation, Nemenyi post-hoc,
  * Yule's K lexical richness, 2D orthogonal Procrustes. */
object RelMore135 extends KeyModule {

  /** emb-knn-shapley — exact KNN-Shapley data valuation (Jia et al.,
    * PVLDB 2019 closed form): for each held-out test vector, every
    * training vector's exact Shapley contribution to a K=5 NN
    * classifier follows the single recursion φ₍ⱼ₎ = φ₍ⱼ₊₁₎ +
    * (𝟙[yⱼ=y]−𝟙[yⱼ₊₁=y])·min(K,j)/(K·j) over neighbors sorted by
    * similarity — an O(N log N) reverse prefix scan, NOT the 2^N
    * Monte-Carlo Shapley. This is THE per-example influence score a
    * training-data market / curation pipeline wants (which corpus
    * rows helped, which actively hurt). Neighbor order reuses the
    * battle-tested round-to-9 cosine; each recursion increment is
    * pico-quantized to an integer so the running window sum and the
    * per-train fold across test points are exact. Scale: the scan is
    * a window over (test × train) scored pairs — query side broadcast,
    * no all-pairs beyond the stated query set. Top 15 most valuable
    * training vectors (fixture-wide brute force is the accuracy
    * baseline; the IVF bucket route composes for 100 TB). */
  val embKnnShapley: Q = (s, d) => {
    val K = 5
    val all = embeddings(s, d)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .sharedCache()
    val test = all.filter(col("vec_id") < 5)
      .select(col("vec_id").as("tid"), col("label").as("ty"), col("v").as("tv"))
    val train = all.filter(col("vec_id") >= 5)
    val scored = broadcast(test).crossJoin(train)
      .select(col("tid"), col("ty"), col("vec_id"), col("label"),
        round(expr("cosine_similarity(tv, v)"), 9).as("cosine"))
    val wRank = Window.partitionBy("tid").orderBy(desc("cosine"), col("vec_id"))
    val ranked = scored
      .withColumn("j", row_number().over(wRank))
      .withColumn("nTrain", count(lit(1)).over(Window.partitionBy("tid")))
      .withColumn("ind", when(col("label") === col("ty"), 1L).otherwise(0L))
      .withColumn("indNext",
        lead("ind", 1).over(Window.partitionBy("tid").orderBy("j")))
    // increment at the tail is the base term 𝟙[y_N=y]/N; inner ranks
    // carry (I_j − I_{j+1})·min(K,j)/(K·j), all pico-floored
    val inc = ranked.withColumn("incq",
      when(col("indNext").isNull,
        floor(col("ind").cast(DoubleType) * lit(1e12) / col("nTrain")).cast(LongType))
        .otherwise(floor((col("ind") - col("indNext")).cast(DoubleType) *
          least(lit(K), col("j")).cast(DoubleType) * lit(1e12) /
          (lit(K) * col("j")).cast(DoubleType)).cast(LongType)))
    val phi = inc.withColumn("phiq",
      sum("incq").over(Window.partitionBy("tid").orderBy("j")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)))
    val nTest = test.groupBy().agg(count(lit(1)).as("n_tests"))
    phi.groupBy(col("vec_id"), col("label"))
      .agg(sum("phiq").as("sphi"))
      .crossJoin(broadcast(nTest))
      .select(col("vec_id"), col("label"), col("n_tests"),
        ratioFloor(col("sphi").cast(DoubleType), col("n_tests") * lit(1e12), 8)
          .as("shapley_value"))
      .orderBy(col("shapley_value").desc, col("vec_id"))
      .limit(15)
  }

  val embKnnShapleySql: String =
    """WITH test AS (
      |  SELECT vec_id AS tid, label AS ty, embedding AS tv
      |  FROM embeddings WHERE vec_id < 5),
      |train AS (SELECT * FROM embeddings WHERE vec_id >= 5),
      |scored AS (
      |  SELECT tid, ty, vec_id, label,
      |         round(list_inner_product(tv::DOUBLE[], embedding::DOUBLE[]) /
      |               (sqrt(list_inner_product(tv::DOUBLE[], tv::DOUBLE[])) *
      |                sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 9)
      |           AS cosine
      |  FROM test CROSS JOIN train),
      |ranked AS (
      |  SELECT tid, vec_id, label,
      |         row_number() OVER (PARTITION BY tid ORDER BY cosine DESC, vec_id) AS j,
      |         count(*) OVER (PARTITION BY tid) AS nTrain,
      |         CASE WHEN label = ty THEN 1 ELSE 0 END AS ind
      |  FROM scored),
      |inc AS (
      |  SELECT tid, vec_id, label, j,
      |         CASE WHEN lead(ind) OVER (PARTITION BY tid ORDER BY j) IS NULL THEN
      |           CAST(floor(CAST(ind AS DOUBLE) * 1e12 / nTrain) AS BIGINT)
      |         ELSE
      |           CAST(floor(CAST(ind - lead(ind) OVER (PARTITION BY tid ORDER BY j)
      |                           AS DOUBLE) *
      |                      least(5, j) * 1e12 / CAST(5 * j AS DOUBLE)) AS BIGINT)
      |         END AS incq
      |  FROM ranked),
      |phi AS (
      |  SELECT tid, vec_id, label,
      |         sum(incq) OVER (PARTITION BY tid ORDER BY j
      |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS phiq
      |  FROM inc),
      |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_tests FROM test)
      |SELECT vec_id, label, n_tests,
      |       floor(CAST(sum(phiq) AS DOUBLE) * 1e8 / (n_tests * 1e12)) / 1e8
      |         AS shapley_value
      |FROM phi CROSS JOIN nt
      |GROUP BY vec_id, label, n_tests
      |ORDER BY shapley_value DESC, vec_id
      |LIMIT 15""".stripMargin

  /** agg-friedman-nemenyi — the Nemenyi post-hoc that agg-friedman-test
    * needs to be actionable: the omnibus Friedman χ² says "priorities
    * rank differently across years" but not WHICH pairs differ; Nemenyi
    * compares every pair's mean rank difference against the critical
    * distance CD = q₀.₀₅·√(k(k+1)/(6n)) (q = 2.728 for k = 5),
    * controlling the family-wise rate like agg-tukey-hsd does for
    * means. Same block design as the omnibus op (blocks = years,
    * treatments = priorities, per-cell exact-cents means, within-year
    * ranks); rank sums stay exact integers, and significance is
    * decided on the INTEGER inequality |Rᵢ−Rⱼ| > n·CD so no rounded
    * rank ever flips the verdict. 10 pair rows. */
  val aggFriedmanNemenyi: Q = (s, d) => {
    val cells = orders(s, d)
      .groupBy(year(col("o_orderdate")).as("yr"), col("o_orderpriority").as("prio"))
      .agg((sum(expr("CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS DECIMAL(38,0))"))
        .cast(DoubleType) / count(lit(1))).as("mean_cents"))
    val ranked = cells.withColumn("rk",
      row_number().over(Window.partitionBy("yr").orderBy(col("mean_cents"), col("prio"))))
    val rsums = ranked.groupBy("prio")
      .agg(sum("rk").as("r_sum"), count(lit(1)).as("n_years"))
      .sharedCache()
    val a = rsums.select(col("prio").as("prio_a"), col("r_sum").as("ra"),
      col("n_years").as("n"))
    val b = rsums.select(col("prio").as("prio_b"), col("r_sum").as("rb"))
    a.join(broadcast(b), col("prio_a") < col("prio_b"))
      .select(col("prio_a"), col("prio_b"), col("n").as("n_blocks"),
        ratioFloor(abs(col("ra") - col("rb")).cast(DoubleType), col("n"), 3)
          .as("mean_rank_diff"),
        round(lit(2.728) * sqrt(lit(5.0 * 6.0) / (lit(6.0) * col("n"))), 4).as("cd"),
        (abs(col("ra") - col("rb")).cast(DoubleType) >
          col("n") * (lit(2.728) * sqrt(lit(5.0 * 6.0) / (lit(6.0) * col("n")))))
          .as("significant"))
      .orderBy("prio_a", "prio_b")
  }

  val aggFriedmanNemenyiSql: String =
    """WITH cells AS (
      |  SELECT year(o_orderdate) AS yr, o_orderpriority AS prio,
      |         CAST(sum(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS HUGEINT))
      |              AS DOUBLE) / count(*) AS mean_cents
      |  FROM orders GROUP BY 1, 2),
      |ranked AS (
      |  SELECT yr, prio,
      |         row_number() OVER (PARTITION BY yr ORDER BY mean_cents, prio) AS rk
      |  FROM cells),
      |rsums AS (
      |  SELECT prio, CAST(sum(rk) AS BIGINT) AS r_sum,
      |         CAST(count(*) AS BIGINT) AS n_years
      |  FROM ranked GROUP BY prio)
      |SELECT a.prio AS prio_a, b.prio AS prio_b, a.n_years AS n_blocks,
      |       floor(CAST(abs(a.r_sum - b.r_sum) AS DOUBLE) * 1e3 / a.n_years) / 1e3
      |         AS mean_rank_diff,
      |       round(2.728 * sqrt(30.0 / (6.0 * a.n_years)), 4) AS cd,
      |       CAST(abs(a.r_sum - b.r_sum) AS DOUBLE) >
      |         a.n_years * (2.728 * sqrt(30.0 / (6.0 * a.n_years))) AS significant
      |FROM rsums a JOIN rsums b ON a.prio < b.prio
      |ORDER BY prio_a, prio_b""".stripMargin

  /** text-yules-k — Yule's characteristic K per source: K =
    * 10⁴·(Σc² − N)/N² over the term-frequency spectrum (c = term
    * count, N = tokens). K is the repeat-rate of vocabulary — unlike
    * text-heaps-law (growth curve) or text-zipf-fit (rank slope),
    * K is SIZE-INVARIANT by construction (the 1/N² normalization
    * cancels corpus length), which is what makes it the classic
    * cross-source lexical-richness comparator: high K = repetitive
    * vocabulary (boilerplate-heavy source), low K = lexically rich.
    * Σc² and N are exact integer folds per source; K is one final
    * ratio. One token explode, two shuffles (term, then source). */
  val textYulesK: Q = (s, d) => {
    val cnt = documents(s, d)
      .select(col("source"), explode(split(trim(col("text")), "\\s+")).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
    cnt.groupBy("source")
      .agg(count(lit(1)).as("n_types"),
        sum("c").as("n_tokens"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("scc"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        ratioFloor((col("scc") - col("n_tokens")).cast(DoubleType) * lit(1e4),
          col("n_tokens") * col("n_tokens"), 4).as("yules_k"))
      .orderBy("source")
  }

  val textYulesKSql: String =
    """WITH cnt AS (
      |  SELECT source, w, CAST(count(*) AS BIGINT) AS c
      |  FROM (
      |    SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      |    FROM documents) t
      |  GROUP BY 1, 2)
      |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
      |       CAST(count(*) AS BIGINT) AS n_types,
      |       floor(CAST(sum(CAST(c AS HUGEINT) * c) - sum(c) AS DOUBLE) * 1e4 * 1e4 /
      |             (CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE))) / 1e4 AS yules_k
      |FROM cnt GROUP BY source
      |ORDER BY source""".stripMargin

  /** emb-procrustes-align — 2D orthogonal Procrustes between two
    * fixed coordinate views of the corpus (dims 0-1 vs dims 2-3):
    * the optimal rotation has the closed form θ* = atan2(Σ a×b,
    * Σ a·b), and the aligned residual needs no second pass —
    * Σ|b−Ra|² = Σ(|a|²+|b|²) − 2√((Σa×b)² + (Σa·b)²). The
    * improvement share measures how much of the cross-view
    * discrepancy is a mere rotation (coordinate convention) versus
    * real geometric difference — the question behind embedding-
    * version migrations, where emb-cka-similarity gives a rotation-
    * INVARIANT score and Procrustes recovers the rotation itself.
    * Per-vector cross/dot/norm terms are micro-quantized integers;
    * the four global sums are exact; θ and the residuals are
    * single-row closed forms. One pass, map-side combined. */
  val embProcrustesAlign: Q = (s, d) => {
    val terms = embeddings(s, d)
      .select(
        expr("CAST(embedding[0] AS DOUBLE)").as("x1"),
        expr("CAST(embedding[1] AS DOUBLE)").as("y1"),
        expr("CAST(embedding[2] AS DOUBLE)").as("x2"),
        expr("CAST(embedding[3] AS DOUBLE)").as("y2"))
      .select(
        floor((col("x1") * col("y2") - col("y1") * col("x2")) * lit(1e6))
          .cast(LongType).as("crossq"),
        floor((col("x1") * col("x2") + col("y1") * col("y2")) * lit(1e6))
          .cast(LongType).as("dotq"),
        floor((col("x1") * col("x1") + col("y1") * col("y1") +
          col("x2") * col("x2") + col("y2") * col("y2")) * lit(1e6))
          .cast(LongType).as("normq"))
    terms.agg(count(lit(1)).as("n_vectors"),
        sum("crossq").as("sc"), sum("dotq").as("sd"), sum("normq").as("sn"))
      .select(col("n_vectors"),
        round(atan2(col("sc").cast(DoubleType), col("sd").cast(DoubleType)), 6)
          .as("theta_rad"),
        round((col("sn") - lit(2) * col("sd")).cast(DoubleType) / lit(1e6), 4)
          .as("residual_before"),
        round((col("sn").cast(DoubleType) -
          lit(2.0) * sqrt(col("sc").cast(DoubleType) * col("sc").cast(DoubleType) +
            col("sd").cast(DoubleType) * col("sd").cast(DoubleType))) / lit(1e6), 4)
          .as("residual_after"),
        round((lit(2.0) * sqrt(col("sc").cast(DoubleType) * col("sc").cast(DoubleType) +
            col("sd").cast(DoubleType) * col("sd").cast(DoubleType)) -
          (lit(2) * col("sd")).cast(DoubleType)) /
          (col("sn") - lit(2) * col("sd")).cast(DoubleType), 6).as("improvement_share"))
  }

  val embProcrustesAlignSql: String =
    """WITH terms AS (
      |  SELECT CAST(floor((CAST(embedding[1] AS DOUBLE) * CAST(embedding[4] AS DOUBLE) -
      |                     CAST(embedding[2] AS DOUBLE) * CAST(embedding[3] AS DOUBLE)) * 1e6)
      |              AS BIGINT) AS crossq,
      |         CAST(floor((CAST(embedding[1] AS DOUBLE) * CAST(embedding[3] AS DOUBLE) +
      |                     CAST(embedding[2] AS DOUBLE) * CAST(embedding[4] AS DOUBLE)) * 1e6)
      |              AS BIGINT) AS dotq,
      |         CAST(floor((CAST(embedding[1] AS DOUBLE) * CAST(embedding[1] AS DOUBLE) +
      |                     CAST(embedding[2] AS DOUBLE) * CAST(embedding[2] AS DOUBLE) +
      |                     CAST(embedding[3] AS DOUBLE) * CAST(embedding[3] AS DOUBLE) +
      |                     CAST(embedding[4] AS DOUBLE) * CAST(embedding[4] AS DOUBLE)) * 1e6)
      |              AS BIGINT) AS normq
      |  FROM embeddings)
      |SELECT CAST(count(*) AS BIGINT) AS n_vectors,
      |       round(atan2(CAST(sum(crossq) AS DOUBLE), CAST(sum(dotq) AS DOUBLE)), 6)
      |         AS theta_rad,
      |       round(CAST(sum(normq) - 2 * sum(dotq) AS DOUBLE) / 1e6, 4)
      |         AS residual_before,
      |       round((CAST(sum(normq) AS DOUBLE) -
      |              2.0 * sqrt(CAST(sum(crossq) AS DOUBLE) * CAST(sum(crossq) AS DOUBLE) +
      |                         CAST(sum(dotq) AS DOUBLE) * CAST(sum(dotq) AS DOUBLE))) / 1e6, 4)
      |         AS residual_after,
      |       round((2.0 * sqrt(CAST(sum(crossq) AS DOUBLE) * CAST(sum(crossq) AS DOUBLE) +
      |                         CAST(sum(dotq) AS DOUBLE) * CAST(sum(dotq) AS DOUBLE)) -
      |              CAST(2 * sum(dotq) AS DOUBLE)) /
      |             CAST(sum(normq) - 2 * sum(dotq) AS DOUBLE), 6) AS improvement_share
      |FROM terms""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("emb-knn-shapley", embKnnShapley, embKnnShapleySql),
    Key("agg-friedman-nemenyi", aggFriedmanNemenyi, aggFriedmanNemenyiSql),
    Key("text-yules-k", textYulesK, textYulesKSql),
    Key("emb-procrustes-align", embProcrustesAlign, embProcrustesAlignSql))
}
