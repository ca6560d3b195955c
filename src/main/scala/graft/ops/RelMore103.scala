package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch D: one NN-descent refinement round, semi-hard triplet
  * mining, self-normalized importance reweighting, interpolated
  * Jelinek-Mercer LM perplexity. */
object RelMore103 extends KeyModule {

  private def cos(a: String, b: String) =
    round(expr(s"cosine_similarity($a, $b)"), 9)
  private def cosSql(a: String, b: String): String =
    s"""round(list_inner_product($a::DOUBLE[], $b::DOUBLE[]) /
       |  (sqrt(list_inner_product($a::DOUBLE[], $a::DOUBLE[])) *
       |   sqrt(list_inner_product($b::DOUBLE[], $b::DOUBLE[]))), 9)""".stripMargin

  /** ann-nndescent-round — one NN-descent refinement round over a
    * sign-LSH-seeded kNN graph, with measured recall gain: the
    * distributed way to BUILD an ANN graph (ann-knn-graph consumes
    * one). Seed graph = top-5 cosine among the union of TWO
    * independent 4-bit sign-bucket tables (dims 1..4 and dims 5..8) —
    * two tables, not one, because with a single table every
    * neighbor-of-neighbor stays inside the seed bucket and the refine
    * round provably returns the seed graph unchanged. The refine
    * round expands candidates to neighbors-of-neighbors AND reverse
    * neighbors (the full NN-descent candidate rule; fan-out ≤ k²+k),
    * rescores, keeps top-5. Recall@5 for both generations is measured
    * against exact truth on a 1-in-7 node sample (the truth pass is
    * the only quadratic piece and is sample-bounded, the
    * ann-recall-measure pattern). At 100 TB the same plan runs with
    * more LSH bits + more rounds; candidate counts stay O(k²) per
    * node per round. */
  val annNndescentRound: Q = (s, d) => {
    graft.functions.CosineSimilarity.register(s)
    val all = embeddings(s, d)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .sharedCache()
    def signBucket(off: Int) =
      (when(element_at(col("v"), off + 1) >= 0, 8).otherwise(0)) +
        (when(element_at(col("v"), off + 2) >= 0, 4).otherwise(0)) +
        (when(element_at(col("v"), off + 3) >= 0, 2).otherwise(0)) +
        (when(element_at(col("v"), off + 4) >= 0, 1).otherwise(0))
    val bucketed = all
      .select(col("vec_id"), explode(array(signBucket(0), signBucket(4) + 16)).as("b"))
    val pairs0 = bucketed.select(col("b"), col("vec_id").as("i"))
      .join(bucketed.select(col("b"), col("vec_id").as("j")), Seq("b"))
      .filter(col("i") =!= col("j")).select("i", "j").distinct()
    val inBucket = pairs0
      .join(all.select(col("vec_id").as("i"), col("v").as("vi")), Seq("i"))
      .join(all.select(col("vec_id").as("j"), col("v").as("vj")), Seq("j"))
      .select(col("i"), col("j"), cos("vi", "vj").as("c"))
    // r14 opt: all three top-5-per-i cuts ride the bounded-heap
    // TopKPerKey operator instead of WindowExecs that shuffle+sort the
    // full candidate/pair sets to keep 5 per key (guide §2.3/§2.4).
    // Same total order (c desc, j asc) → identical survivor sets.
    def top5(df: DataFrame): DataFrame =
      graft.plans.TopKPerKey.of(df, Seq("i"), Seq("c" -> false, "j" -> true), 5)
    val g0 = top5(inBucket).select("i", "j").sharedCache()
    val cand = g0
      .unionAll(g0.select(col("j").as("i"), col("i").as("j")))
      .unionAll(
        g0.select(col("i"), col("j").as("m"))
          .join(g0.select(col("i").as("m"), col("j")), Seq("m"))
          .select("i", "j"))
      .filter(col("i") =!= col("j")).distinct().sharedCache()
    cand.count() // single-stage fill: the scoring join and the cand
    // census raced the distinct edge set's first materialization in
    // both r13 close benches (WARN triage, r14)
    val g1 = top5(cand
      .join(all.select(col("vec_id").as("i"), col("v").as("vi")), Seq("i"))
      .join(all.select(col("vec_id").as("j"), col("v").as("vj")), Seq("j"))
      .select(col("i"), col("j"), cos("vi", "vj").as("c")))
      .select("i", "j")
    val sample = all.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id").as("i"), col("v").as("vi"))
    // r14 opt: the stream side of the truth cross join is the cached
    // single-partition corpus (one parquet row group → one scan task),
    // so the sample×corpus scoring pass ran on one core. Repartition
    // after the read (guide §2.5), conf-derived so it stays adaptive.
    val nParts = s.conf.get("spark.sql.shuffle.partitions").toInt
    val truth = top5(broadcast(sample).crossJoin(all.repartition(nParts))
      .filter(col("i") =!= col("vec_id"))
      .select(col("i"), col("vec_id").as("j"), cos("vi", "v").as("c")))
      .select("i", "j").sharedCache()
    val nS = truth.select(countDistinct("i").as("ns"))
    def recall(g: DataFrame) = truth.join(g, Seq("i", "j")).agg(count(lit(1)).as("hits"))
    val nCand = cand.agg(count(lit(1)).as("cands"))
    val nAll = all.agg(count(lit(1)).as("n"))
    nAll.crossJoin(broadcast(nCand)).crossJoin(broadcast(nS))
      .crossJoin(broadcast(recall(g0).withColumnRenamed("hits", "h0")))
      .crossJoin(broadcast(recall(g1).withColumnRenamed("hits", "h1")))
      .select(col("n").as("n_vectors"),
        round(col("cands").cast(DoubleType) / col("n"), 2).as("avg_candidates"),
        ratioFloor(col("h0"), col("ns") * 5, 4).as("recall_init"),
        ratioFloor(col("h1"), col("ns") * 5, 4).as("recall_after_round"))
  }

  val annNndescentRoundSql: String =
    s"""WITH allv AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |bucketed AS (
       |  SELECT vec_id,
       |         unnest([(CASE WHEN v[1] >= 0 THEN 8 ELSE 0 END) +
       |                 (CASE WHEN v[2] >= 0 THEN 4 ELSE 0 END) +
       |                 (CASE WHEN v[3] >= 0 THEN 2 ELSE 0 END) +
       |                 (CASE WHEN v[4] >= 0 THEN 1 ELSE 0 END),
       |                 (CASE WHEN v[5] >= 0 THEN 8 ELSE 0 END) +
       |                 (CASE WHEN v[6] >= 0 THEN 4 ELSE 0 END) +
       |                 (CASE WHEN v[7] >= 0 THEN 2 ELSE 0 END) +
       |                 (CASE WHEN v[8] >= 0 THEN 1 ELSE 0 END) + 16]) AS b
       |  FROM allv),
       |pairs0 AS (
       |  SELECT DISTINCT a.vec_id AS i, c.vec_id AS j
       |  FROM bucketed a JOIN bucketed c ON a.b = c.b AND a.vec_id <> c.vec_id),
       |in_bucket AS (
       |  SELECT i, j, ${cosSql("vi.v", "vj.v")} AS c
       |  FROM pairs0 JOIN allv vi ON vi.vec_id = i JOIN allv vj ON vj.vec_id = j),
       |g0 AS (
       |  SELECT i, j FROM (
       |    SELECT i, j, row_number() OVER (PARTITION BY i ORDER BY c DESC, j) AS r
       |    FROM in_bucket) t WHERE r <= 5),
       |cand AS (
       |  SELECT DISTINCT i, j FROM (
       |    SELECT i, j FROM g0
       |    UNION ALL
       |    SELECT j AS i, i AS j FROM g0
       |    UNION ALL
       |    SELECT a.i, b.j FROM g0 a JOIN g0 b ON a.j = b.i) u
       |  WHERE i <> j),
       |g1 AS (
       |  SELECT i, j FROM (
       |    SELECT cand.i, cand.j,
       |           row_number() OVER (PARTITION BY cand.i ORDER BY ${cosSql("vi.v", "vj.v")} DESC, cand.j) AS r
       |    FROM cand JOIN allv vi ON vi.vec_id = cand.i JOIN allv vj ON vj.vec_id = cand.j) t
       |  WHERE r <= 5),
       |truth AS (
       |  SELECT i, j FROM (
       |    SELECT sv.vec_id AS i, av.vec_id AS j,
       |           row_number() OVER (PARTITION BY sv.vec_id
       |             ORDER BY ${cosSql("sv.v", "av.v")} DESC, av.vec_id) AS r
       |    FROM allv sv JOIN allv av ON sv.vec_id % 7 = 0 AND sv.vec_id <> av.vec_id) t
       |  WHERE r <= 5),
       |ns AS (SELECT count(DISTINCT i) AS ns FROM truth),
       |h0 AS (SELECT count(*) AS h0 FROM truth JOIN g0 USING (i, j)),
       |h1 AS (SELECT count(*) AS h1 FROM truth JOIN g1 USING (i, j)),
       |nc AS (SELECT count(*) AS cands FROM cand),
       |na AS (SELECT count(*) AS n FROM allv)
       |SELECT n AS n_vectors,
       |       round(CAST(cands AS DOUBLE) / n, 2) AS avg_candidates,
       |       ${ratioFloorSql("h0", "(ns * 5)", 4)} AS recall_init,
       |       ${ratioFloorSql("h1", "(ns * 5)", 4)} AS recall_after_round
       |FROM na CROSS JOIN nc CROSS JOIN ns CROSS JOIN h0 CROSS JOIN h1""".stripMargin

  /** emb-triplet-semihard — semi-hard triplet mining for metric-learning
    * batches: per sampled anchor, the HARDEST positive (lowest cosine,
    * same label) and the negatives inside the semi-hard band
    * (cos(a,n) < cos(a,p) but > cos(a,p) − 0.05) — the negatives that
    * still produce gradient without collapsing training, which
    * emb-hard-negatives' max-cosine pick does not distinguish. Anchors
    * sampled 1-in-13; candidate generation is label-join-blocked
    * (positives) + anchor-broadcast (negatives), never all-pairs over
    * the corpus. Ties broken by id everywhere. */
  val embTripletSemihard: Q = (s, d) => {
    graft.functions.CosineSimilarity.register(s)
    val all = embeddings(s, d)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .sharedCache()
    val anchors = all.filter(col("vec_id") % 13 === 0)
      .select(col("vec_id").as("a"), col("label").as("al"), col("v").as("av"))
    val wPos = Window.partitionBy("a").orderBy(col("c"), col("p"))
    val pos = broadcast(anchors).join(all, col("label") === col("al"))
      .filter(col("vec_id") =!= col("a"))
      .select(col("a"), col("vec_id").as("p"), cos("av", "v").as("c"))
      .withColumn("r", row_number().over(wPos)).filter(col("r") === 1)
      .select(col("a"), col("p").as("pos_id"), col("c").as("pos_cos"))
    val wNeg = Window.partitionBy("a").orderBy(desc("c"), col("n"))
    val neg = broadcast(anchors).join(all, col("label") =!= col("al"))
      .select(col("a"), col("vec_id").as("n"), cos("av", "v").as("c"))
    val semih = neg.join(broadcast(pos), Seq("a"))
      .filter(col("c") < col("pos_cos") && col("c") > col("pos_cos") - 0.05)
    val best = semih.withColumn("r", row_number().over(wNeg)).filter(col("r") === 1)
      .select(col("a"), col("n").as("neg_id"), col("c").as("neg_cos"))
    val counts = semih.groupBy("a").agg(count(lit(1)).as("n_semihard"))
    pos.join(counts, Seq("a"), "left").join(best, Seq("a"), "left")
      .select(col("a").as("anchor_id"), col("pos_id"), col("pos_cos"),
        coalesce(col("n_semihard"), lit(0L)).as("n_semihard"),
        col("neg_id"), col("neg_cos"))
      .orderBy("anchor_id")
  }

  val embTripletSemihardSql: String =
    s"""WITH allv AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |anchors AS (SELECT vec_id AS a, label AS al, v AS av FROM allv WHERE vec_id % 13 = 0),
       |pos AS (
       |  SELECT a, p AS pos_id, c AS pos_cos FROM (
       |    SELECT an.a, o.vec_id AS p, ${cosSql("an.av", "o.v")} AS c,
       |           row_number() OVER (PARTITION BY an.a
       |             ORDER BY ${cosSql("an.av", "o.v")}, o.vec_id) AS r
       |    FROM anchors an JOIN allv o ON o.label = an.al AND o.vec_id <> an.a) t
       |  WHERE r = 1),
       |neg AS (
       |  SELECT an.a, o.vec_id AS n, ${cosSql("an.av", "o.v")} AS c
       |  FROM anchors an JOIN allv o ON o.label <> an.al),
       |semih AS (
       |  SELECT neg.a, neg.n, neg.c
       |  FROM neg JOIN pos ON pos.a = neg.a
       |  WHERE neg.c < pos_cos AND neg.c > pos_cos - 0.05),
       |best AS (
       |  SELECT a, n AS neg_id, c AS neg_cos FROM (
       |    SELECT a, n, c, row_number() OVER (PARTITION BY a ORDER BY c DESC, n) AS r
       |    FROM semih) t WHERE r = 1),
       |cnt AS (SELECT a, count(*) AS n_semihard FROM semih GROUP BY a)
       |SELECT pos.a AS anchor_id, pos_id, pos_cos,
       |       COALESCE(n_semihard, 0) AS n_semihard, neg_id, neg_cos
       |FROM pos LEFT JOIN cnt ON cnt.a = pos.a LEFT JOIN best ON best.a = pos.a
       |ORDER BY pos.a""".stripMargin

  // declared target mix over market segments (a CONTRACT, like spec limits)
  private val TargetShares = Seq(
    "AUTOMOBILE" -> 0.30, "BUILDING" -> 0.25, "FURNITURE" -> 0.20,
    "HOUSEHOLD" -> 0.15, "MACHINERY" -> 0.10)

  /** sample-importance-weights — self-normalized importance reweighting
    * of mean order value from the empirical segment mix to a DECLARED
    * target mix (the estimator behind every "our sample is not the
    * population" correction): w(seg) = target/empirical, SNIS mean
    * = Σ_s t_s·mean_s, and the effective sample size 1/Σ t_s²/n_s
    * that says how much variance the reweighting cost. Everything
    * reduces to 5 per-segment exact aggregates (integer counts +
    * cents), then terminal arithmetic over a 5-row broadcastable
    * frame — the weights never touch row-level data at any scale. */
  val sampleImportanceWeights: Q = (s, d) => {
    val target = TargetShares.map { case (seg, t) =>
      struct(lit(seg).as("seg"), lit(t).as("t")) }
    val segAgg = orders(s, d)
      .join(customer(s, d).select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment").as("seg")), Seq("o_custkey"))
      .groupBy("seg")
      .agg(count(lit(1)).as("ns"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("sx"))
    val targetDf = s.range(1).select(explode(array(target: _*)).as("e"))
      .select(col("e.seg").as("seg"), col("e.t").as("t"))
    val withT = segAgg.join(broadcast(targetDf), Seq("seg"))
    withT
      .select(col("ns"), col("sx"), col("t"),
        floor(col("t") * col("sx").cast(DoubleType) / col("ns") * lit(1e4))
          .cast(LongType).as("isq"),
        floor(col("t") * col("t") / col("ns") * lit(1e15)).cast(LongType).as("essq"))
      .agg(sum("ns").as("n"), sum("sx").as("sxt"),
        (sum("isq").cast(DoubleType) / 1e4).as("is_mean_cents"),
        (sum("essq").cast(DoubleType) / 1e15).as("inv_ess"))
      .select(col("n"),
        round(col("sxt").cast(DoubleType) / col("n") / 100, 4).as("naive_mean_usd"),
        round(col("is_mean_cents") / 100, 4).as("is_mean_usd"),
        round(lit(1.0) / col("inv_ess"), 2).as("ess"),
        round(lit(1.0) / col("inv_ess") / col("n"), 4).as("ess_ratio"))
  }

  val sampleImportanceWeightsSql: String = {
    val tvals = TargetShares.map { case (seg, t) => s"('$seg', $t)" }.mkString(", ")
    s"""WITH target(seg, t) AS (VALUES $tvals),
       |seg_agg AS (
       |  SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS ns,
       |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sx
       |  FROM orders JOIN customer ON c_custkey = o_custkey
       |  GROUP BY 1),
       |j AS (
       |  SELECT ns, sx, t,
       |         CAST(floor(t * CAST(sx AS DOUBLE) / ns * 1e4) AS BIGINT) AS isq,
       |         CAST(floor(t * t / ns * 1e15) AS BIGINT) AS essq
       |  FROM seg_agg JOIN target USING (seg)),
       |a AS (
       |  SELECT CAST(sum(ns) AS BIGINT) AS n, CAST(sum(sx) AS BIGINT) AS sxt,
       |         CAST(sum(isq) AS DOUBLE) / 1e4 AS is_mean_cents,
       |         CAST(sum(essq) AS DOUBLE) / 1e15 AS inv_ess
       |  FROM j)
       |SELECT n,
       |       round(CAST(sxt AS DOUBLE) / n / 100, 4) AS naive_mean_usd,
       |       round(is_mean_cents / 100, 4) AS is_mean_usd,
       |       round(1.0 / inv_ess, 2) AS ess,
       |       round(1.0 / inv_ess / n, 4) AS ess_ratio
       |FROM a""".stripMargin
  }

  /** text-interpolated-lm — Jelinek-Mercer interpolated bigram LM:
    * train on the even-doc split, score the odd-doc split with
    * p = 0.7·p_ML(w|prev) + 0.3·p_ML(w), and report held-out
    * perplexity against the unigram-only baseline — the
    * train/held-out discipline text-bigram-lm's in-corpus table
    * skips, and the actual quality gate for LM-based corpus filters.
    * Unseen events fall through the interpolation to the unigram
    * term; full-OOV tokens hit a declared 1e-9 floor (reported as a
    * count, not hidden), and bigram_hit_rate is reported so the
    * verdict is interpretable — when held-out bigram coverage is
    * low, interpolation honestly LOSES to the unigram baseline
    * (0.7·0 + 0.3·p < p), which is itself the measurement. Per-token
    * ln terms floor-quantized at 1e-6 before the fold; all joins are
    * token-keyed shuffles. */
  val textInterpolatedLm: Q = (s, d) => {
    val docs = documents(s, d).select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
    val trainPairs = docs.filter(col("doc_id") % 2 === 0)
      .select(explode(expr(
        "transform(sequence(1, size(w) - 1), " +
          "i -> struct(element_at(w, i) AS a, element_at(w, i + 1) AS b))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .sharedCache()
    val big = trainPairs.groupBy("a", "b").agg(count(lit(1)).as("cab"))
    val lefts = trainPairs.groupBy("a").agg(count(lit(1)).as("ca"))
    val uni = trainPairs.select(col("b").as("w"))
      .unionAll(trainPairs.select(col("a").as("w")))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val tTot = uni.agg(sum("cw").as("tt"))
    val evalPairs = docs.filter(col("doc_id") % 2 === 1)
      .select(explode(expr(
        "transform(sequence(1, size(w) - 1), " +
          "i -> struct(element_at(w, i) AS a, element_at(w, i + 1) AS b))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val scored = evalPairs
      .join(big, Seq("a", "b"), "left")
      .join(lefts, Seq("a"), "left")
      .join(uni.select(col("w").as("b"), col("cw")), Seq("b"), "left")
      .crossJoin(broadcast(tTot))
      .select(
        when(col("cab").isNotNull, 1L).otherwise(0L).as("hit"),
        when(col("cw").isNull, 1L).otherwise(0L).as("oov"),
        greatest(
          coalesce(col("cab").cast(DoubleType) / col("ca"), lit(0.0)) * 0.7 +
            coalesce(col("cw").cast(DoubleType) / col("tt"), lit(0.0)) * 0.3,
          lit(1e-9)).as("p_interp"),
        greatest(coalesce(col("cw").cast(DoubleType) / col("tt"), lit(0.0)),
          lit(1e-9)).as("p_uni"))
    scored
      .select(col("hit"), col("oov"),
        floor(log(col("p_interp")) * lit(1e6)).cast(LongType).as("qi"),
        floor(log(col("p_uni")) * lit(1e6)).cast(LongType).as("qu"))
      .agg(count(lit(1)).as("n_tokens"), sum("oov").as("n_oov"),
        ratioFloor(sum("hit"), count(lit(1)), 4).as("bigram_hit_rate"),
        round(exp(-(sum("qi").cast(DoubleType) / 1e6) / count(lit(1))), 4).as("ppl_interp"),
        round(exp(-(sum("qu").cast(DoubleType) / 1e6) / count(lit(1))), 4).as("ppl_unigram"))
  }

  val textInterpolatedLmSql: String =
    """WITH docs AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |train_pairs AS (
      |  SELECT unnest(w[1:len(w)-1]) AS a, unnest(w[2:len(w)]) AS b
      |  FROM docs WHERE doc_id % 2 = 0),
      |big AS (SELECT a, b, count(*) AS cab FROM train_pairs GROUP BY 1, 2),
      |lefts AS (SELECT a, count(*) AS ca FROM train_pairs GROUP BY 1),
      |uni AS (
      |  SELECT w, count(*) AS cw FROM (
      |    SELECT b AS w FROM train_pairs UNION ALL SELECT a AS w FROM train_pairs) u
      |  GROUP BY 1),
      |tt AS (SELECT CAST(sum(cw) AS BIGINT) AS tt FROM uni),
      |eval_pairs AS (
      |  SELECT unnest(w[1:len(w)-1]) AS a, unnest(w[2:len(w)]) AS b
      |  FROM docs WHERE doc_id % 2 = 1),
      |scored AS (
      |  SELECT CASE WHEN cab IS NOT NULL THEN 1 ELSE 0 END AS hit,
      |         CASE WHEN cw IS NULL THEN 1 ELSE 0 END AS oov,
      |         greatest(COALESCE(CAST(cab AS DOUBLE) / ca, 0.0) * 0.7 +
      |                  COALESCE(CAST(cw AS DOUBLE) / tt, 0.0) * 0.3, 1e-9) AS p_interp,
      |         greatest(COALESCE(CAST(cw AS DOUBLE) / tt, 0.0), 1e-9) AS p_uni
      |  FROM eval_pairs
      |  LEFT JOIN big USING (a, b)
      |  LEFT JOIN lefts USING (a)
      |  LEFT JOIN uni ON uni.w = eval_pairs.b
      |  CROSS JOIN tt)
      |SELECT count(*) AS n_tokens, CAST(sum(oov) AS BIGINT) AS n_oov,
      |       floor(CAST(sum(hit) AS DOUBLE) * 1e4 / count(*)) / 1e4 AS bigram_hit_rate,
      |       round(exp(-(CAST(sum(CAST(floor(ln(p_interp) * 1e6) AS BIGINT)) AS DOUBLE) / 1e6) / count(*)), 4) AS ppl_interp,
      |       round(exp(-(CAST(sum(CAST(floor(ln(p_uni) * 1e6) AS BIGINT)) AS DOUBLE) / 1e6) / count(*)), 4) AS ppl_unigram
      |FROM scored""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("ann-nndescent-round", annNndescentRound, annNndescentRoundSql),
    Key("emb-triplet-semihard", embTripletSemihard, embTripletSemihardSql),
    Key("sample-importance-weights", sampleImportanceWeights, sampleImportanceWeightsSql),
    Key("text-interpolated-lm", textInterpolatedLm, textInterpolatedLmSql))
}
