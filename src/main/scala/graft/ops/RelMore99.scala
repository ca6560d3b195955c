package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-10 batch Q: multiprobe SimHash blocking, Markov entropy rate,
  * negative-binomial fit, Youden optimal threshold. */
object RelMore99 extends KeyModule {

  private val ChunkBits = 16
  private val NChunks = 4

  /** dedup-simhash-multiprobe — MULTIPROBE LSH on the SimHash chunks:
    * plain Hamming-chunk blocking (dedup-simhash-pairs) only finds
    * pairs agreeing EXACTLY on one 16-bit chunk; a near-dup whose
    * differing bits spread across all chunks misses every block.
    * Multiprobe also probes the 16 one-bit-flip variants of each
    * chunk on ONE side of the join — 17x the probe keys, zero extra
    * index tables, which is exactly the query-time trade multiprobe
    * LSH is named for. Target buckets keep the dedup-simhash-pairs
    * df-cap (<=256 docs — uninformative hash regions excluded, same
    * recall bound). The graded row measures the trade honestly:
    * candidates and verified near-dups (Hamming <= 8, native
    * hamming_distance expression) under plain vs multiprobe, and the
    * pair-recall gain. */
  val dedupSimhashMultiprobe: Q = (s, d) => {
    graft.functions.HammingDistance.register(s)
    val sh = TextDedup.simhashFrame(s, d).sharedCache()
    val chunkArgs = (0 until NChunks).map(c =>
      s"$c, substring(simhash, ${c * ChunkBits + 1}, $ChunkBits)").mkString(", ")
    val chunksAll = sh.selectExpr("doc_id", s"stack($NChunks, $chunkArgs) AS (cidx, ck)")
    val keep = chunksAll.groupBy("cidx", "ck").agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= 256).select("cidx", "ck")
    val target = chunksAll.join(keep, Seq("cidx", "ck"))
      .select(col("doc_id").as("j"), col("cidx"), col("ck").as("pk"))
    val probes = chunksAll
      .select(col("doc_id").as("i"), col("cidx"),
        explode(expr(s"sequence(0, $ChunkBits)")).as("k"), col("ck"))
      .withColumn("pk", when(col("k") === 0, col("ck")).otherwise(
        expr(s"""concat(substring(ck, 1, k - 1),
                 CASE WHEN substring(ck, k, 1) = '0' THEN '1' ELSE '0' END,
                 substring(ck, k + 1, $ChunkBits - k))""")))
      .select(col("i"), col("cidx"), col("pk"), col("k"))
    val cand = probes.join(target, Seq("cidx", "pk"))
      .filter(col("i") < col("j"))
      .groupBy("i", "j").agg(min("k").as("min_k"))
    val scored = cand
      .join(sh.select(col("doc_id").as("i"), col("simhash").as("fa")), Seq("i"))
      .join(sh.select(col("doc_id").as("j"), col("simhash").as("fb")), Seq("j"))
      .withColumn("ham", expr("hamming_distance(fa, fb)"))
    scored.agg(
      sum(when(col("min_k") === 0, 1L).otherwise(0L)).as("plain_candidates"),
      count(lit(1)).as("mp_candidates"),
      sum(when(col("min_k") === 0 && col("ham") <= 8, 1L).otherwise(0L))
        .as("plain_neardups"),
      sum(when(col("ham") <= 8, 1L).otherwise(0L)).as("mp_neardups"))
      .select(col("plain_candidates"), col("mp_candidates"),
        col("plain_neardups"), col("mp_neardups"),
        (col("mp_neardups") - col("plain_neardups")).as("recall_gain_pairs"))
  }

  val dedupSimhashMultiprobeSql: String = {
    s"""WITH sh AS (${TextDedup.simhashCoreSqlShared}),
       |chunks_all AS (
       |  SELECT doc_id, c AS cidx, substring(simhash, c * $ChunkBits + 1, $ChunkBits) AS ck
       |  FROM sh, (SELECT unnest([0, 1, 2, 3]) AS c) t),
       |keep AS (
       |  SELECT cidx, ck FROM chunks_all GROUP BY 1, 2 HAVING count(*) <= 256),
       |target AS (
       |  SELECT ca.doc_id AS j, ca.cidx, ca.ck AS pk
       |  FROM chunks_all ca JOIN keep ON keep.cidx = ca.cidx AND keep.ck = ca.ck),
       |probes AS (
       |  SELECT doc_id AS i, cidx, k,
       |         CASE WHEN k = 0 THEN ck
       |              ELSE substring(ck, 1, k - 1) ||
       |                   (CASE WHEN substring(ck, k, 1) = '0' THEN '1' ELSE '0' END) ||
       |                   substring(ck, k + 1, $ChunkBits - k)
       |         END AS pk
       |  FROM chunks_all CROSS JOIN (SELECT unnest(range(0, ${ChunkBits + 1})) AS k) ks),
       |cand AS (
       |  SELECT i, j, min(k) AS min_k
       |  FROM probes JOIN target USING (cidx, pk)
       |  WHERE i < j GROUP BY i, j),
       |scored AS (
       |  SELECT cand.*, mismatches(sa.simhash, sb.simhash) AS ham
       |  FROM cand JOIN sh sa ON sa.doc_id = i JOIN sh sb ON sb.doc_id = j)
       |SELECT CAST(sum(CASE WHEN min_k = 0 THEN 1 ELSE 0 END) AS BIGINT) AS plain_candidates,
       |       count(*) AS mp_candidates,
       |       CAST(sum(CASE WHEN min_k = 0 AND ham <= 8 THEN 1 ELSE 0 END) AS BIGINT) AS plain_neardups,
       |       CAST(sum(CASE WHEN ham <= 8 THEN 1 ELSE 0 END) AS BIGINT) AS mp_neardups,
       |       CAST(sum(CASE WHEN ham <= 8 THEN 1 ELSE 0 END) -
       |            sum(CASE WHEN min_k = 0 AND ham <= 8 THEN 1 ELSE 0 END) AS BIGINT) AS recall_gain_pairs
       |FROM scored""".stripMargin
  }

  /** agg-entropy-rate — the conditional entropy H(Xₜ₊₁|Xₜ) of the
    * per-user event chain vs the marginal entropy H(X): their gap is
    * the predictability the SEQUENCE adds over the histogram — the
    * number that says whether a next-event model can beat the base
    * rates at all. Transition counts come from one per-user lag
    * window; both entropies fold a DOMAIN-bounded cell table (≤ k²
    * rows) with per-cell ln terms floor-quantized to 1e-9 before the
    * exact sum. Units: nats. */
  val aggEntropyRate: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val trans = events(s, d)
      .withColumn("nxt", lead("event_type", 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("a"), col("nxt").as("b"))
      .agg(count(lit(1)).as("c"))
      .sharedCache()
    val rows = trans.groupBy("a").agg(sum("c").as("ra"))
    val n = trans.agg(sum("c").as("n"))
    val hRate = trans.join(broadcast(rows), "a").crossJoin(broadcast(n))
      .select(floor(col("c").cast(DoubleType) / col("n") *
        log(col("ra").cast(DoubleType) / col("c")) * 1e9).cast(LongType).as("tq"))
      .agg(sum("tq").as("sq"))
      .select((col("sq").cast(DoubleType) / 1e9).as("h_rate"))
    val marg = trans.groupBy("b").agg(sum("c").as("cb"))
      .crossJoin(broadcast(n))
      .select(floor(col("cb").cast(DoubleType) / col("n") *
        log(col("n").cast(DoubleType) / col("cb")) * 1e9).cast(LongType).as("tq"))
      .agg(sum("tq").as("sq"))
      .select((col("sq").cast(DoubleType) / 1e9).as("h_marginal"))
    n.crossJoin(broadcast(hRate)).crossJoin(broadcast(marg))
      .select(col("n").as("n_transitions"),
        round(col("h_rate"), 6).as("h_rate"),
        round(col("h_marginal"), 6).as("h_marginal"),
        round(col("h_marginal") - col("h_rate"), 6).as("predictability_gain"))
  }

  val aggEntropyRateSql: String =
    """WITH seq AS (
      |  SELECT event_type AS a,
      |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS b
      |  FROM events),
      |trans AS (
      |  SELECT a, b, count(*) AS c FROM seq WHERE b IS NOT NULL GROUP BY 1, 2),
      |rows_ AS (SELECT a, CAST(sum(c) AS BIGINT) AS ra FROM trans GROUP BY 1),
      |nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM trans),
      |hr AS (
      |  SELECT CAST(sum(CAST(floor(CAST(c AS DOUBLE) / n * ln(CAST(ra AS DOUBLE) / c) * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 AS h_rate
      |  FROM trans JOIN rows_ USING (a) CROSS JOIN nn),
      |mg AS (
      |  SELECT CAST(sum(CAST(floor(CAST(cb AS DOUBLE) / n * ln(CAST(n AS DOUBLE) / cb) * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 AS h_marginal
      |  FROM (SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM trans GROUP BY b) t CROSS JOIN nn)
      |SELECT n AS n_transitions,
      |       round(h_rate, 6) AS h_rate,
      |       round(h_marginal, 6) AS h_marginal,
      |       round(h_marginal - h_rate, 6) AS predictability_gain
      |FROM nn CROSS JOIN hr CROSS JOIN mg""".stripMargin

  /** agg-negbin-fit — negative-binomial method-of-moments fit of daily
    * event counts per type: r = m²/(v−m), p = m/v. The distribution
    * that actually fits bursty counts (see agg-dispersion-index: D≫1)
    * where Poisson underestimates every tail probability. Moments are
    * exact integers (nΣy² − S² form); r/p take two terminal
    * divisions; types with v ≤ m honestly report null (Poisson or
    * under-dispersed — fitting NB there is nonsense, and the gate
    * says so rather than emitting a negative r). */
  val aggNegbinFit: Q = (s, d) => {
    val daily = events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("dt"))
      .agg(count(lit(1)).as("y"))
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("y").as("sy"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("event_type"), col("n"),
        (col("sy").cast(DoubleType) / col("n")).as("m"),
        ((col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType) /
          (col("n") * (col("n") - 1))).as("v"))
      .select(col("event_type"), col("n"), round(col("m"), 4).as("mean_daily"),
        round(col("v"), 4).as("var_daily"),
        when(col("v") > col("m"),
          round(col("m") * col("m") / (col("v") - col("m")), 4)).as("nb_r"),
        when(col("v") > col("m"), round(col("m") / col("v"), 4)).as("nb_p"))
      .orderBy("event_type")
  }

  val aggNegbinFitSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS dt, count(*) AS y
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT event_type, count(*) AS n, CAST(sum(y) AS BIGINT) AS sy,
      |         CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM daily GROUP BY 1),
      |mm AS (
      |  SELECT event_type, n,
      |         CAST(sy AS DOUBLE) / n AS mean_d,
      |         CAST(n * syy - sy * sy AS DOUBLE) / (n * (n - 1)) AS var_d
      |  FROM m)
      |SELECT event_type, n, round(mean_d, 4) AS mean_daily,
      |       round(var_d, 4) AS var_daily,
      |       CASE WHEN var_d > mean_d THEN round(mean_d * mean_d / (var_d - mean_d), 4) END AS nb_r,
      |       CASE WHEN var_d > mean_d THEN round(mean_d / var_d, 4) END AS nb_p
      |FROM mm ORDER BY event_type""".stripMargin

  /** agg-youden-threshold — the optimal operating point of a
    * score-based classifier (score = event value, outcome =
    * purchase): Youden's J = TPR − FPR evaluated on a 19-point
    * ventile-rank threshold grid, all from ONE PrefixScan pass whose
    * cumulative-positive counter makes every TP/FP cell an exact
    * integer difference. The argmax row (J desc, rank asc tiebreak)
    * is the threshold a deployment should alert on — picked from a
    * designed grid, not a full sweep, which is what keeps the scan
    * single-pass at 100 TB (compare agg-auc-exact: the integral;
    * this: the operating point). */
  val aggYoudenThreshold: Q = (s, d) => {
    import graft.functions.PrefixScan
    val base = events(s, d).select(
      floor(col("value") * 100).cast(LongType).as("score"),
      col("event_id"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
    val scanned = PrefixScan.withRankCumSum(base,
      Seq(col("score").asc, col("event_id").asc), Some("pos"),
      rankName = "rk", cumName = "cump").df.sharedCache()
    val tot = scanned.agg(count(lit(1)).as("n"), max("cump").as("p_tot"))
    val grid = scanned.crossJoin(broadcast(tot))
      .withColumn("ventile",
        expr("CAST(ceil(rk * 20.0 / n) AS INT)"))
      .filter(col("rk") === expr("CAST(ceil(ventile * n / 20.0) AS BIGINT)") &&
        col("ventile") < 20)
      .select(col("ventile"), col("score"), col("rk"), col("cump"),
        col("n"), col("p_tot"))
    grid.select(col("ventile"), (col("score").cast(DoubleType) / 100).as("threshold"),
      ratioFloor(col("p_tot") - col("cump"), col("p_tot"), 6).as("tpr"),
      ratioFloor((col("n") - col("rk")) - (col("p_tot") - col("cump")),
        col("n") - col("p_tot"), 6).as("fpr"))
      .withColumn("j", round(col("tpr") - col("fpr"), 6))
      .orderBy(col("j").desc, col("ventile").asc)
      .limit(1)
      .select(col("ventile"), col("threshold"), col("tpr"), col("fpr"), col("j"))
  }

  val aggYoudenThresholdSql: String =
    s"""WITH base AS (
       |  SELECT CAST(floor(value * 100) AS BIGINT) AS score, event_id,
       |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
       |  FROM events),
       |scanned AS (
       |  SELECT score, pos,
       |         row_number() OVER (ORDER BY score, event_id) AS rk,
       |         sum(pos) OVER (ORDER BY score, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cump
       |  FROM base),
       |tot AS (SELECT count(*) AS n, CAST(max(cump) AS BIGINT) AS p_tot FROM scanned),
       |grid AS (
       |  SELECT CAST(ceil(rk * 20.0 / n) AS INT) AS ventile, score, rk,
       |         CAST(cump AS BIGINT) AS cump, n, p_tot
       |  FROM scanned CROSS JOIN tot
       |  WHERE rk = CAST(ceil(CAST(ceil(rk * 20.0 / n) AS INT) * n / 20.0) AS BIGINT)
       |    AND CAST(ceil(rk * 20.0 / n) AS INT) < 20),
       |scored AS (
       |  SELECT ventile, CAST(score AS DOUBLE) / 100 AS threshold,
       |         ${ratioFloorSql("(p_tot - cump)", "p_tot", 6)} AS tpr,
       |         ${ratioFloorSql("((n - rk) - (p_tot - cump))", "(n - p_tot)", 6)} AS fpr
       |  FROM grid)
       |SELECT ventile, threshold, tpr, fpr,
       |       round(tpr - fpr, 6) AS j
       |FROM scored
       |ORDER BY round(tpr - fpr, 6) DESC, ventile
       |LIMIT 1""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("dedup-simhash-multiprobe", dedupSimhashMultiprobe, dedupSimhashMultiprobeSql),
    Key("agg-entropy-rate", aggEntropyRate, aggEntropyRateSql),
    Key("agg-negbin-fit", aggNegbinFit, aggNegbinFitSql),
    Key("agg-youden-threshold", aggYoudenThreshold, aggYoudenThresholdSql))
}
