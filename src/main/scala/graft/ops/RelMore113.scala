package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch N: Gumbel block maxima, Baxter-King bandpass filter,
  * BM25 retrieval, Fellegi-Sunter linkage weights. */
object RelMore113 extends KeyModule {

  /** agg-gumbel-block-maxima — block-maxima EVT with a Gumbel fit on
    * monthly daily-revenue maxima: method-of-moments closed form
    * (β̂ = s·√6/π, μ̂ = m̄ − γβ̂ with Euler's γ = 0.5772156649 as a
    * declared literal), then the 12-block return level μ̂ −
    * β̂·ln(−ln(1−1/12)) — "the worst day in a typical year" from the
    * OTHER classical EVT route (agg-gpd-pot thresholds exceedances;
    * block maxima needs no threshold choice, the block calendar IS
    * the design). Block maxima and their first two moments are exact
    * integers (cents, DECIMAL(38,0)); mean/std/return level are the
    * only doubles, from identical expressions. One day rollup + one
    * month rollup — nothing data-sized after the scan. */
  val aggGumbelBlockMaxima: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("y"))
    val blocks = daily
      .groupBy((year(col("dt")) * 100 + month(col("dt"))).as("ym"))
      .agg(max("y").as("mx"))
    val sums = blocks.agg(count(lit(1)).as("k"),
      sum(expr("CAST(mx AS DECIMAL(38,0))")).as("sm"),
      sum(expr("CAST(mx AS DECIMAL(38,0)) * mx")).as("smm"))
    sums.select(col("k"), col("k").cast(DoubleType).as("kd"),
      col("sm").cast(DoubleType).as("smd"), col("smm").cast(DoubleType).as("smmd"))
      .withColumn("mean", col("smd") / col("kd"))
      .withColumn("sd", sqrt((col("smmd") - col("smd") * col("smd") / col("kd")) /
        (col("kd") - 1)))
      .withColumn("beta", col("sd") * sqrt(lit(6.0)) / lit(math.Pi))
      .withColumn("mu", col("mean") - lit(0.5772156649) * col("beta"))
      .select(col("k").cast(LongType).as("n_blocks"),
        round(col("mu") / 100, 2).as("gumbel_mu_usd"),
        round(col("beta") / 100, 2).as("gumbel_beta_usd"),
        round((col("mu") - col("beta") * log(-log(lit(1.0) - lit(1.0) / 12))) / 100, 2)
          .as("return_level_12blk_usd"))
  }

  val aggGumbelBlockMaximaSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |blocks AS (
      |  SELECT year(dt) * 100 + month(dt) AS ym, max(y) AS mx FROM daily GROUP BY 1),
      |sums AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(count(*) AS DOUBLE) AS kd,
      |         CAST(sum(CAST(mx AS HUGEINT)) AS DOUBLE) AS smd,
      |         CAST(sum(CAST(mx AS HUGEINT) * mx) AS DOUBLE) AS smmd
      |  FROM blocks),
      |fit AS (
      |  SELECT k, mean, beta, mean - 0.5772156649 * beta AS mu FROM (
      |    SELECT k, smd / kd AS mean,
      |           sqrt((smmd - smd * smd / kd) / (kd - 1)) * sqrt(6.0) / pi() AS beta
      |    FROM sums) t)
      |SELECT k AS n_blocks, round(mu / 100, 2) AS gumbel_mu_usd,
      |       round(beta / 100, 2) AS gumbel_beta_usd,
      |       round((mu - beta * ln(-ln(1.0 - 1.0 / 12))) / 100, 2) AS return_level_12blk_usd
      |FROM fit""".stripMargin

  /** win-bandpass-bk — the Baxter-King bandpass filter on monthly
    * revenue: the symmetric moving filter whose ±12-month sinc-kernel
    * weights pass the 6-to-32-month "business-cycle" band and kill
    * both the trend (low frequencies) and month-to-month noise (high
    * frequencies) — macroeconomics' standard cycle extractor, and a
    * shape no simple MA reproduces. Weights wⱼ = (sin(jω₂)−sin(jω₁))
    * /(πj) (w₀ = (ω₂−ω₁)/π), mean-corrected so they sum to zero, are
    * IDENTICAL double expressions of the pair offset j — no weight
    * table to ship. The filter itself is a self-join of the ~80-row
    * MONTHLY aggregate on |offset| ≤ 12 (never fact-sized); each
    * weighted term is floor-quantized to an exact integer so the
    * 25-term fold is partition-order-proof. Interior months only
    * (full window), the BK convention. */
  val winBandpassBk: Q = (s, d) => {
    val monthly = orders(s, d)
      .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).as("ym"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("y"))
      .withColumn("i", row_number().over(Window.orderBy("ym")))
      .sharedCache()
    val nTot = monthly.agg(max("i").as("n"))
    // raw weight at offset j, as one shared SQL fragment (w1 = 2π/32,
    // w2 = 2π/6); the mean correction below subtracts avg raw weight
    def rawW(j: String): String =
      s"CASE WHEN $j = 0 THEN (2 * pi() / 6 - 2 * pi() / 32) / pi() " +
        s"ELSE (sin($j * 2 * pi() / 6) - sin($j * 2 * pi() / 32)) / (pi() * $j) END"
    val terms = monthly.as("a").join(monthly.as("b"),
      abs(col("b.i") - col("a.i")) <= 12)
      .select(col("a.ym").as("ym"), col("a.i").as("i"), col("b.y").as("by"),
        expr(rawW("abs(b.i - a.i)")).as("wraw"))
      .withColumn("term",
        floor(col("by").cast(DoubleType) *
          (col("wraw") - lit(bkMeanCorrection)) * lit(1e6)).cast(LongType))
      .groupBy("ym", "i").agg(sum("term").as("cyc_q"), count(lit(1)).as("nw"))
    terms.crossJoin(broadcast(nTot))
      .filter(col("nw") === 25 && col("i") > 12 && col("i") <= col("n") - 12)
      .select(col("ym").cast(LongType).as("ym"),
        round(col("cyc_q").cast(DoubleType) / 1e6 / 100, 2).as("cycle_usd"))
      .orderBy("ym")
  }

  /** Mean of the 25 raw BK weights (the zero-sum correction constant):
    * computed once in Scala with the same double arithmetic the SQL
    * uses, and embedded as the identical literal in both engines. */
  private lazy val bkMeanCorrection: Double = {
    val w1 = 2 * math.Pi / 32; val w2 = 2 * math.Pi / 6
    val raw = (-12 to 12).map { j =>
      if (j == 0) (w2 - w1) / math.Pi
      else (math.sin(math.abs(j) * w2) - math.sin(math.abs(j) * w1)) / (math.Pi * math.abs(j))
    }
    raw.sum / 25
  }

  val winBandpassBkSql: String = {
    def rawW(j: String): String =
      s"CASE WHEN $j = 0 THEN (2 * pi() / 6 - 2 * pi() / 32) / pi() " +
        s"ELSE (sin($j * 2 * pi() / 6) - sin($j * 2 * pi() / 32)) / (pi() * $j) END"
    s"""WITH monthly AS MATERIALIZED (
       |  SELECT ym, y, row_number() OVER (ORDER BY ym) AS i FROM (
       |    SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
       |           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
       |    FROM orders GROUP BY 1) t),
       |nn AS (SELECT max(i) AS n FROM monthly),
       |terms AS (
       |  SELECT a.ym, a.i,
       |         CAST(sum(CAST(floor(CAST(b.y AS DOUBLE) *
       |           ((${rawW("abs(b.i - a.i)")}) - $bkMeanCorrection) * 1e6) AS BIGINT)) AS BIGINT) AS cyc_q,
       |         count(*) AS nw
       |  FROM monthly a JOIN monthly b ON abs(b.i - a.i) <= 12
       |  GROUP BY 1, 2)
       |SELECT CAST(ym AS BIGINT) AS ym,
       |       round(CAST(cyc_q AS DOUBLE) / 1e6 / 100, 2) AS cycle_usd
       |FROM terms CROSS JOIN nn
       |WHERE nw = 25 AND i > 12 AND i <= n - 12
       |ORDER BY ym""".stripMargin
  }

  /** text-bm25-topk — BM25 retrieval (k₁ = 1.2, b = 0.75) for a
    * deterministic 3-term query (the terms ranked 5-7 by document
    * frequency — mid-frequency, where BM25's idf actually
    * discriminates), returning the top-10 documents: THE bag-of-words
    * retrieval baseline every RAG/embedding pipeline is benchmarked
    * against, next to which text-tfidf-topterms (term side) and the
    * ann-* family (vector side) sit. idf uses the BM25+ convention
    * ln(1 + (N−df+0.5)/(df+0.5)); the length normalization uses exact
    * integer doc lengths and the GLOBAL avgdl as one broadcast
    * scalar. Scores are per-(doc, term) doubles from exact integer
    * tf/df/dl — identical expressions, micro-floor-quantized BEFORE
    * the per-doc sum so the 3-term fold is exact — and the top-10 cut
    * is rank-by-(score, doc_id). One token explode + two broadcast
    * joins; no all-pairs anything. */
  val textBm25Topk: Q = (s, d) => {
    val toks = documents(s, d)
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("w"))
      .sharedCache()
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("nd"), sum("dl").as("tottok"))
    val df = toks.select("doc_id", "w").distinct()
      .groupBy("w").agg(count(lit(1)).as("df"))
    val qterms = df.orderBy(col("df").desc, col("w")).limit(7)
      .orderBy(col("df").asc, col("w")).limit(3)
      .select(col("w"), col("df"))
    val tf = toks.join(broadcast(qterms), Seq("w"))
      .groupBy("doc_id", "w", "df").agg(count(lit(1)).as("tf"))
    val scored = tf.join(broadcast(dl), Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("w"),
        floor(
          log(lit(1.0) + (col("nd").cast(DoubleType) - col("df") + 0.5) / (col("df") + 0.5)) *
            (col("tf").cast(DoubleType) * (lit(1.2) + 1)) /
            (col("tf") + lit(1.2) * (lit(1.0) - 0.75 +
              lit(0.75) * col("dl") * col("nd") / col("tottok").cast(DoubleType))) * lit(1e6))
          .cast(LongType).as("sq"))
      .groupBy("doc_id").agg(sum("sq").as("score_q"), count(lit(1)).as("n_terms_hit"))
    scored.orderBy(col("score_q").desc, col("doc_id")).limit(10)
      .select(col("doc_id"), col("n_terms_hit"),
        round(col("score_q").cast(DoubleType) / 1e6, 4).as("bm25"))
  }

  val textBm25TopkSql: String =
    """WITH toks AS MATERIALIZED (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      |  FROM documents),
      |dl AS MATERIALIZED (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
      |stats AS (SELECT CAST(count(*) AS BIGINT) AS nd, CAST(sum(dl) AS BIGINT) AS tottok FROM dl),
      |df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM
      |        (SELECT DISTINCT doc_id, w FROM toks) t GROUP BY 1),
      |qterms AS (
      |  SELECT w, df FROM (
      |    SELECT w, df FROM df ORDER BY df DESC, w LIMIT 7) t
      |  ORDER BY df ASC, w LIMIT 3),
      |tf AS (
      |  SELECT doc_id, toks.w, df, CAST(count(*) AS BIGINT) AS tf
      |  FROM toks JOIN qterms USING (w) GROUP BY 1, 2, 3),
      |scored AS (
      |  SELECT doc_id,
      |         CAST(sum(CAST(floor(
      |           ln(1.0 + (CAST(nd AS DOUBLE) - df + 0.5) / (df + 0.5)) *
      |           (CAST(tf AS DOUBLE) * (1.2 + 1)) /
      |           (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl * nd / CAST(tottok AS DOUBLE))) * 1e6)
      |           AS BIGINT)) AS BIGINT) AS score_q,
      |         CAST(count(*) AS BIGINT) AS n_terms_hit
      |  FROM tf JOIN dl USING (doc_id) CROSS JOIN stats
      |  GROUP BY 1)
      |SELECT doc_id, n_terms_hit,
      |       round(CAST(score_q AS DOUBLE) / 1e6, 4) AS bm25
      |FROM scored
      |ORDER BY score_q DESC, doc_id LIMIT 10""".stripMargin

  /** dq-linkage-weights — Fellegi-Sunter record-linkage scoring over
    * digit-prefix-blocked customer pairs: within each block sharing
    * all but the last digit of the customer number (= key div 10 —
    * exactly ≤10 customers per block at ANY corpus size; the name's
    * "Customer#" prefix is constant and a fixed-width digit PREFIX
    * degenerates to one giant block as the key space grows, the
    * classic blocking-key mistake — measured: 41 s vs 0.3 s at
    * sf0.1), candidate pairs are compared on three fields
    * (nation equality, account-balance within $10, name-suffix
    * equality), each agreement contributing its declared log-odds
    * weight ln(mᵢ/uᵢ) and each disagreement ln((1−mᵢ)/(1−uᵢ)) —
    * m/u = (0.95, 0.05) per field, stated, since no labeled truth
    * exists to EM-estimate them. The output is the decision-relevant
    * summary: the weight histogram (micro-quantized weights are
    * exact integers, so bucketing is tie-free) and the match-call
    * count at the declared +3·ln(19) threshold (all three fields
    * agreeing). The BLOCKING is the scale story: pairs exist only
    * within prefix blocks (the dedup-phonetic-block discipline), so
    * the comparison count is Σ|block|², never |customers|². */
  val dqLinkageWeights: Q = (s, d) => {
    val c = customer(s, d)
      .select(col("c_custkey"), substring(col("c_name"), 10, 8).as("blk"),
        col("c_nationkey"),
        expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)").as("bal"),
        substring(col("c_name"), -3, 3).as("sfx"))
    val pairs = c.as("a").join(c.as("b"),
      col("a.blk") === col("b.blk") && col("a.c_custkey") < col("b.c_custkey"))
      .select(
        when(col("a.c_nationkey") === col("b.c_nationkey"), 1).otherwise(0).as("f1"),
        when(abs(col("a.bal") - col("b.bal")) <= 1000, 1).otherwise(0).as("f2"),
        when(col("a.sfx") === col("b.sfx"), 1).otherwise(0).as("f3"))
    val wAgree = math.log(0.95 / 0.05)
    val wDis = math.log(0.05 / 0.95)
    val weighted = pairs.select(
      ((col("f1") + col("f2") + col("f3")) * lit(wAgree) +
        (lit(3) - col("f1") - col("f2") - col("f3")) * lit(wDis)).as("wsum"))
      .select(floor(col("wsum") * lit(1e6)).cast(LongType).as("wq"))
    weighted
      .groupBy((floor(col("wq").cast(DoubleType) / 1e6 + 0.5)).cast(LongType).as("w_bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("wq") >= floor(lit(3 * wAgree) * 1e6).cast(LongType), 1L)
          .otherwise(0L)).as("n_match_calls"))
      .orderBy("w_bucket")
  }

  val dqLinkageWeightsSql: String = {
    val wAgree = math.log(0.95 / 0.05)
    val wDis = math.log(0.05 / 0.95)
    s"""WITH c AS (
       |  SELECT c_custkey, substring(c_name, 10, 8) AS blk, c_nationkey,
       |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal,
       |         substring(c_name, length(c_name) - 2, 3) AS sfx
       |  FROM customer),
       |pairs AS (
       |  SELECT CASE WHEN a.c_nationkey = b.c_nationkey THEN 1 ELSE 0 END AS f1,
       |         CASE WHEN abs(a.bal - b.bal) <= 1000 THEN 1 ELSE 0 END AS f2,
       |         CASE WHEN a.sfx = b.sfx THEN 1 ELSE 0 END AS f3
       |  FROM c a JOIN c b ON a.blk = b.blk AND a.c_custkey < b.c_custkey),
       |weighted AS (
       |  SELECT CAST(floor(((f1 + f2 + f3) * $wAgree +
       |                     (3 - f1 - f2 - f3) * $wDis) * 1e6) AS BIGINT) AS wq
       |  FROM pairs)
       |SELECT CAST(floor(CAST(wq AS DOUBLE) / 1e6 + 0.5) AS BIGINT) AS w_bucket,
       |       CAST(count(*) AS BIGINT) AS n_pairs,
       |       CAST(sum(CASE WHEN wq >= CAST(floor((${3 * wAgree}) * 1e6) AS BIGINT)
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_match_calls
       |FROM weighted
       |GROUP BY 1
       |ORDER BY 1""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    Key("agg-gumbel-block-maxima", aggGumbelBlockMaxima, aggGumbelBlockMaximaSql),
    Key("win-bandpass-bk", winBandpassBk, winBandpassBkSql),
    Key("text-bm25-topk", textBm25Topk, textBm25TopkSql),
    Key("dq-linkage-weights", dqLinkageWeights, dqLinkageWeightsSql))
}
