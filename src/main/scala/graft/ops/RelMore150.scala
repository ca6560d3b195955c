package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch AY: projection trustworthiness, purged k-fold CV,
  * weight-of-evidence IV, Brier score decomposition. */
object RelMore150 extends KeyModule {

  /** emb-trustworthiness — the trustworthiness of the naive 2D view
    * (dims 0-1) of the embedding space at k = 10: for each probe
    * anchor, neighbors that the PROJECTION claims are top-10 but the
    * full 64-dim space ranks far away contribute (rank_full − k)
    * penalties — the standard dimension-reduction QA metric
    * (M_k → 1 means the picture can be trusted; 0.5 is chance).
    * emb-mrl-recall grades learned prefixes; this grades an
    * arbitrary 2-dim VIEW, the thing a scatter plot silently asserts.
    * Both rank columns ride one pair pass (full d² on the codegen
    * dot_product norm expansion, projected d² on two components),
    * probe-anchored (every 4th vector, stated) so the pair frame is
    * |probe|·|corpus|, not |corpus|². Exact integer d², rank windows
    * tiebroken by id, exact penalty sums. */
  val embTrustworthiness: Q = (s, d) => {
    val k = 10
    val v = embeddings(s, d).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) " +
        "AS DOUBLE))").as("vq"))
      .withColumn("nq", expr("dot_product(vq, vq)"))
      .withColumn("p0", expr("vq[0]")).withColumn("p1", expr("vq[1]"))
      .sharedCache()
    val probes = v.filter(pmod(col("vec_id"), lit(4)) === 0)
      .select(col("vec_id").as("i"), col("vq").as("ivq"), col("nq").as("inq"),
        col("p0").as("ip0"), col("p1").as("ip1"))
    val pairs = broadcast(probes).crossJoin(v)
      .filter(col("i") =!= col("vec_id"))
      .select(col("i"), col("vec_id").as("j"),
        expr("CAST(inq + nq - 2 * dot_product(ivq, vq) AS BIGINT)").as("d2full"),
        expr("CAST((ip0 - p0) * (ip0 - p0) + (ip1 - p1) * (ip1 - p1) AS BIGINT)")
          .as("d2proj"))
    val ranked = pairs
      .withColumn("rfull", row_number().over(Window.partitionBy("i")
        .orderBy(col("d2full"), col("j"))))
      .withColumn("rproj", row_number().over(Window.partitionBy("i")
        .orderBy(col("d2proj"), col("j"))))
    val penalties = ranked.filter(col("rproj") <= k && col("rfull") > k)
      .agg(sum(col("rfull") - k).as("penalty"), count(lit(1)).as("n_intruders"))
    val sizes = probes.agg(count(lit(1)).as("np"))
      .crossJoin(v.agg(count(lit(1)).as("n")))
    penalties.crossJoin(broadcast(sizes))
      .select(col("np").as("n_probes"), col("n").as("n_vectors"),
        col("n_intruders"),
        // M_k = 1 − 2·Σpenalty/(np·k·(2n−3k−1))
        round(lit(1.0) - lit(2.0) * coalesce(col("penalty"), lit(0L)).cast(DoubleType) /
          (col("np").cast(DoubleType) * lit(k) *
            (lit(2) * col("n") - lit(3 * k + 1))), 6)
          .as("trustworthiness"))
  }

  val embTrustworthinessSql: String =
    """WITH v AS MATERIALIZED (
      |  SELECT vec_id, vq, list_inner_product(vq, vq) AS nq,
      |         vq[1] AS p0, vq[2] AS p1
      |  FROM (
      |    SELECT vec_id,
      |           list_transform(embedding,
      |             x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS DOUBLE)) AS vq
      |    FROM embeddings) t),
      |pairs AS (
      |  SELECT a.vec_id AS i, b.vec_id AS j,
      |         CAST(a.nq + b.nq - 2 * list_inner_product(a.vq, b.vq) AS BIGINT) AS d2full,
      |         CAST((a.p0 - b.p0) * (a.p0 - b.p0) + (a.p1 - b.p1) * (a.p1 - b.p1)
      |              AS BIGINT) AS d2proj
      |  FROM v a JOIN v b ON a.vec_id <> b.vec_id
      |  WHERE a.vec_id % 4 = 0),
      |ranked AS (
      |  SELECT i, j,
      |         row_number() OVER (PARTITION BY i ORDER BY d2full, j) AS rfull,
      |         row_number() OVER (PARTITION BY i ORDER BY d2proj, j) AS rproj
      |  FROM pairs),
      |penalties AS (
      |  SELECT CAST(sum(rfull - 10) AS BIGINT) AS penalty,
      |         CAST(count(*) AS BIGINT) AS n_intruders
      |  FROM ranked WHERE rproj <= 10 AND rfull > 10),
      |sizes AS (
      |  SELECT CAST(sum(CASE WHEN vec_id % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS np,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM v)
      |SELECT np AS n_probes, n AS n_vectors, n_intruders,
      |       round(1.0 - 2.0 * CAST(coalesce(penalty, 0) AS DOUBLE) /
      |             (CAST(np AS DOUBLE) * 10 * (2 * n - 3 * 10 - 1)), 6)
      |         AS trustworthiness
      |FROM penalties CROSS JOIN sizes""".stripMargin

  /** sample-purged-kfold — purged time-series cross-validation audit:
    * 5 contiguous date folds over orders, each with a 7-day embargo
    * on BOTH sides; the op counts, per test fold, how many naive
    * train rows sit inside the embargo (label leakage through
    * temporal adjacency — the backtest-overfitting mechanism) and
    * certifies the purged train count. sample-time-split does one
    * chronological cut; k-fold reuse of time-series data is only
    * valid PURGED, and the leakage column is the proof of need (it
    * is never zero on dense daily data). Fold bounds broadcast (5
    * rows); flags are pure date arithmetic; counts exact. */
  val samplePurgedKfold: Q = (s, d) => {
    // contiguous date folds = ntile(5) over the (ed, key) order, built
    // from the PrefixScan two-pass rank — no single-partition WindowExec
    val sc = graft.functions.PrefixScan.withRankCumSum(
      orders(s, d).select(col("o_orderkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).as("ed")),
      Seq(col("ed"), col("o_orderkey")), None, rankName = "rn")
    val o = sc.df
      .withColumn("fold", graft.functions.PrefixScan.ntileFromRank(5, sc.n, col("rn")))
      .drop("rn")
      .sharedCache()
    val bounds = o.groupBy("fold")
      .agg(min("ed").as("flo"), max("ed").as("fhi"), count(lit(1)).as("n_test"))
    val audited = o.select(col("ed")).crossJoin(broadcast(bounds))
      .filter(col("ed") < col("flo") || col("ed") > col("fhi"))
      .groupBy("fold", "n_test")
      .agg(count(lit(1)).as("n_train_naive"),
        sum(when(col("ed") >= col("flo") - 7 && col("ed") <= col("fhi") + 7, 1L)
          .otherwise(0L)).as("embargo_leakage"))
    audited.select(col("fold"), col("n_test"), col("n_train_naive"),
        col("embargo_leakage"),
        (col("n_train_naive") - col("embargo_leakage")).as("n_train_purged"),
        ratioFloor(col("embargo_leakage").cast(DoubleType), col("n_train_naive"), 6)
          .as("leakage_share"))
      .orderBy("fold")
  }

  val samplePurgedKfoldSql: String =
    """WITH o AS MATERIALIZED (
      |  SELECT o_orderkey,
      |         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS ed,
      |         ntile(5) OVER (ORDER BY datediff('day', DATE '1970-01-01',
      |           CAST(o_orderdate AS DATE)), o_orderkey) AS fold
      |  FROM orders),
      |bounds AS (
      |  SELECT fold, min(ed) AS flo, max(ed) AS fhi,
      |         CAST(count(*) AS BIGINT) AS n_test
      |  FROM o GROUP BY 1),
      |audited AS (
      |  SELECT fold, n_test, CAST(count(*) AS BIGINT) AS n_train_naive,
      |         CAST(sum(CASE WHEN ed >= flo - 7 AND ed <= fhi + 7 THEN 1 ELSE 0 END)
      |              AS BIGINT) AS embargo_leakage
      |  FROM (SELECT ed FROM o) t CROSS JOIN bounds
      |  WHERE ed < flo OR ed > fhi
      |  GROUP BY 1, 2)
      |SELECT fold, n_test, n_train_naive, embargo_leakage,
      |       n_train_naive - embargo_leakage AS n_train_purged,
      |       floor(CAST(embargo_leakage AS DOUBLE) * 1e6 / n_train_naive) / 1e6
      |         AS leakage_share
      |FROM audited ORDER BY fold""".stripMargin

  /** agg-woe-iv — weight of evidence and information value of
    * quantity (10 exact bins of 5 units) for predicting a returned
    * line: WoE_b = ln((bad_b/B)/(good_b/G)), IV = Σ(bad_b/B −
    * good_b/G)·WoE_b. The credit-scoring featurization standard —
    * unlike raw correlation it is monotone-transform-free, per-bin
    * interpretable, and its IV ladder (<0.02 useless, >0.3 strong)
    * is an agreed vocabulary. WoE is the log of an exact integer
    * odds ratio (counts cross-multiplied — no rates rounded first);
    * contributions are nano-quantized before the total. One
    * aggregate over lineitem. */
  val aggWoeIv: Q = (s, d) => {
    val binned = lineitem(s, d)
      .select(expr("CAST((CAST(l_quantity AS INT) - 1) div 5 AS INT)").as("bin"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("bad"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("bad").as("nb"))
      .withColumn("ng", col("n") - col("nb"))
      .sharedCache()
    val tot = binned.agg(sum("nb").as("tb"), sum("ng").as("tg"))
    val woe = binned.crossJoin(broadcast(tot))
      .select(col("bin"), col("n"), col("nb"), col("ng"),
        // WoE from the exact integer odds ratio nb·TG/(ng·TB)
        floor(log((col("nb") * col("tg")).cast(DoubleType) /
          (col("ng") * col("tb")).cast(DoubleType)) * lit(1e9)).cast(LongType)
          .as("woeq"),
        col("tb"), col("tg"))
      .withColumn("ivq", floor(
        (col("nb").cast(DoubleType) / col("tb").cast(DoubleType) -
          col("ng").cast(DoubleType) / col("tg").cast(DoubleType)) *
          col("woeq").cast(DoubleType)).cast(LongType))
      .sharedCache()
    val iv = woe.agg(sum("ivq").as("sivq"))
    woe.crossJoin(broadcast(iv))
      .select(col("bin").as("qty_bin"), col("n").as("n_rows"),
        col("nb").as("n_returned"),
        round(col("woeq").cast(DoubleType) / lit(1e9), 6).as("woe"),
        round(col("ivq").cast(DoubleType) / lit(1e9), 6).as("iv_contribution"),
        round(col("sivq").cast(DoubleType) / lit(1e9), 6).as("total_iv"))
      .orderBy("qty_bin")
  }

  val aggWoeIvSql: String =
    """WITH binned AS MATERIALIZED (
      |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(bad) AS BIGINT) AS nb,
      |         CAST(count(*) - sum(bad) AS BIGINT) AS ng
      |  FROM (
      |    SELECT (CAST(l_quantity AS INTEGER) - 1) // 5 AS bin,
      |           CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS bad
      |    FROM lineitem) t
      |  GROUP BY 1),
      |tot AS (SELECT CAST(sum(nb) AS BIGINT) AS tb, CAST(sum(ng) AS BIGINT) AS tg
      |        FROM binned),
      |woe AS MATERIALIZED (
      |  SELECT bin, n, nb, ng,
      |         CAST(floor(ln(CAST(nb * tg AS DOUBLE) / CAST(ng * tb AS DOUBLE)) * 1e9)
      |              AS BIGINT) AS woeq,
      |         tb, tg
      |  FROM binned CROSS JOIN tot),
      |contrib AS (
      |  SELECT bin, n, nb, woeq,
      |         CAST(floor((CAST(nb AS DOUBLE) / tb - CAST(ng AS DOUBLE) / tg) *
      |                    CAST(woeq AS DOUBLE)) AS BIGINT) AS ivq
      |  FROM woe),
      |iv AS (SELECT CAST(sum(ivq) AS BIGINT) AS sivq FROM contrib)
      |SELECT bin AS qty_bin, n AS n_rows, nb AS n_returned,
      |       round(CAST(woeq AS DOUBLE) / 1e9, 6) AS woe,
      |       round(CAST(ivq AS DOUBLE) / 1e9, 6) AS iv_contribution,
      |       round(CAST(sivq AS DOUBLE) / 1e9, 6) AS total_iv
      |FROM contrib CROSS JOIN iv
      |ORDER BY qty_bin""".stripMargin

  /** agg-brier-decomposition — Murphy's decomposition of the Brier
    * score for "will this line be returned", forecast by the
    * even-orderkey half's per-quantity-bin return rate and verified
    * on the odd half: Brier = reliability − resolution + uncertainty.
    * agg-calibration-ece prices miscalibration alone; Murphy
    * separates it from RESOLUTION (does the forecast discriminate at
    * all) against the irreducible base-rate uncertainty — the
    * decomposition that tells you whether to recalibrate or rebuild.
    * Forecast probabilities are micro-quantized exact rationals from
    * the calibration half; all four terms fold exact integers; the
    * identity is recomputed as a check column (≈ 0 up to the stated
    * quantization). */
  val aggBrierDecomposition: Q = (s, d) => {
    val base = lineitem(s, d)
      .select(expr("CAST((CAST(l_quantity AS INT) - 1) div 5 AS INT)").as("bin"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"),
        (pmod(col("l_orderkey"), lit(2)) === 0).as("cal"))
      .sharedCache()
    val fc = base.filter(col("cal")).groupBy("bin")
      .agg(expr("CAST((sum(y) * 1000000 - pmod(sum(y) * 1000000, count(1))) / count(1) " +
        "AS BIGINT)").as("pq"))
    val test = base.filter(!col("cal")).join(broadcast(fc), Seq("bin"))
      .sharedCache()
    val gm = test.agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"), sum("y").as("sy"))
    val perBin = test.groupBy("bin", "pq")
      .agg(count(lit(1)).as("nb"), sum("y").as("syb"))
    val terms = perBin.crossJoin(broadcast(gm))
      .select(col("nb"), col("pq"), col("syb"), col("n"), col("sy"),
        // reliability: n_b·(p_b − ȳ_b)² ; resolution: n_b·(ȳ_b − ȳ)²
        floor((col("pq").cast(DoubleType) / lit(1e6) -
          col("syb").cast(DoubleType) / col("nb").cast(DoubleType)) *
          (col("pq").cast(DoubleType) / lit(1e6) -
            col("syb").cast(DoubleType) / col("nb").cast(DoubleType)) *
          col("nb").cast(DoubleType) * lit(1e6)).cast(LongType).as("relq"),
        floor((col("syb").cast(DoubleType) / col("nb").cast(DoubleType) -
          col("sy").cast(DoubleType) / col("n").cast(DoubleType)) *
          (col("syb").cast(DoubleType) / col("nb").cast(DoubleType) -
            col("sy").cast(DoubleType) / col("n").cast(DoubleType)) *
          col("nb").cast(DoubleType) * lit(1e6)).cast(LongType).as("resq"))
    val brier = test.select(
        floor((col("pq").cast(DoubleType) / lit(1e6) - col("y").cast(DoubleType)) *
          (col("pq").cast(DoubleType) / lit(1e6) - col("y").cast(DoubleType)) * lit(1e6))
          .cast(LongType).as("bq"))
      .agg(sum("bq").as("sbq"), count(lit(1)).as("nt"))
    terms.agg(sum("relq").as("srel"), sum("resq").as("sres"),
        max("n").as("n"), max("sy").as("sy"))
      .crossJoin(broadcast(brier))
      .select(col("nt").as("n_test"),
        round(col("sbq").cast(DoubleType) / col("nt") / lit(1e6), 6).as("brier"),
        round(col("srel").cast(DoubleType) / col("n").cast(DoubleType) / lit(1e6), 6)
          .as("reliability"),
        round(col("sres").cast(DoubleType) / col("n").cast(DoubleType) / lit(1e6), 6)
          .as("resolution"),
        round((col("sy").cast(DoubleType) / col("n").cast(DoubleType)) *
          (lit(1.0) - col("sy").cast(DoubleType) / col("n").cast(DoubleType)), 6)
          .as("uncertainty"))
      .withColumn("identity_gap", round(col("brier") -
        (col("reliability") - col("resolution") + col("uncertainty")), 6))
  }

  val aggBrierDecompositionSql: String =
    """WITH base AS MATERIALIZED (
      |  SELECT (CAST(l_quantity AS INTEGER) - 1) // 5 AS bin,
      |         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
      |         l_orderkey % 2 = 0 AS cal
      |  FROM lineitem),
      |fc AS (
      |  SELECT bin, (CAST(sum(y) AS BIGINT) * 1000000) // count(*) AS pq
      |  FROM base WHERE cal GROUP BY 1),
      |test AS MATERIALIZED (
      |  SELECT base.bin, y, pq FROM base JOIN fc ON base.bin = fc.bin
      |  WHERE NOT cal),
      |gm AS (SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(y) AS HUGEINT) AS sy
      |       FROM test),
      |per_bin AS (
      |  SELECT bin, pq, CAST(count(*) AS BIGINT) AS nb, CAST(sum(y) AS BIGINT) AS syb
      |  FROM test GROUP BY 1, 2),
      |terms AS (
      |  SELECT CAST(floor((CAST(pq AS DOUBLE) / 1e6 - CAST(syb AS DOUBLE) / nb) *
      |                    (CAST(pq AS DOUBLE) / 1e6 - CAST(syb AS DOUBLE) / nb) *
      |                    nb * 1e6) AS BIGINT) AS relq,
      |         CAST(floor((CAST(syb AS DOUBLE) / nb - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) *
      |                    (CAST(syb AS DOUBLE) / nb - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) *
      |                    nb * 1e6) AS BIGINT) AS resq,
      |         n, sy
      |  FROM per_bin CROSS JOIN gm),
      |brier AS (
      |  SELECT CAST(sum(CAST(floor((CAST(pq AS DOUBLE) / 1e6 - y) *
      |                             (CAST(pq AS DOUBLE) / 1e6 - y) * 1e6) AS BIGINT))
      |              AS BIGINT) AS sbq,
      |         CAST(count(*) AS BIGINT) AS nt
      |  FROM test),
      |agg AS (
      |  SELECT CAST(sum(relq) AS BIGINT) AS srel, CAST(sum(resq) AS BIGINT) AS sres,
      |         max(n) AS n, max(sy) AS sy
      |  FROM terms),
      |m AS (
      |  SELECT nt AS n_test,
      |         round(CAST(sbq AS DOUBLE) / nt / 1e6, 6) AS brier,
      |         round(CAST(srel AS DOUBLE) / CAST(n AS DOUBLE) / 1e6, 6) AS reliability,
      |         round(CAST(sres AS DOUBLE) / CAST(n AS DOUBLE) / 1e6, 6) AS resolution,
      |         round((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) *
      |               (1.0 - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS uncertainty
      |  FROM agg CROSS JOIN brier)
      |SELECT n_test, brier, reliability, resolution, uncertainty,
      |       round(brier - (reliability - resolution + uncertainty), 6) AS identity_gap
      |FROM m""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("emb-trustworthiness", embTrustworthiness, embTrustworthinessSql),
    Key("sample-purged-kfold", samplePurgedKfold, samplePurgedKfoldSql),
    Key("agg-woe-iv", aggWoeIv, aggWoeIvSql),
    Key("agg-brier-decomposition", aggBrierDecomposition, aggBrierDecompositionSql))
}
