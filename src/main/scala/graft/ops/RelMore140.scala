package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch AO: green-list watermark detector, stupid-backoff
  * bigram LM, one-step Gaussian mixture EM, activity h-index. */
object RelMore140 extends KeyModule {

  /** text-greenlist-watermark — Kirchenbauer-style green-list
    * watermark detection: each position's vocabulary is notionally
    * split green/red by a hash seeded on the PREVIOUS token (here:
    * md5 parity of "prev|token", γ = ½), and a watermarked generator
    * over-samples green, so the one-proportion z = (2g−m)/√m per
    * document exposes it. As LLM-generated text floods training
    * corpora, this is a first-class provenance filter alongside
    * text-contamination (benchmark leakage) and text-code-detect —
    * and on HUMAN text it doubles as a null calibration (z should sit
    * near 0, which this fixture verifies). The green indicator is
    * pure hash arithmetic (engine-identical md5); counts are exact
    * integers; z is one sqrt per doc. One token explode + per-doc
    * lag window, shuffled on doc_id. Top 15 by z. */
  val textGreenlistWatermark: Q = (s, d) => {
    val toks = documents(s, d)
      .select(col("doc_id"), posexplode(split(trim(col("text")), "\\s+"))
        .as(Seq("pos", "w")))
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    val scored = toks
      .withColumn("prev", lag("w", 1).over(wd))
      .filter(col("prev").isNotNull)
      .select(col("doc_id"),
        when(expr("substring(md5(concat(prev, '|', w)), 32, 1)")
          .isin("0", "2", "4", "6", "8", "a", "c", "e"), 1L).otherwise(0L).as("green"))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("m"), sum("green").as("g"))
      .filter(col("m") >= 20)
      .select(col("doc_id"), col("m").as("n_scored"),
        ratioFloor(col("g").cast(DoubleType), col("m"), 6).as("green_frac"),
        round((lit(2) * col("g") - col("m")).cast(DoubleType) /
          sqrt(col("m").cast(DoubleType)), 4).as("z_score"))
      .withColumn("watermark_suspect", col("z_score") > lit(4.0))
      .orderBy(col("z_score").desc, col("doc_id"))
      .limit(15)
  }

  val textGreenlistWatermarkSql: String =
    """WITH toks AS (
      |  SELECT doc_id, w, pos
      |  FROM (
      |    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w,
      |           generate_subscripts(regexp_split_to_array(trim(text), '\s+'), 1) AS pos
      |    FROM documents) t),
      |scored AS (
      |  SELECT doc_id,
      |         CASE WHEN substring(md5(concat(prev, '|', w)), 32, 1)
      |                   IN ('0','2','4','6','8','a','c','e') THEN 1 ELSE 0 END AS green
      |  FROM (
      |    SELECT doc_id, w, lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      |    FROM toks) t
      |  WHERE prev IS NOT NULL),
      |agg AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS m, CAST(sum(green) AS BIGINT) AS g
      |  FROM scored GROUP BY 1 HAVING count(*) >= 20)
      |SELECT doc_id, m AS n_scored,
      |       floor(CAST(g AS DOUBLE) * 1e6 / m) / 1e6 AS green_frac,
      |       round(CAST(2 * g - m AS DOUBLE) / sqrt(CAST(m AS DOUBLE)), 4) AS z_score,
      |       round(CAST(2 * g - m AS DOUBLE) / sqrt(CAST(m AS DOUBLE)), 4) > 4.0
      |         AS watermark_suspect
      |FROM agg
      |ORDER BY z_score DESC, doc_id
      |LIMIT 15""".stripMargin

  /** text-stupid-backoff — Brants et al.'s stupid backoff, the
    * smoothing that actually runs at web scale BECAUSE it skips
    * normalization: S(w|prev) = c(prev,w)/c(prev) when seen, else
    * 0.4·c(w)/N — no discount bookkeeping, no held-out tuning,
    * trivially distributable. The repo's LM shelf (text-kneser-ney,
    * text-interpolated-lm, text-bigram-lm) covers the principled
    * smoothers; this is the industrial baseline they must beat, on
    * the same held-out split (doc_id % 10 = 0) scoring per language.
    * Per-token log-scores are nano-floored integers before the
    * per-language fold (exact sums); the bigram/unigram tables join
    * on the token keys — the same shuffle profile as tf-idf. */
  val textStupidBackoff: Q = (s, d) => {
    val toks = documents(s, d)
      .select(col("doc_id"), col("lang"), (col("doc_id") % 10 === 0).as("held"),
        posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "w")))
      .sharedCache()
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    val bi = toks.withColumn("prev", lag("w", 1).over(wd))
      .filter(col("prev").isNotNull)
      .sharedCache()
    val trainBi = bi.filter(!col("held")).groupBy("prev", "w")
      .agg(count(lit(1)).as("cbw"))
    val trainUni = toks.filter(!col("held")).groupBy("w")
      .agg(count(lit(1)).as("cw"))
    val trainPrev = trainUni.select(col("w").as("prev"), col("cw").as("cprev"))
    val nTrain = toks.filter(!col("held")).agg(count(lit(1)).as("nt"))
    val heldScored = bi.filter(col("held"))
      .join(trainBi, Seq("prev", "w"), "left")
      .join(trainPrev, Seq("prev"), "left")
      .join(trainUni, Seq("w"), "left")
      .crossJoin(broadcast(nTrain))
      .select(col("lang"),
        floor(when(col("cbw").isNotNull && col("cprev").isNotNull,
            log(col("cbw").cast(DoubleType) / col("cprev").cast(DoubleType)))
          .otherwise(log(lit(0.4) *
            (coalesce(col("cw"), lit(0L)) + 1).cast(DoubleType) /
            (col("nt") + lit(1)).cast(DoubleType))) * lit(1e9))
          .cast(LongType).as("lsq"))
    heldScored.groupBy("lang")
      .agg(count(lit(1)).as("n_tokens"), sum("lsq").as("sls"))
      .select(col("lang"), col("n_tokens"),
        round(col("sls").cast(DoubleType) / col("n_tokens") / lit(1e9), 6)
          .as("avg_logscore"),
        round(exp(-col("sls").cast(DoubleType) / col("n_tokens") / lit(1e9)), 4)
          .as("perplexity_proxy"))
      .orderBy("lang")
  }

  val textStupidBackoffSql: String =
    """WITH toks AS MATERIALIZED (
      |  SELECT doc_id, lang, doc_id % 10 = 0 AS held, w, pos
      |  FROM (
      |    SELECT doc_id, lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS w,
      |           generate_subscripts(regexp_split_to_array(trim(text), '\s+'), 1) AS pos
      |    FROM documents) t),
      |bi AS MATERIALIZED (
      |  SELECT doc_id, lang, held, prev, w FROM (
      |    SELECT doc_id, lang, held, w,
      |           lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      |    FROM toks) t
      |  WHERE prev IS NOT NULL),
      |train_bi AS (
      |  SELECT prev, w, CAST(count(*) AS BIGINT) AS cbw
      |  FROM bi WHERE NOT held GROUP BY 1, 2),
      |train_uni AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS cw
      |  FROM toks WHERE NOT held GROUP BY 1),
      |nt AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM toks WHERE NOT held),
      |held_scored AS (
      |  SELECT lang,
      |         CAST(floor(CASE WHEN cbw IS NOT NULL AND cprev IS NOT NULL THEN
      |             ln(CAST(cbw AS DOUBLE) / CAST(cprev AS DOUBLE))
      |           ELSE
      |             ln(0.4 * (coalesce(cw, 0) + 1) / CAST(nt + 1 AS DOUBLE))
      |           END * 1e9) AS BIGINT) AS lsq
      |  FROM bi
      |  LEFT JOIN train_bi USING (prev, w)
      |  LEFT JOIN (SELECT w AS prev, cw AS cprev FROM train_uni) p USING (prev)
      |  LEFT JOIN train_uni USING (w)
      |  CROSS JOIN nt
      |  WHERE held)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
      |       round(CAST(sum(lsq) AS DOUBLE) / count(*) / 1e9, 6) AS avg_logscore,
      |       round(exp(-CAST(sum(lsq) AS DOUBLE) / count(*) / 1e9), 4)
      |         AS perplexity_proxy
      |FROM held_scored GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** agg-gaussian-mixture-step — ONE exact EM step for a 2-component
    * Gaussian mixture on log order value, from a deterministic
    * moment-based init (μ±σ/2, common σ, π=½): E-step
    * responsibilities in closed form per row, M-step from weighted
    * moments. The one-step contract mirrors emb-kmeans-update (soft
    * assignment instead of hard) and is the measured primitive a
    * mixture fit iterates; the step DIRECTION (how far the two means
    * separate in one update) is itself the bimodality diagnostic —
    * unimodal data pulls the components back together.
    * Responsibilities are nano-quantized integers BEFORE the global
    * weighted fold (order-exact sums of rᵢ, rᵢxᵢ, rᵢxᵢ²); log values
    * are nano-floored once, so both engines fold identical integers.
    * Two passes (init moments, then the EM step). */
  val aggGaussianMixtureStep: Q = (s, d) => {
    val xs = orders(s, d)
      .select(floor(log(col("o_totalprice").cast(DoubleType)) * lit(1e9))
        .cast(LongType).as("xq"))
      .sharedCache()
    val init = xs.agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum(expr("CAST(xq AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(xq AS DECIMAL(38,0)) * xq")).as("sxx"))
      .select(
        (col("sx").cast(DoubleType) / col("n").cast(DoubleType) / lit(1e9)).as("mu"),
        (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType)) /
          col("n").cast(DoubleType) / lit(1e9)).as("sig"))
      .select((col("mu") - col("sig") / 2).as("mu1"),
        (col("mu") + col("sig") / 2).as("mu2"), col("sig"))
    val resp = xs.crossJoin(broadcast(init))
      .select(col("xq"),
        // r = φ((x−μ1)/σ) / (φ1 + φ2) with common σ and π = ½:
        // r = 1/(1 + exp((x−μ1)² − (x−μ2)²)/(2σ²)) — logistic in x
        floor(lit(1e9) / (lit(1.0) + exp(
          ((col("xq") / lit(1e9) - col("mu1")) * (col("xq") / lit(1e9) - col("mu1")) -
            (col("xq") / lit(1e9) - col("mu2")) * (col("xq") / lit(1e9) - col("mu2"))) /
            (lit(2.0) * col("sig") * col("sig"))))).cast(LongType).as("rq"))
    val fold = resp.agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
      sum(expr("CAST(rq AS DECIMAL(38,0))")).as("sr"),
      sum(expr("CAST(rq AS DECIMAL(38,0)) * xq")).as("srx"),
      sum(expr("CAST(xq AS DECIMAL(38,0))")).as("sx"),
      sum(expr("CAST(xq AS DECIMAL(38,0)) * xq")).as("sxx"),
      sum(expr("CAST(rq AS DECIMAL(38,0)) * xq * xq")).as("srxx"))
    fold.select(explode(array(
        struct(lit(1).as("component"),
          round(col("sr").cast(DoubleType) / col("n").cast(DoubleType) / lit(1e9), 6)
            .as("weight"),
          round(col("srx").cast(DoubleType) / col("sr").cast(DoubleType) / lit(1e9), 6)
            .as("mu"),
          round(sqrt(col("srxx").cast(DoubleType) / col("sr").cast(DoubleType) / lit(1e18) -
            (col("srx").cast(DoubleType) / col("sr").cast(DoubleType) / lit(1e9)) *
              (col("srx").cast(DoubleType) / col("sr").cast(DoubleType) / lit(1e9))), 6)
            .as("sigma")),
        struct(lit(2).as("component"),
          round((col("n") * lit(1e9) - col("sr")).cast(DoubleType) /
            col("n").cast(DoubleType) / lit(1e9), 6).as("weight"),
          round((col("sx") * lit(1e9) - col("srx")).cast(DoubleType) /
            (col("n") * lit(1e9) - col("sr")).cast(DoubleType) / lit(1e9), 6).as("mu"),
          round(sqrt((col("sxx") * lit(1e9) - col("srxx")).cast(DoubleType) /
            (col("n") * lit(1e9) - col("sr")).cast(DoubleType) / lit(1e18) -
            ((col("sx") * lit(1e9) - col("srx")).cast(DoubleType) /
              (col("n") * lit(1e9) - col("sr")).cast(DoubleType) / lit(1e9)) *
              ((col("sx") * lit(1e9) - col("srx")).cast(DoubleType) /
                (col("n") * lit(1e9) - col("sr")).cast(DoubleType) / lit(1e9))), 6)
            .as("sigma")))).as("c"))
      .select(col("c.component"), col("c.weight"), col("c.mu"), col("c.sigma"))
      .orderBy("component")
  }

  val aggGaussianMixtureStepSql: String =
    """WITH xs AS MATERIALIZED (
      |  SELECT CAST(floor(ln(CAST(o_totalprice AS DOUBLE)) * 1e9) AS BIGINT) AS xq
      |  FROM orders),
      |init AS (
      |  SELECT mu - sig / 2 AS mu1, mu + sig / 2 AS mu2, sig FROM (
      |    SELECT CAST(sum(xq) AS DOUBLE) / count(*) / 1e9 AS mu,
      |           sqrt(CAST(count(*) * sum(CAST(xq AS HUGEINT) * xq) -
      |                     CAST(sum(xq) AS HUGEINT) * sum(xq) AS DOUBLE)) /
      |             count(*) / 1e9 AS sig
      |    FROM xs) t),
      |resp AS (
      |  SELECT xq,
      |         CAST(floor(1e9 / (1.0 + exp(
      |           ((xq / 1e9 - mu1) * (xq / 1e9 - mu1) -
      |            (xq / 1e9 - mu2) * (xq / 1e9 - mu2)) / (2.0 * sig * sig))))
      |           AS BIGINT) AS rq
      |  FROM xs CROSS JOIN init),
      |fold AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(rq) AS HUGEINT) AS sr,
      |         CAST(sum(CAST(rq AS HUGEINT) * xq) AS HUGEINT) AS srx,
      |         CAST(sum(CAST(xq AS HUGEINT)) AS HUGEINT) AS sx,
      |         CAST(sum(CAST(xq AS HUGEINT) * xq) AS HUGEINT) AS sxx,
      |         CAST(sum(CAST(rq AS HUGEINT) * xq * xq) AS HUGEINT) AS srxx
      |  FROM resp)
      |SELECT component, weight, mu, sigma FROM (
      |  SELECT 1 AS component,
      |         round(CAST(sr AS DOUBLE) / CAST(n AS DOUBLE) / 1e9, 6) AS weight,
      |         round(CAST(srx AS DOUBLE) / CAST(sr AS DOUBLE) / 1e9, 6) AS mu,
      |         round(sqrt(CAST(srxx AS DOUBLE) / CAST(sr AS DOUBLE) / 1e18 -
      |               (CAST(srx AS DOUBLE) / CAST(sr AS DOUBLE) / 1e9) *
      |               (CAST(srx AS DOUBLE) / CAST(sr AS DOUBLE) / 1e9)), 6) AS sigma
      |  FROM fold
      |  UNION ALL
      |  SELECT 2,
      |         round(CAST(n * 1000000000 - sr AS DOUBLE) / CAST(n AS DOUBLE) / 1e9, 6),
      |         round(CAST(sx * 1000000000 - srx AS DOUBLE) /
      |               CAST(n * 1000000000 - sr AS DOUBLE) / 1e9, 6),
      |         round(sqrt(CAST(sxx * 1000000000 - srxx AS DOUBLE) /
      |               CAST(n * 1000000000 - sr AS DOUBLE) / 1e18 -
      |               (CAST(sx * 1000000000 - srx AS DOUBLE) /
      |                CAST(n * 1000000000 - sr AS DOUBLE) / 1e9) *
      |               (CAST(sx * 1000000000 - srx AS DOUBLE) /
      |                CAST(n * 1000000000 - sr AS DOUBLE) / 1e9)), 6)
      |  FROM fold) u
      |ORDER BY component""".stripMargin

  /** agg-h-index — the h-index and g-index of user purchase activity:
    * h = max h such that h users each made ≥ h purchases; g = max g
    * such that the top g users together made ≥ g². Borrowed from
    * bibliometrics because it answers the whale-vs-longtail question
    * in ONE robust integer (agg-gini prices inequality as a ratio;
    * h/g localize WHERE the head ends — h is immune to both the
    * single mega-whale and the zero-tail). Pure integer machinery:
    * rank by count desc (user tiebreak), h and g from integer
    * inequalities on the ranked prefix — no floats anywhere in the
    * statistic. One count aggregate + one bounded sort. */
  val aggHIndex: Q = (s, d) => {
    val counts = events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("c").desc, col("user_id"))
    val ranked = counts
      .withColumn("rn", row_number().over(w))
      .withColumn("cum", sum("c").over(w.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)))
      .sharedCache()
    val h = ranked.filter(col("c") >= col("rn")).agg(max("rn").as("h_index"))
    val g = ranked.filter(col("cum") >= col("rn") * col("rn")).agg(max("rn").as("g_index"))
    val tot = ranked.agg(count(lit(1)).as("n_buyers"), sum("c").as("n_purchases"))
    tot.crossJoin(broadcast(h)).crossJoin(broadcast(g))
      .select(col("n_buyers"), col("n_purchases"), col("h_index"), col("g_index"))
  }

  val aggHIndexSql: String =
    """WITH counts AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS c
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |ranked AS MATERIALIZED (
      |  SELECT c, row_number() OVER (ORDER BY c DESC, user_id) AS rn,
      |         sum(c) OVER (ORDER BY c DESC, user_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM counts)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM ranked) AS n_buyers,
      |       (SELECT CAST(sum(c) AS BIGINT) FROM ranked) AS n_purchases,
      |       (SELECT CAST(max(rn) AS BIGINT) FROM ranked WHERE c >= rn) AS h_index,
      |       (SELECT CAST(max(rn) AS BIGINT) FROM ranked WHERE cum >= rn * rn) AS g_index""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("text-greenlist-watermark", textGreenlistWatermark, textGreenlistWatermarkSql),
    Key("text-stupid-backoff", textStupidBackoff, textStupidBackoffSql),
    Key("agg-gaussian-mixture-step", aggGaussianMixtureStep, aggGaussianMixtureStepSql),
    Key("agg-h-index", aggHIndex, aggHIndexSql))
}
