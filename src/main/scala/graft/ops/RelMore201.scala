package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-8 batch AJ: the inference-side LLM metrics — self-BLEU
  * diversity, best-of-n reward scaling, MoE router load balance,
  * prefix-cache savings. */
object RelMore201 extends KeyModule {

  /** text-self-bleu — generation-diversity measurement: each probe
    * document's modified 2-gram precision against the REST of the
    * corpus (clipped counts, the BLEU convention); a high average
    * self-BLEU means the corpus repeats itself — the standard
    * mode-collapse check run on sampled generations. Probe bigram
    * tables are small; the corpus side is one bigram count bounded by
    * the vocabulary square. */
  val textSelfBleu: Q = (s, d) => {
    val bigrams = documents(s, d)
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      .filter(size(col("w")) >= 6)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i+1]))"))
        .as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .sharedCache()
    val corpus = bigrams.groupBy("g").agg(sum("c").as("tot"))
    val probes = bigrams.filter(col("doc_id") < 20)
    val scored = probes.join(corpus, Seq("g"))
      .select(col("doc_id"), col("c"),
        least(col("c"), col("tot") - col("c")).as("clip"))
      .groupBy("doc_id")
      .agg(sum("c").as("ng"), sum("clip").as("match"))
      .select(col("doc_id"),
        (col("match").cast(DoubleType) / col("ng").cast(DoubleType))
          .as("prec"))
    scored.agg(count(lit(1)).as("n_probes"),
      round(avg("prec"), 4).as("self_bleu2_avg"),
      round(min("prec"), 4).as("self_bleu2_min"),
      round(max("prec"), 4).as("self_bleu2_max"))
  }

  val textSelfBleuSql: String =
    """WITH bigrams AS MATERIALIZED (
      |  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
      |  FROM (
      |    SELECT doc_id, w[i] || ' ' || w[i+1] AS g
      |    FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
      |          FROM documents) t,
      |         LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) u
      |    WHERE len(w) >= 6) q
      |  GROUP BY 1, 2),
      |corpus AS (SELECT g, CAST(sum(c) AS BIGINT) AS tot FROM bigrams
      |           GROUP BY 1),
      |scored AS (
      |  SELECT doc_id,
      |         CAST(sum(least(c, tot - c)) AS DOUBLE) /
      |         CAST(sum(c) AS DOUBLE) AS prec
      |  FROM bigrams JOIN corpus USING (g)
      |  WHERE doc_id < 20
      |  GROUP BY 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_probes,
      |       round(avg(prec), 4) AS self_bleu2_avg,
      |       round(min(prec), 4) AS self_bleu2_min,
      |       round(max(prec), 4) AS self_bleu2_max
      |FROM scored""".stripMargin

  /** sample-best-of-n-curve — inference-time scaling: if you sample n
    * candidates and keep the best by reward, the expected winner is
    * the order-statistics mean E[max of n] = Σ_r q_(r)·C(r−1,n−1)/
    * C(N,n) — computed EXACTLY from within-language reward ranks (no
    * simulation), for n ∈ {1,2,4,8}. Reward = lexical-diversity milli
    * (the sample-dpo-pairs score). The curve's flattening is the
    * point where more samples stop paying. Ranks are language-
    * partitioned; the hypergeometric weights are ratio products, not
    * factorials. */
  val sampleBestOfNCurve: Q = (s, d) => {
    val scored = documents(s, d)
      .select(col("doc_id"), col("lang"), split(lower(col("text")), " ").as("w"))
      .select(col("doc_id"), col("lang"),
        expr("size(array_distinct(filter(w, x -> x rlike '^[a-z]{2,}$')))")
          .as("dtok"),
        expr("size(filter(w, x -> x rlike '^[a-z]{2,}$'))").as("ntok"))
      .filter(col("ntok") >= 5)
      .select(col("lang"), col("doc_id"), expr("dtok * 1000 DIV ntok").as("q"))
    val ranked = scored
      .withColumn("r", row_number().over(
        Window.partitionBy("lang").orderBy(col("q"), col("doc_id")))
        .cast(DoubleType))
      .withColumn("nn", count(lit(1)).over(Window.partitionBy("lang"))
        .cast(DoubleType))
      .sharedCache()
    def eMax(n: Int): org.apache.spark.sql.Column = {
      val w = (0 until n).map { j =>
        if (j == 0) lit(n.toDouble) / col("nn")
        else (col("r") - j) / (col("nn") - j)
      }.reduce(_ * _)
      sum(when(col("r") >= n, col("q").cast(DoubleType) * w).otherwise(0.0))
    }
    val perLang = ranked.groupBy("lang").agg(
      (sum("q").cast(DoubleType) / count(lit(1)).cast(DoubleType)).as("e1"),
      eMax(2).as("e2"), eMax(4).as("e4"), eMax(8).as("e8"))
    perLang.agg(avg("e1").as("m1"), avg("e2").as("m2"),
      avg("e4").as("m4"), avg("e8").as("m8"))
      .select(explode(expr(
        "array(struct(1 AS n, m1 AS em), struct(2 AS n, m2 AS em), " +
          "struct(4 AS n, m4 AS em), struct(8 AS n, m8 AS em))")).as("e"),
        col("m1"))
      .select(col("e.n").as("n_samples"),
        round(col("e.em"), 2).as("expected_best_reward_milli"),
        round(col("e.em") / col("m1"), 4).as("gain_vs_single"))
      .orderBy("n_samples")
  }

  val sampleBestOfNCurveSql: String = {
    def eMax(n: Int): String = {
      val w = (0 until n).map { j =>
        if (j == 0) s"$n.0 / nn" else s"(r - $j) / (nn - $j)"
      }.mkString(" * ")
      s"sum(CASE WHEN r >= $n THEN CAST(q AS DOUBLE) * $w ELSE 0.0 END)"
    }
    s"""WITH scored AS (
       |  SELECT lang, doc_id, dtok * 1000 // ntok AS q
       |  FROM (
       |    SELECT doc_id, lang,
       |           CAST(len(list_distinct(list_filter(w,
       |                x -> regexp_full_match(x, '[a-z]{2,}')))) AS BIGINT)
       |             AS dtok,
       |           CAST(len(list_filter(w,
       |                x -> regexp_full_match(x, '[a-z]{2,}'))) AS BIGINT)
       |             AS ntok
       |    FROM (SELECT doc_id, lang, string_split(lower(text), ' ') AS w
       |          FROM documents) t) u
       |  WHERE ntok >= 5),
       |ranked AS (
       |  SELECT lang, q,
       |         CAST(row_number() OVER (PARTITION BY lang ORDER BY q, doc_id)
       |              AS DOUBLE) AS r,
       |         CAST(count(*) OVER (PARTITION BY lang) AS DOUBLE) AS nn
       |  FROM scored),
       |perlang AS (
       |  SELECT lang,
       |         CAST(sum(q) AS DOUBLE) / count(*) AS e1,
       |         ${eMax(2)} AS e2,
       |         ${eMax(4)} AS e4,
       |         ${eMax(8)} AS e8
       |  FROM ranked GROUP BY 1),
       |m AS (
       |  SELECT avg(e1) AS m1, avg(e2) AS m2, avg(e4) AS m4, avg(e8) AS m8
       |  FROM perlang),
       |rows_ AS (
       |  SELECT 1 AS n_samples, m1 AS em, m1 FROM m
       |  UNION ALL SELECT 2, m2, m1 FROM m
       |  UNION ALL SELECT 4, m4, m1 FROM m
       |  UNION ALL SELECT 8, m8, m1 FROM m)
       |SELECT CAST(n_samples AS INTEGER) AS n_samples,
       |       round(em, 2) AS expected_best_reward_milli,
       |       round(em / m1, 4) AS gain_vs_single
       |FROM rows_ ORDER BY n_samples""".stripMargin
  }

  /** emb-moe-router-balance — mixture-of-experts routing health:
    * route every embedding to the argmax of 8 deterministic hash-
    * derived expert directions (exact integer lattice dot products,
    * expert/vec_id tiebreaks), then measure what the Switch
    * Transformer loss penalizes — load imbalance: per-expert load
    * share, max/min, the 8·Σf² auxiliary value (1.0 = perfectly
    * balanced), and the dead-expert count. Shapes: the expert table
    * is a 512-cell broadcast; routing is one explode-join-argmax per
    * vector, no pairwise anything. */
  val embMoeRouterBalance: Q = (s, d) => {
    graft.functions.QuantizeLatticeLong.register(s)
    val comps = embeddings(s, d)
      .select(col("vec_id"),
        posexplode(expr("quantize_lattice_long(embedding, 1000000.0D)"))
          .as(Seq("dim", "xq")))
    val experts = embeddings(s, d).sparkSession.range(8).toDF("ex")
      .select(col("ex"), explode(expr("sequence(0, 63)")).as("dim"))
      .select(col("ex"), col("dim"),
        (expr("CAST(conv(substring(md5(concat('ex', CAST(ex AS STRING), '_', " +
          "CAST(dim AS STRING))), 1, 2), 16, 10) AS BIGINT)") - 127L).as("w"))
    val routed = comps.join(broadcast(experts), Seq("dim"))
      .groupBy("vec_id", "ex")
      .agg(sum(col("xq") * col("w")).as("logit"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("vec_id")
          .orderBy(col("logit").desc, col("ex"))))
      .filter(col("rk") === 1)
    val loads = routed.groupBy("ex").agg(count(lit(1)).as("c"))
    val tot = loads.agg(sum("c").as("n"))
    loads.crossJoin(broadcast(tot))
      .select((col("c").cast(DoubleType) / col("n").cast(DoubleType))
        .as("f"), col("n"))
      .agg(max("n").as("n_vectors"),
        count(lit(1)).as("experts_used"),
        round(max("f"), 4).as("max_load"),
        round(min("f"), 4).as("min_load"),
        round(sum(col("f") * col("f")) * 8.0, 4).as("aux_balance_loss"))
      .select(col("n_vectors"), col("experts_used"),
        (lit(8L) - col("experts_used")).as("dead_experts"),
        col("max_load"), col("min_load"), col("aux_balance_loss"))
  }

  val embMoeRouterBalanceSql: String =
    """WITH comps AS (
      |  SELECT vec_id, i - 1 AS dim,
      |         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
      |           AS xq
      |  FROM embeddings,
      |       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) u),
      |experts AS (
      |  SELECT ex, dim,
      |         CAST(('0x' || substring(md5('ex' || CAST(ex AS VARCHAR) || '_' ||
      |              CAST(dim AS VARCHAR)), 1, 2))::BIGINT AS BIGINT) - 127 AS w
      |  FROM (SELECT unnest(generate_series(0, 7)) AS ex) e,
      |       (SELECT unnest(generate_series(0, 63)) AS dim) dd),
      |routed AS (
      |  SELECT vec_id, ex
      |  FROM (
      |    SELECT vec_id, ex,
      |           row_number() OVER (PARTITION BY vec_id
      |             ORDER BY logit DESC, ex) AS rk
      |    FROM (
      |      SELECT vec_id, ex, CAST(sum(xq * w) AS BIGINT) AS logit
      |      FROM comps JOIN experts USING (dim)
      |      GROUP BY 1, 2) l) r
      |  WHERE rk = 1),
      |loads AS (
      |  SELECT ex, CAST(count(*) AS BIGINT) AS c FROM routed GROUP BY 1),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM loads)
      |SELECT max(n) AS n_vectors,
      |       CAST(count(*) AS BIGINT) AS experts_used,
      |       CAST(8 - count(*) AS BIGINT) AS dead_experts,
      |       round(max(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 4) AS max_load,
      |       round(min(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 4) AS min_load,
      |       round(sum((CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
      |             (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))) * 8.0, 4)
      |         AS aux_balance_loss
      |FROM loads CROSS JOIN tot""".stripMargin

  /** text-kv-prefix-cache-savings — what automatic prefix caching
    * would save on this prompt corpus: group documents by their
    * 8-token prefix; every group member after the first gets those
    * prefix tokens for free, so savings = Σ(group−1)·8 over total
    * tokens. The template-heavy corpora that text-prefix-cluster
    * flags for dedup are exactly the ones where serving wins big —
    * same grouping key, opposite business conclusion. One tokenize
    * pass, one groupBy. */
  val textKvPrefixCacheSavings: Q = (s, d) => {
    val toks = documents(s, d)
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      .filter(size(col("w")) >= 8)
      .select(col("doc_id"), size(col("w")).cast(LongType).as("ntok"),
        expr("array_join(slice(w, 1, 8), ' ')").as("prefix"))
    val groups = toks.groupBy("prefix")
      .agg(count(lit(1)).as("gsz"), sum("ntok").as("gtok"))
    groups.agg(sum("gsz").as("n_docs"),
      count(lit(1)).as("n_prefixes"),
      sum("gtok").as("total_tokens"),
      sum((col("gsz") - 1) * 8L).as("tokens_saved"),
      sum(when(col("gsz") > 1, col("gsz")).otherwise(0L))
        .as("docs_sharing"))
      .select(col("n_docs"), col("n_prefixes"), col("docs_sharing"),
        col("total_tokens"), col("tokens_saved"),
        round(col("tokens_saved").cast(DoubleType) /
          col("total_tokens").cast(DoubleType), 6).as("savings_share"))
  }

  val textKvPrefixCacheSavingsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, CAST(len(w) AS BIGINT) AS ntok,
      |         array_to_string(w[1:8], ' ') AS prefix
      |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
      |        FROM documents) t
      |  WHERE len(w) >= 8),
      |groups AS (
      |  SELECT prefix, CAST(count(*) AS BIGINT) AS gsz,
      |         CAST(sum(ntok) AS BIGINT) AS gtok
      |  FROM toks GROUP BY 1)
      |SELECT CAST(sum(gsz) AS BIGINT) AS n_docs,
      |       CAST(count(*) AS BIGINT) AS n_prefixes,
      |       CAST(sum(CASE WHEN gsz > 1 THEN gsz ELSE 0 END) AS BIGINT)
      |         AS docs_sharing,
      |       CAST(sum(gtok) AS BIGINT) AS total_tokens,
      |       CAST(sum((gsz - 1) * 8) AS BIGINT) AS tokens_saved,
      |       round(CAST(sum((gsz - 1) * 8) AS DOUBLE) /
      |             CAST(sum(gtok) AS DOUBLE), 6) AS savings_share
      |FROM groups""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("text-self-bleu", textSelfBleu, textSelfBleuSql),
    Key("sample-best-of-n-curve", sampleBestOfNCurve, sampleBestOfNCurveSql),
    Key("emb-moe-router-balance", embMoeRouterBalance, embMoeRouterBalanceSql),
    Key("text-kv-prefix-cache-savings", textKvPrefixCacheSavings, textKvPrefixCacheSavingsSql))
}
