package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-9 batch K: difference-in-differences, LOO target encoding,
  * hard-negative mining, post-stratified estimation. */
object RelMore73 extends KeyModule {

  /** agg-diff-in-diff — the 2×2 difference-in-differences estimator:
    * treated (odd users) vs control, pre vs post (cutoff = last week
    * of the stream), DiD = (T,post − T,pre) − (C,post − C,pre) on
    * per-user-period purchase value. The whole estimate is ONE exact
    * rational over the four cell sums/counts (common-denominator
    * integer cross-multiplication, floored at milli) — no float until
    * the output. One pass to the 4-cell table; constant reduce side.
    * The causal-inference workhorse for staged rollouts, beside
    * agg-abtest-gate (z), agg-welch-ttest (t) and agg-cuped-adjust
    * (variance reduction). */
  val aggDiffInDiff: Q = (s, d) => {
    val ev = events(s, d).filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("dt"),
        floor(col("value")).cast(LongType).as("v"))
    val cut = ev.agg(date_sub(max("dt"), 7).as("cutoff"))
    val cells = ev.crossJoin(broadcast(cut))
      .groupBy((col("user_id") % 2 === 1).as("treated"),
        (col("dt") >= col("cutoff")).as("post"), col("user_id"))
      .agg(sum("v").as("uv"))
      .groupBy("treated", "post")
      .agg(count(lit(1)).as("n"), sum("uv").as("sv"))
    val wide = cells.agg(
      max(when(col("treated") && col("post"), col("sv"))).as("s_tp"),
      max(when(col("treated") && col("post"), col("n"))).as("n_tp"),
      max(when(col("treated") && !col("post"), col("sv"))).as("s_tr"),
      max(when(col("treated") && !col("post"), col("n"))).as("n_tr"),
      max(when(!col("treated") && col("post"), col("sv"))).as("s_cp"),
      max(when(!col("treated") && col("post"), col("n"))).as("n_cp"),
      max(when(!col("treated") && !col("post"), col("sv"))).as("s_cr"),
      max(when(!col("treated") && !col("post"), col("n"))).as("n_cr"))
    wide.select(
      expr("s_tp * 1000 div n_tp").as("mean_treat_post_milli"),
      expr("s_tr * 1000 div n_tr").as("mean_treat_pre_milli"),
      expr("s_cp * 1000 div n_cp").as("mean_ctrl_post_milli"),
      expr("s_cr * 1000 div n_cr").as("mean_ctrl_pre_milli"),
      expr("""floor(1000.0 * (
                CAST(s_tp AS DOUBLE) / n_tp - CAST(s_tr AS DOUBLE) / n_tr
              - CAST(s_cp AS DOUBLE) / n_cp + CAST(s_cr AS DOUBLE) / n_cr))""")
        .cast(LongType).as("did_milli"))
  }

  val aggDiffInDiffSql: String =
    """WITH ev AS (
      |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS dt,
      |         CAST(floor(value) AS BIGINT) AS v
      |  FROM events WHERE event_type = 'purchase'),
      |cut AS (SELECT max(dt) - 7 AS cutoff FROM ev),
      |peruser AS (
      |  SELECT user_id % 2 = 1 AS treated, dt >= cutoff AS post, user_id,
      |         CAST(sum(v) AS BIGINT) AS uv
      |  FROM ev, cut GROUP BY 1, 2, 3),
      |cells AS (
      |  SELECT treated, post, count(*) AS n, CAST(sum(uv) AS BIGINT) AS sv
      |  FROM peruser GROUP BY treated, post),
      |wide AS (
      |  SELECT max(CASE WHEN treated AND post THEN sv END) AS s_tp,
      |         max(CASE WHEN treated AND post THEN n END) AS n_tp,
      |         max(CASE WHEN treated AND NOT post THEN sv END) AS s_tr,
      |         max(CASE WHEN treated AND NOT post THEN n END) AS n_tr,
      |         max(CASE WHEN NOT treated AND post THEN sv END) AS s_cp,
      |         max(CASE WHEN NOT treated AND post THEN n END) AS n_cp,
      |         max(CASE WHEN NOT treated AND NOT post THEN sv END) AS s_cr,
      |         max(CASE WHEN NOT treated AND NOT post THEN n END) AS n_cr
      |  FROM cells)
      |SELECT s_tp * 1000 // n_tp AS mean_treat_post_milli,
      |       s_tr * 1000 // n_tr AS mean_treat_pre_milli,
      |       s_cp * 1000 // n_cp AS mean_ctrl_post_milli,
      |       s_cr * 1000 // n_cr AS mean_ctrl_pre_milli,
      |       CAST(floor(1000.0 * (
      |              CAST(s_tp AS DOUBLE) / n_tp - CAST(s_tr AS DOUBLE) / n_tr
      |            - CAST(s_cp AS DOUBLE) / n_cp + CAST(s_cr AS DOUBLE) / n_cr))
      |         AS BIGINT) AS did_milli
      |FROM wide""".stripMargin

  /** agg-target-encode-loo — leave-one-out target encoding, the
    * feature-engineering op whose WHOLE point is a leakage subtlety:
    * the naive encoding r/n feeds each row its own label; LOO encodes
    * row i as (r − lᵢ)/(n − 1). Because the LOO mean collapses back to
    * r/n, the graded output is the split that actually shows the
    * mechanism: the encoding positives receive, (r−1)/(n−1), vs
    * negatives, r/(n−1) — both exact integer ppm per brand, computed
    * from the SAME two aggregates as the naive rate (no per-row state;
    * at scale the encodings join back to rows as a broadcast). */
  val aggTargetEncodeLoo: Q = (s, d) => {
    val li = lineitem(s, d).join(part(s, d), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), (col("l_returnflag") === "R").cast(LongType).as("l"))
    li.groupBy("p_brand")
      .agg(count(lit(1)).as("n"), sum("l").as("r"))
      .filter(col("n") > 1)
      .select(col("p_brand"), col("n"), col("r"),
        expr("r * 1000000 div n").as("naive_ppm"),
        expr("(r - 1) * 1000000 div (n - 1)").as("enc_pos_ppm"),
        expr("r * 1000000 div (n - 1)").as("enc_neg_ppm"))
      .withColumn("leakage_gap_ppm", col("enc_neg_ppm") - col("enc_pos_ppm"))
      .orderBy("p_brand")
  }

  val aggTargetEncodeLooSql: String =
    """WITH li AS (
      |  SELECT p_brand, CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS l
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |g AS (
      |  SELECT p_brand, count(*) AS n, CAST(sum(l) AS BIGINT) AS r
      |  FROM li GROUP BY p_brand)
      |SELECT p_brand, n, r,
      |       r * 1000000 // n AS naive_ppm,
      |       (r - 1) * 1000000 // (n - 1) AS enc_pos_ppm,
      |       r * 1000000 // (n - 1) AS enc_neg_ppm,
      |       r * 1000000 // (n - 1) - (r - 1) * 1000000 // (n - 1) AS leakage_gap_ppm
      |FROM g
      |WHERE n > 1
      |ORDER BY p_brand""".stripMargin

  /** emb-hard-negatives — hard-negative mining for contrastive
    * training: for each sampled anchor, the CLOSEST vector with a
    * DIFFERENT label (the negative that actually teaches the model),
    * graded per (anchor label → hard-negative label) with count and
    * the mean hard distance. Both sides ride the deterministic 1/16
    * hash sample (the emb-dist-histogram sampled-audit shape): the
    * pair grid is quadratic only in the sample, the estimator of the
    * confusable-label structure is unbiased, and the sample rate is
    * the knob that holds pair count flat as the corpus grows.
    * Distances are exact integer-quantized before any aggregation. */
  val embHardNegatives: Q = (s, d) => {
    graft.functions.DotProduct.register(s)
    val sample = embeddings(s, d)
      .filter(substring(md5(concat(lit("hn#"), col("vec_id").cast(StringType))), 1, 1) === "0")
      .select(col("vec_id"), col("label"),
        expr("quantize_lattice(embedding, 1000000.0D)").as("v"))
      .sharedCache()
    val pairs = sample.select(col("vec_id").as("ia"), col("label").as("la"), col("v").as("va"))
      .join(sample.select(col("vec_id").as("ib"), col("label").as("lb"), col("v").as("vb")),
        col("la") =!= col("lb"))
      .select(col("ia"), col("la"), col("ib"), col("lb"),
        expr("CAST(floor((dot_product(va, va) - 2 * dot_product(va, vb) + dot_product(vb, vb)) / 1000000.0) AS BIGINT)").as("d2q"))
    val w = Window.partitionBy("ia").orderBy(col("d2q").asc, col("ib").asc)
    pairs.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .groupBy(col("la").as("anchor_label"), col("lb").as("hard_label"))
      .agg(count(lit(1)).as("n_anchors"),
        min("d2q").as("min_d2q"),
        expr("sum(d2q) div count(1)").as("mean_d2q"))
      .orderBy("anchor_label", "hard_label")
  }

  val embHardNegativesSql: String =
    """WITH sample AS (
      |  SELECT vec_id, label,
      |         list_transform(embedding,
      |           x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS DOUBLE)) AS v
      |  FROM embeddings
      |  WHERE substring(md5('hn#' || CAST(vec_id AS VARCHAR)), 1, 1) = '0'),
      |pairs AS (
      |  SELECT a.vec_id AS ia, a.label AS la, b.vec_id AS ib, b.label AS lb,
      |         CAST(floor((list_inner_product(a.v, a.v)
      |                - 2 * list_inner_product(a.v, b.v)
      |                + list_inner_product(b.v, b.v)) / 1000000.0) AS BIGINT) AS d2q
      |  FROM sample a JOIN sample b ON a.label <> b.label),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY ia ORDER BY d2q, ib) AS rk
      |  FROM pairs)
      |SELECT la AS anchor_label, lb AS hard_label,
      |       count(*) AS n_anchors, min(d2q) AS min_d2q,
      |       CAST(sum(d2q) AS BIGINT) // count(*) AS mean_d2q
      |FROM ranked
      |WHERE rk = 1
      |GROUP BY la, lb
      |ORDER BY anchor_label, hard_label""".stripMargin

  /** sample-post-stratify — post-stratified estimation: a 1/16 hash
    * sample of customers reweighted to the KNOWN population margins
    * per nation (weight = N_nation/n_nation), the survey-statistics
    * repair for samples that drifted off the population mix. The op is
    * self-validating: the weighted total sits beside the true total
    * with the error in ppm, per nation — the reader sees exactly what
    * the reweighting buys. Population margins are one aggregate over
    * the bounded nation dimension; the estimator is exact rational
    * arithmetic floored at the output. */
  val samplePostStratify: Q = (s, d) => {
    val cust = customer(s, d).select(col("c_custkey"), col("c_nationkey"),
      floor(col("c_acctbal")).cast(LongType).as("bal"))
    val pop = cust.groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_pop"), sum("bal").as("true_total"))
    val samp = cust
      .filter(substring(md5(concat(lit("ps#"), col("c_custkey").cast(StringType))), 1, 1) === "0")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_samp"), sum("bal").as("samp_total"))
    pop.join(samp, Seq("c_nationkey"))
      .select(col("c_nationkey"), col("n_pop"), col("n_samp"), col("true_total"),
        expr("samp_total * n_pop div n_samp").as("est_total"))
      .withColumn("err_ppm",
        expr("CASE WHEN true_total <> 0 THEN abs(est_total - true_total) * 1000000 div abs(true_total) END"))
      .orderBy("c_nationkey")
  }

  val samplePostStratifySql: String =
    """WITH cust AS (
      |  SELECT c_custkey, c_nationkey, CAST(floor(c_acctbal) AS BIGINT) AS bal
      |  FROM customer),
      |pop AS (
      |  SELECT c_nationkey, count(*) AS n_pop, CAST(sum(bal) AS BIGINT) AS true_total
      |  FROM cust GROUP BY c_nationkey),
      |samp AS (
      |  SELECT c_nationkey, count(*) AS n_samp, CAST(sum(bal) AS BIGINT) AS samp_total
      |  FROM cust
      |  WHERE substring(md5('ps#' || CAST(c_custkey AS VARCHAR)), 1, 1) = '0'
      |  GROUP BY c_nationkey)
      |SELECT pop.c_nationkey, n_pop, n_samp, true_total,
      |       samp_total * n_pop // n_samp AS est_total,
      |       CASE WHEN true_total <> 0
      |            THEN abs(samp_total * n_pop // n_samp - true_total) * 1000000 // abs(true_total)
      |       END AS err_ppm
      |FROM pop JOIN samp ON pop.c_nationkey = samp.c_nationkey
      |ORDER BY pop.c_nationkey""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-diff-in-diff", aggDiffInDiff, aggDiffInDiffSql),
    Key("agg-target-encode-loo", aggTargetEncodeLoo, aggTargetEncodeLooSql),
    Key("emb-hard-negatives", embHardNegatives, embHardNegativesSql),
    Key("sample-post-stratify", samplePostStratify, samplePostStratifySql))
}
