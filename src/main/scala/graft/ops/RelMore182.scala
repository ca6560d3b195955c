package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-8 batch R: word2vec-style skipgram pair generation with
  * frequency subsampling, competence-paced curriculum schedule,
  * the feature-hashing trick with collision accounting, and a
  * negative-binomial overdispersion fit. */
object RelMore182 extends KeyModule {

  /** text-skipgram-pairs — the training-pair generator behind
    * word2vec/fastText: frequent-word SUBSAMPLING first (keep token
    * with P = √(t/f)+t/f, t=1e-3, decided by an md5-u32 integer
    * compare — deterministic, unlike the paper's RNG), then
    * (center, context) pairs from the COMPRESSED sequence at offsets
    * 1..3, weighted 1000/offset in exact milli-units (the integer
    * stand-in for word2vec's dynamic-window expectation). Differs
    * from text-collocation-pmi (adjacent-bigram lift ranking): this
    * op EMITS the weighted training pairs a downstream embedding job
    * consumes. Shapes: position re-ranking is doc-partitioned (never
    * global), pairing is a doc-keyed band self-join (Δpos ≤ 3), and
    * the vocabulary join sides are |vocab|-sized. Top-20 by weighted
    * count, pair tiebreak. */
  val textSkipgramPairs: Q = (s, d) => {
    // r15 opt (the text-textrank treatment, guide §2.3/§2.4): the
    // compressed-position pairing is PER-DOCUMENT — the old shape
    // re-ranked kept tokens through a doc window and then a doc-keyed
    // self-join whose per-doc cross product (|kept|² intermediate rows,
    // executed TWICE via the direction union) existed only to find
    // neighbors at offsets 1..3. Now each doc's kept tokens are
    // collected in position order and both pair directions are emitted
    // row-locally (O(3·|kept|) per doc, zero token-stream shuffles).
    // Also §2.5: repartition after the single-row-group read so the
    // token explode + per-token md5 subsampling parallelize. Same
    // subsample decisions, same pair multiset, same weights.
    val pos = documents(s, d)
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
      .select(col("doc_id"), posexplode(split(lower(col("text")), " "))
        .as(Seq("p", "tok")))
      .filter(col("tok").rlike("^[a-z]{2,}$"))
      .sharedCache()
    val vocab = pos.groupBy("tok").agg(count(lit(1)).as("nf"))
    val nTot = vocab.agg(sum("nf").cast(DoubleType).as("nt"))
    val kept = pos.join(vocab, Seq("tok")).crossJoin(broadcast(nTot))
      .withColumn("f", col("nf").cast(DoubleType) / col("nt"))
      .withColumn("pkeep", least(lit(1.0),
        sqrt(lit(0.001) / col("f")) + lit(0.001) / col("f")))
      .withColumn("hu", expr("CAST(conv(substring(md5(concat('sg_', " +
        "CAST(doc_id AS STRING), '_', CAST(p AS STRING))), 1, 8), 16, 10) AS BIGINT)"))
      .filter(col("hu") < floor(col("pkeep") * lit(4294967296.0)).cast(LongType))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("p"), col("tok")))).as("ts"))
    kept
      .select(explode(expr(
        // per offset o ∈ {1,2,3}: every in-bounds (i, i+o) index pair of
        // the position-sorted kept sequence, both directions, weight
        // 1000 DIV o — exactly the old (np, np+o) join pairs + union
        "flatten(transform(array(1, 2, 3), o -> concat(" +
          "transform(filter(sequence(1, size(ts)), i -> i + o <= size(ts)), " +
          "i -> named_struct('center', ts[i - 1].tok, 'context', ts[CAST(i + o AS INT) - 1].tok, " +
          "'wm', CAST(1000 DIV o AS BIGINT))), " +
          "transform(filter(sequence(1, size(ts)), i -> i + o <= size(ts)), " +
          "i -> named_struct('center', ts[CAST(i + o AS INT) - 1].tok, 'context', ts[i - 1].tok, " +
          "'wm', CAST(1000 DIV o AS BIGINT))))))")).as("pr"))
      .select(col("pr.center").as("center"), col("pr.context").as("context"),
        col("pr.wm").as("wm"))
      .groupBy("center", "context")
      .agg(count(lit(1)).as("n_pairs"), sum("wm").as("w_milli"))
      .orderBy(col("w_milli").desc, col("center"), col("context"))
      .limit(20)
  }

  val textSkipgramPairsSql: String =
    """WITH pos AS (
      |  SELECT doc_id, i - 1 AS p, w[i] AS tok
      |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents) t,
      |       LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) u
      |  WHERE regexp_full_match(w[i], '[a-z]{2,}')),
      |vocab AS (SELECT tok, CAST(count(*) AS BIGINT) AS nf FROM pos GROUP BY 1),
      |nt AS (SELECT CAST(sum(nf) AS DOUBLE) AS nt FROM vocab),
      |kept AS (
      |  SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY p) AS np,
      |         tok
      |  FROM (
      |    SELECT doc_id, p, tok,
      |           least(1.0, sqrt(0.001 / f) + 0.001 / f) AS pkeep,
      |           CAST(('0x' || substring(md5('sg_' || CAST(doc_id AS VARCHAR) ||
      |                '_' || CAST(p AS VARCHAR)), 1, 8))::BIGINT AS BIGINT) AS hu
      |    FROM (SELECT doc_id, p, pos.tok, CAST(nf AS DOUBLE) / nt AS f
      |          FROM pos JOIN vocab USING (tok) CROSS JOIN nt) q1) q2
      |  WHERE hu < CAST(floor(pkeep * 4294967296.0) AS BIGINT)),
      |pairs AS (
      |  SELECT a.tok AS ta, b.tok AS tb, 1000 // (b.np - a.np) AS wm
      |  FROM kept a JOIN kept b ON a.doc_id = b.doc_id
      |  WHERE b.np - a.np BETWEEN 1 AND 3),
      |directed AS (
      |  SELECT ta AS center, tb AS context, wm FROM pairs
      |  UNION ALL
      |  SELECT tb AS center, ta AS context, wm FROM pairs)
      |SELECT center, context, CAST(count(*) AS BIGINT) AS n_pairs,
      |       CAST(sum(wm) AS BIGINT) AS w_milli
      |FROM directed GROUP BY 1, 2
      |ORDER BY w_milli DESC, center, context LIMIT 20""".stripMargin

  /** sample-curriculum-schedule — competence-paced curriculum
    * (Platanios et al.): at step t of 10 the model's competence
    * c(t) = √(t/10) admits only documents whose difficulty (length in
    * chars — the standard no-model proxy) sits in the easiest c(t)
    * fraction of the corpus. The threshold comes from the cumulative
    * LENGTH HISTOGRAM — a bounded value-domain frame (distinct
    * lengths), so the prefix window never touches corpus-scale rows:
    * the fact work is one map-side histogram aggregate, the schedule
    * is 10 × |domain| bounded rows. Emits per step: the char
    * threshold, pool size, and the pool's share of corpus chars
    * (what the data loader actually needs to budget an epoch). */
  val sampleCurriculumSchedule: Q = (s, d) => {
    val hist = documents(s, d).groupBy(col("n_chars"))
      .agg(count(lit(1)).as("cnt"), sum("n_chars").as("ch"))
    val wOrd = Window.orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist
      .withColumn("cum_docs", sum("cnt").over(wOrd))
      .withColumn("cum_chars", sum("ch").over(wOrd))
    val tot = hist.agg(sum("cnt").as("nd"), sum("ch").as("nc"))
    val steps = cum.crossJoin(broadcast(tot))
      .select(explode(expr("sequence(1, 10)")).as("step"),
        col("n_chars"), col("cum_docs"), col("cum_chars"),
        col("nd"), col("nc"))
      .withColumn("cmilli",
        floor(sqrt(col("step").cast(DoubleType) / 10.0) * 1000).cast(LongType))
      .filter(col("cum_docs") * 1000 <= col("cmilli") * col("nd"))
    steps.groupBy("step", "cmilli")
      .agg(max("n_chars").as("threshold_chars"),
        max("cum_docs").as("pool_docs"),
        max("cum_chars").as("pool_chars"))
      .crossJoin(broadcast(tot))
      .select(col("step").cast(IntegerType).as("step"),
        col("cmilli").as("competence_milli"),
        col("threshold_chars"), col("pool_docs"),
        round(col("pool_chars").cast(DoubleType) /
          col("nc").cast(DoubleType), 4).as("char_share"))
      .orderBy("step")
  }

  val sampleCurriculumScheduleSql: String =
    """WITH hist AS (
      |  SELECT n_chars, CAST(count(*) AS BIGINT) AS cnt,
      |         CAST(sum(n_chars) AS BIGINT) AS ch
      |  FROM documents GROUP BY 1),
      |cum AS (
      |  SELECT n_chars,
      |         sum(cnt) OVER (ORDER BY n_chars
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_docs,
      |         sum(ch) OVER (ORDER BY n_chars
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_chars
      |  FROM hist),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS nd,
      |               CAST(sum(ch) AS BIGINT) AS nc FROM hist),
      |steps AS (
      |  SELECT step, n_chars, cum_docs, cum_chars, nd, nc,
      |         CAST(floor(sqrt(CAST(step AS DOUBLE) / 10.0) * 1000) AS BIGINT)
      |           AS cmilli
      |  FROM cum CROSS JOIN tot
      |  CROSS JOIN (SELECT unnest(generate_series(1, 10)) AS step) st),
      |pools AS (
      |  SELECT step, cmilli, max(n_chars) AS threshold_chars,
      |         max(cum_docs) AS pool_docs, max(cum_chars) AS pool_chars
      |  FROM steps WHERE cum_docs * 1000 <= cmilli * nd
      |  GROUP BY 1, 2)
      |SELECT CAST(step AS INTEGER) AS step, cmilli AS competence_milli,
      |       threshold_chars, CAST(pool_docs AS BIGINT) AS pool_docs,
      |       round(CAST(pool_chars AS DOUBLE) / CAST(nc AS DOUBLE), 4)
      |         AS char_share
      |FROM pools CROSS JOIN tot ORDER BY step""".stripMargin

  /** text-hash-collision-audit — the hashing trick: tokens → 4096 buckets
    * by md5 u32 mod (engine-portable, unlike murmur), with the
    * collision accounting that tells you whether 2^12 is enough for
    * this vocabulary (text-feature-hashing in RelMore13 emits the
    * 64-bucket feature VECTORS; this op audits the collision budget at
    * production width): distinct tokens, buckets hit, max bucket load,
    * collision-token share, and the birthday-law expectation
    * E[used] = B·(1−(1−1/B)^V) the measurement is judged against.
    * One explode scan → |vocab| groupBy → 4096-row groupBy; nothing
    * row-scale past the first aggregate. */
  val textFeatureHashing: Q = (s, d) => {
    val vocab = documents(s, d)
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .filter(col("tok").rlike("^[a-z]{2,}$"))
      .groupBy("tok").agg(count(lit(1)).as("nf"))
      .withColumn("bkt", expr(
        "CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT) % 4096"))
    val perB = vocab.groupBy("bkt")
      .agg(count(lit(1)).as("v_in_b"), sum("nf").as("occ"))
    perB.agg(
      sum("v_in_b").as("n_vocab"),
      count(lit(1)).as("buckets_used"),
      max("v_in_b").as("max_tokens_per_bucket"),
      sum(when(col("v_in_b") > 1, col("v_in_b")).otherwise(0L))
        .as("tokens_colliding"))
      .select(col("n_vocab"), col("buckets_used"),
        round(lit(4096.0) * (lit(1.0) -
          pow(lit(4095.0) / 4096.0, col("n_vocab").cast(DoubleType))), 2)
          .as("expected_used"),
        col("max_tokens_per_bucket"),
        round(col("tokens_colliding").cast(DoubleType) /
          col("n_vocab").cast(DoubleType), 4).as("collision_share"))
  }

  val textFeatureHashingSql: String =
    """WITH vocab AS (
      |  SELECT tok, CAST(count(*) AS BIGINT) AS nf,
      |         CAST(('0x' || substring(md5(tok), 1, 8))::BIGINT AS BIGINT) % 4096
      |           AS bkt
      |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents) t
      |  WHERE regexp_full_match(tok, '[a-z]{2,}')
      |  GROUP BY tok),
      |perb AS (
      |  SELECT bkt, CAST(count(*) AS BIGINT) AS v_in_b
      |  FROM vocab GROUP BY 1)
      |SELECT CAST(sum(v_in_b) AS BIGINT) AS n_vocab,
      |       CAST(count(*) AS BIGINT) AS buckets_used,
      |       round(4096.0 * (1.0 - pow(4095.0 / 4096.0,
      |             CAST(sum(v_in_b) AS DOUBLE))), 2) AS expected_used,
      |       max(v_in_b) AS max_tokens_per_bucket,
      |       round(CAST(sum(CASE WHEN v_in_b > 1 THEN v_in_b ELSE 0 END) AS DOUBLE) /
      |             CAST(sum(v_in_b) AS DOUBLE), 4) AS collision_share
      |FROM perb""".stripMargin

  /** agg-negative-binomial-fit — is per-customer order frequency
    * overdispersed (variance > mean — heterogeneous buying rates), and
    * does a negative binomial fit where a Poisson can't? Method of
    * moments: r = m²/(v−m), p = m/v; the zero-class check compares
    * observed never-buyers (customers LEFT-joined to orders) against
    * the NB prediction N·(r/(r+m))^r and the Poisson prediction
    * N·e^(−m) — the gap between those two is the graded evidence.
    * One customer-grain count + one bounded reduce; exact integer
    * moment sums, doubles only in the final closed forms. */
  val aggNegativeBinomialFit: Q = (s, d) => {
    val cnt = orders(s, d).groupBy(col("o_custkey")).agg(count(lit(1)).as("k"))
    val percust = customer(s, d)
      .join(cnt, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("k"), lit(0L)).as("k"))
    val mom = percust.agg(
      count(lit(1)).as("n"),
      sum("k").as("sk"),
      sum(col("k") * col("k")).as("skk"),
      sum(when(col("k") === 0L, 1L).otherwise(0L)).as("zeros"))
      .select(col("n"), col("zeros"),
        col("n").cast(DoubleType).as("nd"),
        col("sk").cast(DoubleType).as("skd"),
        col("skk").cast(DoubleType).as("skkd"))
      .select(col("n"), col("zeros"),
        (col("skd") / col("nd")).as("m"),
        ((col("skkd") - col("skd") * col("skd") / col("nd")) /
          (col("nd") - 1.0)).as("v"),
        col("nd"))
    mom.select(col("n").as("n_customers"),
      round(col("m"), 4).as("mean_orders"),
      round(col("v"), 4).as("var_orders"),
      round(col("v") / col("m"), 4).as("dispersion_index"),
      round(col("m") * col("m") / (col("v") - col("m")), 4).as("nb_r"),
      round(col("m") / col("v"), 4).as("nb_p"),
      col("zeros").as("zeros_observed"),
      round(col("nd") * pow(
        (col("m") * col("m") / (col("v") - col("m"))) /
          (col("m") * col("m") / (col("v") - col("m")) + col("m")),
        col("m") * col("m") / (col("v") - col("m"))), 2).as("zeros_nb_pred"),
      round(col("nd") * exp(-col("m")), 2).as("zeros_poisson_pred"))
  }

  val aggNegativeBinomialFitSql: String =
    """WITH cnt AS (
      |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS k FROM orders GROUP BY 1),
      |percust AS (
      |  SELECT CAST(coalesce(k, 0) AS BIGINT) AS k
      |  FROM customer LEFT JOIN cnt ON c_custkey = o_custkey),
      |mom AS (
      |  SELECT n, zeros, skd / nd AS m,
      |         (skkd - skd * skd / nd) / (nd - 1.0) AS v, nd
      |  FROM (
      |    SELECT CAST(count(*) AS BIGINT) AS n,
      |           CAST(sum(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zeros,
      |           CAST(count(*) AS DOUBLE) AS nd,
      |           CAST(sum(k) AS DOUBLE) AS skd,
      |           CAST(sum(k * k) AS DOUBLE) AS skkd
      |    FROM percust) t)
      |SELECT n AS n_customers,
      |       round(m, 4) AS mean_orders,
      |       round(v, 4) AS var_orders,
      |       round(v / m, 4) AS dispersion_index,
      |       round(m * m / (v - m), 4) AS nb_r,
      |       round(m / v, 4) AS nb_p,
      |       zeros AS zeros_observed,
      |       round(nd * pow((m * m / (v - m)) / (m * m / (v - m) + m),
      |                      m * m / (v - m)), 2) AS zeros_nb_pred,
      |       round(nd * exp(-m), 2) AS zeros_poisson_pred
      |FROM mom""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("text-skipgram-pairs", textSkipgramPairs, textSkipgramPairsSql),
    Key("sample-curriculum-schedule", sampleCurriculumSchedule, sampleCurriculumScheduleSql),
    Key("text-hash-collision-audit", textFeatureHashing, textFeatureHashingSql),
    Key("agg-negative-binomial-fit", aggNegativeBinomialFit, aggNegativeBinomialFitSql))
}
