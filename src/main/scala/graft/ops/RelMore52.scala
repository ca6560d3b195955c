package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-6 batch M: energy distance for embedding drift, dedup
  * precision/recall. */
object RelMore52 extends KeyModule {

  /** emb-energy-distance — the two-sample test for VECTOR spaces
    * (dq-ks-drift's sibling one abstraction up): energy distance
    * E = 2·E‖X−Y‖ − E‖X−X'‖ − E‖Y−Y'‖ between two labeled populations,
    * measured twice — on the isotropic corpus (labels are
    * indistinguishable ⇒ E ≈ 0) and on the clustered fixture (labels
    * are real populations ⇒ E ≫ 0). This is the gate for "did my
    * embedding distribution move between model versions" where KS on
    * one coordinate would miss structure. Determinism: each pairwise
    * euclidean distance is one sqrt (IEEE-correctly-rounded) quantized
    * to integer micro BEFORE the mean, so no float-sum order
    * dependence; pair grids run over bounded label samples (the
    * sampled-audit shape — at 100 TB you sample, the estimator is
    * unbiased). */
  val embEnergyDistance: Q = (s, d) => {
    graft.functions.CosineSimilarity.register(s)
    def dist2(a: String, b: String): String =
      s"floor(sqrt(aggregate(zip_with($a, $b, (p, q) -> (p - q) * (p - q)), 0D, (acc, z) -> acc + z)) * 1000000 + 0.5)"
    def energy(name: String, vecs: DataFrame): DataFrame = {
      val va = vecs.filter(col("label") === 0)
        .select(col("vec_id").as("ia"), col("v").as("xa"))
      val vb = vecs.filter(col("label") === 1)
        .select(col("vec_id").as("ib"), col("v").as("xb"))
      def meanPairs(l: DataFrame, r: DataFrame, exclSelf: Boolean): DataFrame = {
        val joined = l.crossJoin(r)
        val filtered = if (exclSelf) joined.filter(col("ia") =!= col("ib")) else joined
        filtered
          .select(expr(dist2("xa", "xb")).cast(LongType).as("dq"))
          .agg(expr("sum(dq) div count(1)").as("mean_micro"))
      }
      val mxy = meanPairs(va, vb, exclSelf = false)
        .withColumnRenamed("mean_micro", "mean_cross_micro")
      val mxx = meanPairs(va, va.select(col("ia").as("ib"), col("xa").as("xb")), exclSelf = true)
        .withColumnRenamed("mean_micro", "mean_within_a_micro")
      val myy = meanPairs(vb.select(col("ib").as("ia"), col("xb").as("xa")), vb, exclSelf = true)
        .withColumnRenamed("mean_micro", "mean_within_b_micro")
      mxy.crossJoin(mxx).crossJoin(myy)
        .select(lit(name).as("dataset"),
          col("mean_cross_micro"), col("mean_within_a_micro"), col("mean_within_b_micro"),
          (col("mean_cross_micro") * 2 - col("mean_within_a_micro") - col("mean_within_b_micro"))
            .as("energy_micro"))
    }
    val iso = embeddings(s, d).select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val clu = RelMore40.cvecs(s).select(col("vec_id"), col("label"), col("v"))
    energy("clustered", clu).unionAll(energy("isotropic", iso)).orderBy("dataset")
  }

  val embEnergyDistanceSql: String = {
    def dist2(a: String, b: String): String =
      s"""CAST(floor(sqrt(list_inner_product(list_transform(list_zip($a, $b), p -> p[1] - p[2]),
         |                                    list_transform(list_zip($a, $b), p -> p[1] - p[2]))) * 1000000 + 0.5) AS BIGINT)""".stripMargin
    def energy(name: String, vecsCte: String): String =
      s"""SELECT '$name' AS dataset,
         |       (SELECT CAST(sum(dq) AS BIGINT) // count(*) FROM (
         |          SELECT ${dist2("a.v", "b.v")} AS dq
         |          FROM $vecsCte a, $vecsCte b
         |          WHERE a.label = 0 AND b.label = 1)) AS mean_cross_micro,
         |       (SELECT CAST(sum(dq) AS BIGINT) // count(*) FROM (
         |          SELECT ${dist2("a.v", "b.v")} AS dq
         |          FROM $vecsCte a, $vecsCte b
         |          WHERE a.label = 0 AND b.label = 0 AND a.vec_id <> b.vec_id)) AS mean_within_a_micro,
         |       (SELECT CAST(sum(dq) AS BIGINT) // count(*) FROM (
         |          SELECT ${dist2("a.v", "b.v")} AS dq
         |          FROM $vecsCte a, $vecsCte b
         |          WHERE a.label = 1 AND b.label = 1 AND a.vec_id <> b.vec_id)) AS mean_within_b_micro""".stripMargin
    s"""WITH ${RelMore40.compsSql},
       |${RelMore40.cvecsSql},
       |iso AS (
       |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |raw AS (
       |  ${energy("clustered", "cvecs")}
       |  UNION ALL
       |  ${energy("isotropic", "iso")})
       |SELECT dataset, mean_cross_micro, mean_within_a_micro, mean_within_b_micro,
       |       mean_cross_micro * 2 - mean_within_a_micro - mean_within_b_micro AS energy_micro
       |FROM raw ORDER BY dataset""".stripMargin
  }

  /** dedup-eval-prf — MinHash-LSH dedup graded as a CLASSIFIER:
    * predictions = LSH candidates whose 12-slot signature estimate is
    * ≥ 0.5; truth = pairs whose EXACT distinct-shingle Jaccard is
    * ≥ 0.5 (computed on a df-capped shared-shingle inverted index —
    * pairs with no shared non-stop shingle cannot be truth; the cap
    * bounds the self-join, see inline comment). TP/FP/FN and
    * integer-milli precision/recall/F1 — the one-row eval card that
    * says whether the sketch config ships, companion of
    * dedup-minhash-estimate (per-pair error) and dedup-banding-curve
    * (volume/precision sweep). */
  val dedupEvalPrf: Q = (s, d) => {
    val Seeds = 12
    // ONE signature builder, shared with dedup-minhash-lsh /
    // dedup-minhash-estimate (TextDedup.hashedShingles →
    // minhashSigFrom → bandStackExpr; r10 verdict item 2) — the two
    // ops can no longer drift apart. The (doc,h) table is NOT
    // persisted: its only consumer is the signature aggregate, so the
    // scan→explode→md5 pipeline fuses straight into the partial mins
    // (persisting 64-hex strings per occurrence cost ~1 s of
    // materialize+rescan at sf0.1 for nothing).
    // predicted: LSH candidates with signature estimate >= 6/12
    val sig = TextDedup.minhashSigStored(s, d).sharedCache()
    sig.count() // single-stage fill: the store read raced its own two
    // consumers deterministically (same block id in both r13 close
    // benches — WARN triage, r14)
    val matchExpr = (1 to Seeds).map(j => s"IF(a.m$j = b.m$j, 1, 0)").mkString(" + ")
    // r15: LSH candidates from the per-process pair store (same
    // distinct set the inline band self-join produced)
    val pred = TextDedup.minhashPairsStored(s, d)
      .join(sig.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sig.as("b"), col("doc_b") === col("b.doc_id"))
      .filter(expr(matchExpr) >= Seeds / 2)
      .select("doc_a", "doc_b")
    // truth: exact distinct-shingle Jaccard >= 0.5 over the df-capped
    // shingle vocabulary. The cap is the stop-shingle cut
    // (dedup-containment's RelMore18 discipline): a shingle shared by
    // >MaxDf docs carries no near-dup signal but emits df² pairs in the
    // inverted-index self-join — uncapped, one hot shingle makes the
    // truth pass quadratic (this op was the slowest in the r6 bench at
    // 56 s for exactly that reason). With the cap, each key emits at
    // most MaxDf² pairs, so the join is Σ min(df,MaxDf)² — linear-ish in
    // corpus size at any scale. Semantics: truth Jaccard is over
    // non-stop shingles (mirrored in the oracle); a pair can shift
    // only if its similarity rides on shingles that >MaxDf docs share,
    // which is boilerplate, not near-duplication.
    val MaxDf = 50
    // Truth-side inverted index in ONE shuffle (r11, fourth shape
    // after the r8 wide-df-join / r9 window / r10 distinct+anti
    // forms): capped_distinct_list (native TypedImperativeAggregate,
    // functions/CappedDistinctList.scala) builds each shingle's SORTED
    // DOC ARRAY with aggregation state hard-bounded at MaxDf+1
    // elements — a key shared by more than MaxDf docs returns NULL and
    // is dropped, which IS the stop-shingle cut, with no separate
    // count-distinct pass, no broadcast-anti probe, no pre-distinct,
    // no persist of the 260k-row index. Truth pairs then explode from
    // each array in place — the two-sided inverted-index SELF-JOIN is
    // gone too — shuffling Σ C(min(df,MaxDf),2) ≤ 1225-per-key pair
    // rows downstream. Bounded by construction at any corpus size: a
    // boilerplate shingle in 10⁹ docs costs O(MaxDf) state, and pair
    // fan-out is capped per key by the NULL cut.
    val byK = TextDedup.shingleKOcc(s, d)
      .groupBy("k").agg(expr(s"capped_distinct_list(doc_id, $MaxDf)").as("docs"))
      .filter(col("docs").isNotNull)
      .sharedCache()
    val sizes = byK.select(explode(col("docs")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val kPairs = byK.select(explode(expr(
      "flatten(transform(docs, (x, i) -> " +
        "transform(slice(docs, i + 2, size(docs)), y -> struct(x AS doc_a, y AS doc_b))))"
    )).as("p")).select(col("p.doc_a"), col("p.doc_b"))
    val truth = kPairs
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sa")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sb")), Seq("doc_b"))
      .filter(col("inter") * 2 >= col("sa") + col("sb") - col("inter"))
      .select("doc_a", "doc_b")
    val joined = pred.withColumn("p", lit(1L))
      .join(truth.withColumn("t", lit(1L)), Seq("doc_a", "doc_b"), "full_outer")
    joined.agg(
        sum(when(col("t") === 1, 1L).otherwise(0L)).as("n_truth"),
        sum(when(col("p") === 1, 1L).otherwise(0L)).as("n_pred"),
        sum(when(col("p") === 1 && col("t") === 1, 1L).otherwise(0L)).as("tp"),
        sum(when(col("p") === 1 && col("t").isNull, 1L).otherwise(0L)).as("fp"),
        sum(when(col("p").isNull && col("t") === 1, 1L).otherwise(0L)).as("fn"))
      .select(col("n_truth"), col("n_pred"), col("tp"), col("fp"), col("fn"),
        expr("CASE WHEN tp + fp = 0 THEN 0 ELSE (tp * 1000) div (tp + fp) END").as("precision_milli"),
        expr("CASE WHEN tp + fn = 0 THEN 0 ELSE (tp * 1000) div (tp + fn) END").as("recall_milli"))
      .withColumn("f1_milli", expr(
        "CASE WHEN precision_milli + recall_milli = 0 THEN 0" +
          " ELSE (2 * precision_milli * recall_milli) div (precision_milli + recall_milli) END"))
  }

  val dedupEvalPrfSql: String = {
    val mins = (1 to 12)
      .map(j => s"min(substring(h, ${(j - 1) * 5 + 1}, 5)) AS m$j").mkString(",\n         ")
    val bandSel = (0 until 4).map { b =>
      s"SELECT doc_id, $b AS band, md5(m${3 * b + 1} || ',' || m${3 * b + 2} || ',' || m${3 * b + 3}) AS bk FROM sig"
    }.mkString("\n  UNION ALL ")
    val matches = (1 to 12)
      .map(j => s"CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH words AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= 3),
       |shingles AS (
       |  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
       |  FROM words, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) t),
       |hashed AS (SELECT doc_id, md5(sh) || md5('#' || sh) AS h FROM shingles),
       |sig AS (SELECT doc_id, $mins FROM hashed GROUP BY doc_id),
       |bands AS (
       |  $bandSel),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id),
       |pred AS (
       |  SELECT c.doc_a, c.doc_b
       |  FROM cand c JOIN sig a ON a.doc_id = c.doc_a JOIN sig b ON b.doc_id = c.doc_b
       |  WHERE ($matches) >= 6),
       |dsh_all AS (SELECT DISTINCT doc_id, substring(h, 1, 16) AS k FROM hashed),
       |kdf AS (SELECT k, count(*) AS kdf FROM dsh_all GROUP BY k),
       |dsh AS (SELECT dsh_all.doc_id, dsh_all.k
       |        FROM dsh_all JOIN kdf ON kdf.k = dsh_all.k AND kdf.kdf <= 50),
       |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM dsh GROUP BY doc_id),
       |truth AS (
       |  SELECT i.doc_a, i.doc_b FROM (
       |    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter
       |    FROM dsh x JOIN dsh y ON y.k = x.k AND x.doc_id < y.doc_id
       |    GROUP BY 1, 2) i
       |  JOIN sizes sa ON sa.doc_id = i.doc_a
       |  JOIN sizes sb ON sb.doc_id = i.doc_b
       |  WHERE i.inter * 2 >= sa.sz + sb.sz - i.inter),
       |joined AS (
       |  SELECT coalesce(p.doc_a, t.doc_a) AS doc_a,
       |         CASE WHEN p.doc_a IS NOT NULL THEN 1 END AS p,
       |         CASE WHEN t.doc_a IS NOT NULL THEN 1 END AS t
       |  FROM (SELECT doc_a, doc_b, 1 AS m FROM pred) p
       |  FULL OUTER JOIN (SELECT doc_a, doc_b, 1 AS m FROM truth) t
       |    ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b),
       |agg AS (
       |  SELECT CAST(sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
       |         CAST(sum(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred,
       |         CAST(sum(CASE WHEN p = 1 AND t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |         CAST(sum(CASE WHEN p = 1 AND t IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |         CAST(sum(CASE WHEN p IS NULL AND t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
       |  FROM joined),
       |pr AS (
       |  SELECT n_truth, n_pred, tp, fp, fn,
       |         CASE WHEN tp + fp = 0 THEN 0 ELSE (tp * 1000) // (tp + fp) END AS precision_milli,
       |         CASE WHEN tp + fn = 0 THEN 0 ELSE (tp * 1000) // (tp + fn) END AS recall_milli
       |  FROM agg)
       |SELECT n_truth, n_pred, tp, fp, fn, precision_milli, recall_milli,
       |       CASE WHEN precision_milli + recall_milli = 0 THEN 0
       |            ELSE (2 * precision_milli * recall_milli) // (precision_milli + recall_milli) END AS f1_milli
       |FROM pr""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    Key("emb-energy-distance", embEnergyDistance, embEnergyDistanceSql),
    Key("dedup-eval-prf", dedupEvalPrf, dedupEvalPrfSql))
}
