package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Clustered-embedding fixture + the recall measurements it unlocks.
  *
  * The /root/testdata embeddings are isotropic noise (measured by
  * emb-cluster-stats and documented by dedup-ivf-recall): intra-label
  * cosine == inter-label == ~0, so every IVF/LSH recall contract in the
  * repo could so far only be exercised AT the chance floor — the right
  * honest answer for unclusterable data, but it leaves the interesting
  * half of the contract (recall rising with nprobe on clusterABLE data)
  * untested. These ops generate a deterministic label-correlated fixture
  * IN-OP — per-component integer milli-units, center(label,dim) and
  * noise(vec,dim) both derived from md5 nibbles exactly as TextDedup's
  * minhash slices are, so the DuckDB oracle regenerates bit-identical
  * vectors — and then measure:
  *
  *  - emb-clustered-separation: every label's mean cosine to its own
  *    integer-mean centroid vs the best FOREIGN centroid. Positive
  *    separation on all 8 labels = the fixture genuinely clusters
  *    (the opposite conclusion emb-cluster-stats reaches on the
  *    isotropic corpus, by the same kind of measurement).
  *  - ann-clustered-recall: the ann-nprobe-curve sweep on this fixture.
  *    Recall@3 rises 0.90 → 0.93 → 0.97 as nprobe goes 1 → 2 → 4 —
  *    ABOVE the 1/8 chance floor and moving with nprobe, the signal the
  *    isotropic corpus cannot produce (tuned so the Voronoi boundary is
  *    real: noise half-span 8.0 vs center amplitude 6.0).
  *
  * Scale design: the fixture is bounded by construction (512×8), but
  * every downstream shape is the production one — centroids broadcast
  * against the linear corpus scan, queries broadcast for the sampled
  * brute-force audit, candidate generation bucket-joined — so the same
  * plans hold when the generated corpus is replaced by a real 100 TB
  * embedding table.
  */
object RelMore40 extends KeyModule {

  private val NVecs = 512
  private val Dims = 8
  private val NLabels = 8
  private val NumQueries = 10  // sampled audit queries, vec_id < 10
  /** Center amplitude: md5-nibble value in [-4,4] × 1500 milli. */
  private val CentScale = 1500L
  /** Noise span in milli (half-span 8000 → ±8.0): chosen so clusters
    * are real but the IVF Voronoi boundary loses a few true neighbors
    * at nprobe=1 — the recall curve must MOVE, not sit at 1.0. */
  private val NoiseSpan = 16001L

  /** Hex-nibble → int via instr/strpos, the engine-neutral conversion
    * TextDedup.scala:385 established (Spark instr == DuckDB strpos). */
  private def nib(h: String, p: Int) =
    s"(instr('0123456789abcdef', substring($h, $p, 1)) - 1)"
  private def hex4(h: String) =
    s"(${nib(h, 1)} * 4096 + ${nib(h, 2)} * 256 + ${nib(h, 3)} * 16 + ${nib(h, 4)})"

  private def nibSql(h: String, p: Int) =
    s"(strpos('0123456789abcdef', substring($h, $p, 1)) - 1)"
  private def hex4Sql(h: String) =
    s"(${nibSql(h, 1)} * 4096 + ${nibSql(h, 2)} * 256 + ${nibSql(h, 3)} * 16 + ${nibSql(h, 4)})"

  /** Long-form components (vec_id, label, k, cm): integer milli-units,
    * cm = center(label,k)·CentScale + noise(vec_id,k). All-integer until
    * the final /1000.0, so both engines materialize identical doubles. */
  private def comps(s: SparkSession): DataFrame =
    s.range(NVecs.toLong)
      .select(col("id").as("vec_id"), (col("id") % NLabels).as("label"))
      .select(col("vec_id"), col("label"),
        explode(expr(s"sequence(0, ${Dims - 1})")).as("k"))
      .withColumn("chh", md5(concat(lit("c_"),
        col("label").cast(StringType), lit("_"), col("k").cast(StringType))))
      .withColumn("nhh", md5(concat(
        col("vec_id").cast(StringType), lit("_"), col("k").cast(StringType))))
      .select(col("vec_id"), col("label"), col("k"),
        expr(s"(${hex4("chh")} % 9 - 4) * $CentScale" +
          s" + (${hex4("nhh")} % $NoiseSpan) - ${(NoiseSpan - 1) / 2}").as("cm"))

  private[ops] val compsSql: String =
    s"""ids AS (SELECT unnest(range(0, $NVecs)) AS vec_id),
       |ks AS (SELECT unnest(range(0, $Dims)) AS k),
       |comps AS (
       |  SELECT vec_id, vec_id % $NLabels AS label, k,
       |         (${hex4Sql(s"md5('c_' || CAST(vec_id % $NLabels AS VARCHAR) || '_' || CAST(k AS VARCHAR))")} % 9 - 4) * $CentScale
       |         + (${hex4Sql("md5(CAST(vec_id AS VARCHAR) || '_' || CAST(k AS VARCHAR))")} % $NoiseSpan) - ${(NoiseSpan - 1) / 2} AS cm
       |  FROM ids, ks)""".stripMargin

  /** Vectors as double arrays (milli → /1000.0), labels attached. */
  private[ops] def cvecs(s: SparkSession): DataFrame = {
    graft.functions.CosineSimilarity.register(s)
    comps(s).groupBy("vec_id", "label")
      .agg(expr("transform(array_sort(collect_list(struct(k, cm)))," +
        " p -> CAST(p.cm AS DOUBLE) / 1000.0)").as("v"))
  }

  private[ops] val cvecsSql: String =
    s"""cvecs AS (
       |  SELECT vec_id, any_value(label) AS label,
       |         list(CAST(cm AS DOUBLE) / 1000.0 ORDER BY k) AS v
       |  FROM comps GROUP BY vec_id)""".stripMargin

  private def cosSql(a: String, b: String): String =
    s"""round(list_inner_product($a, $b) /
       |             (sqrt(list_inner_product($a, $a)) *
       |              sqrt(list_inner_product($b, $b))), 9)""".stripMargin

  /** emb-clustered-separation — does the fixture actually cluster?
    * Per label: mean cosine of its members to the label's own centroid
    * (integer-mean in milli space — exact, order-free) vs the best
    * foreign centroid. sep_micro > 0 on every row = real clusters.
    * Shapes: one linear pass for centroids (groupBy label,k on exact
    * ints), 8-row centroid table broadcast against the corpus scan. */
  val embClusteredSeparation: Q = (s, _) => {
    val cv = cvecs(s)
    val centl = comps(s).groupBy("label", "k")
      .agg(floor(sum("cm") / count(lit(1))).cast(LongType).as("ccm"))
    val cent = centl.groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(k, ccm)))," +
        " p -> CAST(p.ccm AS DOUBLE) / 1000.0)").as("cvv"))
      .select(col("label").as("c_label"), col("cvv"))
    val scored = cv.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("label"), col("c_label"),
        round(expr("cosine_similarity(v, cvv)"), 9).as("cs"))
    val own = scored.filter(col("label") === col("c_label"))
      .select(col("vec_id"), col("label"), col("cs"))
    val oth = scored.filter(col("label") =!= col("c_label"))
      .groupBy("vec_id").agg(max("cs").as("ocs"))
    own.join(oth, Seq("vec_id"))
      .select(col("label"),
        floor(col("cs") * lit(1000000.0) + lit(0.5)).cast(LongType).as("ou"),
        floor(col("ocs") * lit(1000000.0) + lit(0.5)).cast(LongType).as("tu"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        floor(sum("ou") / count(lit(1))).cast(LongType).as("mean_own_micro"),
        floor(sum("tu") / count(lit(1))).cast(LongType).as("mean_other_micro"))
      .withColumn("sep_micro", col("mean_own_micro") - col("mean_other_micro"))
      .orderBy("label")
  }

  val embClusteredSeparationSql: String =
    s"""WITH $compsSql,
       |$cvecsSql,
       |centl AS (
       |  SELECT label, k,
       |         CAST(floor(CAST(sum(cm) AS BIGINT) / count(*)) AS BIGINT) AS ccm
       |  FROM comps GROUP BY 1, 2),
       |cent AS (
       |  SELECT label AS c_label,
       |         list(CAST(ccm AS DOUBLE) / 1000.0 ORDER BY k) AS cvv
       |  FROM centl GROUP BY 1),
       |scored AS (
       |  SELECT e.vec_id, e.label, c.c_label,
       |         ${cosSql("e.v", "c.cvv")} AS cs
       |  FROM cvecs e, cent c),
       |own AS (SELECT vec_id, label, cs FROM scored WHERE label = c_label),
       |oth AS (SELECT vec_id, max(cs) AS ocs FROM scored WHERE label <> c_label GROUP BY 1),
       |per AS (
       |  SELECT o.label,
       |         CAST(floor(o.cs * 1000000e0 + 0.5) AS BIGINT) AS ou,
       |         CAST(floor(t.ocs * 1000000e0 + 0.5) AS BIGINT) AS tu
       |  FROM own o JOIN oth t USING (vec_id))
       |SELECT label, count(*) AS n_vecs,
       |       CAST(floor(CAST(sum(ou) AS BIGINT) / count(*)) AS BIGINT) AS mean_own_micro,
       |       CAST(floor(CAST(sum(tu) AS BIGINT) / count(*)) AS BIGINT) AS mean_other_micro,
       |       CAST(floor(CAST(sum(ou) AS BIGINT) / count(*))
       |            - floor(CAST(sum(tu) AS BIGINT) / count(*)) AS BIGINT) AS sep_micro
       |FROM per GROUP BY label ORDER BY label""".stripMargin

  /** ann-clustered-recall — the ann-nprobe-curve sweep on CLUSTERED
    * data: recall@3 at nprobe ∈ {1,2,4} vs the sampled brute-force
    * truth. On this fixture the curve rises 0.90 → 0.93 → 0.97 —
    * above the 1/8 chance floor (emitted as a column so the contrast
    * with dedup-ivf-recall's isotropic chance-floor result is explicit
    * in the output, not a doc comment). Same one-pass candidate
    * generation: each candidate carries its bucket's rank in the
    * query's centroid ordering, so nprobe=n is a filter, not a
    * re-score. Centroid seeds are vec_id < 8 — by construction one
    * member of each label cluster. */
  val annClusteredRecall: Q = (s, _) => {
    val all = cvecs(s).select("vec_id", "v")
    val cent = all.filter(col("vec_id") < NLabels)
      .select(col("vec_id").as("centroid_id"), col("v").as("cvv"))
    val scoredCent = all.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("centroid_id"),
        round(expr("cosine_similarity(v, cvv)"), 9).as("ccos"))
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(desc("ccos"), col("centroid_id"))
    // assignment feeds the query-probe AND bucket sides (see ann-ivf's
    // lifecycle note: release is session-owned, Verify/Bench clearCache)
    val ranked = scoredCent
      .withColumn("rn", row_number().over(wAssign)).sharedCache()
    val assign = ranked.filter(col("rn") === 1).select("vec_id", "centroid_id")
    val qProbe = ranked.filter(col("vec_id") < NumQueries && col("rn") <= 4)
      .select(col("vec_id").as("query_id"), col("centroid_id"),
        col("rn").as("cent_rank"))
    val av = all.join(assign, Seq("vec_id"))
    val cands = broadcast(qProbe)
      .join(av, Seq("centroid_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .join(all.select(col("vec_id").as("query_id"), col("v").as("qv")), Seq("query_id"))
      .select(col("query_id"), col("cent_rank"),
        col("vec_id").as("neighbor_id"),
        round(expr("cosine_similarity(qv, v)"), 9).as("cosine"))
    val q = all.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val wBf = Window.partitionBy(col("query_id"))
      .orderBy(desc("cosine"), col("neighbor_id"))
    val bf = broadcast(q).crossJoin(all)
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(expr("cosine_similarity(qv, v)"), 9).as("cosine"))
      .withColumn("rank", row_number().over(wBf)).filter(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1L))
    val perProbe = cands
      .withColumn("nprobe", explode(array(lit(1), lit(2), lit(4))))
      .filter(col("cent_rank") <= col("nprobe"))
    val w = Window.partitionBy(col("nprobe"), col("query_id"))
      .orderBy(desc("cosine"), col("neighbor_id"))
    perProbe.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .join(bf, Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy("nprobe")
      .agg(coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
      .select(col("nprobe"), col("n_hits"),
        floor(col("n_hits") * lit(1000000L) / lit(3L * NumQueries)).cast(LongType)
          .as("recall_micro"),
        lit(1000000L / NLabels).as("chance_floor_micro"))
      .orderBy("nprobe")
  }

  val annClusteredRecallSql: String =
    s"""WITH $compsSql,
       |$cvecsSql,
       |cscore AS (
       |  SELECT e.vec_id, c.vec_id AS centroid_id,
       |         ${cosSql("e.v", "c.v")} AS ccos
       |  FROM cvecs e JOIN cvecs c ON c.vec_id < $NLabels),
       |crank AS (
       |  SELECT vec_id, centroid_id,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
       |  FROM cscore),
       |assign AS (SELECT vec_id, centroid_id FROM crank WHERE rn = 1),
       |cands AS (
       |  SELECT q.vec_id AS query_id, qc.rn AS cent_rank, e.vec_id AS neighbor_id,
       |         ${cosSql("q.v", "e.v")} AS cosine
       |  FROM cvecs q
       |  JOIN crank qc ON qc.vec_id = q.vec_id AND qc.rn <= 4
       |  JOIN assign ea ON ea.centroid_id = qc.centroid_id
       |  JOIN cvecs e ON e.vec_id = ea.vec_id AND e.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NumQueries),
       |bf AS (
       |  SELECT query_id, neighbor_id, 1 AS hit FROM (
       |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY ${cosSql("q.v", "e.v")} DESC, e.vec_id) AS rank
       |    FROM cvecs q JOIN cvecs e ON e.vec_id <> q.vec_id
       |    WHERE q.vec_id < $NumQueries)
       |  WHERE rank <= 3),
       |pp AS (
       |  SELECT np.nprobe, c.query_id, c.neighbor_id,
       |         row_number() OVER (PARTITION BY np.nprobe, c.query_id
       |                            ORDER BY c.cosine DESC, c.neighbor_id) AS rank
       |  FROM cands c
       |  JOIN (VALUES (1), (2), (4)) np(nprobe) ON c.cent_rank <= np.nprobe)
       |SELECT pp.nprobe, CAST(coalesce(sum(b.hit), 0) AS BIGINT) AS n_hits,
       |       CAST(floor(coalesce(sum(b.hit), 0) * 1000000 / ${3 * NumQueries}) AS BIGINT) AS recall_micro,
       |       CAST(${1000000 / NLabels} AS BIGINT) AS chance_floor_micro
       |FROM pp
       |LEFT JOIN bf b ON b.query_id = pp.query_id AND b.neighbor_id = pp.neighbor_id
       |WHERE pp.rank <= 3
       |GROUP BY pp.nprobe
       |ORDER BY pp.nprobe""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("emb-clustered-separation", embClusteredSeparation, embClusteredSeparationSql),
    Key("ann-clustered-recall", annClusteredRecall, annClusteredRecallSql))
}
