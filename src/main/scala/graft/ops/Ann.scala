package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Approximate-nearest-neighbor search over the embedding column.
  *
  * Two tiers, mirroring how a 100 TB pipeline would run it:
  *  - ann-topk-bruteforce: exact top-k for a small query set against the
  *    full corpus — the correctness baseline. Work = |Q| × |corpus|,
  *    distributed as a broadcast of the query vectors against the
  *    partitioned corpus (never corpus × corpus).
  *  - ann-ivf: the scale path. Corpus vectors are assigned to their
  *    nearest centroid (inverted-file partitioning); each query probes
  *    only its own centroid's bucket. Candidate work drops by the
  *    cluster fan-out; the bucket assignment is one broadcast join.
  *
  * All similarity math is double, left-fold summed, rounded to 9 dp —
  * bit-aligned with DuckDB's list_inner_product (see TextDedup).
  */
object Ann extends KeyModule {

  private val NumQueries = 10  // vec_id < 10 are the query vectors
  private val TopK = 5
  private val NumCentroids = 8 // vec_id < 8 double as IVF centroids

  /** Vectors as double arrays; cosine is computed by the native codegen
    * CosineSimilarity expression (graft.functions), registered per
    * session — norms are fused into its single pass. */
  private def vecs(s: SparkSession, d: String): DataFrame = {
    graft.functions.CosineSimilarity.register(s)
    embeddings(s, d)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
  }

  private def cos(a: String, b: String) =
    round(expr(s"cosine_similarity($a, $b)"), 9)

  private val cosSqlTemplate =
    """round(list_inner_product(%s::DOUBLE[], %s::DOUBLE[]) /
      |             (sqrt(list_inner_product(%s::DOUBLE[], %s::DOUBLE[])) *
      |              sqrt(list_inner_product(%s::DOUBLE[], %s::DOUBLE[]))), 9)""".stripMargin

  private def cosSql(a: String, b: String): String =
    cosSqlTemplate.format(a, b, a, a, b, b)

  /** ann-topk-bruteforce — exact cosine top-k per query vector. Query
    * set broadcast; per-partition candidate scoring; global top-k via
    * rank over (query, score). */
  val annTopkBruteforce: Q = (s, d) => {
    val all = vecs(s, d)
    val q = all.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = broadcast(q).crossJoin(all)
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cos("qv", "v").as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cosine"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= TopK)
      .select("query_id", "rank", "neighbor_id", "cosine")
      .orderBy("query_id", "rank")
  }

  val annTopkBruteforceSql: String =
    s"""WITH scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         ${cosSql("q.embedding", "c.embedding")} AS cosine
       |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id < $NumQueries),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, cosine
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  /** ann-ivf — inverted-file ANN: assign every vector to its nearest of
    * 8 centroids (broadcast centroid table), then each query searches
    * only its own bucket. Returns top-3 in-bucket neighbors per query. */
  val annIvf: Q = (s, d) => {
    val all = vecs(s, d)
    val cent = all.filter(col("vec_id") < NumCentroids)
      .select(col("vec_id").as("centroid_id"), col("v").as("cv"))
    val scoredCent = all.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("centroid_id"),
        cos("v", "cv").as("ccos"))
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(desc("ccos"), col("centroid_id"))
    // persist: the assignment feeds both the query side and the bucket
    // side of the probe join — without it the centroid-scoring pass
    // (|corpus| × |centroids| cosine evals) runs twice. Lifecycle: the
    // cache must outlive the returned lazy plan, so release belongs to
    // the caller — Verify/Bench clearCache() after materializing each
    // query; other callers pay at most a recompute if they don't.
    val assign = scoredCent
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("centroid_id"))
      .sharedCache()
    val av = all.join(assign, Seq("vec_id"))
    val q = av.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("centroid_id"))
    val scored = broadcast(q).join(av, Seq("centroid_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("centroid_id"),
        col("vec_id").as("neighbor_id"),
        cos("qv", "v").as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cosine"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 3)
      .select("query_id", "centroid_id", "rank", "neighbor_id", "cosine")
      .orderBy("query_id", "rank")
  }

  val annIvfSql: String =
    s"""WITH cscore AS (
       |  SELECT e.vec_id, c.vec_id AS centroid_id,
       |         ${cosSql("e.embedding", "c.embedding")} AS ccos
       |  FROM embeddings e JOIN embeddings c ON c.vec_id < $NumCentroids),
       |assign AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT vec_id, centroid_id,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
       |    FROM cscore) WHERE rn = 1),
       |scored AS (
       |  SELECT q.vec_id AS query_id, qa.centroid_id, e.vec_id AS neighbor_id,
       |         ${cosSql("q.embedding", "e.embedding")} AS cosine
       |  FROM embeddings q
       |  JOIN assign qa ON qa.vec_id = q.vec_id
       |  JOIN assign ea ON ea.centroid_id = qa.centroid_id
       |  JOIN embeddings e ON e.vec_id = ea.vec_id AND e.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NumQueries),
       |ranked AS (
       |  SELECT query_id, centroid_id, neighbor_id, cosine,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, centroid_id, rank, neighbor_id, cosine
       |FROM ranked WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin

  private val NumPlanes = 8
  private val Dim = 64

  /** Deterministic random-hyperplane weights: digit of md5("p_i") minus
    * 7.5 — reproducible in any engine that ships md5, so the oracle SQL
    * embeds the identical literals. */
  private lazy val planes: Seq[IndexedSeq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until NumPlanes).map { p =>
      (0 until Dim).map { i =>
        val hex = md.digest(s"${p}_$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
        Character.digit(hex.charAt(0), 16) - 7.5
      }
    }
  }

  /** ann-lsh-bucket — sign-LSH bucketing (the other scale path next to
    * IVF): each vector hashes to an 8-bit bucket via the signs of 8
    * random-hyperplane projections; near-identical vectors land in the
    * same bucket with high probability, so candidate generation becomes
    * a bucket-key self-join instead of corpus². Projections are ordered
    * folds over literal weight arrays — bit-identical across engines. */
  val annLshBucket: Q = (s, d) => {
    val e = embeddings(s, d)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val bits = planes.map { w =>
      // D-suffixed literals: a bare 2.5 parses as DECIMAL(2,1), making
      // the array decimal-typed and forcing a per-element cast inside
      // the lambda — which both costs a conversion per element and
      // blocks the DotProductRewrite pattern (it only fires on clean
      // array<double> folds)
      val arr = w.map(x => s"${x}D").mkString(", ")
      val dot = expr(
        s"aggregate(zip_with(v, array($arr), (a, b) -> a * b), CAST(0 AS DOUBLE), (acc, z) -> acc + z)")
      when(dot > 0, "1").otherwise("0")
    }
    val wB = Window.partitionBy(col("bucket"))
    e.withColumn("bucket", concat(bits: _*))
      .withColumn("n_in_bucket", count(lit(1)).over(wB).cast(LongType))
      .select("vec_id", "bucket", "n_in_bucket")
      .orderBy("vec_id")
  }

  val annLshBucketSql: String = {
    val bitExprs = planes.map { w =>
      s"CASE WHEN list_inner_product(embedding::DOUBLE[], [${w.mkString(", ")}]::DOUBLE[]) > 0 THEN '1' ELSE '0' END"
    }.mkString(",\n                ")
    s"""SELECT vec_id, bucket,
       |       CAST(count(*) OVER (PARTITION BY bucket) AS BIGINT) AS n_in_bucket
       |FROM (
       |  SELECT vec_id,
       |         concat($bitExprs) AS bucket
       |  FROM embeddings)
       |ORDER BY vec_id""".stripMargin
  }

  private val RangeTau = 0.3 // similarity floor for range search

  /** ann-range-search — threshold similarity search (the retrieval dual
    * of top-k): ALL corpus vectors within cosine ≥ τ of each query, no
    * rank cutoff — the shape used for near-duplicate harvesting and
    * retrieval-augmented filtering where recall matters more than k.
    * Same broadcast-query × partitioned-corpus plan as the brute-force
    * top-k (|Q|×|corpus|, never corpus²); the τ filter runs inside the
    * codegen'd cosine pass, so no candidate materialization. τ is
    * applied to the 9-dp-rounded score on both engines, keeping the
    * boundary bit-stable. */
  val annRangeSearch: Q = (s, d) => {
    val all = vecs(s, d)
    val q = all.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    broadcast(q).crossJoin(all)
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cos("qv", "v").as("cosine"))
      .filter(col("cosine") >= RangeTau)
      .orderBy("query_id", "neighbor_id")
  }

  val annRangeSearchSql: String =
    s"""SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |       ${cosSql("q.embedding", "c.embedding")} AS cosine
       |FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |WHERE q.vec_id < $NumQueries
       |  AND ${cosSql("q.embedding", "c.embedding")} >= $RangeTau
       |ORDER BY query_id, neighbor_id""".stripMargin

  /** emb-quantize — int8 symmetric per-vector quantization (the storage
    * path for 100 TB embedding stores: 4× smaller than fp32, and ANN
    * candidate scoring runs on the int8 codes): per-vector scale =
    * max|x|/127, code = floor(x/scale + 0.5) — explicit floor-plus-half
    * instead of round() because engines disagree on round's tie rule,
    * while IEEE divide/add/floor are bit-identical everywhere. The op
    * grades the reconstruction error per label. Shape: posexplode keeps
    * everything codegen (no interpreted array HOFs in the hot path);
    * the per-vector max is a window partitioned by vec_id (64 rows per
    * group, dense); per-vec RMSE is rounded to 9 dp BEFORE the
    * label-level mean so cross-engine summation order can't drift the
    * aggregation input. */
  val embQuantize: Q = (s, d) => {
    val el = embeddings(s, d)
      .select(col("vec_id"), col("label"), explode(col("embedding")).as("xf"))
      .withColumn("x", col("xf").cast(DoubleType))
    val wv = Window.partitionBy("vec_id")
    val err = el
      .withColumn("scale", max(abs(col("x"))).over(wv) / 127.0)
      .withColumn("code", floor(col("x") / col("scale") + 0.5))
      .withColumn("e", col("x") - col("code") * col("scale"))
    val perVec = err.groupBy("vec_id", "label")
      .agg(round(sqrt(avg(col("e") * col("e"))), 9).as("rmse"),
        max(col("scale")).as("scale"),
        max(abs(col("code"))).as("max_code"))
    perVec.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("rmse")), 6).as("avg_rmse"),
        round(max(col("scale")) * 127.0, 6).as("max_amax"),
        max(col("max_code")).as("max_code"))
      .orderBy("label")
  }

  val embQuantizeSql: String =
    """WITH el AS (
      |  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |sc AS (
      |  SELECT vec_id, max(abs(x)) / 127.0 AS scale FROM el GROUP BY vec_id),
      |err AS (
      |  SELECT el.vec_id, el.label, sc.scale,
      |         floor(el.x / sc.scale + 0.5) AS code,
      |         el.x - floor(el.x / sc.scale + 0.5) * sc.scale AS e
      |  FROM el JOIN sc USING (vec_id)),
      |pv AS (
      |  SELECT vec_id, label, round(sqrt(avg(e * e)), 9) AS rmse,
      |         max(scale) AS scale, CAST(max(abs(code)) AS BIGINT) AS max_code
      |  FROM err GROUP BY vec_id, label)
      |SELECT label, count(*) AS n_vecs, round(avg(rmse), 6) AS avg_rmse,
      |       round(max(scale) * 127.0, 6) AS max_amax, max(max_code) AS max_code
      |FROM pv
      |GROUP BY label
      |ORDER BY label""".stripMargin

  /** emb-kmeans-assign — one Lloyd's-iteration assignment step with the
    * label column as the seed partition: per-label centroids, then every
    * vector re-assigned to its nearest centroid (squared L2, tie → lower
    * label). This is the building block of IVF training and of
    * embedding-space corpus clustering; at scale it's one map-side-
    * combined aggregate (shuffle = labels × dims) plus a broadcast of
    * the tiny centroid table against the partitioned corpus.
    *
    * Determinism: embeddings are quantized to integer micro-units with
    * floor() FIRST (floor has no round-half ties — a double→decimal
    * cast would hit exact .5 ties on ~2^-12 of float32 components,
    * where Spark rounds HALF_UP but DuckDB half-even). Centroid sums
    * are then exact longs, order-independent; centroid components are
    * one double division; distances are the identical left-fold
    * dot-product expansion on both engines, floored at output. */
  val embKmeansAssign: Q = (s, d) => {
    graft.functions.DotProduct.register(s)
    val base = embeddings(s, d).select(col("vec_id"), col("label"),
      expr("quantize_lattice_long(embedding, 1000000.0D)").as("xi"))
    val comp = base.select(col("label"), posexplode(col("xi")).as(Seq("pos", "x")))
    val cent = comp.groupBy(col("label"), col("pos"))
      .agg(sum(col("x")).as("sd"), count(lit(1)).as("n"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, sd))), s -> CAST(s.sd AS DOUBLE))").as("sv"),
        max(col("n")).as("n"))
      .select(col("label").as("clabel"),
        expr("transform(sv, x -> x / CAST(n AS DOUBLE))").as("cv"))
    val v = base.withColumn("v", expr("transform(xi, x -> CAST(x AS DOUBLE))"))
    val scored = v.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("label"), col("clabel"),
        expr("dot_product(v, v) - 2 * dot_product(v, cv) + dot_product(cv, cv)").as("dist2"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("dist2").asc, col("clabel").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("vec_id"), col("label"), col("clabel").as("assigned_label"),
        floor(col("dist2") / lit(1000000.0)).cast(LongType).as("dist2_q"),
        (col("label") === col("clabel")).cast(IntegerType).as("is_own_cluster"))
      .orderBy("vec_id")
  }

  val embKmeansAssignSql: String =
    """WITH base AS (
      |  SELECT vec_id, label,
      |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xi
      |  FROM embeddings),
      |comp AS (
      |  SELECT label, unnest(xi) AS x, unnest(range(1, len(xi) + 1)) AS pos
      |  FROM base),
      |cent AS (
      |  SELECT label AS clabel,
      |         list(CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY pos) AS cv
      |  FROM (SELECT label, pos, CAST(sum(x) AS BIGINT) AS sd, count(*) AS n
      |        FROM comp GROUP BY 1, 2)
      |  GROUP BY label),
      |v AS (SELECT vec_id, label, list_transform(xi, x -> CAST(x AS DOUBLE)) AS v FROM base),
      |scored AS (
      |  SELECT vec_id, label, clabel,
      |         list_inner_product(v, v) - 2 * list_inner_product(v, cv) + list_inner_product(cv, cv) AS dist2
      |  FROM v CROSS JOIN cent),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, clabel) AS rk
      |  FROM scored)
      |SELECT vec_id, label, clabel AS assigned_label,
      |       CAST(floor(dist2 / 1000000.0) AS BIGINT) AS dist2_q,
      |       CAST(label = clabel AS INT) AS is_own_cluster
      |FROM ranked WHERE rk = 1
      |ORDER BY vec_id""".stripMargin

  /** emb-norm-outliers — embedding quality gate on the per-vector
    * peak magnitude amax = max|component|, the statistic that drives
    * int8 quantization error (see emb-quantize: scale = amax/127, so an
    * amax outlier quantizes the REST of its components coarsely). The
    * corpus is unit-normalized — ‖v‖² ≡ 1 ± 1e-7, measured, so a norm
    * gate would only flag float noise; amax has genuine per-vector
    * spread. One aggregate for per-label moments (shuffle = |labels|
    * rows), a broadcast of that tiny stats table back onto the
    * partitioned corpus for the 2σ flag pass, one final aggregate. The
    * mean/σ thresholds are rounded to 6 dp BEFORE the comparison so
    * both engines flag against bit-identical cutoffs — the fp noise of
    * the moment sums never reaches the verdict. */
  val embNormOutliers: Q = (s, d) => {
    val v = embeddings(s, d).select(col("vec_id"), col("label"),
      expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))").as("amax"))
    val stats = v.groupBy("label").agg(
      count(lit(1)).as("n_vecs"),
      round(sum(col("amax")) / count(lit(1)), 6).as("mean_amax"),
      // greatest(…, 0): E[x²]−E[x]² can go fractionally negative under
      // fp cancellation (near-constant amax) — Spark sqrt(neg) = NaN
      // (silently zero outliers) while DuckDB errors out
      round(sqrt(greatest(sum(col("amax") * col("amax")) / count(lit(1)) -
        pow(sum(col("amax")) / count(lit(1)), 2), lit(0.0))), 6).as("std_amax"))
    v.join(broadcast(stats), Seq("label"))
      .withColumn("is_outlier",
        (abs(col("amax") - col("mean_amax")) > lit(2.0) * col("std_amax"))
          .cast(IntegerType))
      .groupBy("label")
      .agg(max(col("n_vecs")).as("n_vecs"),
        max(col("mean_amax")).as("mean_amax"),
        max(col("std_amax")).as("std_amax"),
        sum(col("is_outlier")).as("n_outliers"))
      .orderBy("label")
  }

  val embNormOutliersSql: String =
    """WITH v AS (
      |  SELECT vec_id, label,
      |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
      |  FROM embeddings),
      |stats AS (
      |  SELECT label, count(*) AS n_vecs,
      |         round(sum(amax) / count(*), 6) AS mean_amax,
      |         round(sqrt(greatest(sum(amax * amax) / count(*) - pow(sum(amax) / count(*), 2), 0.0)), 6) AS std_amax
      |  FROM v GROUP BY label)
      |SELECT label, max(n_vecs) AS n_vecs, max(mean_amax) AS mean_amax,
      |       max(std_amax) AS std_amax,
      |       CAST(sum(CASE WHEN abs(amax - mean_amax) > 2.0 * std_amax THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM v JOIN stats USING (label)
      |GROUP BY label
      |ORDER BY label""".stripMargin

  /** ann-recall-measure — the ANN ACCURACY contract, measured (the
    * similarity-search twin of dedup-minhash-estimate): per query, how
    * many of IVF's top-3 in-bucket neighbors appear in the EXACT
    * brute-force top-3 — recall@3 in integer micro-units. At 100 TB
    * brute force is unaffordable as the serving path but affordable as
    * a sampled audit, and this measured recall (vs nprobe/centroid
    * count) is what sizes the IVF index before committing to it. */
  val annRecallMeasure: Q = (s, d) => {
    val ivf = annIvf(s, d).select(col("query_id"), col("neighbor_id"))
    val bf = annTopkBruteforce(s, d).filter(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1L))
    ivf.join(bf, Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_ivf"),
        coalesce(sum(col("hit")), lit(0L)).as("n_match"))
      .select(col("query_id"), col("n_ivf"), col("n_match"),
        floor(col("n_match") * lit(1000000L) / lit(3)).cast(LongType).as("recall_micro"))
      .orderBy("query_id")
  }

  val annRecallMeasureSql: String =
    s"""WITH ivf AS (SELECT query_id, neighbor_id FROM ($annIvfSql)),
       |bf AS (SELECT query_id, neighbor_id, 1 AS hit
       |       FROM ($annTopkBruteforceSql) WHERE rank <= 3),
       |m AS (
       |  SELECT i.query_id, count(*) AS n_ivf,
       |         CAST(coalesce(sum(b.hit), 0) AS BIGINT) AS n_match
       |  FROM ivf i
       |  LEFT JOIN bf b ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
       |  GROUP BY i.query_id)
       |SELECT query_id, n_ivf, n_match,
       |       CAST(floor(n_match * 1000000 / 3) AS BIGINT) AS recall_micro
       |FROM m
       |ORDER BY query_id""".stripMargin

  /** emb-mrl-recall — Matryoshka truncation audit: retrieval with only
    * the LEADING 16 of 64 dimensions (the MRL serving trick — 4× less
    * compute and memory per query) scored against full-dimension exact
    * top-3, per query, in integer micro-units. On MRL-trained
    * embeddings this recall stays high; on non-MRL embeddings (like
    * this synthetic corpus) it documents exactly what truncation
    * costs — either way it is the measurement that decides whether the
    * 4× cheaper index is safe to ship. Same broadcast-query shape as
    * ann-topk-bruteforce, twice. */
  val embMrlRecall: Q = (s, d) => {
    val all = vecs(s, d)
    def top3(vecCol: String => String, label: String): DataFrame = {
      val q = all.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), expr(vecCol("v")).as("qv"))
      val scored = broadcast(q).crossJoin(
          all.select(col("vec_id"), expr(vecCol("v")).as("cv")))
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(expr("cosine_similarity(qv, cv)"), 9).as("cosine"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(desc("cosine"), col("neighbor_id"))
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
        .select(col("query_id"), col("neighbor_id"))
    }
    val full = top3(v => v, "full")
    val trunc = top3(v => s"slice($v, 1, 16)", "mrl")
    trunc.join(full.withColumn("hit", lit(1L)), Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_trunc"),
        coalesce(sum(col("hit")), lit(0L)).as("n_match"))
      .select(col("query_id"), col("n_trunc"), col("n_match"),
        floor(col("n_match") * lit(1000000L) / lit(3)).cast(LongType).as("recall_micro"))
      .orderBy("query_id")
  }

  val embMrlRecallSql: String = {
    def rankedSql(vec: String): String =
      s"""SELECT query_id, neighbor_id FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         row_number() OVER (PARTITION BY q.vec_id
         |           ORDER BY ${cosSql(s"q.$vec", s"c.$vec")} DESC, c.vec_id) AS rank
         |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < $NumQueries)
         |WHERE rank <= 3""".stripMargin
    s"""WITH fulltop AS (${rankedSql("embedding")}),
       |trunctop AS (${rankedSql("embedding[1:16]")}),
       |m AS (
       |  SELECT t.query_id, count(*) AS n_trunc,
       |         CAST(coalesce(sum(CASE WHEN f.neighbor_id IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_match
       |  FROM trunctop t
       |  LEFT JOIN fulltop f ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
       |  GROUP BY t.query_id)
       |SELECT query_id, n_trunc, n_match,
       |       CAST(floor(n_match * 1000000 / 3) AS BIGINT) AS recall_micro
       |FROM m
       |ORDER BY query_id""".stripMargin
  }

  /** ann-filtered-search — metadata-filtered vector search (the
    * vector-DB "pre-filter" mode): top-3 cosine neighbors restricted
    * to the query's OWN label. The filter composes into candidate
    * generation (label equi-join BEFORE scoring), so work is
    * |Q| × |label bucket|, not |Q| × |corpus| scored-then-discarded —
    * post-filtering an unfiltered top-k is the classic recall bug this
    * op's shape avoids (a top-3 after filtering ≠ filter of top-3). */
  val annFilteredSearch: Q = (s, d) => {
    graft.functions.CosineSimilarity.register(s)
    val all = embeddings(s, d).select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val q = all.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("label"), col("v").as("qv"))
    val scored = broadcast(q).join(all, Seq("label"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("label"), col("vec_id").as("neighbor_id"),
        round(expr("cosine_similarity(qv, v)"), 9).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cosine"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select(col("query_id"), col("label"),
        col("rank").cast(IntegerType).as("rank"),
        col("neighbor_id"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  val annFilteredSearchSql: String =
    s"""WITH scored AS (
       |  SELECT q.vec_id AS query_id, q.label, c.vec_id AS neighbor_id,
       |         ${cosSql("q.embedding", "c.embedding")} AS cosine
       |  FROM embeddings q
       |  JOIN embeddings c ON c.label = q.label AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id < $NumQueries),
       |ranked AS (
       |  SELECT query_id, label, neighbor_id, cosine,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, label, CAST(rank AS INT) AS rank, neighbor_id, cosine
       |FROM ranked WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin

  /** ann-nprobe-curve — the IVF TUNING curve: recall@3 measured at
    * nprobe ∈ {1,2,4} (how many nearest centroids each query probes).
    * ann-recall-measure prices ONE configuration; this is the sweep
    * that picks it — the recall-vs-compute frontier every IVF
    * deployment sizes against before committing centroids/nprobe at
    * 100 TB. One candidate-generation pass: each (query, neighbor)
    * candidate carries the RANK of its bucket in the query's centroid
    * ordering, so "nprobe = n" is a filter (cent_rank ≤ n), not a
    * re-scoring — explode over the three n values shares the scored
    * candidates. Denominator fixed at 3·|queries|. */
  val annNprobeCurve: Q = (s, d) => {
    val all = vecs(s, d)
    val cent = all.filter(col("vec_id") < NumCentroids)
      .select(col("vec_id").as("centroid_id"), col("v").as("cv"))
    val scoredCent = all.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("centroid_id"), cos("v", "cv").as("ccos"))
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(desc("ccos"), col("centroid_id"))
    val ranked = scoredCent
      .withColumn("rn", row_number().over(wAssign)).sharedCache()
    val assign = ranked.filter(col("rn") === 1)
      .select(col("vec_id"), col("centroid_id"))
    val qProbe = ranked.filter(col("vec_id") < NumQueries && col("rn") <= 4)
      .select(col("vec_id").as("query_id"), col("centroid_id"),
        col("rn").as("cent_rank"))
    val av = all.join(assign, Seq("vec_id"))
    val cands = broadcast(qProbe)
      .join(av, Seq("centroid_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .join(all.select(col("vec_id").as("query_id"), col("v").as("qv")), Seq("query_id"))
      .select(col("query_id"), col("cent_rank"),
        col("vec_id").as("neighbor_id"), cos("qv", "v").as("cosine"))
    val bf = annTopkBruteforce(s, d).filter(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1L))
    val perProbe = cands
      .withColumn("nprobe", explode(array(lit(1), lit(2), lit(4))))
      .filter(col("cent_rank") <= col("nprobe"))
    val w = Window.partitionBy(col("nprobe"), col("query_id"))
      .orderBy(desc("cosine"), col("neighbor_id"))
    perProbe.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .join(bf, Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy("nprobe")
      .agg(coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
      .select(col("nprobe"), col("n_hits"),
        floor(col("n_hits") * lit(1000000L) / lit(3L * NumQueries)).cast(LongType)
          .as("recall_micro"))
      .orderBy("nprobe")
  }

  val annNprobeCurveSql: String =
    s"""WITH cscore AS (
       |  SELECT e.vec_id, c.vec_id AS centroid_id,
       |         ${cosSql("e.embedding", "c.embedding")} AS ccos
       |  FROM embeddings e JOIN embeddings c ON c.vec_id < $NumCentroids),
       |crank AS (
       |  SELECT vec_id, centroid_id,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
       |  FROM cscore),
       |assign AS (SELECT vec_id, centroid_id FROM crank WHERE rn = 1),
       |cands AS (
       |  SELECT q.vec_id AS query_id, qc.rn AS cent_rank, e.vec_id AS neighbor_id,
       |         ${cosSql("q.embedding", "e.embedding")} AS cosine
       |  FROM embeddings q
       |  JOIN crank qc ON qc.vec_id = q.vec_id AND qc.rn <= 4
       |  JOIN assign ea ON ea.centroid_id = qc.centroid_id
       |  JOIN embeddings e ON e.vec_id = ea.vec_id AND e.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NumQueries),
       |bf AS (SELECT query_id, neighbor_id, 1 AS hit
       |       FROM ($annTopkBruteforceSql) WHERE rank <= 3),
       |pp AS (
       |  SELECT np.nprobe, c.query_id, c.neighbor_id, c.cosine,
       |         row_number() OVER (PARTITION BY np.nprobe, c.query_id
       |                            ORDER BY c.cosine DESC, c.neighbor_id) AS rank
       |  FROM cands c
       |  JOIN (VALUES (1), (2), (4)) np(nprobe) ON c.cent_rank <= np.nprobe)
       |SELECT pp.nprobe, CAST(coalesce(sum(b.hit), 0) AS BIGINT) AS n_hits,
       |       CAST(floor(coalesce(sum(b.hit), 0) * 1000000 / ${3 * NumQueries}) AS BIGINT) AS recall_micro
       |FROM pp
       |LEFT JOIN bf b ON b.query_id = pp.query_id AND b.neighbor_id = pp.neighbor_id
       |WHERE pp.rank <= 3
       |GROUP BY pp.nprobe
       |ORDER BY pp.nprobe""".stripMargin

  /** ann-cell-balance — IVF cell-population audit: vectors per
    * centroid cell, plus the global max/min imbalance ratio repeated
    * on each row. Unbalanced cells are the IVF failure mode (one hot
    * cell = brute force again, empty cells = wasted centroids); this
    * is the 30-second health check before trusting ann-ivf's latency
    * at 100 TB, sibling of graph-degree-stats' skew pre-flight. */
  val annCellBalance: Q = (s, d) => {
    val all = vecs(s, d)
    val cent = all.filter(col("vec_id") < NumCentroids)
      .select(col("vec_id").as("centroid_id"), col("v").as("cv"))
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(desc("ccos"), col("centroid_id"))
    val assign = all.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("centroid_id"), cos("v", "cv").as("ccos"))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
    val counts = assign.groupBy("centroid_id").agg(count(lit(1)).as("n_vecs"))
    val wAll = Window.partitionBy()
    counts
      .withColumn("imbalance_ppm",
        floor(max("n_vecs").over(wAll) * lit(1000000L) / min("n_vecs").over(wAll))
          .cast(LongType))
      .orderBy("centroid_id")
  }

  val annCellBalanceSql: String =
    s"""WITH cscore AS (
       |  SELECT e.vec_id, c.vec_id AS centroid_id,
       |         ${cosSql("e.embedding", "c.embedding")} AS ccos
       |  FROM embeddings e JOIN embeddings c ON c.vec_id < $NumCentroids),
       |assign AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT vec_id, centroid_id,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
       |    FROM cscore) WHERE rn = 1),
       |counts AS (SELECT centroid_id, count(*) AS n_vecs FROM assign GROUP BY centroid_id)
       |SELECT centroid_id, n_vecs,
       |       CAST(floor((SELECT max(n_vecs) FROM counts) * 1000000 /
       |                  (SELECT min(n_vecs) FROM counts)) AS BIGINT) AS imbalance_ppm
       |FROM counts
       |ORDER BY centroid_id""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("ann-cell-balance", annCellBalance, annCellBalanceSql),
    Key("ann-nprobe-curve", annNprobeCurve, annNprobeCurveSql),
    Key("ann-recall-measure", annRecallMeasure, annRecallMeasureSql),
    Key("ann-filtered-search", annFilteredSearch, annFilteredSearchSql),
    Key("emb-mrl-recall", embMrlRecall, embMrlRecallSql),
    Key("emb-norm-outliers", embNormOutliers, embNormOutliersSql),
    Key("emb-kmeans-assign", embKmeansAssign, embKmeansAssignSql),
    Key("ann-topk-bruteforce", annTopkBruteforce, annTopkBruteforceSql),
    Key("ann-ivf", annIvf, annIvfSql),
    Key("ann-lsh-bucket", annLshBucket, annLshBucketSql),
    Key("ann-range-search", annRangeSearch, annRangeSearchSql),
    Key("emb-quantize", embQuantize, embQuantizeSql))
}
