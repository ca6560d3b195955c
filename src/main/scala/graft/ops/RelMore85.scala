package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-10 batch C: JL random projection, residual quantization,
  * centroid silhouette, exact kNN classification. All follow the Ann
  * determinism discipline: components floor-quantized to integer
  * micro-units FIRST, so every sum/dot-product is exact integer
  * arithmetic (in double — magnitudes stay < 2^53), with at most one
  * sqrt/divide per OUTPUT value, floor-quantized before compare. */
object RelMore85 extends KeyModule {

  private val Dim = 64  // fixture contract: every embedding is 64-dim
  private val JlK = 8   // projection target dimensionality

  /** emb-jl-projection — Johnson–Lindenstrauss sketching with a
    * RADEMACHER matrix: 8 sign vectors whose ±1 entries derive from
    * md5(k_j) nibble parity — a seedless, engine-portable "random"
    * matrix both engines regenerate bit-identically. Projection is 8
    * exact integer dot products per vector (64→8 = 8× smaller index,
    * the scale play: the sketch streams map-side, no shuffle), and
    * the graded output AUDITS the JL promise on a designed 10×100
    * pair panel: ratio ‖Ra−Rb‖²/(k·‖a−b‖²) should concentrate near 1.
    * Both distance sums stay exact (projected pairs via an 8-row
    * per-pair integer aggregate — k·diff² can exceed 2^53, so no
    * float dot there). */
  val embJlProjection: Q = (s, d) => {
    graft.functions.DotProduct.register(s)
    val base = embeddings(s, d).select(col("vec_id"),
      expr("quantize_lattice(embedding, 1000000.0D)").as("v"))
    val signs = s.range(JlK).select(col("id").as("k"))
      .crossJoin(s.range(Dim).select(col("id").as("j")))
      .withColumn("sgn", expr(
        "CASE WHEN (instr('0123456789abcdef', substring(md5(concat(CAST(k AS STRING), '_', CAST(j AS STRING))), 1, 1)) - 1) % 2 = 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END"))
      .groupBy("k")
      .agg(expr("transform(array_sort(collect_list(struct(j, sgn))), t -> t.sgn)").as("sv"))
    val proj = base.crossJoin(broadcast(signs))
      .select(col("vec_id"), col("k"),
        expr("CAST(dot_product(v, sv) AS BIGINT)").as("y"))
      .sharedCache()
    val qp = proj.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("k"), col("y").as("ya"))
    val tp = proj.filter(col("vec_id") >= 10 && col("vec_id") < 110)
      .select(col("vec_id").as("tid"), col("k"), col("y").as("yb"))
    val projD2 = qp.join(tp, "k")
      .groupBy("qid", "tid")
      .agg(sum((col("ya") - col("yb")) * (col("ya") - col("yb"))).as("pd2"))
    val qv = base.filter(col("vec_id") < 10).select(col("vec_id").as("qid"), col("v").as("va"))
    val tv = base.filter(col("vec_id") >= 10 && col("vec_id") < 110)
      .select(col("vec_id").as("tid"), col("v").as("vb"))
    val origD2 = qv.crossJoin(broadcast(tv))
      .select(col("qid"), col("tid"),
        expr("CAST(dot_product(va, va) - 2 * dot_product(va, vb) + dot_product(vb, vb) AS BIGINT)").as("od2"))
    val ratios = projD2.join(origD2, Seq("qid", "tid"))
      .select(floor(col("pd2").cast(DoubleType) /
        (lit(JlK.toDouble) * col("od2")) * 1e6).cast(LongType).as("rq"))
    ratios.agg(count(lit(1)).as("n_pairs"), sum("rq").as("srq"),
      min("rq").as("minr"), max("rq").as("maxr"))
      .select(col("n_pairs"),
        ratioFloor(col("srq"), col("n_pairs") * lit(1000000L), 6).as("avg_ratio"),
        (col("minr").cast(DoubleType) / 1e6).as("min_ratio"),
        (col("maxr").cast(DoubleType) / 1e6).as("max_ratio"))
  }

  val embJlProjectionSql: String =
    s"""WITH base AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS DOUBLE)) AS v
       |  FROM embeddings),
       |signs AS (
       |  SELECT k, list(CASE WHEN (strpos('0123456789abcdef', substring(md5(CAST(k AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 1)) - 1) % 2 = 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END ORDER BY j) AS sv
       |  FROM (SELECT a.range AS k, b.range AS j FROM range(0, $JlK) a CROSS JOIN range(0, $Dim) b) kj
       |  GROUP BY k),
       |proj AS (
       |  SELECT vec_id, k, CAST(list_inner_product(v, sv) AS BIGINT) AS y
       |  FROM base CROSS JOIN signs),
       |pd AS (
       |  SELECT a.vec_id AS qid, b.vec_id AS tid,
       |         sum(CAST(a.y - b.y AS HUGEINT) * (a.y - b.y)) AS pd2
       |  FROM proj a JOIN proj b ON a.k = b.k
       |  WHERE a.vec_id < 10 AND b.vec_id >= 10 AND b.vec_id < 110
       |  GROUP BY 1, 2),
       |od AS (
       |  SELECT a.vec_id AS qid, b.vec_id AS tid,
       |         CAST(list_inner_product(a.v, a.v) - 2 * list_inner_product(a.v, b.v) + list_inner_product(b.v, b.v) AS BIGINT) AS od2
       |  FROM base a CROSS JOIN base b
       |  WHERE a.vec_id < 10 AND b.vec_id >= 10 AND b.vec_id < 110),
       |r AS (
       |  SELECT CAST(floor(CAST(pd2 AS DOUBLE) / ($JlK.0 * od2) * 1e6) AS BIGINT) AS rq
       |  FROM pd JOIN od USING (qid, tid))
       |SELECT count(*) AS n_pairs,
       |       ${ratioFloorSql("sum(rq)", "(count(*) * 1000000)", 6)} AS avg_ratio,
       |       CAST(min(rq) AS DOUBLE) / 1e6 AS min_ratio,
       |       CAST(max(rq) AS DOUBLE) / 1e6 AS max_ratio
       |FROM r""".stripMargin

  /** emb-residual-quantize — two-level residual quantization (the RQ
    * half of every modern vector index): level 1 subtracts the
    * label's centroid (exact floor-div integer means — broadcastable
    * 10×64 table), level 2 scalar-quantizes the residual to int8
    * against the vector's own peak (floor((r·127)/amax) — integer
    * numerator, one double divide, floor: no tie rule in sight).
    * Graded per label: reconstruction MSE in micro-unit² (error
    * squares floored to integers BEFORE the sum, so the aggregate is
    * exact and partition-order-free) and mean |code| (how much of the
    * int8 range the residuals actually use). Storage story: 64×4
    * bytes → 64×1 + 2 scalars, with the centroid join map-side. */
  val embResidualQuantize: Q = (s, d) => {
    val comp = embeddings(s, d).select(col("vec_id"), col("label"),
      posexplode(expr("quantize_lattice_long(embedding, 1000000.0D)"))
        .as(Seq("pos", "x")))
      .sharedCache()
    val cent = comp.groupBy("label", "pos")
      .agg((sum("x") - pmod(sum("x"), count(lit(1)))).as("snum"), count(lit(1)).as("cn"))
      .select(col("label"), col("pos"), (col("snum") / col("cn")).cast(LongType).as("c"))
    val resid = comp.join(broadcast(cent), Seq("label", "pos"))
      .withColumn("r", col("x") - col("c"))
    val amax = resid.groupBy("vec_id")
      .agg(greatest(max(abs(col("r"))), lit(1L)).as("amax"))
    val coded = resid.join(amax, "vec_id")
      .withColumn("code", floor(col("r") * 127.0 / col("amax")).cast(LongType))
      .withColumn("e", col("r") - col("code") * col("amax") / 127.0)
      .withColumn("eq", floor(col("e") * col("e")).cast(LongType))
    coded.groupBy("label")
      .agg(countDistinct("vec_id").as("n_vecs"), count(lit(1)).as("n_comp"),
        sum("eq").as("seq"), sum(abs(col("code"))).as("sac"))
      .select(col("label"), col("n_vecs"),
        ratioFloor(col("seq"), col("n_comp"), 2).as("mse_micro2"),
        ratioFloor(col("sac"), col("n_comp"), 3).as("mean_abs_code"))
      .orderBy("label")
  }

  val embResidualQuantizeSql: String =
    s"""WITH comp AS (
       |  SELECT vec_id, label, unnest(xi) AS x, unnest(range(0, len(xi))) AS pos
       |  FROM (SELECT vec_id, label,
       |          list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xi
       |        FROM embeddings)),
       |cent AS (
       |  SELECT label, pos,
       |         CAST((sum(x) - ((sum(x) % count(*)) + count(*)) % count(*)) / count(*) AS BIGINT) AS c
       |  FROM comp GROUP BY 1, 2),
       |resid AS (
       |  SELECT comp.vec_id, comp.label, comp.x - cent.c AS r
       |  FROM comp JOIN cent ON comp.label = cent.label AND comp.pos = cent.pos),
       |am AS (SELECT vec_id, greatest(max(abs(r)), 1) AS amax FROM resid GROUP BY 1),
       |coded AS (
       |  SELECT label, resid.vec_id,
       |         CAST(floor(r * 127.0 / amax) AS BIGINT) AS code,
       |         r - CAST(floor(r * 127.0 / amax) AS BIGINT) * amax / 127.0 AS e
       |  FROM resid JOIN am ON resid.vec_id = am.vec_id)
       |SELECT label, count(DISTINCT vec_id) AS n_vecs,
       |       ${ratioFloorSql("sum(CAST(floor(e * e) AS BIGINT))", "count(*)", 2)} AS mse_micro2,
       |       ${ratioFloorSql("sum(abs(code))", "count(*)", 3)} AS mean_abs_code
       |FROM coded GROUP BY label ORDER BY label""".stripMargin

  /** emb-silhouette — centroid-based silhouette score per label:
    * a = distance to own centroid, b = distance to the nearest OTHER
    * centroid, s = (b−a)/max(a,b) ∈ [−1,1]. The medoid-free variant
    * every clustering QA dashboard uses at scale (O(n·k) against a
    * broadcast centroid table, vs O(n²) for true silhouette).
    * Centroids are exact floor-div integer means; per-point distances
    * are exact integer dot-product expansions; each point's s is one
    * sqrt+divide, floor-quantized to 1e-6 BEFORE the per-label
    * average (exact long sum — no float accumulation). Negative s =
    * point sits closer to a foreign centroid: the misplacement count
    * is the actionable column. */
  val embSilhouette: Q = (s, d) => {
    graft.functions.DotProduct.register(s)
    val base = embeddings(s, d).select(col("vec_id"), col("label"),
      expr("quantize_lattice_long(embedding, 1000000.0D)").as("xi"))
      .sharedCache()
    val comp = base.select(col("label"), posexplode(col("xi")).as(Seq("pos", "x")))
    val cent = comp.groupBy("label", "pos")
      .agg((sum("x") - pmod(sum("x"), count(lit(1)))).as("snum"), count(lit(1)).as("cn"))
      .select(col("label"), col("pos"),
        (col("snum") / col("cn")).cast(LongType).cast(DoubleType).as("cc"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(pos, cc))), t -> t.cc)").as("cv"))
      .select(col("label").as("clabel"), col("cv"))
    val v = base.withColumn("v", expr("transform(xi, x -> CAST(x AS DOUBLE))"))
    val scored = v.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("label"), col("clabel"),
        expr("dot_product(v, v) - 2 * dot_product(v, cv) + dot_product(cv, cv)").as("dist2"))
    val perPoint = scored.groupBy("vec_id", "label")
      .agg(min(when(col("clabel") === col("label"), col("dist2"))).as("a2"),
        min(when(col("clabel") =!= col("label"), col("dist2"))).as("b2"))
      .select(col("label"),
        floor((sqrt(col("b2")) - sqrt(col("a2"))) /
          greatest(sqrt(col("a2")), sqrt(col("b2"))) * 1e6).cast(LongType).as("sq"))
    perPoint.groupBy("label")
      .agg(count(lit(1)).as("n"), sum("sq").as("ssq"),
        sum(when(col("sq") < 0, 1L).otherwise(0L)).as("n_misplaced"))
      .select(col("label"), col("n"),
        ratioFloor(col("ssq"), col("n") * lit(1000000L), 6).as("avg_silhouette"),
        col("n_misplaced"))
      .orderBy("label")
  }

  val embSilhouetteSql: String =
    s"""WITH base AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xi
       |  FROM embeddings),
       |comp AS (
       |  SELECT label, unnest(xi) AS x, unnest(range(0, len(xi))) AS pos FROM base),
       |centc AS (
       |  SELECT label, pos,
       |         CAST((sum(x) - ((sum(x) % count(*)) + count(*)) % count(*)) / count(*) AS BIGINT) AS c
       |  FROM comp GROUP BY 1, 2),
       |cent AS (
       |  SELECT label AS clabel, list(CAST(c AS DOUBLE) ORDER BY pos) AS cv
       |  FROM centc GROUP BY label),
       |v AS (SELECT vec_id, label, list_transform(xi, x -> CAST(x AS DOUBLE)) AS v FROM base),
       |scored AS (
       |  SELECT vec_id, label, clabel,
       |         list_inner_product(v, v) - 2 * list_inner_product(v, cv) + list_inner_product(cv, cv) AS dist2
       |  FROM v CROSS JOIN cent),
       |pp AS (
       |  SELECT label,
       |         CAST(floor((sqrt(min(CASE WHEN clabel <> label THEN dist2 END)) -
       |                     sqrt(min(CASE WHEN clabel = label THEN dist2 END))) /
       |                    greatest(sqrt(min(CASE WHEN clabel = label THEN dist2 END)),
       |                             sqrt(min(CASE WHEN clabel <> label THEN dist2 END))) * 1e6) AS BIGINT) AS sq
       |  FROM scored GROUP BY vec_id, label)
       |SELECT label, count(*) AS n,
       |       ${ratioFloorSql("sum(sq)", "(count(*) * 1000000)", 6)} AS avg_silhouette,
       |       CAST(sum(CASE WHEN sq < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_misplaced
       |FROM pp GROUP BY label ORDER BY label""".stripMargin

  private val KnnK = 5

  /** emb-knn-classify — exact k-NN label prediction, graded as a
    * classifier: a designed 50-query panel (vec_id < 50, held out of
    * the corpus) is scored against every corpus vector with the exact
    * integer dot-product distance, the top-5 vote by (count desc,
    * label asc) — fully deterministic, no tie left to chance — and
    * the output is the per-true-label accuracy table. The QUERY side
    * broadcasts (designed constant panel), so the corpus scan is one
    * map-side pass at any scale; the per-query top-k is a bounded
    * window over n_queries×k candidate rows. The honest exact
    * baseline every ANN recall measurement needs (compare
    * ann-recall-measure, which grades the approximate path against
    * exactly this). */
  val embKnnClassify: Q = (s, d) => {
    graft.functions.DotProduct.register(s)
    val base = embeddings(s, d).select(col("vec_id"), col("label"),
      expr("quantize_lattice(embedding, 1000000.0D)").as("v"))
    val q = base.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("label").as("true_label"), col("v").as("qv"))
    val corpus = base.filter(col("vec_id") >= 50)
      .select(col("vec_id").as("cid"), col("label").as("clabel"), col("v").as("cv"))
    val scored = corpus.crossJoin(broadcast(q))
      .select(col("qid"), col("true_label"), col("cid"), col("clabel"),
        expr("CAST(dot_product(qv, qv) - 2 * dot_product(qv, cv) + dot_product(cv, cv) AS BIGINT)").as("dist2"))
    val w = Window.partitionBy("qid").orderBy(col("dist2").asc, col("cid").asc)
    val topk = scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= KnnK)
    val vote = topk.groupBy("qid", "true_label", "clabel").agg(count(lit(1)).as("votes"))
    val wv = Window.partitionBy("qid").orderBy(col("votes").desc, col("clabel").asc)
    val pred = vote.withColumn("vr", row_number().over(wv)).filter(col("vr") === 1)
      .select(col("qid"), col("true_label"), col("clabel").as("pred_label"))
    pred.groupBy("true_label")
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("pred_label") === col("true_label"), 1L).otherwise(0L)).as("n_correct"))
      .select(col("true_label"), col("n_queries"), col("n_correct"),
        ratioFloor(col("n_correct"), col("n_queries"), 4).as("accuracy"))
      .orderBy("true_label")
  }

  val embKnnClassifySql: String =
    s"""WITH base AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding, x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS DOUBLE)) AS v
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS qid, q.label AS true_label, c.vec_id AS cid, c.label AS clabel,
       |         CAST(list_inner_product(q.v, q.v) - 2 * list_inner_product(q.v, c.v) + list_inner_product(c.v, c.v) AS BIGINT) AS dist2
       |  FROM base q CROSS JOIN base c
       |  WHERE q.vec_id < 50 AND c.vec_id >= 50),
       |topk AS (
       |  SELECT * FROM (
       |    SELECT qid, true_label, clabel,
       |           row_number() OVER (PARTITION BY qid ORDER BY dist2, cid) AS rk
       |    FROM scored) t WHERE rk <= $KnnK),
       |vote AS (
       |  SELECT qid, true_label, clabel, count(*) AS votes
       |  FROM topk GROUP BY 1, 2, 3),
       |pred AS (
       |  SELECT qid, true_label, clabel AS pred_label FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY votes DESC, clabel) AS vr
       |    FROM vote) t WHERE vr = 1)
       |SELECT true_label, count(*) AS n_queries,
       |       CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |       ${ratioFloorSql("sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)", "count(*)", 4)} AS accuracy
       |FROM pred GROUP BY true_label ORDER BY true_label""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("emb-jl-projection", embJlProjection, embJlProjectionSql),
    Key("emb-residual-quantize", embResidualQuantize, embResidualQuantizeSql),
    Key("emb-silhouette", embSilhouette, embSilhouetteSql),
    Key("emb-knn-classify", embKnnClassify, embKnnClassifySql))
}
