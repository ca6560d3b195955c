package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-14 batch A: second consumer of the density family's IVF scale
  * path (r13 verdict item 3) — mutual nearest neighbors re-derived
  * from IVF-probed candidates and graded against the exact answer. */
object RelMore224 extends KeyModule {

  /** emb-mutual-nn-ivf — emb-mutual-nn-pairs' 100 TB path, graded:
    * reciprocal 1-NN where each side's nearest neighbor is searched
    * only among IVF candidates (RelMore168.ivfIndex: nearest-of-8-
    * lowest-id centroids assignment, 2-cell probe) instead of the
    * exact |corpus|² pair table, then the IDENTICAL mutuality
    * self-join. Grading is two-sided, which matters for mutual pairs
    * specifically: an IVF miss can both DROP a true mutual pair (b's
    * true NN outside a's probed cells) and INVENT a false one (both
    * endpoints agree on second-best neighbors because the true ones
    * are unreachable) — so the op emits per-pair precision
    * (`in_exact_mutual`) AND corpus recall (`recall_pm` = shared
    * pairs / exact pairs, permille), plus the measured candidate
    * fraction, on the top-10 closest IVF mutual pairs. The exact
    * branch reads the per-process kNN store (knnExactStored, rk=1) —
    * the grading fixture, not the serving path; production reads the
    * IVF branch alone, whose candidate volume at √n cells is ~2/√n
    * of exact (the same two-join shape emb-lof-ivf ships). SCALE:
    * probe×assign is a same-cell equi-join with the small side
    * broadcast; the mutuality check is a self-join on an n-row 1-NN
    * map, shuffled by (i,j) — no corpus-sized window, no cartesian.
    * COST CONTRACT (sf0.1 local[32]): family band — the IVF probe
    * branch (~1/4 of exact pairs at 2/8 cells) plus one read of the
    * warm kNN store; steady well under the emb audit band's 3 s.
    * Ref behavior anchor: the reference's dedup candidate review
    * queue (07_construccion_dwh.sql's pair-match staging) starts
    * from highest-confidence pairs — mutual 1-NN is that set for
    * embeddings. */
  val embMutualNnIvf: Q = (s, d) => {
    val st = RelMore168.ivfKnnStored(s, d)
    val candFracPm = st.agg(max("cand_frac_pm")).head.getLong(0)
    val nnIvf = st.filter(col("rk") === 1)
      .select("i", "j", "d2").sharedCache()
    nnIvf.count() // single-stage fill: the mutuality self-join reads it twice
    val mutualIvf = nnIvf.as("x").join(nnIvf.as("y"),
        expr("x.i = y.j AND x.j = y.i AND x.i < x.j"))
      .select(col("x.i").as("vec_a"), col("x.j").as("vec_b"), col("x.d2").as("d2"))
    val nnEx = RelMore168.knnExactStored(s, d)
      .filter(col("rk") === 1)
      .select("i", "j").sharedCache()
    nnEx.count() // fill: read twice by its own mutuality self-join
    val mutualEx = nnEx.as("x").join(nnEx.as("y"),
        expr("x.i = y.j AND x.j = y.i AND x.i < x.j"))
      .select(col("x.i").as("vec_a"), col("x.j").as("vec_b"))
    val graded = mutualIvf
      .join(mutualEx.withColumn("hit", lit(true)), Seq("vec_a", "vec_b"), "left")
      .withColumn("in_exact_mutual", coalesce(col("hit"), lit(false)))
      .drop("hit")
      .sharedCache()
    graded.count() // fill: counts + top-10 both read it
    val counts = graded.agg(
        count(lit(1)).as("n_mutual_ivf"),
        sum(when(col("in_exact_mutual"), 1L).otherwise(0L)).as("n_common"))
      .crossJoin(mutualEx.agg(count(lit(1)).as("n_mutual_exact")))
    val top = graded.orderBy(col("d2"), col("vec_a")).limit(10)
    val ranked = graft.functions.PrefixScan.withRankCumSum(
      top, Seq(col("d2").asc, col("vec_a")), None, rankName = "rank").df
    ranked.crossJoin(broadcast(counts))
      .select(col("rank"), col("vec_a"), col("vec_b"),
        round(sqrt(col("d2").cast(DoubleType)) / lit(1e3), 6).as("distance"),
        col("in_exact_mutual"),
        col("n_mutual_ivf"),
        col("n_mutual_exact"),
        expr("CAST(n_common * 1000 DIV n_mutual_exact AS BIGINT)").as("recall_pm"),
        lit(candFracPm).as("cand_frac_pm"))
      .orderBy("rank")
  }

  /** The IVF candidate-generation CTE block shared by every oracle in
    * this family — the SQL twin of RelMore168.ivfIndex + ivfKnnEdges'
    * candidate stage (centroids = 8 lowest vec_ids, nprobe 2, measured
    * candidate count in `cand`). */
  private val ivfCtesSql: String =
    s"""base AS (${RelMore168.latticeSql}),
      |based AS MATERIALIZED (${RelMore168.basedSql}),
      |p AS (${RelMore168.pairsSql}),
      |cscore AS (
      |  SELECT b.vec_id, c.vec_id AS centroid_id,
      |         CAST(b.nq + c.nq - 2 * list_inner_product(b.v, c.v) AS BIGINT) AS cd2
      |  FROM based b
      |  JOIN (SELECT * FROM based ORDER BY vec_id LIMIT 8) c ON true),
      |cr AS (
      |  SELECT vec_id, centroid_id,
      |         row_number() OVER (PARTITION BY vec_id ORDER BY cd2, centroid_id) AS crn
      |  FROM cscore),
      |assign AS (SELECT vec_id, centroid_id FROM cr WHERE crn = 1),
      |probes AS (SELECT vec_id AS i, centroid_id FROM cr WHERE crn <= 2),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM based),
      |cand AS (
      |  SELECT CAST(sum(sz * pc) AS BIGINT) - max(nn.n) AS n_cand, max(nn.n) AS n
      |  FROM (SELECT centroid_id, CAST(count(*) AS BIGINT) AS sz FROM assign GROUP BY 1) s
      |  JOIN (SELECT centroid_id, CAST(count(*) AS BIGINT) AS pc FROM probes GROUP BY 1) q
      |    USING (centroid_id)
      |  CROSS JOIN nn),
      |icand AS (
      |  SELECT pr.i, a.vec_id AS j,
      |         CAST(bi.nq + bj.nq - 2 * list_inner_product(bi.v, bj.v) AS BIGINT) AS d2
      |  FROM probes pr
      |  JOIN based bi ON bi.vec_id = pr.i
      |  JOIN assign a ON a.centroid_id = pr.centroid_id AND a.vec_id <> pr.i
      |  JOIN based bj ON bj.vec_id = a.vec_id)""".stripMargin

  val embMutualNnIvfSql: String =
    s"""WITH $ivfCtesSql,
      |innv AS MATERIALIZED (
      |  SELECT i, j, d2 FROM (
      |    SELECT i, j, d2, row_number() OVER (PARTITION BY i ORDER BY d2, j) AS rk
      |    FROM icand) t
      |  WHERE rk = 1),
      |mivf AS MATERIALIZED (
      |  SELECT x.i AS vec_a, x.j AS vec_b, x.d2
      |  FROM innv x JOIN innv y ON x.i = y.j AND x.j = y.i AND x.i < x.j),
      |ennv AS MATERIALIZED (
      |  SELECT i, j FROM (
      |    SELECT i, j, row_number() OVER (PARTITION BY i ORDER BY d2, j) AS rk
      |    FROM p) t
      |  WHERE rk = 1),
      |mex AS MATERIALIZED (
      |  SELECT x.i AS vec_a, x.j AS vec_b
      |  FROM ennv x JOIN ennv y ON x.i = y.j AND x.j = y.i AND x.i < x.j),
      |counts AS (
      |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM mivf) AS n_mutual_ivf,
      |         (SELECT CAST(count(*) AS BIGINT) FROM mex) AS n_mutual_exact,
      |         (SELECT CAST(count(*) AS BIGINT)
      |          FROM mivf m JOIN mex e USING (vec_a, vec_b)) AS n_common),
      |top AS (
      |  SELECT m.vec_a, m.vec_b, m.d2,
      |         e.vec_a IS NOT NULL AS in_exact_mutual,
      |         row_number() OVER (ORDER BY m.d2, m.vec_a) AS rank
      |  FROM mivf m
      |  LEFT JOIN mex e ON e.vec_a = m.vec_a AND e.vec_b = m.vec_b)
      |SELECT t.rank, t.vec_a, t.vec_b,
      |       round(sqrt(CAST(t.d2 AS DOUBLE)) / 1000.0, 6) AS distance,
      |       t.in_exact_mutual,
      |       c.n_mutual_ivf, c.n_mutual_exact,
      |       c.n_common * 1000 // c.n_mutual_exact AS recall_pm,
      |       cd.n_cand * 1000 // (cd.n * (cd.n - 1)) AS cand_frac_pm
      |FROM top t CROSS JOIN counts c CROSS JOIN cand cd
      |WHERE t.rank <= 10
      |ORDER BY t.rank""".stripMargin

  /** emb-kdist-elbow-ivf — the k-distance decile curve (emb-kdist-
    * elbow's DBSCAN-ε sizing diagnostic) computed from IVF-probed
    * candidates and graded per-decile against the exact curve. The
    * failure mode is DIRECTIONAL and this op measures it: candidate
    * truncation can only push a point's apparent 5th-NN FARTHER
    * (a missed true neighbor is replaced by a worse candidate), so
    * the IVF curve is a pointwise UPPER envelope of the exact one,
    * and err_pm quantifies the inflation the ε-picker would inherit
    * at each decile. Each curve uses its own n (a vector with < 5
    * IVF candidates drops out of the IVF curve rather than fake a
    * 5th distance). SCALE: two PrefixScan two-passes over n-row
    * k-dist tables + the shared ivfKnnEdges candidate stage; the
    * exact branch reads the per-process store (grading fixture; the
    * serving path at 100 TB is the IVF branch alone). COST CONTRACT
    * (sf0.1 local[32]): IVF probe + two range-exchange scans on 2k
    * rows — emb audit band, steady ≲ 3 s warm. Ref behavior anchor:
    * the reference sizes validation thresholds from profiled
    * distributions (08_validacionsql.sql's QA bounds); the k-dist
    * elbow is that sizing step for density clustering. */
  val embKdistElbowIvf: Q = (s, d) => {
    val st = RelMore168.ivfKnnStored(s, d)
    val candFracPm = st.agg(max("cand_frac_pm")).head.getLong(0)
    def decileCurve(kd: DataFrame, vName: String): DataFrame = {
      val sc = graft.functions.PrefixScan.withRankCumSum(
        kd, Seq(col("kd2"), col("i")), None, rankName = "rn")
      val n = sc.n
      val cuts = (1 to 10).map(q => (q.toLong * n) / 10).toSet
      sc.df.filter(col("rn").isin(cuts.toSeq: _*))
        .select(expr(s"CAST((rn * 10 + ${n}L - 1) div ${n}L AS INT)").as("decile"),
          expr("CAST(floor(sqrt(CAST(kd2 AS DOUBLE)) + 0.5) AS BIGINT)").as(vName))
    }
    val ex = decileCurve(
      RelMore168.knnExactStored(s, d).filter(col("rk") === RelMore168.MinPts)
        .select(col("i"), col("d2").as("kd2")), "kdist_exact_milli")
    val iv = decileCurve(
      st.filter(col("rk") === RelMore168.MinPts)
        .select(col("i"), col("d2").as("kd2")), "kdist_ivf_milli")
    ex.join(iv, Seq("decile"))
      .select(col("decile"), col("kdist_exact_milli"), col("kdist_ivf_milli"),
        expr("CAST(abs(kdist_ivf_milli - kdist_exact_milli) * 1000 " +
          "DIV greatest(kdist_exact_milli, 1L) AS BIGINT)").as("err_pm"),
        lit(candFracPm).as("cand_frac_pm"))
      .orderBy("decile")
  }

  val embKdistElbowIvfSql: String =
    s"""WITH $ivfCtesSql,
      |kdx AS (
      |  SELECT i, d2 AS kd2 FROM (
      |    SELECT i, d2, row_number() OVER (PARTITION BY i ORDER BY d2, j) AS rk
      |    FROM p) t
      |  WHERE rk = ${RelMore168.MinPts}),
      |kdi AS (
      |  SELECT i, d2 AS kd2 FROM (
      |    SELECT i, d2, row_number() OVER (PARTITION BY i ORDER BY d2, j) AS rk
      |    FROM icand) t
      |  WHERE rk = ${RelMore168.MinPts}),
      |rx AS (
      |  SELECT kd2, row_number() OVER (ORDER BY kd2, i) AS rn,
      |         count(*) OVER () AS n
      |  FROM kdx),
      |ri AS (
      |  SELECT kd2, row_number() OVER (ORDER BY kd2, i) AS rn,
      |         count(*) OVER () AS n
      |  FROM kdi),
      |dx AS (
      |  SELECT CAST((rn * 10 + n - 1) // n AS INT) AS decile,
      |         CAST(floor(sqrt(CAST(kd2 AS DOUBLE)) + 0.5) AS BIGINT) AS kdist_exact_milli
      |  FROM rx
      |  WHERE rn IN (SELECT (q * n) // 10
      |               FROM (SELECT unnest(generate_series(1, 10)) AS q)
      |               CROSS JOIN (SELECT max(n) AS n FROM rx) t)),
      |di AS (
      |  SELECT CAST((rn * 10 + n - 1) // n AS INT) AS decile,
      |         CAST(floor(sqrt(CAST(kd2 AS DOUBLE)) + 0.5) AS BIGINT) AS kdist_ivf_milli
      |  FROM ri
      |  WHERE rn IN (SELECT (q * n) // 10
      |               FROM (SELECT unnest(generate_series(1, 10)) AS q)
      |               CROSS JOIN (SELECT max(n) AS n FROM ri) t))
      |SELECT dx.decile, dx.kdist_exact_milli, di.kdist_ivf_milli,
      |       abs(di.kdist_ivf_milli - dx.kdist_exact_milli) * 1000
      |         // greatest(dx.kdist_exact_milli, 1) AS err_pm,
      |       cd.n_cand * 1000 // (cd.n * (cd.n - 1)) AS cand_frac_pm
      |FROM dx JOIN di USING (decile) CROSS JOIN cand cd
      |ORDER BY dx.decile""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("emb-mutual-nn-ivf", embMutualNnIvf, embMutualNnIvfSql),
    Key("emb-kdist-elbow-ivf", embKdistElbowIvf, embKdistElbowIvfSql))
}
