package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-8 batch O: Matryoshka truncation-recall, contrastive
  * hard-negative mining, isotonic regression via the minimax closed
  * form, and hash-deterministic RANSAC line fitting. */
object RelMore179 extends KeyModule {

  /** Milli-quantized lattice (the emb-family standard): integer
    * coordinates carried as doubles so dot_product folds are exact. */
  private def lattice(s: SparkSession, d: String): DataFrame = {
    graft.functions.DotProduct.register(s)
    graft.functions.QuantizeLattice.register(s)
    embeddings(s, d).select(col("vec_id"), col("label"),
      expr("quantize_lattice(embedding, 1000.0D)").as("v"))
  }

  private val latticeSql: String =
    """SELECT vec_id, label,
      |       list_transform(embedding,
      |         x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS DOUBLE)) AS v
      |FROM embeddings""".stripMargin

  /** emb-matryoshka-recall — the measurement behind Matryoshka
    * representation learning: if you keep only the first m of 64
    * dims, how much of the full-dim top-5 neighbor set survives?
    * Truth and truncated rankings both use EXACT integer lattice d²
    * (suffix norms via one dot_product per vector per m, norm
    * expansion per pair) with vec_id tiebreaks, so the recall figure
    * is bit-stable. 20 fixed query vectors × corpus is the fixture
    * path; at real scale the candidate set comes from the IVF family
    * (ann-ivf) and this op grades the truncation, not the search. */
  val embMatryoshkaRecall: Q = (s, d) => {
    val base = lattice(s, d).sharedCache()
    val dims = Seq(8, 16, 32, 64)
    val sliced = dims.map { m =>
      base.select(lit(m).as("m"), col("vec_id"),
        expr(s"slice(v, 1, $m)").as("vm"))
        .withColumn("nq", expr("dot_product(vm, vm)"))
    }.reduce(_ unionAll _)
    val q = sliced.filter(col("vec_id") < 20)
      .select(col("m"), col("vec_id").as("qid"), col("vm").as("qv"),
        col("nq").as("qn"))
    val top = q.join(sliced, Seq("m"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("m"), col("qid"), col("vec_id"),
        expr("CAST(qn + nq - 2 * dot_product(qv, vm) AS BIGINT)").as("d2"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("m", "qid").orderBy(col("d2"), col("vec_id"))))
      .filter(col("rk") <= 5)
      .select(col("m"), col("qid"), col("vec_id"))
    val truth = top.filter(col("m") === 64)
      .select(col("qid"), col("vec_id"))
    top.join(truth, Seq("qid", "vec_id"))
      .groupBy("m").agg(count(lit(1)).as("hits"))
      .select(col("m"),
        round(col("hits").cast(DoubleType) / (20 * 5), 4).as("recall_at5"))
      .orderBy("m")
  }

  val embMatryoshkaRecallSql: String =
    s"""WITH base AS MATERIALIZED ($latticeSql),
      |sliced AS MATERIALIZED (
      |  SELECT m, vec_id, v[1:m] AS vm,
      |         list_inner_product(v[1:m], v[1:m]) AS nq
      |  FROM base CROSS JOIN (SELECT unnest([8, 16, 32, 64]) AS m) u),
      |q AS (SELECT m, vec_id AS qid, vm AS qv, nq AS qn FROM sliced
      |      WHERE vec_id < 20),
      |scored AS (
      |  SELECT q.m, q.qid, s.vec_id,
      |         CAST(q.qn + s.nq - 2 * list_inner_product(q.qv, s.vm) AS BIGINT) AS d2
      |  FROM q JOIN sliced s ON q.m = s.m AND s.vec_id <> q.qid),
      |top AS (
      |  SELECT m, qid, vec_id FROM (
      |    SELECT m, qid, vec_id,
      |           row_number() OVER (PARTITION BY m, qid ORDER BY d2, vec_id) AS rk
      |    FROM scored) t WHERE rk <= 5),
      |truth AS (SELECT qid, vec_id FROM top WHERE m = 64)
      |SELECT m, round(CAST(count(*) AS DOUBLE) / 100, 4) AS recall_at5
      |FROM top JOIN truth USING (qid, vec_id)
      |GROUP BY m ORDER BY m""".stripMargin

  /** sample-hard-negative — hard-negative mining for contrastive
    * training: for each anchor, the 3 CLOSEST vectors with a
    * DIFFERENT label (exact lattice d², vec_id tiebreak) — the
    * negatives that actually move the loss, vs easy random ones.
    * Anchors are the 20 lowest vec_ids; the fixture path scans the
    * corpus per anchor, the scale path generates candidates from
    * shared IVF cells first (ann-ivf) and verifies exactly — the
    * ranking tail here is unchanged either way. */
  val sampleHardNegative: Q = (s, d) => {
    val base = lattice(s, d).withColumn("nq", expr("dot_product(v, v)"))
      .sharedCache()
    val anchors = base.filter(col("vec_id") < 20)
      .select(col("vec_id").as("anchor"), col("label").as("alabel"),
        col("v").as("av"), col("nq").as("an"))
    anchors.join(base, col("label") =!= col("alabel"))
      .select(col("anchor"), col("alabel"), col("vec_id").as("neg_id"),
        col("label").as("neg_label"),
        expr("CAST(an + nq - 2 * dot_product(av, v) AS BIGINT)").as("d2"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("anchor").orderBy(col("d2"), col("neg_id"))))
      .filter(col("rk") <= 3)
      .select(col("anchor"), col("alabel"), col("rk").cast(IntegerType).as("rk"),
        col("neg_id"), col("neg_label"), col("d2"))
      .orderBy("anchor", "rk")
  }

  val sampleHardNegativeSql: String =
    s"""WITH base AS MATERIALIZED (
      |  SELECT vec_id, label, v, list_inner_product(v, v) AS nq
      |  FROM ($latticeSql) l),
      |anchors AS (SELECT vec_id AS anchor, label AS alabel, v AS av, nq AS an
      |            FROM base WHERE vec_id < 20),
      |scored AS (
      |  SELECT anchor, alabel, b.vec_id AS neg_id, b.label AS neg_label,
      |         CAST(an + b.nq - 2 * list_inner_product(av, b.v) AS BIGINT) AS d2
      |  FROM anchors JOIN base b ON b.label <> alabel)
      |SELECT anchor, alabel, CAST(rk AS INTEGER) AS rk, neg_id, neg_label, d2
      |FROM (
      |  SELECT *, row_number() OVER (PARTITION BY anchor ORDER BY d2, neg_id) AS rk
      |  FROM scored) t
      |WHERE rk <= 3 ORDER BY anchor, rk""".stripMargin

  /** agg-isotonic-minimax — isotonic (monotone nondecreasing)
    * regression of monthly mean order price on time, via the MINIMAX
    * closed form ŷ_i = max_{j≤i} min_{k≥i} mean(y[j..k]) — the exact
    * PAVA solution without PAVA's sequential pooling loop, which is
    * what makes it expressible as three bounded window passes over
    * the ~80-month frame (span means from prefix sums; suffix-min
    * per start month; prefix-max per end month). Span means are
    * floor-микро integers so every comparison is exact. The fact
    * scan is one map-side month aggregate. */
  val aggIsotonicMinimax: Q = (s, d) => {
    val monthly = orders(s, d)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("mon"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .as("sc"), count(lit(1)).as("nn"))
      .select(col("mon"), expr("CAST(sc * 1000 DIV nn AS BIGINT)").as("y"))
      .withColumn("i", row_number().over(Window.orderBy("mon")).cast(LongType))
    val pre = monthly.select(col("i"), col("y"))
      .withColumn("p", sum("y").over(
        Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)))
    val spans = pre.as("a").join(pre.as("b"), col("a.i") <= col("b.i"))
      .select(col("a.i").as("j"), col("b.i").as("k"),
        expr("CAST((b.p - a.p + a.y) * 1000 DIV (b.i - a.i + 1) AS BIGINT)")
          .as("mu"))
    val sufMin = spans.withColumn("sm", min("mu").over(
      Window.partitionBy("j").orderBy(col("k").desc)
        .rowsBetween(Window.unboundedPreceding, 0)))
    val fit = sufMin.select(col("j"), col("k").as("i"), col("sm"))
      .groupBy("i").agg(max("sm").as("fit_u"))
    val joined = monthly.join(fit, Seq("i"))
      .withColumn("prev_fit", lag("fit_u", 1).over(Window.orderBy("i")))
      .withColumn("prev_y", lag("y", 1).over(Window.orderBy("i")))
    joined.agg(
      count(lit(1)).as("n_months"),
      sum(when(col("prev_y").isNotNull && col("y") < col("prev_y"), 1L)
        .otherwise(0L)).cast(LongType).as("raw_violations"),
      sum(when(col("prev_fit").isNotNull && col("fit_u") < col("prev_fit"), 1L)
        .otherwise(0L)).cast(LongType).as("fit_violations"),
      countDistinct(col("fit_u")).as("n_segments"),
      round(min("fit_u").cast(DoubleType) / 1e6, 2).as("fit_first_dollars"),
      round(max("fit_u").cast(DoubleType) / 1e6, 2).as("fit_last_dollars"))
  }

  val aggIsotonicMinimaxSql: String =
    """WITH monthly AS (
      |  SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS mon,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) *
      |              1000 // count(*) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |idx AS (
      |  SELECT CAST(row_number() OVER (ORDER BY mon) AS BIGINT) AS i, y
      |  FROM monthly),
      |pre AS (
      |  SELECT i, y, sum(y) OVER (ORDER BY i
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
      |  FROM idx),
      |spans AS (
      |  SELECT a.i AS j, b.i AS k,
      |         CAST((b.p - a.p + a.y) * 1000 // (b.i - a.i + 1) AS BIGINT) AS mu
      |  FROM pre a JOIN pre b ON a.i <= b.i),
      |sufmin AS (
      |  SELECT j, k, min(mu) OVER (PARTITION BY j ORDER BY k DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sm
      |  FROM spans),
      |fit AS (
      |  SELECT k AS i, max(sm) AS fit_u FROM sufmin GROUP BY 1),
      |joined AS (
      |  SELECT idx.i, idx.y, fit.fit_u,
      |         lag(fit_u) OVER (ORDER BY idx.i) AS prev_fit,
      |         lag(y) OVER (ORDER BY idx.i) AS prev_y
      |  FROM idx JOIN fit ON idx.i = fit.i)
      |SELECT CAST(count(*) AS BIGINT) AS n_months,
      |       CAST(sum(CASE WHEN prev_y IS NOT NULL AND y < prev_y
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS raw_violations,
      |       CAST(sum(CASE WHEN prev_fit IS NOT NULL AND fit_u < prev_fit
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS fit_violations,
      |       CAST(count(DISTINCT fit_u) AS BIGINT) AS n_segments,
      |       round(CAST(min(fit_u) AS DOUBLE) / 1e6, 2) AS fit_first_dollars,
      |       round(CAST(max(fit_u) AS DOUBLE) / 1e6, 2) AS fit_last_dollars
      |FROM joined""".stripMargin

  /** agg-ransac-line — RANSAC on the monthly-revenue-vs-time line
    * with HASH-deterministic hypothesis sampling: 64 hypothesis pairs
    * drawn by md5 over the hypothesis index (reproducible across
    * engines and runs — RANSAC's usual RNG is the part that doesn't
    * belong in a regrade-able pipeline). The inlier test is the exact
    * cross-multiplied point-to-line residual (no division), tolerance
    * 10% of the mean level; the winner maximizes inliers with an
    * index tiebreak, and the op reports its slope against the OLS
    * slope the outliers would have dragged. Bounded: 64 hypotheses ×
    * ~80 months. */
  val aggRansacLine: Q = (s, d) => {
    val monthly = orders(s, d)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("mon"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .as("y"))
      .withColumn("x", row_number().over(Window.orderBy("mon")).cast(LongType))
      .select(col("x"), col("y"))
      .sharedCache()
    val mstats = monthly.agg(count(lit(1)).as("mn"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum("x").as("sx"),
      sum(col("x") * col("x")).as("sxx"))
    val hyp = monthly.sparkSession.range(64).toDF("hid")
      .crossJoin(broadcast(mstats.select(col("mn"), (col("sy") / col("mn"))
        .cast(LongType).as("tol0"))))
      .select(col("hid"),
        (expr("CAST(conv(substring(md5(concat('a', CAST(hid AS STRING))), 1, 8), " +
          "16, 10) AS BIGINT)") % col("mn") + 1).as("ia"),
        (expr("CAST(conv(substring(md5(concat('b', CAST(hid AS STRING))), 1, 8), " +
          "16, 10) AS BIGINT)") % col("mn") + 1).as("ib"),
        expr("tol0 DIV 10").as("tol"))
      .filter(col("ia") =!= col("ib"))
    val pts = hyp
      .join(broadcast(monthly.select(col("x").as("ia"), col("y").as("ya"))), Seq("ia"))
      .join(broadcast(monthly.select(col("x").as("ib"), col("y").as("yb"))), Seq("ib"))
    val inl = pts.join(monthly)
      .withColumn("resid", abs((col("y") - col("ya")) * (col("ib") - col("ia")) -
        (col("yb") - col("ya")) * (col("x") - col("ia"))))
      .withColumn("isin", (col("resid") <= col("tol") * abs(col("ib") - col("ia")))
        .cast(IntegerType))
      .groupBy("hid", "ia", "ib", "ya", "yb")
      .agg(sum("isin").cast(LongType).as("inliers"))
    val best = inl.orderBy(col("inliers").desc, col("hid")).limit(1)
    best.crossJoin(broadcast(mstats))
      .select(col("hid").as("best_hypothesis"),
        col("inliers").as("best_inliers"),
        round(col("inliers").cast(DoubleType) * 100 / col("mn"), 2)
          .as("inlier_pct"),
        round((col("yb") - col("ya")).cast(DoubleType) /
          (col("ib") - col("ia")).cast(DoubleType) / 1e5, 4)
          .as("ransac_slope_kusd"),
        round((col("mn").cast(DoubleType) * col("sxy").cast(DoubleType) -
          col("sx").cast(DoubleType) * col("sy").cast(DoubleType)) /
          (col("mn").cast(DoubleType) * col("sxx").cast(DoubleType) -
            col("sx").cast(DoubleType) * col("sx").cast(DoubleType)) / 1e5, 4)
          .as("ols_slope_kusd"))
  }

  val aggRansacLineSql: String =
    """WITH monthly AS (
      |  SELECT CAST(row_number() OVER (ORDER BY mon) AS BIGINT) AS x, y
      |  FROM (
      |    SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS mon,
      |           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |                AS BIGINT) AS y
      |    FROM orders GROUP BY 1) t),
      |mstats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS mn, CAST(sum(y) AS HUGEINT) AS sy,
      |         CAST(sum(x * y) AS HUGEINT) AS sxy, CAST(sum(x) AS HUGEINT) AS sx,
      |         CAST(sum(x * x) AS HUGEINT) AS sxx
      |  FROM monthly),
      |hyp AS (
      |  SELECT hid,
      |         CAST(('0x' || substring(md5('a' || CAST(hid AS VARCHAR)), 1, 8))::BIGINT
      |              AS BIGINT) % mn + 1 AS ia,
      |         CAST(('0x' || substring(md5('b' || CAST(hid AS VARCHAR)), 1, 8))::BIGINT
      |              AS BIGINT) % mn + 1 AS ib,
      |         CAST(CAST(sy // mn AS BIGINT) // 10 AS BIGINT) AS tol
      |  FROM (SELECT unnest(range(64)) AS hid) h CROSS JOIN mstats),
      |pts AS (
      |  SELECT hid, ia, ib, tol, a.y AS ya, b.y AS yb
      |  FROM hyp JOIN monthly a ON a.x = ia JOIN monthly b ON b.x = ib
      |  WHERE ia <> ib),
      |inl AS (
      |  SELECT hid, ia, ib, ya, yb,
      |         CAST(sum(CASE WHEN abs((m.y - ya) * (ib - ia) -
      |                                (yb - ya) * (m.x - ia))
      |                       <= tol * abs(ib - ia)
      |                  THEN 1 ELSE 0 END) AS BIGINT) AS inliers
      |  FROM pts CROSS JOIN monthly m
      |  GROUP BY 1, 2, 3, 4, 5),
      |best AS (
      |  SELECT * FROM inl ORDER BY inliers DESC, hid LIMIT 1)
      |SELECT hid AS best_hypothesis, inliers AS best_inliers,
      |       round(CAST(inliers AS DOUBLE) * 100 / mn, 2) AS inlier_pct,
      |       round(CAST(yb - ya AS DOUBLE) / CAST(ib - ia AS DOUBLE) / 1e5, 4)
      |         AS ransac_slope_kusd,
      |       round((CAST(mn AS DOUBLE) * CAST(sxy AS DOUBLE) -
      |              CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |             (CAST(mn AS DOUBLE) * CAST(sxx AS DOUBLE) -
      |              CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / 1e5, 4)
      |         AS ols_slope_kusd
      |FROM best CROSS JOIN mstats""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("emb-matryoshka-recall", embMatryoshkaRecall, embMatryoshkaRecallSql),
    Key("sample-hard-negative", sampleHardNegative, sampleHardNegativeSql),
    Key("agg-isotonic-minimax", aggIsotonicMinimax, aggIsotonicMinimaxSql),
    Key("agg-ransac-line", aggRansacLine, aggRansacLineSql))
}
