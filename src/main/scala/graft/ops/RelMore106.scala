package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch G: PC2 by deflated power iteration, session-gap
  * sensitivity curve, Fisher ideal price index, Dickey-Fuller test. */
object RelMore106 extends KeyModule {

  /** emb-pca2-deflation — the SECOND principal direction by deflated
    * power iteration: v2 ← (I − v̂1v̂1ᵀ)·Xᵀ(Xv2), 3 rounds, after v1
    * converges by plain power iteration (emb-power-iteration's
    * matrix-free X never materializes; each round is two linear
    * passes with the 64-row vector broadcast). The deflation is the
    * step that turns "top eigenvector" into "PCA": remove the v1
    * component after every multiply and the iteration converges to
    * the second eigenvector instead. All arithmetic follows the
    * integer-quantization discipline (milli-quantized matrix, 1e6-
    * scale vectors, div-truncation identical in both engines); the
    * deflation coefficient is computed on kilo-downscaled vectors so
    * every intermediate stays ≤ ~6e13 — far from Long overflow. The
    * residual v1·v2 dot on the kilo-downscaled vectors (orth_q;
    * |orth_q| ≪ n1 ≈ cosine ≈ 0) is emitted so orthogonality is
    * GRADED, not assumed. */
  val embPca2Deflation: Q = (s, d) => {
    val m = embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("k", "x")))
      .select(col("vec_id"), col("k"),
        floor(col("x").cast(DoubleType) * lit(1000.0) + lit(0.5)).cast(LongType).as("mq"))
      .sharedCache()
    // single-stage fill: multiply() reads m twice per call in one action
    // (r13 WarnProbe attribution — block-put first-fill race)
    m.count()
    def multiply(v: DataFrame): DataFrame = {
      val sv = m.join(broadcast(v), Seq("k"))
        .groupBy("vec_id").agg(sum(col("mq") * col("vq")).as("sraw"))
        .select(col("vec_id"), expr(
          "CASE WHEN sraw >= 0 THEN sraw div 1000000" +
            " ELSE -((-sraw) div 1000000) END").as("sq"))
      m.join(sv, Seq("vec_id"))
        .groupBy("k").agg(sum(col("mq") * col("sq")).as("u"))
    }
    def renorm(u: DataFrame): DataFrame = {
      val mx = u.agg(max(abs(col("u"))).as("mx"))
      u.crossJoin(broadcast(mx))
        .select(col("k"), expr(
          "CASE WHEN u < 0 THEN -((-u * 1000000) div mx)" +
            " ELSE (u * 1000000) div mx END").as("vq"))
        .localCheckpoint()
    }
    // pass 1: plain power iteration → v1
    var v1: DataFrame = s.range(64)
      .select(col("id").cast(IntegerType).as("k"), lit(1000000L).as("vq"))
    for (_ <- 1 to 3) v1 = renorm(multiply(v1))
    val v1f = v1.withColumnRenamed("vq", "v1q").localCheckpoint()
    // pass 2: deflated iteration → v2 (alternating-sign start so the
    // seed is never parallel to v1)
    var v2: DataFrame = s.range(64)
      .select(col("id").cast(IntegerType).as("k"),
        when(col("id") % 2 === 0, 1000000L).otherwise(-1000000L).as("vq"))
    for (_ <- 1 to 3) {
      val un = renorm(multiply(v2))
      // deflation on kilo-downscaled copies: coef ≈ (v̂1·u)/(v̂1·v̂1), 1e6 scale
      val dots = un.join(broadcast(v1f), Seq("k"))
        .agg(sum(expr(
          "(CASE WHEN vq >= 0 THEN vq div 1000 ELSE -((-vq) div 1000) END) * " +
            "(CASE WHEN v1q >= 0 THEN v1q div 1000 ELSE -((-v1q) div 1000) END)"))
          .as("d12"),
          sum(expr(
            "(CASE WHEN v1q >= 0 THEN v1q div 1000 ELSE -((-v1q) div 1000) END) * " +
              "(CASE WHEN v1q >= 0 THEN v1q div 1000 ELSE -((-v1q) div 1000) END)"))
            .as("n1"))
      // sign-safe projection: all integer divisions run on NON-NEGATIVE
      // operands (Spark div truncates toward zero, DuckDB // floors —
      // they agree only for non-negative numerators)
      val defl = un.join(broadcast(v1f), Seq("k")).crossJoin(broadcast(dots))
        .select(col("k"),
          (col("vq") - expr(
            "CASE WHEN (d12 >= 0) = (v1q >= 0)" +
              " THEN ((abs(d12) * 1000000) div n1) * abs(v1q) div 1000000" +
              " ELSE -(((abs(d12) * 1000000) div n1) * abs(v1q) div 1000000) END"))
            .as("u"))
      v2 = renorm(defl)
    }
    val orth = v2.join(broadcast(v1f), Seq("k"))
      .agg(sum(expr(
        "(CASE WHEN vq >= 0 THEN vq div 1000 ELSE -((-vq) div 1000) END) * " +
          "(CASE WHEN v1q >= 0 THEN v1q div 1000 ELSE -((-v1q) div 1000) END)"))
        .as("orth_q"))
    v2.withColumnRenamed("vq", "v2q").join(broadcast(v1f), Seq("k"))
      .crossJoin(broadcast(orth))
      .select(col("k").cast(LongType).as("k"), col("v1q"), col("v2q"), col("orth_q"))
      .orderBy("k")
  }

  val embPca2DeflationSql: String = {
    // every chain CTE is MATERIALIZED: DuckDB inlines plain CTEs, and
    // v1f (itself a 3-round chain) is referenced from every deflate
    // step — un-materialized, the plan expands exponentially and the
    // oracle never finishes
    def mul(sTag: String, uTag: String, prev: String): String =
      s"""$sTag AS MATERIALIZED (
         |  SELECT m.vec_id, CASE WHEN sum(m.mq * v.vq) >= 0
         |                 THEN CAST(sum(m.mq * v.vq) AS BIGINT) // 1000000
         |                 ELSE -(CAST(-sum(m.mq * v.vq) AS BIGINT) // 1000000) END AS sq
         |  FROM m JOIN $prev v USING (k) GROUP BY 1),
         |$uTag AS MATERIALIZED (
         |  SELECT m.k, CAST(sum(m.mq * $sTag.sq) AS BIGINT) AS u
         |  FROM m JOIN $sTag USING (vec_id) GROUP BY 1)""".stripMargin
    def norm(xTag: String, vTag: String, src: String): String =
      s"""$xTag AS MATERIALIZED (SELECT max(abs(u)) AS mx FROM $src),
         |$vTag AS MATERIALIZED (
         |  SELECT k, CASE WHEN u < 0 THEN -((-u * 1000000) // mx)
         |                 ELSE (u * 1000000) // mx END AS vq
         |  FROM $src, $xTag)""".stripMargin
    def deflate(dTag: String, udTag: String, vbTag: String): String =
      s"""$dTag AS MATERIALIZED (
         |  SELECT CAST(sum((CASE WHEN $vbTag.vq >= 0 THEN $vbTag.vq // 1000 ELSE -((-$vbTag.vq) // 1000) END) *
         |                  (CASE WHEN v1f.v1q >= 0 THEN v1f.v1q // 1000 ELSE -((-v1f.v1q) // 1000) END)) AS BIGINT) AS d12,
         |         CAST(sum((CASE WHEN v1f.v1q >= 0 THEN v1f.v1q // 1000 ELSE -((-v1f.v1q) // 1000) END) *
         |                  (CASE WHEN v1f.v1q >= 0 THEN v1f.v1q // 1000 ELSE -((-v1f.v1q) // 1000) END)) AS BIGINT) AS n1
         |  FROM $vbTag JOIN v1f USING (k)),
         |$udTag AS MATERIALIZED (
         |  SELECT k, $vbTag.vq - (CASE WHEN (d12 >= 0) = (v1q >= 0)
         |                 THEN ((abs(d12) * 1000000) // n1) * abs(v1q) // 1000000
         |                 ELSE -(((abs(d12) * 1000000) // n1) * abs(v1q) // 1000000) END) AS u
         |  FROM $vbTag JOIN v1f USING (k) CROSS JOIN $dTag)""".stripMargin
    val p1 = (1 to 3).map(i =>
      mul(s"sa$i", s"ua$i", if (i == 1) "v0" else s"va${i - 1}") + ",\n" +
        norm(s"xa$i", s"va$i", s"ua$i")).mkString(",\n")
    val p2 = (1 to 3).map { i =>
      mul(s"sb$i", s"ub$i", if (i == 1) "w0" else s"vc${i - 1}") + ",\n" +
        norm(s"xb$i", s"vb$i", s"ub$i") + ",\n" +
        deflate(s"d$i", s"ud$i", s"vb$i") + ",\n" +
        norm(s"xc$i", s"vc$i", s"ud$i")
    }.mkString(",\n")
    s"""WITH m AS MATERIALIZED (
       |  SELECT vec_id,
       |         unnest(range(0, len(embedding))) AS k,
       |         CAST(floor(unnest(list_transform(embedding,
       |                    x -> CAST(x AS DOUBLE))) * 1000 + 0.5) AS BIGINT) AS mq
       |  FROM embeddings),
       |v0 AS (SELECT unnest(range(0, 64)) AS k, CAST(1000000 AS BIGINT) AS vq),
       |$p1,
       |v1f AS MATERIALIZED (SELECT k, vq AS v1q FROM va3),
       |w0 AS (SELECT unnest(range(0, 64)) AS k,
       |              CASE WHEN unnest(range(0, 64)) % 2 = 0 THEN CAST(1000000 AS BIGINT)
       |                   ELSE CAST(-1000000 AS BIGINT) END AS vq),
       |$p2,
       |orth AS MATERIALIZED (
       |  SELECT CAST(sum((CASE WHEN vc3.vq >= 0 THEN vc3.vq // 1000 ELSE -((-vc3.vq) // 1000) END) *
       |                  (CASE WHEN v1f.v1q >= 0 THEN v1f.v1q // 1000 ELSE -((-v1f.v1q) // 1000) END)) AS BIGINT) AS orth_q
       |  FROM vc3 JOIN v1f USING (k))
       |SELECT k, v1q, vc3.vq AS v2q, orth_q
       |FROM vc3 JOIN v1f USING (k) CROSS JOIN orth
       |ORDER BY k""".stripMargin
  }

  private val GapMins = Seq(5, 15, 30, 60)

  /** win-session-gap-curve — session count and mean session size as a
    * function of the inactivity threshold (5/15/30/60 min): the
    * sensitivity analysis behind the 30-min convention agg-sessionize
    * hard-codes — a curve that still moves sharply at 30 means the
    * convention is doing real work. Per-user gaps are computed ONCE
    * (one user-keyed window); each threshold is then a conditional
    * count over the same gap rows (threshold expansion multiplies a
    * pre-aggregated frame, not the event scan). Counts exact; the
    * events-per-session ratio is floor-quantized. */
  val winSessionGapCurve: Q = (s, d) => {
    val wOrder = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gaps = events(s, d)
      .withColumn("gap_s",
        unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(wOrder)))
      .sharedCache()
    val base = gaps.agg(count(lit(1)).as("n_events"),
      countDistinct(col("user_id")).as("n_users"))
    val curve = gaps.filter(col("gap_s").isNotNull)
      .select(explode(array(GapMins.map(lit(_)): _*)).as("gap_min"), col("gap_s"))
      .groupBy("gap_min")
      .agg(sum(when(col("gap_s") > col("gap_min") * 60, 1L).otherwise(0L)).as("n_breaks"))
    curve.crossJoin(broadcast(base))
      .select(col("gap_min"),
        (col("n_users") + col("n_breaks")).as("n_sessions"),
        ratioFloor(col("n_events"), col("n_users") + col("n_breaks"), 4)
          .as("events_per_session"))
      .orderBy("gap_min")
  }

  val winSessionGapCurveSql: String = {
    val klist = GapMins.mkString(", ")
    s"""WITH gaps AS (
       |  SELECT user_id,
       |         epoch(date_trunc('second', ts)) - epoch(date_trunc('second',
       |           lag(ts) OVER (PARTITION BY user_id
       |             ORDER BY date_trunc('microseconds', ts), event_id))) AS gap_s
       |  FROM events),
       |base AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_events,
       |         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
       |  FROM gaps),
       |curve AS (
       |  SELECT gap_min,
       |         CAST(sum(CASE WHEN gap_s > gap_min * 60 THEN 1 ELSE 0 END) AS BIGINT) AS n_breaks
       |  FROM gaps CROSS JOIN (SELECT unnest([$klist]) AS gap_min) ks
       |  WHERE gap_s IS NOT NULL
       |  GROUP BY gap_min)
       |SELECT gap_min, n_users + n_breaks AS n_sessions,
       |       ${ratioFloorSql("n_events", "(n_users + n_breaks)", 4)} AS events_per_session
       |FROM curve CROSS JOIN base
       |ORDER BY gap_min""".stripMargin
  }

  /** agg-price-index-fisher — Laspeyres, Paasche, and Fisher ideal
    * price indices of the part basket by ship month, base = the first
    * month in the data: THE official-statistics aggregation (CPI is a
    * Laspeyres variant; Fisher is the geometric mean that fixes its
    * substitution bias). Matched-basket discipline: each month's index
    * uses only parts traded in BOTH base and current month (count
    * reported). Unit prices are value/quantity ratios floor-quantized
    * to 1e-4 dollars (identically in both engines); the four basket
    * sums fold 1e-3-quantized products. Shuffles: one (month, part)
    * agg + one broadcast of the base basket. */
  val aggPriceIndexFisher: Q = (s, d) => {
    val monthly = lineitem(s, d)
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("mth"), col("l_partkey"))
      .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("cents"),
        sum(col("l_quantity").cast(LongType)).as("qty"))
      .select(col("mth"), col("l_partkey"), col("qty"),
        (floor(col("cents") * lit(1e2) / col("qty")) / 1e4).as("p"))
      .sharedCache()
    val baseM = monthly.agg(min("mth").as("mth"))
    val base = monthly.join(broadcast(baseM), Seq("mth"))
      .select(col("l_partkey"), col("p").as("p0"), col("qty").as("q0"))
    val matched = monthly.join(base, Seq("l_partkey"))
    matched
      .select(col("mth"),
        floor(col("p") * col("q0") * lit(1e3)).cast(LongType).as("pq0"),
        floor(col("p0") * col("q0") * lit(1e3)).cast(LongType).as("p0q0"),
        floor(col("p") * col("qty") * lit(1e3)).cast(LongType).as("pqt"),
        floor(col("p0") * col("qty") * lit(1e3)).cast(LongType).as("p0qt"))
      .groupBy("mth")
      .agg(count(lit(1)).as("n_parts"),
        sum("pq0").as("spq0"), sum("p0q0").as("sp0q0"),
        sum("pqt").as("spqt"), sum("p0qt").as("sp0qt"))
      .select(col("mth"), col("n_parts"),
        round(col("spq0").cast(DoubleType) / col("sp0q0"), 6).as("laspeyres"),
        round(col("spqt").cast(DoubleType) / col("sp0qt"), 6).as("paasche"),
        round(sqrt((col("spq0").cast(DoubleType) / col("sp0q0")) *
          (col("spqt").cast(DoubleType) / col("sp0qt"))), 6).as("fisher"))
      .orderBy("mth")
  }

  val aggPriceIndexFisherSql: String =
    """WITH monthly AS (
      |  SELECT strftime(l_shipdate, '%Y-%m') AS mth, l_partkey,
      |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
      |         floor(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
      |               * 1e2 / sum(CAST(l_quantity AS BIGINT))) / 1e4 AS p
      |  FROM lineitem GROUP BY 1, 2),
      |base_m AS (SELECT min(mth) AS mth FROM monthly),
      |base AS (
      |  SELECT l_partkey, p AS p0, qty AS q0
      |  FROM monthly JOIN base_m USING (mth)),
      |matched AS (SELECT monthly.* , p0, q0 FROM monthly JOIN base USING (l_partkey)),
      |sums AS (
      |  SELECT mth, count(*) AS n_parts,
      |         CAST(sum(CAST(floor(p * q0 * 1e3) AS BIGINT)) AS BIGINT) AS spq0,
      |         CAST(sum(CAST(floor(p0 * q0 * 1e3) AS BIGINT)) AS BIGINT) AS sp0q0,
      |         CAST(sum(CAST(floor(p * qty * 1e3) AS BIGINT)) AS BIGINT) AS spqt,
      |         CAST(sum(CAST(floor(p0 * qty * 1e3) AS BIGINT)) AS BIGINT) AS sp0qt
      |  FROM matched GROUP BY 1)
      |SELECT mth, n_parts,
      |       round(CAST(spq0 AS DOUBLE) / sp0q0, 6) AS laspeyres,
      |       round(CAST(spqt AS DOUBLE) / sp0qt, 6) AS paasche,
      |       round(sqrt((CAST(spq0 AS DOUBLE) / sp0q0) *
      |                  (CAST(spqt AS DOUBLE) / sp0qt)), 6) AS fisher
      |FROM sums ORDER BY mth""".stripMargin

  /** agg-dickey-fuller — Dickey-Fuller unit-root regression
    * Δy_t = α + ρ·y_{t−1} on the daily order-count series: ρ near 0
    * (t below the −2.86 critical literal) rejects the random-walk
    * null, which is what decides whether yesterday's level predicts
    * today's CHANGE — the stationarity gate before any ARMA-style
    * modeling (agg-ljung-box tests the residual side). Both
    * regressors are exact integers, so all five OLS sums run exactly
    * in DECIMAL(38,0) (Long would overflow at 100 TB daily counts);
    * the calendar-bounded lag window is the only ordering. The −2.86
    * 5% critical value is a declared constant — computing DF
    * p-values needs response-surface tables, out of scope and said
    * so. */
  val aggDickeyFuller: Q = (s, d) => {
    val wd = Window.orderBy("dt")
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(count(lit(1)).as("y"))
    val reg = daily
      .withColumn("x", lag("y", 1).over(wd))
      .filter(col("x").isNotNull)
      .select(expr("CAST(x AS DECIMAL(38,0))").as("x"),
        expr("CAST(y - x AS DECIMAL(38,0))").as("dy"))
    val sums = reg.agg(count(lit(1)).as("n"),
      sum("x").as("sx"), sum("dy").as("sy"),
      sum(expr("x * x")).as("sxx"), sum(expr("x * dy")).as("sxy"),
      sum(expr("dy * dy")).as("syy"))
    sums.select(col("n"),
      col("sx").cast(DoubleType).as("sx"), col("sy").cast(DoubleType).as("sy"),
      col("sxx").cast(DoubleType).as("sxx"), col("sxy").cast(DoubleType).as("sxy"),
      col("syy").cast(DoubleType).as("syy"))
      .select(col("n").as("n_days"),
        ((col("sxy") - col("sx") * col("sy") / col("n")) /
          (col("sxx") - col("sx") * col("sx") / col("n"))).as("rho"),
        (col("sxx") - col("sx") * col("sx") / col("n")).as("sxx_c"),
        ((col("syy") - col("sy") * col("sy") / col("n")) -
          ((col("sxy") - col("sx") * col("sy") / col("n")) /
            (col("sxx") - col("sx") * col("sx") / col("n"))) *
            (col("sxy") - col("sx") * col("sy") / col("n"))).as("rss"),
        col("n"))
      .select(col("n_days"), round(col("rho"), 6).as("rho"),
        round(col("rho") / sqrt((col("rss") / (col("n") - 2)) / col("sxx_c")), 4)
          .as("t_stat"),
        (col("rho") / sqrt((col("rss") / (col("n") - 2)) / col("sxx_c")) < -2.86)
          .as("unit_root_rejected"))
  }

  val aggDickeyFullerSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt, count(*) AS y
      |  FROM orders GROUP BY 1),
      |reg AS (
      |  SELECT CAST(x AS BIGINT) AS x, CAST(y - x AS BIGINT) AS dy FROM (
      |    SELECT y, lag(y) OVER (ORDER BY dt) AS x FROM daily) t
      |  WHERE x IS NOT NULL),
      |sums AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(dy) AS DOUBLE) AS sy,
      |         CAST(sum(x * x) AS DOUBLE) AS sxx, CAST(sum(x * dy) AS DOUBLE) AS sxy,
      |         CAST(sum(dy * dy) AS DOUBLE) AS syy
      |  FROM reg),
      |fit AS (
      |  SELECT n AS n_days,
      |         (sxy - sx * sy / n) / (sxx - sx * sx / n) AS rho,
      |         sxx - sx * sx / n AS sxx_c,
      |         (syy - sy * sy / n) -
      |           ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * (sxy - sx * sy / n) AS rss,
      |         n
      |  FROM sums)
      |SELECT n_days, round(rho, 6) AS rho,
      |       round(rho / sqrt((rss / (n - 2)) / sxx_c), 4) AS t_stat,
      |       rho / sqrt((rss / (n - 2)) / sxx_c) < -2.86 AS unit_root_rejected
      |FROM fit""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("emb-pca2-deflation", embPca2Deflation, embPca2DeflationSql),
    Key("win-session-gap-curve", winSessionGapCurve, winSessionGapCurveSql),
    Key("agg-price-index-fisher", aggPriceIndexFisher, aggPriceIndexFisherSql),
    Key("agg-dickey-fuller", aggDickeyFuller, aggDickeyFullerSql))
}
