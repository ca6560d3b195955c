package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch AM: Granger causality, Bland-Altman agreement,
  * variance-reduction stump, Calinski-Harabasz index. */
object RelMore138 extends KeyModule {

  /** agg-granger-causality — lag-1 Granger test in BOTH directions
    * between daily order revenue and daily shipped quantity: does
    * adding x_{t−1} to the AR(1) of y_t reduce RSS more than chance
    * (F = (RSS_r−RSS_u)(n−3)/RSS_u vs F₀.₀₅ = 3.84)?
    * agg-cross-correlation measures the lead-lag shape; Granger asks
    * the decision question — is the lead INCREMENTALLY predictive
    * beyond the series' own memory? (In TPC-H lineage ship dates
    * trail order dates by construction, so orders→shipments should
    * pass and the reverse is the placebo.) Both directions come from
    * ONE moment pass over the aligned lagged triple (inner-join the
    * two daily series, one lag window): partitioned-regression
    * closed forms give R²_u from the correlation triangle, with
    * every correlation built from exact integer moments; the lag-1
    * AR uses the previous OBSERVED day (stated). */
  val aggGrangerCausality: Q = (s, d) => {
    val rev = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
        .as("y"))
    val qty = lineitem(s, d)
      .groupBy(to_date(col("l_shipdate")).as("dt"))
      .agg(sum(expr("CAST(l_quantity AS DECIMAL(38,0))")).as("x"))
    val w = Window.orderBy("dt")
    val tri = rev.join(qty, Seq("dt"))
      .withColumn("yl", lag("y", 1).over(w))
      .withColumn("xl", lag("x", 1).over(w))
      .filter(col("yl").isNotNull)
      .sharedCache()
    def direction(tag: String, cy: String, cy1: String, cx1: String) = {
      tri.agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
          sum(cy).as("sy"), sum(cy1).as("s1"), sum(cx1).as("s2"),
          sum(expr(s"$cy * $cy")).as("syy"), sum(expr(s"$cy1 * $cy1")).as("s11"),
          sum(expr(s"$cx1 * $cx1")).as("s22"), sum(expr(s"$cy * $cy1")).as("sy1"),
          sum(expr(s"$cy * $cx1")).as("sy2"), sum(expr(s"$cy1 * $cx1")).as("s12"))
        .select(col("n").cast(LongType).as("n"),
          ((col("n") * col("sy1") - col("sy") * col("s1")).cast(DoubleType) /
            sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType) *
              (col("n") * col("s11") - col("s1") * col("s1")).cast(DoubleType))).as("ry1"),
          ((col("n") * col("sy2") - col("sy") * col("s2")).cast(DoubleType) /
            sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType) *
              (col("n") * col("s22") - col("s2") * col("s2")).cast(DoubleType))).as("ry2"),
          ((col("n") * col("s12") - col("s1") * col("s2")).cast(DoubleType) /
            sqrt((col("n") * col("s11") - col("s1") * col("s1")).cast(DoubleType) *
              (col("n") * col("s22") - col("s2") * col("s2")).cast(DoubleType))).as("r12"))
        .select(lit(tag).as("direction"), col("n"),
          // RSS_r/Syy = 1−r²_y1 ; RSS_u/Syy = 1−R²_u
          (lit(1.0) - col("ry1") * col("ry1")).as("rssr"),
          (lit(1.0) - (col("ry1") * col("ry1") + col("ry2") * col("ry2") -
            lit(2.0) * col("ry1") * col("ry2") * col("r12")) /
            (lit(1.0) - col("r12") * col("r12"))).as("rssu"))
        .select(col("direction"), col("n"),
          round((col("rssr") - col("rssu")) * (col("n") - lit(3)).cast(DoubleType) /
            col("rssu"), 4).as("f_stat"))
        .withColumn("granger_causes", col("f_stat") > lit(3.84))
    }
    direction("qty_causes_revenue", "y", "yl", "xl")
      .unionAll(direction("revenue_causes_qty", "x", "xl", "yl"))
      .orderBy("direction")
  }

  val aggGrangerCausalitySql: String = {
    def dir(tag: String, cy: String, cy1: String, cx1: String) =
      s"""SELECT '$tag' AS direction, n,
         |       round((rssr - rssu) * (n - 3) / rssu, 4) AS f_stat,
         |       round((rssr - rssu) * (n - 3) / rssu, 4) > 3.84 AS granger_causes
         |FROM (
         |  SELECT n, 1.0 - ry1 * ry1 AS rssr,
         |         1.0 - (ry1 * ry1 + ry2 * ry2 - 2.0 * ry1 * ry2 * r12) /
         |               (1.0 - r12 * r12) AS rssu
         |  FROM (
         |    SELECT CAST(n0 AS BIGINT) AS n,
         |      CAST(n0 * sy1 - sy * s1 AS DOUBLE) /
         |        sqrt(CAST(n0 * syy - sy * sy AS DOUBLE) *
         |             CAST(n0 * s11 - s1 * s1 AS DOUBLE)) AS ry1,
         |      CAST(n0 * sy2 - sy * s2 AS DOUBLE) /
         |        sqrt(CAST(n0 * syy - sy * sy AS DOUBLE) *
         |             CAST(n0 * s22 - s2 * s2 AS DOUBLE)) AS ry2,
         |      CAST(n0 * s12 - s1 * s2 AS DOUBLE) /
         |        sqrt(CAST(n0 * s11 - s1 * s1 AS DOUBLE) *
         |             CAST(n0 * s22 - s2 * s2 AS DOUBLE)) AS r12
         |    FROM (
         |      SELECT CAST(count(*) AS HUGEINT) AS n0,
         |        CAST(sum($cy) AS HUGEINT) AS sy, CAST(sum($cy1) AS HUGEINT) AS s1,
         |        CAST(sum($cx1) AS HUGEINT) AS s2,
         |        CAST(sum($cy * $cy) AS HUGEINT) AS syy,
         |        CAST(sum($cy1 * $cy1) AS HUGEINT) AS s11,
         |        CAST(sum($cx1 * $cx1) AS HUGEINT) AS s22,
         |        CAST(sum($cy * $cy1) AS HUGEINT) AS sy1,
         |        CAST(sum($cy * $cx1) AS HUGEINT) AS sy2,
         |        CAST(sum($cy1 * $cx1) AS HUGEINT) AS s12
         |      FROM tri) m) r)""".stripMargin
    s"""WITH rev AS (
       |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
       |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
       |              AS HUGEINT) AS y
       |  FROM orders GROUP BY 1),
       |qty AS (
       |  SELECT CAST(date_trunc('day', l_shipdate) AS DATE) AS dt,
       |         CAST(sum(CAST(l_quantity AS HUGEINT)) AS HUGEINT) AS x
       |  FROM lineitem GROUP BY 1),
       |tri AS MATERIALIZED (
       |  SELECT y, x,
       |         lag(y) OVER (ORDER BY dt) AS yl,
       |         lag(x) OVER (ORDER BY dt) AS xl
       |  FROM rev JOIN qty USING (dt)
       |  QUALIFY lag(y) OVER (ORDER BY dt) IS NOT NULL)
       |${dir("qty_causes_revenue", "y", "yl", "xl")}
       |UNION ALL
       |${dir("revenue_causes_qty", "x", "xl", "yl")}
       |ORDER BY direction""".stripMargin
  }

  /** dq-bland-altman — Bland-Altman method-agreement between the two
    * measurements of order value this warehouse carries: the header's
    * o_totalprice vs the detail Σ(l_extendedprice). Exact-equality
    * reconciliation (dq-reconcile-checksum) only says "they differ";
    * Bland-Altman DECOMPOSES the disagreement into systematic bias
    * (mean difference) and scatter (±1.96σ limits of agreement) plus
    * the share of orders outside the limits — the difference between
    * "detail is missing a fee everywhere" (pure bias, fixable by
    * rule) and "the two numbers are unrelated" (wide LoA — this
    * fixture's honest verdict, reported not hidden). Per-order diffs
    * are exact integer cents; moments fold exactly; the outside-LoA
    * count uses the integer inequality (dᵢ−d̄)²·n² > 1.96²·(nΣd²−S²)
    * ... evaluated on exact integers so no rounded limit flips a
    * count. One join shuffle + one aggregate. */
  val dqBlandAltman: Q = (s, d) => {
    val detail = lineitem(s, d)
      .groupBy(col("l_orderkey").as("ok"))
      .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
        .as("b"))
    val diffs = orders(s, d)
      .select(col("o_orderkey").as("ok"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))").as("a"))
      .join(detail, Seq("ok"))
      .select((col("a") - col("b")).as("dd"))
      .sharedCache()
    val mom = diffs.agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
      sum("dd").as("sd"), sum(expr("dd * dd")).as("sdd"))
    val outside = diffs.crossJoin(broadcast(mom))
      // |d·n − S|·n > 1.96·n·√(n·(nΣd²−S²)) ⇔ (d·n−S)²·... exact left side,
      // one sqrt on the right (deterministic single expression)
      .filter(((col("dd") * col("n") - col("sd")) *
          (col("dd") * col("n") - col("sd"))).cast(DoubleType) >
        lit(1.96 * 1.96) * col("n").cast(DoubleType) *
          (col("n") * col("sdd") - col("sd") * col("sd")).cast(DoubleType) /
          col("n").cast(DoubleType))
      .agg(count(lit(1)).as("n_outside"))
    mom.crossJoin(broadcast(outside))
      .select(col("n").cast(LongType).as("n_orders"),
        round(col("sd").cast(DoubleType) / col("n").cast(DoubleType) / 100, 2)
          .as("bias_usd"),
        round((col("sd").cast(DoubleType) / col("n").cast(DoubleType) -
          lit(1.96) * sqrt((col("n") * col("sdd") - col("sd") * col("sd")).cast(DoubleType)) /
            col("n").cast(DoubleType)) / 100, 2).as("loa_low_usd"),
        round((col("sd").cast(DoubleType) / col("n").cast(DoubleType) +
          lit(1.96) * sqrt((col("n") * col("sdd") - col("sd") * col("sd")).cast(DoubleType)) /
            col("n").cast(DoubleType)) / 100, 2).as("loa_high_usd"),
        col("n_outside"),
        ratioFloor(col("n_outside").cast(DoubleType), col("n"), 6).as("outside_share"))
  }

  val dqBlandAltmanSql: String =
    """WITH detail AS (
      |  SELECT l_orderkey AS ok,
      |         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS b
      |  FROM lineitem GROUP BY 1),
      |diffs AS MATERIALIZED (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT) - b AS dd
      |  FROM orders JOIN detail ON o_orderkey = ok),
      |mom AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(dd) AS HUGEINT) AS sd,
      |         CAST(sum(dd * dd) AS HUGEINT) AS sdd
      |  FROM diffs),
      |outside AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_outside
      |  FROM diffs CROSS JOIN mom
      |  WHERE CAST((dd * n - sd) * (dd * n - sd) AS DOUBLE) >
      |        1.96 * 1.96 * CAST(n AS DOUBLE) *
      |        CAST(n * sdd - sd * sd AS DOUBLE) / CAST(n AS DOUBLE))
      |SELECT CAST(n AS BIGINT) AS n_orders,
      |       round(CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) / 100, 2) AS bias_usd,
      |       round((CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) -
      |              1.96 * sqrt(CAST(n * sdd - sd * sd AS DOUBLE)) / CAST(n AS DOUBLE))
      |             / 100, 2) AS loa_low_usd,
      |       round((CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) +
      |              1.96 * sqrt(CAST(n * sdd - sd * sd AS DOUBLE)) / CAST(n AS DOUBLE))
      |             / 100, 2) AS loa_high_usd,
      |       n_outside,
      |       floor(CAST(n_outside AS DOUBLE) * 1e6 / n) / 1e6 AS outside_share
      |FROM mom CROSS JOIN outside""".stripMargin

  /** agg-variance-split-stump — the first CART node, exactly: the
    * quantity threshold that maximally reduces revenue variance,
    * found by scanning all ~50 candidate splits with the identity
    * gain(t) = S²_L/n_L + S²_R/n_R − S²/n (the Σy² terms cancel, so
    * the argmax needs only per-value cumulative sums). This is the
    * regression complement to agg-youden-threshold (classification
    * cut) and the primitive behind every tree-based featurizer; the
    * gain share says how much ONE rule explains. Candidate scores
    * are exact integers (megacent-coarsened sums, floor-divided in
    * decimal — never a BIGINT-overflowing floored double), so the
    * argmax and its tiebreak (smaller threshold) are deterministic;
    * the scan is a 50-row prefix window over an exact integer
    * pre-aggregate — full-data cost is one groupBy(quantity). */
  val aggVarianceSplitStump: Q = (s, d) => {
    val byQ = lineitem(s, d)
      .groupBy(expr("CAST(l_quantity AS INT)").as("q"))
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("nq"),
        sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
          .as("sq"))
    val w = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byQ
      .withColumn("nl", sum("nq").over(w))
      .withColumn("sl", sum("sq").over(w))
    val tot = byQ.agg(sum("nq").as("n"), sum("sq").as("st"))
    // score entirely in exact decimal integer arithmetic (a floored
    // double here would overflow the BIGINT floor() returns): sums
    // coarsened to megacents, then S²·1000/n by subtract-pmod floor
    val scoredAll = cum.crossJoin(broadcast(tot))
      .filter(col("nl") < col("n"))
      .withColumn("slm", expr("CAST((sl - pmod(sl, 1000000)) / 1000000 AS DECIMAL(38,0))"))
      .withColumn("srm", expr(
        "CAST(((st - sl) - pmod(st - sl, 1000000)) / 1000000 AS DECIMAL(38,0))"))
      .select(col("q"), col("nl"), col("sl"), col("n"), col("st"),
        (expr("CAST((slm * slm * 1000 - pmod(slm * slm * 1000, nl)) / nl AS DECIMAL(38,0))") +
         expr("CAST((srm * srm * 1000 - pmod(srm * srm * 1000, n - nl)) / (n - nl) " +
           "AS DECIMAL(38,0))")).as("score"))
    scoredAll.orderBy(col("score").desc, col("q")).limit(1)
      .select(col("q").as("split_at_qty_le"),
        col("nl").cast(LongType).as("n_left"),
        (col("n") - col("nl")).cast(LongType).as("n_right"),
        round(col("sl").cast(DoubleType) / col("nl").cast(DoubleType) / 100, 2)
          .as("mean_left_usd"),
        round((col("st") - col("sl")).cast(DoubleType) /
          (col("n") - col("nl")).cast(DoubleType) / 100, 2).as("mean_right_usd"))
  }

  val aggVarianceSplitStumpSql: String =
    """WITH by_q AS (
      |  SELECT CAST(l_quantity AS INTEGER) AS q, CAST(count(*) AS HUGEINT) AS nq,
      |         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS sq
      |  FROM lineitem GROUP BY 1),
      |cum AS (
      |  SELECT q,
      |         sum(nq) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           AS nl,
      |         sum(sq) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           AS sl
      |  FROM by_q),
      |tot AS (SELECT CAST(sum(nq) AS HUGEINT) AS n, CAST(sum(sq) AS HUGEINT) AS st
      |        FROM by_q),
      |scored AS (
      |  SELECT q, nl, sl, n, st,
      |         ((sl // 1000000) * (sl // 1000000) * 1000) // nl +
      |         (((st - sl) // 1000000) * ((st - sl) // 1000000) * 1000) // (n - nl) AS score
      |  FROM cum CROSS JOIN tot WHERE nl < n)
      |SELECT q AS split_at_qty_le, CAST(nl AS BIGINT) AS n_left,
      |       CAST(n - nl AS BIGINT) AS n_right,
      |       round(CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE) / 100, 2) AS mean_left_usd,
      |       round(CAST(st - sl AS DOUBLE) / CAST(n - nl AS DOUBLE) / 100, 2)
      |         AS mean_right_usd
      |FROM scored ORDER BY score DESC, q LIMIT 1""".stripMargin

  /** emb-calinski-harabasz — the Calinski-Harabasz (variance-ratio)
    * cluster validity index over the labeled embedding corpus:
    * CH = (B/(k−1))/(W/(n−k)). emb-silhouette needs pairwise
    * distances (quadratic unless sampled); CH needs only per-cluster
    * centroid moments — the index that still computes exactly at
    * corpus scale, which is why it's the default sweep metric for
    * choosing k. The scatter decomposition uses the moment identity
    * W = Σ|v|² − Σ_c|S_c|²/nc and B = Σ_c|S_c|²/nc − |S|²/n on
    * micro-quantized integer components (float32 inputs floored at
    * 1e6), with per-cluster rationals milli-floored identically in
    * both engines. One posexplode pass, shuffles on (label, dim)
    * then label — additive all the way. */
  val embCalinskiHarabasz: Q = (s, d) => {
    val comps = embeddings(s, d)
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("label"), col("dim"),
        floor(col("x").cast(DoubleType) * lit(1e6)).cast(LongType).as("xq"))
    val byCluster = comps.groupBy("label", "dim")
      .agg(sum(expr("CAST(xq AS DECIMAL(38,0))")).as("t"),
        sum(expr("CAST(xq AS DECIMAL(38,0)) * xq")).as("u"),
        count(lit(1)).as("nc_dim"))
    // per-cluster: n_c, Σ_d T², Σ_d Σ x² ; n_c is per-vector count =
    // any dim's row count (all dims present — 64-dim dense vectors)
    val perC = byCluster.groupBy("label")
      .agg(max("nc_dim").as("nc"), sum(expr("t * t")).as("tt"), sum("u").as("uu"))
      .select(col("label"), col("nc"),
        expr("CAST((tt * 1000 - pmod(tt * 1000, nc)) / nc AS DECIMAL(38,0))").as("pc"),
        col("tt"), col("uu"))
      .sharedCache()
    val overall = byCluster.groupBy("dim").agg(sum("t").as("sd"))
      .agg(sum(expr("sd * sd")).as("stot2"))
    val folded = perC.agg(count(lit(1)).as("k"), sum("nc").as("n"),
      sum("pc").as("sumpc"), sum("uu").as("utot"))
    folded.crossJoin(broadcast(overall))
      .select(col("k"), col("n"),
        // W·1e3 = 1e3·U − ΣPc ; B·1e3 = ΣPc − 1e3·|S|²/n
        (col("utot") * 1000 - col("sumpc")).as("w1k"),
        (col("sumpc") - expr(
          "CAST((stot2 * 1000 - pmod(stot2 * 1000, n)) / n AS DECIMAL(38,0))")).as("b1k"))
      .select(col("k").cast(LongType).as("k_clusters"), col("n").cast(LongType).as("n_vectors"),
        round((col("b1k").cast(DoubleType) / (col("k") - lit(1)).cast(DoubleType)) /
          (col("w1k").cast(DoubleType) / (col("n") - col("k")).cast(DoubleType)), 4)
          .as("ch_index"),
        ratioFloor(col("b1k").cast(DoubleType), col("b1k") + col("w1k"), 6)
          .as("between_share"))
  }

  val embCalinskiHarabaszSql: String =
    """WITH comps AS (
      |  SELECT label, dim,
      |         CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT) AS xq
      |  FROM (
      |    SELECT label, unnest(embedding) AS x,
      |           generate_subscripts(embedding, 1) - 1 AS dim
      |    FROM embeddings) t),
      |by_cluster AS (
      |  SELECT label, dim, CAST(sum(xq) AS HUGEINT) AS t,
      |         CAST(sum(CAST(xq AS HUGEINT) * xq) AS HUGEINT) AS u,
      |         CAST(count(*) AS HUGEINT) AS nc_dim
      |  FROM comps GROUP BY 1, 2),
      |per_c AS (
      |  SELECT label, max(nc_dim) AS nc,
      |         (CAST(sum(t * t) AS HUGEINT) * 1000) // max(nc_dim) AS pc,
      |         CAST(sum(u) AS HUGEINT) AS uu
      |  FROM by_cluster GROUP BY 1),
      |overall AS (
      |  SELECT CAST(sum(sd * sd) AS HUGEINT) AS stot2 FROM (
      |    SELECT dim, CAST(sum(t) AS HUGEINT) AS sd FROM by_cluster GROUP BY 1) t),
      |folded AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS k, CAST(sum(nc) AS HUGEINT) AS n,
      |         CAST(sum(pc) AS HUGEINT) AS sumpc, CAST(sum(uu) AS HUGEINT) AS utot
      |  FROM per_c)
      |SELECT CAST(k AS BIGINT) AS k_clusters, CAST(n AS BIGINT) AS n_vectors,
      |       round((CAST(sumpc - (stot2 * 1000) // n AS DOUBLE) / CAST(k - 1 AS DOUBLE)) /
      |             (CAST(utot * 1000 - sumpc AS DOUBLE) / CAST(n - k AS DOUBLE)), 4)
      |         AS ch_index,
      |       floor(CAST(sumpc - (stot2 * 1000) // n AS DOUBLE) * 1e6 /
      |             CAST((sumpc - (stot2 * 1000) // n) + (utot * 1000 - sumpc) AS DOUBLE))
      |         / 1e6 AS between_share
      |FROM folded CROSS JOIN overall""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-granger-causality", aggGrangerCausality, aggGrangerCausalitySql),
    Key("dq-bland-altman", dqBlandAltman, dqBlandAltmanSql),
    Key("agg-variance-split-stump", aggVarianceSplitStump, aggVarianceSplitStumpSql),
    Key("emb-calinski-harabasz", embCalinskiHarabasz, embCalinskiHarabaszSql))
}
