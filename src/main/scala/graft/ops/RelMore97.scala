package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-10 batch O: upper-tail dependence, hash-cut conductance,
  * successive-halving screening, price/volume growth decomposition. */
object RelMore97 extends KeyModule {

  /** agg-tail-dependence — the upper-tail dependence coefficient
    * λ_U ≈ P(Y > q95_Y | X > q95_X) between daily order COUNT and
    * daily revenue: do the busiest days and the richest days coincide
    * in their extremes? Correlation (agg-spearman-corr) sees the
    * middle of the copula; risk planning needs the corner — capacity
    * is provisioned for joint extremes. Exact type-1 q95 thresholds
    * (rank = ceil(0.95·D) over the calendar-bounded daily frame),
    * then two exceedance counts and one floored ratio. */
  val aggTailDependence: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(count(lit(1)).as("x"),
        sum(floor(col("o_totalprice") * 100).cast(DecimalType(38, 0)))
          .cast(LongType).as("y"))
      .sharedCache()
    val n = daily.agg(count(lit(1)).as("nd"))
    val wx = Window.orderBy(col("x").asc, col("dt").asc)
    val wy = Window.orderBy(col("y").asc, col("dt").asc)
    // r15: tried caching `ranked` (it feeds the qx/qy broadcasts and
    // the final aggregate — 0.73 → 0.55 s steady) but REVERTED: the
    // cache hides the two bounded daily windows inside an
    // InMemoryRelation the window census cannot descend, re-creating
    // the exact blind spot the r14 census-exactness fix closed. The
    // windows are ms-scale over the ≤2.4k-day calendar frame; the
    // recompute is the honest price of a census that stays exact.
    val ranked = daily
      .withColumn("rx", row_number().over(wx))
      .withColumn("ry", row_number().over(wy))
      .crossJoin(broadcast(n))
      .withColumn("k", ceil(lit(0.95) * col("nd")).cast(LongType))
    val qx = ranked.filter(col("rx") === col("k")).select(col("x").as("qx"))
    val qy = ranked.filter(col("ry") === col("k")).select(col("y").as("qy"))
    ranked.crossJoin(broadcast(qx)).crossJoin(broadcast(qy))
      .agg(max("nd").as("n_days"), max("qx").as("qx_orders"),
        (max("qy").cast(DoubleType) / 100).as("qy_revenue"),
        sum(when(col("x") > col("qx"), 1L).otherwise(0L)).as("n_x_exceed"),
        sum(when(col("x") > col("qx") && col("y") > col("qy"), 1L).otherwise(0L))
          .as("n_joint"))
      .select(col("n_days"), col("qx_orders"), col("qy_revenue"),
        col("n_x_exceed"), col("n_joint"),
        ratioFloor(col("n_joint"), greatest(col("n_x_exceed"), lit(1L)), 4)
          .as("lambda_u"))
  }

  val aggTailDependenceSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt, count(*) AS x,
       |         CAST(sum(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS HUGEINT)) AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |ranked AS (
       |  SELECT dt, x, y,
       |         row_number() OVER (ORDER BY x, dt) AS rx,
       |         row_number() OVER (ORDER BY y, dt) AS ry,
       |         count(*) OVER () AS nd
       |  FROM daily),
       |k AS (SELECT CAST(ceil(0.95 * max(nd)) AS BIGINT) AS k, max(nd) AS nd FROM ranked),
       |qx AS (SELECT x AS qx FROM ranked JOIN k ON ranked.rx = k.k),
       |qy AS (SELECT y AS qy FROM ranked JOIN k ON ranked.ry = k.k)
       |SELECT max(nd) AS n_days, max(qx) AS qx_orders,
       |       CAST(max(qy) AS DOUBLE) / 100 AS qy_revenue,
       |       CAST(sum(CASE WHEN x > qx THEN 1 ELSE 0 END) AS BIGINT) AS n_x_exceed,
       |       CAST(sum(CASE WHEN x > qx AND y > qy THEN 1 ELSE 0 END) AS BIGINT) AS n_joint,
       |       ${ratioFloorSql("sum(CASE WHEN x > qx AND y > qy THEN 1 ELSE 0 END)", "greatest(sum(CASE WHEN x > qx THEN 1 ELSE 0 END), 1)", 4)} AS lambda_u
       |FROM ranked CROSS JOIN qx CROSS JOIN qy""".stripMargin

  /** graph-conductance — conductance φ(S) = cut(S)/min(vol S, vol S̄)
    * of a HASH 2-cut of the part↔supplier graph: the null-model
    * baseline every community-detection result should beat (a random
    * balanced cut of an expander has φ near 1/2; a real community
    * sits far below). Sides from md5 parity of the long node id —
    * deterministic, repartition-proof — and cut/volume are two
    * single-pass edge aggregates. Pure integer set arithmetic. */
  val graphConductance: Q = (s, d) => {
    // r14 opt: distinct pairs from the per-process fixture
    // (GraphOps.psPairsStored) instead of a per-rep scan + distinct
    val pairs = GraphOps.psPairsStored(s, d)
      .select((col("pk") * 2).as("pn"), (col("sk") * 2 + 1).as("sn"))
    val edges = pairs.select(col("pn").as("src"), col("sn").as("dst"))
      .unionAll(pairs.select(col("sn").as("src"), col("pn").as("dst")))
    def side(c: String) =
      expr(s"(instr('0123456789abcdef', substring(md5(CAST($c AS STRING)), 1, 1)) - 1) % 2")
    val tagged = edges.select(side("src").as("ss"), side("dst").as("sd"))
    tagged.agg(count(lit(1)).as("n_directed_edges"),
      sum(when(col("ss") =!= col("sd"), 1L).otherwise(0L)).as("cut2"),
      sum(when(col("ss") === 0, 1L).otherwise(0L)).as("vol0"),
      sum(when(col("ss") === 1, 1L).otherwise(0L)).as("vol1"))
      .select((col("n_directed_edges") / 2).cast(LongType).as("n_edges"),
        (col("cut2") / 2).cast(LongType).as("cut"),
        col("vol0"), col("vol1"),
        ratioFloor(col("cut2") / lit(2), least(col("vol0"), col("vol1")), 6)
          .as("conductance"))
  }

  val graphConductanceSql: String =
    s"""WITH pairs AS (
       |  SELECT DISTINCT l_partkey * 2 AS pn, l_suppkey * 2 + 1 AS sn FROM lineitem),
       |edges AS (
       |  SELECT pn AS src, sn AS dst FROM pairs
       |  UNION ALL SELECT sn, pn FROM pairs),
       |tagged AS (
       |  SELECT (strpos('0123456789abcdef', substring(md5(CAST(src AS VARCHAR)), 1, 1)) - 1) % 2 AS ss,
       |         (strpos('0123456789abcdef', substring(md5(CAST(dst AS VARCHAR)), 1, 1)) - 1) % 2 AS sd
       |  FROM edges),
       |agg AS (
       |  SELECT count(*) AS nde,
       |         CAST(sum(CASE WHEN ss <> sd THEN 1 ELSE 0 END) AS BIGINT) AS cut2,
       |         CAST(sum(CASE WHEN ss = 0 THEN 1 ELSE 0 END) AS BIGINT) AS vol0,
       |         CAST(sum(CASE WHEN ss = 1 THEN 1 ELSE 0 END) AS BIGINT) AS vol1
       |  FROM tagged)
       |SELECT CAST(nde // 2 AS BIGINT) AS n_edges, CAST(cut2 // 2 AS BIGINT) AS cut,
       |       vol0, vol1,
       |       ${ratioFloorSql("(cut2 // 2)", "least(vol0, vol1)", 6)} AS conductance
       |FROM agg""".stripMargin

  /** sample-successive-halving — multi-fidelity screening (the
    * Hyperband inner loop, applied to parts instead of
    * hyperparameters): round 1 ranks every part on a CHEAP signal
    * (first 2 months of revenue) and keeps the top half; each later
    * round doubles the observation window and halves the candidates —
    * total work ≈ 2× one full evaluation instead of candidates ×
    * full-window. ONE fact pass: the three nested windows are three
    * conditional sums of the same (part)-grain aggregate (activity in
    * months <2 ⊆ <4 ⊆ <8, so candidacy is monotone and rev2>0 ⇔
    * "present in round 1" — cents are strictly positive); the per-
    * round ranks are PrefixScans over that cached part-grain frame,
    * survivors thread through part-grain semi-joins. The graded
    * report: per-round candidate counts + the final winner —
    * deterministic to the row via (revenue desc, part) total order. */
  val sampleSuccessiveHalving: Q = (s, d) => {
    import graft.functions.PrefixScan
    val li = lineitem(s, d).select(col("l_partkey"),
      floor(col("l_extendedprice") * 100).cast(LongType).as("cents"),
      (year(col("l_shipdate")) * 12 + month(col("l_shipdate"))).as("mi"))
    val m0 = li.agg(min("mi").as("m0"))
    def winSum(months: Int) =
      sum(when(col("mi") < col("m0") + months, col("cents")).otherwise(0L)
        .cast(DecimalType(38, 0))).cast(LongType)
    val pm = li.crossJoin(broadcast(m0))
      .filter(col("mi") < col("m0") + 8)
      .groupBy("l_partkey")
      .agg(winSum(2).as("rev2"), winSum(4).as("rev4"), winSum(8).as("rev8"))
      .sharedCache()
    def topHalf(df: DataFrame): (DataFrame, Long) = {
      val scanned = PrefixScan.withRankCumSum(df,
        Seq(col("rev").desc, col("l_partkey").asc), None, rankName = "rk")
      val keep = (scanned.n + 1) / 2
      (scanned.df.filter(col("rk") <= keep).select("l_partkey", "rev"), scanned.n)
    }
    val (s1, n1) = topHalf(
      pm.filter(col("rev2") > 0).select(col("l_partkey"), col("rev2").as("rev")))
    val (s2, n2) = topHalf(
      pm.join(s1.sharedCache(), Seq("l_partkey"), "left_semi")
        .select(col("l_partkey"), col("rev4").as("rev")))
    val (s3, n3) = topHalf(
      pm.join(s2.sharedCache(), Seq("l_partkey"), "left_semi")
        .select(col("l_partkey"), col("rev8").as("rev")))
    val winner = s3.orderBy(col("rev").desc, col("l_partkey").asc).limit(1)
      .select(col("l_partkey").as("winner_part"), col("rev").as("winner_cents"))
    import s.implicits._
    val rounds = Seq((1, 2, n1, (n1 + 1) / 2), (2, 4, n2, (n2 + 1) / 2),
      (3, 8, n3, (n3 + 1) / 2))
      .toDF("round", "window_months", "n_candidates", "n_survivors")
    rounds.crossJoin(broadcast(winner))
      .select(col("round"), col("window_months"), col("n_candidates"),
        col("n_survivors"), col("winner_part"),
        (col("winner_cents").cast(DoubleType) / 100).as("winner_revenue"))
      .orderBy("round")
  }

  val sampleSuccessiveHalvingSql: String =
    """WITH li AS (
      |  SELECT l_partkey, CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
      |         year(l_shipdate) * 12 + month(l_shipdate) AS mi
      |  FROM lineitem),
      |m0 AS (SELECT min(mi) AS m0 FROM li),
      |r1 AS (
      |  SELECT l_partkey, CAST(sum(CAST(cents AS HUGEINT)) AS BIGINT) AS rev
      |  FROM li CROSS JOIN m0 WHERE mi < m0 + 2 GROUP BY l_partkey),
      |k1 AS (SELECT *, row_number() OVER (ORDER BY rev DESC, l_partkey) AS rk,
      |              count(*) OVER () AS n FROM r1),
      |s1 AS (SELECT l_partkey, n FROM k1 WHERE rk <= (n + 1) // 2),
      |r2 AS (
      |  SELECT li.l_partkey, CAST(sum(CAST(cents AS HUGEINT)) AS BIGINT) AS rev
      |  FROM li CROSS JOIN m0 JOIN s1 ON s1.l_partkey = li.l_partkey
      |  WHERE mi < m0 + 4 GROUP BY li.l_partkey),
      |k2 AS (SELECT *, row_number() OVER (ORDER BY rev DESC, l_partkey) AS rk,
      |              count(*) OVER () AS n FROM r2),
      |s2 AS (SELECT l_partkey, n FROM k2 WHERE rk <= (n + 1) // 2),
      |r3 AS (
      |  SELECT li.l_partkey, CAST(sum(CAST(cents AS HUGEINT)) AS BIGINT) AS rev
      |  FROM li CROSS JOIN m0 JOIN s2 ON s2.l_partkey = li.l_partkey
      |  WHERE mi < m0 + 8 GROUP BY li.l_partkey),
      |k3 AS (SELECT *, row_number() OVER (ORDER BY rev DESC, l_partkey) AS rk,
      |              count(*) OVER () AS n FROM r3),
      |s3 AS (SELECT l_partkey, rev, n FROM k3 WHERE rk <= (n + 1) // 2),
      |win AS (SELECT l_partkey AS winner_part, rev AS winner_cents
      |        FROM s3 ORDER BY rev DESC, l_partkey LIMIT 1),
      |rounds(round, window_months, n_candidates, n_survivors) AS (
      |  VALUES (1, 2, (SELECT max(n) FROM k1), (SELECT ((max(n) + 1) // 2) FROM k1)),
      |         (2, 4, (SELECT max(n) FROM k2), (SELECT ((max(n) + 1) // 2) FROM k2)),
      |         (3, 8, (SELECT max(n) FROM k3), (SELECT ((max(n) + 1) // 2) FROM k3)))
      |SELECT round, window_months,
      |       CAST(n_candidates AS BIGINT) AS n_candidates,
      |       CAST(n_survivors AS BIGINT) AS n_survivors,
      |       winner_part, CAST(winner_cents AS DOUBLE) / 100 AS winner_revenue
      |FROM rounds CROSS JOIN win
      |ORDER BY round""".stripMargin

  /** agg-growth-decomposition — the FP&A bridge: year-over-year
    * revenue change per brand split into a VOLUME effect (Δq at old
    * price) and a PRICE effect (new volume × Δprice), the Laspeyres
    * two-part identity ΔRev ≡ VE + PE (exact before quantization —
    * the residual column shows only the two output floors). Brand
    * price is revenue/quantity — one division per BRAND, not per
    * row — and quantities are exact integers (TPC-H quantities are
    * integral). Top-10 brands by |ΔRev|; the report that answers
    * "did we sell more, or just charge more?". */
  val aggGrowthDecomposition: Q = (s, d) => {
    val base = lineitem(s, d)
      .join(part(s, d).select(col("p_partkey").as("l_partkey"), col("p_brand")),
        "l_partkey")
      .filter(year(col("l_shipdate")).isin(1995, 1996))
      .groupBy(col("p_brand"), year(col("l_shipdate")).as("yr"))
      .agg(sum(col("l_quantity").cast(LongType)).as("q"),
        sum(floor(col("l_extendedprice") * 100).cast(DecimalType(38, 0)))
          .cast(LongType).as("rev"))
    val y0 = base.filter(col("yr") === 1995)
      .select(col("p_brand"), col("q").as("q0"), col("rev").as("rev0"))
    val y1 = base.filter(col("yr") === 1996)
      .select(col("p_brand"), col("q").as("q1"), col("rev").as("rev1"))
    y0.join(y1, "p_brand")
      .select(col("p_brand"), col("q0"), col("q1"),
        ((col("rev1") - col("rev0")).cast(DoubleType) / 100).as("delta_rev"),
        (floor((col("q1") - col("q0")).cast(DoubleType) * col("rev0") / col("q0"))
          .cast(DoubleType) / 100).as("volume_effect"),
        (floor(col("rev1") - col("q1").cast(DoubleType) * col("rev0") / col("q0"))
          .cast(DoubleType) / 100).as("price_effect"))
      .orderBy(abs(col("delta_rev")).desc, col("p_brand").asc)
      .limit(10)
  }

  val aggGrowthDecompositionSql: String =
    """WITH base AS (
      |  SELECT p_brand, year(l_shipdate) AS yr,
      |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
      |         CAST(sum(CAST(CAST(floor(l_extendedprice * 100) AS BIGINT) AS HUGEINT)) AS BIGINT) AS rev
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  WHERE year(l_shipdate) IN (1995, 1996)
      |  GROUP BY 1, 2),
      |y0 AS (SELECT p_brand, q AS q0, rev AS rev0 FROM base WHERE yr = 1995),
      |y1 AS (SELECT p_brand, q AS q1, rev AS rev1 FROM base WHERE yr = 1996)
      |SELECT p_brand, q0, q1,
      |       CAST(rev1 - rev0 AS DOUBLE) / 100 AS delta_rev,
      |       floor(CAST(q1 - q0 AS DOUBLE) * rev0 / q0) / 100 AS volume_effect,
      |       floor(rev1 - CAST(q1 AS DOUBLE) * rev0 / q0) / 100 AS price_effect
      |FROM y0 JOIN y1 USING (p_brand)
      |ORDER BY abs(CAST(rev1 - rev0 AS DOUBLE) / 100) DESC, p_brand
      |LIMIT 10""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-tail-dependence", aggTailDependence, aggTailDependenceSql),
    Key("graph-conductance", graphConductance, graphConductanceSql),
    Key("sample-successive-halving", sampleSuccessiveHalving, sampleSuccessiveHalvingSql),
    Key("agg-growth-decomposition", aggGrowthDecomposition, aggGrowthDecompositionSql))
}
