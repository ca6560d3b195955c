package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-8 batch AB: bullwhip variance amplification, SAX time-series
  * symbolization with motif counting, gravity model of inter-nation
  * trade, Cobb-Douglas production fit. */
object RelMore193 extends KeyModule {

  private val centsExpr =
    "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"

  /** agg-bullwhip-effect — the supply-chain variance amplifier: the
    * ratio Var(orders placed upstream)/Var(end demand), here the
    * variance of WEEKLY order counts (the "orders" a supplier sees)
    * against the variance of daily demand aggregated to the same
    * horizon — a ratio above 1 is the bullwhip. Both variances come
    * from exact integer moment sums over bounded calendar frames; the
    * op also reports the CV² form (Chen et al.) that normalizes scale
    * away. One scan feeds both grains. */
  val aggBullwhipEffect: Q = (s, d) => {
    val day = orders(s, d)
      .groupBy(datediff(to_date(col("o_orderdate")), lit("1995-01-01"))
        .as("dy"))
      .agg(count(lit(1)).as("c"))
      .sharedCache()
    val week = day.groupBy(expr("dy DIV 7").as("wk")).agg(sum("c").as("c"))
    def mv(df: DataFrame, cc: String): DataFrame =
      df.agg(count(lit(1)).as("n"), sum(cc).as("sc"),
        sum(col(cc) * col(cc)).as("ssc"))
        .select(col("n").cast(DoubleType).as("n"),
          col("sc").cast(DoubleType).as("sc"),
          col("ssc").cast(DoubleType).as("ssc"))
        .select((col("sc") / col("n")).as("mean"),
          ((col("ssc") - col("sc") * col("sc") / col("n")) /
            (col("n") - 1.0)).as("vr"))
    val dm = mv(day, "c").select(col("mean").as("md"), col("vr").as("vd"))
    // weekly variance scaled back to daily grain (variance of a sum of
    // 7 iid days would be 7*vd; the excess is the bullwhip)
    val wm = mv(week, "c").select(col("mean").as("mw"), col("vr").as("vw"))
    dm.crossJoin(wm)
      .select(round(col("md"), 4).as("daily_mean"),
        round(col("vd"), 4).as("daily_var"),
        round(col("mw"), 4).as("weekly_mean"),
        round(col("vw"), 4).as("weekly_var"),
        round(col("vw") / (lit(7.0) * col("vd")), 4).as("bullwhip_ratio"),
        round((col("vw") / (col("mw") * col("mw"))) /
          (col("vd") / (col("md") * col("md"))), 4).as("cv2_ratio"))
  }

  val aggBullwhipEffectSql: String =
    """WITH day AS MATERIALIZED (
      |  SELECT datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
      |           AS dy,
      |         CAST(count(*) AS BIGINT) AS c
      |  FROM orders GROUP BY 1),
      |week AS (
      |  SELECT dy // 7 AS wk, CAST(sum(c) AS BIGINT) AS c FROM day GROUP BY 1),
      |dm AS (
      |  SELECT sc / n AS md, (ssc - sc * sc / n) / (n - 1.0) AS vd
      |  FROM (SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(c) AS DOUBLE) AS sc,
      |               CAST(sum(c * c) AS DOUBLE) AS ssc FROM day) t),
      |wm AS (
      |  SELECT sc / n AS mw, (ssc - sc * sc / n) / (n - 1.0) AS vw
      |  FROM (SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(c) AS DOUBLE) AS sc,
      |               CAST(sum(c * c) AS DOUBLE) AS ssc FROM week) t)
      |SELECT round(md, 4) AS daily_mean, round(vd, 4) AS daily_var,
      |       round(mw, 4) AS weekly_mean, round(vw, 4) AS weekly_var,
      |       round(vw / (7.0 * vd), 4) AS bullwhip_ratio,
      |       round((vw / (mw * mw)) / (vd / (md * md)), 4) AS cv2_ratio
      |FROM dm CROSS JOIN wm""".stripMargin

  /** agg-sax-motifs — Symbolic Aggregate approXimation of the monthly
    * revenue series: z-normalize (exact moment sums, quantized
    * z-scores), map each month to one of 4 symbols by the standard
    * N(0,1) breakpoints (−0.67, 0, 0.67), slide a 3-symbol window, and
    * count motif words — the repeated words ARE the series' recurring
    * shapes, and the top motif is the dominant quarterly pattern. The
    * alphabet/breakpoint table is the published SAX one; every step
    * after the month aggregate lives on the bounded month frame. */
  val aggSaxMotifs: Q = (s, d) => {
    val mon = orders(s, d)
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .as("mi"))
      .agg(expr(s"sum($centsExpr)").as("rev"))
      .sharedCache()
    val m = mon.agg(count(lit(1)).as("n"),
      sum(expr("CAST(rev AS DECIMAL(38,0))")).as("sr"),
      sum(expr("CAST(rev AS DECIMAL(38,0)) * rev")).as("ssr"))
      .select(col("n").cast(DoubleType).as("nd"),
        col("sr").cast(DoubleType).as("sr"),
        col("ssr").cast(DoubleType).as("ssr"))
      .select((col("sr") / col("nd")).as("mu"),
        sqrt((col("ssr") - col("sr") * col("sr") / col("nd")) /
          (col("nd") - 1.0)).as("sd"))
    val sym = mon.crossJoin(broadcast(m))
      .withColumn("zq", floor((col("rev").cast(DoubleType) - col("mu")) /
        col("sd") * 1e6).cast(LongType))
      .withColumn("sym", when(col("zq") < -670000L, "a")
        .when(col("zq") < 0L, "b")
        .when(col("zq") < 670000L, "c").otherwise("d"))
      .select(col("mi"), col("sym"))
    val w = Window.orderBy("mi")
    val words = sym
      .withColumn("s2", lead("sym", 1).over(w))
      .withColumn("s3", lead("sym", 2).over(w))
      .filter(col("s3").isNotNull)
      .select(concat(col("sym"), col("s2"), col("s3")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .sharedCache()
    val top = words.orderBy(col("cnt").desc, col("word")).limit(1)
      .select(col("word").as("top_motif"), col("cnt").as("top_motif_count"))
    words.agg(sum("cnt").as("n_windows"),
      count(lit(1)).as("distinct_words"))
      .crossJoin(broadcast(top))
      .select(col("n_windows"), col("distinct_words"), col("top_motif"),
        col("top_motif_count"),
        round(col("top_motif_count").cast(DoubleType) /
          col("n_windows").cast(DoubleType), 4).as("motif_share"))
  }

  val aggSaxMotifsSql: String =
    s"""WITH mon AS MATERIALIZED (
       |  SELECT year(CAST(o_orderdate AS DATE)) * 12 +
       |           month(CAST(o_orderdate AS DATE)) AS mi,
       |         CAST(sum($centsExpr) AS BIGINT) AS rev
       |  FROM orders GROUP BY 1),
       |m AS (
       |  SELECT sr / nd AS mu,
       |         sqrt((ssr - sr * sr / nd) / (nd - 1.0)) AS sd
       |  FROM (SELECT CAST(count(*) AS DOUBLE) AS nd,
       |               CAST(sum(CAST(rev AS HUGEINT)) AS DOUBLE) AS sr,
       |               CAST(sum(CAST(rev AS HUGEINT) * rev) AS DOUBLE) AS ssr
       |        FROM mon) t),
       |sym AS (
       |  SELECT mi,
       |         CASE WHEN zq < -670000 THEN 'a'
       |              WHEN zq < 0 THEN 'b'
       |              WHEN zq < 670000 THEN 'c' ELSE 'd' END AS sym
       |  FROM (SELECT mi, CAST(floor((CAST(rev AS DOUBLE) - mu) / sd * 1e6)
       |               AS BIGINT) AS zq
       |        FROM mon CROSS JOIN m) q),
       |words AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (
       |    SELECT sym || lead(sym, 1) OVER (ORDER BY mi) ||
       |           lead(sym, 2) OVER (ORDER BY mi) AS word,
       |           lead(sym, 2) OVER (ORDER BY mi) AS s3
       |    FROM sym) t
       |  WHERE s3 IS NOT NULL
       |  GROUP BY word),
       |top AS (
       |  SELECT word AS top_motif, cnt AS top_motif_count
       |  FROM words ORDER BY cnt DESC, word LIMIT 1)
       |SELECT CAST(sum(cnt) AS BIGINT) AS n_windows,
       |       CAST(count(*) AS BIGINT) AS distinct_words,
       |       max(top_motif) AS top_motif,
       |       max(top_motif_count) AS top_motif_count,
       |       round(CAST(max(top_motif_count) AS DOUBLE) /
       |             CAST(sum(cnt) AS DOUBLE), 4) AS motif_share
       |FROM words CROSS JOIN top""".stripMargin

  /** agg-gravity-model — the gravity equation of trade applied to the
    * customer-nation × supplier-nation revenue flows: log(flow_ij) =
    * α + β₁log(M_i) + β₂log(M_j) − γ·dist_ij, with ring distance on
    * the 25-nation circle as the separation proxy. The two-regressor
    * OLS closed form runs on the bounded 625-pair frame with
    * quantized logs; the graded outputs are the mass elasticities
    * (theory: ≈1) and the distance decay. Fact work: one
    * lineitem⋈orders⋈customer⋈supplier aggregate to nation pairs. */
  val aggGravityModel: Q = (s, d) => {
    val flows = lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("ni"), col("s_nationkey").as("nj"))
      .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 " +
        "AS BIGINT)")).as("flow"))
      .sharedCache()
    val massI = flows.groupBy("ni").agg(sum("flow").as("mi"))
    val massJ = flows.groupBy("nj").agg(sum("flow").as("mj"))
    val pts = flows.join(massI, Seq("ni")).join(massJ, Seq("nj"))
      .select(
        floor(log(col("flow").cast(DoubleType)) * 1e9).cast(LongType).as("y"),
        floor(log(col("mi").cast(DoubleType)) * 1e9).cast(LongType).as("x1"),
        floor(log(col("mj").cast(DoubleType)) * 1e9).cast(LongType).as("x2"),
        least(abs(col("ni") - col("nj")),
          lit(25) - abs(col("ni") - col("nj"))).cast(LongType).as("dist"))
    // 3-regressor OLS via the normal equations on exact integer sums;
    // solve the symmetric 3x3 system with the closed-form adjugate
    val mm = pts.agg(count(lit(1)).as("n"),
      sum("x1").as("s1"), sum("x2").as("s2"), sum("dist").as("s3"),
      sum("y").as("sy"),
      sum(expr("CAST(x1 AS DECIMAL(38,0)) * x1")).as("s11"),
      sum(expr("CAST(x1 AS DECIMAL(38,0)) * x2")).as("s12"),
      sum(expr("CAST(x1 AS DECIMAL(38,0)) * dist")).as("s13"),
      sum(expr("CAST(x2 AS DECIMAL(38,0)) * x2")).as("s22"),
      sum(expr("CAST(x2 AS DECIMAL(38,0)) * dist")).as("s23"),
      sum(expr("CAST(dist AS DECIMAL(38,0)) * dist")).as("s33"),
      sum(expr("CAST(x1 AS DECIMAL(38,0)) * y")).as("sy1"),
      sum(expr("CAST(x2 AS DECIMAL(38,0)) * y")).as("sy2"),
      sum(expr("CAST(dist AS DECIMAL(38,0)) * y")).as("sy3"))
    val dd = mm.select((for (c <- Seq("n", "s1", "s2", "s3", "sy", "s11",
      "s12", "s13", "s22", "s23", "s33", "sy1", "sy2", "sy3"))
      yield col(c).cast(DoubleType).as(c)): _*)
      // centered normal equations: A b = v with A = [[a11,a12,a13],...]
      .select(
        (col("s11") - col("s1") * col("s1") / col("n")).as("a11"),
        (col("s12") - col("s1") * col("s2") / col("n")).as("a12"),
        (col("s13") - col("s1") * col("s3") / col("n")).as("a13"),
        (col("s22") - col("s2") * col("s2") / col("n")).as("a22"),
        (col("s23") - col("s2") * col("s3") / col("n")).as("a23"),
        (col("s33") - col("s3") * col("s3") / col("n")).as("a33"),
        (col("sy1") - col("s1") * col("sy") / col("n")).as("v1"),
        (col("sy2") - col("s2") * col("sy") / col("n")).as("v2"),
        (col("sy3") - col("s3") * col("sy") / col("n")).as("v3"))
      .select(col("a11"), col("a12"), col("a13"), col("a22"), col("a23"),
        col("a33"), col("v1"), col("v2"), col("v3"),
        (col("a11") * (col("a22") * col("a33") - col("a23") * col("a23")) -
          col("a12") * (col("a12") * col("a33") - col("a23") * col("a13")) +
          col("a13") * (col("a12") * col("a23") - col("a22") * col("a13")))
          .as("det"))
      .select(
        ((col("v1") * (col("a22") * col("a33") - col("a23") * col("a23")) -
          col("a12") * (col("v2") * col("a33") - col("a23") * col("v3")) +
          col("a13") * (col("v2") * col("a23") - col("a22") * col("v3"))) /
          col("det")).as("b1"),
        ((col("a11") * (col("v2") * col("a33") - col("v3") * col("a23")) -
          col("v1") * (col("a12") * col("a33") - col("a23") * col("a13")) +
          col("a13") * (col("a12") * col("v3") - col("v2") * col("a13"))) /
          col("det")).as("b2"),
        ((col("a11") * (col("a22") * col("v3") - col("a23") * col("v2")) -
          col("a12") * (col("a12") * col("v3") - col("v2") * col("a13")) +
          col("v1") * (col("a12") * col("a23") - col("a22") * col("a13"))) /
          col("det")).as("b3"))
    dd.select(round(col("b1"), 4).as("mass_origin_elasticity"),
      round(col("b2"), 4).as("mass_dest_elasticity"),
      round(col("b3") * lit(-1e-9), 6).as("distance_decay"))
  }

  val aggGravityModelSql: String =
    """WITH flows AS MATERIALIZED (
      |  SELECT c_nationkey AS ni, s_nationkey AS nj,
      |         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |              AS BIGINT)) AS BIGINT) AS flow
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  GROUP BY 1, 2),
      |mi AS (SELECT ni, CAST(sum(flow) AS BIGINT) AS mi FROM flows GROUP BY 1),
      |mj AS (SELECT nj, CAST(sum(flow) AS BIGINT) AS mj FROM flows GROUP BY 1),
      |pts AS (
      |  SELECT CAST(floor(ln(CAST(flow AS DOUBLE)) * 1e9) AS BIGINT) AS y,
      |         CAST(floor(ln(CAST(mi AS DOUBLE)) * 1e9) AS BIGINT) AS x1,
      |         CAST(floor(ln(CAST(mj AS DOUBLE)) * 1e9) AS BIGINT) AS x2,
      |         CAST(least(abs(ni - nj), 25 - abs(ni - nj)) AS BIGINT) AS dist
      |  FROM flows JOIN mi USING (ni) JOIN mj USING (nj)),
      |mm AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n,
      |         CAST(sum(x1) AS DOUBLE) AS s1, CAST(sum(x2) AS DOUBLE) AS s2,
      |         CAST(sum(dist) AS DOUBLE) AS s3, CAST(sum(y) AS DOUBLE) AS sy,
      |         CAST(sum(CAST(x1 AS HUGEINT) * x1) AS DOUBLE) AS s11,
      |         CAST(sum(CAST(x1 AS HUGEINT) * x2) AS DOUBLE) AS s12,
      |         CAST(sum(CAST(x1 AS HUGEINT) * dist) AS DOUBLE) AS s13,
      |         CAST(sum(CAST(x2 AS HUGEINT) * x2) AS DOUBLE) AS s22,
      |         CAST(sum(CAST(x2 AS HUGEINT) * dist) AS DOUBLE) AS s23,
      |         CAST(sum(CAST(dist AS HUGEINT) * dist) AS DOUBLE) AS s33,
      |         CAST(sum(CAST(x1 AS HUGEINT) * y) AS DOUBLE) AS sy1,
      |         CAST(sum(CAST(x2 AS HUGEINT) * y) AS DOUBLE) AS sy2,
      |         CAST(sum(CAST(dist AS HUGEINT) * y) AS DOUBLE) AS sy3
      |  FROM pts),
      |dd AS (
      |  SELECT *,
      |         a11 * (a22 * a33 - a23 * a23) -
      |         a12 * (a12 * a33 - a23 * a13) +
      |         a13 * (a12 * a23 - a22 * a13) AS det
      |  FROM (
      |    SELECT s11 - s1 * s1 / n AS a11, s12 - s1 * s2 / n AS a12,
      |           s13 - s1 * s3 / n AS a13, s22 - s2 * s2 / n AS a22,
      |           s23 - s2 * s3 / n AS a23, s33 - s3 * s3 / n AS a33,
      |           sy1 - s1 * sy / n AS v1, sy2 - s2 * sy / n AS v2,
      |           sy3 - s3 * sy / n AS v3
      |    FROM mm) t)
      |SELECT round((v1 * (a22 * a33 - a23 * a23) -
      |              a12 * (v2 * a33 - a23 * v3) +
      |              a13 * (v2 * a23 - a22 * v3)) / det, 4)
      |         AS mass_origin_elasticity,
      |       round((a11 * (v2 * a33 - v3 * a23) -
      |              v1 * (a12 * a33 - a23 * a13) +
      |              a13 * (a12 * v3 - v2 * a13)) / det, 4)
      |         AS mass_dest_elasticity,
      |       round((a11 * (a22 * v3 - a23 * v2) -
      |              a12 * (a12 * v3 - v2 * a13) +
      |              v1 * (a12 * a23 - a22 * a13)) / det * -1e-9, 6)
      |         AS distance_decay
      |FROM dd""".stripMargin

  /** agg-cobb-douglas-fit — the production function on monthly books:
    * log(revenue) = α + β_c·log(active customers) + β_o·log(orders);
    * β_c + β_o is the returns-to-scale verdict (≈1 constant returns).
    * Two-regressor closed-form OLS on the bounded month frame with
    * quantized logs; one (month) aggregate over orders supplies all
    * three series. */
  val aggCobbDouglasFit: Q = (s, d) => {
    val mon = orders(s, d)
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .as("mi"))
      .agg(expr(s"sum($centsExpr)").as("rev"),
        countDistinct(col("o_custkey")).as("cust"),
        count(lit(1)).as("ord"))
      .select(
        floor(log(col("rev").cast(DoubleType)) * 1e9).cast(LongType).as("y"),
        floor(log(col("cust").cast(DoubleType)) * 1e9).cast(LongType).as("x1"),
        floor(log(col("ord").cast(DoubleType)) * 1e9).cast(LongType).as("x2"))
    val mm = mon.agg(count(lit(1)).as("n"),
      sum("x1").as("s1"), sum("x2").as("s2"), sum("y").as("sy"),
      sum(expr("CAST(x1 AS DECIMAL(38,0)) * x1")).as("s11"),
      sum(expr("CAST(x1 AS DECIMAL(38,0)) * x2")).as("s12"),
      sum(expr("CAST(x2 AS DECIMAL(38,0)) * x2")).as("s22"),
      sum(expr("CAST(x1 AS DECIMAL(38,0)) * y")).as("sy1"),
      sum(expr("CAST(x2 AS DECIMAL(38,0)) * y")).as("sy2"))
      .select((for (c <- Seq("n", "s1", "s2", "sy", "s11", "s12", "s22",
        "sy1", "sy2")) yield col(c).cast(DoubleType).as(c)): _*)
      .select(
        (col("s11") - col("s1") * col("s1") / col("n")).as("a11"),
        (col("s12") - col("s1") * col("s2") / col("n")).as("a12"),
        (col("s22") - col("s2") * col("s2") / col("n")).as("a22"),
        (col("sy1") - col("s1") * col("sy") / col("n")).as("v1"),
        (col("sy2") - col("s2") * col("sy") / col("n")).as("v2"),
        col("n"))
    mm.select(
      round((col("v1") * col("a22") - col("v2") * col("a12")) /
        (col("a11") * col("a22") - col("a12") * col("a12")), 4)
        .as("beta_customers"),
      round((col("v2") * col("a11") - col("v1") * col("a12")) /
        (col("a11") * col("a22") - col("a12") * col("a12")), 4)
        .as("beta_orders"),
      round((col("v1") * col("a22") - col("v2") * col("a12")) /
        (col("a11") * col("a22") - col("a12") * col("a12")) +
        (col("v2") * col("a11") - col("v1") * col("a12")) /
          (col("a11") * col("a22") - col("a12") * col("a12")), 4)
        .as("returns_to_scale"),
      col("n").cast(LongType).as("n_months"))
  }

  val aggCobbDouglasFitSql: String =
    s"""WITH mon AS (
       |  SELECT CAST(floor(ln(CAST(rev AS DOUBLE)) * 1e9) AS BIGINT) AS y,
       |         CAST(floor(ln(CAST(cust AS DOUBLE)) * 1e9) AS BIGINT) AS x1,
       |         CAST(floor(ln(CAST(ord AS DOUBLE)) * 1e9) AS BIGINT) AS x2
       |  FROM (
       |    SELECT CAST(sum($centsExpr) AS BIGINT) AS rev,
       |           CAST(count(DISTINCT o_custkey) AS BIGINT) AS cust,
       |           CAST(count(*) AS BIGINT) AS ord
       |    FROM orders
       |    GROUP BY year(CAST(o_orderdate AS DATE)) * 12 +
       |             month(CAST(o_orderdate AS DATE))) t),
       |mm AS (
       |  SELECT s11 - s1 * s1 / n AS a11, s12 - s1 * s2 / n AS a12,
       |         s22 - s2 * s2 / n AS a22,
       |         sy1 - s1 * sy / n AS v1, sy2 - s2 * sy / n AS v2, n
       |  FROM (
       |    SELECT CAST(count(*) AS DOUBLE) AS n,
       |           CAST(sum(x1) AS DOUBLE) AS s1, CAST(sum(x2) AS DOUBLE) AS s2,
       |           CAST(sum(y) AS DOUBLE) AS sy,
       |           CAST(sum(CAST(x1 AS HUGEINT) * x1) AS DOUBLE) AS s11,
       |           CAST(sum(CAST(x1 AS HUGEINT) * x2) AS DOUBLE) AS s12,
       |           CAST(sum(CAST(x2 AS HUGEINT) * x2) AS DOUBLE) AS s22,
       |           CAST(sum(CAST(x1 AS HUGEINT) * y) AS DOUBLE) AS sy1,
       |           CAST(sum(CAST(x2 AS HUGEINT) * y) AS DOUBLE) AS sy2
       |    FROM mon) a)
       |SELECT round((v1 * a22 - v2 * a12) / (a11 * a22 - a12 * a12), 4)
       |         AS beta_customers,
       |       round((v2 * a11 - v1 * a12) / (a11 * a22 - a12 * a12), 4)
       |         AS beta_orders,
       |       round((v1 * a22 - v2 * a12) / (a11 * a22 - a12 * a12) +
       |             (v2 * a11 - v1 * a12) / (a11 * a22 - a12 * a12), 4)
       |         AS returns_to_scale,
       |       CAST(n AS BIGINT) AS n_months
       |FROM mm""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-bullwhip-effect", aggBullwhipEffect, aggBullwhipEffectSql),
    Key("agg-sax-motifs", aggSaxMotifs, aggSaxMotifsSql),
    Key("agg-gravity-model", aggGravityModel, aggGravityModelSql),
    Key("agg-cobb-douglas-fit", aggCobbDouglasFit, aggCobbDouglasFitSql))
}
