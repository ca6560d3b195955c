package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch AN: Oaxaca-Blinder gap decomposition, Lin's
  * concordance, brand-rank Kendall stability, embedding axis gain. */
object RelMore139 extends KeyModule {

  /** agg-oaxaca-blinder — twofold Oaxaca-Blinder decomposition of the
    * returned-vs-kept revenue gap: how much of mean(extendedprice|R)
    * − mean(extendedprice|N) is EXPLAINED by the groups ordering
    * different quantities (endowment effect at the pooled slope,
    * (x̄_R−x̄_N)·β̂_pool) and how much is unexplained (structural).
    * agg-diff-in-diff needs a time axis; Oaxaca decomposes a purely
    * cross-sectional gap — the standard audit before declaring a
    * segment "intrinsically" more valuable. One exact integer moment
    * pass per group (quantity, cents); pooled slope and the
    * decomposition are single-row closed forms; explained +
    * unexplained ≡ gap by construction, so the shares are
    * self-checking. */
  val aggOaxacaBlinder: Q = (s, d) => {
    val m = lineitem(s, d)
      .filter(col("l_returnflag").isin("R", "N"))
      .groupBy(col("l_returnflag").as("g"))
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum(expr("CAST(l_quantity AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
          .as("sy"),
        sum(expr("CAST(l_quantity AS DECIMAL(38,0)) * l_quantity")).as("sxx"),
        sum(expr("CAST(l_quantity AS DECIMAL(38,0)) * " +
          "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))")).as("sxy"))
      .sharedCache()
    val pooled = m.agg(sum("n").as("n"), sum("sx").as("sx"), sum("sy").as("sy"),
        sum("sxx").as("sxx"), sum("sxy").as("sxy"))
      .select(((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
        (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType)).as("beta"))
    val a = m.filter(col("g") === "R").select(
      col("n").as("na"), col("sx").as("sxa"), col("sy").as("sya"))
    val b = m.filter(col("g") === "N").select(
      col("n").as("nb"), col("sx").as("sxb"), col("sy").as("syb"))
    a.crossJoin(broadcast(b)).crossJoin(broadcast(pooled))
      .select(col("na").cast(LongType).as("n_returned"),
        col("nb").cast(LongType).as("n_kept"),
        (col("sya").cast(DoubleType) / col("na").cast(DoubleType) -
          col("syb").cast(DoubleType) / col("nb").cast(DoubleType)).as("gap_cents"),
        ((col("sxa").cast(DoubleType) / col("na").cast(DoubleType) -
          col("sxb").cast(DoubleType) / col("nb").cast(DoubleType)) * col("beta"))
          .as("explained_cents"))
      .select(col("n_returned"), col("n_kept"),
        round(col("gap_cents") / 100, 4).as("gap_usd"),
        round(col("explained_cents") / 100, 4).as("explained_usd"),
        round((col("gap_cents") - col("explained_cents")) / 100, 4).as("unexplained_usd"),
        round(col("explained_cents") / col("gap_cents"), 6).as("explained_share"))
  }

  val aggOaxacaBlinderSql: String =
    """WITH m AS MATERIALIZED (
      |  SELECT l_returnflag AS g, CAST(count(*) AS HUGEINT) AS n,
      |         CAST(sum(CAST(l_quantity AS HUGEINT)) AS HUGEINT) AS sx,
      |         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS sy,
      |         CAST(sum(CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS HUGEINT))
      |              AS HUGEINT) AS sxx,
      |         CAST(sum(CAST(l_quantity AS HUGEINT) *
      |                  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS sxy
      |  FROM lineitem WHERE l_returnflag IN ('R', 'N') GROUP BY 1),
      |pooled AS (
      |  SELECT CAST(sum(n) * sum(sxy) - sum(sx) * sum(sy) AS DOUBLE) /
      |         CAST(sum(n) * sum(sxx) - sum(sx) * sum(sx) AS DOUBLE) AS beta
      |  FROM m),
      |j AS (
      |  SELECT a.n AS na, a.sx AS sxa, a.sy AS sya,
      |         b.n AS nb, b.sx AS sxb, b.sy AS syb, beta
      |  FROM (SELECT * FROM m WHERE g = 'R') a
      |  CROSS JOIN (SELECT * FROM m WHERE g = 'N') b CROSS JOIN pooled),
      |dec AS (
      |  SELECT CAST(na AS BIGINT) AS n_returned, CAST(nb AS BIGINT) AS n_kept,
      |         CAST(sya AS DOUBLE) / CAST(na AS DOUBLE) -
      |           CAST(syb AS DOUBLE) / CAST(nb AS DOUBLE) AS gap_cents,
      |         (CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) -
      |          CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE)) * beta AS explained_cents
      |  FROM j)
      |SELECT n_returned, n_kept,
      |       round(gap_cents / 100, 4) AS gap_usd,
      |       round(explained_cents / 100, 4) AS explained_usd,
      |       round((gap_cents - explained_cents) / 100, 4) AS unexplained_usd,
      |       round(explained_cents / gap_cents, 6) AS explained_share
      |FROM dec""".stripMargin

  /** agg-lin-ccc — Lin's concordance correlation coefficient between
    * the header and detail measurements of order value: ρc =
    * 2Sxy/(Sxx+Syy+n(x̄−ȳ)²). Pearson r (agg-correlation-matrix)
    * rewards any LINEAR relation — a detail that's always exactly
    * double the header scores r = 1; concordance demands identity
    * (45° line), penalizing both scale and location shift, which is
    * the actual reconciliation contract. The bias-correction factor
    * Cb = ρc/r isolates HOW agreement fails (Cb ≪ 1 = systematic
    * shift, r ≪ 1 = noise) — the scalar twin of dq-bland-altman's
    * interval view. Everything reduces to one exact integer moment
    * pass over the header⋈detail join. */
  val aggLinCcc: Q = (s, d) => {
    val detail = lineitem(s, d)
      .groupBy(col("l_orderkey").as("ok"))
      .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
        .as("y"))
    orders(s, d)
      .select(col("o_orderkey").as("ok"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))").as("x"))
      .join(detail, Seq("ok"))
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * x")).as("sxx"), sum(expr("y * y")).as("syy"),
        sum(expr("x * y")).as("sxy"))
      .select(col("n").cast(LongType).as("n_orders"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType) *
            (col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType))).as("r"),
        (lit(2.0) * (col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
          ((col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType) +
            (col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType) +
            ((col("sx") - col("sy")) * (col("sx") - col("sy"))).cast(DoubleType)))
          .as("ccc"))
      .select(col("n_orders"), round(col("r"), 6).as("pearson_r"),
        round(col("ccc"), 6).as("lin_ccc"),
        round(col("ccc") / col("r"), 6).as("bias_correction_cb"))
  }

  val aggLinCccSql: String =
    """WITH detail AS (
      |  SELECT l_orderkey AS ok,
      |         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS y
      |  FROM lineitem GROUP BY 1),
      |m AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |         CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
      |         CAST(sum(x * x) AS HUGEINT) AS sxx, CAST(sum(y * y) AS HUGEINT) AS syy,
      |         CAST(sum(x * y) AS HUGEINT) AS sxy
      |  FROM (
      |    SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT) AS x, y
      |    FROM orders JOIN detail ON o_orderkey = ok) t)
      |SELECT CAST(n AS BIGINT) AS n_orders,
      |       round(CAST(n * sxy - sx * sy AS DOUBLE) /
      |             sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
      |                  CAST(n * syy - sy * sy AS DOUBLE)), 6) AS pearson_r,
      |       round(2.0 * CAST(n * sxy - sx * sy AS DOUBLE) /
      |             (CAST(n * sxx - sx * sx AS DOUBLE) + CAST(n * syy - sy * sy AS DOUBLE) +
      |              CAST((sx - sy) * (sx - sy) AS DOUBLE)), 6) AS lin_ccc,
      |       round((2.0 * CAST(n * sxy - sx * sy AS DOUBLE) /
      |              (CAST(n * sxx - sx * sx AS DOUBLE) + CAST(n * syy - sy * sy AS DOUBLE) +
      |               CAST((sx - sy) * (sx - sy) AS DOUBLE))) /
      |             (CAST(n * sxy - sx * sy AS DOUBLE) /
      |              sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
      |                   CAST(n * syy - sy * sy AS DOUBLE))), 6) AS bias_correction_cb
      |FROM m""".stripMargin

  /** agg-rank-stability-kendall — Kendall tau DISTANCE between
    * consecutive years' brand revenue rankings: the number of brand
    * pairs whose order flips year-over-year, normalized by C(25,2).
    * agg-kendall-tau correlates two VALUE columns; this op tracks a
    * LEADERBOARD's churn through time — the metric behind "is our
    * brand mix stable or reshuffling", and the rank analog of
    * win-rank-movers (which names the movers; this prices overall
    * stability). Ranks are exact (integer cents, brand tiebreak);
    * the discordance count is a 25×25 pair join per adjacent year
    * pair — blocked on the year pair, never a corpus-scale product;
    * the only full-data cost is the year×brand aggregate. */
  val aggRankStabilityKendall: Q = (s, d) => {
    val ranked = lineitem(s, d)
      .join(part(s, d).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(year(col("l_shipdate")).as("yr"), col("p_brand").as("brand"))
      .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
        .as("rev"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("yr").orderBy(col("rev").desc, col("brand"))))
      .sharedCache()
    val pairs = ranked.select(col("yr"), col("brand"), col("rk"))
      .join(ranked.select((col("yr") - 1).as("yr"), col("brand"),
        col("rk").as("rk_next")), Seq("yr", "brand"))
    val disc = pairs.as("a").join(pairs.as("b"),
        expr("a.yr = b.yr AND a.brand < b.brand"))
      .groupBy(col("a.yr").as("yr"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when((col("a.rk") < col("b.rk")) =!= (col("a.rk_next") < col("b.rk_next")),
          1L).otherwise(0L)).as("n_discordant"))
    disc.select(col("yr").as("year_from"), (col("yr") + 1).as("year_to"),
        col("n_pairs"), col("n_discordant"),
        ratioFloor(col("n_discordant").cast(DoubleType), col("n_pairs"), 6)
          .as("kendall_distance"))
      .orderBy("year_from")
  }

  val aggRankStabilityKendallSql: String =
    """WITH ranked AS MATERIALIZED (
      |  SELECT yr, brand,
      |         row_number() OVER (PARTITION BY yr ORDER BY rev DESC, brand) AS rk
      |  FROM (
      |    SELECT year(l_shipdate) AS yr, p_brand AS brand,
      |           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |                AS HUGEINT) AS rev
      |    FROM lineitem JOIN part ON l_partkey = p_partkey
      |    GROUP BY 1, 2) t),
      |pairs AS MATERIALIZED (
      |  SELECT c.yr, c.brand, c.rk, n.rk AS rk_next
      |  FROM ranked c JOIN ranked n ON n.yr = c.yr + 1 AND n.brand = c.brand),
      |disc AS (
      |  SELECT a.yr, CAST(count(*) AS BIGINT) AS n_pairs,
      |         CAST(sum(CASE WHEN (a.rk < b.rk) <> (a.rk_next < b.rk_next)
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_discordant
      |  FROM pairs a JOIN pairs b ON a.yr = b.yr AND a.brand < b.brand
      |  GROUP BY 1)
      |SELECT yr AS year_from, yr + 1 AS year_to, n_pairs, n_discordant,
      |       floor(CAST(n_discordant AS DOUBLE) * 1e6 / n_pairs) / 1e6
      |         AS kendall_distance
      |FROM disc ORDER BY year_from""".stripMargin

  /** emb-axis-split-gain — the most class-informative AXIS of the
    * embedding space: for every dimension × 16 equi-width thresholds,
    * the Gini purity gain of the one-split partition, maximized via
    * the cancellation Σc²_L/n_L + Σc²_R/n_R (parent terms constant).
    * Axis-aligned separability is an INDEX-design quantity — a
    * dimension that splits labels cleanly is where a partition tree
    * (or PQ subspace ordering) should cut first; emb-pca2-deflation
    * finds variance directions, this finds LABEL-relevant ones
    * without any rotation. Components are micro-quantized; bucket
    * assignment is pure integer arithmetic off each dim's exact
    * min/max; class-count prefixes run over a dense 64×16×10 grid
    * (built by cross join, never data-dependent); scores are floored
    * doubles of exact integers — identical in both engines, brand
    * tiebreak (dim, bucket). One posexplode pass + grid windows. */
  val embAxisSplitGain: Q = (s, d) => {
    val comps = embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("label"), col("dim"),
        floor(col("x").cast(DoubleType) * lit(1e6)).cast(LongType).as("xq"))
      .sharedCache()
    // single-stage cache fill: ranges' broadcast job and the bucketed
    // main job otherwise race to first-materialize the same blocks
    // ("Block rdd_N already exists" — see RelMore42)
    comps.count()
    val ranges = comps.groupBy("dim").agg(min("xq").as("mn"), max("xq").as("mx"))
    val bucketed = comps.join(broadcast(ranges), Seq("dim"))
      .select(col("label"), col("dim"),
        expr("CAST(((xq - mn) * 16) div (mx - mn + 1) AS INT)").as("b"))
    val cc = bucketed.groupBy("dim", "b", "label").agg(count(lit(1)).as("c"))
    val dims = ranges.select("dim")
    val labels = comps.select("label").distinct()
    val buckets = dims.crossJoin(broadcast(labels))
      .crossJoin(broadcast(s.range(0, 16).select(col("id").cast(IntegerType).as("b"))))
    val grid = buckets.join(cc, Seq("dim", "b", "label"), "left")
      .select(col("dim"), col("b"), col("label"), coalesce(col("c"), lit(0L)).as("c"))
    val cum = grid.withColumn("cl", sum("c").over(
      Window.partitionBy("dim", "label").orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val ctot = comps.groupBy("label").agg(count(lit(1)).as("ct"))
    val n = comps.agg((count(lit(1)) / 64).cast(LongType).as("n"))
    val perSplit = cum.join(broadcast(ctot), Seq("label"))
      .groupBy("dim", "b")
      .agg(sum("cl").as("nl"), sum(expr("cl * cl")).as("s2l"),
        sum(expr("(ct - cl) * (ct - cl)")).as("s2r"))
      .crossJoin(broadcast(n))
      .filter(col("b") < 15 && col("nl") > 0 && col("nl") < col("n"))
      .select(col("dim"), col("b"), col("nl"), col("n"),
        (floor(col("s2l").cast(DoubleType) * lit(1e6) / col("nl").cast(DoubleType)) +
          floor(col("s2r").cast(DoubleType) * lit(1e6) /
            (col("n") - col("nl")).cast(DoubleType))).as("score"))
    val best = perSplit.orderBy(col("score").desc, col("dim"), col("b")).limit(1)
    best.join(broadcast(ranges), Seq("dim"))
      .select(col("dim").as("best_dim"),
        round((col("mn") + (col("mx") - col("mn") + 1) * (col("b") + 1) / lit(16))
          .cast(DoubleType) / lit(1e6), 6).as("threshold"),
        col("nl").cast(LongType).as("n_left"),
        (col("n") - col("nl")).cast(LongType).as("n_right"),
        (col("score") / lit(1e6) / col("n").cast(DoubleType)).as("purity_after"))
      .select(col("best_dim"), col("threshold"), col("n_left"), col("n_right"),
        round(col("purity_after"), 6).as("weighted_purity"))
  }

  val embAxisSplitGainSql: String =
    """WITH comps AS MATERIALIZED (
      |  SELECT label, dim, CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT) AS xq
      |  FROM (
      |    SELECT label, unnest(embedding) AS x,
      |           generate_subscripts(embedding, 1) - 1 AS dim
      |    FROM embeddings) t),
      |ranges AS (SELECT dim, min(xq) AS mn, max(xq) AS mx FROM comps GROUP BY 1),
      |bucketed AS (
      |  SELECT label, comps.dim,
      |         CAST(((xq - mn) * 16) // (mx - mn + 1) AS INTEGER) AS b
      |  FROM comps JOIN ranges ON comps.dim = ranges.dim),
      |cc AS (
      |  SELECT dim, b, label, CAST(count(*) AS BIGINT) AS c
      |  FROM bucketed GROUP BY 1, 2, 3),
      |grid AS (
      |  SELECT d.dim, bb.b, l.label, coalesce(c, 0) AS c
      |  FROM (SELECT dim FROM ranges) d
      |  CROSS JOIN (SELECT DISTINCT label FROM comps) l
      |  CROSS JOIN (SELECT unnest(range(0, 16)) AS b) bb
      |  LEFT JOIN cc ON cc.dim = d.dim AND cc.b = bb.b AND cc.label = l.label),
      |cum AS (
      |  SELECT dim, b, label,
      |         sum(c) OVER (PARTITION BY dim, label ORDER BY b
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cl
      |  FROM grid),
      |ctot AS (SELECT label, CAST(count(*) AS BIGINT) AS ct FROM comps GROUP BY 1),
      |nn AS (SELECT CAST(count(*) // 64 AS BIGINT) AS n FROM comps),
      |per_split AS (
      |  SELECT dim, b, sum(cl) AS nl,
      |         floor(CAST(sum(cl * cl) AS DOUBLE) * 1e6 / CAST(sum(cl) AS DOUBLE)) +
      |         floor(CAST(sum((ct - cl) * (ct - cl)) AS DOUBLE) * 1e6 /
      |               CAST(n - sum(cl) AS DOUBLE)) AS score, n
      |  FROM cum JOIN ctot USING (label) CROSS JOIN nn
      |  GROUP BY dim, b, n
      |  HAVING b < 15 AND sum(cl) > 0 AND sum(cl) < n),
      |best AS (
      |  SELECT dim, b, nl, n, score FROM per_split
      |  ORDER BY score DESC, dim, b LIMIT 1)
      |SELECT best.dim AS best_dim,
      |       round(CAST(mn + (mx - mn + 1) * (b + 1) / 16 AS DOUBLE) / 1e6, 6)
      |         AS threshold,
      |       CAST(nl AS BIGINT) AS n_left, CAST(n - nl AS BIGINT) AS n_right,
      |       round(score / 1e6 / CAST(n AS DOUBLE), 6) AS weighted_purity
      |FROM best JOIN ranges ON best.dim = ranges.dim""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-oaxaca-blinder", aggOaxacaBlinder, aggOaxacaBlinderSql),
    Key("agg-lin-ccc", aggLinCcc, aggLinCccSql),
    Key("agg-rank-stability-kendall", aggRankStabilityKendall, aggRankStabilityKendallSql),
    Key("emb-axis-split-gain", embAxisSplitGain, embAxisSplitGainSql))
}
