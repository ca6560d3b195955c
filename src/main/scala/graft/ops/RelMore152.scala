package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch BA: cross-price elasticity, revenue beta,
  * brand-switching flows, mean segmental TTR. */
object RelMore152 extends KeyModule {

  /** agg-cross-elasticity — the cross-price elasticity matrix of the
    * top 3 revenue brands: ∂ln q_A/∂ln p_B from monthly series (all
    * 9 ordered pairs; the diagonal reproduces own-price elasticity,
    * agg-price-elasticity's number, as an internal consistency
    * anchor). A positive off-diagonal says substitutes, negative
    * says complements — the pricing-decision layer own-price alone
    * cannot answer (raising B's price moves A's VOLUME). Monthly
    * ln(q) and ln(p) are nano-floored integers; each pair's slope is
    * the exact-moment closed form over the inner-joined month
    * series; brand pairing is a broadcast of two 3-brand-wide
    * frames. Full-data cost: one brand-month aggregate. */
  val aggCrossElasticity: Q = (s, d) => {
    val bm = lineitem(s, d)
      .join(part(s, d).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"),
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).as("mth"))
      .agg(sum(expr("CAST(l_quantity AS DECIMAL(38,0))")).as("qty"),
        sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
          .as("rev"))
      .select(col("brand"), col("mth"),
        floor(log(col("qty").cast(DoubleType)) * lit(1e9)).cast(LongType).as("lq"),
        floor(log(col("rev").cast(DoubleType) / col("qty").cast(DoubleType)) * lit(1e9))
          .cast(LongType).as("lp"))
      .sharedCache()
    val top3 = bm.groupBy("brand").agg(sum("lq").as("t"))
      .orderBy(col("t").desc, col("brand")).limit(3).select("brand")
    val qa = bm.join(broadcast(top3), Seq("brand"))
      .select(col("brand").as("brand_q"), col("mth"), col("lq"))
    val pb = bm.join(broadcast(top3), Seq("brand"))
      .select(col("brand").as("brand_p"), col("mth"), col("lp"))
    val pairs = qa.join(pb, Seq("mth"))
    pairs.groupBy("brand_q", "brand_p")
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum(expr("CAST(lp AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(lq AS DECIMAL(38,0))")).as("sy"),
        sum(expr("CAST(lp AS DECIMAL(38,0)) * lp")).as("sxx"),
        sum(expr("CAST(lp AS DECIMAL(38,0)) * lq")).as("sxy"))
      .select(col("brand_q"), col("brand_p"), col("n").cast(LongType).as("n_months"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType), 4)
          .as("elasticity"))
      .withColumn("relation", when(col("brand_q") === col("brand_p"), "own")
        .when(col("elasticity") > 0.05, "substitute")
        .when(col("elasticity") < -0.05, "complement").otherwise("independent"))
      .orderBy("brand_q", "brand_p")
  }

  val aggCrossElasticitySql: String =
    """WITH bm AS MATERIALIZED (
      |  SELECT brand, mth,
      |         CAST(floor(ln(CAST(qty AS DOUBLE)) * 1e9) AS BIGINT) AS lq,
      |         CAST(floor(ln(CAST(rev AS DOUBLE) / CAST(qty AS DOUBLE)) * 1e9) AS BIGINT)
      |           AS lp
      |  FROM (
      |    SELECT p_brand AS brand, year(l_shipdate) * 100 + month(l_shipdate) AS mth,
      |           CAST(sum(CAST(l_quantity AS HUGEINT)) AS HUGEINT) AS qty,
      |           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |                AS HUGEINT) AS rev
      |    FROM lineitem JOIN part ON l_partkey = p_partkey
      |    GROUP BY 1, 2) t),
      |top3 AS (
      |  SELECT brand FROM (
      |    SELECT brand, sum(lq) AS t FROM bm GROUP BY 1) x
      |  ORDER BY t DESC, brand LIMIT 3),
      |pairs AS (
      |  SELECT qa.brand AS brand_q, pb.brand AS brand_p, qa.lq, pb.lp
      |  FROM (SELECT bm.* FROM bm JOIN top3 USING (brand)) qa
      |  JOIN (SELECT bm.* FROM bm JOIN top3 USING (brand)) pb ON qa.mth = pb.mth),
      |fits AS (
      |  SELECT brand_q, brand_p, CAST(count(*) AS BIGINT) AS n_months,
      |         round(CAST(count(*) * sum(CAST(lp AS HUGEINT) * lq) -
      |                    CAST(sum(lp) AS HUGEINT) * sum(lq) AS DOUBLE) /
      |               CAST(count(*) * sum(CAST(lp AS HUGEINT) * lp) -
      |                    CAST(sum(lp) AS HUGEINT) * sum(lp) AS DOUBLE), 4) AS elasticity
      |  FROM pairs GROUP BY 1, 2)
      |SELECT brand_q, brand_p, n_months, elasticity,
      |       CASE WHEN brand_q = brand_p THEN 'own'
      |            WHEN elasticity > 0.05 THEN 'substitute'
      |            WHEN elasticity < -0.05 THEN 'complement'
      |            ELSE 'independent' END AS relation
      |FROM fits ORDER BY brand_q, brand_p""".stripMargin

  /** agg-revenue-beta — each brand's systematic exposure to the
    * whole-market revenue cycle: CAPM-style regression of monthly
    * brand log-growth on market log-growth, reporting β (cyclical
    * amplification), α (idiosyncratic drift) and R² (how much of the
    * brand's variance the market explains). The portfolio view the
    * per-brand ops lack: agg-brand-growth-rate says how fast a brand
    * grows, β says how it RESPONDS — a β≈0 brand diversifies the
    * revenue base, a β≈2 brand doubles the downturn. Growth rates
    * are exact lag differences of nano-floored ln levels; the market
    * series folds once and broadcasts; per-brand slopes are
    * exact-moment closed forms. */
  val aggRevenueBeta: Q = (s, d) => {
    val bm = lineitem(s, d)
      .join(part(s, d).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"),
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).as("mth"))
      .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
        .as("rev"))
      .select(col("brand"), col("mth"), col("rev"),
        floor(log(col("rev").cast(DoubleType)) * lit(1e9)).cast(LongType).as("lr"))
      .sharedCache()
    // market level from the EXACT decimal revenue total per month —
    // never ln(Σexp(...)) of doubles, whose addition order varies
    val market = bm.groupBy("mth")
      .agg(floor(log(sum("rev").cast(DoubleType)) * lit(1e9)).cast(LongType).as("lm"))
    val wb = Window.partitionBy("brand").orderBy("mth")
    val wm = Window.orderBy("mth")
    val mkt = market
      .withColumn("gm", col("lm") - lag("lm", 1).over(wm))
      .filter(col("gm").isNotNull)
      .select(col("mth"), col("gm"))
    val gb = bm
      .withColumn("g", col("lr") - lag("lr", 1).over(wb))
      .withColumn("pm", lag("mth", 1).over(wb))
      .filter(col("g").isNotNull &&
        (col("mth") - col("pm") === 1 || (pmod(col("mth"), lit(100)) === 1 &&
          col("mth") - col("pm") === 89)))
      .select(col("brand"), col("mth"), col("g"))
    gb.join(broadcast(mkt), Seq("mth"))
      .groupBy("brand")
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum(expr("CAST(gm AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(g AS DECIMAL(38,0))")).as("sy"),
        sum(expr("CAST(gm AS DECIMAL(38,0)) * gm")).as("sxx"),
        sum(expr("CAST(gm AS DECIMAL(38,0)) * g")).as("sxy"),
        sum(expr("CAST(g AS DECIMAL(38,0)) * g")).as("syy"))
      .filter(col("n") >= 24)
      .select(col("brand"), col("n").cast(LongType).as("n_months"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType), 4).as("beta"),
        round((col("sy").cast(DoubleType) -
          (col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType) *
            col("sx").cast(DoubleType)) / col("n").cast(DoubleType) / lit(1e9), 6)
          .as("alpha_monthly"),
        round(((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) *
          (col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType)) /
          ((col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType) *
            (col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType)), 4).as("r2"))
      .orderBy(col("beta").desc, col("brand"))
  }

  val aggRevenueBetaSql: String =
    """WITH bm AS MATERIALIZED (
      |  SELECT brand, mth, rev,
      |         CAST(floor(ln(CAST(rev AS DOUBLE)) * 1e9) AS BIGINT) AS lr
      |  FROM (
      |    SELECT p_brand AS brand, year(l_shipdate) * 100 + month(l_shipdate) AS mth,
      |           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |                AS HUGEINT) AS rev
      |    FROM lineitem JOIN part ON l_partkey = p_partkey
      |    GROUP BY 1, 2) t),
      |market AS (
      |  SELECT mth,
      |         CAST(floor(ln(CAST(sum(rev) AS DOUBLE)) * 1e9) AS BIGINT) AS lm
      |  FROM bm GROUP BY 1),
      |mkt AS (
      |  SELECT mth, gm FROM (
      |    SELECT mth, lm - lag(lm) OVER (ORDER BY mth) AS gm FROM market) t
      |  WHERE gm IS NOT NULL),
      |gb AS (
      |  SELECT brand, mth, g FROM (
      |    SELECT brand, mth,
      |           lr - lag(lr) OVER (PARTITION BY brand ORDER BY mth) AS g,
      |           lag(mth) OVER (PARTITION BY brand ORDER BY mth) AS pm
      |    FROM bm) t
      |  WHERE g IS NOT NULL
      |    AND (mth - pm = 1 OR (mth % 100 = 1 AND mth - pm = 89))),
      |fits AS (
      |  SELECT brand, CAST(count(*) AS BIGINT) AS n_months,
      |         CAST(count(*) AS HUGEINT) AS n,
      |         CAST(sum(gm) AS HUGEINT) AS sx, CAST(sum(g) AS HUGEINT) AS sy,
      |         CAST(sum(CAST(gm AS HUGEINT) * gm) AS HUGEINT) AS sxx,
      |         CAST(sum(CAST(gm AS HUGEINT) * g) AS HUGEINT) AS sxy,
      |         CAST(sum(CAST(g AS HUGEINT) * g) AS HUGEINT) AS syy
      |  FROM gb JOIN mkt USING (mth)
      |  GROUP BY brand HAVING count(*) >= 24)
      |SELECT brand, n_months,
      |       round(CAST(n * sxy - sx * sy AS DOUBLE) /
      |             CAST(n * sxx - sx * sx AS DOUBLE), 4) AS beta,
      |       round((CAST(sy AS DOUBLE) -
      |              CAST(n * sxy - sx * sy AS DOUBLE) /
      |                CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
      |             CAST(n AS DOUBLE) / 1e9, 6) AS alpha_monthly,
      |       round(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE) /
      |             (CAST(n * sxx - sx * sx AS DOUBLE) *
      |              CAST(n * syy - sy * sy AS DOUBLE)), 4) AS r2
      |FROM fits
      |ORDER BY beta DESC, brand""".stripMargin

  /** agg-brand-switching — customer brand-loyalty flows: each
    * customer's modal brand per year (exact argmax: most lines,
    * revenue then brand tiebreaks), joined across consecutive years
    * into a switching matrix — stayed / switched-to-X flows with row
    * shares, top 15 flows by volume. Retention dashboards track
    * CUSTOMER churn (agg-churn); brand PREFERENCE churn is the
    * upstream cause, and the matrix's diagonal mass is the loyalty
    * number a brand manager owns. Modal brands via one row_number
    * window over exact counts; the year-pair join is customer-keyed;
    * everything after is brand×brand-sized. */
  val aggBrandSwitching: Q = (s, d) => {
    // r15: repartition after the single-row-group read (guide §2.5) —
    // StageProfile showed the scan+2-join+decimal-agg map stage running
    // as ONE working task (taskSum ≈ stage wall ≈ 1.0 s); the per-row
    // work (two hash probes + decimal cast/sum) is heavy enough to pay
    // the ~18 MB projected exchange, the r14 rule of thumb's keep side
    val cb = lineitem(s, d)
      .select(col("l_partkey"), col("l_orderkey"), col("l_extendedprice"))
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
      .join(part(s, d).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .join(orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).as("yr")), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("ck"), col("yr"), col("p_brand").as("brand"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
          .as("rev"))
    // r14 opt: per-(ck, yr) argmax via the bounded-heap TopKPerKey
    // operator — the row_number window shuffled and sorted every
    // (ck, yr, brand) row to keep one per key (guide §2.3: shuffle
    // k·|keys| rows, not the table). Same total order → same modal row.
    val modal = graft.plans.TopKPerKey.of(cb, Seq("ck", "yr"),
        Seq("n" -> false, "rev" -> false, "brand" -> true), 1)
      .select(col("ck"), col("yr"), col("brand"))
      .sharedCache()
    val flows = modal.as("a")
      .join(modal.as("b"), expr("a.ck = b.ck AND b.yr = a.yr + 1"))
      .groupBy(col("a.brand").as("brand_from"), col("b.brand").as("brand_to"))
      .agg(count(lit(1)).as("n_customers"))
    val rowTot = flows.groupBy("brand_from").agg(sum("n_customers").as("row_n"))
    flows.join(broadcast(rowTot), Seq("brand_from"))
      .select(col("brand_from"), col("brand_to"), col("n_customers"),
        ratioFloor(col("n_customers").cast(DoubleType), col("row_n"), 6).as("row_share"),
        (col("brand_from") === col("brand_to")).as("loyal"))
      .orderBy(col("n_customers").desc, col("brand_from"), col("brand_to"))
      .limit(15)
  }

  val aggBrandSwitchingSql: String =
    """WITH cb AS (
      |  SELECT o_custkey AS ck, year(o_orderdate) AS yr, p_brand AS brand,
      |         CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS rev
      |  FROM lineitem
      |  JOIN part ON l_partkey = p_partkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2, 3),
      |modal AS MATERIALIZED (
      |  SELECT ck, yr, brand FROM (
      |    SELECT ck, yr, brand,
      |           row_number() OVER (PARTITION BY ck, yr
      |             ORDER BY n DESC, rev DESC, brand) AS rk
      |    FROM cb) t
      |  WHERE rk = 1),
      |flows AS (
      |  SELECT a.brand AS brand_from, b.brand AS brand_to,
      |         CAST(count(*) AS BIGINT) AS n_customers
      |  FROM modal a JOIN modal b ON a.ck = b.ck AND b.yr = a.yr + 1
      |  GROUP BY 1, 2),
      |row_tot AS (
      |  SELECT brand_from, CAST(sum(n_customers) AS BIGINT) AS row_n
      |  FROM flows GROUP BY 1)
      |SELECT brand_from, brand_to, n_customers,
      |       floor(CAST(n_customers AS DOUBLE) * 1e6 / row_n) / 1e6 AS row_share,
      |       brand_from = brand_to AS loyal
      |FROM flows JOIN row_tot USING (brand_from)
      |ORDER BY n_customers DESC, brand_from, brand_to
      |LIMIT 15""".stripMargin

  /** text-msttr — mean segmental type-token ratio per source: TTR
    * computed on consecutive 25-token segments (sized to the fixture: docs run 10-99 tokens) and averaged, which
    * removes the document-length confound that makes raw TTR
    * incomparable (longer texts ALWAYS score lower — Heaps' law;
    * text-yules-k normalizes by a different route, the repeat-rate).
    * MSTTR is the psycholinguistics standard for lexical diversity
    * across unequal-length corpora. Segments come from the token
    * position (pos div 100), partials dropped (stated); per-segment
    * distinct counts are exact; the per-source mean is an exact
    * integer ratio of summed per-segment TTR numerators over a
    * common 100-token denominator. */
  val textMsttr: Q = (s, d) => {
    val segs = documents(s, d)
      .select(col("source"), col("doc_id"),
        posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "w")))
      .select(col("source"), col("doc_id"), (col("pos").cast(LongType) / 25)
        .cast(LongType).as("seg"), col("pos"), col("w"))
      .groupBy("source", "doc_id", "seg")
      .agg(count(lit(1)).as("n_tok"), count_distinct(col("w")).as("n_typ"))
      .filter(col("n_tok") === 25)
    segs.groupBy("source")
      .agg(count(lit(1)).as("n_segments"), sum("n_typ").as("st"))
      .select(col("source"), col("n_segments"),
        ratioFloor(col("st").cast(DoubleType), col("n_segments") * 25, 6).as("msttr"))
      .orderBy("source")
  }

  val textMsttrSql: String =
    """WITH toks AS (
      |  SELECT source, doc_id, w, (pos - 1) // 25 AS seg
      |  FROM (
      |    SELECT source, doc_id,
      |           unnest(regexp_split_to_array(trim(text), '\s+')) AS w,
      |           generate_subscripts(regexp_split_to_array(trim(text), '\s+'), 1) AS pos
      |    FROM documents) t),
      |segs AS (
      |  SELECT source, doc_id, seg, CAST(count(*) AS BIGINT) AS n_tok,
      |         CAST(count(DISTINCT w) AS BIGINT) AS n_typ
      |  FROM toks GROUP BY 1, 2, 3
      |  HAVING count(*) = 25)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_segments,
      |       floor(CAST(sum(n_typ) AS DOUBLE) * 1e6 / (count(*) * 25)) / 1e6 AS msttr
      |FROM segs GROUP BY source
      |ORDER BY source""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-cross-elasticity", aggCrossElasticity, aggCrossElasticitySql),
    Key("agg-revenue-beta", aggRevenueBeta, aggRevenueBetaSql),
    Key("agg-brand-switching", aggBrandSwitching, aggBrandSwitchingSql),
    Key("text-msttr", textMsttr, textMsttrSql))
}
