package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch AE: Fleiss' kappa, opening-boilerplate profile,
  * degree-stratified clustering, Amihud illiquidity. */
object RelMore130 extends KeyModule {

  /** agg-fleiss-kappa — Fleiss' kappa over m = 4 "raters" (the
    * calendar quarters) assigning the top-12 revenue parts to demand
    * terciles (rank within quarter → top/mid/bottom 4): do the
    * quarters AGREE on each part's tier? κ = (P̄ − P̄ₑ)/(1 − P̄ₑ) with
    * P̄ from per-item category counts and P̄ₑ from marginal shares —
    * the m-rater categorical-agreement coefficient that completes
    * the family (dq-cohens-kappa = 2 raters, agg-kendall-w = ranks).
    * The tercile assignment is a tie-broken exact rank; every count
    * in P̄ and P̄ₑ is an exact integer, and with n = 12, m = 4 the
    * whole computation is exact rationals — κ is the only double.
    * Aggregate-sized frames end to end. */
  val aggFleissKappa: Q = (s, d) => {
    val byPartQ = lineitem(s, d)
      .groupBy(col("l_partkey"), quarter(col("l_shipdate")).as("qtr"))
      .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("rev"))
      .sharedCache()
    val top = byPartQ.groupBy("l_partkey").agg(sum("rev").as("trev"))
      .orderBy(col("trev").desc, col("l_partkey")).limit(12)
      .select("l_partkey")
    val wq = Window.partitionBy("qtr").orderBy(col("rev").desc, col("l_partkey"))
    val rated = byPartQ.join(broadcast(top), Seq("l_partkey"))
      .withColumn("r", row_number().over(wq))
      .withColumn("cat", when(col("r") <= 4, "hi").when(col("r") <= 8, "mid")
        .otherwise("lo"))
    val cell = rated.groupBy("l_partkey", "cat").agg(count(lit(1)).as("nij"))
    // P_i = (Σ nij² − m)/(m(m−1)); here m = 4
    val pi = cell.groupBy("l_partkey")
      .agg(sum(expr("nij * nij")).as("ss"))
      .select(expr("((ss - 4) * 1000000L) div 12").as("pi_q"))
      .agg(count(lit(1)).as("n_items"), sum("pi_q").as("spi_q"))
    val pe = cell.groupBy("cat").agg(sum("nij").as("nj"))
      .agg(sum(expr("nj * nj")).as("sj2"), sum("nj").as("tot"))
      .select((col("sj2").cast(DoubleType) /
        (col("tot").cast(DoubleType) * col("tot"))).as("pe"))
    pi.crossJoin(broadcast(pe))
      .select(col("n_items"),
        (col("spi_q").cast(DoubleType) / 1e6 / col("n_items")).as("pbar"), col("pe"))
      .select(col("n_items"),
        round(col("pbar"), 6).as("p_bar"),
        round(col("pe"), 6).as("p_e"),
        round((col("pbar") - col("pe")) / (lit(1.0) - col("pe")), 4).as("fleiss_kappa"))
  }

  val aggFleissKappaSql: String =
    """WITH by_pq AS MATERIALIZED (
      |  SELECT l_partkey, quarter(l_shipdate) AS qtr,
      |         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
      |  FROM lineitem GROUP BY 1, 2),
      |top AS (
      |  SELECT l_partkey FROM (
      |    SELECT l_partkey, sum(rev) AS trev FROM by_pq GROUP BY 1) t
      |  ORDER BY trev DESC, l_partkey LIMIT 12),
      |rated AS (
      |  SELECT l_partkey,
      |         CASE WHEN r <= 4 THEN 'hi' WHEN r <= 8 THEN 'mid' ELSE 'lo' END AS cat
      |  FROM (
      |    SELECT by_pq.l_partkey,
      |           row_number() OVER (PARTITION BY qtr ORDER BY rev DESC, by_pq.l_partkey) AS r
      |    FROM by_pq JOIN top USING (l_partkey)) t),
      |cell AS MATERIALIZED (
      |  SELECT l_partkey, cat, CAST(count(*) AS BIGINT) AS nij FROM rated GROUP BY 1, 2),
      |pi AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_items, CAST(sum(pi_q) AS BIGINT) AS spi_q FROM (
      |    SELECT ((CAST(sum(nij * nij) AS BIGINT) - 4) * 1000000) // 12 AS pi_q
      |    FROM cell GROUP BY l_partkey) t),
      |pe AS (
      |  SELECT CAST(sum(nj * nj) AS DOUBLE) / (CAST(sum(nj) AS DOUBLE) * sum(nj)) AS pe FROM (
      |    SELECT CAST(sum(nij) AS BIGINT) AS nj FROM cell GROUP BY cat) t)
      |SELECT n_items,
      |       round(CAST(spi_q AS DOUBLE) / 1e6 / n_items, 6) AS p_bar,
      |       round(pe, 6) AS p_e,
      |       round((CAST(spi_q AS DOUBLE) / 1e6 / n_items - pe) / (1.0 - pe), 4) AS fleiss_kappa
      |FROM pi CROSS JOIN pe""".stripMargin

  /** text-opening-boilerplate — position-specific boilerplate
    * detection: the distribution of document OPENING trigrams (first
    * three tokens), reporting the top-5 openings with their corpus
    * shares and the opening-diversity perplexity exp(H). Templated
    * corpora concentrate openings ("Terms of Service", scraped
    * nav headers) even when whole-document dedup passes —
    * text-repetition-position locates repeats inside documents; this
    * catches the cross-document template at position zero, the
    * highest-value strip for pretraining (models overweight document
    * starts). Counts exact; perplexity by the nano-quantized
    * Σn·⌊ln n⌋ fold; top-5 by (count, opening) tiebreak. */
  val textOpeningBoilerplate: Q = (s, d) => {
    val opening = documents(s, d)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
      .filter(size(col("t")) >= 3)
      .select(concat_ws(" ", col("t").getItem(0), col("t").getItem(1),
        col("t").getItem(2)).as("opening"))
      .sharedCache()
    val counts = opening.groupBy("opening").agg(count(lit(1)).as("c")).sharedCache()
    val tot = counts.agg(sum("c").as("n"), count(lit(1)).as("k"),
      sum(expr("c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1e9) AS BIGINT)")).as("slq"))
      .select(col("n"), col("k"),
        round(exp(log(col("n").cast(DoubleType)) -
          col("slq").cast(DoubleType) / 1e9 / col("n")), 2).as("opening_perplexity"))
    counts.orderBy(col("c").desc, col("opening")).limit(5)
      .crossJoin(broadcast(tot))
      .select(col("opening"), col("c").as("n_docs"),
        ratioFloor(col("c"), col("n"), 6).as("share"),
        col("k").as("distinct_openings"), col("opening_perplexity"))
      .orderBy(col("n_docs").desc, col("opening"))
  }

  val textOpeningBoilerplateSql: String =
    """WITH opening AS MATERIALIZED (
      |  SELECT t[1] || ' ' || t[2] || ' ' || t[3] AS opening FROM (
      |    SELECT regexp_split_to_array(trim(text), '\s+') AS t FROM documents) sp
      |  WHERE len(t) >= 3),
      |counts AS MATERIALIZED (
      |  SELECT opening, CAST(count(*) AS BIGINT) AS c FROM opening GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
      |         round(exp(ln(CAST(sum(c) AS DOUBLE)) -
      |               CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1e9) AS BIGINT)) AS DOUBLE)
      |               / 1e9 / sum(c)), 2) AS opening_perplexity
      |  FROM counts),
      |top5 AS (
      |  SELECT opening, c FROM counts ORDER BY c DESC, opening LIMIT 5)
      |SELECT opening, c AS n_docs,
      |       floor(CAST(c AS DOUBLE) * 1e6 / n) / 1e6 AS share,
      |       k AS distinct_openings, opening_perplexity
      |FROM top5 CROSS JOIN tot
      |ORDER BY n_docs DESC, opening""".stripMargin

  /** graph-clustering-by-degree — the degree-stratified clustering
    * curve of the co-supply graph: local clustering coefficient
    * (closed wedges / wedges at each node), averaged within degree
    * buckets (2-3, 4-7, 8-15, 16+) — hierarchical networks show
    * C(k) ∝ 1/k (high-degree hubs bridge communities rather than
    * belonging to one), flat C(k) suggests an Erdős-Rényi-like graph
    * where the community ops (label-propagation, modularity) won't
    * find much. graph-clustering-coeff reports ONE number; the curve
    * is the structure diagnostic. Per-node triangle and wedge counts
    * are exact (the established wedge-join shape on the aggregate
    * edge list); per-node C is micro-floor-quantized; bucket means
    * are exact folds. */
  val graphClusteringByDegree: Q = (s, d) => {
    val sl = lineitem(s, d)
      .filter(col("l_orderkey") % 50 === 0)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      .distinct()
    val e = sl.as("a").join(sl.as("b"), Seq("ok"))
      .filter(col("a.sk") =!= col("b.sk"))
      .select(col("a.sk").as("u"), col("b.sk").as("v"))
      .distinct()
      .sharedCache()
    val deg = e.groupBy("u").agg(count(lit(1)).as("deg")).sharedCache()
    val tri = e.as("e1")
      .join(e.as("e2"), col("e2.u") === col("e1.v"))
      .select(col("e1.u").as("x"), col("e2.v").as("z"))
      .join(e.as("e3"), col("x") === col("e3.u") && col("z") === col("e3.v"))
      .groupBy("x").agg((count(lit(1)) / 2).cast(LongType).as("tri_n"))
    val perNode = deg.join(tri, col("u") === col("x"), "left")
      .filter(col("deg") >= 2)
      .select(col("deg"),
        floor(coalesce(col("tri_n"), lit(0L)).cast(DoubleType) * lit(2e6) /
          (col("deg") * (col("deg") - 1))).cast(LongType).as("cq"))
      .withColumn("bucket", when(col("deg") <= 3, "deg_02_03")
        .when(col("deg") <= 7, "deg_04_07")
        .when(col("deg") <= 15, "deg_08_15").otherwise("deg_16_up"))
    perNode.groupBy("bucket")
      .agg(count(lit(1)).as("n_nodes"), sum("cq").as("scq"))
      .select(col("bucket"), col("n_nodes"),
        round(col("scq").cast(DoubleType) / 1e6 / col("n_nodes"), 6).as("mean_clustering"))
      .orderBy("bucket")
  }

  val graphClusteringByDegreeSql: String =
    """WITH sl AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
      |            FROM lineitem WHERE l_orderkey % 50 = 0),
      |e AS MATERIALIZED (
      |  SELECT DISTINCT a.sk AS u, b.sk AS v
      |  FROM sl a JOIN sl b ON a.ok = b.ok AND a.sk <> b.sk),
      |deg AS MATERIALIZED (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
      |tri AS (
      |  SELECT x, CAST(count(*) // 2 AS BIGINT) AS tri_n FROM (
      |    SELECT e1.u AS x, e2.v AS z
      |    FROM e e1 JOIN e e2 ON e2.u = e1.v) w
      |  JOIN e e3 ON w.x = e3.u AND w.z = e3.v
      |  GROUP BY x),
      |per_node AS (
      |  SELECT CASE WHEN deg <= 3 THEN 'deg_02_03' WHEN deg <= 7 THEN 'deg_04_07'
      |              WHEN deg <= 15 THEN 'deg_08_15' ELSE 'deg_16_up' END AS bucket,
      |         CAST(floor(CAST(coalesce(tri_n, 0) AS DOUBLE) * 2e6 /
      |              (deg * (deg - 1))) AS BIGINT) AS cq
      |  FROM deg LEFT JOIN tri ON deg.u = tri.x
      |  WHERE deg >= 2)
      |SELECT bucket, CAST(count(*) AS BIGINT) AS n_nodes,
      |       round(CAST(sum(cq) AS DOUBLE) / 1e6 / count(*), 6) AS mean_clustering
      |FROM per_node
      |GROUP BY bucket
      |ORDER BY bucket""".stripMargin

  /** win-amihud-illiq — the Amihud illiquidity measure by month:
    * mean(|daily log return| / daily volume), the price-impact-per-
    * unit-flow number that made "illiquidity" measurable from daily
    * data alone — here: how much the revenue level moves per order
    * of flow, the market-microstructure lens on order-book burst
    * sensitivity (complements agg-realized-vol: vol says HOW MUCH it
    * moves, Amihud says how much PER UNIT of activity). Returns are
    * nano-quantized logs of exact cent sums; each day's ratio is one
    * identical division pico-quantized (×10⁹ for readable units);
    * monthly means are exact folds. */
  val winAmihudIlliq: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(count(lit(1)).as("vol"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("y"))
    val wd = Window.orderBy("dt")
    val ratio = daily
      .withColumn("yl", lag("y", 1).over(wd))
      .filter(col("yl").isNotNull)
      .select((year(col("dt")) * 100 + month(col("dt"))).as("ym"),
        floor(abs(log(col("y").cast(DoubleType)) - log(col("yl").cast(DoubleType))) *
          lit(1e9) / col("vol")).cast(LongType).as("aq"))
    ratio.groupBy("ym")
      .agg(count(lit(1)).as("n_days"), sum("aq").as("sa"))
      .select(col("ym").cast(LongType).as("ym"), col("n_days"),
        round(col("sa").cast(DoubleType) / 1e9 / col("n_days") * 1e3, 6)
          .as("amihud_illiq_x1k"))
      .orderBy("ym")
  }

  val winAmihudIlliqSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(count(*) AS BIGINT) AS vol,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |ratio AS (
      |  SELECT year(dt) * 100 + month(dt) AS ym,
      |         CAST(floor(abs(ln(CAST(y AS DOUBLE)) - ln(CAST(yl AS DOUBLE))) * 1e9 / vol)
      |              AS BIGINT) AS aq
      |  FROM (SELECT dt, vol, y, lag(y) OVER (ORDER BY dt) AS yl FROM daily) t
      |  WHERE yl IS NOT NULL)
      |SELECT CAST(ym AS BIGINT) AS ym, CAST(count(*) AS BIGINT) AS n_days,
      |       round(CAST(sum(aq) AS DOUBLE) / 1e9 / count(*) * 1e3, 6) AS amihud_illiq_x1k
      |FROM ratio
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-fleiss-kappa", aggFleissKappa, aggFleissKappaSql),
    Key("text-opening-boilerplate", textOpeningBoilerplate, textOpeningBoilerplateSql),
    Key("graph-clustering-by-degree", graphClusteringByDegree, graphClusteringByDegreeSql),
    Key("win-amihud-illiq", winAmihudIlliq, winAmihudIlliqSql))
}
