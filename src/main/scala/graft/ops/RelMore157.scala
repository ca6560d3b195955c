package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch BF: Mahalanobis outliers, funnel-plot limits,
  * adjacent-sentence coherence, purchase regularity. */
object RelMore157 extends KeyModule {

  /** dq-mahalanobis-outliers — MULTIVARIATE outlier detection on
    * (quantity, unit price): squared Mahalanobis distance through
    * the exact 2×2 covariance inverse, with the χ²₂ 99.9% gate
    * (13.816). Every univariate screen in the repo (dq-tukey-fences,
    * dq-mad-outliers, win-rolling-zscore) misses the point that
    * kills real data: a row can be unremarkable in EACH column and
    * impossible in their COMBINATION (tiny quantity at a huge unit
    * price) — correlation-aware distance is the fix. Covariance
    * moments are exact integers; the inverse is a closed form; the
    * per-row distance is mili-floored before ranking (engine-
    * identical), top 10 by distance + the beyond-χ² count. */
  val dqMahalanobisOutliers: Q = (s, d) => {
    // r14 opt: the single-row-group lineitem scan is one task, so the
    // wide-decimal projection, the moment sums AND the per-row distance
    // pass all ran on one core (guide §2.5 unsplittable input →
    // repartition after read; conf-derived count, scale-adaptive).
    // Decimal sums are exact and order-free, so the split changes no
    // output bit.
    val nParts = s.conf.get("spark.sql.shuffle.partitions").toInt
    val base = lineitem(s, d).repartition(nParts).select(col("l_orderkey").as("ok"),
        col("l_linenumber").as("ln"),
        expr("CAST(l_quantity AS DECIMAL(38,0))").as("x"),
        expr("CAST((CAST(l_extendedprice AS DECIMAL(18,2)) * 100 - " +
          "pmod(CAST(l_extendedprice AS DECIMAL(18,2)) * 100, " +
          "CAST(l_quantity AS DECIMAL(38,0)))) / CAST(l_quantity AS DECIMAL(38,0)) " +
          "AS DECIMAL(38,0))").as("y"))
      .sharedCache()
    val m = base.agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * x")).as("sxx"), sum(expr("y * y")).as("syy"),
        sum(expr("x * y")).as("sxy"))
      .select(col("n").cast(DoubleType).as("nd"),
        (col("sx").cast(DoubleType) / col("n").cast(DoubleType)).as("mx"),
        (col("sy").cast(DoubleType) / col("n").cast(DoubleType)).as("my"),
        ((col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType) /
          (col("n") * col("n")).cast(DoubleType)).as("vxx"),
        ((col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType) /
          (col("n") * col("n")).cast(DoubleType)).as("vyy"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
          (col("n") * col("n")).cast(DoubleType)).as("vxy"))
      .withColumn("det", col("vxx") * col("vyy") - col("vxy") * col("vxy"))
    val scored = base.crossJoin(broadcast(m))
      .withColumn("dx", col("x").cast(DoubleType) - col("mx"))
      .withColumn("dy", col("y").cast(DoubleType) - col("my"))
      .withColumn("d2q", floor((col("vyy") * col("dx") * col("dx") -
        lit(2.0) * col("vxy") * col("dx") * col("dy") +
        col("vxx") * col("dy") * col("dy")) / col("det") * lit(1e3)).cast(LongType))
      .sharedCache()
    val beyond = scored.filter(col("d2q") > 13816)
      .agg(count(lit(1)).as("n_beyond_chi2_999"))
    scored.orderBy(col("d2q").desc, col("ok"), col("ln")).limit(10)
      .crossJoin(broadcast(beyond))
      .select(col("ok").as("l_orderkey"), col("ln").as("l_linenumber"),
        col("x").cast(LongType).as("quantity"),
        round(col("y").cast(DoubleType) / 100, 2).as("unit_price_usd"),
        round(col("d2q").cast(DoubleType) / 1e3, 3).as("mahalanobis_d2"),
        col("n_beyond_chi2_999"))
      .orderBy(col("mahalanobis_d2").desc, col("l_orderkey"), col("l_linenumber"))
  }

  val dqMahalanobisOutliersSql: String =
    """WITH base AS MATERIALIZED (
      |  SELECT l_orderkey AS ok, l_linenumber AS ln,
      |         CAST(l_quantity AS HUGEINT) AS x,
      |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT) //
      |           CAST(l_quantity AS HUGEINT) AS y
      |  FROM lineitem),
      |m AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS nd,
      |         CAST(sum(x) AS DOUBLE) / count(*) AS mx,
      |         CAST(sum(y) AS DOUBLE) / count(*) AS my,
      |         CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS DOUBLE) /
      |           (CAST(count(*) AS DOUBLE) * count(*)) AS vxx,
      |         CAST(count(*) * sum(y * y) - sum(y) * sum(y) AS DOUBLE) /
      |           (CAST(count(*) AS DOUBLE) * count(*)) AS vyy,
      |         CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS DOUBLE) /
      |           (CAST(count(*) AS DOUBLE) * count(*)) AS vxy
      |  FROM base),
      |scored AS MATERIALIZED (
      |  SELECT ok, ln, x, y,
      |         CAST(floor((vyy * (x - mx) * (x - mx) -
      |                     2.0 * vxy * (x - mx) * (y - my) +
      |                     vxx * (y - my) * (y - my)) /
      |                    (vxx * vyy - vxy * vxy) * 1e3) AS BIGINT) AS d2q
      |  FROM base CROSS JOIN m),
      |beyond AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_beyond_chi2_999
      |  FROM scored WHERE d2q > 13816),
      |top AS (
      |  SELECT ok, ln, x, y, d2q FROM scored
      |  ORDER BY d2q DESC, ok, ln LIMIT 10)
      |SELECT ok AS l_orderkey, ln AS l_linenumber,
      |       CAST(x AS BIGINT) AS quantity,
      |       round(CAST(y AS DOUBLE) / 100, 2) AS unit_price_usd,
      |       round(CAST(d2q AS DOUBLE) / 1e3, 3) AS mahalanobis_d2,
      |       n_beyond_chi2_999
      |FROM top CROSS JOIN beyond
      |ORDER BY mahalanobis_d2 DESC, l_orderkey, l_linenumber""".stripMargin

  /** dq-funnel-plot-limits — the institutional-comparison funnel
    * plot: each nation's URGENT-order rate against 95% control
    * limits that NARROW with volume (p̄ ± 1.96·√(p̄(1−p̄)/nᵢ)).
    * League tables without size-aware limits flag small units for
    * noise and excuse big ones for real drift — the funnel is the
    * accepted fix (Spiegelhalter), and the out-of-funnel flag is
    * the defensible alert dq-slice-metrics' raw comparisons can't
    * give. Counts exact; the only doubles are the per-nation limit
    * evaluations; the overall rate is an exact integer ratio
    * quantized once. */
  val dqFunnelPlotLimits: Q = (s, d) => {
    val cells = orders(s, d)
      .join(customer(s, d).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nation"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("k"))
      .sharedCache()
    val overall = cells.agg(sum("n").as("nt"), sum("k").as("kt"))
      .select((col("kt").cast(DoubleType) / col("nt").cast(DoubleType)).as("pbar"))
    cells.crossJoin(broadcast(overall))
      .select(col("nation"), col("n").as("n_orders"),
        ratioFloor(col("k").cast(DoubleType), col("n"), 6).as("urgent_rate"),
        round(col("pbar") - lit(1.96) * sqrt(col("pbar") * (lit(1.0) - col("pbar")) /
          col("n").cast(DoubleType)), 6).as("funnel_lo"),
        round(col("pbar") + lit(1.96) * sqrt(col("pbar") * (lit(1.0) - col("pbar")) /
          col("n").cast(DoubleType)), 6).as("funnel_hi"))
      .withColumn("outside_funnel",
        col("urgent_rate") < col("funnel_lo") || col("urgent_rate") > col("funnel_hi"))
      .orderBy("nation")
  }

  val dqFunnelPlotLimitsSql: String =
    """WITH cells AS MATERIALIZED (
      |  SELECT c_nationkey AS nation, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
      |              AS BIGINT) AS k
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1),
      |overall AS (
      |  SELECT CAST(sum(k) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS pbar FROM cells),
      |m AS (
      |  SELECT nation, n AS n_orders,
      |         floor(CAST(k AS DOUBLE) * 1e6 / n) / 1e6 AS urgent_rate,
      |         round(pbar - 1.96 * sqrt(pbar * (1.0 - pbar) / n), 6) AS funnel_lo,
      |         round(pbar + 1.96 * sqrt(pbar * (1.0 - pbar) / n), 6) AS funnel_hi
      |  FROM cells CROSS JOIN overall)
      |SELECT nation, n_orders, urgent_rate, funnel_lo, funnel_hi,
      |       urgent_rate < funnel_lo OR urgent_rate > funnel_hi AS outside_funnel
      |FROM m ORDER BY nation""".stripMargin

  /** text-coherence-adjacent — discourse coherence per source: the
    * mean word-overlap (Jaccard) between ADJACENT sentences of each
    * document. Scrambled or concatenated-from-fragments text scores
    * near zero even when every sentence is individually fluent —
    * the document-structure signal that per-doc bag-of-words quality
    * scores (text-quality) are blind to, and a standard cheap filter
    * before expensive coherence models. "Sentences" are fixed
    * 10-token windows (the corpus carries no punctuation — stated;
    * the adjacency-overlap semantics are unchanged); per-pair
    * Jaccard is an exact integer ratio micro-floored before the
    * per-source fold. */
  val textCoherenceAdjacent: Q = (s, d) => {
    val words = documents(s, d)
      .select(col("source"), col("doc_id"),
        posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "w")))
      .select(col("source"), col("doc_id"), expr("pos div 10").as("sid"), col("w"))
      .distinct()
      .sharedCache()
    val sizes = words.groupBy("source", "doc_id", "sid")
      .agg(count(lit(1)).as("nw"))
    val inter = words.as("a").join(words.as("b"),
        expr("a.source = b.source AND a.doc_id = b.doc_id AND b.sid = a.sid + 1 " +
          "AND a.w = b.w"))
      .groupBy(col("a.source").as("source"), col("a.doc_id").as("doc_id"),
        col("a.sid").as("sid"))
      .agg(count(lit(1)).as("inter"))
    val pairs = sizes.as("s1").join(sizes.as("s2"),
        expr("s1.source = s2.source AND s1.doc_id = s2.doc_id AND s2.sid = s1.sid + 1"))
      .select(col("s1.source").as("source"), col("s1.doc_id").as("doc_id"),
        col("s1.sid").as("sid"), col("s1.nw").as("na"), col("s2.nw").as("nb"))
      .join(inter, Seq("source", "doc_id", "sid"), "left")
      .select(col("source"),
        expr("CAST(coalesce(inter, 0) * 1000000 div (na + nb - coalesce(inter, 0)) " +
          "AS BIGINT)").as("jq"))
    pairs.groupBy("source")
      .agg(count(lit(1)).as("n_adjacent_pairs"), sum("jq").as("sj"))
      .select(col("source"), col("n_adjacent_pairs"),
        ratioFloor(col("sj").cast(DoubleType), col("n_adjacent_pairs") * lit(1e6), 6)
          .as("mean_adjacent_jaccard"))
      .orderBy("source")
  }

  val textCoherenceAdjacentSql: String =
    """WITH words AS MATERIALIZED (
      |  SELECT DISTINCT source, doc_id, (pos - 1) // 10 AS sid, w
      |  FROM (
      |    SELECT source, doc_id,
      |           unnest(regexp_split_to_array(trim(text), '\s+')) AS w,
      |           generate_subscripts(regexp_split_to_array(trim(text), '\s+'), 1) AS pos
      |    FROM documents) t),
      |sizes AS (
      |  SELECT source, doc_id, sid, CAST(count(*) AS BIGINT) AS nw
      |  FROM words GROUP BY 1, 2, 3),
      |inter AS (
      |  SELECT a.source, a.doc_id, a.sid, CAST(count(*) AS BIGINT) AS inter
      |  FROM words a JOIN words b
      |    ON a.source = b.source AND a.doc_id = b.doc_id AND b.sid = a.sid + 1
      |   AND a.w = b.w
      |  GROUP BY 1, 2, 3),
      |pairs AS (
      |  SELECT s1.source,
      |         (coalesce(inter, 0) * 1000000) //
      |           (s1.nw + s2.nw - coalesce(inter, 0)) AS jq
      |  FROM sizes s1
      |  JOIN sizes s2 ON s1.source = s2.source AND s1.doc_id = s2.doc_id
      |    AND s2.sid = s1.sid + 1
      |  LEFT JOIN inter ON inter.source = s1.source AND inter.doc_id = s1.doc_id
      |    AND inter.sid = s1.sid)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_adjacent_pairs,
      |       floor(CAST(sum(jq) AS DOUBLE) * 1e6 / (count(*) * 1e6)) / 1e6
      |         AS mean_adjacent_jaccard
      |FROM pairs GROUP BY source
      |ORDER BY source""".stripMargin

  /** agg-purchase-regularity — the regular-vs-sporadic buyer census:
    * per customer with ≥ 5 orders, the coefficient of variation of
    * inter-order gaps, bucketed into the Croston-style regimes
    * (clockwork < 0.5, regular < 1, sporadic < 1.5, lumpy ≥ 1.5).
    * agg-croston-demand forecasts ONE intermittent series;
    * replenishment strategy needs the POPULATION split — clockwork
    * customers get subscriptions, lumpy ones get safety stock.
    * Inter-order gaps are exact day integers from one per-customer
    * lag window; per-customer CV folds exact moments and is micro-
    * floored before bucketing (no rounded CV flips a regime);
    * output is the four-regime census with shares. */
  val aggPurchaseRegularity: Q = (s, d) => {
    val gaps = orders(s, d)
      .select(col("o_custkey").as("ck"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).as("ed"),
        col("o_orderkey"))
      .withColumn("prev", lag("ed", 1).over(Window.partitionBy("ck")
        .orderBy(col("ed"), col("o_orderkey"))))
      .filter(col("prev").isNotNull)
      .select(col("ck"), (col("ed") - col("prev")).as("g"))
    val perC = gaps.groupBy("ck")
      .agg(count(lit(1)).as("m"),
        sum(expr("CAST(g AS DECIMAL(38,0))")).as("sg"),
        sum(expr("CAST(g AS DECIMAL(38,0)) * g")).as("sgg"))
      .filter(col("m") >= 5 && col("sg") > 0)
      .select(col("ck"),
        floor(sqrt((col("m") * col("sgg") - col("sg") * col("sg")).cast(DoubleType)) /
          col("sg").cast(DoubleType) * lit(1e6)).cast(LongType).as("cvq"))
    val buckets = perC.select(
      when(col("cvq") < 500000, "1_clockwork")
        .when(col("cvq") < 1000000, "2_regular")
        .when(col("cvq") < 1500000, "3_sporadic")
        .otherwise("4_lumpy").as("regime"))
    val tot = buckets.agg(count(lit(1)).as("n_customers"))
    buckets.groupBy("regime").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select(col("regime"), col("n"), col("n_customers"),
        ratioFloor(col("n").cast(DoubleType), col("n_customers"), 6).as("share"))
      .orderBy("regime")
  }

  val aggPurchaseRegularitySql: String =
    """WITH gaps AS (
      |  SELECT ck, ed - prev AS g FROM (
      |    SELECT o_custkey AS ck,
      |           datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS ed,
      |           lag(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)))
      |             OVER (PARTITION BY o_custkey
      |                   ORDER BY datediff('day', DATE '1970-01-01',
      |                     CAST(o_orderdate AS DATE)), o_orderkey) AS prev
      |    FROM orders) t
      |  WHERE prev IS NOT NULL),
      |per_c AS (
      |  SELECT ck,
      |         CAST(floor(sqrt(CAST(count(*) * sum(CAST(g AS HUGEINT) * g) -
      |                              CAST(sum(g) AS HUGEINT) * sum(g) AS DOUBLE)) /
      |                    CAST(sum(g) AS DOUBLE) * 1e6) AS BIGINT) AS cvq
      |  FROM gaps GROUP BY ck
      |  HAVING count(*) >= 5 AND sum(g) > 0),
      |buckets AS (
      |  SELECT CASE WHEN cvq < 500000 THEN '1_clockwork'
      |              WHEN cvq < 1000000 THEN '2_regular'
      |              WHEN cvq < 1500000 THEN '3_sporadic'
      |              ELSE '4_lumpy' END AS regime
      |  FROM per_c),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_customers FROM buckets)
      |SELECT regime, CAST(count(*) AS BIGINT) AS n, n_customers,
      |       floor(CAST(count(*) AS DOUBLE) * 1e6 / n_customers) / 1e6 AS share
      |FROM buckets CROSS JOIN tot
      |GROUP BY regime, n_customers
      |ORDER BY regime""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("dq-mahalanobis-outliers", dqMahalanobisOutliers, dqMahalanobisOutliersSql),
    Key("dq-funnel-plot-limits", dqFunnelPlotLimits, dqFunnelPlotLimitsSql),
    Key("text-coherence-adjacent", textCoherenceAdjacent, textCoherenceAdjacentSql),
    Key("agg-purchase-regularity", aggPurchaseRegularity, aggPurchaseRegularitySql))
}
