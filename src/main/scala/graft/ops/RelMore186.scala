package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-8 batch V: value-clipping detector, Huber M-estimator with
  * quantized IRLS weights, switchback experiment design audit,
  * balanced-interleaving ranker evaluation. */
object RelMore186 extends KeyModule {

  /** dq-clipping-detect — was a column CAPPED upstream? Clipping
    * leaves two fingerprints on the value histogram: an atom at the
    * maximum far heavier than the typical atom, and (for continuous
    * data) a missing right tail. The detector reads both off the
    * bounded value-domain histogram of l_quantity: the max atom's
    * share against the mean atom share, and the verdict
    * max_share > 2× mean share. One map-side histogram; nothing
    * row-scale afterwards. */
  val dqClippingDetect: Q = (s, d) => {
    val hist = lineitem(s, d)
      .groupBy(col("l_quantity").cast(LongType).as("v"))
      .agg(count(lit(1)).as("c"))
    val mx = hist.orderBy(col("v").desc).limit(1)
      .select(col("v").as("max_value"), col("c").as("max_count"))
    hist.agg(sum("c").as("n_rows"), count(lit(1)).as("n_distinct"))
      .crossJoin(broadcast(mx))
      .select(col("n_rows"), col("n_distinct"), col("max_value"),
        round(col("max_count").cast(DoubleType) /
          col("n_rows").cast(DoubleType), 6).as("max_atom_share"),
        round(lit(1.0) / col("n_distinct").cast(DoubleType), 6)
          .as("mean_atom_share"),
        (col("max_count") * col("n_distinct") > col("n_rows") * 2L)
          .as("clipping_suspected"))
  }

  val dqClippingDetectSql: String =
    """WITH hist AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1),
      |mx AS (
      |  SELECT v AS max_value, c AS max_count
      |  FROM hist ORDER BY v DESC LIMIT 1)
      |SELECT CAST(sum(c) AS BIGINT) AS n_rows,
      |       CAST(count(*) AS BIGINT) AS n_distinct,
      |       max(max_value) AS max_value,
      |       round(CAST(max(max_count) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6)
      |         AS max_atom_share,
      |       round(1.0 / CAST(count(*) AS DOUBLE), 6) AS mean_atom_share,
      |       max(max_count) * count(*) > sum(c) * 2 AS clipping_suspected
      |FROM hist CROSS JOIN mx""".stripMargin

  /** agg-huber-m-estimator — robust location for order value: three
    * IRLS rounds of the Huber M-estimate (k = 1.345σ̂), each round
    * re-weighting w = min(1, kσ/|x−μ|) and recomputing the weighted
    * mean. The distributed discipline: weights are quantized to
    * 1e3 integers so every round's weighted sums are EXACT Longs
    * (partition-order-free; at 100 TB the same sums ride DECIMAL(38)),
    * each round is one map-side scan over the cached cents column, and
    * μ updates are exact integer divisions. Reports mean vs Huber
    * estimate and the share of rows the final round downweighted — the
    * outlier mass a trimmed dashboard would silently drop. */
  val aggHuberMEstimator: Q = (s, d) => {
    val base = orders(s, d)
      .select(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
        .as("v"))
      .sharedCache()
    val m0 = base.agg(count(lit(1)).as("n"),
      sum(expr("CAST(v AS DECIMAL(38,0))")).as("sv"),
      sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("svv"))
      .select(col("n"),
        expr("CAST(sv DIV n AS BIGINT)").as("mu0"),
        sqrt((col("svv").cast(DoubleType) -
          col("sv").cast(DoubleType) * col("sv").cast(DoubleType) /
            col("n").cast(DoubleType)) / (col("n").cast(DoubleType) - 1.0))
          .as("sigma"))
    var mu: DataFrame = m0.select(col("n"), col("mu0").as("mu"), col("sigma"))
    for (_ <- 1 to 3) {
      mu = base.crossJoin(broadcast(mu))
        .withColumn("w", when(abs(col("v") - col("mu")) === 0L, lit(1000L))
          .otherwise(least(lit(1000L),
            floor(lit(1000.0) * lit(1.345) * col("sigma") /
              abs(col("v") - col("mu")).cast(DoubleType)).cast(LongType))))
        .agg(max("n").as("n"),
          expr("sum(w * v) DIV sum(w)").as("mu"),
          max("sigma").as("sigma"),
          sum(when(col("w") < 1000L, 1L).otherwise(0L)).as("downweighted"))
        .select(col("n"), col("mu"), col("sigma"), col("downweighted"))
    }
    mu.crossJoin(broadcast(m0.select(col("mu0"))))
      .select(col("n").as("n_orders"),
        round(col("mu0").cast(DoubleType) / 100, 2).as("mean_usd"),
        round(col("mu").cast(DoubleType) / 100, 2).as("huber_usd"),
        round(col("sigma") / 100, 2).as("sigma_usd"),
        col("downweighted"),
        round(col("downweighted").cast(DoubleType) /
          col("n").cast(DoubleType), 4).as("downweighted_share"))
  }

  val aggHuberMEstimatorSql: String = {
    def iter(prev: String, k: Int): String =
      s"""it$k AS (
         |  SELECT max(n) AS n,
         |         CAST(sum(w * v) // sum(w) AS BIGINT) AS mu,
         |         max(sigma) AS sigma,
         |         CAST(sum(CASE WHEN w < 1000 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS downweighted
         |  FROM (
         |    SELECT b.v, p.n, p.sigma,
         |           CASE WHEN abs(b.v - p.mu) = 0 THEN 1000
         |                ELSE least(1000, CAST(floor(1000.0 * 1.345 * p.sigma /
         |                     CAST(abs(b.v - p.mu) AS DOUBLE)) AS BIGINT)) END AS w
         |    FROM base b CROSS JOIN $prev p) t)""".stripMargin
    s"""WITH base AS MATERIALIZED (
       |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
       |  FROM orders),
       |m0 AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(CAST(v AS HUGEINT)) // count(*) AS BIGINT) AS mu,
       |         sqrt((CAST(sum(CAST(v AS HUGEINT) * v) AS DOUBLE) -
       |               CAST(sum(CAST(v AS HUGEINT)) AS DOUBLE) *
       |               CAST(sum(CAST(v AS HUGEINT)) AS DOUBLE) /
       |               CAST(count(*) AS DOUBLE)) /
       |              (CAST(count(*) AS DOUBLE) - 1.0)) AS sigma
       |  FROM base),
       |${iter("m0", 1)},
       |${iter("it1", 2)},
       |${iter("it2", 3)}
       |SELECT it3.n AS n_orders,
       |       round(CAST(m0.mu AS DOUBLE) / 100, 2) AS mean_usd,
       |       round(CAST(it3.mu AS DOUBLE) / 100, 2) AS huber_usd,
       |       round(it3.sigma / 100, 2) AS sigma_usd,
       |       it3.downweighted,
       |       round(CAST(it3.downweighted AS DOUBLE) / CAST(it3.n AS DOUBLE), 4)
       |         AS downweighted_share
       |FROM it3 CROSS JOIN m0""".stripMargin
  }

  /** sample-switchback-design — the experiment design for marketplace
    * interference: treatment flips on WEEKLY windows (hash parity of
    * the window index — reproducible, no RNG), every unit inside a
    * window shares its assignment, and the audit quantifies what the
    * design costs: assignment balance, the number of actual switches,
    * and the carryover-exposed share (orders on a window's FIRST day
    * following a window with the opposite assignment — the rows a
    * burn-in rule would drop). One scan; the per-window frame is
    * bounded by the calendar. */
  val sampleSwitchbackDesign: Q = (s, d) => {
    val base = orders(s, d)
      .select(datediff(to_date(col("o_orderdate")), lit("1995-01-01"))
        .cast(LongType).as("day"))
      .withColumn("w", expr("day DIV 7"))
      .withColumn("t", expr(
        "CAST(conv(substring(md5(concat('sw_', CAST(w AS STRING))), 1, 8), " +
          "16, 10) AS BIGINT) % 2"))
      .withColumn("tprev", expr(
        "CAST(conv(substring(md5(concat('sw_', CAST(w - 1 AS STRING))), 1, 8), " +
          "16, 10) AS BIGINT) % 2"))
      .withColumn("boundary_exposed",
        (col("day") % 7 === 0L) && (col("t") =!= col("tprev")))
      .sharedCache()
    val wins = base.groupBy("w", "t", "tprev").agg(count(lit(1)).as("c"))
    val winStats = wins.agg(count(lit(1)).as("n_windows"),
      sum(when(col("t") === 1L, 1L).otherwise(0L)).as("n_treated_windows"),
      sum(when(col("t") =!= col("tprev"), 1L).otherwise(0L)).as("n_switches"))
    base.agg(count(lit(1)).as("n_orders"),
      sum(when(col("t") === 1L, 1L).otherwise(0L)).as("n_treated_orders"),
      sum(when(col("boundary_exposed"), 1L).otherwise(0L)).as("n_exposed"))
      .crossJoin(broadcast(winStats))
      .select(col("n_windows"), col("n_switches"),
        round(col("n_treated_windows").cast(DoubleType) /
          col("n_windows").cast(DoubleType), 4).as("window_balance"),
        col("n_orders"),
        round(col("n_treated_orders").cast(DoubleType) /
          col("n_orders").cast(DoubleType), 4).as("order_balance"),
        col("n_exposed"),
        round(col("n_exposed").cast(DoubleType) /
          col("n_orders").cast(DoubleType), 4).as("carryover_exposed_share"))
  }

  val sampleSwitchbackDesignSql: String =
    """WITH base AS MATERIALIZED (
      |  SELECT day, day // 7 AS w,
      |         CAST(('0x' || substring(md5('sw_' || CAST(day // 7 AS VARCHAR)),
      |              1, 8))::BIGINT AS BIGINT) % 2 AS t,
      |         CAST(('0x' || substring(md5('sw_' || CAST(day // 7 - 1 AS VARCHAR)),
      |              1, 8))::BIGINT AS BIGINT) % 2 AS tprev
      |  FROM (SELECT datediff('day', DATE '1995-01-01',
      |               CAST(o_orderdate AS DATE)) AS day FROM orders) q),
      |flagged AS (
      |  SELECT *, day % 7 = 0 AND t <> tprev AS boundary_exposed FROM base),
      |wins AS (
      |  SELECT w, t, tprev, CAST(count(*) AS BIGINT) AS c
      |  FROM flagged GROUP BY 1, 2, 3),
      |winstats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_windows,
      |         CAST(sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_treated_windows,
      |         CAST(sum(CASE WHEN t <> tprev THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_switches
      |  FROM wins)
      |SELECT n_windows, n_switches,
      |       round(CAST(n_treated_windows AS DOUBLE) /
      |             CAST(n_windows AS DOUBLE), 4) AS window_balance,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       round(CAST(sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
      |             count(*), 4) AS order_balance,
      |       CAST(sum(CASE WHEN boundary_exposed THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_exposed,
      |       round(CAST(sum(CASE WHEN boundary_exposed THEN 1 ELSE 0 END)
      |             AS DOUBLE) / count(*), 4) AS carryover_exposed_share
      |FROM flagged CROSS JOIN winstats
      |GROUP BY n_windows, n_switches, n_treated_windows""".stripMargin

  /** agg-team-draft-interleaving — online ranker comparison without an
    * A/B split: ranker A (1996 revenue top-20 parts) and ranker B
    * (1996 order-line frequency top-20) are merged by balanced
    * interleaving (A's pick at odd slots, B's at even, duplicates
    * keep their earliest slot), and "clicks" are the parts that
    * actually made the NEXT year's revenue top-20 — each click credits
    * the team whose pick it was. Every ranking here is an
    * orderBy+limit (TakeOrderedAndProject bounded heap, the
    * sql-keyset-pagination lesson); the interleave itself is a ≤40-row
    * frame. */
  val aggTeamDraftInterleaving: Q = (s, d) => {
    def partRev(yr: Int): DataFrame = lineitem(s, d)
      .filter(year(col("l_shipdate")) === yr)
      .groupBy(col("l_partkey").as("pk"))
      .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .as("m"), count(lit(1)).as("cnt"))
    val a = partRev(1996).orderBy(col("m").desc, col("pk")).limit(20)
      .withColumn("rk", row_number().over(Window.orderBy(col("m").desc, col("pk"))))
      .select(col("pk"), lit("A").as("team"), (col("rk") * 2 - 1).as("slot"))
    val b = partRev(1996).orderBy(col("cnt").desc, col("pk")).limit(20)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cnt").desc, col("pk"))))
      .select(col("pk"), lit("B").as("team"), (col("rk") * 2).as("slot"))
    val inter = a.unionAll(b)
      .withColumn("first", row_number().over(
        Window.partitionBy("pk").orderBy("slot")))
      .filter(col("first") === 1)
      .withColumn("pos", row_number().over(Window.orderBy("slot")))
      .filter(col("pos") <= 20)
    val truth = partRev(1997).orderBy(col("m").desc, col("pk")).limit(20)
      .select(col("pk"), lit(1L).as("clicked"))
    inter.join(truth, Seq("pk"), "left")
      .agg(count(lit(1)).as("list_len"),
        sum(when(col("team") === "A", 1L).otherwise(0L)).as("from_a"),
        sum(when(col("clicked").isNotNull, 1L).otherwise(0L)).as("clicks_total"),
        sum(when(col("clicked").isNotNull && col("team") === "A", 1L)
          .otherwise(0L)).as("clicks_a"),
        sum(when(col("clicked").isNotNull && col("team") === "B", 1L)
          .otherwise(0L)).as("clicks_b"))
      .select(col("list_len"), col("from_a"), col("clicks_total"),
        col("clicks_a"), col("clicks_b"),
        when(col("clicks_a") > col("clicks_b"), "A")
          .when(col("clicks_b") > col("clicks_a"), "B")
          .otherwise("tie").as("winner"))
  }

  val aggTeamDraftInterleavingSql: String =
    """WITH pr96 AS (
      |  SELECT l_partkey AS pk,
      |         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |              AS BIGINT)) AS BIGINT) AS m,
      |         CAST(count(*) AS BIGINT) AS cnt
      |  FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) = 1996 GROUP BY 1),
      |a AS (
      |  SELECT pk, 'A' AS team, rk * 2 - 1 AS slot
      |  FROM (SELECT pk, row_number() OVER (ORDER BY m DESC, pk) AS rk
      |        FROM pr96 ORDER BY m DESC, pk LIMIT 20) t),
      |b AS (
      |  SELECT pk, 'B' AS team, rk * 2 AS slot
      |  FROM (SELECT pk, row_number() OVER (ORDER BY cnt DESC, pk) AS rk
      |        FROM pr96 ORDER BY cnt DESC, pk LIMIT 20) t),
      |inter AS (
      |  SELECT pk, team, slot,
      |         row_number() OVER (ORDER BY slot) AS pos
      |  FROM (
      |    SELECT *, row_number() OVER (PARTITION BY pk ORDER BY slot) AS first
      |    FROM (SELECT * FROM a UNION ALL SELECT * FROM b) u) q
      |  WHERE first = 1),
      |truth AS (
      |  SELECT pk, 1 AS clicked
      |  FROM (SELECT l_partkey AS pk,
      |               sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |                   AS BIGINT)) AS m
      |        FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) = 1997
      |        GROUP BY 1 ORDER BY m DESC, pk LIMIT 20) t)
      |SELECT CAST(count(*) AS BIGINT) AS list_len,
      |       CAST(sum(CASE WHEN team = 'A' THEN 1 ELSE 0 END) AS BIGINT)
      |         AS from_a,
      |       CAST(sum(CASE WHEN clicked IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |         AS clicks_total,
      |       CAST(sum(CASE WHEN clicked IS NOT NULL AND team = 'A'
      |                THEN 1 ELSE 0 END) AS BIGINT) AS clicks_a,
      |       CAST(sum(CASE WHEN clicked IS NOT NULL AND team = 'B'
      |                THEN 1 ELSE 0 END) AS BIGINT) AS clicks_b,
      |       CASE WHEN sum(CASE WHEN clicked IS NOT NULL AND team = 'A'
      |                     THEN 1 ELSE 0 END) >
      |                 sum(CASE WHEN clicked IS NOT NULL AND team = 'B'
      |                     THEN 1 ELSE 0 END) THEN 'A'
      |            WHEN sum(CASE WHEN clicked IS NOT NULL AND team = 'B'
      |                     THEN 1 ELSE 0 END) >
      |                 sum(CASE WHEN clicked IS NOT NULL AND team = 'A'
      |                     THEN 1 ELSE 0 END) THEN 'B'
      |            ELSE 'tie' END AS winner
      |FROM (SELECT * FROM inter WHERE pos <= 20) i LEFT JOIN truth USING (pk)""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("dq-clipping-detect", dqClippingDetect, dqClippingDetectSql),
    Key("agg-huber-m-estimator", aggHuberMEstimator, aggHuberMEstimatorSql),
    Key("sample-switchback-design", sampleSwitchbackDesign, sampleSwitchbackDesignSql),
    Key("agg-team-draft-interleaving", aggTeamDraftInterleaving, aggTeamDraftInterleavingSql))
}
