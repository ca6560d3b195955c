package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-8 batch AD: probability classics made measurable — the
  * secretary stopping rule, the inspection (length-biased) paradox,
  * regression to the mean, the friendship paradox. */
object RelMore195 extends KeyModule {

  /** agg-secretary-rule — the 1/e stopping rule evaluated empirically:
    * over 32 hash-derived arrival orders of the suppliers, observe the
    * first 37% without committing, then hire the first candidate
    * beating everything seen — how often does the rule land the BEST
    * supplier (by revenue)? Theory says ≈ 1/e ≈ 0.368 for large n.
    * Shapes: per-permutation ranks are (perm)-partitioned windows over
    * the bounded supplier dimension; the fact scan is one supplier
    * aggregate. */
  val aggSecretaryRule: Q = (s, d) => {
    val sup = lineitem(s, d).groupBy(col("l_suppkey").as("sk"))
      .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 " +
        "AS BIGINT)")).as("rev"))
      .sharedCache()
    val perms = sup.select(col("sk"), col("rev"),
      explode(expr("sequence(0, 31)")).as("p"))
      .withColumn("arr", expr("CAST(conv(substring(md5(concat('sec_', " +
        "CAST(p AS STRING), '_', CAST(sk AS STRING))), 1, 12), 16, 10) " +
        "AS BIGINT)"))
    val wArr = Window.partitionBy("p").orderBy(col("arr"), col("sk"))
    val wAll = Window.partitionBy("p")
    val staged = perms
      .withColumn("pos", row_number().over(wArr))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("cutoff", expr("CAST(n * 368 DIV 1000 AS BIGINT)"))
      .withColumn("bestrev", max("rev").over(wAll))
      .withColumn("obsmax", max(when(col("pos") <= col("cutoff"), col("rev")))
        .over(wAll))
    val hires = staged.filter(col("pos") > col("cutoff") &&
      col("rev") > col("obsmax"))
      .withColumn("hireRk", row_number().over(
        Window.partitionBy("p").orderBy("pos")))
      .filter(col("hireRk") === 1)
      .select(col("p"), (col("rev") === col("bestrev")).as("gotBest"))
    hires.agg(count(lit(1)).as("n_hired_runs"),
      sum(when(col("gotBest"), 1L).otherwise(0L)).as("n_best"))
      .select(lit(32L).as("n_permutations"), col("n_hired_runs"),
        col("n_best"),
        round(col("n_best").cast(DoubleType) / 32.0, 4).as("success_rate"),
        round(lit(math.exp(-1.0)), 4).as("theory_1_over_e"))
  }

  val aggSecretaryRuleSql: String =
    """WITH sup AS MATERIALIZED (
      |  SELECT l_suppkey AS sk,
      |         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |              AS BIGINT)) AS BIGINT) AS rev
      |  FROM lineitem GROUP BY 1),
      |perms AS (
      |  SELECT sk, rev, p,
      |         CAST(('0x' || substring(md5('sec_' || CAST(p AS VARCHAR) || '_'
      |              || CAST(sk AS VARCHAR)), 1, 12))::BIGINT AS BIGINT) AS arr
      |  FROM sup CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS p) pp),
      |staged AS (
      |  SELECT p, rev,
      |         row_number() OVER (PARTITION BY p ORDER BY arr, sk) AS pos,
      |         count(*) OVER (PARTITION BY p) AS n,
      |         max(rev) OVER (PARTITION BY p) AS bestrev
      |  FROM perms),
      |cut AS (
      |  SELECT *, CAST(n * 368 // 1000 AS BIGINT) AS cutoff FROM staged),
      |obs AS (
      |  SELECT *, max(CASE WHEN pos <= cutoff THEN rev END)
      |              OVER (PARTITION BY p) AS obsmax
      |  FROM cut),
      |hires AS (
      |  SELECT p, rev = bestrev AS gotbest
      |  FROM (
      |    SELECT *, row_number() OVER (PARTITION BY p ORDER BY pos) AS hirerk
      |    FROM obs WHERE pos > cutoff AND rev > obsmax) h
      |  WHERE hirerk = 1)
      |SELECT CAST(32 AS BIGINT) AS n_permutations,
      |       CAST(count(*) AS BIGINT) AS n_hired_runs,
      |       CAST(sum(CASE WHEN gotbest THEN 1 ELSE 0 END) AS BIGINT) AS n_best,
      |       round(CAST(sum(CASE WHEN gotbest THEN 1 ELSE 0 END) AS DOUBLE) /
      |             32.0, 4) AS success_rate,
      |       round(exp(-1.0), 4) AS theory_1_over_e
      |FROM hires""".stripMargin

  /** agg-inspection-paradox — why "average gap between orders" lies to
    * anyone who samples at a random TIME: the gap containing a random
    * inspection instant is length-biased, with mean E[X²]/E[X] ≥ E[X].
    * The op measures both means on per-customer inter-order gaps
    * (exact day integers, customer-partitioned lag) and reports the
    * paradox factor — the correction every "time between failures"
    * dashboard needs. */
  val aggInspectionParadox: Q = (s, d) => {
    val w = Window.partitionBy("ck").orderBy("dy", "ok")
    val gaps = orders(s, d)
      .select(col("o_custkey").as("ck"), col("o_orderkey").as("ok"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01")).as("dy"))
      .withColumn("prev", lag("dy", 1).over(w))
      .filter(col("prev").isNotNull)
      .select((col("dy") - col("prev")).cast(LongType).as("g"))
      .filter(col("g") > 0L)
    gaps.agg(count(lit(1)).as("n_gaps"),
      sum("g").as("sg"),
      sum(col("g") * col("g")).as("sgg"))
      .select(col("n_gaps"),
        round(col("sg").cast(DoubleType) / col("n_gaps").cast(DoubleType), 4)
          .as("mean_gap_days"),
        round(col("sgg").cast(DoubleType) / col("sg").cast(DoubleType), 4)
          .as("inspected_mean_gap_days"),
        round((col("sgg").cast(DoubleType) / col("sg").cast(DoubleType)) /
          (col("sg").cast(DoubleType) / col("n_gaps").cast(DoubleType)), 4)
          .as("paradox_factor"))
  }

  val aggInspectionParadoxSql: String =
    """WITH gaps AS (
      |  SELECT CAST(dy - prev AS BIGINT) AS g
      |  FROM (
      |    SELECT datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
      |             AS dy,
      |           lag(datediff('day', DATE '1995-01-01',
      |               CAST(o_orderdate AS DATE))) OVER (
      |             PARTITION BY o_custkey
      |             ORDER BY datediff('day', DATE '1995-01-01',
      |               CAST(o_orderdate AS DATE)), o_orderkey) AS prev
      |    FROM orders) t
      |  WHERE prev IS NOT NULL AND dy - prev > 0)
      |SELECT CAST(count(*) AS BIGINT) AS n_gaps,
      |       round(CAST(sum(g) AS DOUBLE) / count(*), 4) AS mean_gap_days,
      |       round(CAST(sum(g * g) AS DOUBLE) / CAST(sum(g) AS DOUBLE), 4)
      |         AS inspected_mean_gap_days,
      |       round((CAST(sum(g * g) AS DOUBLE) / CAST(sum(g) AS DOUBLE)) /
      |             (CAST(sum(g) AS DOUBLE) / count(*)), 4) AS paradox_factor
      |FROM gaps""".stripMargin

  /** dq-regression-to-mean — the selection trap quantified: pick the
    * top-5 and bottom-5 nations by 1996 revenue z-score, and measure
    * where those SAME nations landed in 1997. Extremes drift toward
    * the middle by exactly (1−r) of their excess when year-to-year
    * correlation is r; the op reports observed drifts next to the
    * r-implied prediction, separating "our winners got worse" from
    * arithmetic. Bounded 25-nation frames, exact moment sums, one
    * fact scan. */
  val dqRegressionToMean: Q = (s, d) => {
    val ny = orders(s, d)
      .filter(year(col("o_orderdate")).isin(1996, 1997))
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"), year(col("o_orderdate")).as("y"))
      .agg(expr(s"sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 " +
        s"AS BIGINT)) DIV 100").as("v"))
    val wide = ny.groupBy("nk").agg(
      sum(when(col("y") === 1996, col("v"))).as("v0"),
      sum(when(col("y") === 1997, col("v"))).as("v1"))
      .select(col("nk"), col("v0").cast(DoubleType).as("v0"),
        col("v1").cast(DoubleType).as("v1"))
      .sharedCache()
    wide.count() // single-stage fill: the moment agg and the z-score
    // join raced the first materialization in both r13 close benches
    // (WARN triage, r14)
    val m = wide.agg(count(lit(1)).as("k"),
      avg("v0").as("m0"), avg("v1").as("m1"),
      stddev_samp("v0").as("s0"), stddev_samp("v1").as("s1"),
      corr("v0", "v1").as("r"))
    val z = wide.crossJoin(broadcast(m))
      .select(col("nk"), col("r"),
        ((col("v0") - col("m0")) / col("s0")).as("z0"),
        ((col("v1") - col("m1")) / col("s1")).as("z1"))
    val top = z.orderBy(col("z0").desc, col("nk")).limit(5)
      .select(lit("top5_1996").as("cohort"), col("z0"), col("z1"), col("r"))
    val bot = z.orderBy(col("z0").asc, col("nk")).limit(5)
      .select(lit("bottom5_1996").as("cohort"), col("z0"), col("z1"), col("r"))
    top.unionAll(bot).groupBy("cohort")
      .agg(round(avg("z0"), 4).as("z_1996"),
        round(avg("z1"), 4).as("z_1997"),
        round(avg("z0") * max("r"), 4).as("z_1997_rtm_predicted"))
      .orderBy("cohort")
  }

  val dqRegressionToMeanSql: String =
    """WITH ny AS (
      |  SELECT c_nationkey AS nk, year(CAST(o_orderdate AS DATE)) AS y,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |              AS BIGINT)) // 100 AS BIGINT) AS v
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE year(CAST(o_orderdate AS DATE)) IN (1996, 1997)
      |  GROUP BY 1, 2),
      |wide AS MATERIALIZED (
      |  SELECT nk,
      |         CAST(sum(CASE WHEN y = 1996 THEN v END) AS DOUBLE) AS v0,
      |         CAST(sum(CASE WHEN y = 1997 THEN v END) AS DOUBLE) AS v1
      |  FROM ny GROUP BY 1),
      |m AS (
      |  SELECT avg(v0) AS m0, avg(v1) AS m1,
      |         stddev_samp(v0) AS s0, stddev_samp(v1) AS s1,
      |         corr(v0, v1) AS r
      |  FROM wide),
      |z AS (
      |  SELECT nk, r, (v0 - m0) / s0 AS z0, (v1 - m1) / s1 AS z1
      |  FROM wide CROSS JOIN m),
      |cohorts AS (
      |  SELECT 'top5_1996' AS cohort, z0, z1, r
      |  FROM (SELECT * FROM z ORDER BY z0 DESC, nk LIMIT 5) t
      |  UNION ALL
      |  SELECT 'bottom5_1996' AS cohort, z0, z1, r
      |  FROM (SELECT * FROM z ORDER BY z0 ASC, nk LIMIT 5) b)
      |SELECT cohort, round(avg(z0), 4) AS z_1996, round(avg(z1), 4) AS z_1997,
      |       round(avg(z0) * max(r), 4) AS z_1997_rtm_predicted
      |FROM cohorts GROUP BY cohort ORDER BY cohort""".stripMargin

  /** agg-friendship-paradox — "your friends have more friends than
    * you": on the part↔supplier bipartite graph, the mean degree of a
    * random node vs the mean degree of a random EDGE ENDPOINT
    * (= E[d²]/E[d], the size-biased mean) — the inspection paradox
    * wearing a graph costume, and the reason neighbor-based sampling
    * overestimates connectivity. Exact degree moments per side, one
    * distinct-edge scan. */
  val aggFriendshipParadox: Q = (s, d) => {
    val adj = lineitem(s, d)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("w")).distinct()
      .sharedCache()
    def side(key: String, label: String): DataFrame =
      adj.groupBy(col(key)).agg(count(lit(1)).as("deg"))
        .agg(count(lit(1)).as("n"), sum("deg").as("sd"),
          sum(col("deg") * col("deg")).as("sdd"))
        .select(lit(label).as("side"),
          col("n").as("n_nodes"),
          round(col("sd").cast(DoubleType) / col("n").cast(DoubleType), 4)
            .as("mean_degree"),
          round(col("sdd").cast(DoubleType) / col("sd").cast(DoubleType), 4)
            .as("friend_mean_degree"),
          round((col("sdd").cast(DoubleType) / col("sd").cast(DoubleType)) /
            (col("sd").cast(DoubleType) / col("n").cast(DoubleType)), 4)
            .as("paradox_factor"))
    side("p", "part").unionAll(side("w", "supplier")).orderBy("side")
  }

  val aggFriendshipParadoxSql: String =
    """WITH adj AS MATERIALIZED (
      |  SELECT DISTINCT l_partkey AS p, l_suppkey AS w FROM lineitem),
      |pside AS (
      |  SELECT 'part' AS side, CAST(count(*) AS BIGINT) AS n_nodes,
      |         round(CAST(sum(deg) AS DOUBLE) / count(*), 4) AS mean_degree,
      |         round(CAST(sum(deg * deg) AS DOUBLE) / CAST(sum(deg) AS DOUBLE),
      |               4) AS friend_mean_degree,
      |         round((CAST(sum(deg * deg) AS DOUBLE) / CAST(sum(deg) AS DOUBLE))
      |               / (CAST(sum(deg) AS DOUBLE) / count(*)), 4)
      |           AS paradox_factor
      |  FROM (SELECT p, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY 1) t),
      |wside AS (
      |  SELECT 'supplier' AS side, CAST(count(*) AS BIGINT) AS n_nodes,
      |         round(CAST(sum(deg) AS DOUBLE) / count(*), 4) AS mean_degree,
      |         round(CAST(sum(deg * deg) AS DOUBLE) / CAST(sum(deg) AS DOUBLE),
      |               4) AS friend_mean_degree,
      |         round((CAST(sum(deg * deg) AS DOUBLE) / CAST(sum(deg) AS DOUBLE))
      |               / (CAST(sum(deg) AS DOUBLE) / count(*)), 4)
      |           AS paradox_factor
      |  FROM (SELECT w, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY 1) t)
      |SELECT * FROM pside UNION ALL SELECT * FROM wside ORDER BY side""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-secretary-rule", aggSecretaryRule, aggSecretaryRuleSql),
    Key("agg-inspection-paradox", aggInspectionParadox, aggInspectionParadoxSql),
    Key("dq-regression-to-mean", dqRegressionToMean, dqRegressionToMeanSql),
    Key("agg-friendship-paradox", aggFriendshipParadox, aggFriendshipParadoxSql))
}
