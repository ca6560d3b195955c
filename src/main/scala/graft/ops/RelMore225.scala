package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-14 batch B: the privacy-audit pair that completes
  * dq-k-anonymity — entropy l-diversity and t-closeness. A training-
  * data pipeline that ships quasi-identified records audits all three:
  * k (group size), l (within-group sensitive diversity — k-anonymous
  * groups can still leak when everyone in the group shares the
  * sensitive value), and t (distributional skew vs the corpus — high-l
  * groups can still leak when their sensitive MIX differs sharply from
  * global, the homogeneity/skewness attack l-diversity misses). */
object RelMore225 extends KeyModule {

  /** dq-l-diversity — ENTROPY l-diversity per quasi-identifier group
    * (nation × order-priority × year, the dq-k-anonymity QI), sensitive
    * attribute = market segment: l_ent(g) = 2^H(g) with H the base-2
    * entropy of the group's segment distribution — the effective number
    * of sensitive values an attacker faces, which distinct-l overstates
    * whenever the distribution is lopsided (a group with 5 segments at
    * shares 96/1/1/1/1 has distinct-l 5 but l_ent ≈ 1.3). Emits the 10
    * worst groups by l_ent (the disclosure-review queue) with global
    * counters: groups and row-share below the l_ent ≥ 2 bar. SCALE: one
    * fact scan → |QI|×|segments| cells (bounded by the attribute grid,
    * not the corpus); the worst-10 is a TakeOrdered over |QI| rows.
    * Float discipline: per-group H sums ≤ |segments| terms of exact
    * integer ratios — round(,4) on l_ent absorbs summation-order noise
    * (the agg-entropy house pattern, 2-vs-32 verified).
    * Ref behavior anchor: the reference's QA surface profiles
    * per-category composition shares (08_validacionsql.sql:16-77);
    * l-diversity is that profile read as a disclosure audit. */
  val dqLDiversity: Q = (s, d) => {
    val scnt = orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"), col("o_orderpriority").as("pri"),
        year(col("o_orderdate")).as("y"), col("c_mktsegment").as("seg"))
      .agg(count(lit(1)).as("c"))
      .sharedCache()
    scnt.count() // single-stage fill: the totals pass and the entropy join both read it
    val tot = scnt.groupBy("nk", "pri", "y").agg(sum("c").as("gsz"))
    val ent = scnt.join(tot, Seq("nk", "pri", "y"))
      .withColumn("p", col("c") * lit(1.0) / col("gsz"))
      .groupBy("nk", "pri", "y")
      .agg(max("gsz").as("gsz"),
        count(lit(1)).as("distinct_l"),
        round(pow(lit(2.0), -sum(col("p") * log2(col("p")))), 4).as("l_ent"))
      .sharedCache()
    val glob = ent.agg(
      count(lit(1)).as("n_groups"),
      sum(when(col("l_ent") < 2.0, 1L).otherwise(0L)).as("n_groups_below_l2"),
      ratioFloor(sum(when(col("l_ent") < 2.0, col("gsz")).otherwise(0L)),
        sum("gsz"), 6).as("row_share_below_l2"))
    ent.orderBy(col("l_ent"), col("nk"), col("pri"), col("y")).limit(10)
      .crossJoin(broadcast(glob))
      .select(col("nk"), col("pri"), col("y"), col("gsz"),
        col("distinct_l"), col("l_ent"),
        col("n_groups"), col("n_groups_below_l2"), col("row_share_below_l2"))
      .orderBy(col("l_ent"), col("nk"), col("pri"), col("y"))
  }

  val dqLDiversitySql: String =
    """WITH scnt AS (
      |  SELECT c_nationkey AS nk, o_orderpriority AS pri,
      |         year(CAST(o_orderdate AS DATE)) AS y, c_mktsegment AS seg,
      |         CAST(count(*) AS BIGINT) AS c
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2, 3, 4),
      |tot AS (
      |  SELECT nk, pri, y, CAST(sum(c) AS BIGINT) AS gsz
      |  FROM scnt GROUP BY 1, 2, 3),
      |ent AS (
      |  SELECT s.nk, s.pri, s.y, max(t.gsz) AS gsz,
      |         CAST(count(*) AS BIGINT) AS distinct_l,
      |         round(pow(2.0, -sum((s.c * 1.0 / t.gsz) * log2(s.c * 1.0 / t.gsz))), 4)
      |           AS l_ent
      |  FROM scnt s JOIN tot t USING (nk, pri, y)
      |  GROUP BY 1, 2, 3),
      |gstats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_groups,
      |         CAST(sum(CASE WHEN l_ent < 2.0 THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_groups_below_l2,
      |         floor(CAST(sum(CASE WHEN l_ent < 2.0 THEN gsz ELSE 0 END) AS DOUBLE)
      |               * 1e6 / sum(gsz)) / 1e6 AS row_share_below_l2
      |  FROM ent)
      |SELECT nk, pri, y, gsz, distinct_l, l_ent,
      |       n_groups, n_groups_below_l2, row_share_below_l2
      |FROM (SELECT * FROM ent ORDER BY l_ent, nk, pri, y LIMIT 10) e
      |CROSS JOIN gstats
      |ORDER BY l_ent, nk, pri, y""".stripMargin

  /** dq-t-closeness — per-QI-group total-variation distance between
    * the group's sensitive (market-segment) distribution and the
    * corpus-wide one, in EXACT integer permille: tv_pm(g) =
    * ⌊1000·Σ_s |c_gs·N − C_s·N_g| / (2·N_g·N)⌋ — the numerator and
    * denominator are exact Long products, so the audit is bit-identical
    * cross-engine with no float path at all. The grid is completed
    * (group × segment, missing cells = 0) because an ABSENT segment is
    * exactly the leak t-closeness exists to catch. Emits the 10 worst
    * groups (tv desc — the review queue) plus global counters at the
    * t = 0.2 bar. SCALE: one fact scan → |QI|×|segments| cells; the
    * grid completion is a broadcast cross of two attribute-bounded
    * dims. At 100 TB row counts the c_gs·N products need DECIMAL(38,0)
    * (N ≈ 10¹² overflows the Long product) — same shape, wider lane;
    * the fixture keeps Long for the exact-integer detcompare contract.
    * Ref behavior anchor: 08_validacionsql.sql's category-share QA
    * compares slice shares to corpus shares — t-closeness is that
    * check hardened into a distance with a threshold. */
  val dqTCloseness: Q = (s, d) => {
    val scnt = orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"), col("o_orderpriority").as("pri"),
        year(col("o_orderdate")).as("y"), col("c_mktsegment").as("seg"))
      .agg(count(lit(1)).as("c"))
      .sharedCache()
    scnt.count() // single-stage fill: grid, group totals and segment totals all read it
    val grps = scnt.groupBy("nk", "pri", "y").agg(sum("c").as("ng"))
    val segs = scnt.groupBy("seg").agg(sum("c").as("cs"))
    val n = scnt.agg(sum("c")).head.getLong(0)
    val grid = grps.crossJoin(broadcast(segs))
      .join(scnt, Seq("nk", "pri", "y", "seg"), "left")
      .withColumn("cgs", coalesce(col("c"), lit(0L)))
    val tv = grid.groupBy("nk", "pri", "y")
      .agg(max("ng").as("gsz"),
        expr(s"CAST(sum(abs(cgs * ${n}L - cs * ng)) * 1000 DIV (2 * max(ng) * ${n}L) AS BIGINT)")
          .as("tv_pm"))
      .sharedCache()
    val glob = tv.agg(
      count(lit(1)).as("n_groups"),
      sum(when(col("tv_pm") > 200, 1L).otherwise(0L)).as("n_groups_above_t200"))
    tv.orderBy(col("tv_pm").desc, col("nk"), col("pri"), col("y")).limit(10)
      .crossJoin(broadcast(glob))
      .select(col("nk"), col("pri"), col("y"), col("gsz"), col("tv_pm"),
        col("n_groups"), col("n_groups_above_t200"))
      .orderBy(col("tv_pm").desc, col("nk"), col("pri"), col("y"))
  }

  val dqTClosenessSql: String =
    """WITH scnt AS (
      |  SELECT c_nationkey AS nk, o_orderpriority AS pri,
      |         year(CAST(o_orderdate AS DATE)) AS y, c_mktsegment AS seg,
      |         CAST(count(*) AS BIGINT) AS c
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2, 3, 4),
      |grps AS (SELECT nk, pri, y, CAST(sum(c) AS BIGINT) AS ng FROM scnt GROUP BY 1, 2, 3),
      |segs AS (SELECT seg, CAST(sum(c) AS BIGINT) AS cs FROM scnt GROUP BY 1),
      |nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM scnt),
      |grid AS (
      |  SELECT g.nk, g.pri, g.y, g.ng, sg.seg, sg.cs,
      |         COALESCE(s.c, 0) AS cgs
      |  FROM grps g CROSS JOIN segs sg
      |  LEFT JOIN scnt s ON s.nk = g.nk AND s.pri = g.pri AND s.y = g.y
      |                  AND s.seg = sg.seg),
      |tv AS (
      |  SELECT nk, pri, y, max(ng) AS gsz,
      |         CAST(sum(abs(cgs * nn.n - cs * ng)) * 1000
      |              // (2 * max(ng) * max(nn.n)) AS BIGINT) AS tv_pm
      |  FROM grid CROSS JOIN nn
      |  GROUP BY 1, 2, 3),
      |gstats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_groups,
      |         CAST(sum(CASE WHEN tv_pm > 200 THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_groups_above_t200
      |  FROM tv)
      |SELECT nk, pri, y, gsz, tv_pm, n_groups, n_groups_above_t200
      |FROM (SELECT * FROM tv ORDER BY tv_pm DESC, nk, pri, y LIMIT 10) t
      |CROSS JOIN gstats
      |ORDER BY tv_pm DESC, nk, pri, y""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("dq-l-diversity", dqLDiversity, dqLDiversitySql),
    Key("dq-t-closeness", dqTCloseness, dqTClosenessSql))
}
