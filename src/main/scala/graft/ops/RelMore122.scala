package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch W: schema compatibility matrix, whitening isotropy
  * gain, min-variance pair portfolio, BCG growth-share matrix. */
object RelMore122 extends KeyModule {

  /** ddl-compat-matrix — schema-evolution compatibility triage
    * between two declared contract versions: each column change is
    * classified (added / dropped / renamed-away / type-widened /
    * type-narrowed / unchanged) and rolled into the three verdicts
    * that matter operationally — BACKWARD (new readers, old data),
    * FORWARD (old readers, new data), FULL — using the standard
    * registry rules (adds are backward-safe, drops are forward-safe,
    * widenings are backward-safe, narrowings are neither). This is
    * the sink-schema-contract-enforce gate generalized from "reject"
    * to "explain which direction broke". The two versions are inline
    * VALUES relations (a contract is metadata, not data) full-outer-
    * joined on column name; every output is exact string/bool
    * logic. */
  val ddlCompatMatrix: Q = (s, d) => {
    val v1 = s.sql("""SELECT * FROM VALUES
      ('id', 'bigint'), ('name', 'string'), ('amount', 'decimal(10,2)'),
      ('created', 'timestamp'), ('qty', 'int')
      AS v1(col, t1)""")
    val v2 = s.sql("""SELECT * FROM VALUES
      ('id', 'bigint'), ('full_name', 'string'), ('amount', 'decimal(18,2)'),
      ('created', 'timestamp'), ('qty', 'smallint'), ('region', 'string')
      AS v2(col, t2)""")
    val widen = Map("int->bigint" -> true, "smallint->int" -> true,
      "decimal(10,2)->decimal(18,2)" -> true, "float->double" -> true)
    val widenExpr = widen.keys.map(k => s"'$k'").mkString("(", ", ", ")")
    val joined = v1.join(v2, Seq("col"), "full_outer")
      .withColumn("change",
        when(col("t1").isNull, "added")
          .when(col("t2").isNull, "dropped")
          .when(col("t1") === col("t2"), "unchanged")
          .when(expr(s"concat(t1, '->', t2) IN $widenExpr"), "widened")
          .otherwise("narrowed"))
      .withColumn("backward_safe",
        col("change").isin("added", "unchanged", "widened"))
      .withColumn("forward_safe",
        col("change").isin("dropped", "unchanged"))
    joined.select(col("col"), coalesce(col("t1"), lit("-")).as("t1"),
      coalesce(col("t2"), lit("-")).as("t2"), col("change"),
      col("backward_safe"), col("forward_safe"))
      .orderBy("col")
  }

  val ddlCompatMatrixSql: String =
    """WITH v1 AS (SELECT * FROM (VALUES
      |  ('id', 'bigint'), ('name', 'string'), ('amount', 'decimal(10,2)'),
      |  ('created', 'timestamp'), ('qty', 'int')) t(col, t1)),
      |v2 AS (SELECT * FROM (VALUES
      |  ('id', 'bigint'), ('full_name', 'string'), ('amount', 'decimal(18,2)'),
      |  ('created', 'timestamp'), ('qty', 'smallint'), ('region', 'string')) t(col, t2)),
      |joined AS (
      |  SELECT coalesce(v1.col, v2.col) AS col, t1, t2,
      |         CASE WHEN t1 IS NULL THEN 'added'
      |              WHEN t2 IS NULL THEN 'dropped'
      |              WHEN t1 = t2 THEN 'unchanged'
      |              WHEN t1 || '->' || t2 IN ('int->bigint', 'smallint->int',
      |                   'decimal(10,2)->decimal(18,2)', 'float->double') THEN 'widened'
      |              ELSE 'narrowed' END AS change
      |  FROM v1 FULL OUTER JOIN v2 USING (col))
      |SELECT col, coalesce(t1, '-') AS t1, coalesce(t2, '-') AS t2, change,
      |       change IN ('added', 'unchanged', 'widened') AS backward_safe,
      |       change IN ('dropped', 'unchanged') AS forward_safe
      |FROM joined
      |ORDER BY col""".stripMargin

  /** emb-whiten-isotropy-gain — the diagonal-whitening INTERVENTION
    * graded by its effect: the corpus isotropy ratio ‖μ‖²/E‖x‖²
    * (emb-isotropy's metric) is computed before and after per-dim
    * standardization (x−μ_k)/σ_k, and the improvement factor is
    * emitted. Whitening is the cheapest anisotropy fix (the all-but-
    * the-top recipe's first step), and this op is the evidence it
    * worked — the measured-gain pattern (cf. ann-nndescent-round) of
    * grading transformations by before/after numbers rather than
    * assuming them. μ_k, σ_k come from exact integer sums; each
    * whitened component is ONE identical double milli-floor-
    * quantized, so both isotropy ratios are again ratios of exact
    * integer sums. Two passes over the long-form corpus, 64-key
    * aggregates between. */
  val embWhitenIsotropyGain: Q = (s, d) => {
    val m = embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("k", "x")))
      .select(col("vec_id"), col("k"),
        floor(col("x").cast(DoubleType) * lit(1000.0) + lit(0.5)).cast(LongType).as("mq"))
      .sharedCache()
    val dims = m.groupBy("k")
      .agg(count(lit(1)).as("n"), sum("mq").as("sk"),
        sum(expr("CAST(mq AS DECIMAL(38,0)) * mq")).as("ssq"))
      .withColumn("mu", col("sk").cast(DoubleType) / col("n"))
      .withColumn("sd", sqrt((col("ssq").cast(DoubleType) -
        col("sk").cast(DoubleType) * col("sk").cast(DoubleType) / col("n")) /
        (col("n").cast(DoubleType) - 1)))
    val before = dims.agg(
      sum(expr("CAST(sk AS DECIMAL(38,0)) * sk")).cast(DoubleType).as("num_b"),
      sum("ssq").cast(DoubleType).as("den_b"), max("n").as("nv"))
    val white = m.join(broadcast(dims.select("k", "mu", "sd")), Seq("k"))
      .select(col("k"),
        floor((col("mq").cast(DoubleType) - col("mu")) / col("sd") * lit(1000.0))
          .cast(LongType).as("wq"))
      .sharedCache()
    val wd = white.groupBy("k").agg(sum("wq").as("swk"),
      sum(expr("CAST(wq AS DECIMAL(38,0)) * wq")).as("wssq"))
    val after = wd.agg(
      sum(expr("CAST(swk AS DECIMAL(38,0)) * swk")).cast(DoubleType).as("num_a"),
      sum("wssq").cast(DoubleType).as("den_a"))
    before.crossJoin(broadcast(after))
      .select(col("nv").cast(LongType).as("n_vecs"),
        round(col("num_b") / (col("nv") * col("den_b")), 8).as("iso_before"),
        round(col("num_a") / (col("nv") * col("den_a")), 8).as("iso_after"),
        round((col("num_b") / col("den_b")) / (col("num_a") / col("den_a")), 2)
          .as("anisotropy_reduction"))
  }

  val embWhitenIsotropyGainSql: String =
    """WITH m AS MATERIALIZED (
      |  SELECT vec_id,
      |         unnest(range(0, len(embedding))) AS k,
      |         CAST(floor(unnest(list_transform(embedding,
      |                    x -> CAST(x AS DOUBLE))) * 1000 + 0.5) AS BIGINT) AS mq
      |  FROM embeddings),
      |dims AS MATERIALIZED (
      |  SELECT k, CAST(count(*) AS BIGINT) AS n, CAST(sum(mq) AS BIGINT) AS sk,
      |         CAST(sum(CAST(mq AS HUGEINT) * mq) AS HUGEINT) AS ssq,
      |         CAST(sum(mq) AS DOUBLE) / count(*) AS mu,
      |         sqrt((CAST(sum(CAST(mq AS HUGEINT) * mq) AS DOUBLE) -
      |               CAST(sum(mq) AS DOUBLE) * CAST(sum(mq) AS DOUBLE) / count(*)) /
      |              (count(*) - 1)) AS sd
      |  FROM m GROUP BY 1),
      |before_s AS (
      |  SELECT CAST(sum(CAST(sk AS HUGEINT) * sk) AS DOUBLE) AS num_b,
      |         CAST(sum(ssq) AS DOUBLE) AS den_b, max(n) AS nv
      |  FROM dims),
      |white AS MATERIALIZED (
      |  SELECT m.k, CAST(floor((CAST(mq AS DOUBLE) - mu) / sd * 1000.0) AS BIGINT) AS wq
      |  FROM m JOIN dims ON m.k = dims.k),
      |wd AS (
      |  SELECT k, CAST(sum(wq) AS BIGINT) AS swk,
      |         CAST(sum(CAST(wq AS HUGEINT) * wq) AS HUGEINT) AS wssq
      |  FROM white GROUP BY 1),
      |after_s AS (
      |  SELECT CAST(sum(CAST(swk AS HUGEINT) * swk) AS DOUBLE) AS num_a,
      |         CAST(sum(wssq) AS DOUBLE) AS den_a
      |  FROM wd)
      |SELECT CAST(nv AS BIGINT) AS n_vecs,
      |       round(num_b / (nv * den_b), 8) AS iso_before,
      |       round(num_a / (nv * den_a), 8) AS iso_after,
      |       round((num_b / den_b) / (num_a / den_a), 2) AS anisotropy_reduction
      |FROM before_s CROSS JOIN after_s""".stripMargin

  /** agg-min-variance-pair — the two-asset minimum-variance
    * portfolio over the monthly revenue series of the two largest
    * part brands: w* = (σ₂²−σ₁₂)/(σ₁²+σ₂²−2σ₁₂) clipped to [0,1],
    * with the achieved variance-reduction ratio against the safer
    * single brand — Markowitz's 1952 insight in its smallest exact
    * form, and operationally the "how much does diversifying
    * suppliers/brands actually buy" number. All five moment inputs
    * are exact integer sums over the month-aligned pair frame
    * (months where BOTH brands traded — identical alignment rule);
    * w*, both variances and the ratio are closed-form doubles. The
    * data-sized work is one (brand, month) rollup. */
  val aggMinVariancePair: Q = (s, d) => {
    val byBrandM = lineitem(s, d)
      .join(broadcast(part(s, d).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), (year(col("l_shipdate")) * 100 +
        month(col("l_shipdate"))).as("ym"))
      .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("rev"))
      .sharedCache()
    val top2 = byBrandM.groupBy("p_brand").agg(sum("rev").as("trev"))
      .orderBy(col("trev").desc, col("p_brand")).limit(2)
      .select(col("p_brand"), row_number().over(
        Window.orderBy(col("trev").desc, col("p_brand"))).as("idx"))
    val pairFrame = byBrandM.join(broadcast(top2), Seq("p_brand"))
      .groupBy("ym")
      .agg(max(when(col("idx") === 1, col("rev"))).as("r1"),
        max(when(col("idx") === 2, col("rev"))).as("r2"))
      .filter(col("r1").isNotNull && col("r2").isNotNull)
    val sums = pairFrame.agg(count(lit(1)).as("n"),
      sum(expr("CAST(r1 AS DECIMAL(38,0))")).as("s1"),
      sum(expr("CAST(r2 AS DECIMAL(38,0))")).as("s2"),
      sum(expr("CAST(r1 AS DECIMAL(38,0)) * r1")).as("s11"),
      sum(expr("CAST(r2 AS DECIMAL(38,0)) * r2")).as("s22"),
      sum(expr("CAST(r1 AS DECIMAL(38,0)) * r2")).as("s12"))
    val brands = top2.groupBy()
      .agg(max(when(col("idx") === 1, col("p_brand"))).as("brand1"),
        max(when(col("idx") === 2, col("p_brand"))).as("brand2"))
    sums.crossJoin(broadcast(brands))
      .select(col("brand1"), col("brand2"), col("n").as("n_months"),
        col("n").cast(DoubleType).as("nd"),
        col("s1").cast(DoubleType).as("s1"), col("s2").cast(DoubleType).as("s2"),
        col("s11").cast(DoubleType).as("s11"), col("s22").cast(DoubleType).as("s22"),
        col("s12").cast(DoubleType).as("s12"))
      .withColumn("v1", (col("s11") - col("s1") * col("s1") / col("nd")) / (col("nd") - 1))
      .withColumn("v2", (col("s22") - col("s2") * col("s2") / col("nd")) / (col("nd") - 1))
      .withColumn("c12", (col("s12") - col("s1") * col("s2") / col("nd")) / (col("nd") - 1))
      .withColumn("wstar", greatest(lit(0.0), least(lit(1.0),
        (col("v2") - col("c12")) / (col("v1") + col("v2") - lit(2.0) * col("c12")))))
      .withColumn("vp", col("wstar") * col("wstar") * col("v1") +
        (lit(1.0) - col("wstar")) * (lit(1.0) - col("wstar")) * col("v2") +
        lit(2.0) * col("wstar") * (lit(1.0) - col("wstar")) * col("c12"))
      .select(col("brand1"), col("brand2"), col("n_months"),
        round(col("wstar"), 4).as("w1_min_var"),
        round(col("vp") / least(col("v1"), col("v2")), 4).as("var_vs_best_single"))
  }

  val aggMinVariancePairSql: String =
    """WITH by_bm AS MATERIALIZED (
      |  SELECT p_brand, year(l_shipdate) * 100 + month(l_shipdate) AS ym,
      |         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1, 2),
      |top2 AS (
      |  SELECT p_brand, row_number() OVER (ORDER BY trev DESC, p_brand) AS idx FROM (
      |    SELECT p_brand, sum(rev) AS trev FROM by_bm GROUP BY 1) t
      |  ORDER BY trev DESC, p_brand LIMIT 2),
      |pair_frame AS (
      |  SELECT ym, max(CASE WHEN idx = 1 THEN rev END) AS r1,
      |         max(CASE WHEN idx = 2 THEN rev END) AS r2
      |  FROM by_bm JOIN top2 USING (p_brand)
      |  GROUP BY 1
      |  HAVING max(CASE WHEN idx = 1 THEN rev END) IS NOT NULL
      |     AND max(CASE WHEN idx = 2 THEN rev END) IS NOT NULL),
      |sums AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(count(*) AS DOUBLE) AS nd,
      |         CAST(sum(CAST(r1 AS HUGEINT)) AS DOUBLE) AS s1,
      |         CAST(sum(CAST(r2 AS HUGEINT)) AS DOUBLE) AS s2,
      |         CAST(sum(CAST(r1 AS HUGEINT) * r1) AS DOUBLE) AS s11,
      |         CAST(sum(CAST(r2 AS HUGEINT) * r2) AS DOUBLE) AS s22,
      |         CAST(sum(CAST(r1 AS HUGEINT) * r2) AS DOUBLE) AS s12
      |  FROM pair_frame),
      |brands AS (
      |  SELECT max(CASE WHEN idx = 1 THEN p_brand END) AS brand1,
      |         max(CASE WHEN idx = 2 THEN p_brand END) AS brand2
      |  FROM top2),
      |fit AS (
      |  SELECT brand1, brand2, n, v1, v2, c12,
      |         greatest(0.0, least(1.0, (v2 - c12) / (v1 + v2 - 2 * c12))) AS wstar
      |  FROM (
      |    SELECT brand1, brand2, n,
      |           (s11 - s1 * s1 / nd) / (nd - 1) AS v1,
      |           (s22 - s2 * s2 / nd) / (nd - 1) AS v2,
      |           (s12 - s1 * s2 / nd) / (nd - 1) AS c12
      |    FROM sums CROSS JOIN brands) t)
      |SELECT brand1, brand2, n AS n_months,
      |       round(wstar, 4) AS w1_min_var,
      |       round((wstar * wstar * v1 + (1.0 - wstar) * (1.0 - wstar) * v2 +
      |              2.0 * wstar * (1.0 - wstar) * c12) / least(v1, v2), 4) AS var_vs_best_single
      |FROM fit""".stripMargin

  /** agg-bcg-matrix — the growth-share (BCG) matrix over part
    * brands: each brand's revenue GROWTH (final complete year vs the
    * year before) and RELATIVE market share (vs the largest OTHER
    * brand — the BCG convention, so the leader's share is >1 and
    * everyone else's <1) place it in star / cash-cow / question-mark
    * / dog, with the growth threshold at the MEDIAN brand growth
    * (tie-free discrete median, stated) rather than an arbitrary
    * 10%. Portfolio strategy's first chart, computed with the exact
    * disciplines: growth and share are micro-floor-quantized ratios
    * of exact cent sums, the median is a rank-selected element, and
    * the output is the 4-cell rollup with brand counts and revenue
    * share. */
  val aggBcgMatrix: Q = (s, d) => {
    val li = lineitem(s, d)
      .join(broadcast(part(s, d).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), year(col("l_shipdate")).as("yr"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .sharedCache()
    val maxYr = li.agg((max("yr") - 1).as("y1")).select(col("y1"), (col("y1") - 1).as("y0"))
    val per = li.crossJoin(broadcast(maxYr))
      .groupBy("p_brand")
      .agg(sum(when(col("yr") === col("y1"), col("cents")).otherwise(0L)).as("r1"),
        sum(when(col("yr") === col("y0"), col("cents")).otherwise(0L)).as("r0"),
        sum("cents").as("rtot"))
      .filter(col("r0") > 0)
      .withColumn("growth_q",
        floor((col("r1") - col("r0")).cast(DoubleType) * lit(1e6) / col("r0"))
          .cast(LongType))
      .sharedCache()
    val nB = per.count()
    val wg = Window.orderBy(col("growth_q"), col("p_brand"))
    val medG = per.withColumn("rn", row_number().over(wg))
      .filter(col("rn") === (nB + 1) / 2)
      .select(col("growth_q").as("g_med"))
    val wr = Window.orderBy(col("rtot").desc, col("p_brand"))
    val ranked = per
      .withColumn("rk", row_number().over(wr))
      .withColumn("next_rev", lead("rtot", 1).over(wr))
      .withColumn("lead_rev", first("rtot").over(
        wr.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    // relative share: leader divides by #2, everyone else by the leader
    val shared = ranked.crossJoin(broadcast(medG))
      .withColumn("rel_share_q", when(col("rk") === 1,
        floor(col("rtot").cast(DoubleType) * lit(1e6) / col("next_rev")))
        .otherwise(floor(col("rtot").cast(DoubleType) * lit(1e6) / col("lead_rev")))
        .cast(LongType))
      .withColumn("quadrant",
        when(col("growth_q") > col("g_med") && col("rel_share_q") >= 1000000L, "star")
          .when(col("growth_q") <= col("g_med") && col("rel_share_q") >= 1000000L, "cash_cow")
          .when(col("growth_q") > col("g_med"), "question_mark")
          .otherwise("dog"))
    val tot = per.agg(sum(expr("CAST(rtot AS DECIMAL(38,0))")).as("t"))
    shared.groupBy("quadrant")
      .agg(count(lit(1)).as("n_brands"), sum(expr("CAST(rtot AS DECIMAL(38,0))")).as("qrev"))
      .crossJoin(broadcast(tot))
      .select(col("quadrant"), col("n_brands"),
        ratioFloor(col("qrev").cast(DoubleType), col("t"), 6).as("rev_share"))
      .orderBy("quadrant")
  }

  val aggBcgMatrixSql: String =
    """WITH li AS MATERIALIZED (
      |  SELECT p_brand, year(l_shipdate) AS yr,
      |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |max_yr AS (SELECT max(yr) - 1 AS y1, max(yr) - 2 AS y0 FROM li),
      |per AS MATERIALIZED (
      |  SELECT p_brand,
      |         CAST(sum(CASE WHEN yr = y1 THEN cents ELSE 0 END) AS BIGINT) AS r1,
      |         CAST(sum(CASE WHEN yr = y0 THEN cents ELSE 0 END) AS BIGINT) AS r0,
      |         CAST(sum(cents) AS BIGINT) AS rtot
      |  FROM li CROSS JOIN max_yr
      |  GROUP BY 1
      |  HAVING sum(CASE WHEN yr = y0 THEN cents ELSE 0 END) > 0),
      |perg AS MATERIALIZED (
      |  SELECT p_brand, r1, r0, rtot,
      |         CAST(floor(CAST(r1 - r0 AS DOUBLE) * 1e6 / r0) AS BIGINT) AS growth_q
      |  FROM per),
      |nb AS (SELECT count(*) AS n FROM perg),
      |med_g AS (
      |  SELECT growth_q AS g_med FROM (
      |    SELECT growth_q, row_number() OVER (ORDER BY growth_q, p_brand) AS rn
      |    FROM perg) t CROSS JOIN nb
      |  WHERE rn = (n + 1) // 2),
      |ranked AS MATERIALIZED (
      |  SELECT p_brand, rtot, growth_q,
      |         row_number() OVER (ORDER BY rtot DESC, p_brand) AS rk,
      |         lead(rtot, 1) OVER (ORDER BY rtot DESC, p_brand) AS next_rev,
      |         first_value(rtot) OVER (ORDER BY rtot DESC, p_brand
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lead_rev
      |  FROM perg),
      |shared AS (
      |  SELECT p_brand, rtot, growth_q, g_med,
      |         CAST(CASE WHEN rk = 1
      |              THEN floor(CAST(rtot AS DOUBLE) * 1e6 / next_rev)
      |              ELSE floor(CAST(rtot AS DOUBLE) * 1e6 / lead_rev) END AS BIGINT) AS rel_share_q
      |  FROM ranked CROSS JOIN med_g),
      |quads AS (
      |  SELECT CASE WHEN growth_q > g_med AND rel_share_q >= 1000000 THEN 'star'
      |              WHEN growth_q <= g_med AND rel_share_q >= 1000000 THEN 'cash_cow'
      |              WHEN growth_q > g_med THEN 'question_mark'
      |              ELSE 'dog' END AS quadrant,
      |         rtot
      |  FROM shared),
      |tot AS (SELECT CAST(sum(CAST(rtot AS HUGEINT)) AS HUGEINT) AS t FROM perg)
      |SELECT quadrant, CAST(count(*) AS BIGINT) AS n_brands,
      |       floor(CAST(sum(CAST(rtot AS HUGEINT)) AS DOUBLE) * 1e6 / CAST(t AS DOUBLE)) / 1e6
      |         AS rev_share
      |FROM quads CROSS JOIN tot
      |GROUP BY quadrant, t
      |ORDER BY quadrant""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("ddl-compat-matrix", ddlCompatMatrix, ddlCompatMatrixSql),
    Key("emb-whiten-isotropy-gain", embWhitenIsotropyGain, embWhitenIsotropyGainSql),
    Key("agg-min-variance-pair", aggMinVariancePair, aggMinVariancePairSql),
    Key("agg-bcg-matrix", aggBcgMatrix, aggBcgMatrixSql))
}
