package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch AH: Haar wavelet energy ladder, Cochran-Armitage
  * trend test, TOST equivalence gate, Burrows' delta stylometry. */
object RelMore133 extends KeyModule {

  /** agg-haar-energy — orthonormal Haar wavelet energy decomposition
    * of the first 256 trading days of daily revenue: detail energy
    * Eⱼ = Σᵦ d²ⱼᵦ/2ʲ per dyadic level j = 1..8, where dⱼᵦ is the
    * left-half minus right-half block sum. The energy ladder says at
    * WHICH time scale revenue variance lives (day-to-day noise vs
    * week vs quarter) — the dyadic complement to agg-dft-weekly-power's
    * single-frequency probe, and the math behind wavelet-compressed
    * storage of metric series (keep the levels that carry energy).
    * Daily cents are exact integers; every block sum and Σd² is an
    * exact DECIMAL fold (signs via explode, one shuffle on
    * (level, block)); the single cast to double and the exact
    * power-of-two division happen on the 8-row result. The 256-point
    * window is the op's contract (spectral audits are fixed-resolution;
    * the full-scan cost is only the upstream daily aggregate). */
  val aggHaarEnergy: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
        .as("v"))
    val idx = daily
      .withColumn("rn", row_number().over(Window.orderBy("dt")) - 1)
      .filter(col("rn") < 256)
    val signed = idx.select(col("rn"), col("v"),
        explode(expr("sequence(1, 8)")).as("level"))
      .select(col("level"),
        expr("rn div CAST(pow(2, level) AS INT)").as("block"),
        when(expr("(rn div CAST(pow(2, level - 1) AS INT)) % 2") === 0, col("v"))
          .otherwise(-col("v")).as("sv"))
    val details = signed.groupBy("level", "block")
      .agg(sum("sv").as("dcoef"))
      .groupBy("level")
      .agg(count(lit(1)).as("n_blocks"), sum(expr("dcoef * dcoef")).as("e_num"))
      // Eⱼ = Σd²/2ʲ: one huge-int→double cast (round-to-nearest in both
      // engines), then an EXACT power-of-two scaling
      .select(col("level"), col("n_blocks"),
        (col("e_num").cast(DoubleType) / pow(lit(2.0), col("level"))).as("energy"))
      .sharedCache()
    val tot = details.agg(sum("energy").as("te"))
    details.crossJoin(broadcast(tot))
      .select(col("level"), col("n_blocks"),
        round(col("energy") / lit(1e16), 6).as("energy_e16"),
        (floor(col("energy") * lit(1e6) / col("te")) / lit(1e6)).as("energy_share"))
      .orderBy("level")
  }

  val aggHaarEnergySql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS v
      |  FROM orders GROUP BY 1),
      |idx AS (
      |  SELECT v, row_number() OVER (ORDER BY dt) - 1 AS rn FROM daily
      |  QUALIFY rn < 256),
      |signed AS (
      |  SELECT level, rn // CAST(pow(2, level) AS INTEGER) AS block,
      |         CASE WHEN (rn // CAST(pow(2, level - 1) AS INTEGER)) % 2 = 0
      |              THEN v ELSE -v END AS sv
      |  FROM idx, LATERAL (SELECT unnest(range(1, 9)) AS level) l),
      |details AS (
      |  SELECT level, CAST(count(*) AS BIGINT) AS n_blocks,
      |         CAST(sum(dcoef * dcoef) AS DOUBLE) /
      |           pow(2.0, level) AS energy
      |  FROM (
      |    SELECT level, block, CAST(sum(sv) AS HUGEINT) AS dcoef
      |    FROM signed GROUP BY 1, 2) t
      |  GROUP BY level),
      |tot AS (SELECT sum(energy) AS te FROM details)
      |SELECT level, n_blocks, round(energy / 1e16, 6) AS energy_e16,
      |       floor(energy * 1e6 / te) / 1e6 AS energy_share
      |FROM details CROSS JOIN tot
      |ORDER BY level""".stripMargin

  /** dq-cochran-armitage — trend-in-proportions test across the five
    * ORDERED priority classes: is the share of fulfilled ('F') orders
    * monotonically drifting with urgency? The chi-square audit
    * (dq-chi-square) spends 4 degrees of freedom on ANY deviation;
    * Cochran-Armitage spends 1 on the LINEAR trend, so it detects a
    * small consistent slope chi-square dilutes away — the right gate
    * for "does priority actually change outcomes". Scores are the
    * priority ranks (1..5, parsed from the label); Z² =
    * N·[Σsᵢ(Nxᵢ−nᵢX)]² / (X(N−X)(NΣsᵢ²nᵢ−(Σsᵢnᵢ)²)) is an exact
    * integer rational (one moment pass, five rows folded), with the
    * single sqrt at output. */
  val dqCochranArmitage: Q = (s, d) => {
    val g = orders(s, d)
      .groupBy(expr("CAST(substring(o_orderpriority, 1, 1) AS INT)").as("sc"))
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("ni"),
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0))
          .cast(DecimalType(38, 0)).as("xi"))
    val folded = g.agg(count(lit(1)).as("k"),
      sum("ni").as("nn"), sum("xi").as("xx"),
      sum(expr("CAST(sc AS DECIMAL(38,0)) * ni")).as("sn"),
      sum(expr("CAST(sc AS DECIMAL(38,0)) * sc * ni")).as("ssn"),
      sum(expr("CAST(sc AS DECIMAL(38,0)) * xi")).as("sx"))
    // num = Σsᵢ(Nxᵢ−nᵢX) = N·Σsx − X·Σsn ; den = X(N−X)(NΣs²n−(Σsn)²)/N
    folded.select(col("k").as("n_groups"),
        col("nn").cast(LongType).as("n_total"), col("xx").cast(LongType).as("n_success"),
        (col("nn") * col("sx") - col("xx") * col("sn")).as("num"),
        (col("xx") * (col("nn") - col("xx")) *
          (col("nn") * col("ssn") - col("sn") * col("sn"))).as("denp"),
        col("nn").as("nnd"))
      .select(col("n_groups"), col("n_total"), col("n_success"),
        round(signum(col("num").cast(DoubleType)) *
          sqrt(col("num").cast(DoubleType) * col("num").cast(DoubleType) *
            col("nnd").cast(DoubleType) / col("denp").cast(DoubleType)), 4).as("z_trend"))
      .withColumn("trend_significant", abs(col("z_trend")) > lit(1.96))
  }

  val dqCochranArmitageSql: String =
    """WITH g AS (
      |  SELECT CAST(substring(o_orderpriority, 1, 1) AS INTEGER) AS sc,
      |         CAST(count(*) AS HUGEINT) AS ni,
      |         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS HUGEINT) AS xi
      |  FROM orders GROUP BY 1),
      |folded AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ni) AS HUGEINT) AS nn,
      |         CAST(sum(xi) AS HUGEINT) AS xx,
      |         CAST(sum(sc * ni) AS HUGEINT) AS sn,
      |         CAST(sum(sc * sc * ni) AS HUGEINT) AS ssn,
      |         CAST(sum(sc * xi) AS HUGEINT) AS sx
      |  FROM g)
      |SELECT k AS n_groups, CAST(nn AS BIGINT) AS n_total,
      |       CAST(xx AS BIGINT) AS n_success,
      |       round(sign(CAST(nn * sx - xx * sn AS DOUBLE)) *
      |             sqrt(CAST(nn * sx - xx * sn AS DOUBLE) *
      |                  CAST(nn * sx - xx * sn AS DOUBLE) * CAST(nn AS DOUBLE) /
      |                  CAST(xx * (nn - xx) * (nn * ssn - sn * sn) AS DOUBLE)), 4)
      |         AS z_trend,
      |       abs(round(sign(CAST(nn * sx - xx * sn AS DOUBLE)) *
      |             sqrt(CAST(nn * sx - xx * sn AS DOUBLE) *
      |                  CAST(nn * sx - xx * sn AS DOUBLE) * CAST(nn AS DOUBLE) /
      |                  CAST(xx * (nn - xx) * (nn * ssn - sn * sn) AS DOUBLE)), 4)) > 1.96
      |         AS trend_significant
      |FROM folded""".stripMargin

  /** agg-tost-equivalence — two one-sided tests: are URGENT and LOW
    * order values EQUIVALENT within a ±2%-of-pooled-mean margin?
    * agg-welch-ttest can only fail to reject "no difference" — absence
    * of evidence; TOST inverts the burden and positively demonstrates
    * "any difference is inside δ" (both one-sided Welch statistics
    * must clear +1.645), which is the question a pricing-parity or
    * A/A-gate owner actually asks. Exact cent moments per group, the
    * margin derives from the pooled mean as an exact integer ratio,
    * and the two t statistics are single-row double expressions. */
  val aggTostEquivalence: Q = (s, d) => {
    val g = orders(s, d)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .groupBy(col("o_orderpriority").as("grp"))
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))")).as("sc"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0)) * " +
          "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))")).as("scc"))
    val a = g.filter(col("grp") === "1-URGENT")
      .select(col("n").as("n1"), col("sc").as("s1"), col("scc").as("ss1"))
    val b = g.filter(col("grp") === "5-LOW")
      .select(col("n").as("n2"), col("sc").as("s2"), col("scc").as("ss2"))
    a.crossJoin(broadcast(b))
      .select(col("n1").cast(LongType).as("n_urgent"), col("n2").cast(LongType).as("n_low"),
        // diff, margin, se in cents (doubles from exact integers)
        (col("s1").cast(DoubleType) / col("n1").cast(DoubleType) -
          col("s2").cast(DoubleType) / col("n2").cast(DoubleType)).as("diff"),
        ((col("s1") + col("s2")).cast(DoubleType) /
          (col("n1") + col("n2")).cast(DoubleType) * lit(0.02)).as("delta"),
        sqrt(((col("n1") * col("ss1") - col("s1") * col("s1")).cast(DoubleType) /
            (col("n1") * (col("n1") - lit(1))).cast(DoubleType) / col("n1").cast(DoubleType)) +
          ((col("n2") * col("ss2") - col("s2") * col("s2")).cast(DoubleType) /
            (col("n2") * (col("n2") - lit(1))).cast(DoubleType) / col("n2").cast(DoubleType)))
          .as("se"))
      .select(col("n_urgent"), col("n_low"),
        round(col("diff") / lit(100.0), 4).as("mean_diff_usd"),
        round(col("delta") / lit(100.0), 4).as("margin_usd"),
        round((col("diff") + col("delta")) / col("se"), 4).as("t_lower"),
        round((col("delta") - col("diff")) / col("se"), 4).as("t_upper"))
      .withColumn("equivalent", col("t_lower") > lit(1.645) && col("t_upper") > lit(1.645))
  }

  val aggTostEquivalenceSql: String =
    """WITH g AS (
      |  SELECT o_orderpriority AS grp, CAST(count(*) AS HUGEINT) AS n,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS sc,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT) *
      |                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS scc
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW') GROUP BY 1),
      |j AS (
      |  SELECT a.n AS n1, a.sc AS s1, a.scc AS ss1, b.n AS n2, b.sc AS s2, b.scc AS ss2
      |  FROM (SELECT * FROM g WHERE grp = '1-URGENT') a
      |  CROSS JOIN (SELECT * FROM g WHERE grp = '5-LOW') b),
      |m AS (
      |  SELECT CAST(n1 AS BIGINT) AS n_urgent, CAST(n2 AS BIGINT) AS n_low,
      |         CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
      |           CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS diff,
      |         CAST(s1 + s2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) * 0.02 AS delta,
      |         sqrt(CAST(n1 * ss1 - s1 * s1 AS DOUBLE) /
      |                CAST(n1 * (n1 - 1) AS DOUBLE) / CAST(n1 AS DOUBLE) +
      |              CAST(n2 * ss2 - s2 * s2 AS DOUBLE) /
      |                CAST(n2 * (n2 - 1) AS DOUBLE) / CAST(n2 AS DOUBLE)) AS se
      |  FROM j)
      |SELECT n_urgent, n_low,
      |       round(diff / 100.0, 4) AS mean_diff_usd,
      |       round(delta / 100.0, 4) AS margin_usd,
      |       round((diff + delta) / se, 4) AS t_lower,
      |       round((delta - diff) / se, 4) AS t_upper,
      |       round((diff + delta) / se, 4) > 1.645 AND
      |       round((delta - diff) / se, 4) > 1.645 AS equivalent
      |FROM m""".stripMargin

  /** text-burrows-delta — Burrows' delta stylometric distance between
    * sources: z-score each of the 20 most frequent corpus terms'
    * per-source rate (per-million, over the source's own token count),
    * then delta(a,b) = mean |z_a − z_b|. The classic authorship-
    * attribution measure — function-word RATES normalized across the
    * corpus strip topic and keep style, exactly the signal that
    * text-domain-crossentropy (token distributions) and
    * text-keyness-ratio (topic keyness) do NOT isolate. Per-million
    * rates are integer-floored; z is quantized to 1e6 per (term,
    * source) BEFORE the pairwise fold so the 20-term sum is exact
    * integer arithmetic; the term×source grid is dense by
    * construction (top-k × source count — zeros materialized via
    * cross join, never a corpus-wide pivot) and the pair join runs
    * on that tiny grid, so corpus scale only enters through the two
    * token aggregates. Top-20 pairs by distance. */
  val textBurrowsDelta: Q = (s, d) => {
    val toks = documents(s, d)
      .select(col("source"), explode(split(trim(col("text")), "\\s+")).as("w"))
      .sharedCache()
    val srcTok = toks.groupBy("source").agg(count(lit(1)).as("tok"))
    val top = toks.groupBy("w").agg(count(lit(1)).as("cw"))
      .orderBy(col("cw").desc, col("w")).limit(20).select(col("w"))
    val grid = broadcast(top).crossJoin(broadcast(srcTok.select("source")))
    val cnt = toks.join(broadcast(top), Seq("w")).groupBy("w", "source")
      .agg(count(lit(1)).as("c"))
    val fpm = grid.join(cnt, Seq("w", "source"), "left")
      .join(broadcast(srcTok), Seq("source"))
      .select(col("w"), col("source"),
        expr("CAST(coalesce(c, 0) * 1000000 div tok AS BIGINT)").as("f"))
    val mom = fpm.groupBy("w")
      .agg(count(lit(1)).as("ns"),
        sum(expr("CAST(f AS DECIMAL(38,0))")).as("sf"),
        sum(expr("CAST(f AS DECIMAL(38,0)) * f")).as("sff"))
      .filter(expr("ns * sff > sf * sf"))
    val z = fpm.join(broadcast(mom), Seq("w"))
      .select(col("w"), col("source"),
        floor((col("ns") * col("f") - col("sf")).cast(DoubleType) * lit(1e6) /
          sqrt((col("ns") * col("sff") - col("sf") * col("sf")).cast(DoubleType)))
          .cast(LongType).as("zq"))
      .sharedCache()
    val za = z.select(col("w"), col("source").as("src_a"), col("zq").as("za"))
    val zb = z.select(col("w"), col("source").as("src_b"), col("zq").as("zb"))
    za.join(zb, Seq("w"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_terms"), sum(abs(col("za") - col("zb"))).as("sd"))
      .select(col("src_a"), col("src_b"), col("n_terms"),
        ratioFloor(col("sd").cast(DoubleType), col("n_terms") * lit(1e6), 6)
          .as("burrows_delta"))
      .orderBy(col("burrows_delta").desc, col("src_a"), col("src_b"))
      .limit(20)
  }

  val textBurrowsDeltaSql: String =
    """WITH toks AS MATERIALIZED (
      |  SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      |  FROM documents),
      |src_tok AS (SELECT source, CAST(count(*) AS BIGINT) AS tok FROM toks GROUP BY 1),
      |top AS (
      |  SELECT w FROM (SELECT w, count(*) AS cw FROM toks GROUP BY 1) t
      |  ORDER BY cw DESC, w LIMIT 20),
      |cnt AS (
      |  SELECT w, source, CAST(count(*) AS BIGINT) AS c
      |  FROM toks JOIN top USING (w) GROUP BY 1, 2),
      |fpm AS (
      |  SELECT top.w, st.source,
      |         CAST(coalesce(c, 0) * 1000000 // tok AS BIGINT) AS f
      |  FROM top CROSS JOIN src_tok st
      |  LEFT JOIN cnt ON cnt.w = top.w AND cnt.source = st.source),
      |mom AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS ns, CAST(sum(f) AS HUGEINT) AS sf,
      |         CAST(sum(CAST(f AS HUGEINT) * f) AS HUGEINT) AS sff
      |  FROM fpm GROUP BY 1
      |  HAVING CAST(count(*) AS HUGEINT) * CAST(sum(CAST(f AS HUGEINT) * f) AS HUGEINT)
      |         > CAST(sum(f) AS HUGEINT) * CAST(sum(f) AS HUGEINT)),
      |z AS (
      |  SELECT fpm.w, fpm.source,
      |         CAST(floor(CAST(ns * f - sf AS DOUBLE) * 1e6 /
      |                    sqrt(CAST(ns * sff - sf * sf AS DOUBLE))) AS BIGINT) AS zq
      |  FROM fpm JOIN mom ON mom.w = fpm.w)
      |SELECT a.source AS src_a, b.source AS src_b,
      |       CAST(count(*) AS BIGINT) AS n_terms,
      |       floor(CAST(sum(abs(a.zq - b.zq)) AS DOUBLE) * 1e6 /
      |             (count(*) * 1e6)) / 1e6 AS burrows_delta
      |FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
      |GROUP BY 1, 2
      |ORDER BY burrows_delta DESC, src_a, src_b
      |LIMIT 20""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-haar-energy", aggHaarEnergy, aggHaarEnergySql),
    Key("dq-cochran-armitage", dqCochranArmitage, dqCochranArmitageSql),
    Key("agg-tost-equivalence", aggTostEquivalence, aggTostEquivalenceSql),
    Key("text-burrows-delta", textBurrowsDelta, textBurrowsDeltaSql))
}
