package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch AR: partial correlation, ANCOVA adjusted means,
  * Tukey median polish, k-truss cohesion peel. */
object RelMore143 extends KeyModule {

  /** agg-partial-correlation — r(price, quantity | discount): the
    * correlation that REMAINS after controlling the third variable,
    * from the closed form (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)).
    * agg-correlation-matrix reports marginal r's; the marginal-vs-
    * partial attenuation is the one-number confounding check (if
    * r_xy collapses when z is held fixed, z drives the relation —
    * the precondition for trusting agg-regression's coefficient).
    * All three correlations come from ONE exact integer moment pass
    * over lossless quantizations; the partial is a single-row double
    * expression. */
  val aggPartialCorrelation: Q = (s, d) => {
    val m = lineitem(s, d)
      .select(expr("CAST(l_quantity AS DECIMAL(38,0))").as("x"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))").as("y"),
        expr("CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS DECIMAL(38,0))").as("z"))
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"), sum("z").as("sz"),
        sum(expr("x * x")).as("sxx"), sum(expr("y * y")).as("syy"),
        sum(expr("z * z")).as("szz"), sum(expr("x * y")).as("sxy"),
        sum(expr("x * z")).as("sxz"), sum(expr("y * z")).as("syz"))
      .select(
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType) *
            (col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType))).as("rxy"),
        ((col("n") * col("sxz") - col("sx") * col("sz")).cast(DoubleType) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType) *
            (col("n") * col("szz") - col("sz") * col("sz")).cast(DoubleType))).as("rxz"),
        ((col("n") * col("syz") - col("sy") * col("sz")).cast(DoubleType) /
          sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType) *
            (col("n") * col("szz") - col("sz") * col("sz")).cast(DoubleType))).as("ryz"))
    m.select(round(col("rxy"), 6).as("r_marginal"),
        round((col("rxy") - col("rxz") * col("ryz")) /
          sqrt((lit(1.0) - col("rxz") * col("rxz")) *
            (lit(1.0) - col("ryz") * col("ryz"))), 6).as("r_partial"))
      .withColumn("attenuation", round(col("r_marginal") - col("r_partial"), 6))
  }

  val aggPartialCorrelationSql: String =
    """WITH m AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |         CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
      |         CAST(sum(z) AS HUGEINT) AS sz,
      |         CAST(sum(x * x) AS HUGEINT) AS sxx, CAST(sum(y * y) AS HUGEINT) AS syy,
      |         CAST(sum(z * z) AS HUGEINT) AS szz, CAST(sum(x * y) AS HUGEINT) AS sxy,
      |         CAST(sum(x * z) AS HUGEINT) AS sxz, CAST(sum(y * z) AS HUGEINT) AS syz
      |  FROM (
      |    SELECT CAST(l_quantity AS HUGEINT) AS x,
      |           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT) AS y,
      |           CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS HUGEINT) AS z
      |    FROM lineitem) t),
      |r AS (
      |  SELECT CAST(n * sxy - sx * sy AS DOUBLE) /
      |           sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
      |           AS rxy,
      |         CAST(n * sxz - sx * sz AS DOUBLE) /
      |           sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * szz - sz * sz AS DOUBLE))
      |           AS rxz,
      |         CAST(n * syz - sy * sz AS DOUBLE) /
      |           sqrt(CAST(n * syy - sy * sy AS DOUBLE) * CAST(n * szz - sz * sz AS DOUBLE))
      |           AS ryz
      |  FROM m)
      |SELECT round(rxy, 6) AS r_marginal,
      |       round((rxy - rxz * ryz) /
      |             sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 6) AS r_partial,
      |       round(round(rxy, 6) -
      |             round((rxy - rxz * ryz) /
      |                   sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 6), 6)
      |         AS attenuation
      |FROM r""".stripMargin

  /** agg-ancova-adjust — ANCOVA-adjusted group means: each return
    * flag's mean line revenue, re-stated at the GRAND mean quantity
    * via the pooled within-group slope (adjᵍ = ȳᵍ − β_w(x̄ᵍ − x̄)).
    * Raw group means confound "this flag is worth more" with "this
    * flag happens to carry bigger quantities"; ANCOVA removes the
    * covariate imbalance — the gap between raw and adjusted columns
    * IS the imbalance, and ordering flips between them are the
    * finding. β_w pools per-group moments (Σᵍ Sxy/Σᵍ Sxx), so one
    * exact integer moment pass per group feeds everything; the
    * 3-row output is closed-form. */
  val aggAncovaAdjust: Q = (s, d) => {
    val m = lineitem(s, d)
      .groupBy(col("l_returnflag").as("flag"))
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum(expr("CAST(l_quantity AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
          .as("sy"),
        sum(expr("CAST(l_quantity AS DECIMAL(38,0)) * l_quantity")).as("sxx"),
        sum(expr("CAST(l_quantity AS DECIMAL(38,0)) * " +
          "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))")).as("sxy"))
      .sharedCache()
    val pooled = m.agg(sum("n").as("nt"), sum("sx").as("sxt"),
        sum(expr("n * sxy - sx * sy")).as("wxy_n"),
        sum(expr("n * sxx - sx * sx")).as("wxx_n"))
      .select(col("nt"), col("sxt"),
        // β_w = Σ(Sxyᵍ) / Σ(Sxxᵍ) with each S scaled by its own n —
        // scale-consistent because both use the same per-group n
        (col("wxy_n").cast(DoubleType) / col("wxx_n").cast(DoubleType)).as("beta_w"),
        (col("sxt").cast(DoubleType) / col("nt").cast(DoubleType)).as("xbar"))
    m.crossJoin(broadcast(pooled))
      .select(col("flag"), col("n").cast(LongType).as("n_rows"),
        round(col("sy").cast(DoubleType) / col("n").cast(DoubleType) / 100, 2)
          .as("raw_mean_usd"),
        round((col("sy").cast(DoubleType) / col("n").cast(DoubleType) -
          col("beta_w") * (col("sx").cast(DoubleType) / col("n").cast(DoubleType) -
            col("xbar"))) / 100, 2).as("adjusted_mean_usd"),
        round(col("beta_w") / 100, 4).as("pooled_slope_usd_per_unit"))
      .orderBy("flag")
  }

  val aggAncovaAdjustSql: String =
    """WITH m AS MATERIALIZED (
      |  SELECT l_returnflag AS flag, CAST(count(*) AS HUGEINT) AS n,
      |         CAST(sum(CAST(l_quantity AS HUGEINT)) AS HUGEINT) AS sx,
      |         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS sy,
      |         CAST(sum(CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS HUGEINT))
      |              AS HUGEINT) AS sxx,
      |         CAST(sum(CAST(l_quantity AS HUGEINT) *
      |                  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS sxy
      |  FROM lineitem GROUP BY 1),
      |pooled AS (
      |  SELECT CAST(sum(n * sxy - sx * sy) AS DOUBLE) /
      |           CAST(sum(n * sxx - sx * sx) AS DOUBLE) AS beta_w,
      |         CAST(sum(sx) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS xbar
      |  FROM m)
      |SELECT flag, CAST(n AS BIGINT) AS n_rows,
      |       round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 100, 2) AS raw_mean_usd,
      |       round((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) -
      |              beta_w * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) - xbar)) / 100, 2)
      |         AS adjusted_mean_usd,
      |       round(beta_w / 100, 4) AS pooled_slope_usd_per_unit
      |FROM m CROSS JOIN pooled
      |ORDER BY flag""".stripMargin

  /** agg-median-polish — one sweep of Tukey's median polish on the
    * priority × year mean-revenue table: row effects (row lower-
    * medians) removed first, then column effects (column lower-
    * medians of the residuals), leaving a residual table where a
    * large |cell| is an INTERACTION — a (priority, year) that
    * behaves unlike its row AND column say it should. The robust
    * sibling of a two-way ANOVA decomposition (agg-anova-nested-f):
    * medians don't chase one outlier year. Cell means are exact
    * integer-cent ratios micro-floored once; LOWER medians are exact
    * order statistics (row_number against count — no interpolation,
    * no cross-engine percentile convention), so every effect and
    * residual is an exact integer subtraction. Windows over a 5×7
    * table. */
  val aggMedianPolish: Q = (s, d) => {
    val cells = orders(s, d)
      .groupBy(col("o_orderpriority").as("prio"), year(col("o_orderdate")).as("yr"))
      .agg(expr("CAST((sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 " +
        "AS DECIMAL(38,0))) * 1000000 - pmod(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) " +
        "* 100 AS DECIMAL(38,0))) * 1000000, count(1))) / count(1) AS DECIMAL(38,0))")
        .as("v"))
      .sharedCache()
    def lowerMedian(df: DataFrame, part: String, value: String): DataFrame =
      df.withColumn("_rn", row_number().over(
          Window.partitionBy(part).orderBy(col(value), col(if (part == "prio") "yr" else "prio"))))
        .withColumn("_cnt", count(lit(1)).over(Window.partitionBy(part)))
        .filter(col("_rn") === (col("_cnt") + 1) / 2)
        .select(col(part), col(value).as(s"med_$part"))
    val rowEff = lowerMedian(cells, "prio", "v")
    val r1 = cells.join(broadcast(rowEff), Seq("prio"))
      .select(col("prio"), col("yr"), (col("v") - col("med_prio")).as("v1"),
        col("med_prio"))
    val colEff = lowerMedian(r1.select(col("prio"), col("yr"), col("v1").as("v")),
      "yr", "v")
    r1.join(broadcast(colEff), Seq("yr"))
      .select(col("prio"), col("yr"),
        round(col("med_prio").cast(DoubleType) / lit(1e8), 2).as("row_effect_usd"),
        round(col("med_yr").cast(DoubleType) / lit(1e8), 2).as("col_effect_usd"),
        round((col("v1") - col("med_yr")).cast(DoubleType) / lit(1e8), 2)
          .as("residual_usd"))
      .orderBy("prio", "yr")
  }

  val aggMedianPolishSql: String =
    """WITH cells AS MATERIALIZED (
      |  SELECT o_orderpriority AS prio, year(o_orderdate) AS yr,
      |         (CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |               AS HUGEINT) * 1000000) // count(*) AS v
      |  FROM orders GROUP BY 1, 2),
      |row_eff AS (
      |  SELECT prio, v AS med_prio FROM (
      |    SELECT prio, yr, v,
      |           row_number() OVER (PARTITION BY prio ORDER BY v, yr) AS rn,
      |           count(*) OVER (PARTITION BY prio) AS cnt
      |    FROM cells) t
      |  WHERE rn = (cnt + 1) // 2),
      |r1 AS (
      |  SELECT cells.prio, yr, v - med_prio AS v1, med_prio
      |  FROM cells JOIN row_eff ON cells.prio = row_eff.prio),
      |col_eff AS (
      |  SELECT yr, v1 AS med_yr FROM (
      |    SELECT prio, yr, v1,
      |           row_number() OVER (PARTITION BY yr ORDER BY v1, prio) AS rn,
      |           count(*) OVER (PARTITION BY yr) AS cnt
      |    FROM r1) t
      |  WHERE rn = (cnt + 1) // 2)
      |SELECT prio, r1.yr AS yr,
      |       round(CAST(med_prio AS DOUBLE) / 1e8, 2) AS row_effect_usd,
      |       round(CAST(med_yr AS DOUBLE) / 1e8, 2) AS col_effect_usd,
      |       round(CAST(v1 - med_yr AS DOUBLE) / 1e8, 2) AS residual_usd
      |FROM r1 JOIN col_eff ON r1.yr = col_eff.yr
      |ORDER BY prio, r1.yr""".stripMargin

  /** graph-ktruss — 3-truss of the sampled part co-purchase graph by
    * support peeling: an edge survives iff it participates in ≥ 1
    * triangle among surviving edges (2 peel rounds; production peels
    * to fixpoint — same convergence discipline as graph-kcore's
    * loop). Trussness is the EDGE-cohesion ladder: k-core keeps a
    * node for having neighbors, k-truss keeps an edge only if its
    * endpoints share neighbors — the standard community-core filter
    * that degree screens cannot express. Support counting is the
    * adjacency self-join blocked on the shared neighbor (never an
    * all-pairs product); each round persists its survivor edge list
    * and releases the parent (the RelMore15 iterative-cache
    * discipline). Output: the top 10 highest-support surviving
    * edges. */
  val graphKtruss: Q = (s, d) => withShufflePartitions(s, 8) {
    // r14 opt: co-purchase pairs from the per-process fixture
    // (GraphOps.pairs29Stored) instead of a per-rep scan + self-join
    val base = GraphOps.pairs29Stored(s, d)
    // IterativeFixpoint.eager: the peel step reads its edge state three
    // times (adjacency both directions + the survivor semi join), so
    // per-round checkpointing is the right discipline per the helper's
    // criteria; it also owns the release of round r-1's storage and the
    // no-plan-growth assertion this loop used to hand-roll.
    val edges = graft.functions.IterativeFixpoint.eager(base, 2) { (e, _) =>
      val adj = e.select(col("u").as("node"), col("v").as("nbr"))
        .union(e.select(col("v").as("node"), col("u").as("nbr")))
      val wedges = adj.as("x").join(adj.as("y"),
          col("x.nbr") === col("y.nbr") && col("x.node") < col("y.node"))
        .select(col("x.node").as("u"), col("y.node").as("v"))
      val sup = wedges.join(e, Seq("u", "v"), "left_semi")
        .groupBy("u", "v").agg(count(lit(1)).as("support"))
      e.join(sup.filter(col("support") >= 1), Seq("u", "v"), "left_semi")
    }
    val adjF = edges.select(col("u").as("node"), col("v").as("nbr"))
      .union(edges.select(col("v").as("node"), col("u").as("nbr")))
    val supF = adjF.as("x").join(adjF.as("y"),
        col("x.nbr") === col("y.nbr") && col("x.node") < col("y.node"))
      .select(col("x.node").as("u"), col("y.node").as("v"))
      .join(edges, Seq("u", "v"), "left_semi")
      .groupBy("u", "v").agg(count(lit(1)).as("support"))
    val out = supF.orderBy(col("support").desc, col("u"), col("v")).limit(10)
      .select(col("u"), col("v"), col("support"))
      .sharedCache()
    // INVARIANT (r10 ADVICE): `out` must be FULLY materialized into its
    // MEMORY_AND_DISK sharedCache (the count() above) before releasing
    // `edges` — the checkpoint's lineage is truncated, so after release
    // the cache blocks are the only copy and a recompute would fail. On
    // a cluster, where cache blocks can die with an executor, prefer
    // letting the ContextCleaner reclaim on GC instead of eager release
    // (RelMore6/RelMore44 pattern); here the release bounds local bench
    // footprint and the single-JVM MEMORY_AND_DISK cache cannot lose
    // blocks short of process death.
    out.count()
    graft.functions.IterativeFixpoint.releaseCheckpoint(edges)
    out.orderBy(col("support").desc, col("u"), col("v"))
  }

  val graphKtrussSql: String =
    """WITH li AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |  FROM lineitem WHERE l_orderkey % 29 = 0),
      |e0 AS MATERIALIZED (
      |  SELECT DISTINCT a.pk AS u, b.pk AS v
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |adj0 AS (SELECT u AS node, v AS nbr FROM e0
      |         UNION ALL SELECT v, u FROM e0),
      |sup0 AS (
      |  SELECT w.u, w.v, count(*) AS support FROM (
      |    SELECT x.node AS u, y.node AS v
      |    FROM adj0 x JOIN adj0 y ON x.nbr = y.nbr AND x.node < y.node) w
      |  JOIN e0 ON e0.u = w.u AND e0.v = w.v
      |  GROUP BY 1, 2),
      |e1 AS MATERIALIZED (
      |  SELECT e0.u, e0.v FROM e0 JOIN sup0 ON sup0.u = e0.u AND sup0.v = e0.v
      |  WHERE support >= 1),
      |adj1 AS (SELECT u AS node, v AS nbr FROM e1
      |         UNION ALL SELECT v, u FROM e1),
      |sup1 AS (
      |  SELECT w.u, w.v, count(*) AS support FROM (
      |    SELECT x.node AS u, y.node AS v
      |    FROM adj1 x JOIN adj1 y ON x.nbr = y.nbr AND x.node < y.node) w
      |  JOIN e1 ON e1.u = w.u AND e1.v = w.v
      |  GROUP BY 1, 2),
      |e2 AS MATERIALIZED (
      |  SELECT e1.u, e1.v FROM e1 JOIN sup1 ON sup1.u = e1.u AND sup1.v = e1.v
      |  WHERE support >= 1),
      |adj2 AS (SELECT u AS node, v AS nbr FROM e2
      |         UNION ALL SELECT v, u FROM e2),
      |sup2 AS (
      |  SELECT w.u, w.v, CAST(count(*) AS BIGINT) AS support FROM (
      |    SELECT x.node AS u, y.node AS v
      |    FROM adj2 x JOIN adj2 y ON x.nbr = y.nbr AND x.node < y.node) w
      |  JOIN e2 ON e2.u = w.u AND e2.v = w.v
      |  GROUP BY 1, 2)
      |SELECT u, v, support FROM sup2
      |ORDER BY support DESC, u, v
      |LIMIT 10""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-partial-correlation", aggPartialCorrelation, aggPartialCorrelationSql),
    Key("agg-ancova-adjust", aggAncovaAdjust, aggAncovaAdjustSql),
    Key("agg-median-polish", aggMedianPolish, aggMedianPolishSql),
    Key("graph-ktruss", graphKtruss, graphKtrussSql))
}
