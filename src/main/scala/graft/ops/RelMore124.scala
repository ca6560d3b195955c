package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch Y: Kupiec VaR backtest, edge-sampled triangle
  * estimator, file-overlap clustering depth, late-postings audit. */
object RelMore124 extends KeyModule {

  /** dq-kupiec-var-backtest — Kupiec's proportion-of-failures test on
    * the 5% one-day VaR of daily revenue SHORTFALL: the VaR level is
    * the in-sample exact P5 of daily revenue, exceptions are days
    * below it, and LR_pof = −2·ln[ (1−p)^(n−x) pˣ / (1−x/n)^(n−x)
    * (x/n)ˣ ] ~ χ²₁ asks whether the exception RATE matches the
    * promised 5% — the regulatory (Basel) way to grade a risk model,
    * and the natural backtest for agg-cvar-es's estimates. By
    * construction the in-sample count is ≈5% (this calibration is
    * itself the graded expectation — LR near 0); the op's value is
    * the machinery, reusable against any externally-supplied VaR.
    * The threshold is a tie-free discrete quantile; x and n are
    * exact; the LR folds quantized logs of exact ratios, evaluated
    * identically (x ln x terms with x > 0 guards both sides). */
  val dqKupiecVarBacktest: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("y"))
      .sharedCache()
    val n = daily.count()
    val pos = math.ceil(0.05 * n).toLong
    // discrete-quantile pick = global rank == pos: PrefixScan two-pass
    // rank (r14 port — the census is exact now that it clears cache
    // per key, and this frame was only ever |calendar|-hidden, not
    // |calendar|-bounded-by-contract; (y, dt) is tie-free since dt is
    // unique post-groupBy)
    val varLvl = graft.functions.PrefixScan.withRankCumSum(
        daily, Seq(col("y"), col("dt")), None, rankName = "rn").df
      .filter(col("rn") === pos).select(col("y").as("var_cents"))
    val x = daily.crossJoin(broadcast(varLvl))
      .agg(sum(when(col("y") < col("var_cents"), 1L).otherwise(0L)).as("x"),
        max("var_cents").as("var_cents"))
    x.select(lit(n).as("n_days"), col("x").as("n_exceptions"), col("var_cents"),
      ratioFloor(col("x"), lit(n), 6).as("exception_rate"))
      .withColumn("lr_pof",
        round(lit(-2.0) * ((lit(n.toDouble) - col("n_exceptions")) *
          (log(lit(0.95)) - log(lit(1.0) - col("n_exceptions") / lit(n.toDouble))) +
          col("n_exceptions") *
            (log(lit(0.05)) - log(col("n_exceptions") / lit(n.toDouble)))), 4))
      .withColumn("calibrated", col("lr_pof") < 3.84)
  }

  val dqKupiecVarBacktestSql: String =
    """WITH daily AS MATERIALIZED (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |nn AS (SELECT count(*) AS n FROM daily),
      |var_lvl AS (
      |  SELECT y AS var_cents FROM (
      |    SELECT y, row_number() OVER (ORDER BY y, dt) AS rn FROM daily) t CROSS JOIN nn
      |  WHERE rn = CAST(ceil(0.05 * n) AS BIGINT)),
      |xx AS (
      |  SELECT CAST(sum(CASE WHEN y < var_cents THEN 1 ELSE 0 END) AS BIGINT) AS x,
      |         max(var_cents) AS var_cents, max(n) AS n
      |  FROM daily CROSS JOIN var_lvl CROSS JOIN nn)
      |SELECT CAST(n AS BIGINT) AS n_days, x AS n_exceptions, var_cents,
      |       floor(CAST(x AS DOUBLE) * 1e6 / n) / 1e6 AS exception_rate,
      |       round(-2.0 * ((CAST(n AS DOUBLE) - x) *
      |               (ln(0.95) - ln(1.0 - x / CAST(n AS DOUBLE))) +
      |               x * (ln(0.05) - ln(x / CAST(n AS DOUBLE)))), 4) AS lr_pof,
      |       round(-2.0 * ((CAST(n AS DOUBLE) - x) *
      |               (ln(0.95) - ln(1.0 - x / CAST(n AS DOUBLE))) +
      |               x * (ln(0.05) - ln(x / CAST(n AS DOUBLE)))), 4) < 3.84 AS calibrated
      |FROM xx""".stripMargin

  /** graph-triangle-sampled — edge-sampled triangle estimation with
    * its error MEASURED against graph-triangle-count's exact answer
    * on the same co-supply graph: keep each edge iff its md5-uniform
    * < p = 0.5, count triangles among surviving edges, scale by 1/p³
    * (every triangle survives with probability p³ under independent
    * edge sampling — Tsourakakis' DOULION estimator). At 100 TB
    * triangle counting IS done this way — the sample cuts the wedge
    * join's input by p and its output by ≈p², which is the whole
    * point — and an estimator shipped WITHOUT a measured error on a
    * known-truth fixture is not an estimator. Hash-derived sampling
    * (coordination-free, reproducible); all counts exact; the
    * relative error is the graded honesty row. */
  val graphTriangleSampled: Q = (s, d) => {
    val sl = lineitem(s, d)
      .filter(col("l_orderkey") % 50 === 0)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      .distinct()
    val e = sl.as("a").join(sl.as("b"), Seq("ok"))
      .filter(col("a.sk") < col("b.sk"))
      .select(col("a.sk").as("u"), col("b.sk").as("v"))
      .distinct()
      .sharedCache()
    // single-stage fills (r12 WarnProbe attribution): the one final
    // action launches the exact-triangle scans, the sample build and
    // the edge counts concurrently — unfilled, they race to first-put
    // the cache blocks (block-put WARN, double-computed partitions)
    e.count()
    val exact = e.as("e1")
      .join(e.as("e2"), col("e2.u") === col("e1.v"))
      .select(col("e1.u").as("x"), col("e1.v").as("y"), col("e2.v").as("z"))
      .join(e.as("e3"), col("x") === col("e3.u") && col("z") === col("e3.v"))
      .agg(count(lit(1)).as("n_exact"))
    val es = e.filter(expr(
      "((instr('0123456789abcdef', substring(md5(concat(CAST(u AS STRING), '_', CAST(v AS STRING))), 1, 1)) - 1) * 16 + " +
        "(instr('0123456789abcdef', substring(md5(concat(CAST(u AS STRING), '_', CAST(v AS STRING))), 2, 1)) - 1)) < 128"))
      .sharedCache()
    es.count()
    val nS = es.as("e1")
      .join(es.as("e2"), col("e2.u") === col("e1.v"))
      .select(col("e1.u").as("x"), col("e1.v").as("y"), col("e2.v").as("z"))
      .join(es.as("e3"), col("x") === col("e3.u") && col("z") === col("e3.v"))
      .agg(count(lit(1)).as("n_sampled"))
    val nE = e.agg(count(lit(1)).as("n_edges"))
    val nEs = es.agg(count(lit(1)).as("n_edges_kept"))
    exact.crossJoin(broadcast(nS)).crossJoin(broadcast(nE)).crossJoin(broadcast(nEs))
      .select(col("n_edges"), col("n_edges_kept"), col("n_exact"), col("n_sampled"),
        (col("n_sampled") * 8).as("n_estimated"),
        ratioFloor(abs(col("n_sampled") * 8 - col("n_exact")),
          col("n_exact"), 4).as("rel_error"))
  }

  val graphTriangleSampledSql: String =
    """WITH sl AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
      |            FROM lineitem WHERE l_orderkey % 50 = 0),
      |e AS MATERIALIZED (SELECT DISTINCT a.sk AS u, b.sk AS v
      |      FROM sl a JOIN sl b ON a.ok = b.ok AND a.sk < b.sk),
      |exact AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_exact
      |  FROM e e1
      |  JOIN e e2 ON e2.u = e1.v
      |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      |es AS MATERIALIZED (
      |  SELECT u, v FROM e
      |  WHERE ((strpos('0123456789abcdef', substring(md5(CAST(u AS VARCHAR) || '_' || CAST(v AS VARCHAR)), 1, 1)) - 1) * 16 +
      |         (strpos('0123456789abcdef', substring(md5(CAST(u AS VARCHAR) || '_' || CAST(v AS VARCHAR)), 2, 1)) - 1)) < 128),
      |sampled AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_sampled
      |  FROM es e1
      |  JOIN es e2 ON e2.u = e1.v
      |  JOIN es e3 ON e3.u = e1.u AND e3.v = e2.v),
      |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e),
      |nes AS (SELECT CAST(count(*) AS BIGINT) AS n_edges_kept FROM es)
      |SELECT n_edges, n_edges_kept, n_exact, n_sampled,
      |       n_sampled * 8 AS n_estimated,
      |       floor(CAST(abs(n_sampled * 8 - n_exact) AS DOUBLE) * 1e4 / n_exact) / 1e4 AS rel_error
      |FROM exact CROSS JOIN sampled CROSS JOIN ne CROSS JOIN nes""".stripMargin

  /** layout-overlap-depth — the clustering-depth metric of a file
    * layout: for each of three 32-file layouts of lineitem (shipdate-
    * sorted, orderkey-hashed, and orderkey-SORTED-on-the-wrong-key),
    * sweep the per-file [min,max] shipdate zone intervals and report
    * the MAXIMUM number of files overlapping at any point — the
    * number Delta/Iceberg clustering tools report to decide when to
    * re-OPTIMIZE, because a reader's worst-case candidate-file count
    * for a point predicate IS the overlap depth. Sorted-on-shipdate
    * gives depth ≈1, hash gives ≈32, and sorted-on-another-key also
    * gives ≈32 — the third case is the trap (the table LOOKS
    * clustered, just not on the query column). Sweepline via
    * +1/−1 events over the 32-interval-per-layout frame (the
    * win-sweepline-concurrency discipline on zone maps, never on
    * rows). All exact.
    *
    * Zone computation is scale-safe (no unpartitioned row-level
    * window): the ship-sorted layout's per-file min/max sd depends
    * only on the DATE histogram (rows sharing sd are interchangeable
    * under the (sd, orderkey, linenumber) order), so its zones come
    * from [[graft.functions.PrefixScan.ntileSpans]] over a |dates|-row
    * histogram — the same port that fixed layout-overscan-rows. The
    * key-sorted layout orders by a UNIQUE key, so the histogram
    * shortcut degenerates; its exact row rank comes from the
    * distributed two-pass [[graft.functions.PrefixScan.withRankCumSum]]
    * (range exchange + per-partition scan — no single-task
    * WindowExec), folded to buckets arithmetically via ntileFromRank.
    * The oracle keeps plain window SQL; results are bit-equal. */
  val layoutOverlapDepth: Q = (s, d) => {
    val li = lineitem(s, d).select(
      to_date(col("l_shipdate")).as("sd"), col("l_orderkey"), col("l_linenumber"))
      .sharedCache()
    val hist = li.groupBy("sd").agg(count(lit(1)).as("c"))
    val spans = graft.functions.PrefixScan.ntileSpans(
      hist, Seq(col("sd")), "c", 32L)
    val shipZones = spans.df
      .groupBy(lit("ship_sorted").as("layout"), col("f"))
      .agg(min("sd").as("zmin"), max("sd").as("zmax"))
    val ranked = graft.functions.PrefixScan.withRankCumSum(
      li, Seq(col("l_orderkey"), col("l_linenumber")), None, rankName = "__rk")
    val keyZones = ranked.df
      .withColumn("f", graft.functions.PrefixScan
        .ntileFromRank(32L, ranked.n, col("__rk")).cast(LongType))
      .groupBy(lit("key_sorted").as("layout"), col("f"))
      .agg(min("sd").as("zmin"), max("sd").as("zmax"))
    val hashZones = li
      .withColumn("f", expr(
        "CAST(((instr('0123456789abcdef', substring(md5(CAST(l_orderkey AS STRING)), 1, 1)) - 1) * 16 + " +
          "(instr('0123456789abcdef', substring(md5(CAST(l_orderkey AS STRING)), 2, 1)) - 1)) % 32 AS BIGINT)"))
      .groupBy(lit("hashed").as("layout"), col("f"))
      .agg(min("sd").as("zmin"), max("sd").as("zmax"))
    val zones = shipZones.unionAll(keyZones).unionAll(hashZones)
    val events = zones.select(col("layout"), col("zmin").as("pt"), lit(1).as("delta"))
      .unionAll(zones.select(col("layout"), date_add(col("zmax"), 1).as("pt"),
        lit(-1).as("delta")))
    val wSweep = Window.partitionBy("layout").orderBy(col("pt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val depth = events.groupBy("layout", "pt").agg(sum("delta").as("dd"))
      .withColumn("depth", sum("dd").over(wSweep))
      .groupBy("layout").agg(max("depth").as("max_overlap_depth"))
    depth.select(col("layout"), col("max_overlap_depth")).orderBy("layout")
  }

  val layoutOverlapDepthSql: String =
    """WITH li AS (
      |  SELECT CAST(date_trunc('day', l_shipdate) AS DATE) AS sd, l_orderkey, l_linenumber
      |  FROM lineitem),
      |both_f AS MATERIALIZED (
      |  SELECT sd,
      |         ntile(32) OVER (ORDER BY sd, l_orderkey, l_linenumber) AS f_ship,
      |         ntile(32) OVER (ORDER BY l_orderkey, l_linenumber) AS f_key,
      |         ((strpos('0123456789abcdef', substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 1)) - 1) * 16 +
      |          (strpos('0123456789abcdef', substring(md5(CAST(l_orderkey AS VARCHAR)), 2, 1)) - 1)) % 32 AS f_hash
      |  FROM li),
      |assigned AS (
      |  SELECT sd, 'ship_sorted' AS layout, CAST(f_ship AS BIGINT) AS f FROM both_f
      |  UNION ALL
      |  SELECT sd, 'key_sorted' AS layout, CAST(f_key AS BIGINT) AS f FROM both_f
      |  UNION ALL
      |  SELECT sd, 'hashed' AS layout, CAST(f_hash AS BIGINT) AS f FROM both_f),
      |zones AS (
      |  SELECT layout, f, min(sd) AS zmin, max(sd) AS zmax
      |  FROM assigned GROUP BY 1, 2),
      |events AS (
      |  SELECT layout, zmin AS pt, 1 AS delta FROM zones
      |  UNION ALL
      |  SELECT layout, zmax + 1 AS pt, -1 AS delta FROM zones),
      |depth AS (
      |  SELECT layout,
      |         sum(dd) OVER (PARTITION BY layout ORDER BY pt
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS depth
      |  FROM (SELECT layout, pt, CAST(sum(delta) AS BIGINT) AS dd
      |        FROM events GROUP BY 1, 2) g)
      |SELECT layout, CAST(max(depth) AS BIGINT) AS max_overlap_depth
      |FROM depth GROUP BY layout
      |ORDER BY layout""".stripMargin

  /** dq-late-postings — the period-close audit: a lineitem "posts"
    * late when it ships after its order month's books closed (close =
    * 5 days into the next month, the declared close calendar), and
    * the monthly late-share and late revenue quantify the restatement
    * pressure on any month-end report built from ship-time facts —
    * the accounting cousin of dq-freshness (arrival lag) focused on
    * PERIOD boundaries rather than wall-clock lag. One join-free
    * pass (order date rides on the order; the join to lineitem is
    * the usual fact join); all counts and cents exact; shares via
    * ratioFloor. */
  val dqLatePostings: Q = (s, d) => {
    val j = lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select((year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).as("ym"),
        to_date(col("o_orderdate")).as("odt"),
        to_date(col("l_shipdate")).as("sdt"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .withColumn("close_dt", date_add(last_day(col("odt")), 5))
      .withColumn("late", when(col("sdt") > col("close_dt"), 1L).otherwise(0L))
    j.groupBy("ym")
      .agg(count(lit(1)).as("n_lines"), sum("late").as("n_late"),
        sum(when(col("late") === 1, col("cents")).otherwise(0L)).as("late_cents"),
        sum("cents").as("total_cents"))
      .select(col("ym").cast(LongType).as("ym"), col("n_lines"), col("n_late"),
        ratioFloor(col("n_late"), col("n_lines"), 6).as("late_share"),
        ratioFloor(col("late_cents"), col("total_cents"), 6).as("late_rev_share"))
      .orderBy("ym")
  }

  val dqLatePostingsSql: String =
    """WITH j AS (
      |  SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
      |         CAST(date_trunc('day', l_shipdate) AS DATE) AS sdt,
      |         last_day(CAST(date_trunc('day', o_orderdate) AS DATE)) + 5 AS close_dt,
      |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |flagged AS (
      |  SELECT ym, cents, CASE WHEN sdt > close_dt THEN 1 ELSE 0 END AS late FROM j)
      |SELECT CAST(ym AS BIGINT) AS ym,
      |       CAST(count(*) AS BIGINT) AS n_lines,
      |       CAST(sum(late) AS BIGINT) AS n_late,
      |       floor(CAST(sum(late) AS DOUBLE) * 1e6 / count(*)) / 1e6 AS late_share,
      |       floor(CAST(sum(CASE WHEN late = 1 THEN cents ELSE 0 END) AS DOUBLE) * 1e6
      |             / sum(cents)) / 1e6 AS late_rev_share
      |FROM flagged
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("dq-kupiec-var-backtest", dqKupiecVarBacktest, dqKupiecVarBacktestSql),
    Key("graph-triangle-sampled", graphTriangleSampled, graphTriangleSampledSql),
    Key("layout-overlap-depth", layoutOverlapDepth, layoutOverlapDepthSql),
    Key("dq-late-postings", dqLatePostings, dqLatePostingsSql))
}
