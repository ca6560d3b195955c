package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-9 batch R: SPRT sequential monitor, Otsu threshold,
  * personalized PageRank, CSV header-drift ingestion. */
object RelMore80 extends KeyModule {

  private val SprtP0 = 0.20 // H0: purchase share (the fixture's truth)
  private val SprtP1 = 0.25 // H1: elevated share
  /** %.17g literals so both engines parse the identical doubles —
    * the RelMore56 alpha discipline. */
  private def g17(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.17g", Double.box(x))
  private val SprtLPos = g17(math.log(SprtP1 / SprtP0))
  private val SprtLNeg = g17(math.log((1 - SprtP1) / (1 - SprtP0)))
  private val SprtBound = g17(math.log(0.95 / 0.05)) // α = β = 0.05

  /** agg-sprt-boundary — Wald's sequential probability ratio test as a
    * daily monitor: cumulative log-likelihood ratio of H1 (purchase
    * share 25%) vs H0 (20%) over the event stream, checked against the
    * ±ln(19) boundaries (α = β = 0.05) — the always-peeking-safe test
    * a daily experiment dashboard needs where a fixed-horizon t-test
    * forbids looking early. LLR_t = x·ln(p1/p0) + (n−x)·ln(q1/q0) with
    * x, n EXACT daily integers and the two log factors pinned %.17g
    * literals, so each day's term is one exact-int × pinned-double
    * product; the cumulative sum runs over the date-bounded daily
    * frame. Output: the full decision trail plus each day's verdict —
    * cross up = accept H1, cross down = accept H0. */
  val aggSprtBoundary: Q = (s, d) => {
    val daily = events(s, d)
      .groupBy(to_date(col("ts")).as("dt"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("x"))
    val w = Window.orderBy("dt").rowsBetween(Window.unboundedPreceding, 0)
    daily
      .withColumn("llr_day",
        col("x") * expr(s"CAST($SprtLPos AS DOUBLE)") +
          (col("n") - col("x")) * expr(s"CAST($SprtLNeg AS DOUBLE)"))
      .withColumn("cum_llr", round(sum("llr_day").over(w), 6))
      .select(col("dt"), col("n"), col("x"), col("cum_llr"),
        when(col("cum_llr") >= expr(s"CAST($SprtBound AS DOUBLE)"), "accept_h1")
          .when(col("cum_llr") <= -expr(s"CAST($SprtBound AS DOUBLE)"), "accept_h0")
          .otherwise("continue").as("decision"))
      .orderBy("dt")
  }

  val aggSprtBoundarySql: String =
    s"""WITH daily AS (
       |  SELECT CAST(date_trunc('day', ts) AS DATE) AS dt, count(*) AS n,
       |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS x
       |  FROM events GROUP BY 1),
       |cum AS (
       |  SELECT dt, n, x,
       |         round(sum(x * CAST($SprtLPos AS DOUBLE)
       |                   + (n - x) * CAST($SprtLNeg AS DOUBLE))
       |               OVER (ORDER BY dt ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cum_llr
       |  FROM daily)
       |SELECT dt, n, x, cum_llr,
       |       CASE WHEN cum_llr >= CAST($SprtBound AS DOUBLE) THEN 'accept_h1'
       |            WHEN cum_llr <= -CAST($SprtBound AS DOUBLE) THEN 'accept_h0'
       |            ELSE 'continue' END AS decision
       |FROM cum
       |ORDER BY dt""".stripMargin

  private val OtsuBins = 256

  /** agg-otsu-threshold — Otsu's method on the event-value histogram:
    * the threshold maximizing between-class variance σ²_B(t) =
    * (s0·w1 − s1·w0)²/(w0·w1) over a 256-bin census — the classic
    * image-binarization rule repurposed as the principled 2-cluster
    * score split (spam/ham, hot/cold) that needs no k-means. The
    * histogram is one map-side-combined groupBy (bounded bins), the
    * cumulative moments a window over census rows only, and the score
    * numerator an exact DECIMAL cross term cast once to double for
    * the one division — the argmax is a row_number over identically-
    * derived doubles with the bin as tiebreak. Corpus-linear; the
    * sweep is constant work. */
  val aggOtsuThreshold: Q = (s, d) => {
    val census = events(s, d)
      .select(least(floor(col("value") / 2), lit(OtsuBins - 1)).cast(LongType).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("nb"))
    val w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    val tot = census.agg(sum("nb").as("n"), sum(col("bin") * col("nb")).as("sAll"))
    val swept = census
      .withColumn("w0", sum("nb").over(w))
      .withColumn("s0", sum(expr("bin * nb")).over(w))
      .crossJoin(broadcast(tot))
      .filter(col("w0") < col("n")) // both classes non-empty
      .withColumn("score",
        expr("CAST(CAST(s0 AS DECIMAL(38,0)) * (n - w0) - CAST(sAll - s0 AS DECIMAL(38,0)) * w0 AS DOUBLE)") *
          expr("CAST(CAST(s0 AS DECIMAL(38,0)) * (n - w0) - CAST(sAll - s0 AS DECIMAL(38,0)) * w0 AS DOUBLE)") /
          (col("w0").cast(DoubleType) * (col("n") - col("w0")).cast(DoubleType)))
    swept
      .withColumn("rk", row_number().over(Window.orderBy(col("score").desc, col("bin").asc)))
      .filter(col("rk") === 1)
      .select(col("bin").as("otsu_bin"), (col("bin") * 2).as("threshold_value"),
        col("w0").as("n_below"), (col("n") - col("w0")).as("n_above"),
        round(col("score") / col("n") / col("n"), 6).as("between_var_norm"))
  }

  val aggOtsuThresholdSql: String =
    s"""WITH census AS (
       |  SELECT CAST(least(floor(value / 2), ${OtsuBins - 1}) AS BIGINT) AS bin,
       |         count(*) AS nb
       |  FROM events GROUP BY 1),
       |tot AS (SELECT CAST(sum(nb) AS BIGINT) AS n,
       |               CAST(sum(bin * nb) AS BIGINT) AS s_all FROM census),
       |swept AS (
       |  SELECT bin,
       |         CAST(sum(nb) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS w0,
       |         CAST(sum(bin * nb) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s0
       |  FROM census),
       |scored AS (
       |  SELECT bin, w0, n,
       |         CAST(CAST(s0 AS HUGEINT) * (n - w0) - CAST(s_all - s0 AS HUGEINT) * w0 AS DOUBLE)
       |         * CAST(CAST(s0 AS HUGEINT) * (n - w0) - CAST(s_all - s0 AS HUGEINT) * w0 AS DOUBLE)
       |         / (CAST(w0 AS DOUBLE) * CAST(n - w0 AS DOUBLE)) AS score
       |  FROM swept CROSS JOIN tot
       |  WHERE w0 < n)
       |SELECT bin AS otsu_bin, bin * 2 AS threshold_value,
       |       w0 AS n_below, n - w0 AS n_above,
       |       round(score / n / n, 6) AS between_var_norm
       |FROM (SELECT *, row_number() OVER (ORDER BY score DESC, bin) AS rk FROM scored)
       |WHERE rk = 1""".stripMargin

  /** graph-ppr-seed — PERSONALIZED PageRank from supplier s1 over the
    * part↔supplier co-occurrence graph: the restart mass returns to
    * the SEED only (r = 0.15·δ_seed + 0.85·Σ r/deg), so scores measure
    * proximity TO s1 — the similar-items / who-relates-to-this query
    * global pagerank can't answer. Same scale discipline as
    * graph-pagerank (degree folded into the persisted edge list once,
    * 5 lazy chained iterations, per-iteration round(…,8) pinning the
    * float trajectory, data-sized shuffle partitions); only the
    * restart vector differs. Top-15 by proximity — the seed itself
    * dominates, its neighbors follow. */
  val graphPprSeed: Q = (s, d) => withShufflePartitions(s, 8) {
    // r14 opt: distinct pairs from the per-process fixture
    // (GraphOps.psPairsStored) instead of a per-rep scan + distinct.
    // r14 opt 2 (guide §2.3 narrower types, the graph-pagerank /
    // shortest-path discipline): all five rank⋈edges joins and
    // groupBys run on 8-byte longs (part = 2·pk, supplier = 2·sk+1,
    // injective — seed s1 is long 3); the 'p'/'s' labels are
    // re-derived at output, BEFORE the final (r desc, node) sort, so
    // the top-15 cut and its tiebreak order over the string ids are
    // byte-identical to the original.
    val e1 = GraphOps.psPairsStored(s, d)
      .select((col("sk") * 2 + 1).as("src"), (col("pk") * 2).as("dst"))
    val edges = e1.unionAll(e1.select(col("dst").as("src"), col("src").as("dst")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val edgesDeg = edges.join(deg, "src").sharedCache()
    val ranks0 = s.sql("SELECT CAST(3 AS BIGINT) AS node, CAST(1.0 AS DOUBLE) AS r")
    // IterativeFixpoint.eager (was a hand-rolled per-round checkpoint
    // loop): truncation per round keeps the 5-deep chain from nesting
    // AND hands each round's rank⋈edges join a known (small) build side,
    // so it plans as broadcast instead of a shuffle of the cached edge
    // list; the helper adds storage release + the no-plan-growth check.
    val ranks = graft.functions.IterativeFixpoint.eager(ranks0, 5) { (rk, _) =>
      // the restart term is a UNIONED constant row, never a CASE on the
      // flow aggregate: on a bipartite graph the flow frontier strictly
      // alternates sides, so a seed that happens to get no inflow this
      // step would otherwise DROP OUT of the vector (and take its 0.15
      // restart mass with it) — the power iteration re-injects the
      // restart unconditionally every step.
      val flow = edgesDeg
        .join(rk.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst"))
        .agg((lit(0.85) * sum(col("r") / col("deg"))).as("r"))
        .select(col("dst").as("node"), col("r"))
      flow
        .unionAll(s.sql("SELECT CAST(3 AS BIGINT) AS node, CAST(0.15 AS DOUBLE) AS r"))
        .groupBy("node").agg(round(sum("r"), 8).as("r"))
    }
    // labels re-derived BEFORE the (r desc, node) sort: the top-15 cut
    // tiebreaks on the STRING id exactly as the oracle does
    val out = ranks.select(GraphOps.longNodeToStr(col("node")).as("node"), col("r"))
    out.orderBy(col("r").desc, col("node").asc).limit(15)
      .select(col("node"), col("r").as("ppr"))
  }

  val graphPprSeedSql: String = {
    val iters = (1 to 5).map { i =>
      s"""r$i AS (
         |  SELECT node, round(sum(r), 8) AS r FROM (
         |    SELECT e.dst AS node, 0.85 * sum(p.r / dg.deg) AS r
         |    FROM edges e
         |    JOIN r${i - 1} p ON p.node = e.src
         |    JOIN deg dg ON dg.src = e.src
         |    GROUP BY e.dst
         |    UNION ALL SELECT 's1' AS node, CAST(0.15 AS DOUBLE) AS r) u
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e1 AS (
       |  SELECT DISTINCT 's' || l_suppkey AS src, 'p' || l_partkey AS dst FROM lineitem),
       |edges AS (SELECT src, dst FROM e1 UNION ALL SELECT dst, src FROM e1),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |r0 AS (SELECT 's1' AS node, CAST(1.0 AS DOUBLE) AS r),
       |$iters
       |SELECT node, r AS ppr
       |FROM r5
       |ORDER BY r DESC, node
       |LIMIT 15""".stripMargin
  }

  /** src-csv-header-drift — ingestion under HEADER drift: two vendor
    * batches land with different column ORDERS and an extra column in
    * the newer feed. Columns resolve BY NAME from each file's header
    * (never by position — positional CSV ingestion is how a reordered
    * feed silently swaps price into status), the union aligns by name
    * with the missing column padded null, and the output audits per-
    * batch presence: row counts and null counts for the drifted
    * column. The oracle replays the split arithmetically. Non-
    * splittable staging files decide parallelism at landing time —
    * the src-csv-gzip contract. */
  val srcCsvHeaderDrift: Q = (s, d) => {
    val out = tmp("src-csv-header-drift", d)
    val o = orders(s, d)
    // batch 1 (legacy): id,status,price — no priority column
    o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey").as("id"), col("o_orderstatus").as("status"),
        floor(col("o_totalprice")).cast(LongType).as("price"))
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(s"$out/b1")
    // batch 2 (new vendor): id,priority,price,status — reordered + extra
    o.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey").as("id"), col("o_orderpriority").as("priority"),
        floor(col("o_totalprice")).cast(LongType).as("price"),
        col("o_orderstatus").as("status"))
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(s"$out/b2")
    val b1 = s.read.option("header", "true").option("inferSchema", "true").csv(s"$out/b1")
      .withColumn("batch", lit(1))
    val b2 = s.read.option("header", "true").option("inferSchema", "true").csv(s"$out/b2")
      .withColumn("batch", lit(2))
    b1.unionByName(b2, allowMissingColumns = true)
      .groupBy("batch")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("priority").isNull, 1L).otherwise(0L)).as("null_priority"),
        sum(col("price").cast(DecimalType(38, 0))).cast(LongType).as("price_sum"),
        countDistinct("status").as("n_statuses"))
      .orderBy("batch")
  }

  val srcCsvHeaderDriftSql: String =
    """SELECT CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS batch,
      |       count(*) AS n_rows,
      |       CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS null_priority,
      |       CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS price_sum,
      |       count(DISTINCT o_orderstatus) AS n_statuses
      |FROM orders
      |GROUP BY 1
      |ORDER BY batch""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-sprt-boundary", aggSprtBoundary, aggSprtBoundarySql),
    Key("agg-otsu-threshold", aggOtsuThreshold, aggOtsuThresholdSql),
    Key("graph-ppr-seed", graphPprSeed, graphPprSeedSql),
    Key("src-csv-header-drift", srcCsvHeaderDrift, srcCsvHeaderDriftSql))
}
