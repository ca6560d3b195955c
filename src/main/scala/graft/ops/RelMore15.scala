package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-4 continuation batch P: event analytics that warehouses ship
  * daily (multi-touch attribution, time-weighted averages, Pareto
  * concentration), numeric gap interpolation, Benford first-digit
  * auditing, k-core graph peeling, and cluster (block) sampling.
  *
  * Exactness discipline throughout: time deltas in integer ms, money
  * in integer cents/micro-units, shares in floor-ppm; the one
  * floating-point op (linear interpolation) is spelled with a
  * TEXTUALLY identical formula in both engines so the IEEE ops match
  * bit-for-bit.
  */
object RelMore15 extends KeyModule {

  /** agg-attribution — multi-touch attribution: every touchpoint
    * (view/click/signup) is assigned to its user's NEXT purchase via
    * first(ignoreNulls) over a forward frame — one pass, no per-
    * conversion subquery. Three credit models from the same
    * assignment: first-touch, last-touch, linear (floor(1e6/n) per
    * touch). All windows are (user)- or (user, conversion)-
    * partitioned — nothing global, fully parallel at 100 TB. */
  val aggAttribution: Q = (s, d) => {
    val base = events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("pid", when(col("event_type") === "purchase", col("event_id")))
    val wFut = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val touches = base
      .withColumn("conv_id", first("pid", ignoreNulls = true).over(wFut))
      .filter(col("event_type").isin("view", "click", "signup") &&
        col("conv_id").isNotNull)
    val wConv = Window.partitionBy("user_id", "conv_id")
    val wAsc = Window.partitionBy("user_id", "conv_id").orderBy("ts", "event_id")
    val wDesc = Window.partitionBy("user_id", "conv_id")
      .orderBy(desc("ts"), desc("event_id"))
    touches
      .withColumn("n_touch", count(lit(1)).over(wConv))
      .withColumn("rk_first", row_number().over(wAsc))
      .withColumn("rk_last", row_number().over(wDesc))
      .groupBy(col("event_type").as("channel"))
      .agg(
        count(lit(1)).as("n_touches"),
        sum(when(col("rk_first") === 1, 1L).otherwise(0L)).as("first_credits"),
        sum(when(col("rk_last") === 1, 1L).otherwise(0L)).as("last_credits"),
        sum(floor(lit(1000000L) / col("n_touch")).cast(LongType)).as("linear_ppm"))
      .orderBy("channel")
  }

  val aggAttributionSql: String =
    """WITH base AS (
      |  SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts, event_type,
      |         CASE WHEN event_type = 'purchase' THEN event_id END AS pid
      |  FROM events),
      |assigned AS (
      |  SELECT user_id, event_id, ts, event_type,
      |         first_value(pid IGNORE NULLS) OVER
      |           (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS conv_id
      |  FROM base),
      |touches AS (
      |  SELECT user_id, conv_id, event_type, ts, event_id,
      |         count(*) OVER (PARTITION BY user_id, conv_id) AS n_touch,
      |         row_number() OVER (PARTITION BY user_id, conv_id
      |                            ORDER BY ts, event_id) AS rk_first,
      |         row_number() OVER (PARTITION BY user_id, conv_id
      |                            ORDER BY ts DESC, event_id DESC) AS rk_last
      |  FROM assigned
      |  WHERE event_type IN ('view', 'click', 'signup') AND conv_id IS NOT NULL)
      |SELECT event_type AS channel,
      |       count(*) AS n_touches,
      |       CAST(sum(CASE WHEN rk_first = 1 THEN 1 ELSE 0 END) AS BIGINT) AS first_credits,
      |       CAST(sum(CASE WHEN rk_last = 1 THEN 1 ELSE 0 END) AS BIGINT) AS last_credits,
      |       CAST(sum(CAST(floor(1000000 / n_touch) AS BIGINT)) AS BIGINT) AS linear_ppm
      |FROM touches
      |GROUP BY event_type
      |ORDER BY channel""".stripMargin

  /** agg-twap — time-weighted average value per user: each reading
    * weighted by its holding duration (ms until the next event).
    * Exact end-to-end: centi-unit values × integer-ms durations summed
    * in BIGINT, one floor division at output. The plain avg() answer
    * is wrong whenever sampling is irregular — TWAP is what pricing,
    * metering and telemetry actually need. Last event per user has no
    * duration and drops out of both sums. */
  val aggTwap: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events(s, d)
      .filter(col("user_id") % 25 === 0)
      .select(col("user_id"), col("event_id"), col("ts"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("vu"))
      .withColumn("dt_ms",
        floor((unix_micros(lead("ts", 1).over(w)) - unix_micros(col("ts"))) / 1000)
          .cast(LongType))
      .filter(col("dt_ms").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_intervals"),
        sum("dt_ms").as("dur_ms"),
        sum(col("vu") * col("dt_ms")).as("wsum"))
      .select(col("user_id"), col("n_intervals"), col("dur_ms"),
        floor(col("wsum") * lit(10000L) / col("dur_ms")).cast(LongType).as("twap_micro"))
      .orderBy("user_id")
  }

  val aggTwapSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_id,
      |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vu,
      |         CAST(floor((epoch_us(lead(date_trunc('microseconds', ts)) OVER
      |                 (PARTITION BY user_id ORDER BY date_trunc('microseconds', ts), event_id)
      |               ) - epoch_us(date_trunc('microseconds', ts))) / 1000) AS BIGINT) AS dt_ms
      |  FROM events WHERE user_id % 25 = 0)
      |SELECT user_id, count(*) AS n_intervals,
      |       CAST(sum(dt_ms) AS BIGINT) AS dur_ms,
      |       CAST(floor(sum(vu * dt_ms) * 10000 / sum(dt_ms)) AS BIGINT) AS twap_micro
      |FROM seq
      |WHERE dt_ms IS NOT NULL
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** win-interpolate — linear interpolation across induced gaps: the
    * numeric upgrade of win-locf-backfill. Anchor ids and values come
    * from ignoreNulls window folds; the interpolation itself is the
    * ONE floating-point expression in this batch, spelled with the
    * textually identical formula in both engines (same IEEE ops on
    * the same inputs → identical bits). Series edges degrade to
    * nearest-anchor fill. */
  val winInterpolate: Q = (s, d) => {
    val base = events(s, d)
      .filter(col("user_id") % 25 === 0)
      .select(col("user_id"), col("event_id"),
        when(col("event_id") % 5 === 0, lit(null)).otherwise(col("value")).as("v"))
    val wPast = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFut = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    base
      .withColumn("pv", last("v", ignoreNulls = true).over(wPast))
      .withColumn("pi", last(when(col("v").isNotNull, col("event_id")), ignoreNulls = true).over(wPast))
      .withColumn("nv", first("v", ignoreNulls = true).over(wFut))
      .withColumn("ni", first(when(col("v").isNotNull, col("event_id")), ignoreNulls = true).over(wFut))
      .withColumn("v_interp",
        when(col("v").isNotNull, col("v"))
          .when(col("pv").isNull, col("nv"))
          .when(col("nv").isNull, col("pv"))
          .otherwise(expr(
            "pv + (nv - pv) * (CAST(event_id - pi AS DOUBLE) / CAST(ni - pi AS DOUBLE))")))
      .select("user_id", "event_id", "v", "v_interp")
      .orderBy("user_id", "event_id")
  }

  val winInterpolateSql: String =
    """SELECT user_id, event_id, v,
      |       CASE WHEN v IS NOT NULL THEN v
      |            WHEN pv IS NULL THEN nv
      |            WHEN nv IS NULL THEN pv
      |            ELSE pv + (nv - pv) * (CAST(event_id - pi AS DOUBLE) / CAST(ni - pi AS DOUBLE))
      |       END AS v_interp
      |FROM (
      |  SELECT user_id, event_id, v,
      |         last_value(v IGNORE NULLS) OVER past AS pv,
      |         last_value(CASE WHEN v IS NOT NULL THEN event_id END IGNORE NULLS) OVER past AS pi,
      |         first_value(v IGNORE NULLS) OVER fut AS nv,
      |         first_value(CASE WHEN v IS NOT NULL THEN event_id END IGNORE NULLS) OVER fut AS ni
      |  FROM (SELECT user_id, event_id,
      |               CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
      |        FROM events WHERE user_id % 25 = 0)
      |  WINDOW past AS (PARTITION BY user_id ORDER BY event_id
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         fut AS (PARTITION BY user_id ORDER BY event_id
      |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |ORDER BY user_id, event_id""".stripMargin

  /** dq-benford — first-significant-digit distribution vs Benford's
    * law: the classic fabricated-data screen for financial columns.
    * The digit comes from the INTEGER part's decimal string (never
    * log10 — libm's last ulp would misbucket boundary values);
    * expected frequencies are precomputed floor-ppm constants, so the
    * runtime does zero floating-point. Deviation in ppm per digit. */
  val dqBenford: Q = (s, d) => {
    val benford = Seq(301029, 176091, 124938, 96910, 79181,
      66946, 57991, 51152, 45757)
    val expMap = benford.zipWithIndex
      .map { case (ppm, i) => (i + 1, ppm) }
      .flatMap { case (dgt, ppm) => Seq(lit(dgt), lit(ppm)) }
    orders(s, d)
      .select(substring(expr("CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING)"), 1, 1)
        .cast(IntegerType).as("digit"))
      .groupBy("digit")
      .agg(count(lit(1)).as("n"))
      .withColumn("obs_ppm",
        floor(col("n") * lit(1000000L) / sum("n").over()).cast(LongType))
      .withColumn("exp_ppm", element_at(map(expMap: _*), col("digit")).cast(LongType))
      .withColumn("dev_ppm", abs(col("obs_ppm") - col("exp_ppm")))
      .orderBy("digit")
  }

  val dqBenfordSql: String =
    """WITH digits AS (
      |  SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
      |  FROM orders),
      |counts AS (SELECT digit, count(*) AS n FROM digits GROUP BY digit),
      |exp AS (SELECT * FROM (VALUES (1, 301029), (2, 176091), (3, 124938),
      |                              (4, 96910), (5, 79181), (6, 66946),
      |                              (7, 57991), (8, 51152), (9, 45757)) e(digit, exp_ppm))
      |SELECT c.digit, c.n,
      |       CAST(floor(c.n * 1000000 / (SELECT sum(n) FROM counts)) AS BIGINT) AS obs_ppm,
      |       CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
      |       CAST(abs(floor(c.n * 1000000 / (SELECT sum(n) FROM counts)) - e.exp_ppm) AS BIGINT) AS dev_ppm
      |FROM counts c JOIN exp e ON e.digit = c.digit
      |ORDER BY c.digit""".stripMargin

  /** graph-kcore — k-core decomposition by iterative peeling (k=2,
    * 3 rounds): drop degree-<2 nodes, recompute degrees on the induced
    * subgraph, repeat. Each round is one groupBy + two semi joins on
    * the edge list's existing hash partitioning. 3 rounds of peeling
    * reach the fixpoint on this graph's fringe depth; production runs
    * peel until a changed-count probe hits zero (same convergence
    * discipline as dedup-cluster). The 2-core is where community
    * structure lives — degree-1 tendrils are noise for triangle/
    * density analytics. */
  val graphKcore: Q = (s, d) => withShufflePartitions(s, 8) {
    // r14 opt: co-purchase pairs from the per-process fixture
    // (GraphOps.pairs29Stored) instead of a per-rep scan + self-join
    val pairs = GraphOps.pairs29Stored(s, d)
    val base = pairs.select(col("u").as("src"), col("v").as("dst"))
      .union(pairs.select(col("v").as("src"), col("u").as("dst")))
    // IterativeFixpoint.eager: each peel reads its edge state three
    // times (degree pass + two semi joins) — without per-round
    // materialization the un-cached intermediate recomputes 2^rounds
    // times through the whole pair-building join (measured 10s -> ~2s
    // at sf0.1). The helper owns the round lifecycle and the
    // no-plan-growth assertion.
    val edges = graft.functions.IterativeFixpoint.eager(base, 3) { (e, _) =>
      val keep = e.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= 2).select(col("src").as("node"))
      e.join(keep.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .select("src", "dst")
    }
    val out = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("core_deg"))
      .sharedCache()
    // materialize inside the partition scope — AND before the release:
    // once `edges`' checkpoint storage is freed the sharedCache blocks
    // are the only copy (truncated lineage cannot recompute). Safe in
    // the single-JVM MEMORY_AND_DISK cache; on a cluster prefer
    // ContextCleaner GC reclaim over eager release (see RelMore143).
    out.count()
    graft.functions.IterativeFixpoint.releaseCheckpoint(edges)
    out.orderBy("node")
  }

  val graphKcoreSql: String = {
    val peels = (1 to 3).map { i =>
      s"""k$i AS (SELECT src AS node FROM e${i - 1} GROUP BY src HAVING count(*) >= 2),
         |e$i AS (SELECT e.src, e.dst FROM e${i - 1} e
         |        JOIN k$i a ON a.node = e.src
         |        JOIN k$i b ON b.node = e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |            FROM lineitem WHERE l_orderkey % 29 = 0),
       |pairs AS (SELECT DISTINCT a.pk AS u, b.pk AS v
       |          FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
       |e0 AS (SELECT u AS src, v AS dst FROM pairs
       |       UNION ALL SELECT v, u FROM pairs),
       |$peels
       |SELECT src AS node, count(*) AS core_deg
       |FROM e3
       |GROUP BY src
       |ORDER BY node""".stripMargin
  }

  /** sample-block — cluster (block) sampling: sample whole ORDERS by a
    * portable digest of the orderkey, then keep ALL their lineitems
    * via semi join — never row-sample correlated units (row sampling
    * breaks per-order statistics like basket size; block sampling
    * preserves them). ~10% keep rate from two md5 nibbles < 26. The
    * digest, not random(): reproducible across runs, engines,
    * partitionings, and corpus growth. */
  val sampleBlock: Q = (s, d) => {
    val keys = orders(s, d).select(col("o_orderkey"))
      .withColumn("bucket", expr(
        "(instr('0123456789abcdef', substring(md5(CAST(o_orderkey AS STRING)), 1, 1)) - 1) * 16 + " +
          "(instr('0123456789abcdef', substring(md5(CAST(o_orderkey AS STRING)), 2, 1)) - 1)"))
      .filter(col("bucket") < 26)
      .select(col("o_orderkey").as("l_orderkey"))
    lineitem(s, d)
      .join(keys, Seq("l_orderkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_lines"),
        countDistinct("l_orderkey").as("n_orders"),
        sum(col("l_quantity").cast(LongType)).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  val sampleBlockSql: String =
    """WITH keys AS (
      |  SELECT o_orderkey
      |  FROM orders
      |  WHERE (strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) * 16 +
      |        (strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 2, 1)) - 1) < 26)
      |SELECT l_returnflag, count(*) AS n_lines,
      |       count(DISTINCT l_orderkey) AS n_orders,
      |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM lineitem
      |WHERE l_orderkey IN (SELECT o_orderkey FROM keys)
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** agg-pareto-point — revenue concentration: the smallest customer
    * prefix (by revenue rank) covering ≥80% of total revenue, with its
    * share of the customer base — the "how top-heavy is this business"
    * scalar behind every 80/20 claim. Threshold exact via cum·5 ≥
    * total·4 in cents. Rank AND running sum come from one PrefixScan
    * two-pass (range partition + per-partition offsets); the grand
    * totals fall out of its stats pass as literals — no
    * single-partition window and no second scan, even at 100×
    * customer cardinality. */
  val aggParetoPoint: Q = (s, d) => {
    val rev = orders(s, d)
      .groupBy("o_custkey")
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("cents"))
    val sc = graft.functions.PrefixScan.withRankCumSum(
      rev, Seq(desc("cents"), col("o_custkey")), Some("cents"),
      rankName = "rn", cumName = "cum")
    val ranked = sc.df
      .withColumn("total", lit(sc.total))
      .withColumn("n_cust", lit(sc.n))
    ranked.filter(col("cum") * 5 >= col("total") * 4)
      .groupBy()
      .agg(min(col("rn").cast(IntegerType)).as("n_to_80pct"),
        min("n_cust").as("n_customers"),
        min(when(col("cum") * 5 >= col("total") * 4, col("cum"))).as("cum_cents_at_80"))
      .withColumn("cust_share_ppm",
        floor(col("n_to_80pct") * lit(1000000L) / col("n_customers")).cast(LongType))
  }

  val aggParetoPointSql: String =
    """WITH rev AS (
      |  SELECT o_custkey,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY o_custkey),
      |ranked AS (
      |  SELECT row_number() OVER (ORDER BY cents DESC, o_custkey) AS rn,
      |         sum(cents) OVER (ORDER BY cents DESC, o_custkey
      |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |         (SELECT sum(cents) FROM rev) AS total,
      |         (SELECT count(*) FROM rev) AS n_cust
      |  FROM rev)
      |SELECT CAST(min(rn) AS INT) AS n_to_80pct,
      |       CAST(min(n_cust) AS BIGINT) AS n_customers,
      |       CAST(min(CASE WHEN cum * 5 >= total * 4 THEN cum END) AS BIGINT) AS cum_cents_at_80,
      |       CAST(floor(min(rn) * 1000000 / min(n_cust)) AS BIGINT) AS cust_share_ppm
      |FROM ranked
      |WHERE cum * 5 >= total * 4""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-attribution", aggAttribution, aggAttributionSql),
    Key("agg-twap", aggTwap, aggTwapSql),
    Key("win-interpolate", winInterpolate, winInterpolateSql),
    Key("dq-benford", dqBenford, dqBenfordSql),
    Key("graph-kcore", graphKcore, graphKcoreSql),
    Key("sample-block", sampleBlock, sampleBlockSql),
    Key("agg-pareto-point", aggParetoPoint, aggParetoPointSql))
}
