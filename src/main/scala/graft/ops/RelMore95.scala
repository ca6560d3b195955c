package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-10 batch M: business-day rates, Jensen–Shannon divergence
  * between sources, a distributed Merkle-root integrity ledger, and
  * record-high tracking. */
object RelMore95 extends KeyModule {

  /** agg-business-day-rate — revenue per BUSINESS day vs per calendar
    * day, monthly: the denominator correction every "daily run rate"
    * KPI needs (a 31-day month with 23 business days overstates daily
    * velocity by a third). Weekday from epoch-day arithmetic
    * ((days+3) mod 7, Monday=0 — the engine-neutral formula, never
    * dayofweek()), so a business day is dow<5. Both rates are exact
    * integer ratios over exact per-month sums; the gap column is the
    * overstatement factor. Group count = months — trivial at scale. */
  val aggBusinessDayRate: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(floor(col("o_totalprice") * 100).cast(DecimalType(38, 0)))
        .cast(LongType).as("cents"))
      .withColumn("is_bd",
        (pmod(datediff(col("dt"), to_date(lit("1970-01-01"))) + 3, lit(7)) < 5)
          .cast(IntegerType))
    daily.groupBy(year(col("dt")).as("yr"), month(col("dt")).as("mo"))
      .agg(count(lit(1)).as("n_days"), sum("is_bd").cast(LongType).as("n_bdays"),
        sum(col("cents").cast(DecimalType(38, 0))).cast(LongType).as("cents"))
      .select(col("yr"), col("mo"), col("n_days"), col("n_bdays"),
        ratioFloor(col("cents"), col("n_days") * 100, 2).as("rate_calendar"),
        ratioFloor(col("cents"), col("n_bdays") * 100, 2).as("rate_business"),
        ratioFloor(col("n_days"), col("n_bdays"), 4).as("uplift"))
      .orderBy("yr", "mo")
  }

  val aggBusinessDayRateSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
       |         CAST(sum(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS HUGEINT)) AS BIGINT) AS cents
       |  FROM orders GROUP BY 1),
       |flagged AS (
       |  SELECT dt, cents,
       |         CASE WHEN ((datediff('day', DATE '1970-01-01', dt) + 3) % 7 + 7) % 7 < 5 THEN 1 ELSE 0 END AS is_bd
       |  FROM daily)
       |SELECT year(dt) AS yr, month(dt) AS mo, count(*) AS n_days,
       |       CAST(sum(is_bd) AS BIGINT) AS n_bdays,
       |       ${ratioFloorSql("sum(CAST(cents AS HUGEINT))", "(count(*) * 100)", 2)} AS rate_calendar,
       |       ${ratioFloorSql("sum(CAST(cents AS HUGEINT))", "(sum(is_bd) * 100)", 2)} AS rate_business,
       |       ${ratioFloorSql("count(*)", "sum(is_bd)", 4)} AS uplift
       |FROM flagged
       |GROUP BY 1, 2
       |ORDER BY yr, mo""".stripMargin

  /** text-js-divergence — Jensen–Shannon divergence between the word
    * distributions of source pairs: the symmetric, bounded [0, ln 2]
    * divergence dataset-mixing decisions should use where raw KL
    * explodes on disjoint support. Distributions live on the
    * VOCAB-bounded dense grid (sources × vocabulary, zero-filled), so
    * the pair join never touches corpus-scale data; each term's
    * p·ln(2p/(p+q)) contribution is floor-quantized to 1e-9 before
    * the exact integer sum (log() ulp divergence between engines has
    * ~1e-10 flip probability per term — the documented residual
    * risk). Top-5 most-divergent source pairs. */
  val textJsDivergence: Q = (s, d) => {
    val counts = documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy("source").agg(sum("cnt").as("n"))
    val dense = counts.select("source").distinct()
      .crossJoin(counts.select("w").distinct())
      .join(counts, Seq("source", "w"), "left_outer")
      .select(col("source"), col("w"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      .join(broadcast(totals), "source")
      .select(col("source"), col("w"),
        (col("cnt").cast(DoubleType) / col("n")).as("p"))
      .sharedCache()
    val a = dense.select(col("source").as("s1"), col("w"), col("p"))
    val b = dense.select(col("source").as("s2"), col("w"), col("p").as("q"))
    val terms = a.join(b, Seq("w")).filter(col("s1") < col("s2"))
      .select(col("s1"), col("s2"),
        floor((when(col("p") > 0,
          col("p") * log(lit(2.0) * col("p") / (col("p") + col("q")))).otherwise(lit(0.0)) +
          when(col("q") > 0,
            col("q") * log(lit(2.0) * col("q") / (col("p") + col("q")))).otherwise(lit(0.0)))
          * 1e9).cast(LongType).as("tq"))
    terms.groupBy("s1", "s2").agg(sum("tq").as("stq"))
      .select(col("s1"), col("s2"),
        round(col("stq").cast(DoubleType) / 2e9, 6).as("js_divergence"))
      .orderBy(col("stq").desc, col("s1").asc, col("s2").asc)
      .limit(5)
  }

  val textJsDivergenceSql: String =
    """WITH counts AS (
      |  SELECT source, w, count(*) AS cnt FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS w FROM documents) t
      |  GROUP BY 1, 2),
      |totals AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n FROM counts GROUP BY 1),
      |dense AS (
      |  SELECT s.source, v.w,
      |         CAST(coalesce(c.cnt, 0) AS DOUBLE) / t.n AS p
      |  FROM (SELECT DISTINCT source FROM counts) s
      |  CROSS JOIN (SELECT DISTINCT w FROM counts) v
      |  LEFT JOIN counts c ON c.source = s.source AND c.w = v.w
      |  JOIN totals t ON t.source = s.source),
      |terms AS (
      |  SELECT a.source AS s1, b.source AS s2,
      |         CAST(floor((CASE WHEN a.p > 0 THEN a.p * ln(2.0 * a.p / (a.p + b.p)) ELSE 0.0 END +
      |                     CASE WHEN b.p > 0 THEN b.p * ln(2.0 * b.p / (a.p + b.p)) ELSE 0.0 END) * 1e9) AS BIGINT) AS tq
      |  FROM dense a JOIN dense b ON a.w = b.w AND a.source < b.source),
      |pairs AS (
      |  SELECT s1, s2, CAST(sum(tq) AS BIGINT) AS stq FROM terms GROUP BY 1, 2)
      |SELECT s1, s2, round(CAST(stq AS DOUBLE) / 2e9, 6) AS js_divergence
      |FROM pairs
      |ORDER BY stq DESC, s1, s2
      |LIMIT 5""".stripMargin

  private val MerkleLevels = 12

  /** sink-merkle-root — a tamper-evident Merkle ledger over the orders
    * table, built DISTRIBUTED: leaves are per-day row hashes ranked
    * by key, and each of the 12 unrolled levels halves positions with
    * one (day, pos/2) aggregate — md5(left‖right) for full pairs,
    * pass-through for odd singles — so the tree needs log₂(day
    * volume) shuffles of ever-shrinking frames, never a sequential
    * hash chain (the naive ledger design that cannot parallelize).
    * Day roots then fold once more into a single corpus root. Graded
    * proof: recomputing with ONE leaf altered (min orderkey, +1 cent)
    * flips the root — the tamper_detected column — while n_leaves and
    * day count pin the coverage. 12 levels bound day volume at 4096
    * leaves (fixture ≤ ~10²; a deployment sizes levels to log₂ of
    * its max partition). */
  val sinkMerkleRoot: Q = (s, d) => {
    def tree(tamper: Boolean): DataFrame = {
      val cents0 = floor(col("o_totalprice") * 100).cast(LongType)
      val base = orders(s, d).select(
        to_date(col("o_orderdate")).as("day"), col("o_orderkey"),
        col("o_orderstatus"), cents0.as("cents"))
      val minKey = base.agg(min("o_orderkey").as("mk"))
      val leaves0 = base.crossJoin(broadcast(minKey))
        .withColumn("cents2",
          if (tamper) when(col("o_orderkey") === col("mk"), col("cents") + 1)
            .otherwise(col("cents"))
          else col("cents"))
        .select(col("day"), col("o_orderkey"),
          md5(concat_ws("|", col("o_orderkey"), col("o_orderstatus"),
            col("cents2"))).as("h"))
      val wd = Window.partitionBy("day").orderBy("o_orderkey")
      var lvl = leaves0
        .withColumn("pos", row_number().over(wd).cast(LongType) - 1)
        .select("day", "pos", "h")
      for (_ <- 1 to MerkleLevels) {
        lvl = lvl.groupBy(col("day"), expr("pos div 2").as("pos"))
          .agg(expr(
            "CASE WHEN count(*) = 2 THEN md5(concat(min_by(h, pos), max_by(h, pos))) ELSE min(h) END")
            .as("h"))
      }
      lvl.select("day", "h")
    }
    val clean = tree(tamper = false).sharedCache()
    val root = clean
      .agg(md5(expr(
        "array_join(transform(array_sort(collect_list(struct(day, h))), x -> x.h), '')"))
        .as("global_root"))
    val tampered = tree(tamper = true)
      .agg(md5(expr(
        "array_join(transform(array_sort(collect_list(struct(day, h))), x -> x.h), '')"))
        .as("tampered_root"))
    val stats = orders(s, d).agg(count(lit(1)).as("n_leaves"),
      countDistinct(to_date(col("o_orderdate"))).as("n_days"))
    stats.crossJoin(broadcast(root)).crossJoin(broadcast(tampered))
      .select(col("n_leaves"), col("n_days"), col("global_root"),
        (col("global_root") =!= col("tampered_root")).as("tamper_detected"))
  }

  val sinkMerkleRootSql: String = {
    def levels(src: String): String = (1 to MerkleLevels).map { k =>
      val prev = if (k == 1) src else s"${src}_l${k - 1}"
      s"""${src}_l$k AS (
         |  SELECT day, pos // 2 AS pos,
         |         CASE WHEN count(*) = 2 THEN md5(arg_min(h, pos) || arg_max(h, pos))
         |              ELSE min(h) END AS h
         |  FROM $prev GROUP BY day, pos // 2)""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS (
       |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day, o_orderkey,
       |         o_orderstatus, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders),
       |mk AS (SELECT min(o_orderkey) AS mkey FROM base),
       |clean AS (
       |  SELECT day, row_number() OVER (PARTITION BY day ORDER BY o_orderkey) - 1 AS pos,
       |         md5(CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus || '|' || CAST(cents AS VARCHAR)) AS h
       |  FROM base),
       |${levels("clean")},
       |tamp AS (
       |  SELECT day, row_number() OVER (PARTITION BY day ORDER BY o_orderkey) - 1 AS pos,
       |         md5(CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus || '|' ||
       |             CAST(CASE WHEN o_orderkey = mkey THEN cents + 1 ELSE cents END AS VARCHAR)) AS h
       |  FROM base CROSS JOIN mk),
       |${levels("tamp")},
       |cr AS (SELECT md5(string_agg(h, '' ORDER BY day)) AS global_root FROM clean_l$MerkleLevels),
       |tr AS (SELECT md5(string_agg(h, '' ORDER BY day)) AS tampered_root FROM tamp_l$MerkleLevels),
       |st AS (
       |  SELECT count(*) AS n_leaves,
       |         count(DISTINCT CAST(date_trunc('day', o_orderdate) AS DATE)) AS n_days
       |  FROM orders)
       |SELECT n_leaves, n_days, global_root,
       |       global_root <> tampered_root AS tamper_detected
       |FROM st CROSS JOIN cr CROSS JOIN tr""".stripMargin
  }

  /** win-record-highs — all-time-record tracking: which days set a new
    * all-time daily-revenue high, counted per year with the year's
    * closing record. One running max over the CALENDAR-BOUNDED daily
    * frame (strictly-before frame, so day one is a record by
    * definition and ties do NOT re-count — the sports-page
    * convention). The "best day ever" banner logic, done exactly. */
  val winRecordHighs: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(floor(col("o_totalprice") * 100).cast(DecimalType(38, 0)))
        .cast(LongType).as("y"))
    // prior peak via PrefixScan.withRunningMax EXCLUSIVE (r11): same
    // semantics as max() OVER (ROWS ... AND 1 PRECEDING) — NULL for
    // the first day — without the unpartitioned window's global sort
    graft.functions.PrefixScan
      .withRunningMax(daily, Seq(col("dt")), "y", "prior_max", inclusive = false).df
      .withColumn("is_record",
        (col("prior_max").isNull || col("y") > col("prior_max")).cast(IntegerType))
      .groupBy(year(col("dt")).as("yr"))
      .agg(count(lit(1)).as("n_days"),
        sum("is_record").cast(LongType).as("n_record_days"),
        (max(greatest(col("y"), coalesce(col("prior_max"), lit(0L))))
          .cast(DoubleType) / 100).as("running_best"))
      .orderBy("yr")
  }

  val winRecordHighsSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(sum(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS HUGEINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |m AS (
      |  SELECT dt, y,
      |         max(y) OVER (ORDER BY dt ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_max
      |  FROM daily)
      |SELECT year(dt) AS yr, count(*) AS n_days,
      |       CAST(sum(CASE WHEN prior_max IS NULL OR y > prior_max THEN 1 ELSE 0 END) AS BIGINT) AS n_record_days,
      |       CAST(max(greatest(y, coalesce(prior_max, 0))) AS DOUBLE) / 100 AS running_best
      |FROM m
      |GROUP BY year(dt)
      |ORDER BY yr""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-business-day-rate", aggBusinessDayRate, aggBusinessDayRateSql),
    Key("text-js-divergence", textJsDivergence, textJsDivergenceSql),
    Key("sink-merkle-root", sinkMerkleRoot, sinkMerkleRootSql),
    Key("win-record-highs", winRecordHighs, winRecordHighsSql))
}
