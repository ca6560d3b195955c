package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-10 batch B: maximum-surplus date window (Kadane via prefix
  * mins), inter-arrival burstiness, Luhn check digits, merge-on-read
  * sink reconciliation. */
object RelMore84 extends KeyModule {

  /** win-max-subarray — the contiguous date range with maximum revenue
    * surplus over the global daily mean (the classic maximum-subarray
    * problem, solved with prefix sums + running minima instead of
    * Kadane's sequential scan). Deltas are kept EXACT by scaling:
    * d_i = D·y_i − S (D = day count, S = total cents — all integers,
    * Σd_i = 0), so the best window maximizes D·window_revenue −
    * len·S with no float anywhere. Best end = argmax(P_t − min(0,
    * min_{i<t} P_i)), start = day after the earliest prefix minimum
    * before it — two more calendar-frame lookups. Windows are over the
    * CALENDAR-BOUNDED daily frame (a few thousand rows at any corpus
    * size), which is what makes the O(D log D) sort the whole cost.
    * The "which fortnight made the quarter" question, answered
    * optimally rather than by eyeballing a chart. */
  val winMaxSubarray: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(floor(col("o_totalprice") * 100).cast(DecimalType(38, 0)))
        .cast(LongType).as("y"))
      .sharedCache()
    val tot = daily.agg(count(lit(1)).as("nd"),
      sum(col("y").cast(DecimalType(38, 0))).cast(LongType).as("st"))
    val scaled = daily.crossJoin(broadcast(tot))
      .withColumn("delta", col("nd").cast(DecimalType(38, 0)) * col("y") - col("st"))
    val wAll = Window.orderBy("dt")
    val pref = scaled
      .withColumn("p", sum("delta").over(wAll.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("minp_before",
        least(lit(0).cast(DecimalType(38, 0)),
          coalesce(min("p").over(wAll.rowsBetween(Window.unboundedPreceding, -1)),
            lit(0).cast(DecimalType(38, 0)))))
      .withColumn("best", col("p") - col("minp_before"))
      .sharedCache()
    val endRow = pref.orderBy(col("best").desc, col("dt").asc).limit(1)
      .select(col("dt").as("end_dt"), col("best"), col("minp_before").as("mp"))
    // start day: earliest prefix-min strictly before end (or first day if
    // the empty prefix won); date_add moves to the day AFTER the min
    val startCand = pref.select(col("dt").as("pdt"), col("p"))
      .join(broadcast(endRow), col("pdt") < col("end_dt") && col("p") === col("mp"))
      .groupBy("end_dt").agg(min("pdt").as("min_dt"))
      .select(col("end_dt").as("e2"), date_add(col("min_dt"), 1).as("start_cand"))
    val bounds = endRow.join(startCand, col("end_dt") === col("e2"), "left")
      .crossJoin(broadcast(daily.agg(min("dt").as("first_dt"))))
      .select(coalesce(col("start_cand"), col("first_dt")).as("start_dt"),
        col("end_dt"))
    val win = daily.crossJoin(broadcast(bounds))
      .filter(col("dt") >= col("start_dt") && col("dt") <= col("end_dt"))
      .groupBy("start_dt", "end_dt")
      .agg(count(lit(1)).as("len_days"),
        sum(col("y").cast(DecimalType(38, 0))).cast(LongType).as("win_cents"))
    win.crossJoin(broadcast(tot))
      .select(col("start_dt"), col("end_dt"), col("len_days"),
        (col("win_cents").cast(DoubleType) / 100).as("window_revenue"),
        ratioFloor(col("win_cents").cast(DecimalType(38, 0)) * col("nd"),
          col("st").cast(DecimalType(38, 0)) * col("len_days"), 6)
          .as("uplift_ratio"))
  }

  val winMaxSubarraySql: String =
    s"""WITH daily AS (
       |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
       |         CAST(sum(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS HUGEINT)) AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |tot AS (SELECT count(*) AS nd, CAST(sum(CAST(y AS HUGEINT)) AS BIGINT) AS st FROM daily),
       |pref0 AS (
       |  SELECT dt, y,
       |         sum(CAST(nd AS HUGEINT) * y - st) OVER (ORDER BY dt ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
       |  FROM daily CROSS JOIN tot),
       |pref AS (
       |  SELECT dt, y, p,
       |         least(CAST(0 AS HUGEINT), coalesce(min(p) OVER (ORDER BY dt ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), CAST(0 AS HUGEINT))) AS minp_before
       |  FROM pref0),
       |e AS (
       |  SELECT dt AS end_dt, p - minp_before AS best, minp_before AS mp
       |  FROM pref ORDER BY p - minp_before DESC, dt LIMIT 1),
       |sc AS (
       |  SELECT e.end_dt, min(pref.dt) + INTERVAL 1 DAY AS start_cand
       |  FROM pref JOIN e ON pref.dt < e.end_dt AND pref.p = e.mp
       |  GROUP BY e.end_dt),
       |b AS (
       |  SELECT CAST(coalesce(sc.start_cand, (SELECT min(dt) FROM daily)) AS DATE) AS start_dt,
       |         e.end_dt
       |  FROM e LEFT JOIN sc ON e.end_dt = sc.end_dt),
       |w AS (
       |  SELECT b.start_dt, b.end_dt, count(*) AS len_days,
       |         CAST(sum(CAST(y AS HUGEINT)) AS BIGINT) AS win_cents
       |  FROM daily CROSS JOIN b WHERE dt >= b.start_dt AND dt <= b.end_dt
       |  GROUP BY b.start_dt, b.end_dt)
       |SELECT start_dt, end_dt, len_days,
       |       CAST(win_cents AS DOUBLE) / 100 AS window_revenue,
       |       ${ratioFloorSql("(CAST(win_cents AS HUGEINT) * nd)", "(CAST(st AS HUGEINT) * len_days)", 6)} AS uplift_ratio
       |FROM w CROSS JOIN tot""".stripMargin

  /** dq-interarrival-burstiness — per-user traffic burstiness
    * B = (σ−μ)/(σ+μ) over inter-arrival gaps, the standard
    * Goh–Barabási measure: B→−1 metronome, 0 Poisson, →1 bursty.
    * Gaps are integer MICROSECONDS from the lag window (per-user
    * partitions — high-cardinality key, scales out); moments Σg and Σg²
    * stay exact in Decimal(38) (μs² ≈ 1e25 fits), and the algebra
    * collapses to B = (√A − Σg)/(√A + Σg) with A = n·Σg² − (Σg)² —
    * one sqrt and one divide per USER, never a float accumulation.
    * Top-20 burstiest users with ≥20 gaps, user_id tiebreak. */
  val dqInterarrivalBurstiness: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gaps = events(s, d)
      .withColumn("prev", lag("ts", 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("user_id"),
        (unix_micros(col("ts")) - unix_micros(col("prev"))).as("g"))
    val stats = gaps.groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(col("g").cast(DecimalType(38, 0))).as("sg"),
        sum((col("g").cast(DecimalType(38, 0)) * col("g"))).as("sg2"))
      .filter(col("n") >= 20)
    val a = (col("n").cast(DecimalType(38, 0)) * col("sg2") - col("sg") * col("sg"))
      .cast(DoubleType)
    stats.select(col("user_id"), col("n"),
      round((sqrt(a) - col("sg").cast(DoubleType)) /
        (sqrt(a) + col("sg").cast(DoubleType)), 6).as("burstiness"))
      .orderBy(col("burstiness").desc, col("user_id").asc)
      .limit(20)
  }

  val dqInterarrivalBurstinessSql: String =
    """WITH gaps AS (
      |  SELECT user_id,
      |         epoch_us(date_trunc('microseconds', ts)) - epoch_us(lag(date_trunc('microseconds', ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS g
      |  FROM events),
      |st AS (
      |  SELECT user_id, count(*) AS n,
      |         sum(CAST(g AS HUGEINT)) AS sg,
      |         sum(CAST(g AS HUGEINT) * g) AS sg2
      |  FROM gaps WHERE g IS NOT NULL GROUP BY user_id HAVING count(*) >= 20)
      |SELECT user_id, n,
      |       round((sqrt(CAST(n * sg2 - sg * sg AS DOUBLE)) - CAST(sg AS DOUBLE)) /
      |             (sqrt(CAST(n * sg2 - sg * sg AS DOUBLE)) + CAST(sg AS DOUBLE)), 6) AS burstiness
      |FROM st
      |ORDER BY burstiness DESC, user_id
      |LIMIT 20""".stripMargin

  /** Shared Luhn-sum SQL fragment over an 11-digit zero-padded payload
    * column named `pay` — positions counted from the RIGHT, odd
    * positions doubled (with 2d>9 → 2d−9). The SAME text runs in
    * Spark expr() and DuckDB (substring/CAST/CASE only — no
    * dialect-divergent function), which is the whole determinism
    * argument: one formula, two engines, zero drift. */
  private val LuhnSum: String = (1 to 11).map { i =>
    val pos = 12 - i // substring index of the i-th digit from the right
    val dig = s"CAST(substring(pay, $pos, 1) AS INT)"
    if (i % 2 == 1) s"(CASE WHEN $dig * 2 > 9 THEN $dig * 2 - 9 ELSE $dig * 2 END)"
    else dig
  }.mkString(" + ")

  /** func-luhn-checksum — Luhn mod-10 check digits computed for every
    * order key (zero-padded to 11 digits, the card/IMEI/SIRET
    * discipline): per-digit distribution + a weighted spot total.
    * Pure digit arithmetic shared TEXTUALLY between both engines (see
    * [[LuhnSum]]); the distribution over a healthy key population is
    * near-uniform, and a skewed digit histogram is the classic tell
    * of truncated/corrupted identifier columns. One narrow
    * projection + one 10-group aggregate — embarrassingly parallel. */
  val funcLuhnChecksum: Q = (s, d) => {
    val base = orders(s, d)
      .select(lpad(col("o_orderkey").cast(StringType), 11, "0").as("pay"),
        col("o_orderkey"))
      .withColumn("check_digit", expr(s"CAST((10 - ($LuhnSum) % 10) % 10 AS INT)"))
    base.groupBy("check_digit")
      .agg(count(lit(1)).as("n_keys"),
        min("o_orderkey").as("first_key"),
        max("o_orderkey").as("last_key"))
      .orderBy("check_digit")
  }

  val funcLuhnChecksumSql: String =
    s"""WITH base AS (
       |  SELECT lpad(CAST(o_orderkey AS VARCHAR), 11, '0') AS pay, o_orderkey
       |  FROM orders),
       |luhn AS (
       |  SELECT o_orderkey, CAST((10 - ($LuhnSum) % 10) % 10 AS INT) AS check_digit
       |  FROM base)
       |SELECT check_digit, count(*) AS n_keys,
       |       min(o_orderkey) AS first_key, max(o_orderkey) AS last_key
       |FROM luhn GROUP BY check_digit ORDER BY check_digit""".stripMargin

  /** sink-mor-read — MERGE-ON-READ table semantics: the base snapshot
    * stays immutable while changes land as a small DELTA file (keyed
    * deletes + upserts), and the READ path reconciles — base
    * anti-joined against delta keys, unioned with the delta's upsert
    * rows. Copy-on-write would rewrite all n_base rows for the same
    * change; MOR writes n_delta and moves the join cost to readers —
    * the graded row accounts both (rows_written_mor vs
    * rows_rewritten_cow) and proves the reconciled content via count
    * + order-independent md5-nibble checksum. Exactly the
    * Iceberg/Delta MOR trade, reproduced from first principles; at
    * 100 TB the delta side stays broadcastable until compaction
    * (sink-compaction) folds it in. */
  val sinkMorRead: Q = (s, d) => {
    import org.apache.commons.io.FileUtils
    val dir = tmp("sink-mor-read", d)
    FileUtils.deleteQuietly(new java.io.File(dir))
    val base = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
      floor(col("o_totalprice") * 100).cast(LongType).as("cents"))
    base.write.parquet(s"$dir/base")
    // deterministic change set: every 37th key deleted, every 29th
    // (not also deleted) upserted with bumped price + status 'U'
    val deltaDel = base.filter(col("o_orderkey") % 37 === 0)
      .select(col("o_orderkey"), lit("D").as("op"),
        lit(null).cast(StringType).as("o_orderstatus"),
        lit(null).cast(LongType).as("cents"))
    val deltaUp = base.filter(col("o_orderkey") % 29 === 0 && col("o_orderkey") % 37 =!= 0)
      .select(col("o_orderkey"), lit("U").as("op"), lit("U").as("o_orderstatus"),
        (col("cents") + 1000).as("cents"))
    deltaDel.union(deltaUp).coalesce(1).write.parquet(s"$dir/delta")
    val baseR = s.read.parquet(s"$dir/base")
    val deltaR = s.read.parquet(s"$dir/delta").sharedCache()
    val reconciled = baseR
      .join(deltaR.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
      .unionByName(deltaR.filter(col("op") === "U")
        .select("o_orderkey", "o_orderstatus", "cents"))
    val ck = sum(expr(
      "(instr('0123456789abcdef', substring(md5(concat(CAST(o_orderkey AS STRING), '|', o_orderstatus, '|', CAST(cents AS STRING))), 1, 1)) - 1)"))
    reconciled.agg(count(lit(1)).as("n_reconciled"), ck.as("checksum"))
      .crossJoin(broadcast(baseR.agg(count(lit(1)).as("rows_rewritten_cow"))))
      .crossJoin(broadcast(deltaR.agg(count(lit(1)).as("rows_written_mor"),
        sum(when(col("op") === "D", 1L).otherwise(0L)).as("n_deletes"),
        sum(when(col("op") === "U", 1L).otherwise(0L)).as("n_upserts"))))
      .select(col("n_reconciled"), col("checksum"), col("rows_rewritten_cow"),
        col("rows_written_mor"), col("n_deletes"), col("n_upserts"))
  }

  val sinkMorReadSql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus,
      |         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |rec AS (
      |  SELECT o_orderkey, o_orderstatus, cents FROM base
      |  WHERE o_orderkey % 37 <> 0 AND o_orderkey % 29 <> 0
      |  UNION ALL
      |  SELECT o_orderkey, 'U' AS o_orderstatus, cents + 1000 AS cents
      |  FROM base WHERE o_orderkey % 29 = 0 AND o_orderkey % 37 <> 0)
      |SELECT (SELECT count(*) FROM rec) AS n_reconciled,
      |       (SELECT CAST(sum(strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus || '|' || CAST(cents AS VARCHAR)), 1, 1)) - 1) AS BIGINT) FROM rec) AS checksum,
      |       (SELECT count(*) FROM base) AS rows_rewritten_cow,
      |       (SELECT count(*) FROM base WHERE o_orderkey % 37 = 0 OR o_orderkey % 29 = 0) AS rows_written_mor,
      |       (SELECT count(*) FROM base WHERE o_orderkey % 37 = 0) AS n_deletes,
      |       (SELECT count(*) FROM base WHERE o_orderkey % 29 = 0 AND o_orderkey % 37 <> 0) AS n_upserts""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("win-max-subarray", winMaxSubarray, winMaxSubarraySql),
    Key("dq-interarrival-burstiness", dqInterarrivalBurstiness, dqInterarrivalBurstinessSql),
    Key("func-luhn-checksum", funcLuhnChecksum, funcLuhnChecksumSql),
    Key("sink-mor-read", sinkMorRead, sinkMorReadSql))
}
