package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-10 batch G: gap-limited LOCF imputation, GFS-style snapshot
  * retention tiers, multi-character CSV delimiters, Hill tail-index
  * estimation. */
object RelMore89 extends KeyModule {

  /** win-locf-gap-limit — last-observation-carried-forward with a
    * BOUNDED carry: a sensor value may only fill forward across ≤2
    * subsequent gaps, after which the series is honestly null (the
    * IoT/metrics rule — indefinite carry, win-locf-backfill's
    * semantics, turns a dead sensor into a forever-flat healthy one).
    * The bound turns the unbounded-preceding frame into a ROWS [-2,0]
    * frame — cheaper, not costlier: bounded frames stream in O(1)
    * memory per partition. Graded against the unlimited variant:
    * filled/unfilled accounting per user cohort shows exactly what the
    * gap limit refuses to invent. Same induced-null scheme
    * (event_id%5) and unique-key ordering as the LOCF op. */
  val winLocfGapLimit: Q = (s, d) => {
    val base = events(s, d)
      .filter(col("user_id") % 25 === 0)
      .select(col("user_id"), col("event_id"),
        when(col("event_id") % 5 === 0, lit(null)).otherwise(col("value")).as("v"))
    val wAll = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLim = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(-2, Window.currentRow)
    val filled = base.select(col("user_id"), col("v"),
      last("v", ignoreNulls = true).over(wAll).as("v_locf"),
      last("v", ignoreNulls = true).over(wLim).as("v_lim"))
    filled.groupBy("user_id")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_missing"),
        sum(when(col("v").isNull && col("v_locf").isNotNull, 1L).otherwise(0L))
          .as("filled_unlimited"),
        sum(when(col("v").isNull && col("v_lim").isNotNull, 1L).otherwise(0L))
          .as("filled_capped"))
      .withColumn("refused", col("filled_unlimited") - col("filled_capped"))
      .orderBy("user_id")
  }

  val winLocfGapLimitSql: String =
    """WITH base AS (
      |  SELECT user_id, event_id,
      |         CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
      |  FROM events WHERE user_id % 25 = 0),
      |filled AS (
      |  SELECT user_id, v,
      |         last_value(v IGNORE NULLS) OVER
      |           (PARTITION BY user_id ORDER BY event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_locf,
      |         last_value(v IGNORE NULLS) OVER
      |           (PARTITION BY user_id ORDER BY event_id
      |            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS v_lim
      |  FROM base)
      |SELECT user_id, count(*) AS n_rows,
      |       CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
      |       CAST(sum(CASE WHEN v IS NULL AND v_locf IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS filled_unlimited,
      |       CAST(sum(CASE WHEN v IS NULL AND v_lim IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS filled_capped,
      |       CAST(sum(CASE WHEN v IS NULL AND v_locf IS NOT NULL THEN 1 ELSE 0 END) -
      |            sum(CASE WHEN v IS NULL AND v_lim IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS refused
      |FROM filled GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** sink-retention-tiers — GFS (grandfather-father-son) snapshot
    * retention, the policy every table-format VACUUM really wants:
    * treating each distinct order date as a daily snapshot, keep ALL
    * within 7 days of the head, the last-of-WEEK within 28 days, the
    * last-of-MONTH within 365, expire the rest. Pure date algebra —
    * two small per-week/per-month max aggregates broadcast back, no
    * snapshot content ever read — which is exactly why real systems
    * do retention planning on the metadata table, not the data. The
    * graded report is the per-tier account: how many snapshots each
    * tier keeps and their date span (tier order daily < weekly <
    * monthly < expired). */
  val sinkRetentionTiers: Q = (s, d) => {
    val snaps = orders(s, d).select(to_date(col("o_orderdate")).as("dt")).distinct()
      .sharedCache()
    val head = snaps.agg(max("dt").as("h"))
    val weekMax = snaps.groupBy(date_trunc("week", col("dt")).as("wk"))
      .agg(max("dt").as("wmax"))
    val monthMax = snaps.groupBy(date_trunc("month", col("dt")).as("mo"))
      .agg(max("dt").as("mmax"))
    val tiered = snaps.crossJoin(broadcast(head))
      .join(broadcast(weekMax), date_trunc("week", col("dt")) === col("wk"))
      .join(broadcast(monthMax), date_trunc("month", col("dt")) === col("mo"))
      .select(col("dt"),
        when(datediff(col("h"), col("dt")) < 7, "1-daily")
          .when(col("dt") === col("wmax") && datediff(col("h"), col("dt")) < 28, "2-weekly")
          .when(col("dt") === col("mmax") && datediff(col("h"), col("dt")) < 365, "3-monthly")
          .otherwise("4-expired").as("tier"))
    tiered.groupBy("tier")
      .agg(count(lit(1)).as("n_snapshots"), min("dt").as("oldest"), max("dt").as("newest"))
      .orderBy("tier")
  }

  val sinkRetentionTiersSql: String =
    """WITH snaps AS (
      |  SELECT DISTINCT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt FROM orders),
      |head AS (SELECT max(dt) AS h FROM snaps),
      |wk AS (SELECT date_trunc('week', dt) AS wk, max(dt) AS wmax FROM snaps GROUP BY 1),
      |mo AS (SELECT date_trunc('month', dt) AS mo, max(dt) AS mmax FROM snaps GROUP BY 1),
      |tiered AS (
      |  SELECT dt,
      |         CASE WHEN datediff('day', dt, h) < 7 THEN '1-daily'
      |              WHEN dt = wmax AND datediff('day', dt, h) < 28 THEN '2-weekly'
      |              WHEN dt = mmax AND datediff('day', dt, h) < 365 THEN '3-monthly'
      |              ELSE '4-expired' END AS tier
      |  FROM snaps CROSS JOIN head
      |  JOIN wk ON date_trunc('week', snaps.dt) = wk.wk
      |  JOIN mo ON date_trunc('month', snaps.dt) = mo.mo)
      |SELECT tier, count(*) AS n_snapshots, min(dt) AS oldest, max(dt) AS newest
      |FROM tiered GROUP BY tier ORDER BY tier""".stripMargin

  /** src-csv-multichar-delim — multi-character field delimiters
    * ('||' here), the format legacy mainframe/EDI exports actually
    * arrive in (single-char delimiters collide with free text, so
    * ops teams double them). Spark's CSV reader takes multi-char
    * `sep` natively since 3.0 — no preprocessing pass, unlike the
    * sed-style fixups src-preclean-newlines needs. Staged to 8 files
    * (file count = read parallelism for text), explicit schema (no
    * inference scan), decimals as fixed-scale strings. Round-trip
    * proven by the per-priority order-value aggregate. */
  val srcCsvMulticharDelim: Q = (s, d) => {
    val dir = tmp("src-csv-multichar-delim", d)
    // stage as raw text lines (the real-world direction: the weirdly
    // delimited file ARRIVES from elsewhere; Spark's csv READER takes
    // multi-char sep natively, the writer need not)
    orders(s, d)
      .select(concat_ws("||", col("o_orderkey"), col("o_orderpriority"),
        dec2(col("o_totalprice")).cast(StringType)).as("value"))
      .repartition(8)
      .write.mode("overwrite").text(dir)
    val back = s.read
      .schema("o_orderkey BIGINT, o_orderpriority STRING, price DECIMAL(18,2)")
      .option("sep", "||").csv(dir)
    back.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), outNum(sum(col("price"))).as("sum_price"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
      .orderBy("o_orderpriority")
  }

  val srcCsvMulticharDelimSql: String =
    """SELECT o_orderpriority, count(*) AS n,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  private val HillK = 101

  /** agg-hill-tail-index — the Hill estimator for the power-law tail
    * exponent of order values: α̂ = [(1/(k−1))·Σ ln(x_(i)/x_(k))]⁻¹
    * over the top k−1 order statistics. α ≲ 2 means infinite
    * variance — plain means/σ-based alerts are lying — and the
    * estimator needs only the top-k rows (k = 101 designed
    * constant): a top-k aggregate at any scale, never a full sort.
    * Each log term is floor-quantized to 1e-6 BEFORE the sum (the
    * quantized sum is exact; a 1-ulp cross-engine log() divergence
    * flips a floor with probability ~1e-10 per term — the only
    * sub-deterministic surface, documented). */
  val aggHillTailIndex: Q = (s, d) => {
    val top = orders(s, d)
      .select(floor(col("o_totalprice") * 100).cast(LongType).as("cents"),
        col("o_orderkey"))
      .orderBy(col("cents").desc, col("o_orderkey").asc)
      .limit(HillK)
      .sharedCache()
    // single-stage cache fill: xk's broadcast job and the main terms
    // job otherwise race to first-materialize the same blocks
    // ("Block rdd_N already exists" — see RelMore42)
    top.count()
    val xk = top.agg(min("cents").as("xk"))
    // top k−1 by the same total order — drops exactly the k-th row;
    // ties at x_k inside the kept set contribute ln(1) = 0, the
    // standard Hill treatment
    val terms = top.orderBy(col("cents").desc, col("o_orderkey").asc)
      .limit(HillK - 1)
      .crossJoin(broadcast(xk))
      .select(floor(log(col("cents").cast(DoubleType) / col("xk")) * 1e6)
        .cast(LongType).as("lnq"))
    terms.agg(count(lit(1)).as("k_used"), sum("lnq").as("slnq"))
      .crossJoin(broadcast(xk))
      .select(col("k_used"), (col("xk").cast(DoubleType) / 100).as("x_k"),
        ratioFloor(col("slnq"), col("k_used") * lit(1000000L), 6).as("mean_ln_excess"),
        ratioFloor(col("k_used") * lit(1000000L), col("slnq"), 4).as("hill_alpha"))
  }

  val aggHillTailIndexSql: String =
    s"""WITH top AS (
       |  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
       |  FROM orders ORDER BY cents DESC, o_orderkey LIMIT $HillK),
       |xk AS (SELECT min(cents) AS xk FROM top),
       |terms AS (
       |  SELECT CAST(floor(ln(CAST(cents AS DOUBLE) / xk) * 1e6) AS BIGINT) AS lnq
       |  FROM top CROSS JOIN xk
       |  ORDER BY cents DESC, o_orderkey LIMIT ${HillK - 1})
       |SELECT count(*) AS k_used,
       |       (SELECT CAST(xk AS DOUBLE) / 100 FROM xk) AS x_k,
       |       ${ratioFloorSql("sum(lnq)", "(count(*) * 1000000)", 6)} AS mean_ln_excess,
       |       ${ratioFloorSql("(count(*) * 1000000)", "sum(lnq)", 4)} AS hill_alpha
       |FROM terms""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("win-locf-gap-limit", winLocfGapLimit, winLocfGapLimitSql),
    Key("sink-retention-tiers", sinkRetentionTiers, sinkRetentionTiersSql),
    Key("src-csv-multichar-delim", srcCsvMulticharDelim, srcCsvMulticharDelimSql),
    Key("agg-hill-tail-index", aggHillTailIndex, aggHillTailIndexSql))
}
