package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-9 batch A: leakage-safe group split, multi-feature
  * point-in-time join, inter-rater agreement, filter threshold sweep. */
object RelMore63 extends KeyModule {

  /** sample-group-split — leakage-safe train/val/test split: the split
    * is assigned to the GROUP (documents.source), not the document, so
    * near-duplicate documents from one crawl/domain can never straddle
    * the train/eval boundary — the contamination mode a per-doc hash
    * split (text-hash-split) cannot prevent. Same md5-bucket assignment
    * rule as text-hash-split (205/25/26 of 256 ≈ 80/10/10), applied to
    * the source key. The graded output carries `leak_sources` (sources
    * appearing in >1 split) which is 0 BY CONSTRUCTION — pinning the
    * invariant the op exists to provide. One hash per row + one
    * groupBy; the purity audit aggregates over |sources| rows, not
    * |docs| — both linear, no skew (split cardinality is 3). */
  val sampleGroupSplit: Q = (s, d) => {
    val docs = documents(s, d).select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast(LongType).as("tok"))
    val bucketed = docs.withColumn("bucket",
      expr("(instr('0123456789abcdef', substring(md5(concat('gs#', source)), 1, 1)) - 1) * 16 + " +
        "(instr('0123456789abcdef', substring(md5(concat('gs#', source)), 2, 1)) - 1)"))
      .withColumn("split",
        when(col("bucket") < 205, "train")
          .when(col("bucket") < 230, "val").otherwise("test"))
    val purity = bucketed.groupBy("source")
      .agg(countDistinct("split").as("ns"))
      .agg(sum(when(col("ns") > 1, 1L).otherwise(0L)).as("leak_sources"))
    bucketed.groupBy("split")
      .agg(countDistinct("source").as("n_sources"),
        count(lit(1)).as("n_docs"),
        sum("tok").as("n_tokens"))
      .crossJoin(broadcast(purity))
      .orderBy("split")
  }

  val sampleGroupSplitSql: String =
    """WITH b AS (
      |  SELECT doc_id, source,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
      |         (strpos('0123456789abcdef', substring(md5('gs#' || source), 1, 1)) - 1) * 16 +
      |         (strpos('0123456789abcdef', substring(md5('gs#' || source), 2, 1)) - 1) AS bucket
      |  FROM documents),
      |sp AS (
      |  SELECT *, CASE WHEN bucket < 205 THEN 'train'
      |                 WHEN bucket < 230 THEN 'val' ELSE 'test' END AS split
      |  FROM b),
      |purity AS (
      |  SELECT CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT) AS leak_sources
      |  FROM (SELECT source, count(DISTINCT split) AS ns FROM sp GROUP BY source))
      |SELECT split, count(DISTINCT source) AS n_sources,
      |       count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS n_tokens,
      |       purity.leak_sources
      |FROM sp, purity
      |GROUP BY split, purity.leak_sources
      |ORDER BY split""".stripMargin

  /** join-pit-multifeature — the feature-store point-in-time join: a
    * purchase spine enriched with features at three different grains in
    * ONE pass — (1) the last prior `view` value for the user (as-of,
    * event grain), (2) the count of prior `error` events (expanding
    * window, event grain), (3) the customer's static account balance
    * (dimension grain, broadcast). Features 1+2 use the union-marker
    * as-of: spine and feature events share one window partitioned by
    * user and ordered by (ts, event_id), so there is NO range join and
    * NO per-feature shuffle — one sort per user partition serves every
    * event-time feature, the shape that holds when the feature tables
    * are 100× the spine. "Prior" = strictly earlier in (ts, event_id)
    * order — the tie-break is part of the contract, mirrored in the
    * oracle. */
  val joinPitMultifeature: Q = (s, d) => {
    val ev = events(s, d)
      .filter(col("event_type").isin("view", "purchase", "error"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val feat = ev
      .withColumn("prior_view_value",
        last(when(col("event_type") === "view", col("value")), ignoreNulls = true).over(w))
      .withColumn("prior_errors",
        coalesce(sum(when(col("event_type") === "error", 1L).otherwise(0L)).over(w), lit(0L)))
    val cust = customer(s, d).select(col("c_custkey"), col("c_acctbal").as("acctbal"))
    feat.filter(col("event_type") === "purchase")
      .join(broadcast(cust), col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("prior_view_value"),
        col("prior_errors"), col("acctbal"))
      .orderBy("event_id")
  }

  val joinPitMultifeatureSql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, ts, event_type, value
      |  FROM events WHERE event_type IN ('view', 'purchase', 'error')),
      |w AS (
      |  SELECT *,
      |         last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_view_value,
      |         CAST(coalesce(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prior_errors
      |  FROM ev)
      |SELECT w.event_id, w.user_id, w.prior_view_value, w.prior_errors,
      |       c.c_acctbal AS acctbal
      |FROM w JOIN customer c ON c.c_custkey = w.user_id
      |WHERE w.event_type = 'purchase'
      |ORDER BY w.event_id""".stripMargin

  /** dq-cohens-kappa — inter-rater agreement between two deterministic
    * labeling heuristics on the corpus (rater 1: n_chars ≥ 300; rater
    * 2: whitespace tokens ≥ 56 — both near the median, correlated but
    * not identical), the audit run before trusting any rule-based
    * quality label: raw agreement po overstates consistency when the
    * label marginals are skewed, kappa subtracts the chance floor.
    * Computed EXACTLY from the 2×2 contingency counts — kappa =
    * (N·(a+d) − pe_num) / (N² − pe_num) with pe_num =
    * (a+b)(a+c) + (c+d)(b+d) all integer arithmetic, one quantizing
    * floor at the output. One aggregate over the corpus; the
    * contingency table is 4 numbers regardless of scale. */
  val dqCohensKappa: Q = (s, d) => {
    val rated = documents(s, d).select(
      (col("n_chars") >= 300).cast(LongType).as("r1"),
      (size(split(col("text"), " ")) >= 56).cast(LongType).as("r2"))
    rated.agg(
      sum(when(col("r1") === 1 && col("r2") === 1, 1L).otherwise(0L)).as("a"),
      sum(when(col("r1") === 1 && col("r2") === 0, 1L).otherwise(0L)).as("b"),
      sum(when(col("r1") === 0 && col("r2") === 1, 1L).otherwise(0L)).as("c"),
      sum(when(col("r1") === 0 && col("r2") === 0, 1L).otherwise(0L)).as("d"))
      .withColumn("n", col("a") + col("b") + col("c") + col("d"))
      .withColumn("pe_num",
        (col("a") + col("b")) * (col("a") + col("c")) +
          (col("c") + col("d")) * (col("b") + col("d")))
      .select(col("a"), col("b"), col("c"), col("d"),
        ratioFloor(col("a") + col("d"), col("n"), 6).as("po"),
        ratioFloor(col("pe_num"), col("n") * col("n"), 6).as("pe"),
        ratioFloor(col("n") * (col("a") + col("d")) - col("pe_num"),
          col("n") * col("n") - col("pe_num"), 6).as("kappa"))
  }

  val dqCohensKappaSql: String =
    s"""WITH r AS (
       |  SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS r1,
       |         CASE WHEN len(string_split(text, ' ')) >= 56 THEN 1 ELSE 0 END AS r2
       |  FROM documents),
       |t AS (
       |  SELECT CAST(sum(CASE WHEN r1 = 1 AND r2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
       |         CAST(sum(CASE WHEN r1 = 1 AND r2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
       |         CAST(sum(CASE WHEN r1 = 0 AND r2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
       |         CAST(sum(CASE WHEN r1 = 0 AND r2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
       |  FROM r),
       |e AS (
       |  SELECT *, a + b + c + d AS n,
       |         (a + b) * (a + c) + (c + d) * (b + d) AS pe_num
       |  FROM t)
       |SELECT a, b, c, d,
       |       ${ratioFloorSql("a + d", "n", 6)} AS po,
       |       ${ratioFloorSql("pe_num", "(n * n)", 6)} AS pe,
       |       ${ratioFloorSql("n * (a + d) - pe_num", "(n * n - pe_num)", 6)} AS kappa
       |FROM e""".stripMargin

  private val SweepThresholds = Seq(0, 16, 32, 48, 64, 96)

  /** text-filter-sweep — the retention curve behind every min-length
    * quality filter: for a grid of token thresholds, how many documents
    * and how many tokens survive. Computed in ONE corpus pass — each
    * threshold is a conditional aggregate column, then the wide row
    * pivots to the curve via stack() — instead of the naive
    * thresholds×corpus re-scan (a 6× read here, a 6×100 TB read at
    * scale). Fractions are exact-integer ratios floored at 6 dp. */
  val textFilterSweep: Q = (s, d) => {
    val docs = documents(s, d)
      .select(size(split(col("text"), " ")).cast(LongType).as("tok"))
    val aggs = SweepThresholds.flatMap { t =>
      Seq(sum(when(col("tok") >= t, 1L).otherwise(0L)).as(s"nd_$t"),
        sum(when(col("tok") >= t, col("tok")).otherwise(0L)).as(s"nt_$t"))
    } ++ Seq(count(lit(1)).as("all_docs"), sum(col("tok")).as("all_tokens"))
    val wide = docs.agg(aggs.head, aggs.tail: _*)
    val stackExpr = SweepThresholds
      .map(t => s"$t, nd_$t, nt_$t").mkString(", ")
    wide.select(expr(
      s"stack(${SweepThresholds.size}, $stackExpr) AS (min_tokens, docs_retained, tokens_retained)"),
      col("all_docs"), col("all_tokens"))
      .select(col("min_tokens").cast(IntegerType).as("min_tokens"),
        col("docs_retained"), col("tokens_retained"),
        ratioFloor(col("docs_retained"), col("all_docs"), 6).as("frac_docs"),
        ratioFloor(col("tokens_retained"), col("all_tokens"), 6).as("frac_tokens"))
      .orderBy("min_tokens")
  }

  val textFilterSweepSql: String = {
    val branches = SweepThresholds.map { t =>
      s"""SELECT $t AS min_tokens,
         |       CAST(sum(CASE WHEN tok >= $t THEN 1 ELSE 0 END) AS BIGINT) AS docs_retained,
         |       CAST(sum(CASE WHEN tok >= $t THEN tok ELSE 0 END) AS BIGINT) AS tokens_retained
         |FROM d""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH d AS (
       |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS tok FROM documents),
       |tot AS (SELECT count(*) AS all_docs, CAST(sum(tok) AS BIGINT) AS all_tokens FROM d),
       |curve AS (
       |$branches)
       |SELECT CAST(min_tokens AS INT) AS min_tokens, docs_retained, tokens_retained,
       |       ${ratioFloorSql("docs_retained", "all_docs", 6)} AS frac_docs,
       |       ${ratioFloorSql("tokens_retained", "all_tokens", 6)} AS frac_tokens
       |FROM curve, tot
       |ORDER BY min_tokens""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    Key("sample-group-split", sampleGroupSplit, sampleGroupSplitSql),
    Key("join-pit-multifeature", joinPitMultifeature, joinPitMultifeatureSql),
    Key("dq-cohens-kappa", dqCohensKappa, dqCohensKappaSql),
    Key("text-filter-sweep", textFilterSweep, textFilterSweepSql))
}
