package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-9 batch Q: exact AUC-ROC, expected calibration error,
  * Hodges–Lehmann location, video scene-cut detection. */
object RelMore79 extends KeyModule {

  /** agg-auc-exact — EXACT AUC-ROC of the event value as a purchase
    * classifier, including the tie term: AUC = [Σ_v pos(v)·(2·negs
    * below v + negs at v)] / (2·n₁·n₀) — the rank-sum identity
    * computed over a VALUE CENSUS, not a global sort of rows: scores
    * quantize to cents (≤ ~49k distinct — value-domain-bounded), the
    * census is one map-side-combined groupBy, and the cumulative negs
    * is a window over census rows only. Numerator is an exact
    * DECIMAL(38,0) (HUGEINT oracle); ONE division at the output. The
    * ×2 trick keeps the ½-per-tie exact in integers — approximation-
    * free AUC at any corpus size, where the textbook sort-all-scores
    * approach dies on the global sort. */
  val aggAucExact: Q = (s, d) => {
    val census = events(s, d)
      .select(floor(col("value") * 100).cast(LongType).as("cv"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      .groupBy("cv")
      .agg(sum("pos").as("np"), sum(lit(1L) - col("pos")).as("nn"))
    // r13 PrefixScan port: the exclusive negatives-below prefix over the
    // score domain via range exchange (inclusive cum minus own count)
    // instead of an unpartitioned window — the domain is value-bounded
    // but the scan shape also survives an unbounded score domain
    val scanned = graft.functions.PrefixScan.withRankCumSum(
      census, Seq(col("cv")), Some("nn"), rankName = "rn", cumName = "cum_nn")
    val u2 = scanned.df
      .withColumn("negs_below", col("cum_nn") - col("nn"))
      .select(
        sum(col("np").cast(DecimalType(38, 0))).as("n1"),
        sum(col("nn").cast(DecimalType(38, 0))).as("n0"),
        sum((col("np") * (lit(2) * col("negs_below") + col("nn"))).cast(DecimalType(38, 0)))
          .as("u2"))
    u2.selectExpr("CAST(n1 AS BIGINT) AS n_pos", "CAST(n0 AS BIGINT) AS n_neg",
      "round(CAST(u2 AS DOUBLE) / (2 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)), 6) AS auc")
  }

  val aggAucExactSql: String =
    """WITH census AS (
      |  SELECT CAST(floor(value * 100) AS BIGINT) AS cv,
      |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS np,
      |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) AS BIGINT) AS nn
      |  FROM events GROUP BY 1),
      |cum AS (
      |  SELECT np, nn,
      |         coalesce(sum(nn) OVER (ORDER BY cv ROWS BETWEEN UNBOUNDED PRECEDING
      |                                AND 1 PRECEDING), 0) AS negs_below
      |  FROM census),
      |m AS (
      |  SELECT CAST(sum(np) AS HUGEINT) AS n1, CAST(sum(nn) AS HUGEINT) AS n0,
      |         sum(CAST(np AS HUGEINT) * (2 * negs_below + nn)) AS u2
      |  FROM cum)
      |SELECT CAST(n1 AS BIGINT) AS n_pos, CAST(n0 AS BIGINT) AS n_neg,
      |       round(CAST(u2 AS DOUBLE) / (2 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)), 6) AS auc
      |FROM m""".stripMargin

  /** agg-calibration-ece — expected calibration error of a PINNED
    * engagement model (p̂ = min(score div 5, 8)·10% + 10% for the
    * high-value-purchase outcome, frozen like a
    * deployed scorecard — ECE evaluates a given model, it never
    * refits): per confidence bucket, |observed rate − claimed
    * confidence| weighted by bucket mass. Everything is integer ppm —
    * acc ppm-floored per bucket, conf exact by construction, the final
    * weighted sum one exact Σ n_b·|acc−conf| div n — so the ECE is
    * bit-identical at any scale, and the per-bucket rows expose WHERE
    * the model is over/under-confident (the reliability diagram in
    * table form). Two map-side aggregates, shuffle = |users| then
    * |buckets|. */
  val aggCalibrationEce: Q = (s, d) => {
    val perUser = events(s, d).groupBy("user_id")
      .agg(sum(when(col("event_type").isin("click", "view"), 1L).otherwise(0L)).as("score"),
        max(when(col("event_type") === "purchase" && col("value") >= 100, 1L)
          .otherwise(0L)).as("converted"))
      .withColumn("conf_ppm",
        least(expr("score div 5"), lit(8L)) * 100000L + 100000L)
    val buckets = perUser.groupBy("conf_ppm")
      .agg(count(lit(1)).as("n_users"), sum("converted").as("n_conv"))
      .withColumn("acc_ppm", expr("n_conv * 1000000 div n_users"))
      .withColumn("gap_ppm", abs(col("acc_ppm") - col("conf_ppm")))
      .sharedCache()
    val ece = buckets.agg(
      sum("n_users").as("n_total"),
      expr("sum(n_users * gap_ppm) div sum(n_users)").as("ece_ppm"))
    buckets.crossJoin(broadcast(ece))
      .select(col("conf_ppm"), col("n_users"), col("n_conv"),
        col("acc_ppm"), col("gap_ppm"), col("n_total"), col("ece_ppm"))
      .orderBy("conf_ppm")
  }

  val aggCalibrationEceSql: String =
    """WITH pu AS (
      |  SELECT user_id,
      |         CAST(sum(CASE WHEN event_type IN ('click', 'view') THEN 1 ELSE 0 END) AS BIGINT) AS score,
      |         CAST(max(CASE WHEN event_type = 'purchase' AND value >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS converted
      |  FROM events GROUP BY user_id),
      |b AS (
      |  SELECT least(score // 5, 8) * 100000 + 100000 AS conf_ppm,
      |         count(*) AS n_users, CAST(sum(converted) AS BIGINT) AS n_conv
      |  FROM pu GROUP BY 1),
      |g AS (
      |  SELECT conf_ppm, n_users, n_conv,
      |         n_conv * 1000000 // n_users AS acc_ppm,
      |         abs(n_conv * 1000000 // n_users - conf_ppm) AS gap_ppm
      |  FROM b),
      |e AS (
      |  SELECT CAST(sum(n_users) AS BIGINT) AS n_total,
      |         CAST(sum(n_users * gap_ppm) // sum(n_users) AS BIGINT) AS ece_ppm
      |  FROM g)
      |SELECT conf_ppm, n_users, n_conv, acc_ppm, gap_ppm, n_total, ece_ppm
      |FROM g CROSS JOIN e
      |ORDER BY conf_ppm""".stripMargin

  /** agg-hodges-lehmann — the Hodges–Lehmann location estimator over
    * the daily event-count series: the median of all Walsh averages
    * (y_i+y_j)/2 for i ≤ j, the estimator behind the Wilcoxon
    * signed-rank test — ~95% efficient at the normal yet robust to a
    * third of the days being garbage, where the plain mean isn't.
    * Walsh sums stay DOUBLED integers (no half anywhere until the
    * output /2); the pair set is date-domain-bounded (k(k+1)/2 from k
    * days — constant row count, the Theil–Sen discipline), and the
    * lower median is selected by position over the (sum, d1, d2)
    * total order. Only the daily rollup touches the corpus. */
  val aggHodgesLehmann: Q = (s, d) => {
    val daily = events(s, d)
      .groupBy(to_date(col("ts")).as("dt"))
      .agg(count(lit(1)).as("y"))
      .sharedCache()
    val a = daily.select(col("dt").as("d1"), col("y").as("y1"))
    val b = daily.select(col("dt").as("d2"), col("y").as("y2"))
    val walsh = a.join(b, col("d1") <= col("d2"))
      .select(col("d1"), col("d2"), (col("y1") + col("y2")).as("w2"))
    // median-by-position over the Walsh set: k(k+1)/2 pairs is ~2.9M
    // rows once the event calendar spans the full 2.4k-day range — too
    // big for the single-partition row_number the census allowlisted;
    // the PrefixScan two-pass stamps the identical (w2, d1, d2) global
    // position in parallel (r14 port)
    val ranked = graft.functions.PrefixScan.withRankCumSum(
      walsh, Seq(col("w2"), col("d1"), col("d2")), None, rankName = "rk").df
    val stats = walsh.agg(count(lit(1)).as("n_pairs"))
    ranked.crossJoin(broadcast(stats))
      .filter(col("rk") === expr("(n_pairs + 1) div 2"))
      .select(lit(daily.count()).as("n_days"), col("n_pairs"),
        (col("w2").cast(DoubleType) / 2).as("hl_estimate"))
  }

  val aggHodgesLehmannSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS dt, count(*) AS y
      |  FROM events GROUP BY 1),
      |walsh AS (
      |  SELECT a.dt AS d1, b.dt AS d2, a.y + b.y AS w2
      |  FROM daily a JOIN daily b ON a.dt <= b.dt),
      |ranked AS (
      |  SELECT w2, row_number() OVER (ORDER BY w2, d1, d2) AS rk FROM walsh),
      |st AS (SELECT count(*) AS n_pairs FROM walsh)
      |SELECT (SELECT count(*) FROM daily) AS n_days, n_pairs,
      |       CAST(w2 AS DOUBLE) / 2 AS hl_estimate
      |FROM ranked CROSS JOIN st
      |WHERE rk = (n_pairs + 1) // 2""".stripMargin

  private val FrameW = 32   // payload frame width (mm-frame-sample's)
  private val CutBits = 6   // hamming > 6 of 16 bits = scene boundary

  /** mm-scene-cut — video scene-boundary detection on the frame
    * stream: each 32-byte payload frame (mm-frame-sample's framing)
    * reduces to a 16-bit perceptual signature (md5-nibble fake for
    * the absent codec — the plumbing is real, the decode is the
    * documented stub), and a SCENE CUT fires where consecutive
    * frames' signatures differ in more than 6 of 16 bits —
    * bit_count(xor) hamming, the mm-blockhash-dedup metric applied
    * along time instead of across items. The lag is a window
    * PARTITIONED per document (shuffle by doc, never global); output
    * is the per-video cut census + longest scene, the shot-table a
    * sampler needs to pick one keyframe per scene. */
  val mmSceneCut: Q = (s, d) => {
    val frames = documents(s, d)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, CAST(floor((length(text) - 1) / $FrameW.0) AS INT)), " +
            s"i -> substring(text, i * $FrameW + 1, $FrameW))"))
          .as(Seq("frame_idx", "frame")))
      .select(col("doc_id"), col("frame_idx"),
        expr("(instr('0123456789abcdef', substring(md5(frame), 1, 1)) - 1) * 4096 + " +
          "(instr('0123456789abcdef', substring(md5(frame), 2, 1)) - 1) * 256 + " +
          "(instr('0123456789abcdef', substring(md5(frame), 3, 1)) - 1) * 16 + " +
          "(instr('0123456789abcdef', substring(md5(frame), 4, 1)) - 1)").as("sig"))
    val w = Window.partitionBy("doc_id").orderBy("frame_idx")
    val cuts = frames
      .withColumn("prev_sig", lag("sig", 1).over(w))
      .withColumn("is_cut",
        when(col("prev_sig").isNull, 0L)
          .when(expr(s"bit_count(sig ^ prev_sig) > $CutBits"), 1L)
          .otherwise(0L))
      .withColumn("scene_id", sum("is_cut").over(
        Window.partitionBy("doc_id").orderBy("frame_idx")
          .rowsBetween(Window.unboundedPreceding, 0)))
    val scenes = cuts.groupBy("doc_id", "scene_id")
      .agg(count(lit(1)).as("scene_len"))
    scenes.groupBy("doc_id")
      .agg(sum("scene_len").as("n_frames"),
        (count(lit(1)) - 1).as("n_cuts"),
        max("scene_len").as("longest_scene"))
      .orderBy("doc_id")
  }

  val mmSceneCutSql: String =
    s"""WITH frames AS (
       |  SELECT doc_id, i AS frame_idx,
       |         (strpos('0123456789abcdef', substring(md5(substring(text, i * $FrameW + 1, $FrameW)), 1, 1)) - 1) * 4096 +
       |         (strpos('0123456789abcdef', substring(md5(substring(text, i * $FrameW + 1, $FrameW)), 2, 1)) - 1) * 256 +
       |         (strpos('0123456789abcdef', substring(md5(substring(text, i * $FrameW + 1, $FrameW)), 3, 1)) - 1) * 16 +
       |         (strpos('0123456789abcdef', substring(md5(substring(text, i * $FrameW + 1, $FrameW)), 4, 1)) - 1) AS sig
       |  FROM documents,
       |       LATERAL (SELECT unnest(generate_series(0, CAST(floor((length(text) - 1) / $FrameW.0) AS INT))) AS i) t
       |  WHERE length(text) > 0),
       |lagged AS (
       |  SELECT doc_id, frame_idx, sig,
       |         lag(sig) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev_sig
       |  FROM frames),
       |cuts AS (
       |  SELECT doc_id, frame_idx,
       |         CASE WHEN prev_sig IS NULL THEN 0
       |              WHEN bit_count(CAST(xor(sig, prev_sig) AS BIGINT)) > $CutBits THEN 1
       |              ELSE 0 END AS is_cut
       |  FROM lagged),
       |scened AS (
       |  SELECT doc_id, frame_idx,
       |         sum(is_cut) OVER (PARTITION BY doc_id ORDER BY frame_idx
       |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS scene_id
       |  FROM cuts),
       |scenes AS (
       |  SELECT doc_id, scene_id, count(*) AS scene_len
       |  FROM scened GROUP BY 1, 2)
       |SELECT doc_id, CAST(sum(scene_len) AS BIGINT) AS n_frames,
       |       count(*) - 1 AS n_cuts,
       |       CAST(max(scene_len) AS BIGINT) AS longest_scene
       |FROM scenes
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-auc-exact", aggAucExact, aggAucExactSql),
    Key("agg-calibration-ece", aggCalibrationEce, aggCalibrationEceSql),
    Key("agg-hodges-lehmann", aggHodgesLehmann, aggHodgesLehmannSql),
    Key("mm-scene-cut", mmSceneCut, mmSceneCutSql))
}
