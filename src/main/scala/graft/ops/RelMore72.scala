package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-9 batch J: span-offset alignment, uplift deciles,
  * contrastive pairs, fixed-offset timezone suite. */
object RelMore72 extends KeyModule {

  /** text-offset-align — the token↔char offset-mapping audit every
    * span-annotation pipeline needs (NER labels live in char space,
    * models in token space; a drifting mapping silently corrupts
    * training labels). For token k = ⌊n_tokens/2⌋ of every document,
    * the char offset is recomputed from first principles
    * (Σ lengths of tokens before k, plus separators — a higher-order
    * aggregate over the token array, no UDF) and verified by substring
    * extraction: the extracted span must equal the token. Graded as
    * the corpus-wide aligned/misaligned census — misaligned must be 0.
    * Pure projection; one pass. */
  val textOffsetAlign: Q = (s, d) => {
    val toks = documents(s, d)
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("w"))
      .withColumn("k", expr("size(w) div 2").cast(IntegerType))
      .filter(size(col("w")) >= 2)
    val mapped = toks
      // char offset of token k (0-based): sum of lengths of tokens 0..k-1
      // plus k separator spaces
      .withColumn("off",
        expr("aggregate(slice(w, 1, k), 0, (acc, t) -> acc + length(t)) + k"))
      .withColumn("tok", expr("w[k]"))
      .withColumn("extracted", expr("substring(text, off + 1, length(w[k]))"))
    mapped.agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("extracted") === col("tok"), 1L).otherwise(0L)).as("n_aligned"),
      sum(when(col("extracted") =!= col("tok"), 1L).otherwise(0L)).as("n_misaligned"))
  }

  val textOffsetAlignSql: String =
    """WITH toks AS (
      |  SELECT doc_id, text, string_split(text, ' ') AS w,
      |         CAST(len(string_split(text, ' ')) // 2 AS INT) AS k
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |m AS (
      |  SELECT doc_id,
      |         list_reduce(list_prepend(0, list_transform(w[1:k], t -> length(t))),
      |                     (a, b) -> a + b) + k AS off,
      |         w[k + 1] AS tok, text
      |  FROM toks),
      |v AS (
      |  SELECT doc_id, tok,
      |         substring(text, off + 1, length(tok)) AS extracted
      |  FROM m)
      |SELECT count(*) AS n_docs,
      |       CAST(sum(CASE WHEN extracted = tok THEN 1 ELSE 0 END) AS BIGINT) AS n_aligned,
      |       CAST(sum(CASE WHEN extracted <> tok THEN 1 ELSE 0 END) AS BIGINT) AS n_misaligned
      |FROM v""".stripMargin

  /** agg-uplift-deciles — uplift measurement by score decile (the
    * Qini-table shape): users scored by prior engagement (click+view
    * count), cut into quintiles by NTILE, then treated (odd user_id)
    * vs control (even) purchase rates and their difference per bucket
    * — the table that says WHERE a treatment works, not just whether.
    * Rates are exact integer ppm; the quintile cut is a windowed rank
    * over the bounded user dimension. */
  val aggUpliftDeciles: Q = (s, d) => {
    val perUser = events(s, d).groupBy("user_id")
      .agg(sum(when(col("event_type").isin("click", "view"), 1L).otherwise(0L)).as("score"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("converted"))
      .withColumn("variant", (col("user_id") % 2 === 1).cast(IntegerType))
    // r13 PrefixScan port: ntile(5) over the PER-USER frame was the
    // census's one genuinely corpus-sized unpartitioned window (users
    // grow with the corpus, unlike the calendar/domain-bounded frames)
    // — a single-task global sort at 100 TB. Rank via range exchange,
    // then the exact ntile arithmetic from the rank.
    val sc = graft.functions.PrefixScan.withRankCumSum(
      perUser, Seq(col("score").desc, col("user_id").asc), None, rankName = "rn")
    val cut = sc.df.withColumn("bucket",
      graft.functions.PrefixScan.ntileFromRank(5, sc.n, col("rn")))
    cut.groupBy("bucket")
      .agg(
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_treat"),
        sum(when(col("variant") === 1, col("converted")).otherwise(0L)).as("c_treat"),
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_ctrl"),
        sum(when(col("variant") === 0, col("converted")).otherwise(0L)).as("c_ctrl"))
      .select(col("bucket"), col("n_treat"), col("c_treat"), col("n_ctrl"), col("c_ctrl"),
        expr("c_treat * 1000000 div n_treat").as("rate_treat_ppm"),
        expr("c_ctrl * 1000000 div n_ctrl").as("rate_ctrl_ppm"),
        (expr("c_treat * 1000000 div n_treat") - expr("c_ctrl * 1000000 div n_ctrl"))
          .as("uplift_ppm"))
      .orderBy("bucket")
  }

  val aggUpliftDecilesSql: String =
    """WITH pu AS (
      |  SELECT user_id,
      |         CAST(sum(CASE WHEN event_type IN ('click', 'view') THEN 1 ELSE 0 END) AS BIGINT) AS score,
      |         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS converted,
      |         CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS variant
      |  FROM events GROUP BY user_id),
      |cut AS (
      |  SELECT *, ntile(5) OVER (ORDER BY score DESC, user_id) AS bucket FROM pu),
      |g AS (
      |  SELECT bucket,
      |         CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_treat,
      |         CAST(sum(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS BIGINT) AS c_treat,
      |         CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl,
      |         CAST(sum(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS BIGINT) AS c_ctrl
      |  FROM cut GROUP BY bucket)
      |SELECT CAST(bucket AS INT) AS bucket, n_treat, c_treat, n_ctrl, c_ctrl,
      |       c_treat * 1000000 // n_treat AS rate_treat_ppm,
      |       c_ctrl * 1000000 // n_ctrl AS rate_ctrl_ppm,
      |       c_treat * 1000000 // n_treat - c_ctrl * 1000000 // n_ctrl AS uplift_ppm
      |FROM g
      |ORDER BY bucket""".stripMargin

  /** sample-contrastive-pairs — deterministic contrastive-pair
    * generation for representation learning: positives pair each
    * vector with the NEXT vector of the SAME label (one per-label
    * sort + lead — no within-class cross join), negatives pair
    * hash-shuffled neighbors with DIFFERENT labels (one global sort in
    * a hash-scrambled order — adjacent rows are an unbiased random
    * draw, and the label filter keeps the cross-class ones). Graded as
    * the census: pair counts, self-pairs (must be 0), and the
    * positive:negative balance. Both generators are one sort + one
    * lead — linear, shuffle-partitionable by the sort prefix. */
  val sampleContrastivePairs: Q = (s, d) => {
    val v = embeddings(s, d).select(col("vec_id"), col("label"))
    val wl = Window.partitionBy("label").orderBy("vec_id")
    val pos = v.withColumn("nxt", lead("vec_id", 1).over(wl))
      .filter(col("nxt").isNotNull)
      .select(lit("positive").as("kind"), col("vec_id").as("a"), col("nxt").as("b"),
        col("label").as("la"), col("label").as("lb"))
    // hash-scrambled global lead via the PrefixScan boundary-stitched
    // neighbor stamp — the old no-partition lead window was a
    // single-task sort of the whole corpus
    val hashed = v.withColumn("h",
      md5(concat(lit("cp#"), col("vec_id").cast(StringType))))
    val neg = graft.functions.PrefixScan.withNeighbor(hashed,
        Seq(col("h"), col("vec_id")), Seq("vec_id", "label"),
        lead = true, suffix = "_nx")
      .filter(col("vec_id_nx").isNotNull && col("label_nx") =!= col("label"))
      .select(lit("negative").as("kind"), col("vec_id").as("a"),
        col("vec_id_nx").as("b"), col("label").as("la"), col("label_nx").as("lb"))
    pos.unionByName(neg)
      .groupBy("kind")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("self_pairs"),
        sum(when(col("la") === col("lb"), 1L).otherwise(0L)).as("same_label_pairs"))
      .orderBy("kind")
  }

  val sampleContrastivePairsSql: String =
    """WITH v AS (SELECT vec_id, label FROM embeddings),
      |pos AS (
      |  SELECT 'positive' AS kind, vec_id AS a, nxt AS b, label AS la, label AS lb
      |  FROM (SELECT vec_id, label,
      |               lead(vec_id) OVER (PARTITION BY label ORDER BY vec_id) AS nxt
      |        FROM v) t
      |  WHERE nxt IS NOT NULL),
      |neg AS (
      |  SELECT 'negative' AS kind, vec_id AS a, nb AS b, label AS la, lb
      |  FROM (SELECT vec_id, label,
      |               lead(vec_id) OVER w AS nb,
      |               lead(label) OVER w AS lb
      |        FROM v
      |        WINDOW w AS (ORDER BY md5('cp#' || CAST(vec_id AS VARCHAR)), vec_id)) t
      |  WHERE nb IS NOT NULL AND lb <> label),
      |u AS (SELECT * FROM pos UNION ALL SELECT * FROM neg)
      |SELECT kind, count(*) AS n_pairs,
      |       CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS self_pairs,
      |       CAST(sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT) AS same_label_pairs
      |FROM u
      |GROUP BY kind
      |ORDER BY kind""".stripMargin

  /** func-timezone-suite — timezone-shift coverage with FIXED-OFFSET
    * zones only (+05:30, -08:00, +00:00): named zones drag in tzdata
    * vintages that can differ between engines, fixed offsets are pure
    * arithmetic and bit-stable. Grades the conversions and the
    * day-boundary shift census (how many events change calendar date
    * under each offset) — the bug class every "daily" report hits when
    * it aggregates in the wrong zone. */
  val funcTimezoneSuite: Q = (s, d) => {
    val ev = events(s, d).select(col("event_id"), col("ts"))
    // fixed offsets as pure interval arithmetic under the UTC session
    // timezone — no tz database, bit-stable in both engines
    val shifted = ev.select(col("event_id"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("utc_str"),
      date_format(expr("ts + INTERVAL '5' HOUR + INTERVAL '30' MINUTE"),
        "yyyy-MM-dd HH:mm:ss").as("ist_str"),
      to_date(col("ts")).as("d_utc"),
      to_date(expr("ts + INTERVAL '5' HOUR + INTERVAL '30' MINUTE")).as("d_ist"),
      to_date(expr("ts - INTERVAL '8' HOUR")).as("d_pst"))
    shifted.agg(
      count(lit(1)).as("n"),
      sum(when(col("d_ist") =!= col("d_utc"), 1L).otherwise(0L)).as("ist_day_shifts"),
      sum(when(col("d_pst") =!= col("d_utc"), 1L).otherwise(0L)).as("pst_day_shifts"),
      max("utc_str").as("max_utc"),
      max("ist_str").as("max_ist"))
  }

  val funcTimezoneSuiteSql: String =
    """WITH ev AS (
      |  SELECT event_id, date_trunc('microseconds', ts) AS ts FROM events),
      |s AS (
      |  SELECT event_id,
      |         strftime(ts, '%Y-%m-%d %H:%M:%S') AS utc_str,
      |         strftime(ts + INTERVAL '5 hours 30 minutes', '%Y-%m-%d %H:%M:%S') AS ist_str,
      |         CAST(date_trunc('day', ts) AS DATE) AS d_utc,
      |         CAST(date_trunc('day', ts + INTERVAL '5 hours 30 minutes') AS DATE) AS d_ist,
      |         CAST(date_trunc('day', ts - INTERVAL '8 hours') AS DATE) AS d_pst
      |  FROM ev)
      |SELECT count(*) AS n,
      |       CAST(sum(CASE WHEN d_ist <> d_utc THEN 1 ELSE 0 END) AS BIGINT) AS ist_day_shifts,
      |       CAST(sum(CASE WHEN d_pst <> d_utc THEN 1 ELSE 0 END) AS BIGINT) AS pst_day_shifts,
      |       max(utc_str) AS max_utc,
      |       max(ist_str) AS max_ist
      |FROM s""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("text-offset-align", textOffsetAlign, textOffsetAlignSql),
    Key("agg-uplift-deciles", aggUpliftDeciles, aggUpliftDecilesSql),
    Key("sample-contrastive-pairs", sampleContrastivePairs, sampleContrastivePairsSql),
    Key("func-timezone-suite", funcTimezoneSuite, funcTimezoneSuiteSql))
}
