package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-9 batch C: gaps-and-islands, Welch's t on a continuous
  * metric, b-bit minhash, compressed-text staging. */
object RelMore65 extends KeyModule {

  /** win-islands — the gaps-and-islands pattern: per-user runs of
    * CONSECUTIVE activity dates, found with the classic date − rank
    * trick (consecutive dates share one anchor after subtracting the
    * per-user row_number), graded as the island-length histogram.
    * win-streaks runs over same-VALUE runs; this is the calendar
    * continuity statistic (activity streaks, uptime runs, SLA windows).
    * One per-user sort, then two constant-size aggregations — the
    * reduce side is O(max streak length) at any scale. */
  val winIslands: Q = (s, d) => {
    val dates = events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("dt")).distinct()
    val w = Window.partitionBy("user_id").orderBy("dt")
    val islands = dates
      .withColumn("anchor", date_sub(col("dt"), row_number().over(w)))
      .groupBy("user_id", "anchor")
      .agg(count(lit(1)).as("len"))
    islands.groupBy("len")
      .agg(count(lit(1)).as("n_islands"),
        countDistinct("user_id").as("n_users"))
      .orderBy("len")
  }

  val winIslandsSql: String =
    """WITH dates AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS dt FROM events),
      |isl AS (
      |  SELECT user_id,
      |         dt - CAST(row_number() OVER (PARTITION BY user_id ORDER BY dt) AS INT) AS anchor
      |  FROM dates),
      |runs AS (
      |  SELECT user_id, anchor, count(*) AS len
      |  FROM isl GROUP BY user_id, anchor)
      |SELECT len, count(*) AS n_islands, count(DISTINCT user_id) AS n_users
      |FROM runs
      |GROUP BY len
      |ORDER BY len""".stripMargin

  /** agg-welch-ttest — Welch's unequal-variance t-test on a CONTINUOUS
    * per-user metric (total purchase value; variant = user_id parity —
    * agg-abtest-gate's proportion z-test sibling). The whole statistic
    * is computed as ONE exact rational: metric quantized to integer
    * milli per user, then t² = (S₁n₂ − S₂n₁)²(n₁−1)(n₂−1) /
    * (v₁n₂²(n₂−1) + v₂n₁²(n₁−1)) with vᵢ = nᵢ·SSᵢ − Sᵢ² — numerator
    * and denominator accumulate in Decimal(38,0) (they overflow Long
    * at any real scale), and ONE double division at the output is the
    * only float op. The significance gate (t² > 3.8416, the normal
    * approximation at α=0.05) is an exact integer cross-multiply —
    * no float enters the decision. */
  val aggWelchTtest: Q = (s, d) => {
    val perUser = events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy((col("user_id") % 2).as("variant"), col("user_id"))
      .agg(sum(floor(col("value") * 1000).cast(LongType)).as("rev_milli"))
    val dec = DecimalType(38, 0)
    val sides = perUser.groupBy()
      .agg(
        count(when(col("variant") === 0, 1)).cast(dec).as("n1"),
        sum(when(col("variant") === 0, col("rev_milli")).otherwise(0L)).cast(dec).as("s1"),
        sum(when(col("variant") === 0, col("rev_milli") * col("rev_milli")).otherwise(0L)).cast(dec).as("ss1"),
        count(when(col("variant") === 1, 1)).cast(dec).as("n2"),
        sum(when(col("variant") === 1, col("rev_milli")).otherwise(0L)).cast(dec).as("s2"),
        sum(when(col("variant") === 1, col("rev_milli") * col("rev_milli")).otherwise(0L)).cast(dec).as("ss2"))
      .withColumn("v1", col("n1") * col("ss1") - col("s1") * col("s1"))
      .withColumn("v2", col("n2") * col("ss2") - col("s2") * col("s2"))
      .withColumn("num",
        (col("s1") * col("n2") - col("s2") * col("n1")) *
          (col("s1") * col("n2") - col("s2") * col("n1")) *
          (col("n1") - 1) * (col("n2") - 1))
      .withColumn("den",
        col("v1") * col("n2") * col("n2") * (col("n2") - 1) +
          col("v2") * col("n1") * col("n1") * (col("n1") - 1))
    sides.select(
      col("n1").cast(LongType).as("n1"),
      col("n2").cast(LongType).as("n2"),
      floor(col("s1").cast(DoubleType) / col("n1").cast(DoubleType)).cast(LongType).as("mean1_milli"),
      floor(col("s2").cast(DoubleType) / col("n2").cast(DoubleType)).cast(LongType).as("mean2_milli"),
      floor(col("num").cast(DoubleType) / col("den").cast(DoubleType) * 1000).cast(LongType).as("t2_milli"),
      (col("num") * 10000 > col("den") * 38416).as("significant"))
  }

  val aggWelchTtestSql: String =
    """WITH pu AS (
      |  SELECT user_id % 2 AS variant, user_id,
      |         CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS HUGEINT) AS rev_milli
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY user_id % 2, user_id),
      |t AS (
      |  SELECT CAST(count(CASE WHEN variant = 0 THEN 1 END) AS HUGEINT) AS n1,
      |         CAST(sum(CASE WHEN variant = 0 THEN rev_milli ELSE 0 END) AS HUGEINT) AS s1,
      |         CAST(sum(CASE WHEN variant = 0 THEN rev_milli * rev_milli ELSE 0 END) AS HUGEINT) AS ss1,
      |         CAST(count(CASE WHEN variant = 1 THEN 1 END) AS HUGEINT) AS n2,
      |         CAST(sum(CASE WHEN variant = 1 THEN rev_milli ELSE 0 END) AS HUGEINT) AS s2,
      |         CAST(sum(CASE WHEN variant = 1 THEN rev_milli * rev_milli ELSE 0 END) AS HUGEINT) AS ss2
      |  FROM pu),
      |e AS (
      |  SELECT *,
      |         n1 * ss1 - s1 * s1 AS v1,
      |         n2 * ss2 - s2 * s2 AS v2,
      |         (s1 * n2 - s2 * n1) * (s1 * n2 - s2 * n1) * (n1 - 1) * (n2 - 1) AS num,
      |         (n1 * ss1 - s1 * s1) * n2 * n2 * (n2 - 1) +
      |         (n2 * ss2 - s2 * s2) * n1 * n1 * (n1 - 1) AS den
      |  FROM t)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |       CAST(floor(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) AS BIGINT) AS mean1_milli,
      |       CAST(floor(CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) AS BIGINT) AS mean2_milli,
      |       CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1000) AS BIGINT) AS t2_milli,
      |       num * 10000 > den * 38416 AS significant
      |FROM e""".stripMargin

  /** dedup-bbit-minhash — b-bit minhashing (Li & König): keep only the
    * LAST BIT of each of the 12 minhash slots — 12 bits per document
    * instead of 12×20 — and estimate Jaccard from bit agreement via
    * ĵ = 2A − 1 (the b=1 estimator; the −1 removes the 50% chance
    * agreement). Graded as the (full-slot agreement × bit agreement)
    * contingency over the LSH candidate pairs plus both estimators in
    * twelfths: the table that shows how much resolution the 20×
    * memory cut costs. Candidates come from the same banded join as
    * the dedup family — never all-pairs; the contingency is ≤13×13
    * rows at any corpus size. */
  val dedupBbitMinhash: Q = (s, d) => {
    val Seeds = 12
    // sig via the shared TextDedup builder (r11): hex_slice_long LONG
    // slots keep the aggregate in HashAggregate (min(STRING) forced a
    // SortAggregate full sort of the occurrence table) and the three
    // MinHash front doors can no longer drift apart.
    val sig = TextDedup.minhashSigStored(s, d).sharedCache()
    val slotAgree = (1 to Seeds).map(j => s"IF(a.m$j = b.m$j, 1, 0)").mkString(" + ")
    // b=1: parity of the slot's last hex digit — with LONG slots (the
    // r11 hex_slice_long signature) that is simply the value's low
    // bit, same parity classes as the old hex-char instr() form
    val bitAgree = (1 to Seeds).map(j =>
      s"IF(a.m$j % 2 = b.m$j % 2, 1, 0)").mkString(" + ")
    // r15: the inline band stack + self-join rebuilt the standard LSH
    // pair set (same Seeds=12, 3-per-band md5 keys as TextDedup's
    // bandStackExpr) — consume the per-process pair store instead
    TextDedup.minhashPairsStored(s, d)
      .join(sig.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sig.as("b"), col("doc_b") === col("b.doc_id"))
      .select(expr(slotAgree).cast(IntegerType).as("k_slots"),
        expr(bitAgree).cast(IntegerType).as("k_bits"))
      .groupBy("k_slots", "k_bits")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("slot_est_twelfths", col("k_slots"))
      .withColumn("bbit_est_twelfths",
        greatest(lit(0), col("k_bits") * 2 - lit(Seeds)))
      .orderBy("k_slots", "k_bits")
  }

  val dedupBbitMinhashSql: String = {
    val Seeds = 12
    val minSel = (1 to Seeds).map(j =>
      s"min(substring(h, ${(j - 1) * 5 + 1}, 5)) AS m$j").mkString(",\n       ")
    val bandRows = (0 until Seeds / 3).map { b =>
      s"SELECT doc_id, $b AS band, md5(m${3 * b + 1} || ',' || m${3 * b + 2} || ',' || m${3 * b + 3}) AS bk FROM sig"
    }.mkString("\nUNION ALL\n")
    val slotAgree = (1 to Seeds).map(j =>
      s"CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END").mkString(" + ")
    val bitAgree = (1 to Seeds).map(j =>
      s"CASE WHEN (strpos('0123456789abcdef', substring(a.m$j, 5, 1)) - 1) % 2 = " +
        s"(strpos('0123456789abcdef', substring(b.m$j, 5, 1)) - 1) % 2 THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH words AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= 3),
       |shingles AS (
       |  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
       |  FROM words, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) t),
       |hashed AS (SELECT doc_id, md5(sh) || md5('#' || sh) AS h FROM shingles),
       |sig AS (
       |  SELECT doc_id,
       |       $minSel
       |  FROM hashed GROUP BY doc_id),
       |bands AS (
       |$bandRows),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id),
       |pairs AS (
       |  SELECT ($slotAgree) AS k_slots,
       |         ($bitAgree) AS k_bits
       |  FROM cand JOIN sig a ON cand.doc_a = a.doc_id
       |            JOIN sig b ON cand.doc_b = b.doc_id)
       |SELECT CAST(k_slots AS INT) AS k_slots, CAST(k_bits AS INT) AS k_bits,
       |       count(*) AS n_pairs,
       |       CAST(k_slots AS INT) AS slot_est_twelfths,
       |       CAST(greatest(0, k_bits * 2 - $Seeds) AS INT) AS bbit_est_twelfths
       |FROM pairs
       |GROUP BY k_slots, k_bits
       |ORDER BY k_slots, k_bits""".stripMargin
  }

  /** src-csv-gzip — compressed-text ingestion and its ONE scale rule:
    * gzip is not splittable, so a single giant .csv.gz becomes a
    * single task no matter how many executors exist. The staging
    * write therefore repartitions to 8 files FIRST — parallelism is
    * decided at write time, file count IS the read parallelism for
    * non-splittable codecs (bzip2/zstd-seekable are the splittable
    * alternatives when re-staging isn't an option). Round-trip proven
    * by the exact per-flag revenue aggregate; decimals travel as
    * fixed-scale strings (never raw doubles) so the text hop is
    * bit-exact. */
  val srcCsvGzip: Q = (s, d) => {
    val dir = tmp("src-csv-gzip", d)
    lineitem(s, d)
      .select(col("l_returnflag"), dec2(col("l_quantity")).as("qty"),
        dec2(col("l_extendedprice")).as("price"))
      .repartition(8)
      .write.mode("overwrite").option("compression", "gzip")
      .option("header", "true").csv(dir)
    val back = s.read
      .schema("l_returnflag STRING, qty DECIMAL(18,2), price DECIMAL(18,2)")
      .option("header", "true").csv(dir)
    back.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        outNum(sum(col("qty"))).as("sum_qty"),
        outNum(sum(col("price"))).as("sum_price"))
      .orderBy("l_returnflag")
  }

  val srcCsvGzipSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("win-islands", winIslands, winIslandsSql),
    Key("agg-welch-ttest", aggWelchTtest, aggWelchTtestSql),
    Key("dedup-bbit-minhash", dedupBbitMinhash, dedupBbitMinhashSql),
    Key("src-csv-gzip", srcCsvGzip, srcCsvGzipSql))
}
