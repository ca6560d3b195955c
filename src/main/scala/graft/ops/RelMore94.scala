package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-10 batch L: hour×weekday independence heatmap, corpus keyness
  * ratios, Feistel ID permutation. (stream-windowed-topk ships in
  * StreamingOps with the rest of the streaming choreography.) */
object RelMore94 extends KeyModule {

  /** agg-hour-dow-heatmap — the 24×7 traffic heatmap with an
    * INDEPENDENCE decomposition: each cell carries its count, the
    * expected count under hour⊥weekday (row·col/total — exact integer
    * products, one division), and the Pearson residual (O−E)/√E that
    * tells which cells genuinely deviate from "busy hour × busy day".
    * Weekday comes from epoch-day arithmetic ((days+3) mod 7,
    * Monday=0) — NEVER from dayofweek(), whose numbering differs
    * between engines. One count cube + two broadcast marginals; the
    * residual math is per-cell on a fixed 168-row frame. */
  val aggHourDowHeatmap: Q = (s, d) => {
    val base = events(s, d).select(
      pmod(datediff(to_date(col("ts")), to_date(lit("1970-01-01"))) + 3, lit(7))
        .as("dow"),
      hour(col("ts")).as("hr"))
    val cells = base.groupBy("dow", "hr").agg(count(lit(1)).as("n")).sharedCache()
    val rowT = cells.groupBy("dow").agg(sum("n").as("row_t"))
    val colT = cells.groupBy("hr").agg(sum("n").as("col_t"))
    val tot = cells.agg(sum("n").as("total"))
    cells.join(broadcast(rowT), "dow").join(broadcast(colT), "hr")
      .crossJoin(broadcast(tot))
      .withColumn("e", (col("row_t") * col("col_t")).cast(DoubleType) / col("total"))
      .select(col("dow"), col("hr"), col("n"),
        round(col("e"), 4).as("expected"),
        round((col("n") - col("e")) / sqrt(col("e")), 4).as("pearson_resid"))
      .orderBy("dow", "hr")
  }

  val aggHourDowHeatmapSql: String =
    """WITH base AS (
      |  SELECT ((datediff('day', DATE '1970-01-01', CAST(date_trunc('day', ts) AS DATE)) + 3) % 7 + 7) % 7 AS dow,
      |         hour(date_trunc('microseconds', ts)) AS hr
      |  FROM events),
      |cells AS (SELECT dow, hr, count(*) AS n FROM base GROUP BY 1, 2),
      |rt AS (SELECT dow, CAST(sum(n) AS BIGINT) AS row_t FROM cells GROUP BY 1),
      |ct AS (SELECT hr, CAST(sum(n) AS BIGINT) AS col_t FROM cells GROUP BY 1),
      |tt AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM cells)
      |SELECT dow, hr, n,
      |       round(CAST(row_t * col_t AS DOUBLE) / total, 4) AS expected,
      |       round((n - CAST(row_t * col_t AS DOUBLE) / total) /
      |             sqrt(CAST(row_t * col_t AS DOUBLE) / total), 4) AS pearson_resid
      |FROM cells JOIN rt USING (dow) JOIN ct USING (hr) CROSS JOIN tt
      |ORDER BY dow, hr""".stripMargin

  /** text-keyness-ratio — corpus comparison ("keyness"): which words
    * are overrepresented in the English slice vs the rest, by the
    * add-one-smoothed rate ratio ((k₁+1)/n₁)/((k₂+1)/n₂) — cleared to
    * one exact integer-product ratio, so no log-odds float fold. The
    * contrastive statistic behind every "what makes this subcorpus
    * different" report (domain drift, style transfer QA); rates
    * compare VOCAB-sized tables, so the corpus never pairs with
    * itself. Top-15 by (ratio desc, word). */
  val textKeynessRatio: Q = (s, d) => {
    val toks = documents(s, d).select(col("lang"),
      explode(split(col("text"), " ")).as("w"))
    val en = toks.filter(col("lang") === "en").groupBy("w")
      .agg(count(lit(1)).as("k1"))
    val rest = toks.filter(col("lang") =!= "en").groupBy("w")
      .agg(count(lit(1)).as("k2"))
    val tots = toks.agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n1"),
      sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("n2"))
    en.join(rest, Seq("w"), "full_outer")
      .select(col("w"), coalesce(col("k1"), lit(0L)).as("k1"),
        coalesce(col("k2"), lit(0L)).as("k2"))
      .crossJoin(broadcast(tots))
      .select(col("w"), col("k1"), col("k2"),
        ratioFloor((col("k1") + 1) * col("n2"), (col("k2") + 1) * col("n1"), 4)
          .as("keyness"))
      .orderBy(col("keyness").desc, col("w").asc)
      .limit(15)
  }

  val textKeynessRatioSql: String =
    s"""WITH toks AS (
       |  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
       |en AS (SELECT w, count(*) AS k1 FROM toks WHERE lang = 'en' GROUP BY w),
       |rest AS (SELECT w, count(*) AS k2 FROM toks WHERE lang <> 'en' GROUP BY w),
       |tots AS (
       |  SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |         CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n2
       |  FROM toks),
       |j AS (
       |  SELECT coalesce(en.w, rest.w) AS w,
       |         coalesce(k1, 0) AS k1, coalesce(k2, 0) AS k2
       |  FROM en FULL OUTER JOIN rest ON en.w = rest.w)
       |SELECT w, k1, k2,
       |       ${ratioFloorSql("((k1 + 1) * n2)", "((k2 + 1) * n1)", 4)} AS keyness
       |FROM j CROSS JOIN tots
       |ORDER BY keyness DESC, w
       |LIMIT 15""".stripMargin

  /** 16-bit round function for the Feistel network: 4 md5 nibbles of
    * "<half>_<round>". Spark text (instr + ^ infix xor). */
  private def fSpark(half: String, r: Int): String = {
    def nib(i: Int) =
      s"(instr('0123456789abcdef', substring(md5(concat(CAST($half AS STRING), '_', '$r')), $i, 1)) - 1)"
    s"(${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)})"
  }

  /** DuckDB twin of [[fSpark]] (strpos; xor() — ^ is POWER there). */
  private def fDuck(half: String, r: Int): String = {
    def nib(i: Int) =
      s"(strpos('0123456789abcdef', substring(md5(CAST($half AS VARCHAR) || '_' || '$r'), $i, 1)) - 1)"
    s"(${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)})"
  }

  /** func-feistel-permute — a 2-round Feistel network over the 32-bit
    * key space: the standard reversible ID-obfuscation trick (public
    * URLs must not expose sequential order keys, but the mapping must
    * invert server-side with no lookup table). The round function is
    * 16 bits of md5 — both engines regenerate it identically — and
    * the graded row PROVES the two contracts: bijectivity (distinct
    * out-count = in-count over the full key set) and invertibility
    * (running the rounds backwards recovers every key). Pure
    * map-side arithmetic; nothing shuffles but the final distinct. */
  val funcFeistelPermute: Q = (s, d) => {
    val base = orders(s, d).select(col("o_orderkey").as("x"))
      .withColumn("h0", expr("CAST(x / 65536 AS BIGINT)"))
      .withColumn("l0", pmod(col("x"), lit(65536L)))
      .withColumn("h1", col("l0"))
      .withColumn("l1", expr(s"CAST(h0 ^ ${fSpark("l0", 1)} AS BIGINT)"))
      .withColumn("h2", col("l1"))
      .withColumn("l2", expr(s"CAST(h1 ^ ${fSpark("l1", 2)} AS BIGINT)"))
      .withColumn("y", col("h2") * 65536 + col("l2"))
      // invert: forward r2 was (h2,l2) = (l1, h1^F(l1,2)), so
      // l1 = h2 and h1 = l2 ^ F(h2,2); then round 1 the same way
      .withColumn("ih1", expr(s"CAST(l2 ^ ${fSpark("h2", 2)} AS BIGINT)"))
      .withColumn("il1", col("h2"))
      .withColumn("ih0", expr(s"CAST(il1 ^ ${fSpark("ih1", 1)} AS BIGINT)"))
      .withColumn("il0", col("ih1"))
      .withColumn("x_back", col("ih0") * 65536 + col("il0"))
    base.agg(count(lit(1)).as("n"),
      countDistinct("y").as("n_distinct_permuted"),
      sum(when(col("x_back") === col("x"), 1L).otherwise(0L)).as("n_roundtrip_ok"),
      min("y").as("min_permuted"), max("y").as("max_permuted"))
  }

  val funcFeistelPermuteSql: String =
    s"""WITH base AS (SELECT o_orderkey AS x FROM orders),
       |r0 AS (
       |  SELECT x, CAST(floor(x / 65536) AS BIGINT) AS h0,
       |         ((x % 65536) + 65536) % 65536 AS l0
       |  FROM base),
       |r1 AS (SELECT x, l0 AS h1, xor(h0, ${fDuck("l0", 1)}) AS l1 FROM r0),
       |r2 AS (SELECT x, l1 AS h2, xor(h1, ${fDuck("l1", 2)}) AS l2 FROM r1),
       |fwd AS (SELECT x, h2, l2, h2 * 65536 + l2 AS y FROM r2),
       |inv1 AS (
       |  SELECT x, y, xor(l2, ${fDuck("h2", 2)}) AS ih1, h2 AS il1 FROM fwd),
       |inv0 AS (
       |  SELECT x, y, xor(il1, ${fDuck("ih1", 1)}) AS ih0, ih1 AS il0 FROM inv1)
       |SELECT count(*) AS n,
       |       count(DISTINCT y) AS n_distinct_permuted,
       |       CAST(sum(CASE WHEN ih0 * 65536 + il0 = x THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip_ok,
       |       min(y) AS min_permuted, max(y) AS max_permuted
       |FROM inv0""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-hour-dow-heatmap", aggHourDowHeatmap, aggHourDowHeatmapSql),
    Key("text-keyness-ratio", textKeynessRatio, textKeynessRatioSql),
    Key("func-feistel-permute", funcFeistelPermute, funcFeistelPermuteSql))
}
