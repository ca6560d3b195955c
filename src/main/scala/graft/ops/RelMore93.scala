package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-10 batch K: vocabulary typo mining, ABC classification,
  * level-shift detection, Chao1 richness estimation. */
object RelMore93 extends KeyModule {

  /** text-vocab-typo-pairs — spell-variant candidates from the VOCAB,
    * not the corpus: distinct words (with frequencies) all-pairs
    * compared by edit distance, keeping pairs within distance 2. The
    * pair space is VOCAB²-bounded — the corpus can be 100 TB and the
    * vocabulary still fits one broadcast, which is why real spell
    * pipelines mine typos on the frequency table. The frequency
    * asymmetry in the output (big count ↔ tiny count at distance 1)
    * is the classic typo signature. levenshtein() is the textbook DP
    * in both engines — identical integers. */
  val textVocabTypoPairs: Q = (s, d) => {
    val vocab = documents(s, d)
      .select(posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .filter(length(col("w")) >= 3)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .sharedCache()
    val a = vocab.select(col("w").as("w1"), col("cnt").as("cnt1"))
    val b = vocab.select(col("w").as("w2"), col("cnt").as("cnt2"))
    a.join(broadcast(b), col("w1") < col("w2"))
      .withColumn("dist", levenshtein(col("w1"), col("w2")))
      .filter(col("dist") <= 2)
      .select(col("w1"), col("w2"), col("dist"), col("cnt1"), col("cnt2"))
      .orderBy(col("dist").asc, col("w1").asc, col("w2").asc)
  }

  val textVocabTypoPairsSql: String =
    """WITH vocab AS (
      |  SELECT w, count(*) AS cnt FROM (
      |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
      |  WHERE len(w) >= 3
      |  GROUP BY w)
      |SELECT a.w AS w1, b.w AS w2, levenshtein(a.w, b.w) AS dist,
      |       a.cnt AS cnt1, b.cnt AS cnt2
      |FROM vocab a JOIN vocab b ON a.w < b.w
      |WHERE levenshtein(a.w, b.w) <= 2
      |ORDER BY dist, w1, w2""".stripMargin

  /** agg-abc-classes — ABC (Pareto) inventory classification: parts
    * ranked by revenue, class A = the head covering 80% of revenue,
    * B = next 15%, C = the long tail. Boundaries are EXACT integer
    * comparisons (cum·100 ≤ 80·total — no float share), with the
    * rank+cumsum from the PrefixScan two-pass over the part
    * dimension (range partition + offsets — the catalog can be 10⁹
    * parts). Extends agg-pareto-point (one 80/20 scalar) to the
    * actionable three-way split purchasing actually uses: count,
    * revenue, and revenue share per class. */
  val aggAbcClasses: Q = (s, d) => {
    import graft.functions.PrefixScan
    val rev = lineitem(s, d).groupBy("l_partkey")
      .agg(sum(floor(col("l_extendedprice") * 100).cast(DecimalType(38, 0)))
        .cast(LongType).as("cents"))
    val scanned = PrefixScan.withRankCumSum(rev,
      Seq(col("cents").desc, col("l_partkey").asc), Some("cents"),
      rankName = "rk", cumName = "cum")
    val total = scanned.total
    val classed = scanned.df.withColumn("abc",
      when(col("cum") * 100 <= lit(80L) * total, "A")
        .when(col("cum") * 100 <= lit(95L) * total, "B")
        .otherwise("C"))
    classed.groupBy("abc")
      .agg(count(lit(1)).as("n_parts"),
        sum(col("cents").cast(DecimalType(38, 0))).cast(LongType).as("class_cents"))
      .select(col("abc"), col("n_parts"),
        (col("class_cents").cast(DoubleType) / 100).as("class_revenue"),
        ratioFloor(col("class_cents"), lit(total), 6).as("revenue_share"))
      .orderBy("abc")
  }

  val aggAbcClassesSql: String =
    s"""WITH rev AS (
       |  SELECT l_partkey,
       |         CAST(sum(CAST(CAST(floor(l_extendedprice * 100) AS BIGINT) AS HUGEINT)) AS BIGINT) AS cents
       |  FROM lineitem GROUP BY 1),
       |ranked AS (
       |  SELECT l_partkey, cents,
       |         sum(cents) OVER (ORDER BY cents DESC, l_partkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM rev),
       |tot AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM rev),
       |classed AS (
       |  SELECT cents,
       |         CASE WHEN cum * 100 <= 80 * total THEN 'A'
       |              WHEN cum * 100 <= 95 * total THEN 'B'
       |              ELSE 'C' END AS abc
       |  FROM ranked CROSS JOIN tot)
       |SELECT abc, count(*) AS n_parts,
       |       CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE) / 100 AS class_revenue,
       |       ${ratioFloorSql("sum(CAST(cents AS HUGEINT))", "(SELECT total FROM tot)", 6)} AS revenue_share
       |FROM classed GROUP BY abc ORDER BY abc""".stripMargin

  /** win-level-shift — step-change detection by a sliding two-sample
    * split: at each day, the mean of the 7 days BEFORE vs the 7 days
    * FROM here, both as exact integer 7-day sums (the difference of
    * means is (rsum−lsum)/7 — one floored ratio at output). Where
    * CUSUM (agg-changepoint-cusum) accumulates drift, this localizes
    * sharp level SHIFTS and reports the 5 largest with their before/
    * after means. Calendar-bounded daily frame, two bounded row
    * windows — the scan is the whole cost at any corpus size. */
  val winLevelShift: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(floor(col("o_totalprice") * 100).cast(DecimalType(38, 0)))
        .cast(LongType).as("y"))
    val wl = Window.orderBy("dt").rowsBetween(-7, -1)
    val wr = Window.orderBy("dt").rowsBetween(0, 6)
    daily
      .withColumn("lsum", sum("y").over(wl))
      .withColumn("lcnt", count(lit(1)).over(wl))
      .withColumn("rsum", sum("y").over(wr))
      .withColumn("rcnt", count(lit(1)).over(wr))
      .filter(col("lcnt") === 7 && col("rcnt") === 7)
      .select(col("dt"),
        ratioFloor(col("lsum"), lit(700L), 2).as("mean_before"),
        ratioFloor(col("rsum"), lit(700L), 2).as("mean_after"),
        abs(col("rsum") - col("lsum")).as("shift_abs"))
      .orderBy(col("shift_abs").desc, col("dt").asc)
      .limit(5)
      .select(col("dt"), col("mean_before"), col("mean_after"),
        ratioFloor(col("shift_abs"), lit(700L), 2).as("shift_dollars"))
  }

  val winLevelShiftSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
       |         CAST(sum(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS HUGEINT)) AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |m AS (
       |  SELECT dt,
       |         sum(y) OVER (ORDER BY dt ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS lsum,
       |         count(*) OVER (ORDER BY dt ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS lcnt,
       |         sum(y) OVER (ORDER BY dt ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING) AS rsum,
       |         count(*) OVER (ORDER BY dt ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING) AS rcnt
       |  FROM daily),
       |k AS (
       |  SELECT dt, lsum, rsum, abs(rsum - lsum) AS shift_abs
       |  FROM m WHERE lcnt = 7 AND rcnt = 7
       |  ORDER BY shift_abs DESC, dt LIMIT 5)
       |SELECT dt, ${ratioFloorSql("lsum", "700", 2)} AS mean_before,
       |       ${ratioFloorSql("rsum", "700", 2)} AS mean_after,
       |       ${ratioFloorSql("shift_abs", "700", 2)} AS shift_dollars
       |FROM k
       |ORDER BY shift_abs DESC, dt""".stripMargin

  /** agg-chao1-richness — the Chao1 species-richness estimator:
    * Ŝ = S_obs + f₁²/(2f₂), where f₁/f₂ are the singleton/doubleton
    * counts of the abundance histogram. The unseen-mass logic of
    * capture–recapture applied to ONE sample: many singletons ⇒ many
    * never-seen users beyond the log. Runs on the frequency-of-
    * frequencies table (two nested counts — tiny at any scale) for
    * both the user population in events and the part population in
    * lineitem, exact integers into one floored ratio each. */
  val aggChao1Richness: Q = (s, d) => {
    def chao(df: DataFrame, keyCol: String, popName: String): DataFrame = {
      val freq = df.groupBy(keyCol).agg(count(lit(1)).as("f"))
      freq.agg(count(lit(1)).as("s_obs"),
        sum(when(col("f") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("f") === 2, 1L).otherwise(0L)).as("f2"))
        .select(lit(popName).as("population"), col("s_obs"), col("f1"), col("f2"),
          (col("s_obs") + ratioFloor(col("f1") * col("f1"),
            greatest(lit(2L) * col("f2"), lit(1L)), 2)).as("chao1"))
    }
    chao(events(s, d).select(col("user_id")), "user_id", "event_users")
      .unionByName(chao(lineitem(s, d).select(col("l_partkey")), "l_partkey", "lineitem_parts"))
      .orderBy("population")
  }

  val aggChao1RichnessSql: String =
    s"""WITH uf AS (
       |  SELECT count(*) AS s_obs,
       |         CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
       |         CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
       |  FROM (SELECT user_id, count(*) AS f FROM events GROUP BY user_id)),
       |pf AS (
       |  SELECT count(*) AS s_obs,
       |         CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
       |         CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
       |  FROM (SELECT l_partkey, count(*) AS f FROM lineitem GROUP BY l_partkey))
       |SELECT 'event_users' AS population, s_obs, f1, f2,
       |       s_obs + ${ratioFloorSql("(f1 * f1)", "greatest(2 * f2, 1)", 2)} AS chao1
       |FROM uf
       |UNION ALL
       |SELECT 'lineitem_parts', s_obs, f1, f2,
       |       s_obs + ${ratioFloorSql("(f1 * f1)", "greatest(2 * f2, 1)", 2)} AS chao1
       |FROM pf
       |ORDER BY population""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("text-vocab-typo-pairs", textVocabTypoPairs, textVocabTypoPairsSql),
    Key("agg-abc-classes", aggAbcClasses, aggAbcClassesSql),
    Key("win-level-shift", winLevelShift, winLevelShiftSql),
    Key("agg-chao1-richness", aggChao1Richness, aggChao1RichnessSql))
}
