package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch AB: Kaufman efficiency ratio, Jarque-Bera normality,
  * multi-format sink parity, repetition position profile. */
object RelMore127 extends KeyModule {

  /** win-kaufman-er — Kaufman's efficiency ratio on daily revenue:
    * ER = |net 30-day change| / Σ|daily changes| per day, then the
    * distribution summary (mean, P90, share above 0.3). ER ≈ 1 means
    * directional movement (trend regimes — momentum logic applies);
    * ER ≈ 0 means churn (mean-reversion logic applies) — the regime
    * dial adaptive systems key on, complementing win-rsi (magnitude
    * of moves) and agg-hurst-exponent (global memory) with a LOCAL
    * trendiness series. Numerator and denominator are exact integer
    * window sums over the same 30-row frame; per-day ER is micro-
    * floor-quantized through one identical division, so the summary
    * stats are exact-integer folds; the P90 is a tie-free discrete
    * quantile. */
  val winKaufmanEr: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("y"))
    val wd = Window.orderBy("dt")
    val w30 = wd.rowsBetween(-29, 0)
    val er = daily
      .withColumn("chg", abs(col("y") - lag("y", 1).over(wd)))
      .withColumn("net", abs(col("y") - lag("y", 29).over(wd)))
      .withColumn("vol", sum("chg").over(w30))
      .withColumn("cnt", count(col("chg")).over(w30))
      .filter(col("cnt") === 29 && col("net").isNotNull && col("vol") > 0)
      .select(col("dt"),
        floor(col("net").cast(DoubleType) * lit(1e6) / col("vol"))
          .cast(LongType).as("erq"))
      .sharedCache()
    val n = er.count()
    val p90 = er.withColumn("rn", row_number().over(Window.orderBy(col("erq"), col("dt"))))
      .filter(col("rn") === math.ceil(0.9 * n).toLong)
      .select(col("erq").as("p90q"))
    er.crossJoin(broadcast(p90))
      .agg(count(lit(1)).as("n_days"), sum("erq").as("s"),
        max("p90q").as("p90q"),
        sum(when(col("erq") > 300000L, 1L).otherwise(0L)).as("n_trending"))
      .select(col("n_days"),
        round(col("s").cast(DoubleType) / 1e6 / col("n_days"), 6).as("mean_er"),
        round(col("p90q").cast(DoubleType) / 1e6, 6).as("p90_er"),
        ratioFloor(col("n_trending"), col("n_days"), 6).as("share_trending"))
  }

  val winKaufmanErSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |er AS MATERIALIZED (
      |  SELECT dt, CAST(floor(CAST(net AS DOUBLE) * 1e6 / vol) AS BIGINT) AS erq FROM (
      |    SELECT dt,
      |           abs(y - lag(y, 29) OVER (ORDER BY dt)) AS net,
      |           sum(abs(y - yl)) OVER (ORDER BY dt ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS vol,
      |           count(CASE WHEN yl IS NOT NULL THEN 1 END)
      |             OVER (ORDER BY dt ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS cnt
      |    FROM (SELECT dt, y, lag(y) OVER (ORDER BY dt) AS yl FROM daily) t0) t
      |  WHERE cnt = 29 AND net IS NOT NULL AND vol > 0),
      |nn AS (SELECT count(*) AS n FROM er),
      |p90 AS (
      |  SELECT erq AS p90q FROM (
      |    SELECT erq, row_number() OVER (ORDER BY erq, dt) AS rn FROM er) t CROSS JOIN nn
      |  WHERE rn = CAST(ceil(0.9 * n) AS BIGINT))
      |SELECT CAST(count(*) AS BIGINT) AS n_days,
      |       round(CAST(sum(erq) AS DOUBLE) / 1e6 / count(*), 6) AS mean_er,
      |       round(CAST(max(p90q) AS DOUBLE) / 1e6, 6) AS p90_er,
      |       floor(CAST(sum(CASE WHEN erq > 300000 THEN 1 ELSE 0 END) AS DOUBLE) * 1e6
      |             / count(*)) / 1e6 AS share_trending
      |FROM er CROSS JOIN p90""".stripMargin

  /** dq-jarque-bera — the Jarque-Bera normality test on daily
    * revenue: JB = n/6·(S² + (K−3)²/4) from exact integer central
    * moments (skewness S and kurtosis K from the n-scaled residual
    * axis n·y − Σy: the second moment stays exact in DECIMAL(38,0);
    * the third and fourth powers exceed 38 digits at scale, so they
    * are per-day floor-quantized doubles summed in DECIMAL — stated,
    * and the quantizer scales (1e18/1e30) keep the folds Long-free
    * at 10× data too). The
    * cheapest omnibus normality gate there is — the precondition
    * check for every z/t-based monitor in the dq family (χ²₂,
    * 5.99 = 5% literal). */
  val dqJarqueBera: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("y"))
    val base = daily.agg(count(lit(1)).as("n"),
      sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"))
    val cent = daily.crossJoin(broadcast(base))
      .select(col("n"), (col("n") * col("y") - col("sy")).as("e"))
      .select(col("n"),
        expr("CAST(e AS DECIMAL(38,0)) * e").as("e2"),
        // e^3 ≈ 10^35 fits; e^4 would overflow DECIMAL(38) — quantize
        floor(col("e").cast(DoubleType) * col("e").cast(DoubleType) *
          col("e").cast(DoubleType) / lit(1e18)).cast(DecimalType(38, 0)).as("e3q"),
        floor(col("e").cast(DoubleType) * col("e").cast(DoubleType) *
          col("e").cast(DoubleType) * col("e").cast(DoubleType) / lit(1e30))
          .cast(DecimalType(38, 0)).as("e4q"))
    cent.groupBy("n")
      .agg(sum("e2").cast(DoubleType).as("m2r"),
        sum("e3q").cast(DoubleType).as("m3r"),
        sum("e4q").cast(DoubleType).as("m4r"))
      .select(col("n").cast(DoubleType).as("nd"), col("n"),
        (col("m2r") / col("n")).as("m2"),
        (col("m3r") * 1e18 / col("n")).as("m3"),
        (col("m4r") * 1e30 / col("n")).as("m4"))
      .withColumn("skew", col("m3") / sqrt(col("m2") * col("m2") * col("m2")))
      .withColumn("kurt", col("m4") / (col("m2") * col("m2")))
      .select(col("n").cast(LongType).as("n_days"),
        round(col("skew"), 4).as("skewness"),
        round(col("kurt"), 4).as("kurtosis"),
        round(col("nd") / 6 * (col("skew") * col("skew") +
          (col("kurt") - 3) * (col("kurt") - 3) / 4), 3).as("jb_stat"),
        (col("nd") / 6 * (col("skew") * col("skew") +
          (col("kurt") - 3) * (col("kurt") - 3) / 4) > 5.99).as("non_normal"))
  }

  val dqJarqueBeraSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |base AS (SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy
      |         FROM daily),
      |cent AS (
      |  SELECT n, e * e AS e2,
      |         CAST(floor(CAST(e AS DOUBLE) * CAST(e AS DOUBLE) * CAST(e AS DOUBLE) / 1e18)
      |              AS BIGINT) AS e3q,
      |         CAST(floor(CAST(e AS DOUBLE) * CAST(e AS DOUBLE) * CAST(e AS DOUBLE) *
      |              CAST(e AS DOUBLE) / 1e30) AS BIGINT) AS e4q
      |  FROM (SELECT n, n * y - sy AS e FROM daily CROSS JOIN base) t),
      |moms AS (
      |  SELECT CAST(n AS BIGINT) AS n, CAST(n AS DOUBLE) AS nd,
      |         CAST(sum(e2) AS DOUBLE) / CAST(n AS DOUBLE) AS m2,
      |         CAST(sum(e3q) AS DOUBLE) * 1e18 / CAST(n AS DOUBLE) AS m3,
      |         CAST(sum(e4q) AS DOUBLE) * 1e30 / CAST(n AS DOUBLE) AS m4
      |  FROM cent GROUP BY n),
      |fit AS (
      |  SELECT n, nd, m3 / sqrt(m2 * m2 * m2) AS skew, m4 / (m2 * m2) AS kurt FROM moms)
      |SELECT n AS n_days, round(skew, 4) AS skewness, round(kurt, 4) AS kurtosis,
      |       round(nd / 6 * (skew * skew + (kurt - 3) * (kurt - 3) / 4), 3) AS jb_stat,
      |       nd / 6 * (skew * skew + (kurt - 3) * (kurt - 3) / 4) > 5.99 AS non_normal
      |FROM fit""".stripMargin

  /** sink-format-parity — the format-migration parity audit: the same
    * nation-level aggregate is written to scratch as parquet, ORC and
    * JSON, read back through each format's reader, and compared by
    * row count and an order-independent value checksum — the gate a
    * storage migration (or a dual-write cutover window) runs before
    * flipping readers. JSON's type erosion is the classic trap
    * (int64 → double in careless pipelines), which is why the read
    * schemas are EXPLICIT for all three formats and the checksum
    * covers values, not just counts. All audit arithmetic is exact
    * integer (xor-free additive checksum of key-scaled cents). */
  val sinkFormatParity: Q = (s, d) => {
    val dir = tmp("sink-format-parity", d)
    val agg0 = orders(s, d).join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("cents"))
    agg0.write.mode("overwrite").parquet(s"$dir/pq")
    agg0.write.mode("overwrite").orc(s"$dir/orc")
    agg0.write.mode("overwrite").json(s"$dir/js")
    val schema = "nk INT, n BIGINT, cents BIGINT"
    def checksum(df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("rows"),
        sum(expr("CAST(nk AS DECIMAL(38,0)) * cents + n")).as("chk"))
    val p = checksum(s.read.schema(schema).parquet(s"$dir/pq"))
      .select(col("rows").as("rows_parquet"), col("chk").as("chk_parquet"))
    val o = checksum(s.read.schema(schema).orc(s"$dir/orc"))
      .select(col("rows").as("rows_orc"), col("chk").as("chk_orc"))
    val j = checksum(s.read.schema(schema).json(s"$dir/js"))
      .select(col("rows").as("rows_json"), col("chk").as("chk_json"))
    p.crossJoin(o).crossJoin(j)
      .select(col("rows_parquet"),
        (col("rows_parquet") === col("rows_orc") &&
          col("rows_orc") === col("rows_json")).as("rows_match"),
        (col("chk_parquet") === col("chk_orc") &&
          col("chk_orc") === col("chk_json")).as("checksums_match"),
        col("chk_parquet").cast(DecimalType(38, 0)).cast(StringType).as("checksum"))
  }

  val sinkFormatParitySql: String =
    """WITH agg0 AS (
      |  SELECT c_nationkey AS nk, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1)
      |SELECT CAST(count(*) AS BIGINT) AS rows_parquet,
      |       true AS rows_match,
      |       true AS checksums_match,
      |       CAST(CAST(sum(CAST(nk AS HUGEINT) * cents + n) AS HUGEINT) AS VARCHAR) AS checksum
      |FROM agg0""".stripMargin

  /** text-repetition-position — WHERE duplication lives inside
    * documents: every repeated trigram occurrence (2nd+ occurrence of
    * a trigram within the same document) is located in the front /
    * middle / back third of its document, and the corpus-level
    * position profile is emitted. Templated corpora repeat in the
    * FRONT (boilerplate headers) or BACK (footers/disclaimers);
    * generation loops repeat in place — the profile says which
    * trimming strategy (text-stride-chunks vs boilerplate strip)
    * will actually help, where text-repetition only scores HOW MUCH.
    * Occurrence ranks come from one (doc, trigram)-keyed window over
    * positions; thirds use exact integer arithmetic (3·pos vs token
    * count); all counts exact. */
  val textRepetitionPosition: Q = (s, d) => {
    val toks = documents(s, d)
      .select(col("doc_id"), posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "w")))
    val tri = toks.as("a")
      .join(toks.as("b"), col("a.doc_id") === col("b.doc_id") &&
        col("b.pos") === col("a.pos") + 1)
      .join(toks.as("c"), col("a.doc_id") === col("c.doc_id") &&
        col("c.pos") === col("a.pos") + 2)
      .select(col("a.doc_id").as("doc_id"), col("a.pos").as("pos"),
        concat_ws(" ", col("a.w"), col("b.w"), col("c.w")).as("g"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("tc"))
    val wOcc = Window.partitionBy("doc_id", "g").orderBy("pos")
    val reps = tri.withColumn("occ", row_number().over(wOcc))
      .filter(col("occ") >= 2)
      .join(broadcast(dl), Seq("doc_id"))
      .select(when(col("pos") * 3 < col("tc"), "front")
        .when(col("pos") * 3 < col("tc") * 2, "middle")
        .otherwise("back").as("third"))
    val tot = reps.agg(count(lit(1)).as("n_total"))
    reps.groupBy("third").agg(count(lit(1)).as("n_repeats"))
      .crossJoin(broadcast(tot))
      .select(col("third"), col("n_repeats"),
        ratioFloor(col("n_repeats"), col("n_total"), 6).as("share"))
      .orderBy("third")
  }

  val textRepetitionPositionSql: String =
    """WITH toks AS MATERIALIZED (
      |  SELECT doc_id, unnest(t) AS w, unnest(range(0, len(t))) AS pos
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |        FROM documents) sp),
      |tri AS MATERIALIZED (
      |  SELECT a.doc_id, a.pos, a.w || ' ' || b.w || ' ' || c.w AS g
      |  FROM toks a
      |  JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      |  JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
      |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS tc FROM toks GROUP BY 1),
      |reps AS MATERIALIZED (
      |  SELECT CASE WHEN pos * 3 < tc THEN 'front'
      |              WHEN pos * 3 < tc * 2 THEN 'middle'
      |              ELSE 'back' END AS third
      |  FROM (
      |    SELECT doc_id, pos, row_number() OVER (PARTITION BY doc_id, g ORDER BY pos) AS occ
      |    FROM tri) t
      |  JOIN dl USING (doc_id)
      |  WHERE occ >= 2),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM reps)
      |SELECT third, CAST(count(*) AS BIGINT) AS n_repeats,
      |       floor(CAST(count(*) AS DOUBLE) * 1e6 / n_total) / 1e6 AS share
      |FROM reps CROSS JOIN tot
      |GROUP BY third, n_total
      |ORDER BY third""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("win-kaufman-er", winKaufmanEr, winKaufmanErSql),
    Key("dq-jarque-bera", dqJarqueBera, dqJarqueBeraSql),
    Key("sink-format-parity", sinkFormatParity, sinkFormatParitySql),
    Key("text-repetition-position", textRepetitionPosition, textRepetitionPositionSql))
}
