package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-10 batch I: Tukey-fence outlier gate, Cochran–Mantel–Haenszel
  * stratified odds ratio, a portable file-level bloom index with
  * measured FPR, and the Friedman rank test. */
object RelMore91 extends KeyModule {

  /** dq-tukey-fences — the boxplot outlier gate per priority class:
    * mild (beyond Q∓1.5·IQR) and extreme (beyond Q∓3·IQR) counts,
    * with EXACT type-1 quartiles from the agg-cvar-es PrefixScan rank
    * discipline. The 1.5 multiplier is kept integer by doubling both
    * sides of the comparison (2x < 2·Q1 − 3·IQR — no float fence, no
    * boundary ulp), which is the detail that makes the gate
    * bit-reproducible across engines and partitionings. Complements
    * dq-mad-outliers (median-based) and dq-anomaly-zscore
    * (moment-based) with the quartile-based member of the family. */
  val dqTukeyFences: Q = (s, d) => {
    import graft.functions.PrefixScan
    val base = orders(s, d).select(col("o_orderpriority").as("prio"),
      floor(col("o_totalprice") * 100).cast(LongType).as("cents"),
      col("o_orderkey"))
    val ranked = PrefixScan.withRankCumSum(base,
      Seq(col("prio"), col("cents"), col("o_orderkey")), None, rankName = "grn").df
      .sharedCache()
    val groups = ranked.groupBy("prio")
      .agg(min("grn").as("base_rn"), count(lit(1)).as("n"))
      .withColumn("k1", ceil(lit(0.25) * col("n")).cast(LongType))
      .withColumn("k3", ceil(lit(0.75) * col("n")).cast(LongType))
    val q = ranked.join(broadcast(groups), "prio")
      .withColumn("r", col("grn") - col("base_rn") + 1)
      .filter(col("r") === col("k1") || col("r") === col("k3"))
      .groupBy("prio")
      .agg(max(when(col("r") === col("k1"), col("cents"))).as("q1"),
        max(when(col("r") === col("k3"), col("cents"))).as("q3"),
        max("n").as("n"))
      .withColumn("iqr", col("q3") - col("q1"))
    ranked.join(broadcast(q), "prio")
      .groupBy("prio")
      .agg(max("n").as("n"),
        max((col("q1").cast(DoubleType) / 100)).as("q1"),
        max((col("q3").cast(DoubleType) / 100)).as("q3"),
        sum(when(lit(2) * col("cents") < lit(2) * col("q1") - lit(3) * col("iqr"), 1L)
          .otherwise(0L)).as("n_mild_low"),
        sum(when(lit(2) * col("cents") > lit(2) * col("q3") + lit(3) * col("iqr"), 1L)
          .otherwise(0L)).as("n_mild_high"),
        sum(when(col("cents") < col("q1") - lit(3) * col("iqr"), 1L)
          .otherwise(0L)).as("n_extreme_low"),
        sum(when(col("cents") > col("q3") + lit(3) * col("iqr"), 1L)
          .otherwise(0L)).as("n_extreme_high"))
      .orderBy("prio")
  }

  val dqTukeyFencesSql: String =
    """WITH base AS (
      |  SELECT o_orderpriority AS prio,
      |         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
      |  FROM orders),
      |ranked AS (
      |  SELECT prio, cents,
      |         row_number() OVER (PARTITION BY prio ORDER BY cents, o_orderkey) AS r,
      |         count(*) OVER (PARTITION BY prio) AS n
      |  FROM base),
      |q AS (
      |  SELECT prio, max(n) AS n,
      |         max(CASE WHEN r = CAST(ceil(0.25 * n) AS BIGINT) THEN cents END) AS q1c,
      |         max(CASE WHEN r = CAST(ceil(0.75 * n) AS BIGINT) THEN cents END) AS q3c
      |  FROM ranked GROUP BY prio)
      |SELECT ranked.prio, max(q.n) AS n,
      |       max(CAST(q1c AS DOUBLE) / 100) AS q1,
      |       max(CAST(q3c AS DOUBLE) / 100) AS q3,
      |       CAST(sum(CASE WHEN 2 * cents < 2 * q1c - 3 * (q3c - q1c) THEN 1 ELSE 0 END) AS BIGINT) AS n_mild_low,
      |       CAST(sum(CASE WHEN 2 * cents > 2 * q3c + 3 * (q3c - q1c) THEN 1 ELSE 0 END) AS BIGINT) AS n_mild_high,
      |       CAST(sum(CASE WHEN cents < q1c - 3 * (q3c - q1c) THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme_low,
      |       CAST(sum(CASE WHEN cents > q3c + 3 * (q3c - q1c) THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme_high
      |FROM ranked JOIN q ON ranked.prio = q.prio
      |GROUP BY ranked.prio
      |ORDER BY ranked.prio""".stripMargin

  /** agg-cmh-pooled-or — Cochran–Mantel–Haenszel pooled odds ratio:
    * exposure (hash-coin on customer) vs outcome (order filled,
    * status 'F') stratified by order YEAR, so a year-composition
    * shift cannot Simpson-flip the readout — the pooled OR the crude
    * 2×2 silently gets wrong. Per-stratum terms a·d/n and b·c/n take
    * ONE double division each, floor-quantized to micro-units before
    * the cross-strata sum (exact long arithmetic thereafter); the
    * crude OR is reported beside it so the confounding is visible in
    * the row. Counts are a 2×2×K contingency cube — one aggregate at
    * any scale. */
  val aggCmhPooledOr: Q = (s, d) => {
    val base = orders(s, d).select(year(col("o_orderdate")).as("yr"),
      (expr("instr('0123456789abcdef', substring(md5(CAST(o_custkey AS STRING)), 1, 1)) - 1") < 8)
        .as("exposed"),
      (col("o_orderstatus") === "F").as("outcome"))
    val cube = base.groupBy("yr")
      .agg(sum(when(col("exposed") && col("outcome"), 1L).otherwise(0L)).as("a"),
        sum(when(col("exposed") && !col("outcome"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("exposed") && col("outcome"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("exposed") && !col("outcome"), 1L).otherwise(0L)).as("dd"),
        count(lit(1)).as("nk"))
    val terms = cube.select(
      floor((col("a") * col("dd")).cast(DecimalType(38, 0)).cast(DoubleType) * 1e6 /
        col("nk")).cast(LongType).as("t_num"),
      floor((col("b") * col("c")).cast(DecimalType(38, 0)).cast(DoubleType) * 1e6 /
        col("nk")).cast(LongType).as("t_den"),
      col("a"), col("b"), col("c"), col("dd"))
    terms.agg(count(lit(1)).as("n_strata"),
      sum("t_num").as("sn"), sum("t_den").as("sd"),
      sum("a").as("at"), sum("b").as("bt"), sum("c").as("ct"), sum("dd").as("dt"))
      .select(col("n_strata"),
        ratioFloor(col("sn"), col("sd"), 4).as("or_cmh"),
        ratioFloor((col("at") * col("dt")).cast(DecimalType(38, 0)),
          (col("bt") * col("ct")).cast(DecimalType(38, 0)), 4).as("or_crude"))
  }

  val aggCmhPooledOrSql: String =
    s"""WITH base AS (
       |  SELECT year(o_orderdate) AS yr,
       |         (strpos('0123456789abcdef', substring(md5(CAST(o_custkey AS VARCHAR)), 1, 1)) - 1) < 8 AS exposed,
       |         o_orderstatus = 'F' AS outcome
       |  FROM orders),
       |cube3 AS (
       |  SELECT yr,
       |         sum(CASE WHEN exposed AND outcome THEN 1 ELSE 0 END) AS a,
       |         sum(CASE WHEN exposed AND NOT outcome THEN 1 ELSE 0 END) AS b,
       |         sum(CASE WHEN NOT exposed AND outcome THEN 1 ELSE 0 END) AS c,
       |         sum(CASE WHEN NOT exposed AND NOT outcome THEN 1 ELSE 0 END) AS dd,
       |         count(*) AS nk
       |  FROM base GROUP BY yr),
       |terms AS (
       |  SELECT CAST(floor(CAST(a * dd AS DOUBLE) * 1e6 / nk) AS BIGINT) AS t_num,
       |         CAST(floor(CAST(b * c AS DOUBLE) * 1e6 / nk) AS BIGINT) AS t_den,
       |         a, b, c, dd
       |  FROM cube3)
       |SELECT count(*) AS n_strata,
       |       ${ratioFloorSql("sum(t_num)", "sum(t_den)", 4)} AS or_cmh,
       |       ${ratioFloorSql("(sum(a) * sum(dd))", "(sum(b) * sum(c))", 4)} AS or_crude
       |FROM terms""".stripMargin

  private val BloomBits = 4096

  /** sink-bloom-index — a PORTABLE file-level bloom index built from
    * first principles: each synthetic data file (orderkey%8 — the
    * deterministic stand-in for a writer's file split) indexes its
    * customer keys by 3 bit positions carved from md5 nibbles
    * (3 hex chars each ⇒ 12 bits ⇒ the 4096-bit space), stored as a
    * plain (file, position) table any engine can read — unlike
    * engine-private bloom blobs (join-bloom-prefilter), this index
    * survives a format migration. Probing file 0's keys against the
    * other 7 files, a key "maybe" hits when all 3 positions are set;
    * the graded row measures the REAL false-positive rate against
    * exact membership — the number a file-skipping planner must know
    * before trusting the index. Everything is md5 + set algebra:
    * bit-deterministic, shuffle = two small distincts. */
  val sinkBloomIndex: Q = (s, d) => {
    def pos(i: Int) =
      expr(s"""CAST(
        (instr('0123456789abcdef', substring(md5(CAST(o_custkey AS STRING)), ${3 * i + 1}, 1)) - 1) * 256 +
        (instr('0123456789abcdef', substring(md5(CAST(o_custkey AS STRING)), ${3 * i + 2}, 1)) - 1) * 16 +
        (instr('0123456789abcdef', substring(md5(CAST(o_custkey AS STRING)), ${3 * i + 3}, 1)) - 1) AS BIGINT)""")
    val base = orders(s, d).select((col("o_orderkey") % 8).as("file_id"),
      col("o_custkey"), pos(0).as("p0"), pos(1).as("p1"), pos(2).as("p2"))
      .sharedCache()
    val index = base.select(col("file_id"), explode(array(col("p0"), col("p1"), col("p2"))).as("pos"))
      .distinct().sharedCache()
    val probes = base.filter(col("file_id") === 0)
      .select(col("o_custkey"), col("p0"), col("p1"), col("p2")).distinct()
    val targets = index.select(col("file_id")).distinct().filter(col("file_id") =!= 0)
    val maybe = probes.crossJoin(targets)
      .join(index.withColumnRenamed("pos", "p0"), Seq("file_id", "p0"), "left_semi")
      .join(index.withColumnRenamed("pos", "p1"), Seq("file_id", "p1"), "left_semi")
      .join(index.withColumnRenamed("pos", "p2"), Seq("file_id", "p2"), "left_semi")
      .select("file_id", "o_custkey")
    val truth = base.filter(col("file_id") =!= 0)
      .select(col("file_id").as("t_fid"), col("o_custkey").as("t_ck")).distinct()
    val nProbes = probes.count()
    maybe.join(truth,
      col("file_id") === col("t_fid") && col("o_custkey") === col("t_ck"),
      "left_outer")
      .groupBy("file_id")
      .agg(count(lit(1)).as("n_maybe"),
        sum(when(col("t_ck").isNotNull, 1L).otherwise(0L)).as("n_true"))
      .join(index.groupBy("file_id").agg(count(lit(1)).as("bits_set")), "file_id")
      .select(col("file_id"), lit(nProbes).as("n_probes"), col("bits_set"),
        col("n_maybe"), col("n_true"),
        ratioFloor(col("n_maybe") - col("n_true"),
          greatest(lit(nProbes) - col("n_true"), lit(1L)), 6).as("fpr"))
      .orderBy("file_id")
  }

  val sinkBloomIndexSql: String = {
    def pos(i: Int) =
      s"""((strpos('0123456789abcdef', substring(md5(CAST(o_custkey AS VARCHAR)), ${3 * i + 1}, 1)) - 1) * 256 +
         |(strpos('0123456789abcdef', substring(md5(CAST(o_custkey AS VARCHAR)), ${3 * i + 2}, 1)) - 1) * 16 +
         |(strpos('0123456789abcdef', substring(md5(CAST(o_custkey AS VARCHAR)), ${3 * i + 3}, 1)) - 1))""".stripMargin.replace("\n", " ")
    s"""WITH base AS (
       |  SELECT o_orderkey % 8 AS file_id, o_custkey,
       |         ${pos(0)} AS p0, ${pos(1)} AS p1, ${pos(2)} AS p2
       |  FROM orders),
       |index3 AS (
       |  SELECT DISTINCT file_id, pos FROM (
       |    SELECT file_id, p0 AS pos FROM base
       |    UNION ALL SELECT file_id, p1 FROM base
       |    UNION ALL SELECT file_id, p2 FROM base)),
       |probes AS (
       |  SELECT DISTINCT o_custkey, p0, p1, p2 FROM base WHERE file_id = 0),
       |targets AS (SELECT DISTINCT file_id FROM index3 WHERE file_id <> 0),
       |maybe AS (
       |  SELECT t.file_id, pr.o_custkey
       |  FROM probes pr CROSS JOIN targets t
       |  WHERE EXISTS (SELECT 1 FROM index3 i WHERE i.file_id = t.file_id AND i.pos = pr.p0)
       |    AND EXISTS (SELECT 1 FROM index3 i WHERE i.file_id = t.file_id AND i.pos = pr.p1)
       |    AND EXISTS (SELECT 1 FROM index3 i WHERE i.file_id = t.file_id AND i.pos = pr.p2)),
       |truth AS (SELECT DISTINCT file_id, o_custkey FROM base WHERE file_id <> 0),
       |np AS (SELECT count(*) AS n_probes FROM probes),
       |agg AS (
       |  SELECT m.file_id, count(*) AS n_maybe,
       |         CAST(sum(CASE WHEN tr.o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_true
       |  FROM maybe m LEFT JOIN truth tr ON m.file_id = tr.file_id AND m.o_custkey = tr.o_custkey
       |  GROUP BY m.file_id),
       |bits AS (SELECT file_id, count(*) AS bits_set FROM index3 GROUP BY file_id)
       |SELECT agg.file_id, n_probes, bits_set, n_maybe, n_true,
       |       ${ratioFloorSql("(n_maybe - n_true)", "greatest(n_probes - n_true, 1)", 6)} AS fpr
       |FROM agg JOIN bits ON agg.file_id = bits.file_id CROSS JOIN np
       |ORDER BY agg.file_id""".stripMargin
  }

  /** agg-friedman-test — the Friedman rank test: do priority classes
    * differ in mean order value CONSISTENTLY across years (blocks)?
    * Within each year the 5 classes are ranked by mean value (one
    * double division per cell — a k×n grid of cells, never of rows —
    * with the class label as tiebreak), rank sums R_j accumulate
    * exactly, and χ²_F = 12·ΣR²/(n·k(k+1)) − 3n(k+1) clears to an
    * integer-over-integer ratio. The nonparametric ANOVA that works
    * when value distributions are skewed — completing the test
    * family (Welch, Mann–Whitney, KS, χ², Cramér's V, kappa) with
    * the repeated-measures member. */
  val aggFriedmanTest: Q = (s, d) => {
    val cells = orders(s, d)
      .groupBy(year(col("o_orderdate")).as("yr"), col("o_orderpriority").as("prio"))
      .agg((sum(floor(col("o_totalprice") * 100).cast(DecimalType(38, 0)))
        .cast(DoubleType) / count(lit(1))).as("mean_cents"))
    val w = Window.partitionBy("yr").orderBy(col("mean_cents").asc, col("prio").asc)
    val ranked = cells.withColumn("rk", row_number().over(w)).sharedCache()
    val k = 5L
    val rsums = ranked.groupBy("prio")
      .agg(sum("rk").cast(LongType).as("r_sum"), count(lit(1)).as("n_years"))
    val stat = rsums.agg(max("n_years").as("n"),
      sum(col("r_sum") * col("r_sum")).as("sr2"))
      .select(col("n"),
        ratioFloor(lit(12) * col("sr2") -
          lit(3) * col("n") * lit(k + 1) * (col("n") * lit(k) * lit(k + 1)),
          col("n") * lit(k) * lit(k + 1), 4).as("chi2_f"))
    rsums.crossJoin(broadcast(stat))
      .select(col("prio"), col("n_years"), col("r_sum"),
        ratioFloor(col("r_sum"), col("n_years"), 3).as("mean_rank"),
        col("chi2_f"))
      .orderBy("prio")
  }

  val aggFriedmanTestSql: String =
    s"""WITH cells AS (
       |  SELECT year(o_orderdate) AS yr, o_orderpriority AS prio,
       |         CAST(sum(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS HUGEINT)) AS DOUBLE) / count(*) AS mean_cents
       |  FROM orders GROUP BY 1, 2),
       |ranked AS (
       |  SELECT yr, prio, row_number() OVER (PARTITION BY yr ORDER BY mean_cents, prio) AS rk
       |  FROM cells),
       |rsums AS (
       |  SELECT prio, CAST(sum(rk) AS BIGINT) AS r_sum, count(*) AS n_years
       |  FROM ranked GROUP BY prio),
       |stat AS (
       |  SELECT max(n_years) AS n,
       |         ${ratioFloorSql("(12 * sum(r_sum * r_sum) - 3 * max(n_years) * 6 * (max(n_years) * 5 * 6))", "(max(n_years) * 5 * 6)", 4)} AS chi2_f
       |  FROM rsums)
       |SELECT prio, n_years, r_sum,
       |       ${ratioFloorSql("r_sum", "n_years", 3)} AS mean_rank,
       |       chi2_f
       |FROM rsums CROSS JOIN stat
       |ORDER BY prio""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("dq-tukey-fences", dqTukeyFences, dqTukeyFencesSql),
    Key("agg-cmh-pooled-or", aggCmhPooledOr, aggCmhPooledOrSql),
    Key("sink-bloom-index", sinkBloomIndex, sinkBloomIndexSql),
    Key("agg-friedman-test", aggFriedmanTest, aggFriedmanTestSql))
}
