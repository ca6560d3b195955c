package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-6 batch O: deletion-vector merge-on-read, Mann-Whitney rank-sum
  * drift test, pps Poisson sampling with Horvitz-Thompson estimation. */
object RelMore54 extends KeyModule {

  /** sink-deletion-vectors — merge-on-read position deletes, the
    * lakehouse DELETE that never rewrites data files: a DELETE compiles
    * to a tiny deletion-vector (DV) side table of (file_id, pos) pairs;
    * readers apply it as a broadcast anti-join; a later compaction pass
    * materializes the delete by rewriting survivors with dense new
    * positions. This is Delta deletion vectors / Iceberg positional
    * delete files in miniature, and the missing third leg of the
    * commit-protocol family (sink-time-travel versions appends,
    * sink-vacuum-expire retires files, this op deletes rows). All three
    * states round-trip through real parquet in scratch. Scale: the DV is
    * |deleted|-sized (broadcast side), the anti-join streams the base
    * scan, and compaction's row_number runs per-file — the file is the
    * partition, so the shuffle is the rewrite's natural unit. Output
    * grades row counts, a position checksum (sparse positions survive
    * MOR, compaction re-densifies — sum_pos must DROP), and a value
    * checksum (identical for MOR and compacted — rewrite loses nothing).
    * Provenance: the reference truncates-and-reloads instead of deleting
    * (03_cargasilver.sql full-refresh pattern); this is the operation
    * its users would need the day one row must go. */
  val sinkDeletionVectors: Q = (s, d) => {
    val base = tmp("sink-deletion-vectors", d)
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic fixture
    // (11,785 dupe pairs at sf0.01); returnflag+cents completes a total
    // order, without which the two engines break position ties
    // differently and the MOR survivor positions diverge
    val wf = Window.partitionBy("file_id")
      .orderBy("l_orderkey", "l_linenumber", "l_returnflag", "cents")
    val wc = Window.partitionBy("file_id").orderBy("pos")
    val rows = lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"),
        pmod(col("l_orderkey"), lit(8L)).as("file_id"))
      .withColumn("pos", row_number().over(wf).cast(LongType) - 1L)
    rows.write.mode(SaveMode.Overwrite).parquet(s"$base/data")
    // the DELETE: returnflag 'R' rows become a positional DV, no rewrite
    s.read.parquet(s"$base/data").filter(col("l_returnflag") === "R")
      .select("file_id", "pos").write.mode(SaveMode.Overwrite).parquet(s"$base/dv")
    val baseRead = s.read.parquet(s"$base/data")
    val mor = baseRead.join(broadcast(s.read.parquet(s"$base/dv")),
      Seq("file_id", "pos"), "left_anti")
    // compaction: rewrite survivors with dense positions, drop the DV
    // (renumber by old pos — unique within file, so no tie ambiguity)
    mor.withColumn("pos", row_number().over(wc).cast(LongType) - 1L)
      .write.mode(SaveMode.Overwrite).parquet(s"$base/compacted")
    def grade(df: DataFrame, stage: String) =
      df.agg(count(lit(1)).as("n_rows"), sum("pos").as("sum_pos"),
          sum("cents").as("cents_sum"))
        .select(lit(stage).as("stage"), col("n_rows"), col("sum_pos"), col("cents_sum"))
    grade(baseRead, "1_base")
      .unionAll(grade(mor, "2_mor_read"))
      .unionAll(grade(s.read.parquet(s"$base/compacted"), "3_compacted"))
      .orderBy("stage")
  }

  val sinkDeletionVectorsSql: String =
    """WITH base AS (
      |  SELECT l_orderkey, l_returnflag,
      |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |         l_orderkey % 8 AS file_id,
      |         CAST(row_number() OVER (PARTITION BY l_orderkey % 8
      |                                 ORDER BY l_orderkey, l_linenumber, l_returnflag,
      |                                   CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) - 1 AS pos
      |  FROM lineitem),
      |mor AS (SELECT * FROM base WHERE l_returnflag <> 'R'),
      |compacted AS (
      |  SELECT cents,
      |         CAST(row_number() OVER (PARTITION BY file_id
      |                                 ORDER BY pos) AS BIGINT) - 1 AS pos
      |  FROM mor)
      |SELECT '1_base' AS stage, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(pos) AS BIGINT) AS sum_pos, CAST(sum(cents) AS BIGINT) AS cents_sum
      |FROM base
      |UNION ALL
      |SELECT '2_mor_read', CAST(count(*) AS BIGINT),
      |       CAST(sum(pos) AS BIGINT), CAST(sum(cents) AS BIGINT) FROM mor
      |UNION ALL
      |SELECT '3_compacted', CAST(count(*) AS BIGINT),
      |       CAST(sum(pos) AS BIGINT), CAST(sum(cents) AS BIGINT) FROM compacted
      |ORDER BY stage""".stripMargin

  /** dq-mann-whitney — the Mann-Whitney U rank-sum test (1995 vs 1996
    * order totals), the distribution-free two-sample location test that
    * complements dq-ks-drift's max-gap statistic: KS asks "any shape
    * difference", U asks "did the distribution SHIFT". Computed the
    * scale-right way: never a global rank over N rows — both samples
    * collapse to value histograms first, and U comes from the tie-aware
    * identity U = Σ_v n1(v)·(cum2(<v) + n2(v)/2) on the joined
    * histograms. The only window runs over |distinct dollar values|,
    * which is bounded by the PRICE DOMAIN (≤ ~600k rows at any corpus
    * size), not by row count — the same value-domain-bounded argument as
    * agg-equidepth-histogram. Everything is exact BIGINT (U doubled to
    * avoid the half-tie term; tie cubes in DECIMAL(38,0) — Σt³ overflows
    * int64 once a value holds >2M rows) until one fixed double
    * expression forms the normal-approximation z, milli-quantized.
    * Output: sample sizes, doubled U, z_milli, 95% verdict. */
  val dqMannWhitney: Q = (s, d) => {
    val h = orders(s, d)
      .select(year(col("o_orderdate")).as("yr"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) div 100").as("v"))
      .filter(col("yr").isin(1995, 1996))
      .groupBy("v")
      .agg(sum(when(col("yr") === 1995, 1L).otherwise(0L)).as("n1"),
        sum(when(col("yr") === 1996, 1L).otherwise(0L)).as("n2"))
    // exclusive prefix of n2 under the value order: the whole-dollar
    // domain saturates near ~550k distinct values — big enough that
    // the old single-partition window was the file's largest frame;
    // inclusive PrefixScan cum minus the row's own count is the same
    // exclusive sum, stamped fully parallel (r14 port, the
    // agg-auc-exact recipe). v is distinct post-groupBy, so (v) alone
    // is the total order the two-pass requires.
    val st = graft.functions.PrefixScan.withRankCumSum(
        h, Seq(col("v")), Some("n2"), cumName = "cum2i").df
      .withColumn("cum2", col("cum2i") - col("n2"))
      .agg(sum(expr("n1 * (2 * cum2 + n2)")).as("u2"),
        sum("n1").as("m"), sum("n2").as("n"),
        sum(expr("CAST((n1 + n2) * (n1 + n2) * (n1 + n2) - (n1 + n2) AS DECIMAL(38,0))"))
          .cast(DoubleType).as("ties"))
    st.select(col("m").as("n_1995"), col("n").as("n_1996"),
        col("u2").as("u_doubled"),
        round(expr(
          "(CAST(u2 AS DOUBLE) - CAST(m AS DOUBLE) * n) / " +
            "(2 * sqrt(CAST(m AS DOUBLE) * n / 12.0 * " +
            " ((m + n + 1) - ties / (CAST(m + n AS DOUBLE) * (m + n - 1)))))"), 9).as("z"))
      .select(col("n_1995"), col("n_1996"), col("u_doubled"),
        floor(col("z") * lit(1000.0) + lit(0.5)).cast(LongType).as("z_milli"),
        when(abs(col("z")) > 1.96, "shifted").otherwise("no_shift").as("verdict"))
  }

  val dqMannWhitneySql: String =
    """WITH h AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100 AS v,
      |         CAST(sum(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1995 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |         CAST(sum(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1996 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996)
      |  GROUP BY 1),
      |c AS (
      |  SELECT n1, n2,
      |         COALESCE(CAST(sum(n2) OVER (ORDER BY v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum2
      |  FROM h),
      |st AS (
      |  SELECT CAST(sum(n1 * (2 * cum2 + n2)) AS BIGINT) AS u2,
      |         CAST(sum(n1) AS BIGINT) AS m, CAST(sum(n2) AS BIGINT) AS n,
      |         CAST(sum(CAST((n1 + n2) * (n1 + n2) * (n1 + n2) - (n1 + n2) AS DECIMAL(38,0))) AS DOUBLE) AS ties
      |  FROM c),
      |z AS (
      |  SELECT m AS n_1995, n AS n_1996, u2 AS u_doubled,
      |         round((CAST(u2 AS DOUBLE) - CAST(m AS DOUBLE) * n) /
      |               (2 * sqrt(CAST(m AS DOUBLE) * n / 12.0 *
      |                ((m + n + 1) - ties / (CAST(m + n AS DOUBLE) * (m + n - 1))))), 9) AS z
      |  FROM st)
      |SELECT n_1995, n_1996, u_doubled,
      |       CAST(floor(z * 1000 + 0.5) AS BIGINT) AS z_milli,
      |       CASE WHEN abs(z) > 1.96 THEN 'shifted' ELSE 'no_shift' END AS verdict
      |FROM z""".stripMargin

  private def nib(h: String, p: Int) =
    s"(instr('0123456789abcdef', substring($h, $p, 1)) - 1)"
  private def nibSql(h: String, p: Int) =
    s"(strpos('0123456789abcdef', substring($h, $p, 1)) - 1)"
  /** 5 md5 nibbles → an exact uniform u20 ∈ [0, 2^20) (the
    * engine-neutral nibble recipe of RelMore40). Deliberately NOT
    * reduced mod 1e6: that modulo double-counts residues < 48576 and
    * inflates small inclusion probabilities by up to ~60% relative —
    * a 3.7σ sample-size overshoot on the fixture. All probability
    * comparisons happen in 2^-20 units instead. */
  private def u20Of(h: String, n: (String, Int) => String) =
    s"(${n(h, 1)} * 65536 + ${n(h, 2)} * 4096 + ${n(h, 3)} * 256 + " +
      s"${n(h, 4)} * 16 + ${n(h, 5)})"

  /** sample-poisson-ht — probability-proportional-to-size Poisson
    * sampling with the Horvitz-Thompson total estimator, the survey
    * workhorse behind every "estimate the corpus total from a 5%
    * sample" job: each order is kept independently with probability
    * π_i ∝ its value (capped at 1 — big orders form a certainty
    * stratum), and Σ_{sample} y_i/π_i is unbiased for Σ y_i. With
    * π ∝ y the sample is self-weighting (every sampled row contributes
    * ≈ the same 2e6), which is WHY pps beats uniform sampling for
    * skewed totals. One map-side pass — the keep decision is a pure
    * function of the row (md5 ppm draw vs π), no shuffle until the
    * final scalar aggregate; at 100 TB this is a scan, full stop.
    * Randomness is hash-derived (text-hash-split discipline), so the
    * sample is reproducible across engines and partitionings. HT
    * contributions stay in exact integers (y·1e6 div π_ppm, floored),
    * making the estimate bit-identical; the graded rel_error_ppm shows
    * HT landing within ~1% of truth at a ~7% sample. */
  val samplePoissonHt: Q = (s, d) => {
    val u = u20Of("md5(concat('ph_', CAST(o_orderkey AS STRING)))", nib)
    val rows = orders(s, d).select(
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) div 100").as("dollars"),
        expr(u).as("u20"))
      .withColumn("pi_ppm", greatest(lit(1L), least(lit(1000000L), expr("dollars div 2"))))
      // the ACTUAL inclusion probability is π20/2^20 — HT must weight by
      // what was really used, not the nominal ppm, to stay unbiased
      .withColumn("pi20", greatest(lit(1L), expr("(pi_ppm * 1048576) div 1000000")))
    rows.agg(count(lit(1)).as("n_pop"),
        sum("dollars").as("true_total"),
        expr("sum(pi20 * 1000) div 1048576").as("expected_n_milli"),
        sum(when(col("pi_ppm") === 1000000L, 1L).otherwise(0L)).as("n_certainty"),
        sum(when(col("u20") < col("pi20"), 1L).otherwise(0L)).as("n_sample"),
        // y_i/π_i = dollars·2^20 div π20 — in dollars, floored exact
        sum(when(col("u20") < col("pi20"), expr("(dollars * 1048576) div pi20"))
          .otherwise(0L)).as("ht_total"))
      .select(col("n_pop"), col("n_sample"), col("expected_n_milli"),
        col("n_certainty"), col("true_total"), col("ht_total"),
        expr("(abs(ht_total - true_total) * 1000000) div true_total")
          .as("rel_error_ppm"))
  }

  val samplePoissonHtSql: String = {
    val u = u20Of("md5('ph_' || CAST(o_orderkey AS VARCHAR))", nibSql)
    s"""WITH r AS (
       |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100 AS dollars,
       |         $u AS u20
       |  FROM orders),
       |p AS (
       |  SELECT dollars, u20,
       |         greatest(1, least(1000000, dollars // 2)) AS pi_ppm,
       |         greatest(1, (greatest(1, least(1000000, dollars // 2)) * 1048576) // 1000000) AS pi20
       |  FROM r)
       |SELECT CAST(count(*) AS BIGINT) AS n_pop,
       |       CAST(sum(CASE WHEN u20 < pi20 THEN 1 ELSE 0 END) AS BIGINT) AS n_sample,
       |       CAST(sum(pi20 * 1000) AS BIGINT) // 1048576 AS expected_n_milli,
       |       CAST(sum(CASE WHEN pi_ppm = 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_certainty,
       |       CAST(sum(dollars) AS BIGINT) AS true_total,
       |       CAST(sum(CASE WHEN u20 < pi20 THEN (dollars * 1048576) // pi20 ELSE 0 END) AS BIGINT) AS ht_total,
       |       (abs(CAST(sum(CASE WHEN u20 < pi20 THEN (dollars * 1048576) // pi20 ELSE 0 END) AS BIGINT)
       |            - CAST(sum(dollars) AS BIGINT)) * 1000000) // CAST(sum(dollars) AS BIGINT) AS rel_error_ppm
       |FROM p""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    Key("sink-deletion-vectors", sinkDeletionVectors, sinkDeletionVectorsSql),
    Key("dq-mann-whitney", dqMannWhitney, dqMannWhitneySql),
    Key("sample-poisson-ht", samplePoissonHt, samplePoissonHtSql))
}
