package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-11 batch G: histogram width ladder — sizing the quantile
  * sketch layer before committing storage to it. */
object RelMore217 extends KeyModule {

  private val W0 = 8192L // finest stored grain (cents)

  /** agg-histogram-width-curve — the sizing sweep behind
    * agg-histogram-quantile-merge's W choice (the cms-width-curve /
    * hll-precision-curve / dedup-banding-curve discipline: measure the
    * accuracy-vs-cost trade on the real data, don't assert it). ONE
    * finest-grain bucket-count partial (W0 = 8192 cents) is built from
    * the fact; every coarser candidate width (2×..16×) derives from it
    * by integer-dividing bucket ids and re-summing counts — ZERO
    * additional fact passes, the "store the finest affordable grain,
    * derive every coarser view" rule that makes one stored layer serve
    * all report resolutions. For each (width, quantile) the walk of
    * the derived cumulative histogram yields the estimate; the exact
    * k-th (shared across widths) is recomputed once per quantile with
    * the finest histogram's own bucket narrowing — no corpus-wide
    * sort. gap < width BY CONSTRUCTION, asserted per row; what the
    * curve adds is the MEASURED gap against the bound so the width
    * choice is made on observed error, not the worst case. SCALE: the
    * fact is touched once (one map-side-combined groupBy) plus one
    * narrowed bucket scan per quantile; everything else is histogram
    * rows (≤ domain/W0 ≈ 1.4k). */
  val aggHistogramWidthCurve: Q = (s, d) => {
    import s.implicits._
    val qs = Seq(50L, 90L, 99L)
    val widths = Seq(W0, W0 * 2, W0 * 4, W0 * 8, W0 * 16)
    val li = lineitem(s, d).select(
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .sharedCache()
    val n = li.count() // fill + the ladder's shared row count
    val p0 = li.groupBy(expr(s"cents div $W0").as("b0"))
      .agg(count(lit(1)).as("cnt"))
      .sharedCache()
    p0.count() // fills once; feeds the ladder AND the exact narrowing
    // ladder: coarser widths derived from the stored finest partial
    val pw = p0.crossJoin(broadcast(widths.toDF("w")))
      .groupBy(col("w"), expr(s"b0 div (w div $W0)").as("bw"))
      .agg(sum("cnt").as("cnt"))
    val cum = pw.withColumn("cum",
      sum("cnt").over(Window.partitionBy("w").orderBy("bw")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val ks = qs.toDF("q")
      .withColumn("k", expr(s"CAST(ceil(q * ${n}L / 100.0) AS BIGINT)"))
    val est = cum.crossJoin(broadcast(ks))
      .filter(col("cum") >= col("k"))
      .withColumn("rnb",
        row_number().over(Window.partitionBy("w", "q").orderBy("bw")))
      .filter(col("rnb") === 1)
      .select(col("w"), col("q"), col("k"),
        (col("bw") * col("w")).as("est_cents"))
    // exact k-th per quantile, shared by the whole ladder: narrow to
    // the finest histogram's chosen bucket, rank only its rows
    val cum0 = p0.crossJoin(broadcast(ks))
      // cumulative AFTER the quantile cross join so the running sum is
      // q-partitioned — no unpartitioned window anywhere in the op
      .withColumn("cum",
        sum("cnt").over(Window.partitionBy("q").orderBy("b0")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum") >= col("k"))
      .withColumn("rnb", row_number().over(Window.partitionBy("q").orderBy("b0")))
      .filter(col("rnb") === 1)
      .select(col("q"), col("k"), col("b0"),
        (col("cum") - col("cnt")).as("cum_before"))
      .sharedCache()
    cum0.count() // 3 rows; probed twice below
    val exact = li
      .join(broadcast(cum0), expr(s"cents div $W0") === col("b0"))
      .withColumn("rn", row_number().over(Window.partitionBy("q").orderBy("cents")))
      .filter(col("rn") === col("k") - col("cum_before"))
      .select(col("q"), col("cents").as("exact_cents"))
    est.join(exact, Seq("q"))
      .select(col("w"), col("q"), col("est_cents"), col("exact_cents"),
        (col("exact_cents") - col("est_cents")).as("gap_cents"))
      .withColumn("gap_ok", col("gap_cents") >= 0L && col("gap_cents") < col("w"))
      .withColumn("gap_permille_of_bound",
        expr("gap_cents * 1000L div w"))
      .orderBy("w", "q")
  }

  val aggHistogramWidthCurveSql: String =
    s"""WITH li AS (
       |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM lineitem),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM li),
       |p0 AS (SELECT cents // $W0 AS b0, CAST(count(*) AS BIGINT) AS cnt
       |       FROM li GROUP BY cents // $W0),
       |widths AS (SELECT CAST(w AS BIGINT) AS w
       |           FROM (VALUES ($W0), (${W0 * 2}), (${W0 * 4}), (${W0 * 8}), (${W0 * 16})) AS t(w)),
       |pw AS (SELECT w, b0 // (w // $W0) AS bw, CAST(sum(cnt) AS BIGINT) AS cnt
       |       FROM p0 CROSS JOIN widths GROUP BY w, b0 // (w // $W0)),
       |cum AS (SELECT w, bw, cnt,
       |               sum(cnt) OVER (PARTITION BY w ORDER BY bw
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |        FROM pw),
       |ks AS (SELECT CAST(q AS BIGINT) AS q,
       |              CAST(ceil(q * n.n / 100.0) AS BIGINT) AS k
       |       FROM (VALUES (50), (90), (99)) AS t(q) CROSS JOIN n),
       |est AS (
       |  SELECT c.w, ks.q, ks.k, min(c.bw) * c.w AS est_cents
       |  FROM cum c JOIN ks ON c.cum >= ks.k
       |  GROUP BY c.w, ks.q, ks.k),
       |ranked AS (
       |  SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM li)
       |SELECT est.w, est.q, est.est_cents, r.cents AS exact_cents,
       |       r.cents - est.est_cents AS gap_cents,
       |       r.cents - est.est_cents >= 0 AND r.cents - est.est_cents < est.w AS gap_ok,
       |       (r.cents - est.est_cents) * 1000 // est.w AS gap_permille_of_bound
       |FROM est JOIN ranked r ON r.rn = est.k
       |ORDER BY w, q""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-histogram-width-curve", aggHistogramWidthCurve, aggHistogramWidthCurveSql))
}
