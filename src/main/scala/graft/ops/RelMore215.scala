package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-11 batch E: mergeable-histogram quantiles — the third leg of
  * the materialized-layer trio (algebraic states: agg-mv-delta-refresh;
  * distinct sketches: agg-kmv-rolling-merge; rank statistics: here). */
object RelMore215 extends KeyModule {

  private val W = 65536L // bucket width in cents; price domain ≲ 11.2M cents → ≤ ~172 buckets

  /** agg-histogram-quantile-merge — rolling quantiles from mergeable
    * equi-width histogram partials. Exact quantiles are HOLISTIC (no
    * algebraic merge exists), so the lake keeps per-month bucket-count
    * partials — (month, bucket, cnt), ≤ |months|·|buckets| rows
    * whatever the fact size — and answers a 3-month rolling p50/p90/p99
    * by SUMMING partials over the window and walking the merged
    * cumulative histogram: est = lower bound of the first bucket whose
    * running count reaches k = ceil(q·n/100). The op emits est next to
    * the EXACT k-th smallest (recomputed from raw rows, the rescan the
    * partials replace) and their gap, which is < bucket width BY
    * CONSTRUCTION (the k-th element lives inside the chosen bucket) —
    * the error contract is structural, not sampled, and `gap_ok`
    * asserts it per row. SCALE: the merge pass touches only partials
    * (histogram rows), summed per window with one partitioned
    * cumulative-sum window; the exact leg exists here to GRADE the
    * estimate and is the O(fact) cost a production pipeline skips —
    * same honest-twin shape as agg-kmv-rolling-merge's exact column.
    * Bucket width trades partial size for error bound: W=65536 cents
    * (~$655) on a ≤$112k domain is ≤172 buckets/month.
    * COST CONTRACT (measured, sf0.1 local[32]): window membership is
    * EXPANDED (explode to the 3 owning windows, a projection + hash
    * agg), never range-joined (BNLJ paid |rows|×|months| predicate
    * evals — measured 4.6 s steady); the exact leg semi-join-prunes to
    * the hot buckets before expanding. ~2.5 s steady, of which the li
    * cache fill is the floor. */
  val aggHistogramQuantileMerge: Q = (s, d) => {
    import s.implicits._
    val qs = Seq(50L, 90L, 99L)
    val li = lineitem(s, d).select(
        to_date(date_trunc("month", col("l_shipdate"))).as("m"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .sharedCache()
    li.count() // single-stage fill: li feeds partials, months AND the exact leg
    // the stored layer: per-month equi-width bucket counts
    val partial = li.groupBy(col("m"), expr(s"cents div $W").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val months = li.select("m").distinct()
    // merge: sum partial counts over each 3-month window. The window
    // membership is EXPANDED, not range-joined: each partial row lands
    // in exactly the 3 windows [m, m+2mo] via explode(array(...)), a
    // projection — where a broadcast range join (non-equi → BNLJ) paid
    // |partials|×|months| predicate evals, this pays 3×|partials| rows
    // and a hash aggregate. Phantom windows past the last month are
    // cut by a broadcast semi join on the month dim.
    def toWindows(df: DataFrame): DataFrame = df
      .withColumn("wm", explode(array(
        col("m"), add_months(col("m"), 1), add_months(col("m"), 2))))
      .join(broadcast(months.withColumnRenamed("m", "wm")), Seq("wm"),
        "left_semi")
    val merged = toWindows(partial)
      .groupBy(col("wm"), col("bucket"))
      .agg(sum("cnt").as("cnt"))
      .sharedCache()
    merged.count() // fills once; consumed by the cum walk and the totals
    val totals = merged.groupBy("wm").agg(sum("cnt").as("n"))
    val cum = merged.withColumn("cum",
      sum("cnt").over(Window.partitionBy("wm").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val ks = totals.crossJoin(broadcast(
        qs.toDF("q")))
      .withColumn("k", expr("CAST(ceil(q * n / 100.0) AS BIGINT)"))
    // est = first bucket whose running count >= k, carried WITH its
    // cumulative-before so the exact leg below knows the in-bucket rank
    val est = cum.join(ks, Seq("wm"))
      .filter(col("cum") >= col("k"))
      .withColumn("rnb",
        row_number().over(Window.partitionBy("wm", "q").orderBy("bucket")))
      .filter(col("rnb") === 1)
      .select(col("wm"), col("q"), col("k"), col("n"),
        col("bucket").as("bkt"),
        (col("cum") - col("cnt")).as("cum_before"))
      .withColumn("est_cents", expr(s"bkt * $W"))
      .sharedCache()
    est.count() // tiny (|windows|×|qs|); feeds the exact probe twice
    // exact leg: the merged histogram NARROWS the k-th element to one
    // bucket (the classic two-pass exact quantile) — only rows landing
    // in the chosen (window, bucket) are ranked, ~n/|buckets| rows per
    // group instead of a corpus-wide window sort. This is the partials
    // paying for their own verification: no full-window rank anywhere.
    val exact = li
      // prune to the ≤|windows|·|qs| hot buckets BEFORE the 3× window
      // expansion — rows outside every chosen bucket can never be a
      // graded k-th element
      .join(broadcast(est.select(col("bkt")).distinct()),
        expr(s"cents div $W") === col("bkt"), "left_semi")
      .transform(toWindows)
      .select(col("wm"), col("cents"))
      .join(broadcast(est.select("wm", "q", "k", "bkt", "cum_before")),
        Seq("wm"))
      .filter(expr(s"cents div $W") === col("bkt"))
      .withColumn("rn",
        row_number().over(Window.partitionBy("wm", "q").orderBy("cents")))
      .filter(col("rn") === col("k") - col("cum_before"))
      .select(col("wm"), col("q"), col("cents").as("exact_cents"))
    est.join(exact, Seq("wm", "q"))
      .select(col("wm").as("m"), col("q"), col("n"),
        col("est_cents"), col("exact_cents"),
        (col("exact_cents") - col("est_cents")).as("gap_cents"))
      .withColumn("gap_ok", col("gap_cents") >= 0L && col("gap_cents") < lit(W))
      .orderBy("m", "q")
  }

  val aggHistogramQuantileMergeSql: String =
    s"""WITH li AS (
       |  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS m,
       |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM lineitem),
       |partial AS (
       |  SELECT m, cents // $W AS bucket, CAST(count(*) AS BIGINT) AS cnt
       |  FROM li GROUP BY m, cents // $W),
       |months AS (SELECT DISTINCT m FROM li),
       |merged AS (
       |  SELECT w.m AS wm, p.bucket, CAST(sum(p.cnt) AS BIGINT) AS cnt
       |  FROM months w JOIN partial p
       |    ON p.m BETWEEN w.m - INTERVAL 2 MONTH AND w.m
       |  GROUP BY w.m, p.bucket),
       |totals AS (SELECT wm, CAST(sum(cnt) AS BIGINT) AS n FROM merged GROUP BY wm),
       |cum AS (
       |  SELECT wm, bucket,
       |         sum(cnt) OVER (PARTITION BY wm ORDER BY bucket
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM merged),
       |ks AS (
       |  SELECT t.wm, q.q, t.n, CAST(ceil(q.q * t.n / 100.0) AS BIGINT) AS k
       |  FROM totals t CROSS JOIN (VALUES (50), (90), (99)) AS q(q)),
       |est AS (
       |  SELECT c.wm, ks.q, ks.k, ks.n, min(c.bucket) * $W AS est_cents
       |  FROM cum c JOIN ks ON ks.wm = c.wm AND c.cum >= ks.k
       |  GROUP BY c.wm, ks.q, ks.k, ks.n),
       |ranked AS (
       |  SELECT w.m AS wm, li.cents,
       |         row_number() OVER (PARTITION BY w.m ORDER BY li.cents) AS rn
       |  FROM months w JOIN li
       |    ON li.m BETWEEN w.m - INTERVAL 2 MONTH AND w.m)
       |SELECT est.wm AS m, CAST(est.q AS BIGINT) AS q, est.n,
       |       est.est_cents, r.cents AS exact_cents,
       |       r.cents - est.est_cents AS gap_cents,
       |       r.cents - est.est_cents >= 0 AND r.cents - est.est_cents < $W AS gap_ok
       |FROM est JOIN ranked r ON r.wm = est.wm AND r.rn = est.k
       |ORDER BY m, q""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-histogram-quantile-merge", aggHistogramQuantileMerge, aggHistogramQuantileMergeSql))
}
