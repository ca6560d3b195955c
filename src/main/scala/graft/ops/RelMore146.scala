package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch AU: adstock decay grid fit, Poisson rate test,
  * erasure-coding layout model, largest-remainder apportionment. */
object RelMore146 extends KeyModule {

  /** agg-adstock-fit — geometric adstock calibration by grid search:
    * for λ ∈ {0.1, 0.3, 0.5, 0.7, 0.9}, transform daily shipped
    * quantity through the bounded 8-lag carryover Σλᵏx_{t−k} and
    * correlate with same-day revenue; the λ that maximizes |r| is
    * the memory length of demand (λ→0: revenue tracks today's
    * volume; λ→0.9: weeks of carryover). The marketing-mix primitive
    * missing between agg-cross-correlation (which lags, but doesn't
    * DECAY) and win-ewma (which decays, but fixed weights). Bounded
    * lags keep the window state O(8) per row (the winEwma scale
    * contract); adstock values are micro-floored before the moment
    * fold, so each λ's correlation is built from exact integers;
    * the winner is an integer-quantized argmax with λ tiebreak. */
  val aggAdstockFit: Q = (s, d) => {
    val rev = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
        .as("y"))
    val qty = lineitem(s, d)
      .groupBy(to_date(col("l_shipdate")).as("dt"))
      .agg(sum(expr("CAST(l_quantity AS BIGINT)")).as("x"))
    val w = Window.orderBy("dt")
    val lagCols = Seq(col("dt"), col("y"), col("x")) ++
      (0 to 7).map(k => lag("x", k).over(w).as(s"x$k"))
    val lagged = rev.join(qty, Seq("dt"))
      .select(lagCols: _*)
      .filter(col("x7").isNotNull)
      .sharedCache()
    val lambdas = Seq(0.1, 0.3, 0.5, 0.7, 0.9)
    // the y-moments are λ-independent: fold them once, join to every
    // λ's adstock moments
    val syy = lagged.agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
      sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
      sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
    val perLambda = lambdas.map { lam =>
      val ad = (0 to 7).map(k => coalesce(col(s"x$k"), lit(0L)).cast(DoubleType) *
        lit(math.pow(lam, k))).reduce(_ + _)
      lagged.select(floor(ad * lit(1e6)).cast(LongType).as("aq"), col("y"))
        .agg(sum(expr("CAST(aq AS DECIMAL(38,0))")).as("sa"),
          sum(expr("CAST(aq AS DECIMAL(38,0)) * aq")).as("saa"),
          sum(expr("CAST(aq AS DECIMAL(38,0)) * y")).as("say"))
        .select(lit(lam).as("lambda"), col("sa"), col("saa"), col("say"))
    }.reduce(_ unionAll _)
    perLambda.crossJoin(broadcast(syy))
      .select(col("lambda"),
        round((col("n") * col("say") - col("sa") * col("sy")).cast(DoubleType) /
          sqrt((col("n") * col("saa") - col("sa") * col("sa")).cast(DoubleType) *
            (col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType)), 6)
          .as("correlation"))
      .withColumn("rq", floor(abs(col("correlation")) * lit(1e6)).cast(LongType))
      .withColumn("mx", max("rq").over(Window.partitionBy()))
      .withColumn("best", col("rq") === col("mx") &&
        col("lambda") === min(when(col("rq") === col("mx"), col("lambda")))
          .over(Window.partitionBy()))
      .select(col("lambda"), col("correlation"), col("best"))
      .orderBy("lambda")
  }

  val aggAdstockFitSql: String = {
    val lambdas = Seq(0.1, 0.3, 0.5, 0.7, 0.9)
    def adExpr(lam: Double) =
      (0 to 7).map(k => s"coalesce(x$k, 0) * pow($lam, $k)").mkString(" + ")
    val perLambda = lambdas.map { lam =>
      s"""SELECT $lam AS lambda,
         |       CAST(sum(CAST(aq AS HUGEINT)) AS HUGEINT) AS sa,
         |       CAST(sum(CAST(aq AS HUGEINT) * aq) AS HUGEINT) AS saa,
         |       CAST(sum(CAST(aq AS HUGEINT) * y) AS HUGEINT) AS say
         |FROM (SELECT CAST(floor((${adExpr(lam)}) * 1e6) AS BIGINT) AS aq, y
         |      FROM lagged) t""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH rev AS (
       |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
       |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
       |              AS HUGEINT) AS y
       |  FROM orders GROUP BY 1),
       |qty AS (
       |  SELECT CAST(date_trunc('day', l_shipdate) AS DATE) AS dt,
       |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x
       |  FROM lineitem GROUP BY 1),
       |lagged AS MATERIALIZED (
       |  SELECT dt, y, x,
       |         lag(x, 0) OVER (ORDER BY dt) AS x0, lag(x, 1) OVER (ORDER BY dt) AS x1,
       |         lag(x, 2) OVER (ORDER BY dt) AS x2, lag(x, 3) OVER (ORDER BY dt) AS x3,
       |         lag(x, 4) OVER (ORDER BY dt) AS x4, lag(x, 5) OVER (ORDER BY dt) AS x5,
       |         lag(x, 6) OVER (ORDER BY dt) AS x6, lag(x, 7) OVER (ORDER BY dt) AS x7
       |  FROM rev JOIN qty USING (dt)
       |  QUALIFY lag(x, 7) OVER (ORDER BY dt) IS NOT NULL),
       |syy AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(y) AS HUGEINT) AS sy,
       |         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
       |  FROM lagged),
       |per_lambda AS (
       |$perLambda
       |),
       |corr AS (
       |  SELECT lambda,
       |         round(CAST(n * say - sa * sy AS DOUBLE) /
       |               sqrt(CAST(n * saa - sa * sa AS DOUBLE) *
       |                    CAST(n * syy - sy * sy AS DOUBLE)), 6) AS correlation,
       |         CAST(floor(abs(CAST(n * say - sa * sy AS DOUBLE) /
       |               sqrt(CAST(n * saa - sa * sa AS DOUBLE) *
       |                    CAST(n * syy - sy * sy AS DOUBLE))) * 1e6) AS BIGINT) AS rq
       |  FROM per_lambda CROSS JOIN syy)
       |, staged AS (
       |  SELECT lambda, correlation, rq, max(rq) OVER () AS mx FROM corr)
       |SELECT lambda, correlation,
       |       rq = mx AND
       |       lambda = min(CASE WHEN rq = mx THEN lambda END) OVER () AS best
       |FROM staged
       |ORDER BY lambda""".stripMargin
  }

  /** dq-poisson-rate-test — two-rate Poisson comparison of error
    * events between the two halves of the observation window (exact
    * micros midpoint): under H₀ equal rates, k₁|k₁+k₂ is
    * Binomial(k, ½), so z = (k₁−k₂)/√(k₁+k₂). The COUNT-process
    * complement to dq-mcnemar-paired (which pairs users) — this
    * tests the aggregate arrival rate itself, the alarm for "did
    * the error rate move between deploy windows". Pure integers to
    * the final sqrt. */
  val dqPoissonRateTest: Q = (s, d) => {
    val ev = events(s, d).select(col("event_type"), unix_micros(col("ts")).as("us"))
      .sharedCache()
    val span = ev.agg(((min("us") + max("us")) - pmod(min("us") + max("us"), lit(2L)))
      .divide(lit(2L)).cast(LongType).as("mid"))
    val cells = ev.crossJoin(broadcast(span))
      .filter(col("event_type") === "error")
      .agg(sum(when(col("us") < col("mid"), 1L).otherwise(0L)).as("k1"),
        sum(when(col("us") >= col("mid"), 1L).otherwise(0L)).as("k2"))
    cells.select(col("k1").as("errors_h1"), col("k2").as("errors_h2"),
        round((col("k1") - col("k2")).cast(DoubleType) /
          sqrt((col("k1") + col("k2")).cast(DoubleType)), 4).as("z_stat"),
        ratioFloor(col("k1").cast(DoubleType), col("k1") + col("k2"), 6)
          .as("h1_share"))
      .withColumn("rate_changed", abs(col("z_stat")) > lit(1.96))
  }

  val dqPoissonRateTestSql: String =
    """WITH ev AS MATERIALIZED (
      |  SELECT event_type, epoch_us(date_trunc('microseconds', ts)) AS us FROM events),
      |span AS (
      |  SELECT ((min(us) + max(us)) - ((min(us) + max(us)) % 2)) // 2 AS mid FROM ev),
      |cells AS (
      |  SELECT CAST(sum(CASE WHEN us < mid THEN 1 ELSE 0 END) AS BIGINT) AS k1,
      |         CAST(sum(CASE WHEN us >= mid THEN 1 ELSE 0 END) AS BIGINT) AS k2
      |  FROM ev CROSS JOIN span WHERE event_type = 'error')
      |SELECT k1 AS errors_h1, k2 AS errors_h2,
      |       round(CAST(k1 - k2 AS DOUBLE) / sqrt(CAST(k1 + k2 AS DOUBLE)), 4) AS z_stat,
      |       floor(CAST(k1 AS DOUBLE) * 1e6 / (k1 + k2)) / 1e6 AS h1_share,
      |       abs(round(CAST(k1 - k2 AS DOUBLE) / sqrt(CAST(k1 + k2 AS DOUBLE)), 4)) > 1.96
      |         AS rate_changed
      |FROM cells""".stripMargin

  /** mm-erasure-layout-model — Reed-Solomon stripe layout priced on
    * the real payload-size distribution: for (k, m) ∈ {(4,2), (8,3),
    * (10,4)} with 4 KiB chunks, each document's payload stripes into
    * ⌈chunks/k⌉ groups carrying m parity chunks each, giving exact
    * totals for storage overhead and the single-chunk rebuild read
    * cost (k reads per lost chunk). The analytic sibling of
    * sink-cow-write-amplification and layout-delta-varint-size —
    * layout decisions priced from data-shape arithmetic BEFORE any
    * bytes move; small objects are the interesting case (a 1-chunk
    * doc under (10,4) pays 4× parity), which is why the model runs
    * on the corpus instead of a synthetic mean. All integer
    * arithmetic; one aggregate per config via explode. */
  val mmErasureLayoutModel: Q = (s, d) => {
    val docs = documents(s, d)
      .select(expr("(n_chars + 255) div 256").as("chunks"))
      .select(col("chunks"),
        explode(expr("array(struct(4 AS k, 2 AS m), struct(8 AS k, 3 AS m), " +
          "struct(10 AS k, 4 AS m))")).as("cfg"))
      .select(col("chunks"), col("cfg.k").as("k"), col("cfg.m").as("m"))
      .withColumn("stripes", expr("(chunks + k - 1) div k"))
      .withColumn("parity", col("stripes") * col("m"))
    docs.groupBy("k", "m")
      .agg(count(lit(1)).as("n_docs"), sum("chunks").as("data_chunks"),
        sum("parity").as("parity_chunks"))
      .select(col("k"), col("m"), col("n_docs"), col("data_chunks"),
        col("parity_chunks"),
        ratioFloor(col("parity_chunks").cast(DoubleType), col("data_chunks"), 6)
          .as("storage_overhead"),
        // one lost chunk costs k reads; expected rebuild reads per
        // stored chunk = k·(data+parity)/(data+parity) = k — report the
        // fleet-level rebuild read total for one full-disk loss share
        (col("k") * (col("data_chunks") + col("parity_chunks"))).as("rebuild_reads_full"))
      .orderBy("k")
  }

  val mmErasureLayoutModelSql: String =
    """WITH docs AS (
      |  SELECT (n_chars + 255) // 256 AS chunks FROM documents),
      |cfg AS (SELECT * FROM (VALUES (4, 2), (8, 3), (10, 4)) AS t(k, m)),
      |expanded AS (
      |  SELECT chunks, k, m, (chunks + k - 1) // k AS stripes,
      |         ((chunks + k - 1) // k) * m AS parity
      |  FROM docs CROSS JOIN cfg)
      |SELECT k, m, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(chunks) AS BIGINT) AS data_chunks,
      |       CAST(sum(parity) AS BIGINT) AS parity_chunks,
      |       floor(CAST(sum(parity) AS DOUBLE) * 1e6 / sum(chunks)) / 1e6
      |         AS storage_overhead,
      |       CAST(k * (sum(chunks) + sum(parity)) AS BIGINT) AS rebuild_reads_full
      |FROM expanded GROUP BY k, m
      |ORDER BY k""".stripMargin

  /** agg-largest-remainder-apportion — Hamilton (largest-remainder)
    * apportionment of 10000 basis points across brands by revenue:
    * each brand gets ⌊share·10000⌋, and the leftover seats go to the
    * largest fractional remainders (revenue tiebreak, then brand).
    * Independent roundings of shares NEVER sum to exactly 100% — the
    * classic dashboard bug this op solves exactly: the output is
    * GUARANTEED to total 10000, with the apportionment decided by
    * exact integer remainder comparisons (remainder of share·10000 =
    * rev·10000 mod total — no floating shares anywhere). One
    * aggregate + one 25-row rank window. */
  val aggLargestRemainderApportion: Q = (s, d) => {
    val rev = lineitem(s, d)
      .join(part(s, d).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
        .as("rev"))
      .sharedCache()
    val tot = rev.agg(sum("rev").as("t"))
    val based = rev.crossJoin(broadcast(tot))
      .select(col("brand"), col("rev"),
        expr("CAST((rev * 10000 - pmod(rev * 10000, t)) / t AS DECIMAL(38,0))")
          .cast(LongType).as("base_bp"),
        expr("pmod(rev * 10000, t)").as("rem"))
      .sharedCache()
    val short = based.agg((lit(10000) - sum("base_bp")).as("left_over"))
    val ranked = based.crossJoin(broadcast(short))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("rev").desc, col("brand"))))
      .select(col("brand"), col("rev"), col("base_bp"),
        (col("base_bp") + when(col("rk") <= col("left_over"), 1L).otherwise(0L))
          .as("apportioned_bp"))
    ranked.select(col("brand"), col("apportioned_bp"),
        round(col("apportioned_bp").cast(DoubleType) / 100, 2).as("share_pct"))
      .orderBy("brand")
  }

  val aggLargestRemainderApportionSql: String =
    """WITH rev AS MATERIALIZED (
      |  SELECT p_brand AS brand,
      |         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS rev
      |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1),
      |tot AS (SELECT CAST(sum(rev) AS HUGEINT) AS t FROM rev),
      |based AS MATERIALIZED (
      |  SELECT brand, rev,
      |         CAST((rev * 10000) // t AS BIGINT) AS base_bp,
      |         (rev * 10000) % t AS rem
      |  FROM rev CROSS JOIN tot),
      |short AS (SELECT 10000 - CAST(sum(base_bp) AS BIGINT) AS left_over FROM based),
      |ranked AS (
      |  SELECT brand, base_bp,
      |         row_number() OVER (ORDER BY rem DESC, rev DESC, brand) AS rk, left_over
      |  FROM based CROSS JOIN short)
      |SELECT brand,
      |       base_bp + CASE WHEN rk <= left_over THEN 1 ELSE 0 END AS apportioned_bp,
      |       round(CAST(base_bp + CASE WHEN rk <= left_over THEN 1 ELSE 0 END AS DOUBLE)
      |             / 100, 2) AS share_pct
      |FROM ranked ORDER BY brand""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-adstock-fit", aggAdstockFit, aggAdstockFitSql),
    Key("dq-poisson-rate-test", dqPoissonRateTest, dqPoissonRateTestSql),
    Key("mm-erasure-layout-model", mmErasureLayoutModel, mmErasureLayoutModelSql),
    Key("agg-largest-remainder-apportion", aggLargestRemainderApportion, aggLargestRemainderApportionSql))
}
