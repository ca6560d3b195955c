package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-8 batch B: seasonal decomposition, calendar-aware growth,
  * drawdown, series-completeness gaps, rolling anomaly z-score,
  * kNN out-of-distribution scoring. */
object RelMore58 extends KeyModule {

  /** Daily order counts with exact n-scaled machinery shared by the
    * decomposition ops. */
  private def dailyCounts(s: SparkSession, d: String): DataFrame =
    orders(s, d).groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("x"))

  /** win-seasonal-decompose — classical seasonal decomposition of the
    * daily order series at weekly period: trend = centered 7-day moving
    * average, seasonal index = per-day-of-week mean of the detrended
    * series. Everything stays in ×7-scaled integers (detr = 7·x − Σ₇x)
    * so the decomposition is exact until the one final division per
    * weekday. Day-of-week comes from day-difference arithmetic against
    * a known Monday, NOT the engines' dayofweek() (whose numbering
    * conventions disagree). Edge days without a full 7-day window are
    * excluded (count == 7 guard) exactly like a centered MA should.
    * Scale: one daily rollup, one calendar-bounded window, one 7-row
    * aggregate. */
  val winSeasonalDecompose: Q = (s, d) => {
    val w = Window.orderBy("day").rowsBetween(-3, 3)
    dailyCounts(s, d)
      .withColumn("tsum", sum(col("x")).over(w))
      .withColumn("tn", count(lit(1)).over(w))
      .filter(col("tn") === 7)
      .select(pmod(datediff(col("day"), to_date(lit("1995-01-02"))), lit(7)).as("dow_monday0"),
        (col("x") * 7 - col("tsum")).as("detr7"))
      .groupBy("dow_monday0")
      .agg(count(lit(1)).as("n_days"), sum(col("detr7")).as("sum_detr7"))
      .select(col("dow_monday0").cast(IntegerType).as("dow_monday0"), col("n_days"),
        ratioFloor(col("sum_detr7"), col("n_days") * 7, 6).as("seasonal"))
      .orderBy("dow_monday0")
  }

  val winSeasonalDecomposeSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS x FROM orders GROUP BY 1),
       |ma AS (
       |  SELECT day, x,
       |         sum(x) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS tsum,
       |         count(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS tn
       |  FROM daily),
       |detr AS (
       |  SELECT ((day - DATE '1995-01-02') % 7 + 7) % 7 AS dow_monday0,
       |         x * 7 - tsum AS detr7
       |  FROM ma WHERE tn = 7)
       |SELECT CAST(dow_monday0 AS INT) AS dow_monday0, count(*) AS n_days,
       |       ${ratioFloorSql("sum(detr7)", "(count(*) * 7)", 6)} AS seasonal
       |FROM detr
       |GROUP BY dow_monday0
       |ORDER BY dow_monday0""".stripMargin

  /** agg-yoy-growth — year-over-year monthly revenue growth, the
    * calendar-aware self-join every BI layer runs: month m joins month
    * m−12 on an integer month id (year·12+month — an EQUI key, never
    * interval arithmetic in the join condition). Revenue stays in exact
    * cents; growth is the one floored division. First-year months have
    * no base and drop, as YoY must. */
  val aggYoyGrowth: Q = (s, d) => {
    val monthly = orders(s, d)
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("mid"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("rev_cents"))
    monthly.join(
        monthly.select((col("mid") + 12).as("mid"), col("rev_cents").as("prev_cents")),
        Seq("mid"))
      .select(col("month"), col("rev_cents"), col("prev_cents"),
        ratioFloor(col("rev_cents") - col("prev_cents"), col("prev_cents"), 6).as("yoy"))
      .orderBy("month")
  }

  val aggYoyGrowthSql: String =
    s"""WITH monthly AS (
       |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS mid,
       |         strftime(o_orderdate, '%Y-%m') AS month,
       |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev_cents
       |  FROM orders GROUP BY 1, 2)
       |SELECT a.month, a.rev_cents, b.rev_cents AS prev_cents,
       |       ${ratioFloorSql("(a.rev_cents - b.rev_cents)", "b.rev_cents", 6)} AS yoy
       |FROM monthly a JOIN monthly b ON b.mid + 12 = a.mid
       |ORDER BY a.month""".stripMargin

  /** win-drawdown — maximum-drawdown localization on the cumulative
    * daily revenue curve: dd(t) = runmax(cum) − cum(t), reported for
    * the 5 worst days. The canonical running-max-minus-running-value
    * pattern (finance drawdown, SLA burn-down, inventory shortfall) in
    * exact cents — two stacked windows over the calendar-bounded daily
    * aggregate, zero float ops. */
  val winDrawdown: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .as("rev_cents"))
    // center the daily revenue so the cumulative curve can actually
    // fall: cumulative raw revenue is monotone (revenue is positive),
    // which would make drawdown identically 0 — the curve of interest
    // is performance RELATIVE to the long-run daily mean, in n-scaled
    // exact cents (same discipline as dailyCentered)
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("rev_cents")).as("srev"))
    val cent = daily.crossJoin(broadcast(tot))
      .select(col("day"), (col("rev_cents") * col("n") - col("srev")).as("c"))
    // cumulative curve + running peak via PrefixScan (r11): two
    // distributed prefix passes (cumsum, then runmax OF the cumsum —
    // a genuine sequential dependency, so it is a second scan by
    // construction) replace the unpartitioned windows' single-task
    // global sorts; the top-5 rank is stamped by a third PrefixScan
    // over the ≤5-row post-limit frame instead of a row_number window
    val cum = graft.functions.PrefixScan
      .withRankCumSum(cent, Seq(col("day")), Some("c"),
        rankName = "rn_", cumName = "cum").df
    val top = graft.functions.PrefixScan
      .withRunningMax(cum, Seq(col("day")), "cum", "runmax", inclusive = true).df
      .withColumn("dd_scaled", col("runmax") - col("cum"))
      .orderBy(col("dd_scaled").desc, col("day").asc)
      .limit(5)
    graft.functions.PrefixScan
      .withRankCumSum(top, Seq(col("dd_scaled").desc, col("day").asc), None,
        rankName = "rk_").df
      .select(col("rk_").cast(IntegerType).as("rk"), col("day"), col("dd_scaled"))
      .orderBy("rk")
  }

  val winDrawdownSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev_cents
      |  FROM orders GROUP BY 1),
      |tot AS (SELECT count(*) AS n, sum(rev_cents) AS srev FROM daily),
      |curve AS (
      |  SELECT day,
      |         sum(rev_cents * n - srev) OVER (ORDER BY day
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM daily CROSS JOIN tot),
      |dd AS (
      |  SELECT day,
      |         max(cum) OVER (ORDER BY day
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cum AS dd_scaled
      |  FROM curve)
      |SELECT CAST(row_number() OVER (ORDER BY dd_scaled DESC, day) AS INT) AS rk,
      |       day, CAST(dd_scaled AS BIGINT) AS dd_scaled
      |FROM dd
      |ORDER BY dd_scaled DESC, day
      |LIMIT 5""".stripMargin

  /** dq-calendar-gaps — series-completeness audit at minute grain: how
    * many of each day's 1440 minute slots carry NO event. Missing slots
    * are invisible to every aggregate (you cannot GROUP BY what is not
    * there) — the generated calendar anti-joined against observed slots
    * is the only way to see them, and the per-day missing count is the
    * ingestion-health metric a 100 TB/day feed alarm reads. The
    * calendar explodes from the corpus min/max (no hard-coded span);
    * observed slots are one distinct over the stream. */
  val dqCalendarGaps: Q = (s, d) => {
    val ev = events(s, d)
    val bounds = ev.agg(
      expr("date_trunc('minute', min(ts))").as("lo"),
      expr("date_trunc('minute', max(ts))").as("hi"))
    val calendar = bounds.select(
      explode(expr("sequence(lo, hi, interval 1 minute)")).as("slot"))
    val observed = ev.select(expr("date_trunc('minute', ts)").as("slot")).distinct()
    calendar.join(observed, Seq("slot"), "left_anti")
      .groupBy(to_date(col("slot")).as("day"))
      .agg(count(lit(1)).as("missing_minutes"))
      .orderBy("day")
  }

  val dqCalendarGapsSql: String =
    """WITH bounds AS (
      |  SELECT date_trunc('minute', min(ts)) AS lo,
      |         date_trunc('minute', max(ts)) AS hi
      |  FROM events),
      |calendar AS (
      |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS slot FROM bounds),
      |observed AS (SELECT DISTINCT date_trunc('minute', ts) AS slot FROM events)
      |SELECT CAST(c.slot AS DATE) AS day, count(*) AS missing_minutes
      |FROM calendar c ANTI JOIN observed o ON o.slot = c.slot
      |GROUP BY 1
      |ORDER BY day""".stripMargin

  /** win-rolling-zscore — trailing-window anomaly score on the daily
    * order series: z(t) = (29·x_t − Σ₂₉x)/√(29·Σ₂₉x² − (Σ₂₉x)²) over
    * the trailing 29 days — the n-scaled algebra keeps numerator and
    * the radicand EXACT integers, so the only float ops are one sqrt
    * and one floored division (bit-identical across engines). This is
    * the rolling refinement of dq-anomaly-zscore's global gate: a
    * level-shifted series re-baselines itself after the window passes,
    * which a global mean never does. Top-10 |z| days reported; partial
    * leading windows are excluded (count == 29). */
  val winRollingZscore: Q = (s, d) => {
    val w = Window.orderBy("day").rowsBetween(-28, 0)
    dailyCounts(s, d)
      .withColumn("s1", sum(col("x")).over(w))
      .withColumn("s2", sum(col("x") * col("x")).over(w))
      .withColumn("wn", count(lit(1)).over(w))
      .filter(col("wn") === 29)
      .withColumn("rad", col("s2") * 29 - col("s1") * col("s1"))
      .filter(col("rad") > 0)
      .withColumn("z", floor((col("x") * 29 - col("s1")).cast(DoubleType) * lit(1000000.0)
        / sqrt(col("rad").cast(DoubleType))) / lit(1000000.0))
      .orderBy(abs(col("z")).desc, col("day").asc)
      .limit(10)
      .withColumn("rk", row_number().over(
        Window.orderBy(abs(col("z")).desc, col("day").asc)).cast(IntegerType))
      .select(col("rk"), col("day"), col("x"), col("z"))
      .orderBy("rk")
  }

  val winRollingZscoreSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS x FROM orders GROUP BY 1),
      |roll AS (
      |  SELECT day, x,
      |         sum(x) OVER (ORDER BY day ROWS BETWEEN 28 PRECEDING AND CURRENT ROW) AS s1,
      |         sum(x * x) OVER (ORDER BY day ROWS BETWEEN 28 PRECEDING AND CURRENT ROW) AS s2,
      |         count(*) OVER (ORDER BY day ROWS BETWEEN 28 PRECEDING AND CURRENT ROW) AS wn
      |  FROM daily),
      |scored AS (
      |  SELECT day, x,
      |         floor(CAST(x * 29 - s1 AS DOUBLE) * 1000000.0
      |               / sqrt(CAST(s2 * 29 - s1 * s1 AS DOUBLE))) / 1000000.0 AS z
      |  FROM roll WHERE wn = 29 AND s2 * 29 - s1 * s1 > 0)
      |SELECT CAST(row_number() OVER (ORDER BY abs(z) DESC, day) AS INT) AS rk,
      |       day, x, z
      |FROM scored
      |ORDER BY abs(z) DESC, day
      |LIMIT 10""".stripMargin

  /** emb-knn-ood — k-nearest-neighbor out-of-distribution scoring, the
    * embedding-space data-curation gate: distance to the 5th-nearest
    * vector of an in-distribution REFERENCE set (labels 0–4) scores
    * every candidate (labels 5–9); the highest scores are the vectors
    * least like anything seen — the ones a training-data pipeline
    * routes to review before they poison a fine-tune. Brute force here
    * is the audit-sized truth pass (|ref|×|cand| bounded by the label
    * split); the 100 TB path replaces the cross join with the ann-ivf
    * bucket probe, same scoring tail. Same micro-quant + identical
    * dot-product fold as the rest of the emb family. */
  val embKnnOod: Q = (s, d) => {
    graft.functions.DotProduct.register(s)
    val base = embeddings(s, d).select(col("vec_id"), col("label"),
      expr("quantize_lattice_long(embedding, 1000000.0D)").as("xi"))
      .withColumn("v", expr("transform(xi, x -> CAST(x AS DOUBLE))"))
    val ref = base.filter(col("label") <= 4)
      .select(col("vec_id").as("ref_id"), col("v").as("rv"))
    val cand = base.filter(col("label") >= 5)
      .select(col("vec_id"), col("label"), col("v"))
    val scored = cand.crossJoin(broadcast(ref))
      .select(col("vec_id"), col("label"), col("ref_id"),
        expr("dot_product(v, v) - 2 * dot_product(v, rv) + dot_product(rv, rv)").as("dist2"))
    val w = Window.partitionBy("vec_id").orderBy(col("dist2").asc, col("ref_id").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") === 5)
      .select(col("vec_id"), col("label"),
        floor(col("dist2") / lit(1000000.0)).cast(LongType).as("knn5_dist_q"))
      .orderBy(col("knn5_dist_q").desc, col("vec_id").asc)
      .limit(20)
  }

  val embKnnOodSql: String =
    """WITH base AS (
      |  SELECT vec_id, label,
      |         list_transform(
      |           list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)),
      |           x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |ref AS (SELECT vec_id AS ref_id, v AS rv FROM base WHERE label <= 4),
      |cand AS (SELECT vec_id, label, v FROM base WHERE label >= 5),
      |scored AS (
      |  SELECT c.vec_id, c.label, r.ref_id,
      |         list_inner_product(v, v) - 2 * list_inner_product(v, rv)
      |           + list_inner_product(rv, rv) AS dist2
      |  FROM cand c CROSS JOIN ref r),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, ref_id) AS rk
      |  FROM scored)
      |SELECT vec_id, label, CAST(floor(dist2 / 1000000.0) AS BIGINT) AS knn5_dist_q
      |FROM ranked WHERE rk = 5
      |ORDER BY knn5_dist_q DESC, vec_id
      |LIMIT 20""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("win-seasonal-decompose", winSeasonalDecompose, winSeasonalDecomposeSql),
    Key("agg-yoy-growth", aggYoyGrowth, aggYoyGrowthSql),
    Key("win-drawdown", winDrawdown, winDrawdownSql),
    Key("dq-calendar-gaps", dqCalendarGaps, dqCalendarGapsSql),
    Key("win-rolling-zscore", winRollingZscore, winRollingZscoreSql),
    Key("emb-knn-ood", embKnnOod, embKnnOodSql))
}
