package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch Q: Hill diversity profile, embedding bit balance,
  * lead-lag cross-correlation, Western Electric run rules. */
object RelMore116 extends KeyModule {

  /** agg-hill-diversity-profile — the Hill-number diversity profile
    * of the event-type mix: D₀ (richness), D₁ = exp(Shannon)
    * (perplexity — "effective number of equally-common types"),
    * D₂ = N²/Σnᵢ² (inverse Simpson — collision diversity), and
    * D∞ = N/max nᵢ (Berger-Parker — dominance). One distribution,
    * four orders of the same family: how fast the profile falls from
    * D₀ to D∞ IS the skew diagnosis, which is why dataset-mix
    * monitors report the profile, not one entropy (agg-entropy gives
    * H alone; this gives the whole curve). D₀, D₂, D∞ are exact
    * rationals of integer counts (ratioFloor); D₁ uses the
    * established nano-quantized Σnᵢ·⌊ln nᵢ·10⁹⌋ so the only
    * free-running float is one final exp. One map-side-combinable
    * rollup. */
  val aggHillDiversityProfile: Q = (s, d) => {
    val counts = events(s, d).groupBy("event_type").agg(count(lit(1)).as("ni"))
    val sums = counts.agg(count(lit(1)).as("k"), sum("ni").as("nn"),
      sum(expr("CAST(ni AS DECIMAL(38,0)) * ni")).as("sn2"),
      max("ni").as("nmax"),
      sum(expr("ni * CAST(floor(ln(CAST(ni AS DOUBLE)) * 1e9) AS BIGINT)")).as("slq"))
    sums.select(col("k").cast(LongType).as("d0_richness"),
      col("nn").as("n_events"),
      round(exp(log(col("nn").cast(DoubleType)) -
        col("slq").cast(DoubleType) / 1e9 / col("nn")), 4).as("d1_perplexity"),
      ratioFloor(col("nn").cast(DecimalType(38, 0)) * col("nn"), col("sn2"), 4)
        .as("d2_inv_simpson"),
      ratioFloor(col("nn"), col("nmax"), 4).as("dinf_berger_parker"))
  }

  val aggHillDiversityProfileSql: String =
    """WITH counts AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS ni FROM events GROUP BY 1),
      |sums AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ni) AS BIGINT) AS nn,
      |         CAST(sum(CAST(ni AS HUGEINT) * ni) AS HUGEINT) AS sn2,
      |         max(ni) AS nmax,
      |         CAST(sum(ni * CAST(floor(ln(CAST(ni AS DOUBLE)) * 1e9) AS BIGINT)) AS BIGINT) AS slq
      |  FROM counts)
      |SELECT k AS d0_richness, nn AS n_events,
      |       round(exp(ln(CAST(nn AS DOUBLE)) - CAST(slq AS DOUBLE) / 1e9 / nn), 4) AS d1_perplexity,
      |       floor(CAST(CAST(nn AS HUGEINT) * nn AS DOUBLE) * 1e4 / CAST(sn2 AS DOUBLE)) / 1e4
      |         AS d2_inv_simpson,
      |       floor(CAST(nn AS DOUBLE) * 1e4 / nmax) / 1e4 AS dinf_berger_parker
      |FROM sums""".stripMargin

  /** emb-bit-balance — the sign-binarization audit every binary-hash
    * retrieval index (emb-binary-retrieval) rests on: per-bit balance
    * (share of positive signs — a bit stuck at 0.9 carries 0.47 bits,
    * not 1), the worst imbalance across all 64 bits, and the 3 most
    * correlated bit PAIRS by the φ coefficient (correlated bits waste
    * code space — the motivation for ITQ-style rotations). All
    * co-occurrence counts are exact integers from one bit self-join
    * on vec_id (64²/2 pair keys — map-side combinable, never
    * |corpus|² rows); φ's numerator n·n₁₁ − n₁·n₂ is exact in
    * DECIMAL(38,0) and only the final normalized φ is a double.
    * Top-3 selection is tie-broken by (j, k). */
  val embBitBalance: Q = (s, d) => {
    val bits = embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("k", "x")))
      .select(col("vec_id"), col("k"),
        when(col("x").cast(DoubleType) > 0, 1L).otherwise(0L).as("b"))
      .sharedCache()
    val nv = bits.agg(count_distinct(col("vec_id")).as("n"))
    val perBit = bits.groupBy("k").agg(sum("b").as("n1")).sharedCache()
    val imb = perBit.crossJoin(broadcast(nv))
      .select(greatest(
        abs(ratioFloor(col("n1"), col("n"), 6) - 0.5),
        abs(ratioFloor(col("n") - col("n1"), col("n"), 6) - 0.5)).as("dev"))
      .agg(round(max("dev"), 6).as("max_bit_imbalance"))
    val pair = bits.as("a").join(bits.as("b"), "vec_id")
      .filter(col("a.k") < col("b.k"))
      .groupBy(col("a.k").as("j"), col("b.k").as("kk"))
      .agg(sum(col("a.b") * col("b.b")).as("n11"))
    val phi = pair
      .join(broadcast(perBit.select(col("k").as("j"), col("n1").as("nj"))), Seq("j"))
      .join(broadcast(perBit.select(col("k").as("kk"), col("n1").as("nk"))), Seq("kk"))
      .crossJoin(broadcast(nv))
      .filter(col("nj") > 0 && col("nj") < col("n") && col("nk") > 0 && col("nk") < col("n"))
      .select(col("j"), col("kk"),
        col("n11"),
        ((col("n").cast(DecimalType(38, 0)) * col("n11") -
          expr("CAST(nj AS DECIMAL(38,0)) * nk")).cast(DoubleType) /
          sqrt(col("nj").cast(DoubleType) * (col("n") - col("nj")) *
            col("nk") * (col("n") - col("nk")))).as("phi"))
    phi.orderBy(abs(col("phi")).desc, col("j"), col("kk")).limit(3)
      .crossJoin(broadcast(imb))
      .select(col("j").cast(LongType).as("j"), col("kk").cast(LongType).as("k"),
        col("n11"), round(col("phi"), 4).as("phi"), col("max_bit_imbalance"))
      .orderBy("j", "k")
  }

  val embBitBalanceSql: String =
    """WITH bits AS MATERIALIZED (
      |  SELECT vec_id, k, CASE WHEN xv > 0 THEN 1 ELSE 0 END AS b FROM (
      |    SELECT vec_id,
      |           unnest(range(0, len(embedding))) AS k,
      |           unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS xv
      |    FROM embeddings) raw),
      |nv AS (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n FROM bits),
      |per_bit AS MATERIALIZED (
      |  SELECT k, CAST(sum(b) AS BIGINT) AS n1 FROM bits GROUP BY 1),
      |imb AS (
      |  SELECT round(max(greatest(
      |           abs(floor(CAST(n1 AS DOUBLE) * 1e6 / n) / 1e6 - 0.5),
      |           abs(floor(CAST(n - n1 AS DOUBLE) * 1e6 / n) / 1e6 - 0.5))), 6) AS max_bit_imbalance
      |  FROM per_bit CROSS JOIN nv),
      |pair AS (
      |  SELECT a.k AS j, b.k AS kk, CAST(sum(a.b * b.b) AS BIGINT) AS n11
      |  FROM bits a JOIN bits b USING (vec_id)
      |  WHERE a.k < b.k GROUP BY 1, 2),
      |phi AS (
      |  SELECT j, kk, n11,
      |         CAST(CAST(n AS HUGEINT) * n11 - CAST(nj AS HUGEINT) * nk AS DOUBLE) /
      |           sqrt(CAST(nj AS DOUBLE) * (n - nj) * nk * (n - nk)) AS phi
      |  FROM pair
      |  JOIN (SELECT k AS j, n1 AS nj FROM per_bit) pj USING (j)
      |  JOIN (SELECT k AS kk, n1 AS nk FROM per_bit) pk USING (kk)
      |  CROSS JOIN nv
      |  WHERE nj > 0 AND nj < n AND nk > 0 AND nk < n),
      |top3 AS (
      |  SELECT j, kk, n11, phi FROM phi
      |  ORDER BY abs(phi) DESC, j, kk LIMIT 3)
      |SELECT CAST(j AS BIGINT) AS j, CAST(kk AS BIGINT) AS k, n11,
      |       round(phi, 4) AS phi, max_bit_imbalance
      |FROM top3 CROSS JOIN imb
      |ORDER BY j, k""".stripMargin

  /** agg-cross-correlation — the lead-lag cross-correlation function
    * between daily order COUNT and daily REVENUE at lags −7..+7:
    * r(ℓ) = corr(xₜ, yₜ₊ℓ), the diagnostic that says which series
    * LEADS (agg-autocorrelation is the ℓ-th self-lag special case;
    * Granger-style modeling starts from exactly this curve). Each
    * lag's five moment sums are exact integers (DECIMAL(38,0)) over
    * the calendar-joined day pairs — the 15-lag expansion multiplies
    * the ~2400-row DAILY AGGREGATE, never the fact scan — and each
    * r(ℓ) is one closed-form double. Pairs join on exact date
    * arithmetic, so missing days align identically in both engines. */
  val aggCrossCorrelation: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(count(lit(1)).as("x"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("y"))
      .sharedCache()
    val lags = daily.sparkSession.range(-7, 8).select(col("id").cast(IntegerType).as("lag"))
    val pairs = daily.as("a").crossJoin(broadcast(lags))
      .join(daily.as("b"), expr("b.dt = date_add(a.dt, lag)"))
      .select(col("lag"), expr("CAST(a.x AS DECIMAL(38,0))").as("x"),
        expr("CAST(b.y AS DECIMAL(38,0))").as("y"))
    val sums = pairs.groupBy("lag")
      .agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * x")).as("sxx"), sum(expr("x * y")).as("sxy"),
        sum(expr("y * y")).as("syy"))
    sums.select(col("lag").cast(LongType).as("lag"), col("n"),
      col("n").cast(DoubleType).as("nd"),
      col("sx").cast(DoubleType).as("sx"), col("sy").cast(DoubleType).as("sy"),
      col("sxx").cast(DoubleType).as("sxx"), col("sxy").cast(DoubleType).as("sxy"),
      col("syy").cast(DoubleType).as("syy"))
      .select(col("lag"), col("n"),
        round((col("nd") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("nd") * col("sxx") - col("sx") * col("sx")) *
            (col("nd") * col("syy") - col("sy") * col("sy"))), 6).as("ccf"))
      .orderBy("lag")
  }

  val aggCrossCorrelationSql: String =
    """WITH daily AS MATERIALIZED (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(count(*) AS BIGINT) AS x,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |lags AS (SELECT unnest(range(-7, 8)) AS lag),
      |pairs AS (
      |  SELECT lag, CAST(a.x AS HUGEINT) AS x, CAST(b.y AS HUGEINT) AS y
      |  FROM daily a CROSS JOIN lags
      |  JOIN daily b ON b.dt = a.dt + CAST(lag AS INTEGER)),
      |sums AS (
      |  SELECT lag, CAST(count(*) AS BIGINT) AS n, CAST(count(*) AS DOUBLE) AS nd,
      |         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
      |         CAST(sum(x * x) AS DOUBLE) AS sxx, CAST(sum(x * y) AS DOUBLE) AS sxy,
      |         CAST(sum(y * y) AS DOUBLE) AS syy
      |  FROM pairs GROUP BY 1)
      |SELECT CAST(lag AS BIGINT) AS lag, n,
      |       round((nd * sxy - sx * sy) /
      |             sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy)), 6) AS ccf
      |FROM sums ORDER BY lag""".stripMargin

  /** dq-western-electric — the four Western Electric run rules on the
    * daily order-count control chart: R1 a point beyond 3σ, R2 two of
    * three consecutive beyond 2σ on the same side, R3 four of five
    * consecutive beyond 1σ on the same side, R4 eight consecutive on
    * one side of the mean. Single-point limits (agg-xbar-r) miss
    * drifts that never cross 3σ — the run rules are the classic SPC
    * answer, and they're pure window logic: per-day z-scores are
    * micro-quantized through ONE identical double division (mean and
    * σ from exact integer sums), and every rule is a frame-bounded
    * count over the quantized side/zone flags — deterministic,
    * partition-order-free. Output: violating-day count per rule. */
  val dqWesternElectric: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(count(lit(1)).as("x"))
    val stats = daily.agg(count(lit(1)).as("n"), sum("x").as("sx"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
      .select(col("n"), col("sx"),
        sqrt((col("n").cast(DoubleType) * col("sxx").cast(DoubleType) -
          col("sx").cast(DoubleType) * col("sx").cast(DoubleType)) /
          (col("n").cast(DoubleType) * (col("n").cast(DoubleType) - 1))).as("sd"))
    val z = daily.crossJoin(broadcast(stats))
      .select(col("dt"), col("n"),
        floor((col("x").cast(DoubleType) - col("sx").cast(DoubleType) / col("n")) *
          lit(1e6) / col("sd")).cast(LongType).as("zq"))
      .withColumn("side", when(col("zq") >= 0, 1).otherwise(-1))
    val wd = Window.orderBy("dt")
    val w3 = wd.rowsBetween(-2, 0)
    val w5 = wd.rowsBetween(-4, 0)
    val w8 = wd.rowsBetween(-7, 0)
    val flagged = z
      .withColumn("r1", (abs(col("zq")) > 3000000L).cast(IntegerType))
      .withColumn("hi2", (col("zq") > 2000000L).cast(IntegerType))
      .withColumn("lo2", (col("zq") < -2000000L).cast(IntegerType))
      .withColumn("hi1", (col("zq") > 1000000L).cast(IntegerType))
      .withColumn("lo1", (col("zq") < -1000000L).cast(IntegerType))
      .withColumn("pos", (col("side") === 1).cast(IntegerType))
      .withColumn("r2", ((sum("hi2").over(w3) >= 2) || (sum("lo2").over(w3) >= 2))
        .cast(IntegerType))
      .withColumn("r3", ((sum("hi1").over(w5) >= 4) || (sum("lo1").over(w5) >= 4))
        .cast(IntegerType))
      .withColumn("r4", ((sum("pos").over(w8) === 8) || (sum("pos").over(w8) === 0))
        .cast(IntegerType))
      .withColumn("rn", row_number().over(wd))
      // rules 2-4 need their full lookback window
      .withColumn("r2", when(col("rn") >= 3, col("r2")).otherwise(0))
      .withColumn("r3", when(col("rn") >= 5, col("r3")).otherwise(0))
      .withColumn("r4", when(col("rn") >= 8, col("r4")).otherwise(0))
    flagged.agg(max("n").as("n_days"),
      sum("r1").as("r1_beyond_3s"), sum("r2").as("r2_2of3_beyond_2s"),
      sum("r3").as("r3_4of5_beyond_1s"), sum("r4").as("r4_8_same_side"))
      .select(col("n_days"), col("r1_beyond_3s").cast(LongType).as("r1_beyond_3s"),
        col("r2_2of3_beyond_2s").cast(LongType).as("r2_2of3_beyond_2s"),
        col("r3_4of5_beyond_1s").cast(LongType).as("r3_4of5_beyond_1s"),
        col("r4_8_same_side").cast(LongType).as("r4_8_same_side"))
  }

  val dqWesternElectricSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(count(*) AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
      |         sqrt((CAST(count(*) AS DOUBLE) * CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) -
      |               CAST(sum(x) AS DOUBLE) * CAST(sum(x) AS DOUBLE)) /
      |              (CAST(count(*) AS DOUBLE) * (CAST(count(*) AS DOUBLE) - 1))) AS sd
      |  FROM daily),
      |z AS (
      |  SELECT dt, n,
      |         CAST(floor((CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / n) * 1e6 / sd) AS BIGINT) AS zq
      |  FROM daily CROSS JOIN stats),
      |flagged AS (
      |  SELECT n,
      |         CASE WHEN abs(zq) > 3000000 THEN 1 ELSE 0 END AS r1,
      |         CASE WHEN rn >= 3 AND (hi2c >= 2 OR lo2c >= 2) THEN 1 ELSE 0 END AS r2,
      |         CASE WHEN rn >= 5 AND (hi1c >= 4 OR lo1c >= 4) THEN 1 ELSE 0 END AS r3,
      |         CASE WHEN rn >= 8 AND (posc = 8 OR posc = 0) THEN 1 ELSE 0 END AS r4
      |  FROM (
      |    SELECT n, zq, row_number() OVER (ORDER BY dt) AS rn,
      |           sum(CASE WHEN zq > 2000000 THEN 1 ELSE 0 END)
      |             OVER (ORDER BY dt ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS hi2c,
      |           sum(CASE WHEN zq < -2000000 THEN 1 ELSE 0 END)
      |             OVER (ORDER BY dt ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS lo2c,
      |           sum(CASE WHEN zq > 1000000 THEN 1 ELSE 0 END)
      |             OVER (ORDER BY dt ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS hi1c,
      |           sum(CASE WHEN zq < -1000000 THEN 1 ELSE 0 END)
      |             OVER (ORDER BY dt ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS lo1c,
      |           sum(CASE WHEN zq >= 0 THEN 1 ELSE 0 END)
      |             OVER (ORDER BY dt ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS posc
      |    FROM z) t)
      |SELECT max(n) AS n_days,
      |       CAST(sum(r1) AS BIGINT) AS r1_beyond_3s,
      |       CAST(sum(r2) AS BIGINT) AS r2_2of3_beyond_2s,
      |       CAST(sum(r3) AS BIGINT) AS r3_4of5_beyond_1s,
      |       CAST(sum(r4) AS BIGINT) AS r4_8_same_side
      |FROM flagged""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-hill-diversity-profile", aggHillDiversityProfile, aggHillDiversityProfileSql),
    Key("emb-bit-balance", embBitBalance, embBitBalanceSql),
    Key("agg-cross-correlation", aggCrossCorrelation, aggCrossCorrelationSql),
    Key("dq-western-electric", dqWesternElectric, dqWesternElectricSql))
}
