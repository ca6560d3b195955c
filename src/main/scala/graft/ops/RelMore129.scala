package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch AD: Erlang-C staffing curve, content-defined
  * chunking, spectral flatness, alarm flappiness. */
object RelMore129 extends KeyModule {

  /** agg-erlang-c-staffing — the Erlang-C staffing curve for the
    * order-processing "call center": offered load a = λ·s from the
    * measured mean daily arrival rate (λ, orders/hour over an 8h day)
    * and a declared 15-minute mean handle time, then for each agent
    * count n in 1..20 the waiting probability
    * C(n,a) = (aⁿ/n!)·(n/(n−a)) / (Σ_{k<n} aᵏ/k! + (aⁿ/n!)·n/(n−a))
    * — THE queueing formula behind every staffing tool, computed
    * relationally: the k-grid and the EXACT factorial table are
    * engine-generated literals, each aᵏ/k! term is one identical
    * exp/ln double pico-floor-quantized, and the partial sums fold
    * exactly. Rows with n ≤ a are emitted with P(wait) = 1 (unstable
    * queue — the convention, stated). Complements agg-littles-law
    * (which measured L = λW; this DESIGNS the n that keeps W down). */
  val aggErlangCStaffing: Q = (s, d) => {
    val lam = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt")).agg(count(lit(1)).as("c"))
      .agg(sum("c").as("total"), count(lit(1)).as("ndays"))
      .select((col("total").cast(DoubleType) / col("ndays") / 8).as("lam_hr"))
      .withColumn("a", col("lam_hr") * 0.25)
    val grid = s.range(0, 21).select(col("id").cast(IntegerType).as("k"))
      .withColumn("factk", expr(
        "CASE k WHEN 0 THEN 1 WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 6 WHEN 4 THEN 24 " +
          "WHEN 5 THEN 120 WHEN 6 THEN 720 WHEN 7 THEN 5040 WHEN 8 THEN 40320 " +
          "WHEN 9 THEN 362880 WHEN 10 THEN 3628800 WHEN 11 THEN 39916800 " +
          "WHEN 12 THEN 479001600 WHEN 13 THEN 6227020800 WHEN 14 THEN 87178291200 " +
          "WHEN 15 THEN 1307674368000 WHEN 16 THEN 20922789888000 " +
          "WHEN 17 THEN 355687428096000 WHEN 18 THEN 6402373705728000 " +
          "WHEN 19 THEN 121645100408832000 ELSE 2432902008176640000 END"))
    val terms = grid.crossJoin(broadcast(lam))
      .select(col("k"), col("a"),
        // a^k/k! = exp(k·ln a − ln k!), pico-quantized
        floor(expr("exp(k * ln(a) - ln(CAST(factk AS DOUBLE)))") * lit(1e12))
          .cast(LongType).as("tq"))
      .sharedCache()
    val wcum = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = terms.withColumn("cumq", sum("tq").over(wcum) - col("tq"))
    cum.filter(col("k") >= 1)
      .select(col("k").cast(LongType).as("n_agents"), round(col("a"), 4).as("offered_load"),
        when(col("k") <= col("a"), lit(1.0)).otherwise(
          round((col("tq").cast(DoubleType) * col("k") / (col("k") - col("a"))) /
            (col("cumq").cast(DoubleType) +
              col("tq").cast(DoubleType) * col("k") / (col("k") - col("a"))), 6))
          .as("p_wait"))
      .orderBy("n_agents")
  }

  val aggErlangCStaffingSql: String =
    """WITH lam AS (
      |  SELECT lam_hr, lam_hr * 0.25 AS a FROM (
      |    SELECT CAST(sum(c) AS DOUBLE) / count(*) / 8 AS lam_hr FROM (
      |      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt, count(*) AS c
      |      FROM orders GROUP BY 1) t) u),
      |grid AS (
      |  SELECT k, CASE k WHEN 0 THEN 1 WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 6 WHEN 4 THEN 24
      |            WHEN 5 THEN 120 WHEN 6 THEN 720 WHEN 7 THEN 5040 WHEN 8 THEN 40320
      |            WHEN 9 THEN 362880 WHEN 10 THEN 3628800 WHEN 11 THEN 39916800
      |            WHEN 12 THEN 479001600 WHEN 13 THEN 6227020800 WHEN 14 THEN 87178291200
      |            WHEN 15 THEN 1307674368000 WHEN 16 THEN 20922789888000
      |            WHEN 17 THEN 355687428096000 WHEN 18 THEN 6402373705728000
      |            WHEN 19 THEN 121645100408832000 ELSE 2432902008176640000 END AS factk
      |  FROM (SELECT CAST(unnest(range(0, 21)) AS INTEGER) AS k) g),
      |terms AS MATERIALIZED (
      |  SELECT k, a,
      |         CAST(floor(exp(k * ln(a) - ln(CAST(factk AS DOUBLE))) * 1e12) AS BIGINT) AS tq
      |  FROM grid CROSS JOIN lam),
      |cum AS (
      |  SELECT k, a, tq,
      |         sum(tq) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tq
      |           AS cumq
      |  FROM terms)
      |SELECT CAST(k AS BIGINT) AS n_agents, round(a, 4) AS offered_load,
      |       CASE WHEN k <= a THEN 1.0
      |            ELSE round((CAST(tq AS DOUBLE) * k / (k - a)) /
      |                       (CAST(cumq AS DOUBLE) + CAST(tq AS DOUBLE) * k / (k - a)), 6)
      |       END AS p_wait
      |FROM cum WHERE k >= 1
      |ORDER BY n_agents""".stripMargin

  /** mm-cdc-chunking — content-defined chunking over the document
    * payloads: a chunk boundary falls wherever the md5 of the 8-char
    * window starting at a position begins with nibble '0' (expected
    * chunk ≈ 16 chars), chunks are cut between consecutive
    * boundaries, and the dedup ratio = unique chunk bytes / total
    * chunk bytes is reported with the chunk-size profile. CDC is THE
    * storage-dedup primitive (backup systems, artifact stores,
    * dataset snapshotting): unlike fixed-size chunking
    * (mm-payload-chunking), an insertion only reshuffles ONE chunk
    * because boundaries are content-anchored — which is exactly what
    * the repeated phrases across this synthetic corpus let the dedup
    * ratio demonstrate. Windows come from one positional explode
    * (substring, not per-byte UDFs); all counts exact. */
  val mmCdcChunking: Q = (s, d) => {
    // r14 opt: boundaries and chunks are a PER-DOCUMENT computation —
    // derived here with row-local array lambdas instead of exploding
    // every character position (10M rows, each dragging the full text
    // column) and shuffling the boundary rows through a lead() window
    // (guide §2.3/§2.4: the shuffle carried ~|text| bytes per boundary
    // for information that never leaves the row). Also repartitions
    // after the single-row-group read so the md5 sweep parallelizes
    // (guide §2.5). Same boundary rule, same chunk multiset.
    val docs = documents(s, d)
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
    val chunks = docs
      .withColumn("bs", expr(
        "filter(sequence(1, len), p -> p = 1 OR (p + 7 <= len AND " +
          "substring(md5(substring(text, p, 8)), 1, 1) = '0'))"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(bs)), i -> substring(text, element_at(bs, i), " +
          "IF(i < size(bs), element_at(bs, i + 1), len + 1) - element_at(bs, i)))"))
        .as("chunk"))
      .filter(length(col("chunk")) > 0)
      .sharedCache()
    val tot = chunks.agg(count(lit(1)).as("n_chunks"),
      sum(length(col("chunk"))).as("total_bytes"))
    val uniq = chunks.groupBy("chunk").agg(count(lit(1)).as("cnt"))
      .agg(count(lit(1)).as("n_unique"),
        sum(length(col("chunk"))).as("unique_bytes"))
    tot.crossJoin(broadcast(uniq))
      .select(col("n_chunks"), col("n_unique"), col("total_bytes"), col("unique_bytes"),
        ratioFloor(col("unique_bytes"), col("total_bytes"), 6).as("dedup_ratio"),
        ratioFloor(col("total_bytes"), col("n_chunks"), 2).as("mean_chunk_bytes"))
  }

  val mmCdcChunkingSql: String =
    """WITH docs AS (SELECT doc_id, text, length(text) AS len FROM documents),
      |pos AS MATERIALIZED (
      |  SELECT doc_id, text, len, unnest(range(1, len + 1)) AS p FROM docs),
      |bounds AS MATERIALIZED (
      |  SELECT doc_id, text, len, p FROM pos
      |  WHERE p = 1 OR (p + 7 <= len AND substring(md5(substring(text, p, 8)), 1, 1) = '0')),
      |chunks AS MATERIALIZED (
      |  SELECT doc_id, substring(text, p, coalesce(pnext, len + 1) - p) AS chunk FROM (
      |    SELECT doc_id, text, len, p,
      |           lead(p) OVER (PARTITION BY doc_id ORDER BY p) AS pnext
      |    FROM bounds) t
      |  WHERE length(substring(text, p, coalesce(pnext, len + 1) - p)) > 0),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_chunks,
      |               CAST(sum(length(chunk)) AS BIGINT) AS total_bytes FROM chunks),
      |uniq AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_unique,
      |         CAST(sum(length(chunk)) AS BIGINT) AS unique_bytes
      |  FROM (SELECT chunk FROM chunks GROUP BY chunk) u)
      |SELECT n_chunks, n_unique, total_bytes, unique_bytes,
      |       floor(CAST(unique_bytes AS DOUBLE) * 1e6 / total_bytes) / 1e6 AS dedup_ratio,
      |       floor(CAST(total_bytes AS DOUBLE) * 1e2 / n_chunks) / 1e2 AS mean_chunk_bytes
      |FROM tot CROSS JOIN uniq""".stripMargin

  /** agg-spectral-flatness — Wiener entropy of the weekly-band power
    * spectrum of daily revenue: at the literal-basis DFT frequencies
    * 1..10 cycles/week-month (the agg-dft-weekly-power machinery),
    * flatness = geometric mean / arithmetic mean of the 10 powers —
    * ≈1 for white noise, →0 when one frequency dominates, the single
    * number that says whether the spectrum has STRUCTURE before
    * anyone stares at the periodogram. Each frequency's (Σy·cos,
    * Σy·sin) folds pico-quantized per-day terms exactly (cos/sin of
    * 2πft as identical doubles); powers are exact integer sums of
    * quantized parts; geo-mean uses the nano-quantized Σ⌊ln·10⁹⌋
    * fold. */
  val aggSpectralFlatness: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("y"))
    val wd = Window.orderBy("dt")
    val idx = daily.withColumn("t", row_number().over(wd) - 1).sharedCache()
    val nN = idx.agg(max("t").as("tm"), count(lit(1)).as("n"))
    val freqs = s.range(1, 11).select(col("id").cast(IntegerType).as("f"))
    val parts = idx.crossJoin(broadcast(freqs)).crossJoin(broadcast(nN))
      .select(col("f"), col("n"),
        floor(col("y").cast(DoubleType) *
          cos(lit(2 * math.Pi) * col("f") * col("t") / 28.0) / lit(1e3))
          .cast(LongType).as("cq"),
        floor(col("y").cast(DoubleType) *
          sin(lit(2 * math.Pi) * col("f") * col("t") / 28.0) / lit(1e3))
          .cast(LongType).as("sq"))
    val pw = parts.groupBy("f", "n")
      .agg(sum(expr("CAST(cq AS DECIMAL(38,0))")).as("sc"),
        sum(expr("CAST(sq AS DECIMAL(38,0))")).as("ss"))
      .select(col("f"),
        ((col("sc").cast(DoubleType) * col("sc") + col("ss").cast(DoubleType) * col("ss")) /
          col("n") / col("n")).as("pwr"))
      .select(col("f"), floor(col("pwr")).cast(LongType).as("pq"))
      .filter(col("pq") > 0)
    pw.agg(count(lit(1)).as("nf"), sum("pq").as("sp"),
      sum(expr("CAST(floor(ln(CAST(pq AS DOUBLE)) * 1e9) AS BIGINT)")).as("slq"))
      .select(col("nf").cast(LongType).as("n_freqs"),
        round(exp(col("slq").cast(DoubleType) / 1e9 / col("nf")) /
          (col("sp").cast(DoubleType) / col("nf")), 6).as("spectral_flatness"))
  }

  val aggSpectralFlatnessSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |idx AS MATERIALIZED (
      |  SELECT y, row_number() OVER (ORDER BY dt) - 1 AS t FROM daily),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM idx),
      |freqs AS (SELECT CAST(unnest(range(1, 11)) AS INTEGER) AS f),
      |parts AS (
      |  SELECT f, n,
      |         CAST(floor(CAST(y AS DOUBLE) * cos(2 * pi() * f * t / 28.0) / 1e3) AS BIGINT) AS cq,
      |         CAST(floor(CAST(y AS DOUBLE) * sin(2 * pi() * f * t / 28.0) / 1e3) AS BIGINT) AS sq
      |  FROM idx CROSS JOIN freqs CROSS JOIN nn),
      |pw AS (
      |  SELECT f, CAST(floor((CAST(sc AS DOUBLE) * sc + CAST(ss AS DOUBLE) * ss) / n / n)
      |              AS BIGINT) AS pq
      |  FROM (
      |    SELECT f, n, CAST(sum(CAST(cq AS HUGEINT)) AS HUGEINT) AS sc,
      |           CAST(sum(CAST(sq AS HUGEINT)) AS HUGEINT) AS ss
      |    FROM parts GROUP BY 1, 2) t
      |  WHERE floor((CAST(sc AS DOUBLE) * sc + CAST(ss AS DOUBLE) * ss) / n / n) > 0)
      |SELECT CAST(count(*) AS BIGINT) AS n_freqs,
      |       round(exp(CAST(sum(CAST(floor(ln(CAST(pq AS DOUBLE)) * 1e9) AS BIGINT)) AS DOUBLE)
      |               / 1e9 / count(*)) /
      |             (CAST(sum(pq) AS DOUBLE) / count(*)), 6) AS spectral_flatness
      |FROM pw""".stripMargin

  /** dq-alarm-flappiness — alarm-stability triage for the |z| > 2
    * daily-volume alarm: total alarm days, alarm EPISODES (state
    * flips into alarm), and the flappiness ratio episodes/alarm-days
    * — ≈1 means every alarm day is its own one-day episode (a
    * flapping alert nobody trusts; add hysteresis), →0 means long
    * coherent incidents (the alert is informative). The missing
    * piece between detection ops (dq-anomaly-zscore fires alarms)
    * and operations (whether to PAGE on them). z-scores are the
    * established micro-quantized identical division; episode starts
    * are one lag over the alarm flag; everything exact. */
  val dqAlarmFlappiness: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(count(lit(1)).as("x"))
    val stats = daily.agg(count(lit(1)).as("n"), sum("x").as("sx"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
      .select(col("n"), col("sx"),
        sqrt((col("n").cast(DoubleType) * col("sxx").cast(DoubleType) -
          col("sx").cast(DoubleType) * col("sx").cast(DoubleType)) /
          (col("n").cast(DoubleType) * (col("n").cast(DoubleType) - 1))).as("sd"))
    val wd = Window.orderBy("dt")
    val flagged = daily.crossJoin(broadcast(stats))
      .select(col("dt"), col("n"),
        (abs(floor((col("x").cast(DoubleType) - col("sx").cast(DoubleType) / col("n")) *
          lit(1e6) / col("sd")).cast(LongType)) > 2000000L).as("alarm"))
      .withColumn("prev", lag("alarm", 1).over(wd))
      .withColumn("episode_start",
        when(col("alarm") && (col("prev").isNull || !col("prev")), 1L).otherwise(0L))
    flagged.agg(max("n").as("n_days"),
      sum(when(col("alarm"), 1L).otherwise(0L)).as("alarm_days"),
      sum("episode_start").as("episodes"))
      .select(col("n_days").cast(LongType).as("n_days"), col("alarm_days"), col("episodes"),
        ratioFloor(col("episodes"), col("alarm_days"), 4).as("flappiness"))
  }

  val dqAlarmFlappinessSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(count(*) AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
      |         sqrt((CAST(count(*) AS DOUBLE) * CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) -
      |               CAST(sum(x) AS DOUBLE) * CAST(sum(x) AS DOUBLE)) /
      |              (CAST(count(*) AS DOUBLE) * (count(*) - 1))) AS sd
      |  FROM daily),
      |flagged AS (
      |  SELECT n, alarm,
      |         CASE WHEN alarm AND (prev IS NULL OR NOT prev) THEN 1 ELSE 0 END AS episode_start
      |  FROM (
      |    SELECT n, alarm, lag(alarm) OVER (ORDER BY dt) AS prev FROM (
      |      SELECT dt, n,
      |             abs(CAST(floor((CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / n) * 1e6 / sd)
      |                 AS BIGINT)) > 2000000 AS alarm
      |      FROM daily CROSS JOIN stats) z) w)
      |SELECT CAST(max(n) AS BIGINT) AS n_days,
      |       CAST(sum(CASE WHEN alarm THEN 1 ELSE 0 END) AS BIGINT) AS alarm_days,
      |       CAST(sum(episode_start) AS BIGINT) AS episodes,
      |       floor(CAST(sum(episode_start) AS DOUBLE) * 1e4 /
      |             sum(CASE WHEN alarm THEN 1 ELSE 0 END)) / 1e4 AS flappiness
      |FROM flagged""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-erlang-c-staffing", aggErlangCStaffing, aggErlangCStaffingSql),
    Key("mm-cdc-chunking", mmCdcChunking, mmCdcChunkingSql),
    Key("agg-spectral-flatness", aggSpectralFlatness, aggSpectralFlatnessSql),
    Key("dq-alarm-flappiness", dqAlarmFlappiness, dqAlarmFlappinessSql))
}
