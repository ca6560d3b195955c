package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch AF: Taylor's power law, per-term burstiness, Halton
  * low-discrepancy audit, illegal-transition audit. */
object RelMore131 extends KeyModule {

  /** agg-taylors-law — Taylor's power law across parts: per-part
    * daily-demand variance against mean on log-log axes, fitting
    * Var = a·Mean^b — b ≈ 1 is Poisson-like (independent arrivals),
    * b → 2 means demand scales with multiplicative clustering, and
    * the exponent is THE aggregation-design constant (it says how
    * safety stock and batch sizes scale with item velocity —
    * agg-dispersion-index measures one series; Taylor's law is the
    * cross-sectional regularity). Parts with ≥ 20 demand days enter;
    * per-part moments are exact integer sums; both log coordinates
    * are nano-floor-quantized so the OLS folds are exact integers;
    * b and R² are the only doubles. */
  val aggTaylorsLaw: Q = (s, d) => {
    val daily = lineitem(s, d)
      .groupBy(col("l_partkey"), to_date(col("l_shipdate")).as("dt"))
      .agg(sum(expr("CAST(l_quantity AS BIGINT)")).as("q"))
    val per = daily.groupBy("l_partkey")
      .agg(count(lit(1)).as("m"), sum("q").as("sq"),
        sum(expr("CAST(q AS DECIMAL(38,0)) * q")).as("sqq"))
      .filter(col("m") >= 20 &&
        col("m") * col("sqq") > expr("CAST(sq AS DECIMAL(38,0)) * sq"))
      .select(
        floor(log(col("sq").cast(DoubleType) / col("m")) * lit(1e9))
          .cast(LongType).as("lx"),
        floor(log((col("sqq").cast(DoubleType) -
          col("sq").cast(DoubleType) * col("sq").cast(DoubleType) / col("m")) /
          (col("m").cast(DoubleType) - 1)) * lit(1e9)).cast(LongType).as("ly"))
    val sums = per.select(expr("CAST(lx AS DECIMAL(38,0))").as("x"),
      expr("CAST(ly AS DECIMAL(38,0))").as("y"))
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * x")).as("sxx"), sum(expr("x * y")).as("sxy"),
        sum(expr("y * y")).as("syy"))
    sums.select(col("n").cast(LongType).as("n_parts"),
      round((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
        (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType), 4)
        .as("taylor_b"),
      round(((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) *
        (col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType)) /
        ((col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType) *
          (col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType)), 4)
        .as("r2"))
  }

  val aggTaylorsLawSql: String =
    """WITH daily AS (
      |  SELECT l_partkey, CAST(date_trunc('day', l_shipdate) AS DATE) AS dt,
      |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
      |  FROM lineitem GROUP BY 1, 2),
      |per AS (
      |  SELECT CAST(floor(ln(CAST(sq AS DOUBLE) / m) * 1e9) AS BIGINT) AS lx,
      |         CAST(floor(ln((CAST(sqq AS DOUBLE) -
      |                CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / m) / (m - 1)) * 1e9)
      |              AS BIGINT) AS ly
      |  FROM (
      |    SELECT l_partkey, CAST(count(*) AS BIGINT) AS m, CAST(sum(q) AS BIGINT) AS sq,
      |           CAST(sum(CAST(q AS HUGEINT) * q) AS HUGEINT) AS sqq
      |    FROM daily GROUP BY 1) t
      |  WHERE m >= 20 AND m * sqq > CAST(sq AS HUGEINT) * sq),
      |sums AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |         CAST(sum(CAST(lx AS HUGEINT)) AS HUGEINT) AS sx,
      |         CAST(sum(CAST(ly AS HUGEINT)) AS HUGEINT) AS sy,
      |         CAST(sum(CAST(lx AS HUGEINT) * lx) AS HUGEINT) AS sxx,
      |         CAST(sum(CAST(lx AS HUGEINT) * ly) AS HUGEINT) AS sxy,
      |         CAST(sum(CAST(ly AS HUGEINT) * ly) AS HUGEINT) AS syy
      |  FROM per)
      |SELECT CAST(n AS BIGINT) AS n_parts,
      |       round(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 4)
      |         AS taylor_b,
      |       round(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE) /
      |             (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)), 4)
      |         AS r2
      |FROM sums""".stripMargin

  /** text-term-burstiness — the Church-Gale burstiness profile of the
    * 10 most frequent terms: per term, the Fano factor (variance /
    * mean of per-document counts, over ALL documents including
    * zeros) — ≈1 for Poisson scatter (function words), ≫1 for bursty
    * content words that pile into few documents. Burstiness is why
    * df-based weighting (text-idf-rarity) and tf saturation
    * (text-bm25-topk's k₁) exist at all; this op measures the
    * phenomenon those ops assume. Zero-documents enter through the
    * exact identity (sums unchanged, n = corpus size); all moments
    * are exact integers; the Fano ratio is micro-quantized via
    * ratioFloor on variance×n scale. */
  val textTermBurstiness: Q = (s, d) => {
    val toks = documents(s, d)
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("w"))
      .sharedCache()
    val nd = toks.agg(count_distinct(col("doc_id")).as("ndocs"))
    val top = toks.groupBy("w").agg(count(lit(1)).as("cw"))
      .orderBy(col("cw").desc, col("w")).limit(10)
    val perDoc = toks.join(broadcast(top.select("w")), Seq("w"))
      .groupBy("w", "doc_id").agg(count(lit(1)).as("c"))
    val mom = perDoc.groupBy("w")
      .agg(sum("c").as("sc"), sum(expr("c * c")).as("scc"))
      .crossJoin(broadcast(nd))
    // Fano = Var/Mean with zero-docs: Var·n² = n·Σc² − (Σc)², Mean·n = Σc
    // ⇒ Fano = (n·Σc² − (Σc)²) / (n·Σc) (population variance, stated)
    mom.select(col("w").as("term"), col("sc").as("n_occurrences"),
      ratioFloor((col("ndocs") * col("scc") - col("sc") * col("sc")).cast(DoubleType),
        col("ndocs") * col("sc"), 4).as("fano_factor"))
      .orderBy(col("n_occurrences").desc, col("term"))
  }

  val textTermBurstinessSql: String =
    """WITH toks AS MATERIALIZED (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      |  FROM documents),
      |nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS ndocs FROM toks),
      |top AS (
      |  SELECT w FROM (
      |    SELECT w, count(*) AS cw FROM toks GROUP BY 1) t
      |  ORDER BY cw DESC, w LIMIT 10),
      |per_doc AS (
      |  SELECT w, doc_id, CAST(count(*) AS BIGINT) AS c
      |  FROM toks JOIN top USING (w) GROUP BY 1, 2),
      |mom AS (
      |  SELECT w, CAST(sum(c) AS BIGINT) AS sc, CAST(sum(c * c) AS BIGINT) AS scc
      |  FROM per_doc GROUP BY 1)
      |SELECT w AS term, sc AS n_occurrences,
      |       floor(CAST(ndocs * scc - sc * sc AS DOUBLE) * 1e4 / (ndocs * sc)) / 1e4
      |         AS fano_factor
      |FROM mom CROSS JOIN nd
      |ORDER BY n_occurrences DESC, term""".stripMargin

  /** gen-halton-sequence — a low-discrepancy (quasi-Monte-Carlo)
    * audit: 1024 Halton points (radical-inverse in bases 2 and 3,
    * unrolled div/mod chains — pure integer arithmetic) against 1024
    * md5-uniform points, scored by the max absolute deviation of
    * 4×4-cell occupancy from the ideal 64 — the discrepancy gap is
    * WHY QMC grids beat random sampling for integration-style scans
    * (stratified parameter sweeps, coreset seeding), and the audit
    * MEASURES it instead of asserting it (Halton ≈ perfectly
    * balanced cells; hash-uniform deviates by ≈√n noise). Everything
    * is exact integer arithmetic — the radical inverses are rational
    * with denominators 2¹⁰ and 3⁷. */
  val genHaltonSequence: Q = (s, d) => {
    val n = 1024
    val pts = s.range(1, n + 1).select(col("id").cast(IntegerType).as("i"))
      // radical inverse base 2 on 10 bits, scaled by 2^10
      .withColumn("rx", expr(
        "(i % 2) * 512 + ((i div 2) % 2) * 256 + ((i div 4) % 2) * 128 + " +
          "((i div 8) % 2) * 64 + ((i div 16) % 2) * 32 + ((i div 32) % 2) * 16 + " +
          "((i div 64) % 2) * 8 + ((i div 128) % 2) * 4 + ((i div 256) % 2) * 2 + " +
          "((i div 512) % 2)"))
      // radical inverse base 3 on 7 digits, scaled by 3^7 = 2187
      .withColumn("ry", expr(
        "(i % 3) * 729 + ((i div 3) % 3) * 243 + ((i div 9) % 3) * 81 + " +
          "((i div 27) % 3) * 27 + ((i div 81) % 3) * 9 + ((i div 243) % 3) * 3 + " +
          "((i div 729) % 3)"))
      .select(col("i"),
        expr("CAST((rx * 4) div 1024 AS INT)").as("gx_h"),
        expr("CAST((ry * 4) div 2187 AS INT)").as("gy_h"),
        expr("((instr('0123456789abcdef', substring(md5(CAST(i AS STRING)), 1, 1)) - 1) * 16 + " +
          "(instr('0123456789abcdef', substring(md5(CAST(i AS STRING)), 2, 1)) - 1)) div 64")
          .as("gx_u"),
        expr("((instr('0123456789abcdef', substring(md5(CAST(i AS STRING)), 3, 1)) - 1) * 16 + " +
          "(instr('0123456789abcdef', substring(md5(CAST(i AS STRING)), 4, 1)) - 1)) div 64")
          .as("gy_u"))
    val hCells = pts.groupBy("gx_h", "gy_h").agg(count(lit(1)).as("c"))
      .agg(max(abs(col("c") - 64)).as("halton_max_dev"), count(lit(1)).as("halton_cells"))
    val uCells = pts.groupBy("gx_u", "gy_u").agg(count(lit(1)).as("c"))
      .agg(max(abs(col("c") - 64)).as("uniform_max_dev"), count(lit(1)).as("uniform_cells"))
    hCells.crossJoin(broadcast(uCells))
      .select(lit(n.toLong).as("n_points"), col("halton_cells"), col("halton_max_dev"),
        col("uniform_cells"), col("uniform_max_dev"),
        (col("halton_max_dev") < col("uniform_max_dev")).as("qmc_wins"))
  }

  val genHaltonSequenceSql: String =
    """WITH pts AS MATERIALIZED (
      |  SELECT i,
      |         CAST((((i % 2) * 512 + ((i // 2) % 2) * 256 + ((i // 4) % 2) * 128 +
      |           ((i // 8) % 2) * 64 + ((i // 16) % 2) * 32 + ((i // 32) % 2) * 16 +
      |           ((i // 64) % 2) * 8 + ((i // 128) % 2) * 4 + ((i // 256) % 2) * 2 +
      |           ((i // 512) % 2)) * 4) // 1024 AS INTEGER) AS gx_h,
      |         CAST((((i % 3) * 729 + ((i // 3) % 3) * 243 + ((i // 9) % 3) * 81 +
      |           ((i // 27) % 3) * 27 + ((i // 81) % 3) * 9 + ((i // 243) % 3) * 3 +
      |           ((i // 729) % 3)) * 4) // 2187 AS INTEGER) AS gy_h,
      |         CAST(((strpos('0123456789abcdef', substring(md5(CAST(i AS VARCHAR)), 1, 1)) - 1) * 16 +
      |               (strpos('0123456789abcdef', substring(md5(CAST(i AS VARCHAR)), 2, 1)) - 1)) // 64
      |              AS INTEGER) AS gx_u,
      |         CAST(((strpos('0123456789abcdef', substring(md5(CAST(i AS VARCHAR)), 3, 1)) - 1) * 16 +
      |               (strpos('0123456789abcdef', substring(md5(CAST(i AS VARCHAR)), 4, 1)) - 1)) // 64
      |              AS INTEGER) AS gy_u
      |  FROM (SELECT CAST(unnest(range(1, 1025)) AS INTEGER) AS i) g),
      |hc AS (
      |  SELECT CAST(max(abs(c - 64)) AS BIGINT) AS halton_max_dev,
      |         CAST(count(*) AS BIGINT) AS halton_cells FROM (
      |    SELECT gx_h, gy_h, count(*) AS c FROM pts GROUP BY 1, 2) t),
      |uc AS (
      |  SELECT CAST(max(abs(c - 64)) AS BIGINT) AS uniform_max_dev,
      |         CAST(count(*) AS BIGINT) AS uniform_cells FROM (
      |    SELECT gx_u, gy_u, count(*) AS c FROM pts GROUP BY 1, 2) t)
      |SELECT CAST(1024 AS BIGINT) AS n_points, halton_cells, halton_max_dev,
      |       uniform_cells, uniform_max_dev,
      |       halton_max_dev < uniform_max_dev AS qmc_wins
      |FROM hc CROSS JOIN uc""".stripMargin

  /** dq-illegal-transitions — process-conformance audit of per-user
    * event streams against a declared legal transition set (signup
    * may start anything; purchase must be preceded by view or click;
    * error may follow anything but must not be FOLLOWED by purchase
    * directly): counts of each observed illegal transition type —
    * agg-event-transitions measures the full matrix; this op GRADES
    * it against the process contract, which is what a funnel owner
    * actually monitors. Transitions from one per-user lag window;
    * the legal set is inline; all counts exact. Output rows only for
    * observed illegal pairs (with the total-transition denominator
    * on every row). */
  val dqIllegalTransitions: Q = (s, d) => {
    val wu = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val trans = events(s, d)
      .withColumn("prev", lag("event_type", 1).over(wu))
      .filter(col("prev").isNotNull)
      .select(col("prev"), col("event_type").as("curr"))
      .sharedCache()
    val tot = trans.agg(count(lit(1)).as("n_transitions"))
    val illegal = trans.filter(
      (col("curr") === "purchase" && !col("prev").isin("view", "click")) ||
        (col("prev") === "error" && col("curr") === "purchase"))
    illegal.groupBy("prev", "curr").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select(col("prev"), col("curr"), col("n"),
        col("n_transitions"),
        ratioFloor(col("n"), col("n_transitions"), 6).as("share"))
      .orderBy("prev", "curr")
  }

  val dqIllegalTransitionsSql: String =
    """WITH trans AS MATERIALIZED (
      |  SELECT prev, event_type AS curr FROM (
      |    SELECT event_type,
      |           lag(event_type) OVER (PARTITION BY user_id
      |             ORDER BY date_trunc('microseconds', ts), event_id) AS prev
      |    FROM events) t
      |  WHERE prev IS NOT NULL),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_transitions FROM trans),
      |illegal AS (
      |  SELECT prev, curr FROM trans
      |  WHERE (curr = 'purchase' AND prev NOT IN ('view', 'click'))
      |     OR (prev = 'error' AND curr = 'purchase'))
      |SELECT prev, curr, CAST(count(*) AS BIGINT) AS n, n_transitions,
      |       floor(CAST(count(*) AS DOUBLE) * 1e6 / n_transitions) / 1e6 AS share
      |FROM illegal CROSS JOIN tot
      |GROUP BY prev, curr, n_transitions
      |ORDER BY prev, curr""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-taylors-law", aggTaylorsLaw, aggTaylorsLawSql),
    Key("text-term-burstiness", textTermBurstiness, textTermBurstinessSql),
    Key("gen-halton-sequence", genHaltonSequence, genHaltonSequenceSql),
    Key("dq-illegal-transitions", dqIllegalTransitions, dqIllegalTransitionsSql))
}
