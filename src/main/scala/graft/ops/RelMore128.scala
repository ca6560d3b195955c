package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch AC: risk pooling, candidate-key discovery, PQ
  * codebook utilization, scientific-notation cast suite. */
object RelMore128 extends KeyModule {

  /** agg-risk-pooling — the inventory risk-pooling effect over the 10
    * highest-volume parts: safety stock held SEPARATELY (z·Σσᵢ over
    * per-part daily-demand σs) vs POOLED (z·σ of the summed demand),
    * with the pooling benefit 1 − σ_pool/Σσᵢ — the square-root-law
    * argument for warehouse consolidation, and the portfolio-variance
    * identity (agg-min-variance-pair) applied to operations. The
    * pooled variance needs the full covariance, obtained WITHOUT a
    * parts×parts matrix: Var(Σ) is just the variance of the daily
    * TOTAL series of those parts — one extra rollup. All moments are
    * exact integer sums; z = 1.645 (95% service, declared); only the
    * final σs are doubles. */
  val aggRiskPooling: Q = (s, d) => {
    val daily = lineitem(s, d)
      .groupBy(col("l_partkey"), to_date(col("l_shipdate")).as("dt"))
      .agg(sum(expr("CAST(l_quantity AS BIGINT)")).as("q"))
      .sharedCache()
    val top = daily.groupBy("l_partkey").agg(count(lit(1)).as("m"))
      .orderBy(col("m").desc, col("l_partkey")).limit(10)
      .select("l_partkey")
    val cal = daily.agg(count_distinct(col("dt")).as("ndays"))
    // per-part variance counts missing days as zero demand: moments
    // over the FULL calendar (sum and sumsq unchanged by zeros; n = ndays)
    val per = daily.join(broadcast(top), Seq("l_partkey"))
      .groupBy("l_partkey")
      .agg(sum("q").as("sq"), sum(expr("CAST(q AS DECIMAL(38,0)) * q")).as("sqq"))
      .crossJoin(broadcast(cal))
      .select(sqrt((col("sqq").cast(DoubleType) -
        col("sq").cast(DoubleType) * col("sq").cast(DoubleType) / col("ndays")) /
        (col("ndays").cast(DoubleType) - 1)).as("sd"))
      .agg(sum(floor(col("sd") * lit(1e6)).cast(LongType)).as("ssd_q"),
        count(lit(1)).as("k"))
    val pooledDaily = daily.join(broadcast(top), Seq("l_partkey"))
      .groupBy("dt").agg(sum("q").as("tq"))
    val pooled = pooledDaily
      .agg(sum("tq").as("st"), sum(expr("CAST(tq AS DECIMAL(38,0)) * tq")).as("stt"))
      .crossJoin(broadcast(cal))
      .select(sqrt((col("stt").cast(DoubleType) -
        col("st").cast(DoubleType) * col("st").cast(DoubleType) / col("ndays")) /
        (col("ndays").cast(DoubleType) - 1)).as("sd_pool"))
    per.crossJoin(broadcast(pooled))
      .select(col("k").as("n_parts"),
        round(col("ssd_q").cast(DoubleType) / 1e6 * 1.645, 2).as("ss_separate_units"),
        round(col("sd_pool") * 1.645, 2).as("ss_pooled_units"),
        round(lit(1.0) - col("sd_pool") / (col("ssd_q").cast(DoubleType) / 1e6), 4)
          .as("pooling_benefit"))
  }

  val aggRiskPoolingSql: String =
    """WITH daily AS MATERIALIZED (
      |  SELECT l_partkey, CAST(date_trunc('day', l_shipdate) AS DATE) AS dt,
      |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
      |  FROM lineitem GROUP BY 1, 2),
      |top AS (
      |  SELECT l_partkey FROM (
      |    SELECT l_partkey, count(*) AS m FROM daily GROUP BY 1) t
      |  ORDER BY m DESC, l_partkey LIMIT 10),
      |cal AS (SELECT CAST(count(DISTINCT dt) AS BIGINT) AS ndays FROM daily),
      |per AS (
      |  SELECT CAST(sum(CAST(floor(sd * 1e6) AS BIGINT)) AS BIGINT) AS ssd_q,
      |         CAST(count(*) AS BIGINT) AS k
      |  FROM (
      |    SELECT sqrt((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / ndays) /
      |                (ndays - 1)) AS sd
      |    FROM (
      |      SELECT l_partkey, CAST(sum(q) AS BIGINT) AS sq,
      |             CAST(sum(CAST(q AS HUGEINT) * q) AS HUGEINT) AS sqq
      |      FROM daily JOIN top USING (l_partkey) GROUP BY 1) p
      |    CROSS JOIN cal) t),
      |pooled AS (
      |  SELECT sqrt((CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / ndays) /
      |              (ndays - 1)) AS sd_pool
      |  FROM (
      |    SELECT CAST(sum(tq) AS BIGINT) AS st,
      |           CAST(sum(CAST(tq AS HUGEINT) * tq) AS HUGEINT) AS stt
      |    FROM (
      |      SELECT dt, CAST(sum(q) AS BIGINT) AS tq
      |      FROM daily JOIN top USING (l_partkey) GROUP BY 1) g) a
      |  CROSS JOIN cal)
      |SELECT k AS n_parts,
      |       round(CAST(ssd_q AS DOUBLE) / 1e6 * 1.645, 2) AS ss_separate_units,
      |       round(sd_pool * 1.645, 2) AS ss_pooled_units,
      |       round(1.0 - sd_pool / (CAST(ssd_q AS DOUBLE) / 1e6), 4) AS pooling_benefit
      |FROM per CROSS JOIN pooled""".stripMargin

  /** dq-key-discovery — candidate-key profiling of the orders table:
    * for each declared candidate (single columns and the pragmatic
    * pairs), the exact distinct count, the uniqueness ratio, and the
    * is-key verdict — the discovery pass that runs BEFORE
    * dq-fd-check/pk-enforced can be configured, because you can't
    * enforce a key nobody found. Distinct counts are exact (no
    * approx_count_distinct — a key verdict from a sketch is a
    * contradiction); the candidate list is declared inline so the
    * scan count is bounded and stated; uniqueness via ratioFloor. */
  val dqKeyDiscovery: Q = (s, d) => {
    val o = orders(s, d).sharedCache()
    val tot = o.count()
    val singles = Seq("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val pairs = Seq(("o_custkey", "o_orderdate"), ("o_custkey", "o_totalprice"))
    val rows = singles.map { c =>
      o.agg(count_distinct(col(c)).as("nd"))
        .select(lit(c).as("candidate"), col("nd"))
    } ++ pairs.map { case (a, b) =>
      o.agg(count_distinct(col(a), col(b)).as("nd"))
        .select(lit(s"$a,$b").as("candidate"), col("nd"))
    }
    rows.reduce(_ unionAll _)
      .select(col("candidate"), col("nd").as("n_distinct"),
        lit(tot).as("n_rows"),
        ratioFloor(col("nd"), lit(tot), 6).as("uniqueness"),
        (col("nd") === tot).as("is_key"))
      .orderBy("candidate")
  }

  val dqKeyDiscoverySql: String =
    """WITH o AS MATERIALIZED (SELECT * FROM orders),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM o),
      |cands AS (
      |  SELECT 'o_orderkey' AS candidate, CAST(count(DISTINCT o_orderkey) AS BIGINT) AS nd FROM o
      |  UNION ALL
      |  SELECT 'o_custkey', CAST(count(DISTINCT o_custkey) AS BIGINT) FROM o
      |  UNION ALL
      |  SELECT 'o_orderdate', CAST(count(DISTINCT o_orderdate) AS BIGINT) FROM o
      |  UNION ALL
      |  SELECT 'o_totalprice', CAST(count(DISTINCT o_totalprice) AS BIGINT) FROM o
      |  UNION ALL
      |  SELECT 'o_custkey,o_orderdate',
      |         CAST(count(DISTINCT (o_custkey, o_orderdate)) AS BIGINT) FROM o
      |  UNION ALL
      |  SELECT 'o_custkey,o_totalprice',
      |         CAST(count(DISTINCT (o_custkey, o_totalprice)) AS BIGINT) FROM o)
      |SELECT candidate, nd AS n_distinct, n_rows,
      |       floor(CAST(nd AS DOUBLE) * 1e6 / n_rows) / 1e6 AS uniqueness,
      |       nd = n_rows AS is_key
      |FROM cands CROSS JOIN tot
      |ORDER BY candidate""".stripMargin

  /** emb-pq-usage — codebook-utilization health of a 1-subquantizer,
    * 16-centroid product quantizer over the first 8 dimensions
    * (centroids = the 16 md5-hash-seeded vectors from the corpus
    * itself, the kmeans-seed convention): per-centroid assignment
    * counts, dead-code count, and usage perplexity exp(H) vs the
    * ideal 16 — a PQ whose codes go unused wastes index bits and
    * skews ADC distances (ann-ivf-adc's lookup tables assume the
    * codebook is EXERCISED). Assignments minimize the exact integer
    * quantized distance (tie: centroid id); H uses the established
    * nano-quantized n·⌊ln n⌋ fold. Everything exact but the final
    * exp. */
  val embPqUsage: Q = (s, d) => {
    val v = embeddings(s, d).select(col("vec_id"),
      expr("transform(slice(embedding, 1, 8), x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))")
        .as("vq"))
      .sharedCache()
    val seeds = v
      .withColumn("h", expr(
        "(instr('0123456789abcdef', substring(md5(CAST(vec_id AS STRING)), 1, 1)) - 1) * 16 + " +
          "(instr('0123456789abcdef', substring(md5(CAST(vec_id AS STRING)), 2, 1)) - 1)"))
      .orderBy(col("h"), col("vec_id")).limit(16)
      .select(row_number().over(Window.orderBy(col("h"), col("vec_id"))).as("cid"),
        col("vq").as("cq"))
    val assign = v.crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("cid"),
        expr("aggregate(zip_with(vq, cq, (x, y) -> (x - y) * (x - y)), 0L, " +
          "(acc, t) -> acc + t)").as("d2"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("d2"), col("cid"))))
      .filter(col("rn") === 1)
    val usage = assign.groupBy("cid").agg(count(lit(1)).as("nu"))
    val tot = usage.agg(sum("nu").as("n"), count(lit(1)).as("used"),
      sum(expr("nu * CAST(floor(ln(CAST(nu AS DOUBLE)) * 1e9) AS BIGINT)")).as("slq"))
    tot.select(col("n").as("n_vecs"),
      col("used").as("codes_used"),
      (lit(16) - col("used")).cast(LongType).as("dead_codes"),
      round(exp(log(col("n").cast(DoubleType)) -
        col("slq").cast(DoubleType) / 1e9 / col("n")), 3).as("usage_perplexity"))
  }

  val embPqUsageSql: String =
    """WITH v AS MATERIALIZED (
      |  SELECT vec_id,
      |         list_transform(embedding[1:8],
      |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS vq
      |  FROM embeddings),
      |seeds AS MATERIALIZED (
      |  SELECT row_number() OVER (ORDER BY h, vec_id) AS cid, vq AS cq FROM (
      |    SELECT vec_id, vq,
      |           (strpos('0123456789abcdef', substring(md5(CAST(vec_id AS VARCHAR)), 1, 1)) - 1) * 16 +
      |           (strpos('0123456789abcdef', substring(md5(CAST(vec_id AS VARCHAR)), 2, 1)) - 1) AS h
      |    FROM v) t
      |  ORDER BY h, vec_id LIMIT 16),
      |assign AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM (
      |      SELECT v.vec_id, seeds.cid,
      |             list_sum(list_transform(range(1, 9),
      |               idx -> (v.vq[idx] - seeds.cq[idx]) * (v.vq[idx] - seeds.cq[idx]))) AS d2
      |      FROM v CROSS JOIN seeds) p) r
      |  WHERE rn = 1),
      |usage AS (SELECT cid, CAST(count(*) AS BIGINT) AS nu FROM assign GROUP BY 1)
      |SELECT CAST(sum(nu) AS BIGINT) AS n_vecs,
      |       CAST(count(*) AS BIGINT) AS codes_used,
      |       CAST(16 - count(*) AS BIGINT) AS dead_codes,
      |       round(exp(ln(CAST(sum(nu) AS DOUBLE)) -
      |             CAST(sum(nu * CAST(floor(ln(CAST(nu AS DOUBLE)) * 1e9) AS BIGINT)) AS DOUBLE)
      |             / 1e9 / sum(nu)), 3) AS usage_perplexity
      |FROM usage""".stripMargin

  /** cast-scientific-notation — numeric-literal parsing fidelity
    * across the formats ingest actually meets: scientific notation
    * (1.5E+3, -2E-2), leading plus, padded whitespace, bare decimal
    * point, and the two poisons (thousands separators and empty
    * string), each tried with try-cast semantics to DOUBLE and to
    * DECIMAL(18,4) — the suite that documents EXACTLY which shapes
    * parse, which NULL out, and where double and decimal parsing
    * DISAGREE (decimal rejects exponents-beyond-scale that double
    * happily keeps). Inline VALUES, engine-identical; the verdict
    * columns are the payload. */
  val castScientificNotation: Q = (s, d) => {
    s.sql("""SELECT raw,
      try_cast(raw AS DOUBLE) AS as_double,
      CAST(try_cast(raw AS DECIMAL(18,4)) AS DOUBLE) AS as_decimal,
      try_cast(raw AS DOUBLE) IS NOT NULL AS double_ok,
      try_cast(raw AS DECIMAL(18,4)) IS NOT NULL AS decimal_ok
      FROM VALUES ('1.5E+3'), ('-2E-2'), ('+42'), ('  7.25  '), ('.5'),
                  ('1,234.5'), (''), ('3.14159'), ('1e40'), ('0042')
      AS t(raw)
      ORDER BY raw""")
  }

  val castScientificNotationSql: String =
    """SELECT raw,
      |       try_cast(raw AS DOUBLE) AS as_double,
      |       CAST(try_cast(trim(raw) AS DECIMAL(18,4)) AS DOUBLE) AS as_decimal,
      |       try_cast(raw AS DOUBLE) IS NOT NULL AS double_ok,
      |       try_cast(trim(raw) AS DECIMAL(18,4)) IS NOT NULL AS decimal_ok
      |FROM (VALUES ('1.5E+3'), ('-2E-2'), ('+42'), ('  7.25  '), ('.5'),
      |             ('1,234.5'), (''), ('3.14159'), ('1e40'), ('0042')) t(raw)
      |ORDER BY raw""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-risk-pooling", aggRiskPooling, aggRiskPoolingSql),
    Key("dq-key-discovery", dqKeyDiscovery, dqKeyDiscoverySql),
    Key("emb-pq-usage", embPqUsage, embPqUsageSql),
    Key("cast-scientific-notation", castScientificNotation, castScientificNotationSql))
}
