package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch BE: PERT three-point estimates, variance-ratio
  * test, CSV+JSON hybrid source, lexical-semantic dedup agreement. */
object RelMore156 extends KeyModule {

  /** agg-pert-estimate — PERT three-point lead-time estimates per
    * priority: optimistic (exact p5 order statistic), most likely
    * (the exact MODE of the integer day distribution), pessimistic
    * (p95), combined as E = (a+4m+b)/6 with σ = (b−a)/6. The
    * project-planning summary a promise-date engine quotes — unlike
    * agg-lead-time-sla's raw percentiles, PERT weights the mode 4×,
    * which is the whole point of the beta-distribution heuristic
    * (and why it differs from the mean, a gap this op exposes
    * column-by-column). Percentiles and mode are exact integer order
    * statistics/argmax (count desc, day tiebreak); the PERT algebra
    * is exact integer arithmetic over days until the final /6. */
  val aggPertEstimate: Q = (s, d) => {
    val lead = lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("prio"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))).as("days"),
        col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
      .sharedCache()
    val pct = lead
      .withColumn("rn", row_number().over(Window.partitionBy("prio")
        .orderBy(col("days"), col("ok"), col("ln"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("prio")))
      .filter(expr("rn = (n * 5 + 99) div 100 OR rn = (n * 95 + 99) div 100"))
      .groupBy("prio")
      .agg(max(when(expr("rn = (n * 5 + 99) div 100"), col("days"))).as("a_opt"),
        max(when(expr("rn = (n * 95 + 99) div 100"), col("days"))).as("b_pess"))
    val mode = lead.groupBy("prio", "days").agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(Window.partitionBy("prio")
        .orderBy(col("c").desc, col("days"))))
      .filter(col("rk") === 1)
      .select(col("prio"), col("days").as("m_mode"))
    val mean = lead.groupBy("prio")
      .agg(count(lit(1)).as("n_lines"),
        sum(expr("CAST(days AS DECIMAL(38,0))")).as("sd"))
    pct.join(broadcast(mode), Seq("prio")).join(broadcast(mean), Seq("prio"))
      .select(col("prio"), col("n_lines"), col("a_opt"), col("m_mode"), col("b_pess"),
        round((col("a_opt") + lit(4) * col("m_mode") + col("b_pess"))
          .cast(DoubleType) / 6, 2).as("pert_expected_days"),
        round((col("b_pess") - col("a_opt")).cast(DoubleType) / 6, 2).as("pert_sigma"),
        round(col("sd").cast(DoubleType) / col("n_lines").cast(DoubleType), 2)
          .as("raw_mean_days"))
      .orderBy("prio")
  }

  val aggPertEstimateSql: String =
    """WITH lead AS MATERIALIZED (
      |  SELECT o_orderpriority AS prio,
      |         CAST(date_trunc('day', l_shipdate) AS DATE) -
      |           CAST(date_trunc('day', o_orderdate) AS DATE) AS days,
      |         l_orderkey AS ok, l_linenumber AS ln
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |pct AS (
      |  SELECT prio,
      |         max(CASE WHEN rn = (n * 5 + 99) // 100 THEN days END) AS a_opt,
      |         max(CASE WHEN rn = (n * 95 + 99) // 100 THEN days END) AS b_pess
      |  FROM (
      |    SELECT prio, days,
      |           row_number() OVER (PARTITION BY prio ORDER BY days, ok, ln) AS rn,
      |           count(*) OVER (PARTITION BY prio) AS n
      |    FROM lead) t
      |  WHERE rn = (n * 5 + 99) // 100 OR rn = (n * 95 + 99) // 100
      |  GROUP BY 1),
      |md AS (
      |  SELECT prio, days AS m_mode FROM (
      |    SELECT prio, days, row_number() OVER (PARTITION BY prio
      |      ORDER BY count(*) DESC, days) AS rk
      |    FROM lead GROUP BY prio, days) t
      |  WHERE rk = 1),
      |mn AS (
      |  SELECT prio, CAST(count(*) AS BIGINT) AS n_lines,
      |         CAST(sum(days) AS HUGEINT) AS sd
      |  FROM lead GROUP BY 1)
      |SELECT prio, n_lines, a_opt, m_mode, b_pess,
      |       round(CAST(a_opt + 4 * m_mode + b_pess AS DOUBLE) / 6, 2)
      |         AS pert_expected_days,
      |       round(CAST(b_pess - a_opt AS DOUBLE) / 6, 2) AS pert_sigma,
      |       round(CAST(sd AS DOUBLE) / n_lines, 2) AS raw_mean_days
      |FROM pct JOIN md USING (prio) JOIN mn USING (prio)
      |ORDER BY prio""".stripMargin

  /** agg-variance-ratio-test — the Lo-MacKinlay variance-ratio test
    * on daily revenue log-returns at horizons q ∈ {5, 21}:
    * VR(q) = Var(r_q)/(q·Var(r_1)) over NON-overlapping q-day
    * returns, with the homoskedastic z. A random walk has VR = 1 at
    * every horizon; VR < 1 is mean reversion, > 1 momentum — the
    * HORIZON-STRUCTURE view that dq-dickey-fuller's single unit-root
    * number collapses (agg-hurst-exponent estimates the same
    * phenomenon by the variance-time slope; VR adds the test).
    * Returns are nano-floored integers; q-day returns are exact sums
    * of those integers via block aggregation (block = day-index div
    * q — never an overlapping window); both variances come from
    * exact integer moments. */
  val aggVarianceRatioTest: Q = (s, d) => {
    val rets = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
        .as("v"))
      .withColumn("prev", lag("v", 1).over(Window.orderBy("dt")))
      .filter(col("prev").isNotNull)
      .withColumn("idx", row_number().over(Window.orderBy("dt")) - 1)
      .select(col("idx"),
        floor(log(col("v").cast(DoubleType) / col("prev").cast(DoubleType)) * lit(1e9))
          .cast(LongType).as("rq"))
      .sharedCache()
    val base = rets.agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
      sum(expr("CAST(rq AS DECIMAL(38,0))")).as("sr"),
      sum(expr("CAST(rq AS DECIMAL(38,0)) * rq")).as("srr"))
    def horizon(q: Int) = {
      rets.groupBy(expr(s"idx div $q").as("blk"))
        .agg(count(lit(1)).as("m"), sum("rq").as("rb"))
        .filter(col("m") === q)
        .agg(count(lit(1)).cast(DecimalType(38, 0)).as("nb"),
          sum(expr("CAST(rb AS DECIMAL(38,0))")).as("sb"),
          sum(expr("CAST(rb AS DECIMAL(38,0)) * rb")).as("sbb"))
        .select(lit(q).as("q"), col("nb"), col("sb"), col("sbb"))
    }
    val hs = horizon(5).unionAll(horizon(21))
    hs.crossJoin(broadcast(base))
      .select(col("q"), col("nb").cast(LongType).as("n_blocks"),
        // VR = [ (nbΣb²−(Σb)²)/nb² ] / [ q·(nΣr²−(Σr)²)/n² ]
        (((col("nb") * col("sbb") - col("sb") * col("sb")).cast(DoubleType) /
          (col("nb") * col("nb")).cast(DoubleType)) /
          (col("q") * ((col("n") * col("srr") - col("sr") * col("sr")).cast(DoubleType) /
            (col("n") * col("n")).cast(DoubleType)))).as("vr"),
        col("n").cast(DoubleType).as("nd"))
      .select(col("q"), col("n_blocks"), round(col("vr"), 6).as("variance_ratio"),
        // non-overlapping-VR asymptotic variance is 2(q−1)/nd (equivalently
        // 2(q−1)/(q·n_blocks)) — a q·nd denominator inflates z by √q
        round((col("vr") - 1) /
          sqrt(lit(2.0) * (col("q") - 1) / col("nd")), 4).as("z_stat"))
      .withColumn("random_walk_rejected", abs(col("z_stat")) > lit(1.96))
      .orderBy("q")
  }

  val aggVarianceRatioTestSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS v
      |  FROM orders GROUP BY 1),
      |rets AS MATERIALIZED (
      |  SELECT row_number() OVER (ORDER BY dt) - 1 AS idx,
      |         CAST(floor(ln(CAST(v AS DOUBLE) / prev) * 1e9) AS BIGINT) AS rq
      |  FROM (
      |    SELECT dt, v, CAST(lag(v) OVER (ORDER BY dt) AS DOUBLE) AS prev FROM daily) t
      |  WHERE prev IS NOT NULL),
      |base AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(rq) AS HUGEINT) AS sr,
      |         CAST(sum(CAST(rq AS HUGEINT) * rq) AS HUGEINT) AS srr
      |  FROM rets),
      |horizons AS (
      |  SELECT 5 AS q, CAST(count(*) AS HUGEINT) AS nb, CAST(sum(rb) AS HUGEINT) AS sb,
      |         CAST(sum(CAST(rb AS HUGEINT) * rb) AS HUGEINT) AS sbb
      |  FROM (SELECT idx // 5 AS blk, count(*) AS m, CAST(sum(rq) AS HUGEINT) AS rb
      |        FROM rets GROUP BY 1) t WHERE m = 5
      |  UNION ALL
      |  SELECT 21, CAST(count(*) AS HUGEINT), CAST(sum(rb) AS HUGEINT),
      |         CAST(sum(CAST(rb AS HUGEINT) * rb) AS HUGEINT)
      |  FROM (SELECT idx // 21 AS blk, count(*) AS m, CAST(sum(rq) AS HUGEINT) AS rb
      |        FROM rets GROUP BY 1) t WHERE m = 21),
      |m AS (
      |  SELECT q, CAST(nb AS BIGINT) AS n_blocks,
      |         (CAST(nb * sbb - sb * sb AS DOUBLE) / CAST(nb * nb AS DOUBLE)) /
      |           (q * (CAST(n * srr - sr * sr AS DOUBLE) / CAST(n * n AS DOUBLE))) AS vr,
      |         CAST(n AS DOUBLE) AS nd
      |  FROM horizons CROSS JOIN base)
      |SELECT q, n_blocks, round(vr, 6) AS variance_ratio,
      |       round((vr - 1) / sqrt(2.0 * (q - 1) / nd), 4) AS z_stat,
      |       abs(round((vr - 1) / sqrt(2.0 * (q - 1) / nd), 4)) > 1.96
      |         AS random_walk_rejected
      |FROM m ORDER BY q""".stripMargin

  /** src-csv-json-hybrid — the half-structured feed every
    * integration eventually ships: a CSV whose last column is an
    * embedded JSON object (quoted, commas inside). The op stages
    * orders that way (scalar columns + a JSON payload built by
    * to_json), reads the CSV back, parses the payload with
    * from_json/json_extract, and the grade is the exact relational
    * round trip. src-csv-quoted proves quoting; src-json-lines
    * proves JSON; REAL feeds interleave both in one file, and the
    * quoting of the JSON column (full of commas and quotes) is
    * precisely where naive parsers die. */
  val srcCsvJsonHybrid: Q = (s, d) => {
    val out = tmp("src-csv-json-hybrid", d)
    orders(s, d)
      .filter(col("o_orderkey") % 53 === 0)
      .select(col("o_orderkey"),
        to_json(struct(col("o_orderpriority").as("prio"),
          col("o_orderstatus").as("status"),
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .as("cents"))).as("payload"))
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").option("quoteAll", "true").csv(out)
    s.read.option("header", "true").csv(out)
      .select(expr("CAST(o_orderkey AS BIGINT)").as("o_orderkey"),
        expr("from_json(payload, 'prio STRING, status STRING, cents BIGINT')").as("p"))
      .select(col("o_orderkey"), col("p.prio").as("prio"),
        col("p.status").as("status"), col("p.cents").as("cents"))
      .orderBy("o_orderkey")
  }

  val srcCsvJsonHybridSql: String =
    """SELECT o_orderkey, o_orderpriority AS prio, o_orderstatus AS status,
      |       CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |FROM orders WHERE o_orderkey % 53 = 0
      |ORDER BY o_orderkey""".stripMargin

  /** dedup-lexical-semantic-agreement — do lexical and semantic
    * near-dup detectors AGREE? Over the id-aligned document/embedding
    * subset, lexical candidates are word-trigram Jaccard ≥ 0.30
    * (df-capped inverted shingle index — the dedup-containment
    * blocking discipline, never all-pairs) and semantic candidates
    * are the top-25 closest pairs on the norm-expansion cosine pass
    * (rank-based — an absolute near-dup threshold returns the empty
    * set on this corpus, whose max cosine is 0.51; stated); the
    * output is the 2×2 agreement: both / lexical-only (same words,
    * different meaning context — templates) / semantic-only
    * (paraphrases — the pairs lexical dedup MISSES, the entire
    * argument for embedding dedup). Counts exact; both candidate
    * sets deterministic. */
  val dedupLexicalSemanticAgreement: Q = (s, d) => {
    // r15: tried moving the repartition INTO the cached frame (§2.5) so
    // the fill parallelizes — measured 2.4× SLOWER (2.14 → 5.22 steady;
    // the exchange then carries full `text` payloads, §2.3's exact
    // anti-pattern) and REVERTED; the narrow sem-leg repartition below
    // stands as shipped in r14.
    val joined = documents(s, d)
      .join(embeddings(s, d), col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("text"),
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) " +
          "AS DOUBLE))").as("vq"))
      .withColumn("nq", expr("dot_product(vq, vq)"))
      .sharedCache()
    // lexical: word-trigram shingles, df-capped index, exact Jaccard.
    // r14 opt: trigrams are adjacent-token triples INSIDE one row's
    // token array — derived with a per-row array transform instead of
    // posexplode + two lead() windows, which shuffled and sorted every
    // token of the corpus just to look two rows ahead (guide §2.4:
    // remove shuffles outright). Same triples, same distinct set.
    val shingles = joined
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws) - 2), k -> " +
          "concat_ws(' ', ws[k - 1], ws[k], ws[k + 1]))")).as("sh"))
      .distinct()
      .sharedCache()
    val sizes = shingles.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    val capped = shingles.join(
      shingles.groupBy("sh").agg(count(lit(1)).as("df")).filter(col("df") <= 50),
      Seq("sh"))
    val inter = capped.as("a").join(capped.as("b"),
        expr("a.sh = b.sh AND a.doc_id < b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("inter"))
    val lex = inter
      .join(sizes.select(col("doc_id").as("i"), col("nsh").as("na")), Seq("i"))
      .join(sizes.select(col("doc_id").as("j"), col("nsh").as("nb")), Seq("j"))
      .filter(expr("inter * 100 >= (na + nb - inter) * 30"))
      .select(col("i"), col("j"), lit(true).as("lexical"))
    // semantic: the TOP-25 closest pairs (rank, not an absolute
    // threshold — this corpus's max cosine is 0.51, so any fixed
    // near-dup cut returns the empty set; the agreement question
    // needs candidate sets of comparable size, measured not assumed)
    // r14 opt: the stream side of this cross join is the cached
    // single-partition id-aligned corpus (one parquet row group → one
    // scan task), so the |subset|² cosine pass ran on one core.
    // Repartition after the read (guide §2.5), conf-derived count;
    // project both sides to (doc_id, vq, nq) so the broadcast and the
    // pair rows never carry `text` (guide §2.3: project before the
    // exchange).
    val vecsOnly = joined.select(col("doc_id"), col("vq"), col("nq"))
    val nParts = s.conf.get("spark.sql.shuffle.partitions").toInt
    val sem = vecsOnly.repartition(nParts).as("a")
      .crossJoin(broadcast(vecsOnly.as("b")))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        round(expr("dot_product(a.vq, b.vq)") / sqrt(col("a.nq") * col("b.nq")), 9)
          .as("cos"))
      // top-25 via orderBy+limit (TakeOrderedAndProject bounded heap)
      // instead of numbering every pair through one WindowExec task
      .orderBy(col("cos").desc, col("i"), col("j"))
      .limit(25)
      .select(col("i"), col("j"), lit(true).as("semantic"))
    val cls = lex.join(sem, Seq("i", "j"), "full_outer")
      .select(when(coalesce(col("lexical"), lit(false)) &&
          coalesce(col("semantic"), lit(false)), "both")
        .when(coalesce(col("lexical"), lit(false)), "lexical_only")
        .otherwise("semantic_only").as("agreement"))
    val tot = joined.agg(count(lit(1)).as("n_docs"))
    cls.groupBy("agreement").agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(tot))
      .select(col("agreement"), col("n_pairs"), col("n_docs"))
      .orderBy("agreement")
  }

  val dedupLexicalSemanticAgreementSql: String =
    """WITH joined AS MATERIALIZED (
      |  SELECT doc_id, text,
      |         list_transform(embedding,
      |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS DOUBLE)) AS vq
      |  FROM documents JOIN embeddings ON doc_id = vec_id),
      |vn AS MATERIALIZED (
      |  SELECT doc_id, vq, list_inner_product(vq, vq) AS nq FROM joined),
      |toks AS (
      |  SELECT doc_id, w, pos FROM (
      |    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w,
      |           generate_subscripts(regexp_split_to_array(trim(text), '\s+'), 1) AS pos
      |    FROM joined) t),
      |shingles AS MATERIALIZED (
      |  SELECT DISTINCT doc_id, sh FROM (
      |    SELECT doc_id,
      |           w || ' ' || lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) || ' ' ||
      |             lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS sh,
      |           lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
      |    FROM toks) t
      |  WHERE w3 IS NOT NULL),
      |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nsh FROM shingles GROUP BY 1),
      |capped AS (
      |  SELECT shingles.doc_id, shingles.sh FROM shingles
      |  JOIN (SELECT sh FROM shingles GROUP BY sh HAVING count(*) <= 50) f
      |    ON shingles.sh = f.sh),
      |inter AS (
      |  SELECT a.doc_id AS i, b.doc_id AS j, CAST(count(*) AS BIGINT) AS inter
      |  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |lex AS (
      |  SELECT i, j, TRUE AS lexical
      |  FROM inter
      |  JOIN (SELECT doc_id AS i, nsh AS na FROM sizes) sa USING (i)
      |  JOIN (SELECT doc_id AS j, nsh AS nb FROM sizes) sb USING (j)
      |  WHERE inter * 100 >= (na + nb - inter) * 30),
      |sem AS (
      |  SELECT i, j, TRUE AS semantic FROM (
      |    SELECT a.doc_id AS i, b.doc_id AS j,
      |           row_number() OVER (ORDER BY
      |             round(list_inner_product(a.vq, b.vq) / sqrt(a.nq * b.nq), 9) DESC,
      |             a.doc_id, b.doc_id) AS rk
      |    FROM vn a JOIN vn b ON a.doc_id < b.doc_id) t
      |  WHERE rk <= 25),
      |cls AS (
      |  SELECT CASE WHEN coalesce(lexical, FALSE) AND coalesce(semantic, FALSE)
      |              THEN 'both'
      |              WHEN coalesce(lexical, FALSE) THEN 'lexical_only'
      |              ELSE 'semantic_only' END AS agreement
      |  FROM lex FULL OUTER JOIN sem USING (i, j)),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM joined)
      |SELECT agreement, CAST(count(*) AS BIGINT) AS n_pairs, n_docs
      |FROM cls CROSS JOIN tot
      |GROUP BY agreement, n_docs
      |ORDER BY agreement""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-pert-estimate", aggPertEstimate, aggPertEstimateSql),
    Key("agg-variance-ratio-test", aggVarianceRatioTest, aggVarianceRatioTestSql),
    Key("src-csv-json-hybrid", srcCsvJsonHybrid, srcCsvJsonHybridSql),
    Key("dedup-lexical-semantic-agreement", dedupLexicalSemanticAgreement, dedupLexicalSemanticAgreementSql))
}
