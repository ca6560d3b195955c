package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-11 batch AI: Apriori 3-itemsets, NDCG ranking evaluation,
  * doubly-robust ATE, McNemar paired-proportions test. */
object RelMore134 extends KeyModule {

  /** agg-apriori-triples — frequent brand TRIPLES in order baskets by
    * the Apriori candidate discipline: frequent single brands → pair
    * supports ≥ minsup → candidate (a,b,c) only when ALL THREE of its
    * pairs are frequent → one bounded enumeration pass verifies true
    * support. agg-basket-affinity stops at pair lift; the 3-itemset
    * layer is where naive enumeration turns combinatorial (brands³
    * candidates) and where Apriori's monotonicity prune IS the scale
    * design: the enumeration self-join runs only over baskets'
    * L1-filtered distinct items (bounded per-basket fan-out ≤ k³) and
    * is semi-joined against the broadcast candidate set before the
    * counting shuffle. minsup = 0.25% of baskets (25 bp — chosen scale-invariantly: the 0.5%
    * first cut filtered EVERY triple at sf0.1 while passing 15 at
    * sf0.01, the classic scale-dependent-constant trap), derived from the
    * data as an exact integer. Lift vs independence from exact
    * integer supports; top 15 by support. */
  val aggAprioriTriples: Q = (s, d) => {
    // ONE shuffle builds the baskets: collect_set dedupes in-agg, so
    // no separate distinct pass, and the per-basket sorted item array
    // feeds L1, L2 and the triple enumeration as bounded per-row
    // explodes instead of k-way self-joins on the basket key (each of
    // which would re-shuffle the full item stream). This collapsed the
    // op from four shuffles of ~|items| to one.
    val rawBaskets = lineitem(s, d)
      .join(part(s, d).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("b"))
      .groupBy("ok").agg(sort_array(collect_set(col("b"))).as("bs0"))
      .sharedCache()
    val nb = rawBaskets.agg(count(lit(1)).as("n_baskets"))
    // support test kept in exact integers: sup·10000 ≥ n·25
    // r15 (§2.2 fewer, larger partitions): L1/L2 are bounded by the
    // brand domain (≤ |brands| and ≤ |brands|² rows at ANY scale), yet
    // each groupBy left them at 32 shuffle partitions, so every cached
    // re-read and downstream join launched 32 near-empty tasks — the
    // StageProfile showed ~1.4 s of this rep spent in 32-task stages
    // with taskSum ≈ 0 ms. coalesce(1) keeps the heavy explode map
    // side parallel (separate stage) and runs only the trivial reduce
    // + cached reads single-task.
    val l1 = rawBaskets.select(explode(col("bs0")).as("b"))
      .groupBy("b").agg(count(lit(1)).as("sup1"))
      .crossJoin(broadcast(nb))
      .filter(expr("sup1 * 10000 >= n_baskets * 25"))
      .coalesce(1)
      .sharedCache()
    // L1 filter applied INSIDE each basket array (broadcast single-row
    // frequent-item set), preserving sort order
    val l1arr = l1.agg(sort_array(collect_list(col("b"))).as("l1s"))
    val baskets = rawBaskets.crossJoin(broadcast(l1arr))
      .select(col("ok"), expr("filter(bs0, x -> array_contains(l1s, x))").as("bs"))
      .sharedCache()
    val l2 = baskets.filter(size(col("bs")) >= 2)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(bs) - 2), i ->
          |  transform(sequence(i + 1, size(bs) - 1), j ->
          |    struct(bs[i] AS x, bs[j] AS y))))""".stripMargin)).as("p"))
      .groupBy("p.x", "p.y").agg(count(lit(1)).as("sup2"))
      .crossJoin(broadcast(nb))
      .filter(expr("sup2 * 10000 >= n_baskets * 25"))
      .select("x", "y")
      .coalesce(1)
      .sharedCache()
    // candidate (a,b,c): (a,b) ⋈ (a,c) with b<c, prune on (b,c) ∈ L2
    val cand = l2.as("ab").join(l2.as("ac"), col("ab.x") === col("ac.x"))
      .filter(col("ab.y") < col("ac.y"))
      .select(col("ab.x").as("a"), col("ab.y").as("bb"), col("ac.y").as("c"))
      .join(l2.select(col("x").as("bb"), col("y").as("c")), Seq("bb", "c"))
      .select("a", "bb", "c")
    val triples = baskets.filter(size(col("bs")) >= 3)
      .select(explode(expr(
      """flatten(transform(sequence(0, size(bs) - 3), i ->
        |  flatten(transform(sequence(i + 1, size(bs) - 2), j ->
        |    transform(sequence(j + 1, size(bs) - 1), k ->
        |      struct(bs[i] AS a, bs[j] AS bb, bs[k] AS c))))))""".stripMargin)).as("t"))
      .select(col("t.a"), col("t.bb"), col("t.c"))
    val sup3 = triples
      .join(broadcast(cand), Seq("a", "bb", "c"), "left_semi")
      .groupBy("a", "bb", "c").agg(count(lit(1)).as("sup3"))
      .crossJoin(broadcast(nb))
      .filter(expr("sup3 * 10000 >= n_baskets * 25"))
      .coalesce(1)
    sup3.join(broadcast(l1.select(col("b").as("a"), col("sup1").as("sa"))), Seq("a"))
      .join(broadcast(l1.select(col("b").as("bb"), col("sup1").as("sb"))), Seq("bb"))
      .join(broadcast(l1.select(col("b").as("c"), col("sup1").as("sc"))), Seq("c"))
      .select(col("a").as("brand1"), col("bb").as("brand2"), col("c").as("brand3"),
        col("sup3").as("support"),
        ratioFloor(col("sup3").cast(DoubleType), col("n_baskets"), 6).as("support_ratio"),
        // lift = sup3·n² / (sa·sb·sc)
        ratioFloor(col("sup3").cast(DoubleType) * col("n_baskets") * col("n_baskets"),
          col("sa") * col("sb") * col("sc"), 4).as("lift"))
      .orderBy(col("support").desc, col("brand1"), col("brand2"), col("brand3"))
      .limit(15)
  }

  val aggAprioriTriplesSql: String =
    """WITH items AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS ok, p_brand AS b
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |nb AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_baskets FROM items),
      |l1 AS MATERIALIZED (
      |  SELECT b, CAST(count(*) AS BIGINT) AS sup1 FROM items
      |  GROUP BY 1 HAVING count(*) * 10000 >= (SELECT n_baskets * 25 FROM nb)),
      |fi AS MATERIALIZED (SELECT ok, items.b FROM items JOIN l1 USING (b)),
      |l2 AS MATERIALIZED (
      |  SELECT p1.b AS x, p2.b AS y
      |  FROM fi p1 JOIN fi p2 ON p1.ok = p2.ok AND p1.b < p2.b
      |  GROUP BY 1, 2 HAVING count(*) * 10000 >= (SELECT n_baskets * 25 FROM nb)),
      |cand AS (
      |  SELECT ab.x AS a, ab.y AS bb, ac.y AS c
      |  FROM l2 ab JOIN l2 ac ON ab.x = ac.x AND ab.y < ac.y
      |  JOIN l2 bc ON bc.x = ab.y AND bc.y = ac.y),
      |sup3 AS (
      |  SELECT t1.b AS a, t2.b AS bb, t3.b AS c, CAST(count(*) AS BIGINT) AS sup3
      |  FROM fi t1 JOIN fi t2 ON t1.ok = t2.ok AND t1.b < t2.b
      |  JOIN fi t3 ON t2.ok = t3.ok AND t2.b < t3.b
      |  JOIN cand ON cand.a = t1.b AND cand.bb = t2.b AND cand.c = t3.b
      |  GROUP BY 1, 2, 3
      |  HAVING count(*) * 10000 >= (SELECT n_baskets * 25 FROM nb))
      |SELECT a AS brand1, bb AS brand2, c AS brand3, sup3 AS support,
      |       floor(CAST(sup3 AS DOUBLE) * 1e6 / n_baskets) / 1e6 AS support_ratio,
      |       floor(CAST(sup3 AS DOUBLE) * n_baskets * n_baskets * 1e4 /
      |             (la.sup1 * lb.sup1 * lc.sup1)) / 1e4 AS lift
      |FROM sup3 CROSS JOIN nb
      |JOIN l1 la ON la.b = a JOIN l1 lb ON lb.b = bb JOIN l1 lc ON lc.b = c
      |ORDER BY support DESC, brand1, brand2, brand3
      |LIMIT 15""".stripMargin

  /** text-ndcg-eval — NDCG@10 of the BM25 ranking (text-bm25-topk's
    * exact topology: 3 mid-frequency query terms, per-term scores
    * micro-quantized before the doc fold so the ranking is integer-
    * deterministic) against a graded relevance oracle: rel(doc) =
    * number of distinct query terms present (0..3). A retrieval op
    * without its evaluation metric is unfalsifiable — NDCG grades
    * the POSITIONS, rewarding rank-0 hits exponentially via
    * (2^rel−1)/log₂(p+1), which recall@k (ann-recall-measure's
    * contract) cannot see. Both the achieved and the ideal DCG fold
    * nano-quantized per-position integers, so the two 10-term sums
    * are exact; NDCG is one final integer ratio. */
  val textNdcgEval: Q = (s, d) => {
    // r15: tried a §2.5 repartition before the token explode — measured
    // 2× SLOWER (1.24 → 2.48 steady: the exchange carries full `text`
    // rows, and the downstream aggregates were already shuffle-bounded)
    // and REVERTED per the r14 lesson-4 rule (repartition pays only
    // when per-row work dominates the exchange).
    val toks = documents(s, d)
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("w"))
      .sharedCache()
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("nd"), sum("dl").as("tottok"))
    val df = toks.select("doc_id", "w").distinct()
      .groupBy("w").agg(count(lit(1)).as("df"))
    val qterms = df.orderBy(col("df").desc, col("w")).limit(7)
      .orderBy(col("df").asc, col("w")).limit(3)
      .select(col("w"), col("df"))
    val tf = toks.join(broadcast(qterms), Seq("w"))
      .groupBy("doc_id", "w", "df").agg(count(lit(1)).as("tf"))
    val scored = tf.join(broadcast(dl), Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("w"),
        floor(
          log(lit(1.0) + (col("nd").cast(DoubleType) - col("df") + 0.5) / (col("df") + 0.5)) *
            (col("tf").cast(DoubleType) * (lit(1.2) + 1)) /
            (col("tf") + lit(1.2) * (lit(1.0) - 0.75 +
              lit(0.75) * col("dl") * col("nd") / col("tottok").cast(DoubleType))) * lit(1e6))
          .cast(LongType).as("sq"))
      .groupBy("doc_id").agg(sum("sq").as("score_q"), count(lit(1)).as("rel"))
      .sharedCache()
    // achieved: DCG over the BM25 top 10 (integer-deterministic order)
    val ranked = scored.orderBy(col("score_q").desc, col("doc_id")).limit(10)
      .select(col("doc_id"), col("rel"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("score_q").desc, col("doc_id"))).as("pos"))
    val dcg = ranked.select(
        floor((pow(lit(2.0), col("rel")) - 1) * lit(1e9) /
          (log(col("pos") + lit(1.0)) / log(lit(2.0)))).cast(LongType).as("t"))
      .agg(sum("t").as("dcg_q"))
    // ideal: best possible top 10 by relevance alone
    val ideal = scored.orderBy(col("rel").desc, col("doc_id")).limit(10)
      .select(col("rel"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("rel").desc, col("doc_id"))).as("pos"))
      .select(floor((pow(lit(2.0), col("rel")) - 1) * lit(1e9) /
        (log(col("pos") + lit(1.0)) / log(lit(2.0)))).cast(LongType).as("t"))
      .agg(sum("t").as("idcg_q"))
    dcg.crossJoin(broadcast(ideal))
      .select(lit(10).as("k"),
        round(col("dcg_q").cast(DoubleType) / lit(1e9), 4).as("dcg"),
        round(col("idcg_q").cast(DoubleType) / lit(1e9), 4).as("idcg"),
        ratioFloor(col("dcg_q").cast(DoubleType), col("idcg_q"), 6).as("ndcg"))
  }

  val textNdcgEvalSql: String =
    """WITH toks AS MATERIALIZED (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      |  FROM documents),
      |dl AS MATERIALIZED (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
      |stats AS (SELECT CAST(count(*) AS BIGINT) AS nd, CAST(sum(dl) AS BIGINT) AS tottok FROM dl),
      |df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM
      |        (SELECT DISTINCT doc_id, w FROM toks) t GROUP BY 1),
      |qterms AS (
      |  SELECT w, df FROM (
      |    SELECT w, df FROM df ORDER BY df DESC, w LIMIT 7) t
      |  ORDER BY df ASC, w LIMIT 3),
      |tf AS (
      |  SELECT doc_id, toks.w, df, CAST(count(*) AS BIGINT) AS tf
      |  FROM toks JOIN qterms USING (w) GROUP BY 1, 2, 3),
      |scored AS MATERIALIZED (
      |  SELECT doc_id,
      |         CAST(sum(CAST(floor(
      |           ln(1.0 + (CAST(nd AS DOUBLE) - df + 0.5) / (df + 0.5)) *
      |           (CAST(tf AS DOUBLE) * (1.2 + 1)) /
      |           (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl * nd / CAST(tottok AS DOUBLE))) * 1e6)
      |           AS BIGINT)) AS BIGINT) AS score_q,
      |         CAST(count(*) AS BIGINT) AS rel
      |  FROM tf JOIN dl USING (doc_id) CROSS JOIN stats
      |  GROUP BY 1),
      |ranked AS (
      |  SELECT rel, row_number() OVER (ORDER BY score_q DESC, doc_id) AS pos
      |  FROM scored ORDER BY score_q DESC, doc_id LIMIT 10),
      |dcg AS (
      |  SELECT CAST(sum(CAST(floor((pow(2.0, rel) - 1) * 1e9 /
      |           (ln(pos + 1.0) / ln(2.0))) AS BIGINT)) AS BIGINT) AS dcg_q
      |  FROM ranked),
      |ideal AS (
      |  SELECT CAST(sum(CAST(floor((pow(2.0, rel) - 1) * 1e9 /
      |           (ln(pos + 1.0) / ln(2.0))) AS BIGINT)) AS BIGINT) AS idcg_q
      |  FROM (
      |    SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS pos
      |    FROM scored ORDER BY rel DESC, doc_id LIMIT 10) t)
      |SELECT 10 AS k, round(CAST(dcg_q AS DOUBLE) / 1e9, 4) AS dcg,
      |       round(CAST(idcg_q AS DOUBLE) / 1e9, 4) AS idcg,
      |       floor(CAST(dcg_q AS DOUBLE) * 1e6 / idcg_q) / 1e6 AS ndcg
      |FROM dcg CROSS JOIN ideal""".stripMargin

  /** agg-doubly-robust-ate — AIPW/doubly-robust average treatment
    * effect of deep discounting (l_discount ≥ 5%) on line revenue,
    * adjusting for quantity: ATE_DR = mean[μ₁(x)−μ₀(x) +
    * T(Y−μ₁)/e(x) − (1−T)(Y−μ₀)/(1−e(x))]. agg-ipw-ate reweights
    * only; agg-regression adjusts only; DR is consistent if EITHER
    * model is right — the estimator a causal pipeline should default
    * to. Outcome models are exact-moment OLS per arm; the propensity
    * is a linear-probability fit on quantity (stated — closed-form,
    * no iterative logistic), clipped to [0.01, 0.99]. Per-row DR
    * terms are milli-quantized to integers before the global fold so
    * the mean is order-exact; coefficients travel as one broadcast
    * row. Two full passes, both map-side-combined aggregates. */
  val aggDoublyRobustAte: Q = (s, d) => {
    val base = lineitem(s, d).select(
        expr("CAST(l_quantity AS DECIMAL(38,0))").as("x"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))").as("y"),
        when(expr("CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT)") >= 500, 1L)
          .otherwise(0L).as("t"))
      .sharedCache()
    // per-arm OLS Y~X and global LPM T~X from one exact moment pass
    val mom = base.groupBy("t")
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * x")).as("sxx"), sum(expr("x * y")).as("sxy"))
      .select(col("t"), col("n"), col("sx"), col("sy"), col("sxx"), col("sxy"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType)).as("slope"))
      .select(col("t"), col("n"), col("sx"), col("sy"), col("slope"),
        ((col("sy").cast(DoubleType) - col("slope") * col("sx").cast(DoubleType)) /
          col("n").cast(DoubleType)).as("icept"))
    val m1 = mom.filter(col("t") === 1).select(
      col("slope").as("b1"), col("icept").as("a1"),
      col("n").as("n1"), col("sx").as("sx1"))
    val m0 = mom.filter(col("t") === 0).select(
      col("slope").as("b0"), col("icept").as("a0"),
      col("n").as("n0"), col("sx").as("sx0"))
    val lpm = m1.crossJoin(broadcast(m0)).select(col("a1"), col("b1"), col("a0"), col("b0"),
      // LPM on pooled moments: e(x) = ae + be·x
      col("n1"), col("n0"), col("sx1"), col("sx0"))
    val pooled = base.agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum("x").as("sx"), sum(expr("x * x")).as("sxx"),
        sum(expr("CAST(t AS DECIMAL(38,0))")).as("st"),
        sum(expr("x * t")).as("sxt"))
      .select(((col("n") * col("sxt") - col("sx") * col("st")).cast(DoubleType) /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType)).as("be"),
        col("n"), col("sx"), col("st"))
      .select(col("be"),
        ((col("st").cast(DoubleType) - col("be") * col("sx").cast(DoubleType)) /
          col("n").cast(DoubleType)).as("ae"))
    val coefs = broadcast(lpm.crossJoin(pooled))
    val terms = base.crossJoin(coefs)
      .select(col("t"), col("y"), col("x"),
        (col("a1") + col("b1") * col("x").cast(DoubleType)).as("mu1"),
        (col("a0") + col("b0") * col("x").cast(DoubleType)).as("mu0"),
        greatest(lit(0.01), least(lit(0.99),
          col("ae") + col("be") * col("x").cast(DoubleType))).as("e"))
      .select(col("t"),
        floor((col("mu1") - col("mu0") +
          col("t") * (col("y").cast(DoubleType) - col("mu1")) / col("e") -
          (lit(1) - col("t")) * (col("y").cast(DoubleType) - col("mu0")) /
            (lit(1.0) - col("e"))) * lit(1e3)).cast(LongType).as("dr_q"),
        floor((col("mu1") - col("mu0")) * lit(1e3)).cast(LongType).as("reg_q"))
    terms.agg(count(lit(1)).as("n_rows"),
        sum(col("t")).as("n_treated"),
        sum("dr_q").as("sdr"), sum("reg_q").as("sreg"))
      .select(col("n_rows"), col("n_treated"),
        round(col("sdr").cast(DoubleType) / col("n_rows") / lit(1e5), 4).as("ate_dr_usd"),
        round(col("sreg").cast(DoubleType) / col("n_rows") / lit(1e5), 4)
          .as("ate_regression_usd"))
  }

  val aggDoublyRobustAteSql: String =
    """WITH base AS MATERIALIZED (
      |  SELECT CAST(l_quantity AS HUGEINT) AS x,
      |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT) AS y,
      |         CASE WHEN CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT) >= 500
      |              THEN 1 ELSE 0 END AS t
      |  FROM lineitem),
      |mom AS (
      |  SELECT t, CAST(count(*) AS HUGEINT) AS n, CAST(sum(x) AS HUGEINT) AS sx,
      |         CAST(sum(y) AS HUGEINT) AS sy, CAST(sum(x * x) AS HUGEINT) AS sxx,
      |         CAST(sum(x * y) AS HUGEINT) AS sxy
      |  FROM base GROUP BY 1),
      |fit AS (
      |  SELECT t, CAST(n * sxy - sx * sy AS DOUBLE) /
      |              CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
      |         (CAST(sy AS DOUBLE) -
      |          CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) *
      |          CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS icept
      |  FROM mom),
      |lpm AS (
      |  SELECT CAST(n * sxt - sx * st AS DOUBLE) /
      |           CAST(n * sxx - sx * sx AS DOUBLE) AS be,
      |         (CAST(st AS DOUBLE) -
      |          CAST(n * sxt - sx * st AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) *
      |          CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS ae
      |  FROM (
      |    SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(x) AS HUGEINT) AS sx,
      |           CAST(sum(x * x) AS HUGEINT) AS sxx, CAST(sum(t) AS HUGEINT) AS st,
      |           CAST(sum(x * t) AS HUGEINT) AS sxt
      |    FROM base) p),
      |coefs AS (
      |  SELECT f1.slope AS b1, f1.icept AS a1, f0.slope AS b0, f0.icept AS a0, ae, be
      |  FROM (SELECT * FROM fit WHERE t = 1) f1
      |  CROSS JOIN (SELECT * FROM fit WHERE t = 0) f0 CROSS JOIN lpm),
      |terms AS (
      |  SELECT t,
      |         CAST(floor((a1 + b1 * x - (a0 + b0 * x) +
      |           t * (CAST(y AS DOUBLE) - (a1 + b1 * x)) /
      |             greatest(0.01, least(0.99, ae + be * x)) -
      |           (1 - t) * (CAST(y AS DOUBLE) - (a0 + b0 * x)) /
      |             (1.0 - greatest(0.01, least(0.99, ae + be * x)))) * 1e3) AS BIGINT)
      |           AS dr_q,
      |         CAST(floor((a1 + b1 * x - (a0 + b0 * x)) * 1e3) AS BIGINT) AS reg_q
      |  FROM base CROSS JOIN coefs)
      |SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(t) AS BIGINT) AS n_treated,
      |       round(CAST(sum(dr_q) AS DOUBLE) / count(*) / 1e5, 4) AS ate_dr_usd,
      |       round(CAST(sum(reg_q) AS DOUBLE) / count(*) / 1e5, 4) AS ate_regression_usd
      |FROM terms""".stripMargin

  /** dq-mcnemar-paired — McNemar's test (sign-test form) on PAIRED
    * per-user purchase activity: each user is their own control,
    * their purchase count compared across the first vs second half of
    * the observation window (midpoint from the data's own exact
    * micros span). The discordant cells are users whose count DROPPED
    * (b) vs ROSE (c); ties carry no information and are dropped —
    * χ² = (|b−c|−1)²/(b+c) with continuity correction. A naive
    * two-proportion z-test on the same data would be invalid (every
    * user appears in BOTH samples); this is the paired complement to
    * dq-srm-check. The binary any-purchase flag is degenerate here
    * (every user purchases in both halves — measured, not assumed),
    * hence the count-comparison pairing. One pass to per-user half
    * counts, exact integer cells, single-row closed form with an
    * explicit zero-discordant guard (NULL, never a throw). */
  val dqMcnemarPaired: Q = (s, d) => {
    val ev = events(s, d).select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us")).sharedCache()
    val span = ev.agg(((min("us") + max("us")) - pmod(min("us") + max("us"), lit(2L)))
      .divide(lit(2L)).cast(LongType).as("mid"))
    val flags = ev.crossJoin(broadcast(span))
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum(when(col("us") < col("mid"), 1L).otherwise(0L)).as("h1"),
        sum(when(col("us") >= col("mid"), 1L).otherwise(0L)).as("h2"))
    val users = ev.select("user_id").distinct()
    val cells = users.join(flags, Seq("user_id"), "left")
      .select(coalesce(col("h1"), lit(0L)).as("h1"), coalesce(col("h2"), lit(0L)).as("h2"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("h1") > col("h2"), 1L).otherwise(0L)).as("b"),
        sum(when(col("h1") < col("h2"), 1L).otherwise(0L)).as("c"))
    cells.select(col("n_users"), col("b").as("decreased"), col("c").as("increased"),
        when(col("b") + col("c") > 0,
          round((abs(col("b") - col("c")) - lit(1)).cast(DoubleType) *
            (abs(col("b") - col("c")) - lit(1)).cast(DoubleType) /
            (col("b") + col("c")).cast(DoubleType), 4)).as("mcnemar_chi2"))
      .withColumn("significant", col("mcnemar_chi2") > lit(3.841))
  }

  val dqMcnemarPairedSql: String =
    """WITH ev AS MATERIALIZED (
      |  SELECT user_id, event_type,
      |         epoch_us(date_trunc('microseconds', ts)) AS us
      |  FROM events),
      |span AS (
      |  SELECT ((min(us) + max(us)) - ((min(us) + max(us)) % 2)) // 2 AS mid FROM ev),
      |flags AS (
      |  SELECT user_id,
      |         CAST(sum(CASE WHEN us < mid THEN 1 ELSE 0 END) AS BIGINT) AS h1,
      |         CAST(sum(CASE WHEN us >= mid THEN 1 ELSE 0 END) AS BIGINT) AS h2
      |  FROM ev CROSS JOIN span WHERE event_type = 'purchase' GROUP BY 1),
      |cells AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_users,
      |         CAST(sum(CASE WHEN coalesce(h1, 0) > coalesce(h2, 0)
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |         CAST(sum(CASE WHEN coalesce(h1, 0) < coalesce(h2, 0)
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS c
      |  FROM (SELECT DISTINCT user_id FROM ev) u LEFT JOIN flags USING (user_id))
      |SELECT n_users, b AS decreased, c AS increased,
      |       CASE WHEN b + c > 0 THEN
      |         round(CAST(abs(b - c) - 1 AS DOUBLE) * CAST(abs(b - c) - 1 AS DOUBLE) /
      |               CAST(b + c AS DOUBLE), 4) END AS mcnemar_chi2,
      |       CASE WHEN b + c > 0 THEN
      |         round(CAST(abs(b - c) - 1 AS DOUBLE) * CAST(abs(b - c) - 1 AS DOUBLE) /
      |               CAST(b + c AS DOUBLE), 4) END > 3.841 AS significant
      |FROM cells""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-apriori-triples", aggAprioriTriples, aggAprioriTriplesSql),
    Key("text-ndcg-eval", textNdcgEval, textNdcgEvalSql),
    Key("agg-doubly-robust-ate", aggDoublyRobustAte, aggDoublyRobustAteSql),
    Key("dq-mcnemar-paired", dqMcnemarPaired, dqMcnemarPairedSql))
}
