package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-12 batch B: the relative-error quantile sketch and the
  * O(log n) connected-components escape — two named-but-unshipped
  * scale paths from earlier rounds' docs, made real.
  */
object RelMore221 extends KeyModule {

  /** agg-ddsketch-quantile — RELATIVE-error mergeable quantiles (the
    * DDSketch idea: Masson et al., "DDSketch: a fast and fully-
    * mergeable quantile sketch with relative-error guarantees",
    * VLDB'19). agg-histogram-quantile-merge's equi-width buckets bound
    * ABSOLUTE error, which collapses on long-tailed money data: one
    * width must serve both the $10 and the $500k order. Log-spaced
    * buckets bound error RELATIVE to the value — but a float
    * log(x)/log(γ) bucket index is a cross-engine determinism hazard
    * (a last-ulp difference flips boundary values into the next
    * bucket). This op realizes the log family EXACTLY in integers:
    * bucket = (e, m) where e = MSB position = length-of-binary − 1
    * and m = the 4 mantissa bits after the leading 1 — i.e. base
    * γ = 2^(1/16) buckets computed with string-length and shifts, so
    * Spark and DuckDB agree bit-for-bit (values < 16 get exact unit
    * buckets, the DDSketch contiguous-small region). Midpoint
    * estimates carry a ≤ 1/32 ≈ 3.1% relative-error GUARANTEE by
    * construction, emitted per row as bound_pm next to the measured
    * rel_err_pm and the exact k-th value — the guarantee is graded,
    * not asserted. MERGEABILITY is exercised structurally: counts are
    * built per o_orderstatus shard and the global quantile is answered
    * from the SUMMED partials (bucket counts add — the same algebra
    * that lets 1000 executors sketch 100 TB independently and a
    * coordinator answer p99 from K·|shards| integers). Cumulative
    * walk + exact-rank verification both ride PrefixScan (no
    * unpartitioned window anywhere; the exact k-th over the full fact
    * is the withRankCumSum rank, scale-safe). */
  /** Exact integer log-bucket index over a BIGINT column `c`: unit
    * buckets below 16, else 16·MSB + 4 mantissa bits (base 2^(1/16)).
    * Shared with stream-ddsketch-incremental (StreamingOps). */
  private[ops] val idxExpr: String = "CASE WHEN c < 16 THEN c ELSE " +
    "16 * (length(conv(CAST(c AS STRING), 10, 2)) - 1) + " +
    "(c div shiftleft(1L, length(conv(CAST(c AS STRING), 10, 2)) - 5) - 16) END"

  /** Bucket lower/upper cent bounds from an index (same base). */
  private[ops] val loExpr: String =
    "CASE WHEN idx < 16 THEN idx ELSE (16 + idx % 16) * shiftleft(1L, idx div 16 - 4) END"
  private[ops] val hiExpr: String =
    "CASE WHEN idx < 16 THEN idx ELSE (17 + idx % 16) * shiftleft(1L, idx div 16 - 4) - 1 END"

  val aggDdsketchQuantile: Q = (s, d) => {
    val cents = orders(s, d).select(
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("c"),
      col("o_orderstatus").as("shard"))
    // per-shard partials: the state a 1000-executor fleet would ship
    val partial = cents.withColumn("idx", expr(idxExpr))
      .groupBy("shard", "idx").agg(count(lit(1)).as("cnt"))
    // the MERGE: bucket counts add across shards
    val buckets = partial.groupBy("idx").agg(sum("cnt").as("cnt"))
    val scanned = graft.functions.PrefixScan.withRankCumSum(
      buckets, Seq(col("idx")), Some("cnt"), rankName = "rn", cumName = "cum")
    val n = scanned.total
    val ranked = graft.functions.PrefixScan.withRankCumSum(
      cents.select("c"), Seq(col("c")), None, rankName = "crn").df
      .sharedCache()
    import s.implicits._
    val qs = Seq(500L, 900L, 990L).toDF("q_pm")
      .withColumn("k", expr(s"(q_pm * ${n}L + 999L) div 1000L"))
    // smallest bucket whose cumulative count reaches k
    val hit = qs.join(scanned.df, col("cum") >= col("k"))
      .groupBy("q_pm", "k").agg(min("idx").as("idx"))
    val est = hit.select(col("q_pm"), col("k"), col("idx"),
        expr(loExpr).as("lo"),
        expr(hiExpr).as("hi"))
      .select(col("q_pm"), col("k"), col("idx").as("bucket_idx"),
        expr("(lo + hi) div 2").as("est_cents"),
        expr("(hi - lo + 1) * 500 div lo").as("bound_pm"))
    val exact = est.select("q_pm", "k").join(ranked, col("crn") === col("k"))
      .select(col("q_pm"), col("c").as("exact_cents"))
    est.join(exact, "q_pm")
      .select(col("q_pm"), lit(n).as("n"), col("bucket_idx"),
        col("est_cents"), col("exact_cents"),
        expr("abs(est_cents - exact_cents) * 1000 div exact_cents").as("rel_err_pm"),
        col("bound_pm"))
      .orderBy("q_pm")
  }

  val aggDdsketchQuantileSql: String =
    """WITH cents AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM orders),
      |idxd AS (
      |  SELECT c, CASE WHEN c < 16 THEN c ELSE
      |    16 * (length(bin(c)) - 1) + (c // (1::BIGINT << (length(bin(c)) - 5)) - 16)
      |  END AS idx FROM cents),
      |buckets AS (SELECT idx, CAST(count(*) AS BIGINT) AS cnt FROM idxd GROUP BY idx),
      |scanned AS (
      |  SELECT idx, cnt, sum(cnt) OVER (ORDER BY idx) AS cum FROM buckets),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cents),
      |qs AS (SELECT 500::BIGINT AS q_pm UNION ALL SELECT 900 UNION ALL SELECT 990),
      |ks AS (SELECT q_pm, (q_pm * n + 999) // 1000 AS k, n FROM qs CROSS JOIN nn),
      |hit AS (
      |  SELECT ks.q_pm, ks.k, ks.n, min(scanned.idx) AS idx
      |  FROM ks JOIN scanned ON scanned.cum >= ks.k
      |  GROUP BY 1, 2, 3),
      |est AS (
      |  SELECT q_pm, k, n, idx,
      |         CASE WHEN idx < 16 THEN idx
      |              ELSE (16 + idx % 16) * (1::BIGINT << (idx // 16 - 4)) END AS lo,
      |         CASE WHEN idx < 16 THEN idx
      |              ELSE (17 + idx % 16) * (1::BIGINT << (idx // 16 - 4)) - 1 END AS hi
      |  FROM hit),
      |exact AS (
      |  SELECT e.q_pm, r.c AS exact_cents
      |  FROM est e JOIN (
      |    SELECT c, row_number() OVER (ORDER BY c) AS crn FROM cents) r
      |    ON r.crn = e.k)
      |SELECT e.q_pm, e.n, e.idx AS bucket_idx,
      |       (e.lo + e.hi) // 2 AS est_cents,
      |       x.exact_cents,
      |       abs((e.lo + e.hi) // 2 - x.exact_cents) * 1000 // x.exact_cents AS rel_err_pm,
      |       (e.hi - e.lo + 1) * 500 // e.lo AS bound_pm
      |FROM est e JOIN exact x ON x.q_pm = e.q_pm
      |ORDER BY e.q_pm""".stripMargin

  /** graph-cc-pointer-doubling — connected components in O(log n)
    * rounds via SHORTCUTTING (Shiloach-Vishkin): alternate one
    * hash-min round (lbl ← min over {v} ∪ N(v)) with one POINTER-JUMP
    * round (lbl ← min(lbl, lbl[lbl]) — every node adopts its label's
    * label, halving chain depth), to the monotone-sum fixpoint with
    * the r12 convergence assert. This is the escape hatch every
    * hash-min CC op in this engine names in its scaladoc (hash-min
    * alone needs O(diameter) rounds — fatal on a 100 TB graph with a
    * long path; doubling needs O(log n) regardless of diameter) —
    * shipped and graded rather than cited. The jump is a plain
    * equi-self-join on the label table (labels are node ids, so
    * lbl[lbl] is one hash join — no adjacency rescan: the jump round
    * costs O(|V|), not O(|E|)). Labels only decrease, so unchanged
    * sum(lbl) is exactly "no label moved" and the converged state is
    * the true min-id component labeling, graded by the recursive-CTE
    * oracle (real components, not a bounded-radius approximation). */
  val graphCcPointerDoubling: Q = (s, d) => withShufflePartitions(s, 8) {
    val li = lineitem(s, d).filter(col("l_orderkey") % 23 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val pairs = li.as("a").join(li.as("b"), Seq("ok"))
      .filter(col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v"))
      .distinct()
    val nodes = li.select(col("pk").as("node")).distinct()
    val edges = pairs.select(col("u").as("src"), col("v").as("dst"))
      .union(pairs.select(col("v").as("src"), col("u").as("dst")))
      .union(nodes.select(col("node").as("src"), col("node").as("dst")))
      .sharedCache()
    edges.count() // single-stage fill before the per-round fan-out
    // the alternation itself lives in CcDoubling (hoisted r13 so
    // graph-cc-incremental's warm refresh rides the same shortcutting)
    // r15 (§1.2/§5 driver overhead): hashMinPerChunk 1 → 3, matching
    // cc-incremental — the StageProfile showed the steady rep at 75
    // driver jobs with 2.16 s of DRIVER GAPS vs 1.86 s of stage wall;
    // ~7 strict 1+1 chunks each paid ~10 plan/checkpoint/probe jobs.
    // Three lazy hash-min rounds per chunk cover the same distance in
    // one job before each jump; the fixpoint (and output) is unchanged
    // — unchanged sum across a chunk still certifies a hash-min
    // fixpoint, the unique min-id labeling.
    val labels = CcDoubling.converge(edges,
      nodes.select(col("node"), col("node").as("lbl")), 12,
      "graph-cc-pointer-doubling", hashMinPerChunk = 3)
    labels.groupBy(col("lbl").as("component"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(desc("n_nodes"), col("component"))
      .limit(20)
  }

  val graphCcPointerDoublingSql: String =
    """WITH RECURSIVE li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |  FROM lineitem WHERE l_orderkey % 23 = 0),
      |pairs AS (SELECT DISTINCT a.pk AS u, b.pk AS v
      |          FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |nodes AS (SELECT DISTINCT pk AS node FROM li),
      |edges AS (SELECT u AS src, v AS dst FROM pairs
      |          UNION SELECT v, u FROM pairs),
      |reach AS (
      |  SELECT node, node AS lbl FROM nodes
      |  UNION
      |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
      |final AS (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node)
      |SELECT lbl AS component, CAST(count(*) AS BIGINT) AS n_nodes
      |FROM final
      |GROUP BY lbl
      |ORDER BY n_nodes DESC, component
      |LIMIT 20""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-ddsketch-quantile", aggDdsketchQuantile, aggDdsketchQuantileSql),
    Key("graph-cc-pointer-doubling", graphCcPointerDoubling, graphCcPointerDoublingSql))
}
