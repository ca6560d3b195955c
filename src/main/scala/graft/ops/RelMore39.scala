package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-5 batch M: directed strongly-connected components, reciprocal-
  * rank retrieval fusion, and the Mann-Kendall trend test.
  */
object RelMore39 extends KeyModule {

  /** graph-scc — strongly connected components of a DIRECTED graph,
    * completing the connectivity family (graph-cc-hashmin is the
    * undirected half). The graph: nations as nodes, a directed edge
    * u→v when u's customers buy MORE from v's suppliers than v's buy
    * from u's (a dominance tournament — ties yield no edge, so the
    * graph is deterministic and genuinely asymmetric, and cycles =
    * trade loops become nontrivial SCCs). The fact-scale work is the
    * one aggregation contracting ~billions of line items to ≤ |N|²
    * flow edges; SCC then runs on the contracted graph: reflexive
    * transitive closure by ITERATIVE DOUBLING (R ← R ∪ R∘R, 5 rounds
    * covers any path ≤ 32 hops), mutual reachability, scc_id = min
    * member. Each doubling round is one self-join shuffle keyed on the
    * frontier column — the log-depth plan a 1000-executor cluster
    * wants, vs |V| rounds of naive BFS propagation. */
  val graphScc: Q = (s, d) => withShufflePartitions(s, 8) {
    val li = lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
    val o = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    val c = customer(s, d).select(col("c_custkey"), col("c_nationkey").as("src"))
    val su = supplier(s, d).select(col("s_suppkey"), col("s_nationkey").as("dst"))
    val flows = li
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
      .groupBy("src", "dst").agg(count(lit(1)).as("cnt"))
      .where(col("src") =!= col("dst"))
    val rev = flows.select(col("dst").as("src"), col("src").as("dst"), col("cnt").as("rcnt"))
    val tour = flows.join(rev, Seq("src", "dst"), "left")
      .where(col("rcnt").isNull || col("cnt") > col("rcnt"))
      .select("src", "dst")
    val nodes = tour.select(col("src").as("n")).union(tour.select(col("dst").as("n"))).distinct()
    // localCheckpoint per doubling round, NOT persist: persist caches the
    // physical result but Catalyst still RE-ANALYZES the full logical tree,
    // and round k's self-joined plan embeds 2^k copies of the base subtree
    // (each self-join also triggers DeduplicateRelations subtree clones) —
    // measured minutes of single-threaded analyzer time by round 5.
    // localCheckpoint replaces the plan with a LogicalRDD leaf, so every
    // round plans against a constant-size tree. On a real cluster use
    // checkpoint(reliable dir) for the same truncation plus fault tolerance.
    val reach0 = tour.union(nodes.select(col("n").as("src"), col("n").as("dst")))
      .distinct()
    // IterativeFixpoint.eager: the step reads reach TWICE (both sides of
    // the doubling self-join) — the canonical eager-discipline case; the
    // helper adds prior-round storage release + the no-plan-growth check.
    val reach = graft.functions.IterativeFixpoint.eager(reach0, 5) { (rch, _) =>
      val hop = rch.as("a")
        .join(rch.as("b"), col("a.dst") === col("b.src"))
        .select(col("a.src").as("src"), col("b.dst").as("dst"))
      rch.union(hop).distinct()
    }
    val mutual = reach.as("f")
      .join(reach.as("r"), col("f.src") === col("r.dst") && col("f.dst") === col("r.src"))
      .select(col("f.src").as("u"), col("f.dst").as("v"))
    mutual.groupBy("u").agg(min("v").as("scc_id"))
      .groupBy("scc_id")
      .agg(count(lit(1)).as("size"),
        array_join(array_sort(collect_list(col("u").cast(StringType))), ",").as("members"))
      .orderBy("scc_id")
  }

  val graphSccSql: String =
    """WITH RECURSIVE flows AS (
      |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS cnt
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  WHERE c.c_nationkey <> s.s_nationkey
      |  GROUP BY 1, 2),
      |tour AS (
      |  SELECT f.src, f.dst FROM flows f
      |  LEFT JOIN flows r ON r.src = f.dst AND r.dst = f.src
      |  WHERE r.cnt IS NULL OR f.cnt > r.cnt),
      |nodes AS (SELECT src AS n FROM tour UNION SELECT dst FROM tour),
      |reach AS (
      |  SELECT src, dst FROM tour
      |  UNION SELECT n AS src, n AS dst FROM nodes
      |  UNION SELECT r.src, t.dst FROM reach r JOIN tour t ON t.src = r.dst),
      |mutual AS (
      |  SELECT f.src AS u, f.dst AS v
      |  FROM reach f JOIN reach r ON f.src = r.dst AND f.dst = r.src),
      |scc AS (SELECT u, min(v) AS scc_id FROM mutual GROUP BY u)
      |SELECT scc_id, count(*) AS size,
      |       string_agg(CAST(u AS VARCHAR), ',' ORDER BY CAST(u AS VARCHAR)) AS members
      |FROM scc GROUP BY scc_id ORDER BY scc_id""".stripMargin

  private val NumQueries = 10
  private val FuseFrom = 10 // per-retriever depth feeding the fusion
  private val FuseK = 60    // standard RRF dampening constant
  private val TopK = 5

  /** ann-rrf-fusion — reciprocal-rank fusion of two retrievers: exact
    * cosine top-10 and inner-product top-10 per query, fused by
    * RRF(d) = Σ 1/(60 + rank_i(d)). This is how production retrieval
    * combines rankers with incomparable scores (dense + sparse, two
    * embedding spaces) — ranks, not scores, so no calibration is
    * needed. Per-term contributions are floor(1e6/(60+rank)) INTEGER
    * micro-units summed exactly: no float accumulation, identical in
    * the oracle and under any partitioning. The corpus is scored ONCE
    * (one broadcast-queries × corpus pass computes both metrics);
    * each retriever's ranking is a window over the |Q|×|corpus| score
    * table; the fusion join is |Q|×10 vs |Q|×10. */
  val annRrfFusion: Q = (s, d) => {
    graft.functions.CosineSimilarity.register(s)
    val all = embeddings(s, d)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val q = all.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = broadcast(q).crossJoin(all)
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(expr("cosine_similarity(qv, v)"), 9).as("cosine"),
        round(expr("aggregate(zip_with(qv, v, (a, b) -> a * b), 0D, (acc, x) -> acc + x)"), 9).as("dot"))
    val wc = Window.partitionBy(col("query_id")).orderBy(desc("cosine"), col("neighbor_id"))
    val wd = Window.partitionBy(col("query_id")).orderBy(desc("dot"), col("neighbor_id"))
    val ranked = scored
      .withColumn("rank_cos", row_number().over(wc).cast(LongType))
      .withColumn("rank_dot", row_number().over(wd).cast(LongType))
      .where(col("rank_cos") <= FuseFrom || col("rank_dot") <= FuseFrom)
      .selectExpr("query_id", "neighbor_id",
        s"CASE WHEN rank_cos <= $FuseFrom THEN rank_cos ELSE 0 END AS rank_cos",
        s"CASE WHEN rank_dot <= $FuseFrom THEN rank_dot ELSE 0 END AS rank_dot",
        s"CASE WHEN rank_cos <= $FuseFrom THEN CAST(floor(1000000 / ($FuseK + rank_cos)) AS BIGINT) ELSE 0 END + " +
          s"CASE WHEN rank_dot <= $FuseFrom THEN CAST(floor(1000000 / ($FuseK + rank_dot)) AS BIGINT) ELSE 0 END AS rrf_micro")
    val wf = Window.partitionBy(col("query_id")).orderBy(desc("rrf_micro"), col("neighbor_id"))
    ranked.withColumn("fused_rank", row_number().over(wf).cast(LongType))
      .where(col("fused_rank") <= TopK)
      .select("query_id", "fused_rank", "neighbor_id", "rrf_micro", "rank_cos", "rank_dot")
      .orderBy("query_id", "fused_rank")
  }

  val annRrfFusionSql: String = {
    val cosSql =
      """round(list_inner_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
        |             (sqrt(list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
        |              sqrt(list_inner_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 9)""".stripMargin
    s"""WITH scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         $cosSql AS cosine,
       |         round(list_inner_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 9) AS dot
       |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id < $NumQueries),
       |ranked AS (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank_cos,
       |         row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS rank_dot
       |  FROM scored),
       |fused AS (
       |  SELECT query_id, neighbor_id,
       |         CASE WHEN rank_cos <= $FuseFrom THEN rank_cos ELSE 0 END AS rank_cos,
       |         CASE WHEN rank_dot <= $FuseFrom THEN rank_dot ELSE 0 END AS rank_dot,
       |         CASE WHEN rank_cos <= $FuseFrom THEN CAST(floor(1000000 / ($FuseK + rank_cos)) AS BIGINT) ELSE 0 END +
       |         CASE WHEN rank_dot <= $FuseFrom THEN CAST(floor(1000000 / ($FuseK + rank_dot)) AS BIGINT) ELSE 0 END AS rrf_micro
       |  FROM ranked
       |  WHERE rank_cos <= $FuseFrom OR rank_dot <= $FuseFrom)
       |SELECT query_id, fused_rank, neighbor_id, rrf_micro, rank_cos, rank_dot
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf_micro DESC, neighbor_id) AS fused_rank
       |      FROM fused) z
       |WHERE fused_rank <= $TopK
       |ORDER BY query_id, fused_rank""".stripMargin
  }

  /** dq-trend-mk — the Mann-Kendall trend test on monthly order volume
    * per region: S = Σ_{i<j} sign(x_j − x_i) over the month-ordered
    * series, tie-corrected variance, and the normal-approximation Z.
    * This is the nonparametric "is volume drifting?" monitor a DQ
    * suite runs on every partition's row counts — no distribution
    * assumption, robust to outliers, and S is an exact INTEGER (the
    * pair self-join runs on the |regions|×|months| AGGREGATE, never on
    * facts). Z needs one sqrt — IEEE-correctly-rounded in both
    * engines — and is floor-quantized to milli. Verdict at |Z| ≥ 1.96
    * (95%). */
  val dqTrendMk: Q = (s, d) => {
    val o = orders(s, d).select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val c = customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    val n = nation(s, d).select(col("n_nationkey"), col("n_regionkey"))
    val r = region(s, d).select(col("r_regionkey"), col("r_name"))
    val series = o
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).as("ym"))
      .agg(count(lit(1)).as("x"))
    val pairs = series.as("a")
      .join(series.as("b"), col("a.r_name") === col("b.r_name") && col("a.ym") < col("b.ym"))
      .groupBy(col("a.r_name").as("r_name"))
      .agg(sum(signum(col("b.x") - col("a.x")).cast(LongType)).as("s_stat"))
    val nm = series.groupBy("r_name").agg(count(lit(1)).as("n_months"))
    val ties = series.groupBy(col("r_name"), col("x")).agg(count(lit(1)).as("t"))
      .where(col("t") > 1)
      .groupBy("r_name")
      .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)).as("tie_corr"))
    pairs.join(nm, Seq("r_name"))
      .join(ties, Seq("r_name"), "left")
      .selectExpr("r_name", "n_months", "s_stat",
        "n_months * (n_months - 1) * (2 * n_months + 5) - coalesce(tie_corr, 0) AS var18")
      .selectExpr("r_name", "n_months", "s_stat", "var18",
        "CAST(floor(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var18 / 18e0) " +
          "WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var18 / 18e0) ELSE 0e0 END * 1000 + 0.5) AS BIGINT) AS z_milli")
      .selectExpr("r_name", "n_months", "s_stat", "var18", "z_milli",
        "CASE WHEN z_milli >= 1960 THEN 'up' WHEN z_milli <= -1960 THEN 'down' ELSE 'flat' END AS trend")
      .orderBy("r_name")
  }

  val dqTrendMkSql: String =
    """WITH series AS (
      |  SELECT r.r_name, year(o.o_orderdate) * 100 + month(o.o_orderdate) AS ym,
      |         count(*) AS x
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  JOIN region r ON n.n_regionkey = r.r_regionkey
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT a.r_name, CAST(sum(sign(b.x - a.x)) AS BIGINT) AS s_stat
      |  FROM series a JOIN series b ON a.r_name = b.r_name AND a.ym < b.ym
      |  GROUP BY 1),
      |nm AS (SELECT r_name, count(*) AS n_months FROM series GROUP BY 1),
      |ties AS (
      |  SELECT r_name, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_corr
      |  FROM (SELECT r_name, x, count(*) AS t FROM series GROUP BY 1, 2) z
      |  WHERE t > 1 GROUP BY 1),
      |stat AS (
      |  SELECT p.r_name, nm.n_months, p.s_stat,
      |         nm.n_months * (nm.n_months - 1) * (2 * nm.n_months + 5)
      |           - coalesce(t.tie_corr, 0) AS var18
      |  FROM pairs p JOIN nm ON nm.r_name = p.r_name
      |  LEFT JOIN ties t ON t.r_name = p.r_name),
      |zed AS (
      |  SELECT r_name, n_months, s_stat, var18,
      |         CAST(floor(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var18 / 18e0)
      |              WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var18 / 18e0) ELSE 0e0 END * 1000 + 0.5) AS BIGINT) AS z_milli
      |  FROM stat)
      |SELECT r_name, n_months, s_stat, var18, z_milli,
      |       CASE WHEN z_milli >= 1960 THEN 'up' WHEN z_milli <= -1960 THEN 'down' ELSE 'flat' END AS trend
      |FROM zed ORDER BY r_name""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("graph-scc", graphScc, graphSccSql),
    Key("ann-rrf-fusion", annRrfFusion, annRrfFusionSql),
    Key("dq-trend-mk", dqTrendMk, dqTrendMkSql))
}
