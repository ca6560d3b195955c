package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-6 batch L: deterministic random walks, drill-across facts,
  * language-ID confusion matrix. */
object RelMore51 extends KeyModule {

  /** graph-hash-walk — node2vec-style random-walk sampling made
    * DETERMINISTIC: from 5 seed suppliers, 4 steps on the
    * supplier↔part bipartite graph, where step t from node v moves to
    * neighbor rank 1 + (md5(t‖v) % deg(v)) in id order — hash-driven
    * choice instead of RNG, so any worker (and any engine) re-derives
    * the identical walk, walks survive restarts, and the sample is
    * auditable (the text-mix-sample principle applied to graph
    * sampling — this is how you sample walk corpora for graph
    * embeddings at 100 TB without shipping RNG state). Per step: one
    * join of the frontier against the ranked-neighbor table (built
    * once, per-node windows bounded by degree), frontier is
    * |seeds|-sized. Output: the full walk log. */
  val graphHashWalk: Q = (s, d) => {
    // r14 opt: distinct pairs from the per-process fixture
    // (GraphOps.psPairsStored) instead of a per-rep scan + distinct
    val e1 = GraphOps.psPairsStored(s, d)
      .select(concat(lit("s"), col("sk")).as("src"),
        concat(lit("p"), col("pk")).as("dst"))
    val edges = e1.unionAll(e1.select(col("dst").as("src"), col("src").as("dst")))
    val wN = Window.partitionBy("src").orderBy("dst")
    val nbr = edges
      .withColumn("rnk", row_number().over(wN))
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("src")))
      .sharedCache()
    var walk = s.range(1, 6).select(
      concat(lit("s"), col("id")).as("seed"), lit(0).as("step"),
      concat(lit("s"), col("id")).as("node"))
    val log = scala.collection.mutable.ArrayBuffer[DataFrame](walk)
    for (t <- 1 to 4) {
      val h = s"(instr('0123456789abcdef', substring(md5(concat('$t', '_', node)), 1, 1)) - 1) * 4096" +
        s" + (instr('0123456789abcdef', substring(md5(concat('$t', '_', node)), 2, 1)) - 1) * 256" +
        s" + (instr('0123456789abcdef', substring(md5(concat('$t', '_', node)), 3, 1)) - 1) * 16" +
        s" + (instr('0123456789abcdef', substring(md5(concat('$t', '_', node)), 4, 1)) - 1)"
      walk = walk
        .join(nbr.withColumnRenamed("src", "node"), Seq("node"))
        .filter(col("rnk") === expr(s"1 + ($h) % deg"))
        .select(col("seed"), lit(t).as("step"), col("dst").as("node"))
        .localCheckpoint()
      log += walk
    }
    log.reduce(_ unionAll _)
      .select(col("seed"), col("step").cast(LongType).as("step"), col("node"))
      .orderBy("seed", "step")
  }

  val graphHashWalkSql: String = {
    def h(t: Int) =
      s"(strpos('0123456789abcdef', substring(md5('$t' || '_' || node), 1, 1)) - 1) * 4096" +
        s" + (strpos('0123456789abcdef', substring(md5('$t' || '_' || node), 2, 1)) - 1) * 256" +
        s" + (strpos('0123456789abcdef', substring(md5('$t' || '_' || node), 3, 1)) - 1) * 16" +
        s" + (strpos('0123456789abcdef', substring(md5('$t' || '_' || node), 4, 1)) - 1)"
    val steps = (1 to 4).map { t =>
      s"""w$t AS (
         |  SELECT w.seed, $t AS step, n.dst AS node
         |  FROM w${t - 1} w JOIN nbr n ON n.src = w.node
         |  WHERE n.rnk = 1 + (${h(t)}) % n.deg)""".stripMargin
    }.mkString(",\n")
    s"""WITH e1 AS (
       |  SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
       |                  'p' || CAST(l_partkey AS VARCHAR) AS dst
       |  FROM lineitem),
       |edges AS (SELECT src, dst FROM e1 UNION ALL SELECT dst, src FROM e1),
       |nbr AS (
       |  SELECT src, dst,
       |         row_number() OVER (PARTITION BY src ORDER BY dst) AS rnk,
       |         count(*) OVER (PARTITION BY src) AS deg
       |  FROM edges),
       |w0 AS (SELECT 's' || CAST(i AS VARCHAR) AS seed, 0 AS step,
       |              's' || CAST(i AS VARCHAR) AS node
       |       FROM (SELECT unnest(range(1, 6)) AS i)),
       |$steps
       |SELECT seed, CAST(step AS BIGINT) AS step, node FROM (
       |  SELECT * FROM w0 UNION ALL SELECT * FROM w1 UNION ALL SELECT * FROM w2
       |  UNION ALL SELECT * FROM w3 UNION ALL SELECT * FROM w4)
       |ORDER BY seed, step""".stripMargin
  }

  /** join-drill-across — the Kimball drill-across: two FACT tables
    * (order revenue; event activity) that never join row-to-row are
    * merged at a CONFORMED dimension grain (customer → nation), each
    * fact aggregated separately to the conformed grain and then
    * full-outer merged — joining facts directly would fan out rows and
    * double-count, the classic drill-across mistake this op's shape
    * avoids. Nations carrying only one fact show up with zeros on the
    * other side instead of silently dropping. Two shuffles (one per
    * fact aggregate) + a |nations|-sized merge. */
  val joinDrillAcross: Q = (s, d) => {
    val custNation = customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"))
    val rev = orders(s, d)
      .join(custNation, col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("revenue_cents"))
    val act = events(s, d)
      .join(custNation, col("user_id") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_events"),
        countDistinct("user_id").as("n_active_users"))
    val merged = rev.join(act, Seq("c_nationkey"), "full_outer")
    merged.join(nation(s, d), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("revenue_cents"), lit(0L)).as("revenue_cents"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("n_active_users"), lit(0L)).as("n_active_users"))
      .orderBy("n_name")
  }

  val joinDrillAcrossSql: String =
    """WITH rev AS (
      |  SELECT c.c_nationkey, CAST(count(*) AS BIGINT) AS n_orders,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS revenue_cents
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  GROUP BY 1),
      |act AS (
      |  SELECT c.c_nationkey, CAST(count(*) AS BIGINT) AS n_events,
      |         CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active_users
      |  FROM events e JOIN customer c ON c.c_custkey = e.user_id
      |  GROUP BY 1),
      |merged AS (
      |  SELECT coalesce(rev.c_nationkey, act.c_nationkey) AS nk,
      |         coalesce(rev.n_orders, 0) AS n_orders,
      |         coalesce(rev.revenue_cents, 0) AS revenue_cents,
      |         coalesce(act.n_events, 0) AS n_events,
      |         coalesce(act.n_active_users, 0) AS n_active_users
      |  FROM rev FULL OUTER JOIN act ON act.c_nationkey = rev.c_nationkey)
      |SELECT n.n_name,
      |       CAST(m.n_orders AS BIGINT) AS n_orders,
      |       CAST(m.revenue_cents AS BIGINT) AS revenue_cents,
      |       CAST(m.n_events AS BIGINT) AS n_events,
      |       CAST(m.n_active_users AS BIGINT) AS n_active_users
      |FROM merged m JOIN nation n ON n.n_nationkey = m.nk
      |ORDER BY n.n_name""".stripMargin

  /** text-langid-confusion — the language-ID heuristic (text-langid's
    * marker argmax, same Markers table) evaluated as a CONFUSION
    * MATRIX against the stored labels, plus per-true-language support
    * and hit counts — the eval artifact any classifier ships with,
    * turning text-langid's per-doc is_match flag into the aggregate
    * view that says WHICH languages the heuristic confuses. One scan,
    * one |langs|²-bounded groupBy. */
  val textLangidConfusion: Q = (s, d) => {
    val markers = TextAnalysis.Markers
    val withScores = markers.foldLeft(
      documents(s, d).select(col("doc_id"), col("lang"), split(col("text"), " ").as("w"))) {
      case (df, (langCode, marker)) =>
        df.withColumn(s"s_$langCode",
          expr(s"size(filter(w, x -> x = '$marker'))").cast(LongType))
    }
    val stackArgs = markers.map { case (lc, _) => s"'$lc', s_$lc" }.mkString(", ")
    val unp = withScores.selectExpr(
      "doc_id", "lang", s"stack(${markers.size}, $stackArgs) AS (cand, score)")
    val w = Window.partitionBy(col("doc_id")).orderBy(desc("score"), col("cand"))
    unp.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("lang").as("true_lang"), col("cand").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("support", sum("n_docs").over(Window.partitionBy("true_lang")))
      .select(col("true_lang"), col("pred_lang"), col("n_docs"),
        col("support"),
        expr("(n_docs * 1000000) div support").as("cell_ppm"))
      .orderBy("true_lang", "pred_lang")
  }

  val textLangidConfusionSql: String = {
    val markers = TextAnalysis.Markers
    val scoreCols = markers.map { case (lc, m) =>
      s"CAST(len(list_filter(string_split(text, ' '), x -> x = '$m')) AS BIGINT) AS s_$lc"
    }.mkString(",\n         ")
    val unions = markers.map { case (lc, _) =>
      s"SELECT doc_id, lang, '$lc' AS cand, s_$lc AS score FROM scores"
    }.mkString("\n  UNION ALL ")
    s"""WITH scores AS (
       |  SELECT doc_id, lang,
       |         $scoreCols
       |  FROM documents),
       |unp AS (
       |  $unions),
       |pred AS (
       |  SELECT doc_id, lang, cand FROM (
       |    SELECT doc_id, lang, cand,
       |           row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand) AS rn
       |    FROM unp) WHERE rn = 1),
       |conf AS (
       |  SELECT lang AS true_lang, cand AS pred_lang,
       |         CAST(count(*) AS BIGINT) AS n_docs
       |  FROM pred GROUP BY 1, 2)
       |SELECT true_lang, pred_lang, n_docs,
       |       CAST(sum(n_docs) OVER (PARTITION BY true_lang) AS BIGINT) AS support,
       |       (n_docs * 1000000) // CAST(sum(n_docs) OVER (PARTITION BY true_lang) AS BIGINT) AS cell_ppm
       |FROM conf
       |ORDER BY true_lang, pred_lang""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    Key("graph-hash-walk", graphHashWalk, graphHashWalkSql),
    Key("join-drill-across", joinDrillAcross, joinDrillAcrossSql),
    Key("text-langid-confusion", textLangidConfusion, textLangidConfusionSql))
}
