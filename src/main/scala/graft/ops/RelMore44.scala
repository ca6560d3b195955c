package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-6 batch E: k-center coreset selection, HITS, SQL pipe syntax. */
object RelMore44 extends KeyModule {

  private val CoresetK = 8

  /** sample-coreset-kcenter — greedy farthest-point (k-center) coreset
    * selection over the embedding corpus: seed with vec 0, then k−1
    * rounds of "add the vector farthest from the selected set" (max of
    * min squared distance, vec_id tiebreak). This is the diversity
    * sampler training-data curation uses to pick representative subsets
    * (2-approximation of the k-center optimum) — the opposite trade of
    * uniform sampling, which oversamples dense regions. All distance
    * arithmetic is integer: components quantize to milli, squared
    * distances are exact BIGINT sums via the long-form (vec_id, k, mq)
    * relation — one k-join + two-level aggregate per round, every stage
    * map-side combinable, with the ≤k selected set broadcast. Per-round
    * work is |corpus|·dims·|selected| shuffle rows; at 100 TB you run
    * the same rounds over a pre-sampled candidate pool (coreset of a
    * sample is still a 2(1+ε)-approx). Selected set
    * localCheckpoint'ed per round (graph-scc discipline). */
  val sampleCoresetKcenter: Q = (s, d) => {
    val m = embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("k", "x")))
      .select(col("vec_id"), col("k"),
        floor(col("x").cast(DoubleType) * lit(1000.0) + lit(0.5)).cast(LongType).as("mq"))
      .sharedCache()
    // single-stage cache fill before the loop: each round scans m from
    // two concurrent stages (msel + dmin) — over a cold cache they race
    // to put the same blocks and one partition computes twice (the
    // "Block rdd_N already exists" WARN; see RelMore42)
    m.count()
    val sel0 = s.range(1).select(
      lit(1L).as("sel_rank"), lit(0L).as("vec_id"), lit(0L).as("dmin_sq"))
    // IterativeFixpoint.eager: the step reads `sel` twice (selected-set
    // broadcast + the union carrying it forward) and nests it inside a
    // broadcast subtree — per-round truncation, storage release, and the
    // no-plan-growth assertion come from the helper. State grows one ROW
    // per round but the step's plan SHAPE is constant (leaf ∪ pick).
    val sel = graft.functions.IterativeFixpoint.eager(sel0, CoresetK - 1) { (se, r) =>
      val msel = m.join(broadcast(se.select(col("vec_id").as("sid"))),
        col("vec_id") === col("sid"))
        .select(col("sid"), col("k"), col("mq").as("sq"))
      val dmin = m.join(broadcast(msel), Seq("k"))
        .groupBy(col("vec_id"), col("sid"))
        .agg(sum((col("mq") - col("sq")) * (col("mq") - col("sq"))).as("dd"))
        .groupBy("vec_id").agg(min("dd").as("dmin_sq"))
      val next = dmin.orderBy(desc("dmin_sq"), col("vec_id")).limit(1)
        .select(lit((r + 1).toLong).as("sel_rank"), col("vec_id"), col("dmin_sq"))
      se.unionAll(next)
    }
    sel.orderBy("sel_rank")
  }

  val sampleCoresetKcenterSql: String = {
    val rounds = (2 to CoresetK).map { r =>
      val prev = s"sel${r - 1}"
      s"""msel$r AS (
         |  SELECT s.vec_id AS sid, m.k, m.mq AS sq
         |  FROM m JOIN $prev s ON s.vec_id = m.vec_id),
         |dmin$r AS (
         |  SELECT vec_id, min(dd) AS dmin_sq FROM (
         |    SELECT a.vec_id, t.sid, CAST(sum((a.mq - t.sq) * (a.mq - t.sq)) AS BIGINT) AS dd
         |    FROM m a JOIN msel$r t USING (k) GROUP BY 1, 2)
         |  GROUP BY 1),
         |pick$r AS (
         |  SELECT CAST($r AS BIGINT) AS sel_rank, vec_id, dmin_sq
         |  FROM dmin$r ORDER BY dmin_sq DESC, vec_id LIMIT 1),
         |sel$r AS (SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM pick$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH m AS (
       |  SELECT vec_id,
       |         unnest(range(0, len(embedding))) AS k,
       |         CAST(floor(unnest(list_transform(embedding,
       |                    x -> CAST(x AS DOUBLE))) * 1000 + 0.5) AS BIGINT) AS mq
       |  FROM embeddings),
       |sel1 AS (SELECT CAST(1 AS BIGINT) AS sel_rank, CAST(0 AS BIGINT) AS vec_id,
       |                CAST(0 AS BIGINT) AS dmin_sq),
       |$rounds
       |SELECT sel_rank, vec_id, dmin_sq FROM sel$CoresetK ORDER BY sel_rank""".stripMargin
  }

  /** graph-hits — hubs & authorities on the supplier→part bipartite
    * graph (suppliers can only be hubs, parts only authorities — the
    * cleanest HITS shape): 3 rounds of a = Aᵀh, h = Aa, each side
    * L∞-normalized to 10⁶ with truncating integer div so every engine
    * and partitioning computes the same scores (the emb-power-iteration
    * discipline — HITS IS power iteration on AᵀA). Per round: two
    * edge-keyed joins + two map-side-combinable aggregates; the rank
    * vectors are |V|-sized, edges shuffle on their own keys — the same
    * plan graph-pagerank runs. Output: top-10 authorities and top-10
    * hubs with deterministic id tiebreaks. */
  val graphHits: Q = (s, d) => withShufflePartitions(s, 8) {
    import org.apache.spark.sql.expressions.Window
    // r14 opt: distinct pairs from the per-process fixture
    // (GraphOps.psPairsStored) instead of a per-rep scan + distinct
    val edges = GraphOps.psPairsStored(s, d)
      .select(col("sk").as("supp"), col("pk").as("part"))
      .sharedCache()
    // IterativeFixpoint.eager over a role-encoded state (hub rows ∪
    // authority rows): each round reads its hub state once but builds
    // TWO normalized score tables whose argmax broadcasts nest state —
    // the per-round (and mid-round, for the authority half) checkpoint
    // keeps round r+1 planning against constant-size leaves instead of
    // re-analyzing round r's broadcast subtrees (the bradley-terry
    // failure mode the helper exists to prevent).
    val init = edges.select(col("supp")).distinct()
      .select(lit("hub").as("role"), col("supp").as("node_id"),
        lit(1000000L).as("score_micro"))
    val state = graft.functions.IterativeFixpoint.eager(init, 3) { (st, _) =>
      val h = st.filter(col("role") === "hub")
        .select(col("node_id").as("supp"), col("score_micro").as("hs"))
      val araw = edges.join(h, Seq("supp"))
        .groupBy("part").agg(sum("hs").as("araw"))
      val amax = araw.agg(max("araw").as("amax"))
      // mid-round checkpoint: the authority table feeds BOTH the hub
      // update and the round's output union — without it araw runs twice
      val a = araw.crossJoin(broadcast(amax))
        .select(col("part"), expr("(araw * 1000000) div amax").as("as_"))
        .localCheckpoint()
      val hraw = edges.join(a, Seq("part"))
        .groupBy("supp").agg(sum("as_").as("hraw"))
      val hmax = hraw.agg(max("hraw").as("hmax"))
      val h2 = hraw.crossJoin(broadcast(hmax))
        .select(col("supp"), expr("(hraw * 1000000) div hmax").as("hs"))
      a.select(lit("authority").as("role"), col("part").as("node_id"),
          col("as_").as("score_micro"))
        .unionAll(h2.select(lit("hub").as("role"), col("supp").as("node_id"),
          col("hs").as("score_micro")))
    }
    val topAuth = state.filter(col("role") === "authority")
      .select(col("role"), col("node_id"), col("score_micro"))
      .orderBy(desc("score_micro"), col("node_id")).limit(10)
    val topHub = state.filter(col("role") === "hub")
      .select(col("role"), col("node_id"), col("score_micro"))
      .orderBy(desc("score_micro"), col("node_id")).limit(10)
    topAuth.unionAll(topHub)
      .withColumn("rnk", row_number().over(
        Window.partitionBy("role").orderBy(desc("score_micro"), col("node_id"))).cast(LongType))
      .orderBy("role", "rnk")
  }

  val graphHitsSql: String = {
    def round(i: Int, prevH: String): String =
      s"""araw$i AS (
         |  SELECT e.part, CAST(sum(h.hs) AS BIGINT) AS araw
         |  FROM edges e JOIN $prevH h USING (supp) GROUP BY 1),
         |a$i AS (
         |  SELECT part, (araw * 1000000) // (SELECT max(araw) FROM araw$i) AS as_
         |  FROM araw$i),
         |hraw$i AS (
         |  SELECT e.supp, CAST(sum(a.as_) AS BIGINT) AS hraw
         |  FROM edges e JOIN a$i a USING (part) GROUP BY 1),
         |h$i AS (
         |  SELECT supp, (hraw * 1000000) // (SELECT max(hraw) FROM hraw$i) AS hs
         |  FROM hraw$i)""".stripMargin
    s"""WITH edges AS (
       |  SELECT DISTINCT l_suppkey AS supp, l_partkey AS part FROM lineitem),
       |h0 AS (SELECT DISTINCT supp, CAST(1000000 AS BIGINT) AS hs FROM edges),
       |${round(1, "h0")},
       |${round(2, "h1")},
       |${round(3, "h2")},
       |ranked AS (
       |  SELECT 'authority' AS role, part AS node_id, as_ AS score_micro,
       |         row_number() OVER (ORDER BY as_ DESC, part) AS rnk
       |  FROM a3
       |  UNION ALL
       |  SELECT 'hub', supp, hs,
       |         row_number() OVER (ORDER BY hs DESC, supp) AS rnk
       |  FROM h3)
       |SELECT role, node_id, score_micro, CAST(rnk AS BIGINT) AS rnk
       |FROM ranked WHERE rnk <= 10
       |ORDER BY role, rnk""".stripMargin
  }

  /** sql-pipe-syntax — the SQL pipe-operator surface (SPARK-49555,
    * DuckDB/ZetaSQL lineage): FROM … |> WHERE … |> AGGREGATE … GROUP BY
    * … |> ORDER BY. Each |> stage is a self-contained transform reading
    * top-to-bottom — the composition model the DataFrame API has always
    * had, now in SQL — and parses to exactly the same plan as the
    * nested-SELECT equivalent the oracle runs. */
  val sqlPipeSyntax: Q = (s, d) => {
    orders(s, d).createOrReplaceTempView("orders_pipe")
    s.sql(
      """FROM orders_pipe
        ||> WHERE o_orderstatus = 'F'
        ||> AGGREGATE count(*) AS n,
        |     CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |   GROUP BY o_orderpriority
        ||> ORDER BY o_orderpriority""".stripMargin)
  }

  val sqlPipeSyntaxSql: String =
    """SELECT o_orderpriority, count(*) AS n,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders WHERE o_orderstatus = 'F'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("sample-coreset-kcenter", sampleCoresetKcenter, sampleCoresetKcenterSql),
    Key("graph-hits", graphHits, graphHitsSql),
    Key("sql-pipe-syntax", sqlPipeSyntax, sqlPipeSyntaxSql))
}
