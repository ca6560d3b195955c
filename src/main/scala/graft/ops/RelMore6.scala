package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-4 continuation batch F: BFS graph traversal with per-level
  * frontiers, malformed-record CSV recovery, dynamic partition pruning,
  * ordered string aggregation, the boolean/conditional aggregate
  * family, and sentence-level text statistics.
  */
object RelMore6 extends KeyModule {

  /** graph-bfs — breadth-first traversal with level labels over the
    * part↔supplier bipartite graph (distinct lineitem co-occurrence
    * edges, both directions): seed = supplier #1, 3 expansion rounds,
    * min level per reached node. Implementation is the scale-correct
    * iterative form — each round joins the DISTINCT frontier against
    * the edge list and anti-joins the visited set, so per-round work is
    * |frontier × avg-degree| and never enumerates paths (a recursive
    * path-CTE explodes combinatorially on dense bipartite graphs; the
    * oracle spells the same per-level DISTINCT frontiers as explicit
    * CTEs). Edge list persisted once, reused all rounds — same
    * discipline as graph-pagerank. */
  val graphBfs: Q = (s, d) => withShufflePartitions(s, 8) {
    // r14 opt: the distinct pair set comes from the per-process fixture
    // (GraphOps.psPairsStored) instead of a per-rep scan + distinct
    val e1 = GraphOps.psPairsStored(s, d)
      .select(concat(lit("s"), col("sk")).as("src"),
        concat(lit("p"), col("pk")).as("dst"))
    val edges = e1.unionAll(e1.select(col("dst").as("src"), col("src").as("dst"))).sharedCache()
    val visited0 = s.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row("s1", 0)),
      new StructType().add("node", StringType).add("lvl", IntegerType))
    // IterativeFixpoint.eager: each level reads the visited state twice
    // (frontier filter + the already-seen anti join), and the frontier
    // must not replay all prior level joins — state is the full
    // (node, lvl) table, frontier = the previous round's level slice.
    val visited = graft.functions.IterativeFixpoint.eager(visited0, 3) { (vis, lvl) =>
      val frontier = vis.filter(col("lvl") === lvl - 1)
        .join(edges, col("node") === edges("src"))
        .select(col("dst").as("node")).distinct()
        .join(vis.select("node").as("v"), Seq("node"), "left_anti")
      vis.unionAll(frontier.withColumn("lvl", lit(lvl)))
    }
    // the eager loop materialized inside the partition scope already;
    // the final small sort runs on the checkpointed rows
    visited.orderBy("lvl", "node")
  }

  val graphBfsSql: String =
    """WITH e1 AS (
      |  SELECT DISTINCT 's' || l_suppkey AS src, 'p' || l_partkey AS dst FROM lineitem),
      |edges AS (SELECT src, dst FROM e1 UNION ALL SELECT dst, src FROM e1),
      |l0 AS (SELECT 's1' AS node),
      |l1 AS (
      |  SELECT DISTINCT e.dst AS node FROM l0 JOIN edges e ON e.src = l0.node
      |  WHERE e.dst NOT IN (SELECT node FROM l0)),
      |l2 AS (
      |  SELECT DISTINCT e.dst AS node FROM l1 JOIN edges e ON e.src = l1.node
      |  WHERE e.dst NOT IN (SELECT node FROM l0 UNION ALL SELECT node FROM l1)),
      |l3 AS (
      |  SELECT DISTINCT e.dst AS node FROM l2 JOIN edges e ON e.src = l2.node
      |  WHERE e.dst NOT IN (SELECT node FROM l0 UNION ALL SELECT node FROM l1
      |                      UNION ALL SELECT node FROM l2))
      |SELECT node, CAST(lvl AS INT) AS lvl FROM (
      |  SELECT node, 0 AS lvl FROM l0
      |  UNION ALL SELECT node, 1 FROM l1
      |  UNION ALL SELECT node, 2 FROM l2
      |  UNION ALL SELECT node, 3 FROM l3)
      |ORDER BY lvl, node""".stripMargin

  /** src-csv-corrupt-recovery — PERMISSIVE malformed-record handling:
    * a CSV staged with a deterministic corruption (every 7th row's qty
    * is the unparseable 'x') is read under an explicit schema with
    * columnNameOfCorruptRecord; bad rows land intact in the rescue
    * column instead of failing the scan (FAILFAST) or silently
    * disappearing (DROPMALFORMED). Output: per-bucket good/corrupt
    * counts + the good-row sum. At 100 TB ingest this is the bronze
    * contract — never lose a byte, quarantine instead. The oracle
    * replays the same corruption rule arithmetically on the source
    * table (it never sees the staged file). */
  val srcCsvCorruptRecovery: Q = (s, d) => {
    val out = tmp("src-csv-corrupt", d)
    orders(s, d)
      .select(concat_ws(",",
        col("o_orderkey"),
        when(col("o_orderkey") % 7 === 0, lit("x"))
          .otherwise((col("o_orderkey") % 100).cast(StringType)),
        col("o_orderstatus")).as("line"))
      .write.mode(SaveMode.Overwrite).text(out)
    val schema = new StructType()
      .add("id", LongType).add("qty", LongType).add("status", StringType)
      .add("_bad", StringType)
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .csv(out)
      // PERMISSIVE keeps the well-formed fields of a corrupt row (only
      // the malformed column nulls out), so bucket on the rescue column
      .groupBy(when(col("_bad").isNotNull, lit("CORRUPT"))
        .otherwise(col("status")).as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("_bad")).as("n_corrupt"),
        coalesce(sum(when(col("_bad").isNull, col("qty"))), lit(0L)).as("qty_sum"))
      .orderBy("bucket")
  }

  val srcCsvCorruptRecoverySql: String =
    """WITH rows_ AS (
      |  SELECT o_orderkey AS id,
      |         CASE WHEN o_orderkey % 7 = 0 THEN NULL
      |              ELSE o_orderkey % 100 END AS qty,
      |         CASE WHEN o_orderkey % 7 = 0 THEN 'CORRUPT'
      |              ELSE o_orderstatus END AS bucket,
      |         CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END AS corrupt
      |  FROM orders)
      |SELECT bucket, count(*) AS n_rows,
      |       CAST(sum(corrupt) AS BIGINT) AS n_corrupt,
      |       CAST(coalesce(sum(qty), 0) AS BIGINT) AS qty_sum
      |FROM rows_
      |GROUP BY bucket
      |ORDER BY bucket""".stripMargin

  /** join-dpp — dynamic partition pruning: the fact side is a
    * partitioned table (hive layout on o_orderstatus) and the dim-side
    * filter is NOT a literal on the partition column, so static pruning
    * can't fire — the planner instead injects a runtime subquery
    * (`dynamicpruning#...` in the plan) that executes the dim filter
    * first and prunes fact DIRECTORIES before the scan. At 100 TB this
    * is the star-schema physical win: scanning 1 of K status
    * partitions because the dim said so. Correctness twin is the plain
    * join; the plan assertion lives in the spec. */
  val joinDpp: Q = (s, d) => {
    val factDir = tmp("join-dpp-fact", d)
    val fact = orders(s, d)
    fact.repartition(col("o_orderstatus"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("o_orderstatus").parquet(factDir)
    // the dim filter is on a DERIVED attribute (ascii of the key):
    // constraint propagation cannot rewrite tag=70 into st='F', so
    // static partition pruning is impossible and the planner must
    // insert the runtime DPP subquery (the spec asserts it)
    val dim = fact.select(col("o_orderstatus").as("st")).distinct()
      .withColumn("tag", ascii(col("st")))
    s.read.parquet(factDir)
      .join(dim.filter(col("tag") === 70), // ascii('F')
        col("o_orderstatus") === col("st"))
      .agg(count(lit(1)).as("n_orders"),
        outNum(sum(dec2(col("o_totalprice")))).as("total_price"))
  }

  val joinDppSql: String =
    """SELECT count(*) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders
      |WHERE o_orderstatus = 'F'""".stripMargin

  /** agg-string-concat — ordered string aggregation (LISTAGG ... WITHIN
    | GROUP, SQL:2016): nation names per region, comma-joined in a
    * DETERMINISTIC declared order — an unordered listagg is
    * partition-order nondeterminism in disguise, the string twin of
    * first()/last(). DuckDB twin: string_agg(x, ',' ORDER BY x). */
  val aggStringConcat: Q = (s, d) =>
    nation(s, d)
      .groupBy(col("n_regionkey"))
      .agg(expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)").as("nations"),
        count(lit(1)).as("n_nations"))
      .orderBy("n_regionkey")

  val aggStringConcatSql: String =
    """SELECT n_regionkey,
      |       string_agg(n_name, ',' ORDER BY n_name) AS nations,
      |       count(*) AS n_nations
      |FROM nation
      |GROUP BY n_regionkey
      |ORDER BY n_regionkey""".stripMargin

  /** agg-boolean-suite — the conditional/boolean aggregate family:
    * count_if, every/bool_and, some/bool_or, and max_by/min_by keyed
    * by a UNIQUE ordinal (argmax over a non-unique key is tie
    * nondeterminism — same discipline as agg-mode-median's tiebreak).
    * One map-side-combined groupBy. */
  val aggBooleanSuite: Q = (s, d) =>
    orders(s, d)
      .groupBy("o_orderstatus")
      .agg(
        expr("count_if(o_totalprice > 100000)").as("n_big"),
        expr("every(o_totalprice > 0)").as("all_positive"),
        expr("some(o_custkey % 100 = 0)").as("any_round_cust"),
        expr("max_by(o_totalprice, o_orderkey)").as("price_of_last_key"),
        expr("min_by(o_totalprice, o_orderkey)").as("price_of_first_key"))
      .orderBy("o_orderstatus")

  val aggBooleanSuiteSql: String =
    """SELECT o_orderstatus,
      |       CAST(count_if(o_totalprice > 100000) AS BIGINT) AS n_big,
      |       bool_and(o_totalprice > 0) AS all_positive,
      |       bool_or(o_custkey % 100 = 0) AS any_round_cust,
      |       arg_max(o_totalprice, o_orderkey) AS price_of_last_key,
      |       arg_min(o_totalprice, o_orderkey) AS price_of_first_key
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** text-sentence-split — sentence segmentation statistics: split on
    * terminal punctuation runs, drop whitespace-only fragments, count
    * sentences and words-per-sentence (exact integer ratio in micro
    * units). Narrow generator-free projection — the per-doc shape of a
    * readability / quality gate. */
  val textSentenceSplit: Q = (s, d) =>
    documents(s, d)
      .select(col("doc_id"),
        expr("filter(transform(split(text, '[.!?]+'), x -> trim(x)), x -> length(x) > 0)").as("sents"),
        size(split(col("text"), " ")).cast(LongType).as("n_words"))
      .select(col("doc_id"),
        size(col("sents")).cast(LongType).as("n_sentences"),
        col("n_words"),
        when(size(col("sents")) === 0, lit(0L))
          .otherwise(floor(col("n_words") * lit(1000000L) / size(col("sents"))).cast(LongType))
          .as("words_per_sentence_micro"))
      .orderBy("doc_id")

  val textSentenceSplitSql: String =
    """WITH base AS (
      |  SELECT doc_id,
      |         len(list_filter(list_transform(regexp_split_to_array(text, '[.!?]+'),
      |                                        x -> trim(x)),
      |                         x -> length(x) > 0)) AS n_sentences,
      |         len(string_split(text, ' ')) AS n_words
      |  FROM documents)
      |SELECT doc_id,
      |       CAST(n_sentences AS BIGINT) AS n_sentences,
      |       CAST(n_words AS BIGINT) AS n_words,
      |       CASE WHEN n_sentences = 0 THEN 0
      |            ELSE CAST(floor(n_words * 1000000 / n_sentences) AS BIGINT)
      |       END AS words_per_sentence_micro
      |FROM base
      |ORDER BY doc_id""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("graph-bfs", graphBfs, graphBfsSql),
    Key("src-csv-corrupt-recovery", srcCsvCorruptRecovery, srcCsvCorruptRecoverySql),
    Key("join-dpp", joinDpp, joinDppSql),
    Key("agg-string-concat", aggStringConcat, aggStringConcatSql),
    Key("agg-boolean-suite", aggBooleanSuite, aggBooleanSuiteSql),
    Key("text-sentence-split", textSentenceSplit, textSentenceSplitSql))
}
