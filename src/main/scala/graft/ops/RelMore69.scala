package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-9 batch G: entity-resolution blocking, multiline JSON,
  * MMR reranking, offset-gap loss detection. */
object RelMore69 extends KeyModule {

  /** join-fuzzy-block — entity-resolution by BLOCKED fuzzy matching:
    * candidate pairs are generated only WITHIN a blocking key (here:
    * the name minus its last two characters), then scored with exact
    * Levenshtein — the two-stage shape every name-matching pipeline
    * uses, because unblocked fuzzy join is O(n²) across the corpus
    * while blocked cost is Σ blockᵢ² with the block size a design
    * constant (≤100 here). Graded as the edit-distance histogram over
    * blocked pairs; the block key is part of the contract (a pair in
    * different blocks is NOT a candidate — the recall/cost trade
    * stated, not hidden). */
  val joinFuzzyBlock: Q = (s, d) => {
    val names = supplier(s, d)
      .select(col("s_suppkey").as("k"), col("s_name").as("nm"),
        expr("substring(s_name, 1, length(s_name) - 2)").as("blk"))
    names.as("a").join(names.as("b"),
        col("a.blk") === col("b.blk") && col("a.k") < col("b.k"))
      .select(levenshtein(col("a.nm"), col("b.nm")).cast(IntegerType).as("edit_dist"))
      .groupBy("edit_dist")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("edit_dist")
  }

  val joinFuzzyBlockSql: String =
    """WITH names AS (
      |  SELECT s_suppkey AS k, s_name AS nm,
      |         substring(s_name, 1, length(s_name) - 2) AS blk
      |  FROM supplier)
      |SELECT CAST(levenshtein(a.nm, b.nm) AS INT) AS edit_dist,
      |       count(*) AS n_pairs
      |FROM names a JOIN names b ON a.blk = b.blk AND a.k < b.k
      |GROUP BY 1
      |ORDER BY edit_dist""".stripMargin

  /** src-json-multiline — pretty-printed / array-wrapped JSON
    * ingestion: unlike JSONL (src-json-lines), a multiline JSON
    * document CANNOT be split at newlines, so multiLine=true makes
    * each FILE one parse unit — the same non-splittability rule as
    * gzip (src-csv-gzip), and the same remedy: parallelism = file
    * count, decided at staging time (8 array files here). Round-trip
    * proven by the per-nation aggregate. */
  val srcJsonMultiline: Q = (s, d) => {
    val dir = tmp("src-json-multiline", d)
    // stage: 8 files, each a pretty-printed JSON ARRAY of customer rows
    val staged = customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      .withColumn("shard", col("c_custkey") % 8)
      .groupBy("shard")
      .agg(concat(lit("[\n  "),
        concat_ws(",\n  ", array_sort(collect_list(
          to_json(struct(col("c_custkey"), col("c_nationkey"), col("c_acctbal")))))),
        lit("\n]")).as("value"))
    staged.select("value").repartition(8)
      .write.mode("overwrite").text(dir)
    val back = s.read.option("multiLine", "true")
      .schema("c_custkey LONG, c_nationkey LONG, c_acctbal DOUBLE")
      .json(dir)
    back.groupBy("c_nationkey")
      .agg(count(lit(1)).as("n"),
        outNum(sum(dec2(col("c_acctbal")))).as("balance"))
      .orderBy("c_nationkey")
  }

  val srcJsonMultilineSql: String =
    """SELECT c_nationkey, count(*) AS n,
      |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS balance
      |FROM customer
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin

  private val MmrK = 5
  private val MmrPool = 20

  /** emb-mmr-rerank — Maximal Marginal Relevance reranking: from the
    * brute-force top-20 for a fixed query (vec_id 1), iteratively pick
    * 5 results maximizing relevance MINUS similarity to what is
    * already picked (λ=½, so score ∝ rel − max-sim) — the standard
    * diversity rerank between retrieval and the context window.
    * Candidate generation is the scalable stage (top-k); the rerank
    * touches only the 20-row pool (pairwise 400 sims), so the
    * iterative argmax is constant work at ANY corpus size — each step
    * materialized via a bounded cached frame, no driver collect.
    * Vectors are element-quantized to integer micro before any dot
    * product, so every similarity is an exact integer-valued double in
    * both engines. */
  val embMmrRerank: Q = (s, d) => {
    graft.functions.DotProduct.register(s)
    val vecs = embeddings(s, d).select(col("vec_id"),
      expr("quantize_lattice(embedding, 1000000.0D)").as("v"))
    val q = vecs.filter(col("vec_id") === 1)
      .select(col("v").as("qv"))
    // Candidate generation stays distributed (the scalable stage:
    // TakeOrderedAndProject bounded heap over the corpus). r14 opt:
    // the rerank itself touches only the MmrPool-row pool — 400 sims —
    // which the old form expressed as MmrK−1 chained join+limit frames
    // (≈10 driver actions + broadcasts of 1-row frames, each a full
    // job at ANY corpus size). Collect the BOUNDED pool once (guide
    // §5: bounded driver work is fine; the pool is 20 rows by
    // construction) and run the identical argmax arithmetic on the
    // driver: every rel/sim is an exact integer-valued double (micro
    // lattice), rel − max_sim is the same IEEE subtraction, and the
    // (score desc, vec_id asc) tiebreak is reproduced verbatim — the
    // selected set and output rows are bit-identical.
    val pool = vecs.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= 1)
      .select(col("vec_id"), col("v"),
        expr("dot_product(v, qv)").as("rel"))
      .orderBy(col("rel").desc, col("vec_id").asc)
      .limit(MmrPool)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    def dot(x: Array[Double], y: Array[Double]): Double = {
      var acc = 0.0; var k = 0
      while (k < x.length) { acc += x(k) * y(k); k += 1 }
      acc
    }
    // argmax under (score desc, vec_id asc) — the exact tiebreak of the
    // replaced orderBy(desc, asc).limit(1)
    def best(xs: Seq[(Long, Double)]): (Long, Double) =
      xs.reduceLeft((a, b) => if (b._2 > a._2 || (b._2 == a._2 && b._1 < a._1)) b else a)
    val byId = pool.map(p => p._1 -> p._2).toMap
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Int)]
    val relOf = pool.map(p => p._1 -> p._3).toMap
    // degenerate pools (empty / smaller than MmrK) mirror the replaced
    // frame algebra: a rank whose candidate set is empty emits no row
    if (pool.nonEmpty) {
      selected += {
        val f = best(pool.map(p => (p._1, p._3)).toSeq); (f._1, f._2, 1)
      }
      for (i <- 2 to MmrK if selected.size == i - 1) {
        val chosen = selected.map(_._1).toSet
        val scores = pool.filter(p => !chosen.contains(p._1)).map { case (id, v, rel) =>
          val maxSim = selected.map(sel => dot(v, byId(sel._1))).max
          (id, rel - maxSim)
        }.toSeq
        if (scores.nonEmpty) {
          val b = best(scores)
          selected += ((b._1, relOf(b._1), i))
        }
      }
    }
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      selected.map { case (id, rel, rank) => Row(rank, id, rel.toLong) }.asJava,
      new StructType().add("rank", IntegerType).add("vec_id", LongType)
        .add("rel_micro2", LongType))
      .orderBy("rank")
  }

  val embMmrRerankSql: String = {
    def selUnion(n: Int) = (1 to n).map(i => s"SELECT vec_id FROM s$i").mkString(" UNION ALL ")
    val steps = (2 to MmrK).map { i =>
      s"""r$i AS (
         |  SELECT c.vec_id, c.rel, c.rel - mx.max_sim AS score
         |  FROM cands c
         |  JOIN (SELECT ia, max(sim) AS max_sim FROM sims
         |        WHERE ib IN (${selUnion(i - 1)}) GROUP BY ia) mx
         |    ON mx.ia = c.vec_id
         |  WHERE c.vec_id NOT IN (${selUnion(i - 1)})),
         |s$i AS (SELECT vec_id, rel, $i AS rank FROM r$i
         |        ORDER BY score DESC, vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH vecs AS (
       |  SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS DOUBLE)) AS v
       |  FROM embeddings),
       |q AS (SELECT v AS qv FROM vecs WHERE vec_id = 1),
       |cands AS (
       |  SELECT vec_id, v, list_inner_product(v, qv) AS rel
       |  FROM vecs, q WHERE vec_id <> 1
       |  ORDER BY rel DESC, vec_id LIMIT $MmrPool),
       |sims AS (
       |  SELECT a.vec_id AS ia, b.vec_id AS ib, list_inner_product(a.v, b.v) AS sim
       |  FROM cands a JOIN cands b ON a.vec_id <> b.vec_id),
       |s1 AS (SELECT vec_id, rel, 1 AS rank FROM cands
       |       ORDER BY rel DESC, vec_id LIMIT 1),
       |$steps
       |SELECT rank, vec_id, CAST(rel AS BIGINT) AS rel_micro2
       |FROM (${(1 to MmrK).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")})
       |ORDER BY rank""".stripMargin
  }

  /** dq-offset-gaps — data-loss detection on partitioned offset
    * streams (the Kafka-offset audit): events map to (partition =
    * id % 4, offset = id div 4) — dense by construction — then a
    * deterministic 1/256 of records is dropped to SIMULATE loss, and
    * the detector must find exactly the dropped offsets from the
    * survivors: per partition, Σ(lead(offset) − offset − 1) plus
    * edge gaps against the known min/max. Graded per partition:
    * survivors, detected missing, and the zero-miss invariant
    * (detected == dropped — the op validates its own detector). One
    * per-partition sort; gap arithmetic is pure projection. */
  val dqOffsetGaps: Q = (s, d) => {
    val mapped = events(s, d).select(
      (col("event_id") % 4).as("part"),
      expr("event_id div 4").as("off"))
    val bounds = mapped.groupBy("part")
      .agg(min("off").as("lo"), max("off").as("hi"), count(lit(1)).as("n_all"))
    val survivors = mapped.filter(
      substring(md5(concat(lit("drop#"), col("part").cast(StringType),
        lit("/"), col("off").cast(StringType))), 1, 2) =!= "ab")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("part").orderBy("off")
    val inner = survivors
      .withColumn("nxt", lead("off", 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy("part").agg(sum(col("nxt") - col("off") - 1).as("inner_gaps"))
    val edges = survivors.groupBy("part")
      .agg(min("off").as("slo"), max("off").as("shi"), count(lit(1)).as("n_live"))
    edges.join(inner, Seq("part")).join(bounds, Seq("part"))
      .select(col("part"), col("n_all"), col("n_live"),
        (col("inner_gaps") + (col("slo") - col("lo")) + (col("hi") - col("shi")))
          .as("detected_missing"),
        (col("n_all") - col("n_live")).as("actual_dropped"))
      .withColumn("detector_exact", col("detected_missing") === col("actual_dropped"))
      .orderBy("part")
  }

  val dqOffsetGapsSql: String =
    """WITH mapped AS (
      |  SELECT event_id % 4 AS part, event_id // 4 AS off FROM events),
      |bounds AS (
      |  SELECT part, min(off) AS lo, max(off) AS hi, count(*) AS n_all
      |  FROM mapped GROUP BY part),
      |surv AS (
      |  SELECT * FROM mapped
      |  WHERE substring(md5('drop#' || CAST(part AS VARCHAR) || '/' || CAST(off AS VARCHAR)), 1, 2) <> 'ab'),
      |inner_g AS (
      |  SELECT part, CAST(sum(nxt - off - 1) AS BIGINT) AS inner_gaps FROM (
      |    SELECT part, off, lead(off) OVER (PARTITION BY part ORDER BY off) AS nxt
      |    FROM surv) t
      |  WHERE nxt IS NOT NULL
      |  GROUP BY part),
      |edges AS (
      |  SELECT part, min(off) AS slo, max(off) AS shi, count(*) AS n_live
      |  FROM surv GROUP BY part)
      |SELECT e.part, b.n_all, e.n_live,
      |       CAST(i.inner_gaps + (e.slo - b.lo) + (b.hi - e.shi) AS BIGINT) AS detected_missing,
      |       CAST(b.n_all - e.n_live AS BIGINT) AS actual_dropped,
      |       i.inner_gaps + (e.slo - b.lo) + (b.hi - e.shi) = b.n_all - e.n_live AS detector_exact
      |FROM edges e JOIN inner_g i ON e.part = i.part JOIN bounds b ON e.part = b.part
      |ORDER BY e.part""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("join-fuzzy-block", joinFuzzyBlock, joinFuzzyBlockSql),
    Key("src-json-multiline", srcJsonMultiline, srcJsonMultilineSql),
    Key("emb-mmr-rerank", embMmrRerank, embMmrRerankSql),
    Key("dq-offset-gaps", dqOffsetGaps, dqOffsetGapsSql))
}
