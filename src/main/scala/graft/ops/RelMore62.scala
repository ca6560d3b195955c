package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-8 batch F: SFT packing with loss masks, 2-hop neighborhoods,
  * pairwise-distance histogram. */
object RelMore62 extends KeyModule {

  private val CtxTokens = 512
  private val PackShards = 8

  /** text-sft-pack — instruction-tuning sequence packing with LOSS
    * MASKS: each document splits into a prompt prefix (masked — the
    * model must not train on it) and a completion (trained), packed
    * into fixed context windows exactly like text-pack-sequences. The
    * graded statistic is the mask accounting every SFT data loader
    * must get right: masked vs trained token totals per shard, plus
    * the documents whose prompt→completion boundary falls INSIDE a
    * window (same bin holds both masked and trained tokens — the case
    * a naive per-window constant mask silently corrupts). The prompt
    * rule is deterministic (min(16, ⌊tok/4⌋) tokens); offsets are the
    * same per-shard prefix-sum windows — never global. */
  val textSftPack: Q = (s, d) => {
    val docs = documents(s, d).select(col("doc_id"),
      (col("doc_id") % PackShards).as("shard"),
      size(split(col("text"), " ")).cast(LongType).as("tok"))
      .withColumn("pt", least(lit(16L), expr("tok div 4")))
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = docs
      .withColumn("off", coalesce(sum(col("tok")).over(w), lit(0L)))
      // bin of the last prompt token vs bin of the first completion
      // token: equal → the mask boundary sits inside one window
      .withColumn("lastp_bin", expr(s"CASE WHEN pt > 0 THEN (off + pt - 1) div $CtxTokens ELSE -1 END"))
      .withColumn("firstc_bin", expr(s"CASE WHEN pt < tok THEN (off + pt) div $CtxTokens ELSE -2 END"))
    off.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("pt")).as("masked_tokens"),
        sum(col("tok") - col("pt")).as("trained_tokens"),
        sum(when(col("lastp_bin") === col("firstc_bin"), 1L).otherwise(0L))
          .as("n_inwindow_boundaries"))
      .withColumn("trained_frac",
        ratioFloor(col("trained_tokens"), col("masked_tokens") + col("trained_tokens"), 6))
      .orderBy("shard")
  }

  val textSftPackSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, doc_id % $PackShards AS shard,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
       |  FROM documents),
       |p AS (SELECT *, least(16, tok // 4) AS pt FROM t),
       |o AS (
       |  SELECT shard, tok, pt,
       |         coalesce(sum(tok) OVER (PARTITION BY shard ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |  FROM p),
       |b AS (
       |  SELECT shard, tok, pt,
       |         CASE WHEN pt > 0 THEN (off + pt - 1) // $CtxTokens ELSE -1 END AS lastp_bin,
       |         CASE WHEN pt < tok THEN (off + pt) // $CtxTokens ELSE -2 END AS firstc_bin
       |  FROM o)
       |SELECT shard, count(*) AS n_docs,
       |       CAST(sum(pt) AS BIGINT) AS masked_tokens,
       |       CAST(sum(tok - pt) AS BIGINT) AS trained_tokens,
       |       CAST(sum(CASE WHEN lastp_bin = firstc_bin THEN 1 ELSE 0 END) AS BIGINT) AS n_inwindow_boundaries,
       |       ${ratioFloorSql("sum(tok - pt)", "sum(tok)", 6)} AS trained_frac
       |FROM b
       |GROUP BY shard
       |ORDER BY shard""".stripMargin

  /** graph-neighborhood-size — distinct ≤2-hop neighborhood size per
    * node on the co-purchase graph, the reach statistic feature stores
    * compute for "friends-of-friends" style features and the
    * load-model for any 2-hop message pass (its skew IS the hot-spot
    * model). One edge self-join builds 2-hop paths; 1-hop ∪ 2-hop
    * distinct, self excluded. Top-20 by reach. Same %29-thinned graph
    * and scoped-partition discipline as the rest of the family. */
  val graphNeighborhoodSize: Q = (s, d) => withShufflePartitions(s, 8) {
    // r14 opt: co-purchase pairs from the per-process fixture
    // (GraphOps.pairs29Stored) instead of a per-rep scan + self-join
    val pairs = GraphOps.pairs29Stored(s, d)
    val e = pairs.unionAll(pairs.select(col("v").as("u"), col("u").as("v"))).sharedCache()
    val twoHop = e.as("e1").join(e.as("e2"), col("e1.v") === col("e2.u"))
      .select(col("e1.u").as("u"), col("e2.v").as("v"))
    val reach = e.unionAll(twoHop)
      .filter(col("u") =!= col("v"))
      .distinct()
    val out = reach.groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("reach2"))
      .sharedCache()
    out.count() // materialize inside the partition scope
    out.orderBy(col("reach2").desc, col("node").asc).limit(20)
  }

  val graphNeighborhoodSizeSql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |            FROM lineitem WHERE l_orderkey % 29 = 0),
      |pairs AS (SELECT DISTINCT a.pk AS u, b.pk AS v
      |          FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |e AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
      |two AS (SELECT e1.u, e2.v FROM e e1 JOIN e e2 ON e2.u = e1.v),
      |reach AS (
      |  SELECT DISTINCT u, v FROM (SELECT u, v FROM e UNION ALL SELECT u, v FROM two)
      |  WHERE u <> v)
      |SELECT u AS node, count(*) AS reach2
      |FROM reach
      |GROUP BY u
      |ORDER BY reach2 DESC, node
      |LIMIT 20""".stripMargin

  /** emb-dist-histogram — pairwise-distance profile of the embedding
    * space on a deterministic 1/16 hash sample of vectors:
    * powers-of-two histogram (agg-log2-histogram's exact binary-length
    * bucketing) of quantized squared distances. The shape diagnoses
    * the space before any index choice: a collapsed-distance unimodal
    * profile says high intrinsic dimensionality (IVF/LSH will
    * struggle), a bimodal one says cluster structure (nprobe can be
    * small). The pair set is quadratic ONLY in the hash sample — the
    * sampled-audit shape (emb-energy-distance precedent), with the
    * sample rate the knob that holds pair count flat as the corpus
    * grows. */
  val embDistHistogram: Q = (s, d) => {
    graft.functions.DotProduct.register(s)
    val sample = embeddings(s, d)
      .filter(substring(md5(concat(lit("dh#"), col("vec_id").cast(StringType))), 1, 1) === "0")
      .select(col("vec_id"),
        expr("quantize_lattice_long(embedding, 1000000.0D)").as("xi"))
      .withColumn("v", expr("transform(xi, x -> CAST(x AS DOUBLE))"))
      .select(col("vec_id"), col("v"))
    val pairs = sample.as("a").join(sample.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        expr("dot_product(a.v, a.v) - 2 * dot_product(a.v, b.v) + dot_product(b.v, b.v)").as("dist2"))
      .select(floor(col("dist2") / lit(1000000.0)).cast(LongType).as("d2q"))
    pairs
      .select(when(col("d2q") <= 0, lit(0)).otherwise(length(bin(col("d2q")))).as("bucket"),
        col("d2q"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"), min(col("d2q")).as("min_d2q"), max(col("d2q")).as("max_d2q"))
      .select(col("bucket").cast(IntegerType).as("bucket"), col("n_pairs"),
        col("min_d2q"), col("max_d2q"))
      .orderBy("bucket")
  }

  val embDistHistogramSql: String =
    """WITH sample AS (
      |  SELECT vec_id,
      |         list_transform(
      |           list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)),
      |           x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |  WHERE substring(md5('dh#' || CAST(vec_id AS VARCHAR)), 1, 1) = '0'),
      |pairs AS (
      |  SELECT CAST(floor((list_inner_product(a.v, a.v)
      |           - 2 * list_inner_product(a.v, b.v)
      |           + list_inner_product(b.v, b.v)) / 1000000.0) AS BIGINT) AS d2q
      |  FROM sample a JOIN sample b ON a.vec_id < b.vec_id)
      |SELECT CAST(CASE WHEN d2q <= 0 THEN 0
      |                 ELSE length(printf('%b', d2q)) END AS INT) AS bucket,
      |       count(*) AS n_pairs,
      |       min(d2q) AS min_d2q, max(d2q) AS max_d2q
      |FROM pairs
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("text-sft-pack", textSftPack, textSftPackSql),
    Key("graph-neighborhood-size", graphNeighborhoodSize, graphNeighborhoodSizeSql),
    Key("emb-dist-histogram", embDistHistogram, embDistHistogramSql))
}
