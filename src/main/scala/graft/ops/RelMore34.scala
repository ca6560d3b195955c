package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-5 batch H: the mergeable top-k contract and the measured
  * accuracy of IVF-bucketed semantic dedup.
  */
object RelMore34 extends KeyModule {

  /** agg-topk-merge — top-k as a MERGEABLE summary: each of 4 shards
    * (orderkey mod 4 — standing in for 4 ingest regions or 4 daily
    * increments) computes its local top-10 by order value, the four
    * 10-row summaries union, and a re-top-10 over the 40 rows equals
    * the global top-10 computed flat — proven by emitting both paths'
    * keys side by side with a match flag the oracle also computes.
    * This closure property (topk(topk(A) ∪ topk(B)) = topk(A ∪ B)) is
    * why top-k dashboards scale: shards ship k rows each, never their
    * facts, and incremental refresh merges yesterday's summary with
    * today's delta. It is the same contract agg-ivm-merge grades for
    * decomposable aggregates and agg-sketch-union for HLL — completed
    * here for the order-statistics family. Per-shard top-k runs as one
    * window over the shard key (k-bounded heaps via TakeOrdered in the
    * custom-plan variant — see win-topk-per-key). */
  val aggTopkMerge: Q = (s, d) => {
    val base = orders(s, d).select(col("o_orderkey"),
      (col("o_orderkey") % 4).as("shard"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    val wShard = Window.partitionBy("shard").orderBy(desc("cents"), col("o_orderkey"))
    val localTop = base.withColumn("rn", row_number().over(wShard))
      .filter(col("rn") <= 10).drop("rn")
    // both global top-10s go through TakeOrderedAndProject (bounded
    // heap per partition, no fact-scale global window); the rank is
    // stamped by a window over the ALREADY-limited 10-row frame
    val wTiny = Window.orderBy(desc("cents"), col("o_orderkey"))
    val merged = localTop.orderBy(desc("cents"), col("o_orderkey")).limit(10)
      .withColumn("rk", row_number().over(wTiny))
      .select(col("rk"), col("o_orderkey").as("merged_key"), col("cents").as("merged_cents"))
    val flat = base.orderBy(desc("cents"), col("o_orderkey")).limit(10)
      .withColumn("rk", row_number().over(wTiny))
      .select(col("rk"), col("o_orderkey").as("flat_key"), col("cents").as("flat_cents"))
    merged.join(flat, Seq("rk"))
      .select(col("rk"), col("merged_key"), col("flat_key"),
        col("merged_cents"), col("flat_cents"),
        (col("merged_key") === col("flat_key")).as("agree"))
      .orderBy("rk")
  }

  val aggTopkMergeSql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderkey % 4 AS shard,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |localtop AS (
      |  SELECT o_orderkey, cents FROM (
      |    SELECT *, row_number() OVER (PARTITION BY shard
      |                                 ORDER BY cents DESC, o_orderkey) AS rn
      |    FROM base) WHERE rn <= 10),
      |merged AS (
      |  SELECT rk, o_orderkey AS merged_key, cents AS merged_cents FROM (
      |    SELECT *, row_number() OVER (ORDER BY cents DESC, o_orderkey) AS rk
      |    FROM localtop) WHERE rk <= 10),
      |flat AS (
      |  SELECT rk, o_orderkey AS flat_key, cents AS flat_cents FROM (
      |    SELECT *, row_number() OVER (ORDER BY cents DESC, o_orderkey) AS rk
      |    FROM base) WHERE rk <= 10)
      |SELECT m.rk, merged_key, flat_key, merged_cents, flat_cents,
      |       merged_key = flat_key AS agree
      |FROM merged m JOIN flat f ON f.rk = m.rk
      |ORDER BY m.rk""".stripMargin

  /** dedup-ivf-recall — the accuracy contract for IVF-bucketed
    * semantic dedup, measured against a CHANCE BASELINE: of the TRUE
    * top-20 most-similar pairs (exact all-pairs ranking), how many
    * does dedup-semantic-ivf's within-bucket candidate generation
    * surface — and how does that compare to the 1/|cells| floor a
    * random partition would score? This is the pre-flight that tells
    * you whether the embedding space has bucketable cluster structure
    * AT ALL: recall ≫ chance ⇒ IVF dedup is viable (raise centroids /
    * nprobe to taste); recall ≈ chance — which is what this fixture's
    * isotropic synthetic embeddings measure, and the op reports it
    * honestly — ⇒ no coarse quantizer will help and the exact grid
    * join (dedup-embedding-cosine) is the only correct tool. Counting
    * the misses instead of hoping, same discipline as
    * ann-recall-measure. Ground truth top-20 comes from the
    * block-partitioned exact grid join (dedup-embedding-cosine's
    * kernel): every pair scored exactly once in a bounded-memory cell
    * task, shuffle volume B×|corpus| — never an unsampled corpus²
    * cross join, which would be a scale-killer as the truth pass. */
  val dedupIvfRecall: Q = (s, d) => {
    graft.functions.CosineSimilarity.register(s)
    val all = embeddings(s, d)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val wTop = Window.orderBy(desc("cosine"), col("va"), col("vb"))
    val truth = TextDedup.dedupEmbeddingCosine(s, d)
      .select(col("vec_a").as("va"), col("vec_b").as("vb"), col("cosine"))
      .withColumn("rk", row_number().over(wTop))
    // same quantizer as dedup-semantic-ivf: first-8-vector seeding
    val cent = all.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("v").as("cv"))
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(desc("ccos"), col("centroid_id"))
    val assign = all.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("centroid_id"),
        round(expr("cosine_similarity(v, cv)"), 9).as("ccos"))
      .withColumn("rn", row_number().over(wAssign)).filter(col("rn") === 1)
      .select(col("vec_id"), col("centroid_id"))
    val found = assign.select(col("vec_id").as("va"), col("centroid_id").as("ca"))
      .join(assign.select(col("vec_id").as("vb"), col("centroid_id").as("cb")),
        col("ca") === col("cb") && col("va") < col("vb"))
      .select(col("va"), col("vb"), lit(1).as("in_bucket"))
    val wAll = Window.partitionBy(lit(1)) // 20-row frame
    truth.join(found, Seq("va", "vb"), "left")
      .select(col("rk"), col("va"), col("vb"), col("cosine"),
        coalesce(col("in_bucket"), lit(0)).cast(IntegerType).as("found"))
      .withColumn("recall_ppm",
        floor(sum("found").over(wAll) * lit(1000000L) / lit(20L)).cast(LongType))
      .withColumn("chance_ppm", lit(1000000L / 8L))
      .orderBy("rk")
  }

  private val cosSqlTemplate =
    """round(list_inner_product(%s::DOUBLE[], %s::DOUBLE[]) /
      |             (sqrt(list_inner_product(%s::DOUBLE[], %s::DOUBLE[])) *
      |              sqrt(list_inner_product(%s::DOUBLE[], %s::DOUBLE[]))), 9)""".stripMargin
  private def cosSql(x: String, y: String): String =
    cosSqlTemplate.format(x, y, x, x, y, y)

  val dedupIvfRecallSql: String =
    s"""WITH truth AS (
       |  SELECT va, vb, cosine, rk FROM (
       |    SELECT a.vec_id AS va, b.vec_id AS vb,
       |           ${cosSql("a.embedding", "b.embedding")} AS cosine,
       |           row_number() OVER (ORDER BY ${cosSql("a.embedding", "b.embedding")} DESC,
       |                              a.vec_id, b.vec_id) AS rk
       |    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
       |  WHERE rk <= 20),
       |c8 AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 8),
       |a8 AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT e.vec_id, c.centroid_id,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             ${cosSql("e.embedding", "c.cv")} DESC, c.centroid_id) AS rn
       |    FROM embeddings e, c8 c) WHERE rn = 1),
       |fnd AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb, 1 AS in_bucket
       |  FROM a8 a JOIN a8 b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id)
       |SELECT rk, va, vb, cosine,
       |       CAST(COALESCE(in_bucket, 0) AS INT) AS found,
       |       CAST(floor(sum(COALESCE(in_bucket, 0)) OVER () * 1000000 / 20) AS BIGINT) AS recall_ppm,
       |       CAST(1000000 // 8 AS BIGINT) AS chance_ppm
       |FROM truth LEFT JOIN fnd USING (va, vb)
       |ORDER BY rk""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-topk-merge", aggTopkMerge, aggTopkMergeSql),
    Key("dedup-ivf-recall", dedupIvfRecall, dedupIvfRecallSql))
}
