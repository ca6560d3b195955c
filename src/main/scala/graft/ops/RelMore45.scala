package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-6 batch F: temperature-scaled mixing, binary-embedding
  * retrieval, and the shard random-access index. */
object RelMore45 extends KeyModule {

  private val MixBudget = 100000L

  /** text-temperature-mix — temperature-scaled source sampling: the
    * multilingual/multi-domain mixing rule p_i ∝ mass_iᵅ, swept at
    * α ∈ {0.25, 0.5, 1.0}. α=1 reproduces the natural mix; lower α
    * flattens it toward uniform (low-resource sources get boosted) —
    * the knob every pretraining mix tunes. Determinism trick: the
    * sweep uses only α that are powers of ½, so mass^α is a CHAIN OF
    * sqrt CALLS — IEEE 754 requires sqrt be correctly rounded (pow is
    * not, and differs across libm builds), so both engines compute
    * bit-identical weights, which then quantize to integer milli and
    * allocate the budget by Hamilton largest remainder (exact integer
    * arithmetic, ties to the lexicographically first source — the
    * sample-weighted-alloc machinery per temperature). One token scan,
    * one |sources|-sized groupBy; the sweep is a 3-row stack over the
    * |sources| table. */
  val textTemperatureMix: Q = (s, d) => {
    val srcTok = documents(s, d)
      .select(col("source"), size(split(col("text"), " ")).cast(LongType).as("tk"))
      .groupBy("source").agg(sum("tk").as("tok"))
    val wide = srcTok.select(col("source"), col("tok"),
      floor(col("tok").cast(DoubleType) * lit(1000.0)).cast(LongType).as("q100"),
      floor(sqrt(col("tok").cast(DoubleType)) * lit(1000.0)).cast(LongType).as("q050"),
      floor(sqrt(sqrt(col("tok").cast(DoubleType))) * lit(1000.0)).cast(LongType).as("q025"))
    val long = wide.selectExpr("source", "tok",
      "stack(3, '0.25', q025, '0.50', q050, '1.00', q100) AS (alpha, wq)")
    val wAlpha = Window.partitionBy("alpha")
    val wRank = Window.partitionBy("alpha").orderBy(desc("rem"), col("source"))
    long
      .withColumn("stot", sum("wq").over(wAlpha))
      .withColumn("fl", expr(s"($MixBudget * wq) div stot"))
      .withColumn("rem", expr(s"($MixBudget * wq) % stot"))
      .withColumn("leftover", lit(MixBudget) - sum("fl").over(wAlpha))
      .withColumn("rnk", row_number().over(wRank))
      .select(col("alpha"), col("source"), col("tok"),
        expr("(wq * 1000000) div stot").as("share_ppm"),
        (col("fl") + when(col("rnk") <= col("leftover"), 1L).otherwise(0L)).as("alloc"))
      .orderBy("alpha", "source")
  }

  val textTemperatureMixSql: String =
    s"""WITH srctok AS (
       |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tok
       |  FROM documents GROUP BY source),
       |wide AS (
       |  SELECT source, tok,
       |         CAST(floor(CAST(tok AS DOUBLE) * 1000) AS BIGINT) AS q100,
       |         CAST(floor(sqrt(CAST(tok AS DOUBLE)) * 1000) AS BIGINT) AS q050,
       |         CAST(floor(sqrt(sqrt(CAST(tok AS DOUBLE))) * 1000) AS BIGINT) AS q025
       |  FROM srctok),
       |long AS (
       |  SELECT source, tok, '0.25' AS alpha, q025 AS wq FROM wide
       |  UNION ALL SELECT source, tok, '0.50', q050 FROM wide
       |  UNION ALL SELECT source, tok, '1.00', q100 FROM wide),
       |quoted AS (
       |  SELECT alpha, source, tok, wq,
       |         CAST(sum(wq) OVER (PARTITION BY alpha) AS BIGINT) AS stot
       |  FROM long),
       |ham AS (
       |  SELECT alpha, source, tok, wq, stot,
       |         ($MixBudget * wq) // stot AS fl,
       |         ($MixBudget * wq) % stot AS rem
       |  FROM quoted),
       |ranked AS (
       |  SELECT alpha, source, tok, wq, stot, fl,
       |         $MixBudget - CAST(sum(fl) OVER (PARTITION BY alpha) AS BIGINT) AS leftover,
       |         row_number() OVER (PARTITION BY alpha ORDER BY rem DESC, source) AS rnk
       |  FROM ham)
       |SELECT alpha, source, tok,
       |       (wq * 1000000) // stot AS share_ppm,
       |       CAST(fl + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
       |FROM ranked
       |ORDER BY alpha, source""".stripMargin

  /** emb-binary-retrieval — 1-bit binary quantization and what it
    * costs: each 64-dim vector packs to TWO 32-bit sign words (two
    * BIGINTs — never a sign-bit-63 overflow hazard), hamming distance
    * is xor + bit_count (the 32×-compressed index every binary-
    * embedding deployment serves from), and per query the hamming
    * top-3 is scored against the exact cosine top-3 — recall@3 in
    * micro units, the ann-recall-measure contract on the quantized
    * index. Scale shape: queries broadcast against the packed corpus
    * (16 bytes/vector — the whole point), exact cosine only for the
    * sampled audit. Sibling of emb-quantize (int8) and dedup-simhash
    * (text); this is the EMBEDDING sign-sketch. */
  val embBinaryRetrieval: Q = (s, d) => {
    graft.functions.CosineSimilarity.register(s)
    val all = embeddings(s, d).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    def packWord(lo: Int): String =
      s"aggregate(sequence($lo, ${lo + 31}), CAST(0 AS BIGINT), (acc, k) -> " +
        s"acc + IF(element_at(v, k + 1) > 0D, shiftleft(CAST(1 AS BIGINT), k - $lo), CAST(0 AS BIGINT)))"
    val packed = all.select(col("vec_id"), col("v"),
      expr(packWord(0)).as("w0"), expr(packWord(32)).as("w1")).sharedCache()
    val q = packed.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("w0").as("qw0"), col("w1").as("qw1"))
    val wHam = Window.partitionBy("query_id").orderBy(col("hd"), col("neighbor_id"))
    val hamTop = broadcast(q).crossJoin(packed)
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr("bit_count(qw0 ^ w0) + bit_count(qw1 ^ w1)").as("hd"))
      .withColumn("rank", row_number().over(wHam)).filter(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id"))
    val wCos = Window.partitionBy("query_id").orderBy(desc("cosine"), col("neighbor_id"))
    val cosTop = broadcast(q.select(col("query_id"), col("qv"))).crossJoin(all)
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(expr("cosine_similarity(qv, v)"), 9).as("cosine"))
      .withColumn("rank", row_number().over(wCos)).filter(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1L))
    hamTop.join(cosTop, Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_ham"),
        coalesce(sum(col("hit")), lit(0L)).as("n_match"))
      .select(col("query_id"), col("n_ham"), col("n_match"),
        floor(col("n_match") * lit(1000000L) / lit(3)).cast(LongType).as("recall_micro"))
      .orderBy("query_id")
  }

  val embBinaryRetrievalSql: String = {
    val cos = """round(list_inner_product(q.emb, c.emb) /
                |             (sqrt(list_inner_product(q.emb, q.emb)) *
                |              sqrt(list_inner_product(c.emb, c.emb))), 9)""".stripMargin
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS emb,
       |         unnest(range(0, len(embedding))) AS k,
       |         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
       |  FROM embeddings),
       |packed AS (
       |  SELECT vec_id, any_value(emb) AS emb,
       |         CAST(sum(CASE WHEN k < 32 AND x > 0 THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT) AS w0,
       |         CAST(sum(CASE WHEN k >= 32 AND x > 0 THEN (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END) AS BIGINT) AS w1
       |  FROM e GROUP BY vec_id),
       |hamtop AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1)), c.vec_id) AS rank
       |    FROM packed q JOIN packed c ON c.vec_id <> q.vec_id
       |    WHERE q.vec_id < 10)
       |  WHERE rank <= 3),
       |costop AS (
       |  SELECT query_id, neighbor_id, 1 AS hit FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY $cos DESC, c.vec_id) AS rank
       |    FROM packed q JOIN packed c ON c.vec_id <> q.vec_id
       |    WHERE q.vec_id < 10)
       |  WHERE rank <= 3)
       |SELECT h.query_id, CAST(count(*) AS BIGINT) AS n_ham,
       |       CAST(coalesce(sum(c.hit), 0) AS BIGINT) AS n_match,
       |       CAST(floor(coalesce(sum(c.hit), 0) * 1000000 / 3) AS BIGINT) AS recall_micro
       |FROM hamtop h
       |LEFT JOIN costop c ON c.query_id = h.query_id AND c.neighbor_id = h.neighbor_id
       |GROUP BY h.query_id
       |ORDER BY h.query_id""".stripMargin
  }

  /** mm-shard-index — the random-access index over mm-shard-pack's
    * greedy layout (RelMore20): per probe doc its (shard_id,
    * offset_in_shard, length) — WebDataset's .idx file — PROVEN by
    * reassembling each probed shard's payload (docs concatenated in id
    * order) and md5-comparing the substring the index points at with
    * the original document. Offsets come from the same PrefixScan
    * two-pass as the packer (global start offset, rebased to the
    * shard's first doc), never a single-partition window; payload
    * reassembly touches ONLY the shards that contain a probe —
    * point-lookup cost, not a corpus rewrite. Completes the shard
    * story: pack (RelMore20) → chunk (RelMore36) → index+seek (here). */
  val mmShardIndex: Q = (s, d) => {
    val placed = documents(s, d)
      .select(col("doc_id"), col("text"), col("n_chars"))
      .transform(df => graft.functions.PrefixScan.withRankCumSum(
        df, Seq(col("doc_id")), Some("n_chars"),
        rankName = "rn", cumName = "cum_end").df)
      .withColumn("start", col("cum_end") - col("n_chars"))
      .withColumn("shard_id", expr("start div 20000"))
    val probes = placed.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id"), col("shard_id"), col("start"), col("n_chars"),
        md5(col("text")).as("want"))
    val probeShards = probes.select("shard_id").distinct()
    val payloads = placed.join(broadcast(probeShards), Seq("shard_id"))
      .groupBy("shard_id")
      .agg(min("start").as("shard_start"),
        expr("array_join(transform(array_sort(collect_list(struct(doc_id, text))), p -> p.text), '')")
          .as("payload"))
    probes.join(payloads, Seq("shard_id"))
      .select(col("doc_id"), col("shard_id"),
        (col("start") - col("shard_start")).as("offset_in_shard"),
        col("n_chars").as("len"),
        when(md5(expr("substring(payload, CAST(start - shard_start + 1 AS INT), CAST(n_chars AS INT))"))
          === col("want"), 1).otherwise(0).cast(IntegerType).as("roundtrip_ok"))
      .orderBy("doc_id")
  }

  val mmShardIndexSql: String =
    """WITH placed AS (
      |  SELECT doc_id, text, n_chars,
      |         CAST(sum(n_chars) OVER (ORDER BY doc_id) AS BIGINT) AS cum_end
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, text, n_chars, cum_end - n_chars AS start,
      |         (cum_end - n_chars) // 20000 AS shard_id
      |  FROM placed),
      |probes AS (
      |  SELECT doc_id, shard_id, start, n_chars, md5(text) AS want
      |  FROM pos WHERE doc_id % 100 = 0),
      |payloads AS (
      |  SELECT shard_id, CAST(min(start) AS BIGINT) AS shard_start,
      |         string_agg(text, '' ORDER BY doc_id) AS payload
      |  FROM pos
      |  WHERE shard_id IN (SELECT DISTINCT shard_id FROM probes)
      |  GROUP BY shard_id)
      |SELECT p.doc_id, p.shard_id,
      |       p.start - y.shard_start AS offset_in_shard,
      |       p.n_chars AS len,
      |       CAST(CASE WHEN md5(substring(y.payload, CAST(p.start - y.shard_start + 1 AS INT), CAST(p.n_chars AS INT))) = p.want
      |            THEN 1 ELSE 0 END AS INT) AS roundtrip_ok
      |FROM probes p JOIN payloads y USING (shard_id)
      |ORDER BY p.doc_id""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("text-temperature-mix", textTemperatureMix, textTemperatureMixSql),
    Key("emb-binary-retrieval", embBinaryRetrieval, embBinaryRetrievalSql),
    Key("mm-shard-index", mmShardIndex, mmShardIndexSql))
}
