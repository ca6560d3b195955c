package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-10 batch D: phrase mining (trigram top-k), stride chunking for
  * context windows, n-gram coverage curve, shared-prefix template
  * clustering — the text-side prep steps of an LLM data pipeline. */
object RelMore86 extends KeyModule {

  /** text-trigram-topk — corpus-level phrase mining: the 20 most
    * frequent word trigrams, from per-doc lead windows (PARTITION BY
    * doc — embarrassingly parallel, no cross-doc state) feeding one
    * count aggregate with map-side partials. Phrase tables at this
    * n-gram order are what boilerplate filters and repetition
    * penalties consume; the (count desc, trigram asc) total order
    * makes the report deterministic to the row. At 100 TB the only
    * shuffle is the final count-by-trigram, whose key space is
    * vocab-bounded, not corpus-bounded. */
  val textTrigramTopk: Q = (s, d) => {
    val toks = documents(s, d).select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val tri = toks
      .withColumn("w2", lead("w", 1).over(w))
      .withColumn("w3", lead("w", 2).over(w))
      .filter(col("w2").isNotNull && col("w3").isNotNull)
      .select(concat_ws(" ", col("w"), col("w2"), col("w3")).as("trigram"))
    tri.groupBy("trigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("trigram").asc)
      .limit(20)
  }

  val textTrigramTopkSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
      |         unnest(range(0, len(string_split(text, ' ')))) AS pos
      |  FROM documents),
      |tri AS (
      |  SELECT w || ' ' || lead(w, 1) OVER dw || ' ' || lead(w, 2) OVER dw AS trigram
      |  FROM toks WINDOW dw AS (PARTITION BY doc_id ORDER BY pos))
      |SELECT trigram, count(*) AS n
      |FROM tri WHERE trigram IS NOT NULL
      |GROUP BY trigram
      |ORDER BY n DESC, trigram
      |LIMIT 20""".stripMargin

  private val ChunkLen = 32
  private val Stride = 16

  /** text-stride-chunks — overlapping context-window chunking (window
    * 32 tokens, stride 16 — the exact shape of LLM pretraining /
    * RAG-indexing chunkers): each doc explodes into
    * ceil(max(n−overlap,1)/stride) chunks with exact token offsets,
    * boundary words, and a short-tail marker. Pure per-doc
    * `sequence()` explode — no shuffle at all until the display sort,
    * and chunk provenance (doc_id, start_tok) is the lineage a
    * training-data audit needs to trace any sample back to its
    * source bytes. Graded on the summary: per-source chunk counts +
    * token accounting (sum of chunk tokens ÷ corpus tokens =
    * amplification from the overlap, exact integers). */
  val textStrideChunks: Q = (s, d) => {
    val base = documents(s, d).select(col("doc_id"), col("source"),
      split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")))
    val chunks = base
      .select(col("doc_id"), col("source"), col("toks"), col("n"),
        explode(expr(s"sequence(0, greatest(n - 1, 0), $Stride)")).as("start"))
      .filter(col("start") < col("n") &&
        (col("start") === 0 || col("start") + lit(ChunkLen) - lit(Stride) < col("n")))
      .withColumn("clen", least(lit(ChunkLen), col("n") - col("start")))
    chunks.groupBy("source")
      .agg(countDistinct("doc_id").as("n_docs"), count(lit(1)).as("n_chunks"),
        sum(col("clen").cast(LongType)).as("chunk_toks"),
        sum(when(col("clen") < ChunkLen, 1L).otherwise(0L)).as("n_short"))
      .join(base.groupBy("source").agg(sum(col("n").cast(LongType)).as("corpus_toks")), "source")
      .select(col("source"), col("n_docs"), col("n_chunks"), col("chunk_toks"),
        col("n_short"), col("corpus_toks"),
        ratioFloor(col("chunk_toks"), col("corpus_toks"), 4).as("amplification"))
      .orderBy("source")
  }

  val textStrideChunksSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS toks,
       |         len(string_split(text, ' ')) AS n
       |  FROM documents),
       |chunks AS (
       |  SELECT doc_id, source, n,
       |         unnest(range(0, greatest(n - 1, 0) + 1, $Stride)) AS start
       |  FROM base),
       |kept AS (
       |  SELECT doc_id, source, n, start,
       |         least($ChunkLen, n - start) AS clen
       |  FROM chunks
       |  WHERE start < n AND (start = 0 OR start + $ChunkLen - $Stride < n)),
       |agg AS (
       |  SELECT source, count(DISTINCT doc_id) AS n_docs, count(*) AS n_chunks,
       |         CAST(sum(clen) AS BIGINT) AS chunk_toks,
       |         CAST(sum(CASE WHEN clen < $ChunkLen THEN 1 ELSE 0 END) AS BIGINT) AS n_short
       |  FROM kept GROUP BY source),
       |ct AS (SELECT source, CAST(sum(n) AS BIGINT) AS corpus_toks FROM base GROUP BY source)
       |SELECT source, n_docs, n_chunks, chunk_toks, n_short, corpus_toks,
       |       ${ratioFloorSql("chunk_toks", "corpus_toks", 4)} AS amplification
       |FROM agg JOIN ct USING (source)
       |ORDER BY source""".stripMargin

  /** text-ngram-coverage — how concentrated is the corpus: cumulative
    * token-mass share of the top-k bigrams at k ∈ {5,10,25,50,100,
    * 250}. The curve that decides tokenizer-vocabulary sizing and
    * n-gram-LM memory budgets (a steep curve = a small phrase table
    * covers most of the stream). Bigram counts shuffle on a
    * VOCAB²-bounded key space; the rank+cumsum comes from the
    * PrefixScan two-pass (range partition + per-partition offsets —
    * no single global sort partition even when the n-gram table is
    * billions of keys). Shares are exact integer ratios, floored. */
  val textNgramCoverage: Q = (s, d) => {
    import graft.functions.PrefixScan
    val toks = documents(s, d).select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val big = toks.withColumn("w2", lead("w", 1).over(w))
      .filter(col("w2").isNotNull)
      .select(concat_ws(" ", col("w"), col("w2")).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))
    val scanned = PrefixScan.withRankCumSum(big,
      Seq(col("cnt").desc, col("bigram").asc), Some("cnt"),
      rankName = "rk", cumName = "cum").df
    val tot = big.agg(sum("cnt").as("total"), count(lit(1)).as("n_bigrams"))
    scanned.filter(col("rk").isin(5L, 10L, 25L, 50L, 100L, 250L))
      .crossJoin(broadcast(tot))
      .select(col("rk").as("k"), col("cum").as("mass_at_k"),
        col("n_bigrams"), col("total"),
        ratioFloor(col("cum"), col("total"), 6).as("coverage"))
      .orderBy("k")
  }

  val textNgramCoverageSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
       |         unnest(range(0, len(string_split(text, ' ')))) AS pos
       |  FROM documents),
       |big AS (
       |  SELECT w || ' ' || lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
       |  FROM toks),
       |cnts AS (
       |  SELECT bigram, count(*) AS cnt FROM big WHERE bigram IS NOT NULL GROUP BY bigram),
       |ranked AS (
       |  SELECT bigram, cnt,
       |         row_number() OVER (ORDER BY cnt DESC, bigram) AS rk,
       |         sum(cnt) OVER (ORDER BY cnt DESC, bigram ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM cnts),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS n_bigrams FROM cnts)
       |SELECT rk AS k, CAST(cum AS BIGINT) AS mass_at_k, n_bigrams, total,
       |       ${ratioFloorSql("cum", "total", 6)} AS coverage
       |FROM ranked CROSS JOIN tot
       |WHERE rk IN (5, 10, 25, 50, 100, 250)
       |ORDER BY k""".stripMargin

  /** text-prefix-cluster — template/near-duplicate detection by shared
    * 8-word prefix: docs generated from the same template (or
    * copy-pasted with tail edits) collide on the prefix key even when
    * MinHash similarity is diluted by a long unique tail. One
    * groupBy on a fixed-width derived key — the cheapest dedup signal
    * there is (no shingles, no signatures), which is why real
    * pipelines run it FIRST and save the LSH budget for what
    * survives. Graded: every multi-doc prefix group with sizes,
    * id-range and source spread, (size desc, prefix) total order. */
  val textPrefixCluster: Q = (s, d) => {
    val pre = documents(s, d).select(col("doc_id"), col("source"),
      array_join(slice(split(col("text"), " "), 1, 8), " ").as("prefix"))
    pre.groupBy("prefix")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc"),
        max("doc_id").as("max_doc"), countDistinct("source").as("n_sources"))
      .filter(col("n_docs") > 1)
      .orderBy(col("n_docs").desc, col("prefix").asc)
  }

  val textPrefixClusterSql: String =
    """WITH pre AS (
      |  SELECT doc_id, source,
      |         array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ') AS prefix
      |  FROM documents)
      |SELECT prefix, count(*) AS n_docs, min(doc_id) AS min_doc,
      |       max(doc_id) AS max_doc, count(DISTINCT source) AS n_sources
      |FROM pre
      |GROUP BY prefix HAVING count(*) > 1
      |ORDER BY n_docs DESC, prefix""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("text-trigram-topk", textTrigramTopk, textTrigramTopkSql),
    Key("text-stride-chunks", textStrideChunks, textStrideChunksSql),
    Key("text-ngram-coverage", textNgramCoverage, textNgramCoverageSql),
    Key("text-prefix-cluster", textPrefixCluster, textPrefixClusterSql))
}
