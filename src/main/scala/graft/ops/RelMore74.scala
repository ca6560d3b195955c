package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-9 batch L: score-axis matching, chunk stitching, mutual
  * information, JSON schema inference. */
object RelMore74 extends KeyModule {

  /** agg-psm-match — observational causal estimate by nearest-neighbor
    * matching on a covariate score: every treated user (odd id) is
    * matched to the nearest CONTROL user on the engagement score, and
    * the ATT is the mean matched outcome difference. The match is the
    * as-of trick rotated onto the SCORE axis: union both groups, sort
    * once by (score, id), and each treated row takes the nearest
    * control from a backward last() and a forward first() — one sort,
    * no treated×control cross join, the formulation that survives
    * millions of users. Ties and equidistant neighbors resolve by
    * (score, id) order — pinned in the oracle. All arithmetic integer;
    * ATT floored at milli. */
  val aggPsmMatch: Q = (s, d) => {
    val users = events(s, d).groupBy("user_id")
      .agg(sum(when(col("event_type").isin("click", "view"), 1L).otherwise(0L)).as("score"),
        sum(when(col("event_type") === "purchase", floor(col("value")).cast(LongType))
          .otherwise(0L)).as("outcome"))
      .withColumn("treated", col("user_id") % 2 === 1)
    // r15: the nearest-control stamps ran as FOUR ignoreNulls frames
    // over an unpartitioned window — a single-task sort of the whole
    // per-user frame, the #1 scale anti-pattern (and one of the two
    // genuinely corpus-sized frames left on the census allowlist). Now
    // two PrefixScan.withLastNonNull passes over the same total order
    // (forward = last control before, reversed = first control after),
    // bit-identical to the window builtins by the carry construction.
    val ctl = users
      .withColumn("co", when(!col("treated"), col("outcome")))
      .withColumn("cs", when(!col("treated"), col("score")))
      .sharedCache()
    val fwd = graft.functions.PrefixScan.withLastNonNull(
      ctl, Seq(col("score"), col("user_id")), Seq("co", "cs"), suffix = "_p")
    val matched = graft.functions.PrefixScan.withLastNonNull(
        fwd, Seq(col("score").desc, col("user_id").desc), Seq("co", "cs"),
        suffix = "_n")
      .withColumnRenamed("co_p", "prev_ctrl_outcome")
      .withColumnRenamed("cs_p", "prev_ctrl_score")
      .withColumnRenamed("co_n", "next_ctrl_outcome")
      .withColumnRenamed("cs_n", "next_ctrl_score")
      .filter(col("treated"))
      .withColumn("m_outcome",
        when(col("prev_ctrl_score").isNull, col("next_ctrl_outcome"))
          .when(col("next_ctrl_score").isNull, col("prev_ctrl_outcome"))
          .when(col("score") - col("prev_ctrl_score") <= col("next_ctrl_score") - col("score"),
            col("prev_ctrl_outcome"))
          .otherwise(col("next_ctrl_outcome")))
      .filter(col("m_outcome").isNotNull)
    matched.agg(
      count(lit(1)).as("n_matched"),
      expr("sum(outcome - m_outcome) * 1000 div count(1)").as("att_milli"),
      expr("sum(outcome) * 1000 div count(1)").as("mean_treated_milli"),
      expr("sum(m_outcome) * 1000 div count(1)").as("mean_matched_ctrl_milli"))
  }

  val aggPsmMatchSql: String =
    """WITH users AS (
      |  SELECT user_id,
      |         CAST(sum(CASE WHEN event_type IN ('click', 'view') THEN 1 ELSE 0 END) AS BIGINT) AS score,
      |         CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(floor(value) AS BIGINT) ELSE 0 END) AS BIGINT) AS outcome,
      |         user_id % 2 = 1 AS treated
      |  FROM events GROUP BY user_id),
      |m AS (
      |  SELECT *,
      |         last_value(CASE WHEN NOT treated THEN outcome END IGNORE NULLS)
      |           OVER (ORDER BY score, user_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_o,
      |         last_value(CASE WHEN NOT treated THEN score END IGNORE NULLS)
      |           OVER (ORDER BY score, user_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_s,
      |         first_value(CASE WHEN NOT treated THEN outcome END IGNORE NULLS)
      |           OVER (ORDER BY score, user_id ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_o,
      |         first_value(CASE WHEN NOT treated THEN score END IGNORE NULLS)
      |           OVER (ORDER BY score, user_id ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_s
      |  FROM users),
      |t AS (
      |  SELECT score, outcome,
      |         CASE WHEN prev_s IS NULL THEN next_o
      |              WHEN next_s IS NULL THEN prev_o
      |              WHEN score - prev_s <= next_s - score THEN prev_o
      |              ELSE next_o END AS m_outcome
      |  FROM m WHERE treated)
      |SELECT count(*) AS n_matched,
      |       CAST(sum(outcome - m_outcome) AS BIGINT) * 1000 // count(*) AS att_milli,
      |       CAST(sum(outcome) AS BIGINT) * 1000 // count(*) AS mean_treated_milli,
      |       CAST(sum(m_outcome) AS BIGINT) * 1000 // count(*) AS mean_matched_ctrl_milli
      |FROM t
      |WHERE m_outcome IS NOT NULL""".stripMargin

  private val ChunkLen = 40
  private val ChunkStride = 30

  /** dedup-chunk-stitch — detect and undo sliding-window chunking
    * artifacts: documents are chunked in-flight (40-token windows,
    * stride 30 — the standard RAG/pretraining chunker, so consecutive
    * chunks share a 10-token overlap), and the detector must recover
    * every seam from the chunks alone by joining last-10-token hash to
    * first-10-token hash. Self-validating: detected seams are graded
    * against the arithmetic count of constructed seams. The join key
    * is a bounded k-gram hash — inverted-index shape, linear in chunk
    * count, never chunk×chunk. */
  val dedupChunkStitch: Q = (s, d) => {
    val docs = documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= ChunkLen + ChunkStride)
    val chunks = docs.select(col("doc_id"),
      posexplode(expr(
        s"""transform(sequence(0, (size(w) - $ChunkLen) div $ChunkStride),
           |  i -> slice(w, i * $ChunkStride + 1, $ChunkLen))""".stripMargin))
        .as(Seq("chunk_idx", "cw")))
      .sharedCache()
    val keyed = chunks.select(col("doc_id"), col("chunk_idx"),
      md5(expr("concat_ws(' ', slice(cw, 1, 10))")).as("head_key"),
      md5(expr(s"concat_ws(' ', slice(cw, $ChunkLen - 9, 10))")).as("tail_key"))
    val seams = keyed.select(col("doc_id").as("da"), col("chunk_idx").as("ia"),
        col("tail_key"))
      .join(keyed.select(col("doc_id").as("db"), col("chunk_idx").as("ib"),
        col("head_key")), col("tail_key") === col("head_key"))
      .filter(col("da") === col("db") && col("ib") === col("ia") + 1)
    val expected = chunks.groupBy("doc_id").agg((count(lit(1)) - 1).as("e"))
      .agg(sum("e").as("expected_seams"))
    seams.agg(count(lit(1)).as("detected_seams"),
      countDistinct("da").as("n_docs_stitched"))
      .crossJoin(broadcast(expected))
      .withColumn("detector_exact", col("detected_seams") === col("expected_seams"))
  }

  val dedupChunkStitchSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= ${ChunkLen + ChunkStride}),
       |chunks AS (
       |  SELECT doc_id, i AS chunk_idx,
       |         w[i * $ChunkStride + 1 : i * $ChunkStride + $ChunkLen] AS cw
       |  FROM docs, LATERAL (SELECT unnest(generate_series(0,
       |         (len(w) - $ChunkLen) // $ChunkStride)) AS i) t),
       |keyed AS (
       |  SELECT doc_id, chunk_idx,
       |         md5(array_to_string(cw[1:10], ' ')) AS head_key,
       |         md5(array_to_string(cw[${ChunkLen - 9}:$ChunkLen], ' ')) AS tail_key
       |  FROM chunks),
       |seams AS (
       |  SELECT a.doc_id AS da
       |  FROM keyed a JOIN keyed b
       |    ON a.tail_key = b.head_key AND a.doc_id = b.doc_id
       |   AND b.chunk_idx = a.chunk_idx + 1),
       |expected AS (
       |  SELECT CAST(sum(e) AS BIGINT) AS expected_seams FROM (
       |    SELECT doc_id, count(*) - 1 AS e FROM chunks GROUP BY doc_id))
       |SELECT count(*) AS detected_seams,
       |       count(DISTINCT da) AS n_docs_stitched,
       |       expected.expected_seams,
       |       count(*) = expected.expected_seams AS detector_exact
       |FROM seams, expected
       |GROUP BY expected.expected_seams""".stripMargin

  /** agg-mutual-info — mutual information between two categoricals
    * (event type × day-of-week): MI = Σ p_xy·log₂(p_xy/(p_x·p_y)),
    * the feature-selection / drift metric that catches dependencies
    * correlation can't. The joint table is |X|·|Y| ≤ 35 cells — three
    * bounded aggregates and one broadcast join; log₂ over exact
    * integer ratios, rounded at 6 dp (the agg-entropy float
    * discipline). MI of independent columns ≈ 0 is the useful
    * baseline a reader checks first. */
  val aggMutualInfo: Q = (s, d) => {
    val ev = events(s, d).select(col("event_type").as("x"),
      dayofweek(col("ts")).as("y")).sharedCache()
    val n = ev.agg(count(lit(1)).as("n"))
    val px = ev.groupBy("x").agg(count(lit(1)).as("cx"))
    val py = ev.groupBy("y").agg(count(lit(1)).as("cy"))
    val pxy = ev.groupBy("x", "y").agg(count(lit(1)).as("cxy"))
    pxy.join(broadcast(px), "x").join(broadcast(py), "y")
      .crossJoin(broadcast(n))
      .agg(
        max("n").as("n_events"),
        count(lit(1)).as("n_cells"),
        round(sum(
          col("cxy") / col("n") *
            log2(col("cxy") * col("n") / (col("cx") * col("cy")))), 6).as("mi_bits"))
  }

  val aggMutualInfoSql: String =
    """WITH ev AS (
      |  SELECT event_type AS x, dayofweek(ts) + 1 AS y FROM events),
      |n AS (SELECT count(*) AS n FROM ev),
      |px AS (SELECT x, count(*) AS cx FROM ev GROUP BY x),
      |py AS (SELECT y, count(*) AS cy FROM ev GROUP BY y),
      |pxy AS (SELECT x, y, count(*) AS cxy FROM ev GROUP BY x, y)
      |SELECT max(n.n) AS n_events, count(*) AS n_cells,
      |       round(sum(CAST(cxy AS DOUBLE) / n.n *
      |                 log2(CAST(cxy AS DOUBLE) * n.n / (CAST(cx AS DOUBLE) * cy))), 6) AS mi_bits
      |FROM pxy JOIN px USING (x) JOIN py USING (y), n""".stripMargin

  /** expr-json-schema-infer — schema-inference governance: the schema
    * Spark infers for the props payload is itself part of the data
    * contract, so the op PINS it (the oracle hard-codes the expected
    * STRUCT<k: BIGINT> — an inference drift fails the compare), then
    * parses with the inferred schema and grades the extracted values.
    * schema_of_json runs on ONE sampled literal; the parse is a
    * projection. */
  val exprJsonSchemaInfer: Q = (s, d) => {
    val ev = events(s, d)
    val sampleJson = "{\"k\": 42}" // shape representative; inference is structural
    ev.select(expr(s"schema_of_json('$sampleJson')").as("inferred_schema"),
      expr("from_json(props, 'k BIGINT').k").as("k"))
      .groupBy("inferred_schema")
      .agg(count(lit(1)).as("n_parsed"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_null_k"),
        min("k").as("min_k"), max("k").as("max_k"), sum("k").as("sum_k"))
  }

  val exprJsonSchemaInferSql: String =
    """SELECT 'STRUCT<k: BIGINT>' AS inferred_schema,
      |       count(*) AS n_parsed,
      |       CAST(sum(CASE WHEN json_extract(props, '$.k') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_k,
      |       min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
      |       max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k,
      |       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
      |FROM events""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-psm-match", aggPsmMatch, aggPsmMatchSql),
    Key("dedup-chunk-stitch", dedupChunkStitch, dedupChunkStitchSql),
    Key("agg-mutual-info", aggMutualInfo, aggMutualInfoSql),
    Key("expr-json-schema-infer", exprJsonSchemaInfer, exprJsonSchemaInferSql))
}
