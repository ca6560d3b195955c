package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-5 batch J: the SQL-standard PERCENTILE_CONT/DISC surface and
  * payload chunking for oversized binary columns.
  */
object RelMore36 extends KeyModule {

  /** sql-percentile-cont — the SQL-standard inverse-distribution
    * functions PERCENTILE_CONT / PERCENTILE_DISC (WITHIN GROUP ORDER
    * BY) per order status: CONT interpolates between the two
    * straddling order statistics, DISC returns an actual data value.
    * Shared-SQL front door — the same text runs on DuckDB; results are
    * cent-integers scaled from DECIMAL so the CONT midpoint (x.5
    * cents at even group sizes) stays exact in both engines (the
    * doubles are dollar values only at the output boundary). At scale
    * this lowers to one sort per group (same shape as the exact
    * percentile family); the sketch sibling agg-approx-quantile is
    * the 100 TB default. */
  val sqlPercentileCont: Q = (s, d) => {
    orders(s, d)
      .withColumn("cents", expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
      .createOrReplaceTempView("ord_pc")
    s.sql(sqlPercentileContText)
  }

  private val sqlPercentileContText: String =
    """SELECT o_orderstatus,
      |       count(*) AS n,
      |       CAST(floor(percentile_cont(0.5) WITHIN GROUP (ORDER BY cents) * 2 + 0.5) AS BIGINT) AS median_halfcents,
      |       CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS median_disc_cents,
      |       CAST(floor(percentile_cont(0.9) WITHIN GROUP (ORDER BY cents) * 10 + 0.5) AS BIGINT) AS p90_decicents
      |FROM ord_pc
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  val sqlPercentileContSql: String =
    """SELECT o_orderstatus,
      |       count(*) AS n,
      |       CAST(floor(percentile_cont(0.5) WITHIN GROUP (ORDER BY cents) * 2 + 0.5) AS BIGINT) AS median_halfcents,
      |       CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS median_disc_cents,
      |       CAST(floor(percentile_cont(0.9) WITHIN GROUP (ORDER BY cents) * 10 + 0.5) AS BIGINT) AS p90_decicents
      |FROM (SELECT o_orderstatus,
      |             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |      FROM orders) ord_pc
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  private val ChunkBytes = 256

  /** mm-payload-chunking — oversized-payload chunking and reassembly:
    * each document's payload splits into fixed 256-byte chunk ROWS
    * (doc_id, chunk_idx, chunk), and reassembly (ordered array_agg →
    * concat) must reproduce the original byte-for-byte, proven per doc
    * by md5 equality. This is how >row-group-sized media (the 2 GB
    * parquet/Spark value ceiling, object-store multipart layouts)
    * lives in a columnar lake: chunk rows distribute and shuffle like
    * any fact, reassembly is a key-local sort — never a monolithic
    * blob through one task's memory. The chunk generator is
    * sequence+substring (codegen'd, no UDF); per-doc order is pinned
    * by chunk_idx so reassembly is deterministic under any
    * partitioning. Output: per-source chunk accounting + corpus-level
    * integrity verdict. */
  val mmPayloadChunking: Q = (s, d) => {
    val docs = documents(s, d).select(col("doc_id"), col("source"), col("text"))
    val chunks = docs.select(col("doc_id"), col("source"),
        length(col("text")).as("len"),
        explode(expr(
          s"transform(sequence(0, CAST(ceil(length(text) / $ChunkBytes.0) AS INT) - 1), " +
            s"i -> struct(i AS chunk_idx, substring(text, i * $ChunkBytes + 1, $ChunkBytes) AS chunk))"))
          .as("c"))
      .select(col("doc_id"), col("source"), col("len"),
        col("c.chunk_idx").as("chunk_idx"), col("c.chunk").as("chunk"))
    val reasm = chunks.groupBy("doc_id", "source", "len")
      .agg(count(lit(1)).as("n_chunks"),
        expr("array_join(transform(array_sort(collect_list(struct(chunk_idx, chunk))), s -> s.chunk), '')")
          .as("reassembled"))
    val verdict = reasm.join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("len"), col("n_chunks"),
        (md5(col("reassembled")) === md5(col("text"))).cast(IntegerType).as("intact"))
    verdict.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chunks").as("n_chunks"),
        sum("len").as("n_bytes"), sum("intact").as("n_intact"))
      .withColumn("all_intact", (col("n_intact") === col("n_docs")).cast(IntegerType))
      .orderBy("source")
  }

  val mmPayloadChunkingSql: String =
    s"""WITH chunks AS (
       |  SELECT doc_id, source, length(text) AS len,
       |         i AS chunk_idx, substring(text, i * $ChunkBytes + 1, $ChunkBytes) AS chunk
       |  FROM documents, LATERAL (
       |    SELECT unnest(range(0, CAST(ceil(length(text) / $ChunkBytes.0) AS BIGINT))) AS i) ix),
       |reasm AS (
       |  SELECT doc_id, source, len, count(*) AS n_chunks,
       |         string_agg(chunk, '' ORDER BY chunk_idx) AS reassembled
       |  FROM chunks GROUP BY 1, 2, 3),
       |verdict AS (
       |  SELECT r.doc_id, r.source, r.len, r.n_chunks,
       |         CAST(md5(r.reassembled) = md5(d.text) AS INT) AS intact
       |  FROM reasm r JOIN documents d ON d.doc_id = r.doc_id)
       |SELECT source, count(*) AS n_docs,
       |       CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
       |       CAST(sum(len) AS BIGINT) AS n_bytes,
       |       CAST(sum(intact) AS BIGINT) AS n_intact,
       |       CAST(sum(intact) = count(*) AS INT) AS all_intact
       |FROM verdict
       |GROUP BY source
       |ORDER BY source""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("sql-percentile-cont", sqlPercentileCont, sqlPercentileContSql),
    Key("mm-payload-chunking", mmPayloadChunking, mmPayloadChunkingSql))
}
