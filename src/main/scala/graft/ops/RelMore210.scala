package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Driver-round-10 batch D: two Spark-4 read/report surfaces —
  * `Dataset.transpose` (metrics-as-rows report pivoting) and the
  * `_metadata` hidden file columns (row-level file provenance). */
object RelMore210 extends KeyModule {

  /** agg-transpose-report — `Dataset.transpose(indexColumn)`: the
    * Spark 4 first-class transpose. Unlike PIVOT (which aggregates),
    * transpose is a pure reshape: the index column's VALUES become
    * columns, each remaining column becomes a row keyed by its name —
    * the "metrics down the side, segments across the top" executive
    * report. Scale contract: transpose collects the index values to
    * plan the output schema, so it is for REPORT-shaped frames (here:
    * 3 statuses × 2 metrics, always run it post-aggregation) — never
    * for fact-shaped data, where the column count would explode.
    * Aggregates go through exact DECIMAL cents before the reshape
    * (house rule: a double sum's last ulp depends on partitioning;
    * transpose forces one value type per row, so the metrics are cast
    * to double only AFTER the exact sum). */
  val aggTransposeReport: Q = (s, d) => {
    val report = orders(s, d).groupBy("o_orderstatus").agg(
      count(lit(1)).cast(DoubleType).as("n_orders"),
      outNum(sum(dec2(col("o_totalprice")))).as("revenue"))
    report.transpose(col("o_orderstatus")).orderBy("key")
  }

  val aggTransposeReportSql: String =
    """WITH r AS (
      |  SELECT o_orderstatus,
      |         CAST(count(*) AS DOUBLE) AS n_orders,
      |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |  FROM orders GROUP BY o_orderstatus)
      |SELECT 'n_orders' AS key,
      |       max(CASE WHEN o_orderstatus = 'F' THEN n_orders END) AS F,
      |       max(CASE WHEN o_orderstatus = 'O' THEN n_orders END) AS O,
      |       max(CASE WHEN o_orderstatus = 'P' THEN n_orders END) AS P
      |FROM r
      |UNION ALL
      |SELECT 'revenue',
      |       max(CASE WHEN o_orderstatus = 'F' THEN revenue END),
      |       max(CASE WHEN o_orderstatus = 'O' THEN revenue END),
      |       max(CASE WHEN o_orderstatus = 'P' THEN revenue END)
      |FROM r
      |ORDER BY key""".stripMargin

  /** src-file-metadata — the `_metadata` hidden file columns:
    * row-level provenance (file_name, row_index) surfaced by the
    * reader with NO storage cost (constant per file / position
    * counter, never materialized in the data). At 100 TB this is the
    * lineage primitive: quarantine a bad ingest batch by file, dedup
    * a re-delivered file, or address any row stably as
    * (file, row_index) without minting a surrogate key. The op
    * audits the contract on a multi-file write: every file's
    * row_index is dense 0..n_f−1 (max+1 = per-file count) and the
    * per-file counts sum to the table. Oracle recomputes the totals
    * from the base table; the file count is pinned by the write. */
  val srcFileMetadata: Q = (s, d) => {
    val out = tmp("file-metadata", d)
    orders(s, d).repartition(4)
      .write.mode("overwrite").parquet(out)
    val perFile = s.read.parquet(out)
      .select(col("_metadata.file_name").as("f"),
        col("_metadata.row_index").as("ri"))
      .groupBy("f")
      .agg(count(lit(1)).as("n"), (max(col("ri")) + 1).as("dense_n"))
    perFile.agg(
      count(lit(1)).as("n_files"),
      sum(col("n")).as("n_rows"),
      sum(when(col("n") === col("dense_n"), 1L).otherwise(0L)).as("n_dense_files"))
  }

  val srcFileMetadataSql: String =
    """SELECT CAST(4 AS BIGINT) AS n_files,
      |       count(*) AS n_rows,
      |       CAST(4 AS BIGINT) AS n_dense_files
      |FROM orders""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-transpose-report", aggTransposeReport, aggTransposeReportSql),
    Key("src-file-metadata", srcFileMetadata, srcFileMetadataSql))
}
