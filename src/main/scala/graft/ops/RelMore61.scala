package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-8 batch E: whole-file text ingestion, recursive glob
  * discovery, period-to-date rollups, class-balanced sampling. */
object RelMore61 extends KeyModule {

  /** src-text-wholetext — whole-file text ingestion (wholetext=true:
    * one row per FILE, not per line), the raw-corpus landing pattern:
    * upstream drops one file per shard and the reader must keep each
    * file intact — line-splitting a document corpus would shred
    * multi-line documents into meaningless rows. Five shard files are
    * staged deterministically (docs bucketed by doc_id%5, sorted,
    * newline-joined); the read-back recovers shard identity from the
    * FILE NAME (input_file_name — there is no column carrying it) and
    * grades exact reassembled sizes. At scale each whole file must fit
    * an executor — the reader for multi-GB files is the chunked
    * binaryFile/mapInPandas path (mm-payload-chunking), not this. */
  val srcTextWholetext: Q = (s, d) => {
    val out = tmp("src-text-wholetext", d)
    val docs = documents(s, d)
      .select(pmod(col("doc_id"), lit(5L)).cast(IntegerType).as("shard"),
        col("doc_id"), col("text"))
    docs.orderBy("shard", "doc_id")
      .groupBy("shard")
      .agg(concat_ws("\n", expr("transform(array_sort(collect_list(struct(doc_id, text))), s -> s.text)")).as("content"))
      .repartition(1)
      .write.mode(SaveMode.Overwrite).partitionBy("shard").text(out)
    // the text writer terminates its (single) row with '\n': the
    // whole-file read sees content + exactly one trailing terminator —
    // strip it before grading sizes, or every shard is off by one
    s.read.option("wholetext", "true").text(out)
      .select(regexp_extract(input_file_name(), "shard=(\\d+)", 1)
          .cast(IntegerType).as("shard"),
        expr("substring(value, 1, length(value) - 1)").as("body"))
      .select(col("shard"), length(col("body")).as("n_chars"),
        (size(split(col("body"), "\n", -1))).cast(LongType).as("n_docs"))
      .orderBy("shard")
  }

  val srcTextWholetextSql: String =
    """SELECT CAST(doc_id % 5 AS INT) AS shard,
      |       CAST(sum(length(text)) + count(*) - 1 AS BIGINT) AS n_chars,
      |       count(*) AS n_docs
      |FROM documents
      |GROUP BY 1
      |ORDER BY shard""".stripMargin

  /** src-recursive-glob — partition-agnostic file discovery:
    * recursiveFileLookup walks an arbitrarily nested landing tree
    * (vendor drops files wherever) and pathGlobFilter admits only the
    * data files, skipping the manifests/receipts living beside them —
    * the two options that make a messy object-store prefix readable
    * without a directory-shape contract. Staged: parquet shards under
    * nested depth-2 dirs plus decoy .txt receipts; graded: the glob'd
    * recursive read restores the exact table rollup (decoys excluded
    * by construction — a naive read would fail or double-count). */
  val srcRecursiveGlob: Q = (s, d) => {
    val root = tmp("src-recursive-glob", d)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val src = nation(s, d)
    src.filter(col("n_nationkey") % 2 === 0)
      .write.mode(SaveMode.Overwrite).parquet(s"$root/a/even")
    src.filter(col("n_nationkey") % 2 === 1)
      .write.mode(SaveMode.Overwrite).parquet(s"$root/b/deep/odd")
    // decoy receipts the glob must skip
    Seq(s"$root/a/receipt.txt", s"$root/b/deep/manifest.txt").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        "not parquet".getBytes("UTF-8"))
    }
    s.read.option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.parquet")
      .parquet(root)
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_nations"), sum(col("n_nationkey")).as("key_sum"))
      .orderBy("n_regionkey")
  }

  val srcRecursiveGlobSql: String =
    """SELECT n_regionkey, count(*) AS n_nations,
      |       CAST(sum(n_nationkey) AS BIGINT) AS key_sum
      |FROM nation
      |GROUP BY 1
      |ORDER BY n_regionkey""".stripMargin

  /** agg-ytd-mtd — period-to-date rollups (MTD/QTD/YTD), the BI
    * staple every dashboard recomputes: monthly revenue with running
    * quarter-to-date and year-to-date sums that RESET at each period
    * boundary — the window PARTITION key is the period, which is what
    * distinguishes this from win-running-total's global accumulation.
    * Exact cents end to end; windows run over the |months|-row
    * aggregate. */
  val aggYtdMtd: Q = (s, d) => {
    val monthly = orders(s, d)
      .groupBy(year(col("o_orderdate")).as("yr"),
        quarter(col("o_orderdate")).as("qtr"),
        month(col("o_orderdate")).as("mo"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("mtd_cents"))
    val wQ = Window.partitionBy("yr", "qtr").orderBy("mo")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wY = Window.partitionBy("yr").orderBy("mo")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    monthly
      .withColumn("qtd_cents", sum(col("mtd_cents")).over(wQ))
      .withColumn("ytd_cents", sum(col("mtd_cents")).over(wY))
      .select(
        concat(format_string("%04d", col("yr")), lit("-"),
          format_string("%02d", col("mo"))).as("month"),
        col("mtd_cents"), col("qtd_cents"), col("ytd_cents"))
      .orderBy("month")
  }

  val aggYtdMtdSql: String =
    """WITH monthly AS (
      |  SELECT year(o_orderdate) AS yr, quarter(o_orderdate) AS qtr,
      |         month(o_orderdate) AS mo,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS mtd_cents
      |  FROM orders GROUP BY 1, 2, 3)
      |SELECT printf('%04d-%02d', yr, mo) AS month,
      |       mtd_cents,
      |       CAST(sum(mtd_cents) OVER (PARTITION BY yr, qtr ORDER BY mo
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS qtd_cents,
      |       CAST(sum(mtd_cents) OVER (PARTITION BY yr ORDER BY mo
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ytd_cents
      |FROM monthly
      |ORDER BY month""".stripMargin

  /** sample-class-balance — class-balanced downsampling, the
    * imbalanced-training-set fix: every language keeps exactly
    * min-class-count documents, chosen by portable md5 rank WITHIN
    * each class (deterministic across engines, runs, partitionings —
    * the property a rebuilt training set must have). Per-class windows
    * only (rank never crosses classes, so the sort is
    * partition-local); the minority count broadcasts. Graded on the
    * kept-set rollup: equal counts by construction, content checked by
    * char-mass and id-extrema. */
  val sampleClassBalance: Q = (s, d) => {
    val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"),
      md5(concat(lit("bal#"), col("doc_id").cast(StringType))).as("h"))
    val minority = docs.groupBy("lang").agg(count(lit(1)).as("cn"))
      .agg(min(col("cn")).as("m"))
    val w = Window.partitionBy("lang").orderBy("h", "doc_id")
    docs.withColumn("rk", row_number().over(w))
      .crossJoin(broadcast(minority))
      .filter(col("rk") <= col("m"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("kept_chars"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy("lang")
  }

  val sampleClassBalanceSql: String =
    """WITH docs AS (
      |  SELECT doc_id, lang, n_chars,
      |         md5('bal#' || CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents),
      |minority AS (
      |  SELECT min(cn) AS m FROM (SELECT count(*) AS cn FROM docs GROUP BY lang)),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
      |  FROM docs)
      |SELECT lang, count(*) AS n_kept,
      |       CAST(sum(n_chars) AS BIGINT) AS kept_chars,
      |       min(doc_id) AS min_id, max(doc_id) AS max_id
      |FROM ranked CROSS JOIN minority
      |WHERE rk <= m
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("src-text-wholetext", srcTextWholetext, srcTextWholetextSql),
    Key("src-recursive-glob", srcRecursiveGlob, srcRecursiveGlobSql),
    Key("agg-ytd-mtd", aggYtdMtd, aggYtdMtdSql),
    Key("sample-class-balance", sampleClassBalance, sampleClassBalanceSql))
}
