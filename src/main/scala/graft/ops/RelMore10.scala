package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-4 continuation batch J: deterministic name-based UUIDs,
  * multi-distinct aggregation (the Expand plan), and the binaryFile
  * source (raw-asset multimodal ingest).
  */
object RelMore10 extends KeyModule {

  /** expr-uuid-name — name-based (UUIDv5-style) deterministic IDs:
    * md5 of a namespaced natural key formatted as 8-4-4-4-12, with the
    * version/variant nibbles pinned. uuid()/rand() IDs are forbidden in
    * a replayable pipeline (every retry would mint new identities —
    * same reason as sk-identity's row_number discipline); a name-based
    * UUID is stable across runs, engines, and partitionings. */
  val exprUuidName: Q = (s, d) =>
    orders(s, d)
      .withColumn("h", md5(concat(lit("graft:order:"), col("o_orderkey"))))
      .select(col("o_orderkey"),
        concat_ws("-",
          substring(col("h"), 1, 8), substring(col("h"), 9, 4),
          concat(lit("5"), substring(col("h"), 14, 3)),
          concat(lit("8"), substring(col("h"), 18, 3)),
          substring(col("h"), 21, 12)).as("order_uuid"))
      .orderBy("o_orderkey")

  val exprUuidNameSql: String =
    """WITH h AS (
      |  SELECT o_orderkey, md5('graft:order:' || o_orderkey) AS h FROM orders)
      |SELECT o_orderkey,
      |       substring(h, 1, 8) || '-' || substring(h, 9, 4) || '-' ||
      |       '5' || substring(h, 14, 3) || '-' ||
      |       '8' || substring(h, 18, 3) || '-' ||
      |       substring(h, 21, 12) AS order_uuid
      |FROM h
      |ORDER BY o_orderkey""".stripMargin

  /** agg-multi-distinct — several DISTINCT aggregates over DIFFERENT
    * columns in one GROUP BY: Spark plans this with an Expand node
    * (one duplicated stream per distinct column) feeding a two-level
    * aggregate — the row count multiplies by the number of distinct
    * specs BEFORE the shuffle, which is the scale hazard to know about
    * (3 distincts over 100 TB = a 300 TB shuffle input; prefer
    * approx_count_distinct or pre-deduped rollups when that bites).
    * Mixing in a plain count proves the Expand carries the non-distinct
    * path too. */
  val aggMultiDistinct: Q = (s, d) =>
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey"), col("l_partkey")).as("n_supp_part"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  val aggMultiDistinctSql: String =
    """SELECT l_returnflag,
      |       count(DISTINCT l_orderkey) AS n_orders,
      |       count(DISTINCT l_partkey) AS n_parts,
      |       count(DISTINCT (l_suppkey, l_partkey)) AS n_supp_part,
      |       count(*) AS n_rows
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** src-binaryfile — the binaryFile source: raw assets read as
    * (path, modificationTime, length, content) rows — THE ingest path
    * for multimodal blobs (images/audio) into the opaque-binary-column
    * model that mm-decode-stub et al. process. Documents are staged as
    * individual .bin files (one per doc, pathGlobFilter applied), read
    * back via binaryFile, and fingerprinted; the oracle recomputes the
    * same digests from the source table. Scale note: binaryFile gives
    * one row per FILE — small-file pressure is real, so production
    * ingest compacts into parquet-with-binary-column immediately
    * (exactly what this op's output represents). */
  val srcBinaryfile: Q = (s, d) => {
    val dir = new java.io.File(tmp("src-binaryfile", d))
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    dir.mkdirs()
    // Executor-side staging: each partition writes its own files (no
    // driver collect — rows never funnel through one JVM heap). Local
    // mode shares one filesystem; on a real cluster the same writer
    // targets shared/object storage.
    val dirPath = dir.getAbsolutePath
    documents(s, d).filter(col("doc_id") % 25 === 0)
      .select(col("doc_id"), col("text"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        it.foreach { r =>
          java.nio.file.Files.write(
            new java.io.File(dirPath, f"doc_${r.getLong(0)}%06d.bin").toPath,
            r.getString(1).getBytes("UTF-8"))
        }
      }
    s.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .load(dir.getAbsolutePath)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1).cast(LongType).as("doc_id"),
        col("length"),
        md5(col("content")).as("content_md5"))
      .orderBy("doc_id")
  }

  val srcBinaryfileSql: String =
    """SELECT doc_id,
      |       CAST(octet_length(encode(text)) AS BIGINT) AS length,
      |       md5(text) AS content_md5
      |FROM documents
      |WHERE doc_id % 25 = 0
      |ORDER BY doc_id""".stripMargin

  /** sql-tpch-q10 — returned-item reporting: which customers returned
    * the most revenue in a quarter — 4-table join (customer, orders,
    * lineitem filtered to returns, nation) + top-20, SQL front door
    * #6. Nation broadcasts; the returnflag filter lands in
    * PushedFilters so only the returned slice of lineitem leaves the
    * scan. */
  val sqlTpchQ10: Q = (s, d) => {
    customer(s, d).createOrReplaceTempView("customer")
    orders(s, d).createOrReplaceTempView("orders")
    lineitem(s, d).createOrReplaceTempView("lineitem")
    nation(s, d).createOrReplaceTempView("nation")
    s.sql(sqlTpchQ10Sql)
  }

  val sqlTpchQ10Sql: String =
    """SELECT c.c_custkey, c.c_name, n.n_name,
      |       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM customer c
      |JOIN orders o ON c.c_custkey = o.o_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |JOIN nation n ON n.n_nationkey = c.c_nationkey
      |WHERE l.l_returnflag = 'R'
      |  AND o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      |  AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY c.c_custkey, c.c_name, n.n_name
      |ORDER BY revenue DESC, c.c_custkey
      |LIMIT 20""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("sql-tpch-q10", sqlTpchQ10, sqlTpchQ10Sql),
    Key("expr-uuid-name", exprUuidName, exprUuidNameSql),
    Key("agg-multi-distinct", aggMultiDistinct, aggMultiDistinctSql),
    Key("src-binaryfile", srcBinaryfile, srcBinaryfileSql))
}
