package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Driver-round-10 batch E: the XPath scalar surface. */
object RelMore211 extends KeyModule {

  /** func-xpath-suite — Spark's built-in xpath_* extractors
    * (xpath_string / xpath_long / xpath_boolean / xpath, the
    * node-list form) over an XML payload column: the scalar surface
    * for XML-ish machine logs where a full XML SOURCE pass
    * (src-xml-roundtrip) is overkill — per-row path extraction rides
    * the scan like get_json_object does for JSON, no reparse into a
    * staging schema. COST CONTRACT (measured): every xpath_* call
    * re-parses the XML string — 5 extractions = 5 parses per row,
    * interpreted (CodegenFallback) — so the op runs on a 1-in-7
    * sample and multi-field extraction at scale belongs to from_xml
    * (ONE parse into a struct, then column pruning; src-xml-roundtrip
    * covers that path). Use xpath_* for ONE path on a filtered slice,
    * from_xml when touching several fields. The payload is
    * concat-BUILT from base columns (both engines see identical
    * strings; no engine XML serializer in the loop) and every
    * extracted fact is recomputable from the raw columns, which is
    * exactly what the DuckDB oracle does (DuckDB has no XPath).
    * Covers: attribute access (@cents), element text, numeric
    * coercion, predicate paths (c[@cents > N]), boolean tests, and
    * node-list counting via xpath(...) + size. */
  val funcXpathSuite: Q = (s, d) => {
    val xml = expr(
      """concat('<o id="', CAST(o_orderkey AS STRING),
        |  '"><st>', o_orderstatus,
        |  '</st><c cents="', CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS STRING),
        |  '"/><tags><t>', o_orderpriority,
        |  '</t><t>p', CAST(pmod(o_orderkey, 3) AS STRING), '</t></tags></o>')"""
        .stripMargin.replaceAll("\n\\s*", ""))
    orders(s, d)
      // r14 opt: 5 xpath parses per row ran inside the one scan task of
      // the single-row-group orders file — repartition after read
      // (guide §2.5) so the parse pass uses the whole machine
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
      .filter(col("o_orderkey") % 7 === 0)
      .withColumn("x", xml)
      .select(
        expr("xpath_string(x, '/o/st')").as("status"),
        expr("xpath_long(x, '/o/c/@cents')").as("cents"),
        expr("xpath_boolean(x, '/o/c[@cents > 10000000]')").as("big"),
        expr("CAST(size(xpath(x, '/o/tags/t/text()')) AS INT)").as("n_tags"),
        expr("xpath_string(x, '/o/tags/t[2]')").as("tag2"))
      .groupBy("status")
      .agg(
        count(lit(1)).as("n"),
        sum(col("cents")).as("sum_cents"),
        sum(when(col("big"), 1L).otherwise(0L)).as("n_big"),
        max(col("n_tags")).as("max_tags"),
        countDistinct(col("tag2")).as("n_tag2"))
      .orderBy("status")
  }

  val funcXpathSuiteSql: String =
    """SELECT o_orderstatus AS status, count(*) AS n,
      |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents,
      |       CAST(sum(CASE WHEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) > 10000000
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
      |       CAST(2 AS INT) AS max_tags,
      |       CAST(count(DISTINCT 'p' || CAST(o_orderkey % 3 AS VARCHAR)) AS BIGINT) AS n_tag2
      |FROM orders
      |WHERE o_orderkey % 7 = 0
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("func-xpath-suite", funcXpathSuite, funcXpathSuiteSql))
}
