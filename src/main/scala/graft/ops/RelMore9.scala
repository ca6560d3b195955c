package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-4 continuation batch I (relational part): FULL OUTER join,
  * unionByName schema-evolution union, and code-vs-prose text signals.
  */
object RelMore9 extends KeyModule {

  /** join-full-outer — FULL OUTER completes the join-type family
    * (inner/left/semi/anti/range/asof/lateral are already covered):
    * per-nation customer and supplier counts side by side, keys
    * surviving from EITHER side. Nulls from the outer sides are
    * coalesced before the compare (engine null-repr discipline), and
    * both inputs pre-aggregate BEFORE the join — at 100 TB you outer-
    * join the two small per-key summaries, never the raw tables. */
  val joinFullOuter: Q = (s, d) => {
    val c = customer(s, d).groupBy(col("c_nationkey").as("nk"))
      .agg(count(lit(1)).as("n_customers"))
      .filter(col("nk") % 3 =!= 0) // carve asymmetric key sets
    val p = supplier(s, d).groupBy(col("s_nationkey").as("nk"))
      .agg(count(lit(1)).as("n_suppliers"))
      .filter(col("nk") % 3 =!= 1)
    c.join(p, Seq("nk"), "full_outer")
      .select(col("nk"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"),
        (col("n_customers").isNull || col("n_suppliers").isNull).as("one_sided"))
      .orderBy("nk")
  }

  val joinFullOuterSql: String =
    """WITH c AS (
      |  SELECT c_nationkey AS nk, count(*) AS n_customers
      |  FROM customer GROUP BY 1 HAVING (c_nationkey % 3) <> 0),
      |p AS (
      |  SELECT s_nationkey AS nk, count(*) AS n_suppliers
      |  FROM supplier GROUP BY 1 HAVING (s_nationkey % 3) <> 1)
      |SELECT coalesce(c.nk, p.nk) AS nk,
      |       coalesce(n_customers, 0) AS n_customers,
      |       coalesce(n_suppliers, 0) AS n_suppliers,
      |       (c.nk IS NULL OR p.nk IS NULL) AS one_sided
      |FROM c FULL OUTER JOIN p ON c.nk = p.nk
      |ORDER BY nk""".stripMargin

  /** set-union-by-name — schema-evolution union: two generations of a
    * feed (the new one gained a column and reordered the rest) unioned
    * BY NAME with allowMissingColumns — positional unionAll would
    * silently misalign columns, the classic pipeline-upgrade bug. The
    * missing column nulls are defaulted immediately, keeping the
    * output repr-stable. */
  val setUnionByName: Q = (s, d) => {
    val oldGen = orders(s, d).filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"))
    val newGen = orders(s, d).filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderstatus"), col("o_orderkey"), // reordered
        (col("o_custkey") % 10).as("bucket"))          // added column
    oldGen.unionByName(newGen, allowMissingColumns = true)
      .select(col("o_orderkey"), col("o_orderstatus"),
        coalesce(col("bucket"), lit(-1L)).as("bucket"))
      .orderBy("o_orderkey")
  }

  val setUnionByNameSql: String =
    """SELECT o_orderkey, o_orderstatus, -1 AS bucket
      |FROM orders WHERE o_orderkey % 2 = 0
      |UNION ALL
      |SELECT o_orderkey, o_orderstatus, o_custkey % 10
      |FROM orders WHERE o_orderkey % 2 = 1
      |ORDER BY o_orderkey""".stripMargin

  /** text-code-detect — code-vs-prose signals for corpus filtering:
    * brace/bracket density, semicolon-terminated-line share, indented-
    * line share, and a composite is_codelike vote. All exact integer
    * micro-unit ratios over one narrow scan — the cheap pre-filter
    * that routes documents to a code-specific pipeline before any
    * expensive model-based classification. */
  val textCodeDetect: Q = (s, d) =>
    documents(s, d)
      .select(col("doc_id"), col("text"),
        split(col("text"), "\n").as("lines"))
      .select(col("doc_id"),
        (length(col("text")) - length(translate(col("text"), "{}[]()", ""))).cast(LongType).as("n_brackets"),
        length(col("text")).cast(LongType).as("n_chars"),
        size(col("lines")).cast(LongType).as("n_lines"),
        size(expr("filter(lines, l -> trim(l) LIKE '%;')")).cast(LongType).as("n_semi_lines"),
        size(expr("filter(lines, l -> l LIKE '  %')")).cast(LongType).as("n_indented"))
      .select(col("doc_id"), col("n_brackets"), col("n_lines"),
        col("n_semi_lines"), col("n_indented"),
        floor(col("n_brackets") * lit(1000000L) / greatest(col("n_chars"), lit(1L)))
          .cast(LongType).as("bracket_density_micro"),
        ((col("n_brackets") * lit(50) > col("n_chars")) ||
          (col("n_semi_lines") * lit(4) > col("n_lines")) ||
          (col("n_indented") * lit(3) > col("n_lines"))).as("is_codelike"))
      .orderBy("doc_id")

  val textCodeDetectSql: String =
    """WITH base AS (
      |  SELECT doc_id, text, string_split(text, chr(10)) AS lines
      |  FROM documents),
      |sig AS (
      |  SELECT doc_id,
      |         CAST(length(text) - length(translate(text, '{}[]()', '')) AS BIGINT) AS n_brackets,
      |         CAST(length(text) AS BIGINT) AS n_chars,
      |         CAST(len(lines) AS BIGINT) AS n_lines,
      |         CAST(len(list_filter(lines, l -> trim(l) LIKE '%;')) AS BIGINT) AS n_semi_lines,
      |         CAST(len(list_filter(lines, l -> l LIKE '  %')) AS BIGINT) AS n_indented
      |  FROM base)
      |SELECT doc_id, n_brackets, n_lines, n_semi_lines, n_indented,
      |       CAST(floor(n_brackets * 1000000 / greatest(n_chars, 1)) AS BIGINT) AS bracket_density_micro,
      |       (n_brackets * 50 > n_chars OR n_semi_lines * 4 > n_lines
      |        OR n_indented * 3 > n_lines) AS is_codelike
      |FROM sig
      |ORDER BY doc_id""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("join-full-outer", joinFullOuter, joinFullOuterSql),
    Key("set-union-by-name", setUnionByName, setUnionByNameSql),
    Key("text-code-detect", textCodeDetect, textCodeDetectSql))
}
